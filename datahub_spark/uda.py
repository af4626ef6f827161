"""Universal Data API (UDA) JSON codec.

The reference speaks the UDA wire format everywhere (README.md; spec at
open.mimiro.io/specifications): a JSON array of an ``@context``
(namespace prefixes), entity objects ``{id, deleted, recorded, props,
refs}`` and an optional ``@continuation``; it turns wire objects into
entities in one place (internal/server/streamparser.go). So does this
module. The decode rules:

- ``@context``, ``@continuation`` and elements without an id are skipped;
- an absent ``recorded`` stays NULL, so the commit stamps its tick;
- the wire ``seq`` is kept, defaulting to 0;
- ``deleted`` is true only for a JSON ``true`` (``"false"`` is alive);
- a scalar ref becomes a one-element list;
- a string prop value or ref element is kept, ``null`` stays NULL, any
  other value becomes its compact JSON text (``true``, ``1.5``,
  ``{"x":1}``, ``[1,2]``).

``decode_entities`` applies them in Python to parsed wire objects
(served POSTs, ``/transactions``, the WAL spool, HTTP transform
responses); ``from_uda_json`` applies them in the JVM to a JSON-string
column (``HttpDatasetSource``, ``ProxyDataset``). The two agree except
on floats that Java prints in exponent form (below 1e-3, from 1e7 up):
``1e20`` becomes ``"1.0E20"`` through Spark and ``"1e+20"`` through
Python ``json``. ``to_uda_json`` encodes (JVM ``to_json``). Decoded
rows become a frame through ``session.local_frame``: a LocalRelation
built from an Arrow table, with no Python worker.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# decoded entity rows, in ``decode_entities`` tuple order
ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("recorded", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
        T.StructField("refs", T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
    ]
)

# from_json's view of a wire object: a non-boolean ``deleted`` fails that
# field alone (NULL -> alive); a string-typed prop or ref keeps a
# non-string JSON value's text; a ref is parsed as text (one CURIE or a
# list) and normalized in from_uda_json
_WIRE_SCHEMA = T.StructType(
    ROW_SCHEMA.fields[:-1] + [T.StructField("refs", T.MapType(T.StringType(), T.StringType()))])

_SKIP_IDS = ("@context", "@continuation")


def _text(v):
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _mapping(obj: dict, key: str, eid) -> dict:
    value = obj.get(key) or {}
    if not isinstance(value, dict):
        raise ValueError(f"entity {eid!r}: {key} must be a JSON object")
    return value


def decode_entities(objs):
    """Parsed wire objects -> iterator of entity row tuples
    ``(id, recorded, seq, deleted, props, refs)`` (``ROW_SCHEMA``),
    following the module's decode rules. Raises ValueError naming the
    entity when its props or refs is not a JSON object."""
    for obj in objs:
        eid = obj.get("id") if isinstance(obj, dict) else None
        if eid is None or eid in _SKIP_IDS:
            continue
        seq = obj.get("seq")
        props = {k: _text(v) for k, v in _mapping(obj, "props", eid).items()}
        refs = {k: [_text(x) for x in (v if isinstance(v, list) else [v])]
                for k, v in _mapping(obj, "refs", eid).items()}
        yield (eid, obj.get("recorded"), 0 if seq is None else seq,
               obj.get("deleted") is True, props, refs)


def to_uda_json(df: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """Entity rows -> one UDA JSON object string per row (column ``json``).

    Refs are typed ``map<string,array<string>>`` in the struct handed to
    ``to_json``, so the wire carries real JSON arrays —
    ``"refs":{"p:n":["a","b"]}`` — the list form the reference's UDA
    parser reads (streamparser.go; DOCUMENTATION.md @context examples).

    ``extra_cols`` ride along unserialized (e.g. the order columns a
    paging server needs for its continuation token, so one job yields
    both the wire rows and the position)."""
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<array<string>>")
    )
    obj = F.struct(
        F.col("id"),
        F.col("recorded"),
        F.col("deleted"),
        F.col("props"),
        F.coalesce(F.col("refs"), empty).alias("refs"),
    )
    return df.select(F.to_json(obj).alias("json"), *(extra_cols or []))


def from_uda_json(json_df: DataFrame, dataset: str, json_col: str = "json") -> DataFrame:
    """Parse UDA JSON object strings into entity rows in the JVM,
    following the module's decode rules."""
    e = F.from_json(F.col(json_col), _WIRE_SCHEMA).alias("e")
    parsed = json_df.select(e).filter(
        F.col("e.id").isNotNull() & ~F.col("e.id").isin(*_SKIP_IDS))
    refs = F.transform_values(
        F.coalesce(F.col("e.refs"), F.create_map().cast("map<string,string>")),
        # list form -> array (elements keep their text); scalar -> [value]
        lambda _, v: F.when(v.startswith("["), F.from_json(v, "array<string>"))
        .otherwise(F.array(v)),
    )
    return parsed.select(
        F.col("e.id").alias("id"),
        F.col("e.recorded").alias("recorded"),
        F.coalesce(F.col("e.seq"), F.lit(0).cast("long")).alias("seq"),
        F.coalesce(F.col("e.deleted"), F.lit(False)).alias("deleted"),
        F.coalesce(F.col("e.props"), F.create_map().cast("map<string,string>")).alias("props"),
        refs.alias("refs"),
        F.lit(dataset).alias("dataset"),
    )
