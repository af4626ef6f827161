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

``decode_entities`` applies them to parsed wire objects at every
ingress: served POSTs, ``/transactions``, the WAL spool, HTTP transform
responses, and the ``/changes`` pages ``HttpDatasetSource`` and
``ProxyDataset`` pull. Two encoders write the same bytes:
``encode_entity`` encodes one row held by the driver (served pages), and
``to_uda_json`` encodes a frame's rows on the executors (JVM
``to_json``; the jobs' HTTP sinks).
Decoded rows become a frame through ``session.local_frame``: a
LocalRelation built from an Arrow table, with no Python worker.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# entity rows without their dataset, in ``decode_entities`` tuple order
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

# the same, stating what decode_entities guarantees: ``seq`` is never
# NULL, so a commit of decoded rows plans no NULL-seq backfill
DECODED_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, f.name != "seq") for f in ROW_SCHEMA.fields])

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
    ``(id, recorded, seq, deleted, props, refs)`` (``DECODED_SCHEMA``),
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


_ENCODER = json.JSONEncoder(ensure_ascii=False, separators=(",", ":"))
# a JSON escape sequence; json writes a control character's hex digits
# in lower case, Spark's to_json (Jackson) in upper case
_ESCAPE = re.compile(r"\\(?:u(00[0-9a-f]{2})|.)")


def encode_entity(row: dict) -> str:
    """One entity row (a dict keyed by entity column; a map may be a dict
    or a list of key/value pairs, as Arrow hands it over) -> its UDA JSON
    object, byte for byte what ``to_uda_json`` writes for the row: NULL
    fields are left out, NULL refs are written as ``{}``, map entries keep
    their order, and non-ASCII text is written as is."""
    obj = {k: row[k] for k in ("id", "recorded", "deleted") if row[k] is not None}
    if row["props"] is not None:
        obj["props"] = dict(row["props"])
    obj["refs"] = dict(row["refs"] or ())
    text = _ENCODER.encode(obj)
    if "\\u00" not in text:
        return text
    return _ESCAPE.sub(lambda m: "\\u" + m[1].upper() if m[1] else m[0], text)


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
