"""Universal Data API (UDA) JSON codec.

The reference speaks the UDA wire format everywhere (README.md; spec at
open.mimiro.io/specifications): a JSON array whose first element is an
``@context`` (namespace prefixes) followed by entity objects
``{id, deleted, recorded, props, refs}``; the reference parses it with a
streaming parser (internal/server/streamparser.go).

Spark re-expression: entity DataFrame ⇄ JSON-line DataFrame using
to_json/from_json (JVM codegen, no Python). Refs normalize scalar-or-list
values to list on parse, like the reference's parser does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("recorded", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
        # refs values may be a single CURIE or a list on the wire; parse as
        # raw JSON string first, normalized below.
        T.StructField("refs", T.MapType(T.StringType(), T.StringType())),
    ]
)


def to_uda_json(df: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """Entity rows -> one UDA JSON object string per row (column ``json``).

    Refs are typed ``map<string,array<string>>`` in the struct handed to
    ``to_json``, so the wire carries REAL JSON arrays —
    ``"refs":{"p:n":["a","b"]}`` — the list form the reference's UDA
    parser reads (streamparser.go; DOCUMENTATION.md @context examples).
    An earlier revision stringified each value (``"refs":{"p:n":
    "[\\"a\\"]"}``), which only this repo's own parser could read.

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
    """Parse UDA JSON object strings back into entity rows. Handles both
    scalar and list refs values (streamparser.go behavior)."""
    parsed = json_df.select(F.from_json(F.col(json_col), _WIRE_SCHEMA).alias("e")).filter(
        F.col("e.id") != "@context"
    )
    refs = F.map_zip_with(
        F.coalesce(F.col("e.refs"), F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>"))),
        F.coalesce(F.col("e.refs"), F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>"))),
        # list form -> parse as array; scalar form -> strip JSON quotes if
        # present and wrap (CURIEs contain no escapes)
        lambda k, v, _: F.when(
            v.startswith("["), F.from_json(v, "array<string>")
        ).otherwise(F.array(F.regexp_replace(v, '^"|"$', ""))),
    )
    return parsed.select(
        F.col("e.id").alias("id"),
        F.coalesce(F.col("e.recorded"), F.lit(0)).alias("recorded"),
        F.lit(0).cast("long").alias("seq"),
        F.coalesce(F.col("e.deleted"), F.lit(False)).alias("deleted"),
        F.col("e.props").alias("props"),
        refs.alias("refs"),
        F.lit(dataset).alias("dataset"),
    )
