"""Transform operators — the reference's JavaScript transform built-ins
(internal/jobs/transform.go; DOCUMENTATION.md:1095-1812) re-expressed as
declarative DataFrame column operations.

The reference executes per-entity ES6 in a sandbox; at 100 TB that model
is a row-at-a-time interpreter. Here every built-in is a Catalyst
expression over the props/refs maps (map_concat / map_filter /
transform_keys), so transforms run inside whole-stage codegen with zero
Python in the hot path. An escape hatch (`python_transform`) exists for
genuinely imperative logic and mirrors HttpTransform / custom JS — it
uses Arrow-batched mapInPandas, never per-row UDFs.

Built-in mapping (reference → here):
  GetId/SetId              -> id column select/withColumn
  GetProperty              -> get_property (map access + default)
  SetProperty              -> set_property
  RemoveProperty           -> remove_property
  RenameProperty           -> rename_property
  AddReference             -> add_reference
  GetDeleted/SetDeleted    -> deleted column ops
  ToString                 -> cast
  NewEntity/NewEntityFrom  -> new_entity_from
  AsEntity                 -> struct access (entities are rows already)
  Query/PagedQuery         -> datahub_spark.query.related / hop
  FindById                 -> store.get_entity
  NewTransaction/ExecuteTransaction -> store.EntityStore.execute_transaction
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datahub_spark.query import related

_EMPTY_PROPS = lambda: F.map_from_arrays(
    F.array().cast("array<string>"), F.array().cast("array<string>")
)
_EMPTY_REFS = lambda: F.map_from_arrays(
    F.array().cast("array<string>"), F.array().cast("array<array<string>>")
)


def get_property(key: str, default: Column | str | None = None, props: str = "props") -> Column:
    """GetProperty(entity, prefix, name, default?) — transform.go."""
    col = F.col(props)[key]
    if default is not None:
        col = F.coalesce(col, default if isinstance(default, Column) else F.lit(default))
    return col


def set_property(df: DataFrame, key: str, value: Column) -> DataFrame:
    """SetProperty — upsert one props key (existing key overwritten)."""
    props = F.coalesce(F.col("props"), _EMPTY_PROPS())
    cleaned = F.map_filter(props, lambda k, v: k != F.lit(key))
    return df.withColumn("props", F.map_concat(cleaned, F.create_map(F.lit(key), value.cast("string"))))


def remove_property(df: DataFrame, key: str) -> DataFrame:
    """RemoveProperty."""
    return df.withColumn(
        "props", F.map_filter(F.coalesce(F.col("props"), _EMPTY_PROPS()), lambda k, v: k != F.lit(key))
    )


def rename_property(df: DataFrame, old_key: str, new_key: str) -> DataFrame:
    """RenameProperty — rename key (prefix changes included, since keys are
    full CURIEs here)."""
    return df.withColumn(
        "props",
        F.transform_keys(
            F.coalesce(F.col("props"), _EMPTY_PROPS()),
            lambda k, v: F.when(k == F.lit(old_key), F.lit(new_key)).otherwise(k),
        ),
    )


def add_reference(df: DataFrame, key: str, ref: Column) -> DataFrame:
    """AddReference — overwrites an existing ref with the same predicate
    (documented reference behavior, DOCUMENTATION.md:1522-1531)."""
    refs = F.coalesce(F.col("refs"), _EMPTY_REFS())
    cleaned = F.map_filter(refs, lambda k, v: k != F.lit(key))
    value = F.array(ref.cast("string"))
    return df.withColumn("refs", F.map_concat(cleaned, F.create_map(F.lit(key), value)))


def set_deleted(df: DataFrame, deleted: Column | bool) -> DataFrame:
    col = deleted if isinstance(deleted, Column) else F.lit(bool(deleted))
    return df.withColumn("deleted", col)


def new_entity_from(df: DataFrame, add_type: bool = True, copy_props: bool = False,
                    copy_refs: bool = False) -> DataFrame:
    """NewEntityFrom(original, addType, copyProps, copyRefs)
    (DOCUMENTATION.md:1708-1749): fresh entity carrying id + deleted flag,
    optionally the rdf type ref, props, refs."""
    type_ref = F.map_filter(
        F.coalesce(F.col("refs"), _EMPTY_REFS()), lambda k, v: k == F.lit("rdf:type")
    )
    return df.select(
        "id",
        "recorded",
        "seq",
        "deleted",
        (F.col("props") if copy_props else _EMPTY_PROPS()).alias("props"),
        (F.col("refs") if copy_refs else (type_ref if add_type else _EMPTY_REFS())).alias("refs"),
        "dataset",
    )


def enrich_via(df: DataFrame, predicate: str, source_prop: str, target_prop: str,
               via: DataFrame | None = None, inverse: bool = False,
               single_version: bool = False) -> DataFrame:
    """The canonical transform pattern Query(...) + SetProperty(...)
    (DOCUMENTATION.md:691-706): follow ``predicate`` from each entity,
    read ``source_prop`` off the related entity, write it onto the
    starting entity as ``target_prop``.

    One equi-join; the related side is usually dimension-sized and gets
    broadcast by AQE. Multiple related entities resolve deterministically
    to the minimum related id (reference takes 'first result row')."""
    hop_src = via if via is not None else df
    rel = related(df, None, predicate, inverse=inverse, target=hop_src,
                  single_version=single_version)
    picked = (
        rel.groupBy("start_id")
        .agg(F.min_by(F.col("related.props")[source_prop], F.col("related.id")).alias("_v"))
    )
    out = df.join(picked.withColumnRenamed("start_id", "id"), "id", "left")
    props = F.coalesce(F.col("props"), _EMPTY_PROPS())
    new_props = F.when(
        F.col("_v").isNotNull(),
        F.map_concat(
            F.map_filter(props, lambda k, v: k != F.lit(target_prop)),
            F.create_map(F.lit(target_prop), F.col("_v")),
        ),
    ).otherwise(props)
    return out.withColumn("props", new_props).drop("_v")


def safe_python_transform(df: DataFrame, fn: Callable[[pd.DataFrame], pd.DataFrame],
                          schema=None) -> DataFrame:
    """python_transform with per-entity failure capture: output carries an
    extra ``_error`` string column (null on success). Failing rows pass
    through UNTRANSFORMED with the error recorded, so the jobs engine can
    route them to a log/reQueue error handler (error_handler.go's
    failingEntityHandler model) instead of failing the whole batch.

    Row-at-a-time on purpose: this is the per-entity error boundary, the
    same granularity the reference's sandbox gives; the non-failing hot
    path should use python_transform (whole-batch) or column ops."""
    from pyspark.sql import types as T

    base = schema or df.schema
    out_schema = T.StructType(list(base.fields) + [T.StructField("_error", T.StringType(), True)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                one = pdf.iloc[[i]]
                try:
                    r = fn(one.copy())
                    r = r.assign(_error=None)
                except Exception as e:  # noqa: BLE001 — the whole point
                    r = one.copy().assign(_error=f"{type(e).__name__}: {e}")
                out.append(r)
            yield pd.concat(out) if out else pdf.assign(_error=None)

    return df.mapInPandas(run, schema=out_schema)


def python_transform(df: DataFrame, fn: Callable[[pd.DataFrame], pd.DataFrame],
                     schema=None) -> DataFrame:
    """Escape hatch for imperative transforms (the JS `transform_entities`
    / HttpTransform equivalent): Arrow-batched mapInPandas. ``fn`` maps a
    pandas batch of entities to a pandas batch of entities."""
    schema = schema or df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(run, schema=schema)
