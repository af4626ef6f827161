"""Shared in-memory entity change-log fixtures for unit tests.

A tiny two-dataset graph with versions, tombstones, and partials —
small enough to reason about by hand, rich enough to exercise the
versioned-store semantics (latest / changes / point-in-time / merge).
"""

from __future__ import annotations

from datahub_spark.model import ENTITY_SCHEMA


def row(id, recorded, seq=0, deleted=False, props=None, refs=None, dataset="people"):
    return (id, recorded, seq, deleted, props or {}, refs or {}, dataset)


def people_log(spark):
    """people: alice v1..v3 (v3 deletes), bob v1; city: oslo v1.
    people.extra: partial for alice (email only), recorded later."""
    rows = [
        row("p:alice", 1, 0, False, {"p:name": "Alice", "p:age": "30"},
            {"p:home": ["c:oslo"]}),
        row("p:alice", 2, 0, False, {"p:name": "Alice", "p:age": "31"},
            {"p:home": ["c:oslo"]}),
        row("p:alice", 3, 0, True, {"p:name": "Alice", "p:age": "31"},
            {"p:home": ["c:oslo"]}),
        row("p:bob", 2, 1, False, {"p:name": "Bob"}, {"p:home": ["c:oslo"],
            "p:friend": ["p:alice"]}),
        row("c:oslo", 1, 0, False, {"p:name": "Oslo"}, {}, dataset="city"),
        row("p:alice", 4, 0, False, {"p:email": "a@x"}, {}, dataset="people.extra"),
    ]
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


# the registry and log of a store written before the commit log existed:
# ``people`` has a lifecycle event, ``city`` was registered before events
# were kept
LEGACY_ROWS = {
    "people": [("p:1", 2, {"p:n": "one"}), ("p:2", 3, {"p:n": "two"}),
               ("p:1", 3, {"p:n": "uno"})],
    "city": [("c:1", 4, {"p:n": "oslo"})],
}
LEGACY_REGISTRY = {
    "datasets": {"people": {"publicNamespaces": []},
                 "city": {"publicNamespaces": ["http://example.io/customer/"]}},
    "counter": 4,
    "dataset_events": [{"name": "people", "recorded": 1, "deleted": False, "cfg": {}}],
}


def legacy_store(root: str, registry: dict = LEGACY_REGISTRY) -> None:
    """Write a store in the layout used before the commit log: the registry
    in ``datasets.json`` beside ``log/dataset=<name>/<tick>-part-*.parquet``
    files, one file per tick."""
    import json
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from datahub_spark import uda

    schema = to_arrow_schema(uda.ROW_SCHEMA)
    for ds, rows in LEGACY_ROWS.items():
        part = os.path.join(root, "log", f"dataset={ds}")
        os.makedirs(part)
        for tick in sorted({rec for _id, rec, _p in rows}):
            batch = [{"id": eid, "recorded": rec, "seq": 0, "deleted": False,
                      "props": list(props.items()), "refs": []}
                     for eid, rec, props in rows if rec == tick]
            pq.write_table(pa.Table.from_pylist(batch, schema=schema), os.path.join(
                part, f"{tick}-part-00000-{uuid.uuid4()}-c000.snappy.parquet"))
    with open(os.path.join(root, "datasets.json"), "w") as f:
        json.dump(registry, f)
