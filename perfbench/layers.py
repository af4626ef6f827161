"""The per-layer metric names every workload reports, and helpers that
read layer counts from the store's files. A workload that bypasses a
layer reports it as 0."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

ENTITY_LEGS = ("query_aggregate", "parts_per_nation", "asof_enrich", "pagerank_orders")
JOB_LEGS = ("js_job", "enrich_job")
CORPUS_LEGS = ("text_suite", "dedup_minhash", "ann_topk")
BATCH_LEGS = ENTITY_LEGS + JOB_LEGS + CORPUS_LEGS
# legs whose plans cross into Python workers (Arrow batches)
PYTHON_LEGS = ("js_job", "ann_topk")

SPARK_COUNTERS = (("stages", "count"), ("tasks", "count"),
                  ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
                  ("deserialize_ms", "ms"), ("shuffle_write_bytes", "B"),
                  ("spill_bytes", "B"))
PYTHON_COUNTERS = (("python_worker_ms", "ms"), ("arrow_bytes", "B"))

COMMON = (("spark.unattributed_jobs", "count", "lower"),
          ("jvm.persisted_rdds", "count", "lower"),
          ("jvm.persisted_bytes", "B", "lower"),
          ("trace.overhead_pct", "%", "lower"))
SERVE = (("server.spark_jobs_per_request", "count", "lower"),
         ("store.read_ms", "ms", "lower"),
         ("uda.encode_ms", "ms", "lower"),
         ("store.log_files", "count", "lower"),
         ("store.get_entity_ms", "ms", "lower"),
         ("script.index_builds", "count", "lower"),
         ("script.index_build_ms", "ms", "lower"),
         ("script.index_rows", "count", "lower"),
         ("store.commit_ms", "ms", "lower"),
         ("store.dedup_ms", "ms", "lower"),
         ("store.rows_written", "count", "lower"),
         ("store.rows_offered", "count", "higher"))
def batch_metrics() -> list[tuple[str, str, str]]:
    out = []
    for leg in BATCH_LEGS:
        out.append((f"batch.{leg}_s", "s", "lower"))
        counters = SPARK_COUNTERS + (PYTHON_COUNTERS if leg in PYTHON_LEGS else ())
        out.extend((f"batch.{leg}.{c}", unit, "lower") for c, unit in counters)
    return out


def all_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) for every per-layer metric, in report order."""
    return list(COMMON + SERVE) + batch_metrics()


def zero_filled(measured: dict[str, float]) -> dict[str, tuple]:
    """Every per-layer metric as (value, unit): the measured value, or 0
    for a layer this workload does not exercise."""
    unknown = set(measured) - {n for n, _, _ in all_metrics()}
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    return {n: (float(measured.get(n, 0.0)), unit) for n, unit, _ in all_metrics()}


class LogFiles:
    """Row counts of the parquet files in a store's dataset log,
    remembered by file name so each file is read once."""

    def __init__(self, store):
        self.store = store
        self._rows: dict[str, int] = {}

    def files(self, dataset: str) -> list[str]:
        part = os.path.join(self.store.log_dir, f"dataset={dataset}")
        try:
            return sorted(os.path.join(part, f) for f in os.listdir(part)
                          if f.endswith(".parquet"))
        except FileNotFoundError:
            return []

    def rows(self, paths) -> int:
        total = 0
        for p in paths:
            if p not in self._rows:
                self._rows[p] = pq.ParquetFile(p).metadata.num_rows
            total += self._rows[p]
        return total
