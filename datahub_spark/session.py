"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[32] test harness but expressed so the same
config is sane on a 1000-executor cluster: AQE on (runtime re-planning,
skew-join handling, partition coalescing), broadcast threshold generous
enough for dimension tables, Arrow enabled for the few pandas-UDF paths.
``local_frame`` turns rows the driver holds into a LocalRelation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(app_name: str = "datahub-spark", shuffle_partitions: int | None = None) -> SparkSession:
    # Pin BLAS/OpenMP to ONE thread per python worker (r15): Spark's
    # task-level parallelism already saturates the cores, so an
    # unpinned OpenBLAS spawns nproc threads in EVERY worker (32x32
    # threads here) — any float BLAS kernel reached from a worker
    # (image resize paths, future float GEMMs) would pay
    # oversubscription scheduling instead of compute. Hygiene pin,
    # setdefault so deployments can override. NOTE (measured r15): the
    # int64 kernels (kmeans assignment, SemDeDup probe, PQ ADC) do NOT
    # go through BLAS (numpy integer matmul is its own single-threaded
    # loop), so this pin is NOT a fix for the SemDeDup smoke-leg
    # variance — that was traced to hypervisor CPU STEAL (8.6%
    # measured under a 32-core spin on a quiet guest, with hour-scale
    # worse phases; see SMOKE_r15.json context). Must be set before
    # the JVM forks the python worker daemon (workers inherit this
    # environment).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # floor on scan-split count (r15 optimization round, guide §6):
        # without it a multi-file-but-small table packs into a couple of
        # 128 MB splits (x100 lineitem read 1.4 GB on ~11 tasks of a
        # 32-core box; a 25-file 81 MB documents table packed into 2)
        # and every downstream map stage inherits the starved
        # parallelism — which ingest.load_tables then papered over with
        # a blanket repartition (a full shuffle of the table). The floor
        # derives from the core count (SPARK_GRAFT_CPUS), never a
        # constant, so the driver's lower-core bench runs scale it down
        # automatically; on a cluster it is the executor-core floor any
        # scan should meet. Splits stay row-group-bounded, so tiny
        # single-file inputs just get empty extra splits (harmless).
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # legacy TIMESTAMP(NANOS) parquet (older driver testdata layouts)
        # only reads — as int64 nanos — under this flag; current layouts
        # are timestamp[us] and ignore it. This is the ONLY place session
        # SQL confs are set: read helpers dtype-dispatch instead
        # (ingest._ts_micros), so encoding drift fails loudly, not via a
        # conf silently flipped mid-session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # entity frames build props/refs via create_map and consumers
        # re-extract keys; always-inline lets SimplifyExtractValueOps
        # delete the map construction and prune the scan. get_spark is
        # the ONLY site that sets it (ingest.load_tables deliberately
        # does not mutate session confs); a driver-supplied session
        # without this conf stays correct but loses the props-map
        # pruning — perf only.
        .config("spark.sql.optimizer.collapseProjectAlwaysInline", "true")
        # Heap sizing is PER HARNESS, not a library decision: local[N]
        # puts the driver AND all N executor threads in ONE JVM, and the
        # right size depends on the workload shape — bench.py exports
        # SPARK_GRAFT_DRIVER_MEM=48g for its hash-agg-heavy x10 legs
        # (8g OOM'd the r9 driver bench at effective sf10) while
        # scale_smoke pins 16g because its 200M-row sort legs measured
        # 3-4x SLOWER at 48g (whole-partition in-heap buffering under GC
        # churn instead of early spill). The library default stays a
        # conservative 8g so get_spark() is safe on machines smaller
        # than this 128 GiB box; harnesses opt into their regime via
        # the env var. On a real cluster this conf only sizes the
        # driver, which holds no executor state.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # optional cap on the unified execution/storage pool: a big heap
    # with the default 0.6 fraction lets every task buffer whole
    # partitions in-heap (GC churn instead of early spill — the r10
    # sort matrix); harnesses that want a big heap for hash-table
    # headroom but early spills set this (bench's 48g x100 child)
    frac = os.environ.get("SPARK_GRAFT_MEMORY_FRACTION")
    if frac:
        builder = builder.config("spark.memory.fraction", frac)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A list of rows held by the driver (tuples in ``schema`` field
    order) -> a DataFrame that plans as a ``LocalRelation``.

    The rows cross to the JVM once, as a ``pyarrow.Table`` typed by
    ``schema``, so no Python worker runs for them; a
    ``createDataFrame(rows, schema)`` frame is a pickled RDD that every
    stage reading it evaluates in Python workers.

    Arrow reads a NULL map whose values are nested (arrays, maps,
    structs) back as an empty map, so such a NULL raises ValueError
    naming the column instead of changing the row."""
    # imported here: Python workers import the modules that import this
    # one, and a worker without Arrow batches should not load pyarrow
    import pyarrow as pa

    arrow_schema = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type)
               for i, f in enumerate(arrow_schema)]
    for field, column in zip(schema.fields, columns):
        dt = field.dataType
        if (isinstance(dt, T.MapType) and not isinstance(dt.valueType, T.AtomicType)
                and column.null_count):
            raise ValueError(
                f"column {field.name!r}: a NULL {dt.simpleString()} would "
                "read back as an empty map; pass {} instead")
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)
