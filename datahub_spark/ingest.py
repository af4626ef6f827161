"""Deterministic ingest of the driver's TPC-H-ish parquet into the entity
model (see datahub_spark.model).

This plays the role of the reference's data layers + StoreEntities
(internal/server/dataset.go:216): external tabular data becomes datasets
of entities with CURIE ids, props, and refs.

Mapping (all deterministic, no wall-clock):
  customer  -> dataset "customer":  id cust:<key>, refs p:nation
  nation    -> dataset "nation":    id nat:<key>,  refs p:region
  region    -> dataset "region":    id reg:<key>
  supplier  -> dataset "supplier":  id sup:<key>,  refs p:nation
  part      -> dataset "part":      id part:<key>
  orders    -> dataset "orders":    id ord:<key>,  refs p:customer
  lineitem  -> dataset "lineitem":  id li:<okey>-<line>, refs p:order/p:part/p:supplier
  customer  -> dataset "customer.balance": partial entities holding only
               p:acctbal (exercises cross-dataset partial merge,
               reference store.go:634)
  events    -> dataset "user": versioned change-log; one version per
               event, recorded = unix micros of ts, seq = event_id,
               deleted = (event_type = 'error') — tombstone rule.

Static tables get recorded=1, seq=0 (single-version datasets).

Numeric props are canonicalized as DECIMAL(18,2) strings and dates as
'yyyy-MM-dd' so value comparisons are engine-portable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Inputs below this size get an explicit post-scan repartition: the test
# parquet is one row group per file, so the scan is a single task and all
# map-side compute (entity construction, md5 digests, text ops) would run
# on one core. Large inputs (the 100 TB case: many files / many row
# groups) split naturally at the scan, where a blanket repartition would
# be a pure extra shuffle — so they are left alone.
_SPREAD_MAX_BYTES = 1 << 30
_SPREAD_MIN_BYTES = 100 << 10


def _is_remote_path(path: str) -> bool:
    """True for URI-scheme paths the local os.path probes can't see
    (s3://, hdfs://, abfs://...). Checked EXPLICITLY (ADVICE r15): for
    a remote URI os.path.isdir returns False without raising, so the
    OSError fallbacks below never fire for the case they were written
    for — the scheme check is the contract, not the exception path.
    file:// stays local (strippable prefix); a bare local path has no
    scheme."""
    scheme, sep, _ = path.partition("://")
    return bool(sep) and scheme not in ("file", "")


def _local_input_bytes(path: str) -> int:
    """Total bytes behind a local parquet path — a single file OR a
    directory of part files (a directory's own inode size is ~4 KB and
    must not be mistaken for a tiny input, or a multi-file table gets no
    spread and whole pipelines run on <= len(files) cores)."""
    if _is_remote_path(path):
        return _SPREAD_MAX_BYTES  # remote scans split naturally
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path) if f.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:  # unreadable local path: let the scan decide
        return _SPREAD_MAX_BYTES


def _local_parquet_files(path: str) -> int:
    """Part-file count behind a local parquet path — the spread check's
    second input (r15 optimization round): a table laid out as >= core
    count files parallelizes AT THE SCAN (session.py sets
    spark.sql.files.minPartitionNum to the core count, so the splitter
    stops packing small files into one split) and a blanket
    repartition would be a pure extra shuffle of the whole table."""
    if _is_remote_path(path):
        return 1 << 20  # remote: treat as many-filed, no spread
    try:
        if os.path.isdir(path):
            return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
        return 1
    except OSError:  # unreadable local path: treat as many-filed
        return 1 << 20


class _LazyFrames:
    """Build-on-first-access mapping of name -> DataFrame. Plan
    construction is driver-side py4j work (~0.2s per entity dataset);
    building all datasets eagerly on every query call costs seconds of
    pure driver time, so frames materialize lazily and memoize."""

    def __init__(self, builders):
        self._builders = builders
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = self._builders[name]()
        return self._built[name]

    def __contains__(self, name) -> bool:
        return name in self._builders

    def __iter__(self):
        return iter(self._builders)

    def keys(self):
        return self._builders.keys()


class _LRUCache:
    """Bounded LRU mapping: a long-lived process (the UDA server, a
    notebook session cycling scale dirs) must not accumulate plan
    entries without bound. Reads refresh recency; inserting past
    ``maxsize`` evicts the least-recently-used entry. Plans are cheap
    to rebuild (~0.2s driver-side), so eviction is safe."""

    def __init__(self, maxsize: int):
        from collections import OrderedDict

        self.maxsize = maxsize
        self._d = OrderedDict()

    def __contains__(self, key) -> bool:
        return key in self._d

    def __getitem__(self, key):
        value = self._d[key]
        self._d.move_to_end(key)
        return value

    def __setitem__(self, key, value) -> None:
        self._d[key] = value
        self._d.move_to_end(key)
        while len(self._d) > self.maxsize:
            self._d.popitem(last=False)

    def __len__(self) -> int:
        return len(self._d)


# plan caches keyed by (session applicationId, sf_dir) — DataFrame plans
# are immutable, so reuse across query calls is safe and saves the
# rebuild. applicationId (not id(spark)) so a recycled python object
# address can never resurrect plans bound to a stopped JVM session.
# LRU-bounded: entries for stopped sessions / abandoned scale dirs age
# out instead of accumulating for the life of a served process.
_TABLE_CACHE = _LRUCache(maxsize=32)
_ENTITY_CACHE = _LRUCache(maxsize=32)


def load_tables(spark: SparkSession, sf_dir: str) -> _LazyFrames:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    # NOTE: all session SQL confs (nanosAsLong for legacy TIMESTAMP(NANOS)
    # files, collapseProjectAlwaysInline for props-map pruning) live in
    # session.get_spark — a read helper must not mutate session state, or
    # environment drift gets silently papered over instead of failing at
    # one visible site. Physical-encoding differences are handled by
    # DTYPE DISPATCH (_ts_micros/_ts_bound below), not by conf.
    par = spark.sparkContext.defaultParallelism

    def build(t: str):
        def _b() -> DataFrame:
            path = f"{sf_dir}/{t}.parquet"
            df = spark.read.parquet(path)
            size = _local_input_bytes(path)
            # spread only when the layout CANNOT parallelize at the
            # scan: small totals in fewer files than cores (the
            # driver's single-file testdata). A >= par-file layout
            # (derive.py writes par files) splits one-file-per-task
            # under the minPartitionNum floor, and the repartition
            # here measured as a pure extra shuffle of the whole
            # table (r15: the RoundRobin Exchange was the only
            # data-proportional shuffle in the flagship's plan).
            if (_SPREAD_MIN_BYTES < size < _SPREAD_MAX_BYTES
                    and _local_parquet_files(path) < par):
                df = df.repartition(par)
            return df
        return _b

    _TABLE_CACHE[key] = _LazyFrames({t: build(t) for t in TABLES})
    return _TABLE_CACHE[key]


def _dec(col, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})").cast("string")


def _entity(df: DataFrame, dataset: str, id_col, props: dict, refs: dict,
            recorded=None, seq=None, deleted=None) -> DataFrame:
    prop_items = []
    for k, v in props.items():
        prop_items.extend([F.lit(k), v])
    ref_items = []
    for k, v in refs.items():
        ref_items.extend([F.lit(k), v])
    return df.select(
        id_col.alias("id"),
        (recorded if recorded is not None else F.lit(1)).cast("long").alias("recorded"),
        (seq if seq is not None else F.lit(0)).cast("long").alias("seq"),
        (deleted if deleted is not None else F.lit(False)).alias("deleted"),
        (F.create_map(*prop_items) if prop_items else F.lit(None).cast("map<string,string>")).alias("props"),
        (F.create_map(*ref_items) if ref_items else F.lit(None).cast("map<string,array<string>>")).alias("refs"),
        F.lit(dataset).alias("dataset"),
    )


def tpch_entities(spark: SparkSession, sf_dir: str) -> _LazyFrames:
    """Return lazy {dataset_name: entity change-log DataFrame} (memoized
    per session+dir; see _LazyFrames)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _ENTITY_CACHE:
        return _ENTITY_CACHE[key]
    t = load_tables(spark, sf_dir)
    curie = lambda pref, col: F.concat(F.lit(pref + ":"), F.col(col).cast("string"))
    one = lambda c: F.array(c)

    datasets: dict = {}
    datasets["region"] = lambda: _entity(
        t["region"], "region", curie("reg", "r_regionkey"),
        {"p:name": F.col("r_name")}, {},
    )
    datasets["nation"] = lambda: _entity(
        t["nation"], "nation", curie("nat", "n_nationkey"),
        {"p:name": F.col("n_name")},
        {"p:region": one(curie("reg", "n_regionkey"))},
    )
    datasets["customer"] = lambda: _entity(
        t["customer"], "customer", curie("cust", "c_custkey"),
        {"p:name": F.col("c_name"), "p:mktsegment": F.col("c_mktsegment")},
        {"p:nation": one(curie("nat", "c_nationkey"))},
    )
    datasets["customer.balance"] = lambda: _entity(
        t["customer"], "customer.balance", curie("cust", "c_custkey"),
        {"p:acctbal": _dec("c_acctbal")}, {},
    )
    datasets["supplier"] = lambda: _entity(
        t["supplier"], "supplier", curie("sup", "s_suppkey"),
        {"p:name": F.col("s_name"), "p:acctbal": _dec("s_acctbal")},
        {"p:nation": one(curie("nat", "s_nationkey"))},
    )
    datasets["part"] = lambda: _entity(
        t["part"], "part", curie("part", "p_partkey"),
        {
            "p:name": F.col("p_name"),
            "p:brand": F.col("p_brand"),
            "p:type": F.col("p_type"),
            "p:size": F.col("p_size").cast("string"),
            "p:retailprice": _dec("p_retailprice"),
        },
        {},
    )
    datasets["orders"] = lambda: _entity(
        t["orders"], "orders", curie("ord", "o_orderkey"),
        {
            "p:orderstatus": F.col("o_orderstatus"),
            "p:totalprice": _dec("o_totalprice"),
            "p:orderdate": F.date_format("o_orderdate", "yyyy-MM-dd"),
            "p:orderpriority": F.col("o_orderpriority"),
        },
        {"p:customer": one(curie("cust", "o_custkey"))},
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    # lineitem entity id is a content digest of the full canonical row
    # (full rows are unique). DuckDB equivalent:
    #   'li:' || md5(l_orderkey || '|' || ... || strftime(l_shipdate, '%Y-%m-%d'))
    # Built inside the lambda: this is the most expensive expression tree
    # to construct driver-side and must stay lazy.
    def _li_digest():
        return F.md5(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_partkey").cast("string"),
                F.col("l_suppkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                _dec("l_quantity"),
                _dec("l_extendedprice"),
                _dec("l_discount"),
                _dec("l_tax"),
                F.col("l_returnflag"),
                F.col("l_linestatus"),
                F.date_format("l_shipdate", "yyyy-MM-dd"),
            )
        )

    datasets["lineitem"] = lambda: _entity(
        t["lineitem"], "lineitem",
        F.concat(F.lit("li:"), _li_digest()),
        {
            "p:quantity": _dec("l_quantity"),
            "p:extendedprice": _dec("l_extendedprice"),
            "p:discount": _dec("l_discount"),
            "p:tax": _dec("l_tax"),
            "p:returnflag": F.col("l_returnflag"),
            "p:linestatus": F.col("l_linestatus"),
            "p:shipdate": F.date_format("l_shipdate", "yyyy-MM-dd"),
        },
        {
            "p:order": one(curie("ord", "l_orderkey")),
            "p:part": one(curie("part", "l_partkey")),
            "p:supplier": one(curie("sup", "l_suppkey")),
        },
    )
    # events -> versioned "user" dataset. (user_id, ts) is unique in the
    # generated data, so (recorded, seq) is a total version order per id.
    datasets["user"] = lambda: _user_entity(t["events"])
    _ENTITY_CACHE[key] = _LazyFrames(datasets)
    return _ENTITY_CACHE[key]


def _ts_micros(dtype: str):
    """int64 epoch-micros from the raw ``events.ts`` column, dispatched on
    its Spark dtype. The driver's testdata has shipped two physical
    encodings over time — parquet TIMESTAMP(NANOS) (reads as int64 nanos
    under the legacy nanosAsLong flag, set in session.get_spark) and
    parquet timestamp[us] (reads as TIMESTAMP_NTZ) — so the load path
    must accept both without anyone touching session conf.

    TIMESTAMP_NTZ carries a wall-clock with no zone; it is interpreted as
    UTC via timestampdiff against the NTZ epoch (no session-timezone
    dependence), matching DuckDB's epoch_us(ts) oracle semantics."""
    if dtype == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    if dtype == "timestamp":
        return F.unix_micros(F.col("ts"))
    # int64 nanos: integer division (ts exceeds double's exact range)
    return F.expr("ts div 1000")


def _ts_bound(us: int, dtype: str):
    """Literal for range-filtering the RAW ts column at a micros bound,
    per physical encoding. All-literal expressions constant-fold, so the
    comparison lands in the parquet scan's PushedFilters (row-group /
    file skipping) — pinned in tests/test_plans.py.

    timestamp encodings are exact at micro resolution:
      recorded > S   <=>  ts > timestamp_of(S)
    int64-nanos may carry sub-microsecond bits; the +999 absorbs them:
      recorded > S   <=>  ts > S*1000 + 999   (recorded = ts div 1000)"""
    if dtype == "timestamp_ntz":
        return F.expr(
            f"timestampadd(MICROSECOND, {int(us)}, TIMESTAMP_NTZ '1970-01-01 00:00:00')")
    if dtype == "timestamp":
        return F.expr(f"timestamp_micros({int(us)})")
    return F.lit(int(us) * 1000 + 999)


def _user_entity(events: DataFrame) -> DataFrame:
    """events rows -> `user` entity change-log (shared by tpch_entities
    and the pushdown-aware user_log)."""
    return _entity(
        events, "user",
        F.concat(F.lit("user:"), F.col("user_id").cast("string")),
        {
            "p:event_type": F.col("event_type"),
            "p:value": _dec("value"),
            "p:k": F.get_json_object("props", "$.k").cast("string"),
        },
        {},
        # int64 epoch-MICROS: the engine-portable resolution (DuckDB
        # truncates ns->us at scan). (user_id, micros) is unique.
        recorded=_ts_micros(dict(events.dtypes)["ts"]),
        seq=F.col("event_id"),
        deleted=F.col("event_type") == "error",
    )


# memoized (appid, sf_dir, since, until) -> user entity frame with the
# range predicate applied to the PHYSICAL ts column
# (appid, sf_dir, since, until) keys churn with every distinct range a
# server answers — the widest-fanout cache of the three, same LRU bound
_USER_LOG_CACHE = _LRUCache(maxsize=128)


def user_log(spark: SparkSession, sf_dir: str,
             since_us: int | None = None, until_us: int | None = None) -> DataFrame:
    """The `user` entity change-log with a recorded-range restriction
    REWRITTEN onto the physical ``ts`` column so it pushes to the parquet
    scan as a row-group-stats predicate.

    `recorded` is derived from ts (_ts_micros), so a filter on `recorded`
    can only ever be a post-scan data filter. The mapping is monotone, so
    the range conditions rewrite exactly onto the raw column against a
    constant-foldable literal of the same dtype (_ts_bound). At 100 TB of
    time-partitioned event history, this is the difference between
    scanning everything and skipping whole row groups/files."""
    key = (spark.sparkContext.applicationId, sf_dir, since_us, until_us)
    if key not in _USER_LOG_CACHE:
        t = load_tables(spark, sf_dir)["events"]
        dtype = dict(t.dtypes)["ts"]
        if since_us is not None:
            t = t.filter(F.col("ts") > _ts_bound(since_us, dtype))
        if until_us is not None:
            t = t.filter(F.col("ts") <= _ts_bound(until_us, dtype))
        _USER_LOG_CACHE[key] = _user_entity(t)
    return _USER_LOG_CACHE[key]
