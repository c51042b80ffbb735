"""Table catalog: parquet scans over the test warehouse + existence probes.

Reference counterparts (SURVEY.md §2.1): S9 SQL table scan
(``metrics.py:17-28``, ``app.py:38-49``), S10 table-existence probe
(``metrics_products.py:22-28``, ``app.py:29-35``), S12 result cache
(``app.py:23,58``).

Scale notes: scans stay declarative (``spark.read.parquet``) so Catalyst
pushes filters/projections into the parquet reader; at 100 TB the same
call reads a partitioned (``year=…``) directory tree and partition pruning
is automatic. Nothing here collects to the driver.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Tables the driver's testdata provides (TESTDATA.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Size gate of the hot-table tier of ``load_table``: a table whose
#: on-disk parquet is under this many bytes is ``persist()``-ed once per
#: (session, sf_dir, table). 0 disables it (the plan-shape tests and
#: the plan-report scripts patch it to see parquet scans).
HOT_CACHE_MAX_BYTES = 4 * 1024 * 1024

log = logging.getLogger(__name__)

#: The one session memo store: memo name -> {(app id, *key): value}.
#: Every entry belongs to the live application: classic pyspark allows
#: one live SparkContext per process, so the first lookup under a new
#: app id drops every entry (their persisted blocks died with the old
#: context). The per-name dicts are cleared in place and never
#: replaced, so a ``memo_table`` reference stays live.
_STORE: dict[str, dict[tuple, object]] = {}
_live_app: str | None = None

#: Live view of the store's per-name dicts: their summed ``len`` is the
#: number of live memo entries (perfbench/worker.py reads it).
_SESSION_CACHES = _STORE.values()

def app_id(spark) -> str:
    """The Spark application id (``local-<start millis>`` on a local
    master) that keys every session memo and per-session table name.
    Spark Connect has no ``sparkContext``; there the session object's
    ``id`` stands in. The only place the package reads the id."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # Spark Connect has no sparkContext
        return str(id(spark))


def memo_table(name: str) -> dict:
    """The store's ``{(app id, *key): value}`` dict for memo ``name``."""
    return _STORE.setdefault(name, {})


def session_memo(spark, name: str, key: tuple, build,
                 tier: str = "persist"):
    """The one session-scoped memo: look up (app id, *key) under memo
    ``name``, else build, materialize per ``tier``, store and return.

    - ``"built"``: store ``build()``'s value as is — the plan memo's
      unexecuted DataFrames, k-means' (centroids, assignment) pair.
    - ``"persist"``: ``persist()`` — right for tiny frames (monthly
      flows, hot dimension tables) whose recompute is one cheap scan
      or aggregate.
    - ``"parquet"``: write the built frame ONCE to a session-scoped
      parquet directory under the warehouse, named
      ``<name>_<key>_<hash>_<app id>``, and memoize the READ-BACK
      scan. For intermediates whose recompute is an expensive Python
      pass (the mapInPandas shingler, the pair-graph joins) this
      removes the BlockManager from the availability story entirely:
      persisted blocks compete with 200+ other queries' execution
      memory and whatever LRU evicts is silently recomputed — the r9
      bench flagged exactly the shingle/pair-graph consumer family
      (q40 1.1→8.3 s, q41 1.1→14.0 s) under the media family's
      fixture pressure. A columnar re-scan of the materialized table
      is O(100 ms) and, unlike block survival, deterministic. This is
      also the honest 100 TB shape: a real pipeline WRITES its
      shingle table once and every later pass reads it (same contract
      as the persisted MinHash/IVF indexes in operators/*_index.py).

    Under Spark Connect (app id = ``id(spark)``) two sessions used in
    turn would rebuild each other's memos: correct, only slower.
    """
    if tier not in ("built", "persist", "parquet"):
        raise ValueError(f"unknown memo tier {tier!r}")
    global _live_app
    app = app_id(spark)
    if app != _live_app:
        for memo in _STORE.values():
            memo.clear()
        _live_app = app
    memo, full_key = memo_table(name), (app, *key)
    cached = memo.get(full_key)
    if cached is not None:
        return cached
    if tier == "built":
        value = build()
    elif tier == "persist":
        value = build().persist()
    else:
        value = _materialize_via_warehouse(spark, app, name, key, build)
    memo[full_key] = value
    return value


def _memo_dir_name(name: str, key_suffix: tuple, app: str) -> str:
    """Directory name for a parquet-tier memo. Sanitizing is lossy
    ('sf0.1' and 'sf0_1' both become 'sf0_1'), so a short hash of the
    RAW key rides along — the path is injective in key_suffix, and two
    sessions can never overwrite each other's live memo files."""
    import hashlib
    import re

    safe = "_".join(re.sub(r"\W", "_", str(p)).strip("_")
                    for p in key_suffix if str(p))
    safe += "_" + hashlib.sha1(
        repr(key_suffix).encode()).hexdigest()[:8]
    own = re.sub(r"\W", "_", app)
    return f"{name}_{safe}_{own}"


def _materialize_via_warehouse(spark, app: str, name: str,
                               key_suffix: tuple, build):
    """Write build() to ``<warehouse>/<name>_<key>_<app>`` and return
    the read-back scan. The directory name ends with the sanitized
    application id (``local_<13-digit start millis>``), the exact shape
    ``sources.sinks.drop_stale_app_tables`` reaps, so abandoned
    generations from dead sessions are bounded by the same janitor the
    bucketed index tables already use (called here at build time). A
    janitor failure is logged and never fails the build."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = f"{warehouse}/{_memo_dir_name(name, key_suffix, app)}"
    build().write.mode("overwrite").parquet(path)
    try:  # janitor: reap parquet memos of sessions dead > TTL
        from sunat_rree_demo_spark.sources.sinks import (
            drop_stale_app_tables,
        )

        drop_stale_app_tables(spark, f"{name}_")
    except Exception:
        log.warning("warehouse janitor failed for %s_ memos", name,
                    exc_info=True)
    return spark.read.parquet(path)


def clear_caches() -> None:
    """Empty the session memo store, unpersisting what it persisted —
    the programmatic reset tests and notebooks need. Parquet-tier files
    stay on disk for the janitor."""
    for memo in _STORE.values():
        for value in memo.values():
            for df in value if isinstance(value, tuple) else (value,):
                if getattr(df, "is_cached", False):
                    try:
                        df.unpersist()
                    except Exception:  # session gone → blocks freed
                        pass
        memo.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (earlier
    testdata) and as TIMESTAMP(MICROS) without a timezone (current);
    vanilla Spark rejects the former and reads the latter as
    TIMESTAMP_NTZ, which time functions like ``unix_millis`` refuse.
    Both variants are normalized here to TIMESTAMP_LTZ under the UTC
    session zone — bit-identical instants to DuckDB's naive TIMESTAMP
    view of the same file, so the oracle agrees either way.

    Size-gated hot tables (S12 generalized): a table under
    ``HOT_CACHE_MAX_BYTES`` on disk is ``persist()``-ed per (session,
    sf_dir, table), so a workload that touches the same small table
    from many queries scans it once. The gate is deliberately
    dimension-sized: for a large fact table a columnar parquet scan
    with pushdown beats a deserialized row cache (measured: caching the
    10 MB lineitem regressed sort-heavy queries 2-5× via storage-memory
    eviction churn), and at warehouse scale a multi-TB fact must stream
    anyway — the gate is what makes the cache scale-honest.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")

    def scan() -> DataFrame:
        if name != "events":
            return spark.read.parquet(path)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: (ts / 1000) in double loses ulps above
            # 2^53 ns and lands 1 µs off DuckDB's exact conversion
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # NTZ micros → LTZ: session TZ is pinned to UTC (session.tune),
            # so the wall-clock reinterpretation is the identity instant
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    if HOT_CACHE_MAX_BYTES > 0 and _path_bytes(path, HOT_CACHE_MAX_BYTES) > 0:
        return session_memo(spark, "hot_table", (sf_dir, name), scan)
    return scan()


def _path_bytes(path: str, cap: int) -> int:
    """On-disk bytes of a parquet file OR partitioned directory tree,
    walking with early exit: returns 0 (→ don't cache) as soon as the
    running total exceeds ``cap``, so probing a 100 TB table costs a few
    stat calls, not a full tree walk."""
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
            return size if 0 < size <= cap else 0
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
                if total > cap:
                    return 0
        return total if total > 0 else 0
    except OSError:
        return 0


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL entry point (S9)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def table_exists(spark: SparkSession, name: str) -> bool:
    """S10 table-existence probe: ``spark.catalog`` replaces the
    reference's try/except-around-COUNT(*) pattern
    (``metrics_products.py:22-28``)."""
    try:
        return spark.catalog.tableExists(name)
    except Exception:
        return False
