"""SparkSession factory and runtime tuning.

The reference has no engine of its own (pandas eager + embedded DuckDB,
SURVEY.md §4); here the session IS the engine. Two entry shapes:

- ``get_spark()`` builds a local session for tests/bench (local[N] with
  N = ``SPARK_GRAFT_CPUS``).
- ``tune(spark)`` applies the runtime-settable confs this engine relies on
  to a session we did NOT create (the driver harness passes its own).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

#: Confs that are safe to set on a live session and that the engine needs.
_RUNTIME_CONFS = {
    # the driver-generated events.parquet stores ts as TIMESTAMP(NANOS),
    # which vanilla Spark cannot read; read as long and convert ourselves
    # (sources.catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing + skew-join handling; default-on in Spark 4
    # but set explicitly — the 100 TB design depends on it.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for driver<->JVM transfers (toPandas/createDataFrame) and —
    # critically — for localrel.local_df: with Arrow on, small literal
    # frames become LocalRelations instead of Python-RDD scans that
    # schedule 32 pickled tasks per action (guide §6 "Arrow for driver
    # transfers"). Runtime-settable, so driver-supplied vanilla sessions
    # get it through tune() like everything else.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep the Arrow createDataFrame path's type-error semantics aligned
    # with the classic path (r11 advisory): without this a float landing
    # in a long field is silently truncated where the classic path
    # raised, so localrel.local_df's behavior would depend on WHICH
    # conversion path a frame took. Runtime-settable.
    "spark.sql.execution.pandas.convertToArrowArraySafely": "true",
    # local-deployment split size: the test warehouse's parquet files are
    # ~1-11 MB, so the 128 MB default turns every scan into ONE task and
    # serializes it on a single core (measured 4× on aggregate-over-
    # lineitem queries). Runtime-settable, so tune() carries the speedup
    # to driver-supplied vanilla sessions too. Per-deployment knob — a
    # real cluster overrides back to 128m+ via SPARK_GRAFT_SPLIT_BYTES
    # (4 MB over 100 TB would be 25M tasks); see SCALE.md.
    "spark.sql.files.maxPartitionBytes":
        os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "4m"),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some builds
            pass
    return spark


def _default_driver_memory() -> str:
    """Half the machine's physical memory, at most 16g. The JVM's
    resident set runs well past its heap (metaspace, Arrow and netty
    buffers), so a heap sized to the whole box gets the process
    OOM-killed before the collector ever runs short."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def get_spark(app_name: str = "sunat_rree_demo_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session for tests and bench.

    local[N] = one JVM, N executor threads; shuffle partitions sized to the
    core count (not the 200 default) so tiny local shuffles don't dominate.
    On a real cluster these two knobs come from the deployment, and AQE
    re-coalesces at runtime either way.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from the engine's daemon entry, which
        # skips pyspark's per-task re-read of unchanged zip archives
        # (~0.19 s of CPU per task; see pydaemon). Context-level, so
        # sessions the engine did not create run stock pyspark. The
        # daemon imports this package, so its parent directory goes on
        # the workers' path whatever the cwd or PYTHONPATH.
        .config("spark.python.daemon.module",
                "sunat_rree_demo_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
