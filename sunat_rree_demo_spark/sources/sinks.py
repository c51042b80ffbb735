"""Warehouse sinks (SURVEY.md §2.1 S7/S8) — partitioned parquet (the
plans layer default) plus bucketed managed tables for co-located joins.

Bucketing is the 100 TB lever the reference never needed: writing both
fact tables bucketed+sorted by the join key makes the recurring
fact-fact join (lineitem ⋈ orders here; facts ⋈ facts generally)
shuffle-free — the exchange disappears from the plan because both sides
are already hash-distributed identically. Verified by
tests/test_scale_contracts.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.sources.batch_store import analysis_error_is


def write_bucketed_table(spark: SparkSession, df: DataFrame, name: str,
                         bucket_col: str | list[str], n_buckets: int = 8,
                         mode: str = "overwrite") -> None:
    """S7 scale form — managed table bucketed+sorted by the join key
    (one column or a composite). Joins between tables bucketed
    identically on the key skip the shuffle entirely (no Exchange in
    the plan). Bucket on the FULL join key set: since Spark 3.3
    co-partitioning requires all cluster keys by default
    (``spark.sql.requireAllClusterKeysForCoPartition``), a table
    bucketed on a subset of the join keys is planned with the bucketing
    disabled and shuffles anyway."""
    from sunat_rree_demo_spark.sources.batch_store import retry_transient_write

    cols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)

    def _write() -> None:
        (df.write.mode(mode)
         .bucketBy(n_buckets, *cols)
         .sortBy(*cols)
         .format("parquet")
         .saveAsTable(name))

    if mode != "overwrite":
        # retry_transient_write's contract is idempotent-overwrite-only:
        # retrying an append double-appends, and the DROP-TABLE cleanup
        # would discard every pre-existing row to salvage one batch
        # (review finding r7). Non-overwrite writes run plain — a blip
        # fails loud and the caller decides.
        _write()
        return
    # retry-once on transient storage blips (the shared policy — see
    # retry_transient_write); a torn saveAsTable leaves a catalog
    # entry, so the between-attempts cleanup drops it first
    retry_transient_write(
        _write,
        cleanup=lambda: spark.sql(f"DROP TABLE IF EXISTS {name}"))


def upsert_partitioned(spark: SparkSession, updates: DataFrame, path: str,
                       key_cols: list[str], ts_col: str,
                       partition_by: str) -> None:
    """CDC MERGE (SCD1, latest-wins) into a partitioned parquet table:
    apply ``updates`` so each key keeps the row with the greatest
    (``ts_col``, update-wins) — the warehouse upsert the reference's
    overwrite-only sinks (S7/S8) can't express.

    Scale design: only partitions TOUCHED by the batch are read and
    rewritten — the update batch's distinct partition values broadcast
    as a semi-join filter onto the base scan (partition pruning turns
    it into a directory-level skip), and the write uses DYNAMIC
    partition overwrite so untouched partitions' files are never
    replaced. The merge itself is one window per key within touched
    partitions (high-cardinality keys → even shuffle). Update-wins on
    ts ties via a source-rank column, then a content-hash tiebreak so
    the winner is deterministic under any partitioning/scan order —
    replaying the same batch is idempotent (same winner), and updates
    deduplicate internally by the same rule.

    ``partition_by`` MUST be one of ``key_cols`` (enforced): the
    touched-partition optimization never re-reads other partitions, so
    a key that could MOVE between partitions would leave its stale row
    behind in the old partition. With the partition column in the key,
    'same key' implies 'same partition' and per-key latest-wins holds
    table-wide."""
    from pyspark.sql import Window, functions as F

    if partition_by not in key_cols:
        raise ValueError(
            f"partition column {partition_by!r} must be part of key_cols "
            f"{key_cols!r}: upsert only rewrites touched partitions, so a "
            "cross-partition key move would strand its old row")
    from pyspark.errors import AnalysisException

    touched = updates.select(partition_by).distinct()
    try:
        base = (spark.read.parquet(path)
                .join(F.broadcast(touched), partition_by, "left_semi")
                .withColumn("_src", F.lit(0)))
    except AnalysisException as exc:  # first batch: nothing to merge into
        if not analysis_error_is(exc, "PATH_NOT_FOUND"):
            raise
        base = None
    up = updates.withColumn("_src", F.lit(1))
    merged = up if base is None else base.unionByName(up)
    # final tiebreak: content hash — two same-(key, ts, src) rows with
    # different payloads would otherwise pick a scan-order-dependent
    # winner (identical payloads hash equal, and then any winner is the
    # same row)
    content = F.xxhash64(*[c for c in updates.columns])
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc(),
                                              F.col("_src").desc(),
                                              content.desc())
    latest = (merged.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn", "_src"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (latest.write.mode("overwrite").partitionBy(partition_by)
         .parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_zordered(df: DataFrame, path: str, zcol: str,
                   n_files: int = 8) -> None:
    """Write parquet laid out along a precomputed Z-order column
    (operators.layout.morton_code): range-partition on the curve so
    each output file owns one contiguous curve segment, then sort
    within files — after this, per-file min/max statistics are tight
    on BOTH interleaved dimensions, which is what lets a 100 TB scan
    filtered on EITHER column prune most files (the OPTIMIZE ZORDER BY
    rewrite of Delta/Iceberg, expressed in plain Spark).

    ``repartitionByRange`` samples the z distribution so files get
    balanced row counts even when the curve is skewed; the within-file
    sort is the only per-partition work."""
    (df.repartitionByRange(n_files, F.col(zcol))
       .sortWithinPartitions(zcol)
       .write.mode("overwrite").parquet(path))


def drop_stale_app_tables(spark: SparkSession, prefix: str,
                          ttl_hours: float = 6.0) -> None:
    """Janitor for session-scoped bucketed artifacts: tables minted
    with app-id-suffixed names (``<prefix>..._local_<millis>``) leave
    one DIRECTORY generation per session in the shared warehouse — the
    default in-memory catalog forgets the table entry when its session
    ends, so only the files persist and ``DROP TABLE`` can never reach
    them. Remove warehouse directories older than ``ttl_hours`` and
    drop any same-named entry the CURRENT catalog still holds.
    Staleness is keyed to max(embedded session-start millis, directory
    MODIFICATION time) — the mtime is the actual build time, which for
    a table minted hours into a long session is strictly later than
    the session start, so a concurrent long-lived session's tables
    survive as long as their builds are recent (review finding r6: the
    name-timestamp key alone reaped a concurrent session's live tables
    the moment that SESSION outlived the TTL, FileNotFound-ing its
    memoized readers). The CURRENT session's own tables are always
    skipped regardless of age — a session outliving the TTL must not
    destroy tables its memoized DataFrames still read. Residual
    constraint (cross-session coordination is out of scope for an
    in-memory catalog): a FOREIGN session that built a table and then
    idles past the TTL before re-reading can still lose it —
    ``ttl_hours`` must exceed the longest expected build-to-last-read
    gap, not the session lifetime. Called by the index-building
    queries (q185/q187) at build time, so the warehouse stays bounded
    without an external cron."""
    import re
    import time

    from sunat_rree_demo_spark.sources.batch_store import _hadoop_fs
    from sunat_rree_demo_spark.sources.catalog import app_id

    own = re.sub(r"\W", "_", app_id(spark))
    cutoff = time.time() * 1000 - ttl_hours * 3600 * 1000
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jroot = _hadoop_fs(spark, warehouse)
    if not fs.exists(jroot):
        return
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        if name.endswith(own):
            continue  # never reap the live session's own tables
        m = re.search(r"local[_-](\d{13})$", name)
        if not m:
            continue
        born = max(int(m.group(1)), st.getModificationTime())
        if born < cutoff:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            fs.delete(st.getPath(), True)
