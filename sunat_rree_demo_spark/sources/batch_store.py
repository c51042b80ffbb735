"""The on-disk contract every persisted micro-batch store shares — the
MinHash dedup index, the IVF vector index, and the bloom, media,
curate, novelty, cluster, enrich, sketch and CMS streams.

A store table is a directory of ``batch_id=N`` partitions, each the
OVERWRITE of one batch (a foreachBatch replay rewrites the same files
instead of appending). A batch is visible only once the ``_SUCCESS``
of its LAST-written table exists: which table that is stays the
store's own decision (``bands`` for the dedup index, ``kept`` for
bloom/media, …), so every check here takes the marker directory
explicitly. A rewrite of a committed partition clears the marker
first (``clear_commit_marker``) and its write recreates it last.

Readers use ``committed_batch_dirs``; repair and compaction passes use
``all_batch_dirs``, which also returns torn batches so crash leftovers
can be healed. ``drain`` is the one availableNow runner the stores'
``run_*_stream`` functions share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: partition column of every store table. No leading underscore:
#: Spark's file index treats ``_``-prefixed paths as hidden.
BATCH_COL = "batch_id"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works
    for any supported filesystem (local, HDFS, object stores), unlike
    ``os.path`` probes."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def clear_commit_marker(spark: SparkSession, dir_path: str) -> None:
    """Delete ``dir_path/_SUCCESS`` before an overwrite-rewrite of a
    committed-only-read partition: ``mode("overwrite")`` deletes the
    old files in unspecified order, so a concurrent reader gating on
    the marker could observe it still present while part-files are
    already gone — a torn read. Removing the marker FIRST makes the
    partition read as uncommitted for the whole rewrite; the write
    recreates it atomically last."""
    fs, marker = _hadoop_fs(spark, f"{dir_path}/_SUCCESS")
    if fs.exists(marker):
        fs.delete(marker, False)


def marker_committed(spark: SparkSession, marker_dir: str,
                     batch_id: int) -> bool:
    """True iff ``marker_dir/batch_id=N/_SUCCESS`` exists — one
    ``exists`` call, cheap enough for every micro-batch's replay
    check."""
    fs, marker = _hadoop_fs(
        spark, f"{marker_dir}/{BATCH_COL}={batch_id}/_SUCCESS")
    return fs.exists(marker)


def all_batch_dirs(spark: SparkSession, table_dir: str) -> dict[int, str]:
    """{batch_id: dir} for EVERY ``batch_id=N`` directory under
    ``table_dir``, torn ones included, in listing order. Plain files,
    the ``_stream_checkpoint`` directory and other names are skipped;
    a missing ``table_dir`` is an empty store."""
    fs, jroot = _hadoop_fs(spark, table_dir)
    out = {}
    if fs.exists(jroot):
        for st in fs.listStatus(jroot):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(f"{BATCH_COL}="):
                out[int(name.split("=", 1)[1])] = f"{table_dir}/{name}"
    return out


def committed_batch_dirs(spark: SparkSession, table_dir: str,
                         marker_dir: str) -> dict[int, str]:
    """``all_batch_dirs`` restricted to batches whose marker exists in
    ``marker_dir`` (``marker_committed``) — the reader's view, where
    torn batches are invisible."""
    return {bid: d for bid, d in all_batch_dirs(spark, table_dir).items()
            if marker_committed(spark, marker_dir, bid)}


def drain(stream: DataFrame, handle, store_path: str, timeout: float,
          name: str) -> None:
    """Run ``handle(batch_df, batch_id)`` over everything currently in
    ``stream`` (foreachBatch, availableNow) and return once drained.
    The checkpoint lives at ``store_path/_stream_checkpoint``, so a
    restart resumes after the last completed micro-batch. On timeout
    the query is stopped and ``TimeoutError`` raised."""
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{store_path}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"{name} stream did not drain within {timeout}s — the store "
            f"holds only completed micro-batches (restart resumes from "
            f"the stream checkpoint)")
