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

Readers use ``read_committed`` (every committed batch as one frame,
an empty store as an empty frame of the caller's schema) or, for the
directories themselves, ``committed_batch_dirs``; repair and
compaction passes use ``all_batch_dirs``, which also returns torn
batches so crash leftovers can be healed. ``drain`` is the one
availableNow runner the stores' ``run_*_stream`` functions share.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame, SparkSession

from sunat_rree_demo_spark.localrel import local_df

#: partition column of every store table. No leading underscore:
#: Spark's file index treats ``_``-prefixed paths as hidden.
BATCH_COL = "batch_id"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works
    for any supported filesystem (local, HDFS, object stores), unlike
    ``os.path`` probes.

    The Path class and the Hadoop configuration are resolved once per
    SparkContext and kept on it: py4j resolves ``org.apache.hadoop.fs.
    Path`` one package segment per round trip, so looking both up on
    every call makes a path check 9 round trips instead of 3. A restarted context is a
    new object, so it never sees a stopped one's configuration."""
    sc = spark.sparkContext
    hadoop = getattr(sc, "_hadoop_path_conf", None)
    if hadoop is None:
        hadoop = sc._hadoop_path_conf = (
            sc._jvm.org.apache.hadoop.fs.Path, sc._jsc.hadoopConfiguration())
    path_cls, conf = hadoop
    jpath = path_cls(path)
    return jpath.getFileSystem(conf), jpath


def analysis_error_is(exc: Exception, *classes: str) -> bool:
    """True iff the AnalysisException ``exc`` carries one of the error
    ``classes``. The error class is checked first (``getCondition`` on
    Spark 4, the deprecated ``getErrorClass`` elsewhere), the message
    text second, for versions that wrap the class into the message
    only. Callers re-raise on False, so a corrupt or unreadable store
    stays loud."""
    get_cls = getattr(exc, "getCondition", None) or exc.getErrorClass
    return (get_cls() or "") in classes \
        or any(c in str(exc) for c in classes)


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


def read_committed(spark: SparkSession, table_dir: str, marker_dir: str,
                   empty_schema) -> DataFrame:
    """Every committed batch of ``table_dir`` (``committed_batch_dirs``)
    read as one frame. A store with no committed batch yet reads as an
    empty frame of ``empty_schema`` (a DDL string or StructType), so a
    first micro-batch can probe a store nothing was written to."""
    dirs = committed_batch_dirs(spark, table_dir, marker_dir)
    if not dirs:
        return local_df(spark, [], empty_schema)
    return spark.read.parquet(*dirs.values())


def _release_py4j_garbage(generation: int) -> None:
    """Free unreachable py4j proxies up to ``generation`` now, and tell
    the JVM at once.

    A proxy (``JavaObject``) pins its JVM object — a Dataset, and the
    broadcast relations its plan built — and sits in a reference cycle
    with its cached ``JavaMember`` objects, so only Python's cyclic
    collector frees it. py4j's ClientServer then queues each delete
    for a worker thread that polls once a second, so the queued
    deletes are sent here instead, on this thread."""
    from pyspark import SparkContext

    gc.collect(generation)
    gw = SparkContext._gateway
    pending = getattr(gw and gw._gateway_client, "finalizer_deque", None)
    while pending:
        try:
            task = pending.pop()
        except IndexError:
            break  # the worker took the last one
        if not isinstance(task, tuple):
            pending.append(task)  # the worker's shutdown token: its own
            break
        client, target_id = task
        client.garbage_collect_object(target_id, False)


def drain(stream: DataFrame, handle, store_path: str, timeout: float,
          name: str) -> None:
    """Run ``handle(batch_df, batch_id)`` over everything currently in
    ``stream`` (foreachBatch, availableNow) and return once drained.
    The checkpoint lives at ``store_path/_stream_checkpoint``, so a
    restart resumes after the last completed micro-batch. On timeout
    the query is stopped and ``TimeoutError`` raised.

    Each batch's JVM memory is released when its handler returns
    (``_release_py4j_garbage``): a handler that makes few py4j calls
    allocates too little to trigger a Python collection, so its plans
    and their broadcasts (a 64 MB page per string-keyed broadcast hash
    relation) would stay pinned for batches. A collection of the two
    young generations finds a batch's proxies in under 1 ms; a full
    one costs ~25 ms. The stream still holds the last batch's frame
    and session until the query ends, so a full collection runs once
    more after the drain."""

    def handle_and_release(batch_df: DataFrame, batch_id: int) -> None:
        try:
            handle(batch_df, batch_id)
        finally:
            _release_py4j_garbage(1)

    q = (
        stream.writeStream.foreachBatch(handle_and_release)
        .option("checkpointLocation", f"{store_path}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"{name} stream did not drain within {timeout}s — the "
                f"store holds only completed micro-batches (restart "
                f"resumes from the stream checkpoint)")
    finally:
        _release_py4j_garbage(2)
