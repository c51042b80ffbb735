"""The on-disk contract every persisted micro-batch store shares — the
MinHash dedup index, the IVF vector index, and the bloom, media,
curate, novelty, cluster, enrich, sketch and CMS streams.

A store table is a directory of ``batch_id=N`` partitions, each the
OVERWRITE of one batch (a foreachBatch replay rewrites the same files
instead of appending). A batch is visible only once the ``_SUCCESS``
of its LAST-written table exists: which table that is stays the
store's own decision (``bands`` for the dedup index, ``kept`` for
bloom/media, …), so every check here takes the marker directory
explicitly. Every batch is written by ``write_batch``, which clears
the marker first, writes the tables in order with the marker table
last, and runs each write under the one storage-retry policy
(``retry_transient_write``). Builds and compactions go through
``swap_generation`` (write one negative-id generation, then retire
what it replaced), in-place rewrites of some parts of a batch through
``rewrite_parts``, whose crashed batches ``pending_rewrites`` finds.

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


def _hadoop_path(spark: SparkSession, path: str):
    """The JVM Hadoop ``Path`` for ``path``: one round trip.

    The Path class and the Hadoop configuration are resolved once per
    SparkContext and kept on it: py4j resolves ``org.apache.hadoop.fs.
    Path`` one package segment per round trip, so looking both up on
    every call makes a path check 9 round trips instead of 3. A
    restarted context is a new object, so it never sees a stopped
    one's configuration."""
    sc = spark.sparkContext
    hadoop = getattr(sc, "_hadoop_path_conf", None)
    if hadoop is None:
        hadoop = sc._hadoop_path_conf = (
            sc._jvm.org.apache.hadoop.fs.Path, sc._jsc.hadoopConfiguration())
    return hadoop[0](path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works
    for any supported filesystem (local, HDFS, object stores), unlike
    ``os.path`` probes."""
    jpath = _hadoop_path(spark, path)
    return jpath.getFileSystem(spark.sparkContext._hadoop_path_conf[1]), jpath


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


#: error signatures of intermittent storage blips: a failed task
#: write, or a raw EIO bubbling out of the JVM. Real correctness
#: failures never match these.
TRANSIENT_WRITE_ERRORS = ("TASK_WRITE_FAILED", "Input/output error")

#: FileNotFoundException is transient ONLY on Spark-managed scratch /
#: commit paths (a shuffle or temp file an EIO blip made unopenable);
#: a missing DATA file is a genuine bug — a janitor reaping a live
#: table or a torn-batch read surfaces with the same exception class,
#: so the bare class name must never be a retry ticket.
_FNF_SCRATCH_MARKERS = ("blockmgr-", "_temporary", "shuffle_",
                        ".spark-staging", "temp_shuffle_")


def is_transient_storage_error(exc: BaseException) -> bool:
    """THE one test for 'this failure is a storage blip, retrying is
    safe': a task-write failure / raw EIO signature anywhere in the
    message, or a FileNotFoundException whose OWN path is Spark
    scratch (shuffle, block manager, output-committer temp) rather
    than data. The marker must sit on the same line as the exception
    mention — a Py4J trace can carry a data-file FNF plus an
    unrelated '_temporary' cleanup frame further down, and matching
    anywhere would hand that genuine bug a retry."""
    s = str(exc)
    if any(t in s for t in TRANSIENT_WRITE_ERRORS):
        return True
    for seg in s.split("FileNotFoundException")[1:]:
        line = seg.split("\n", 1)[0]
        if any(m in line for m in _FNF_SCRATCH_MARKERS):
            return True
    return False


def retry_transient_write(write_fn, cleanup=None) -> None:
    """Run an idempotent overwrite-mode write, retrying ONCE on a
    transient storage signature: local[*] runs with
    spark.task.maxFailures=1, so a single blip (intermittent EIO under
    load) kills the whole job where a real cluster would re-run the
    task. Overwrite semantics make the retry
    safe; a second failure — or any non-transient error — propagates.
    ``cleanup`` runs between attempts (e.g. DROP TABLE for a torn
    saveAsTable). The ONE copy of the policy: ``write_batch`` (and so
    every generation swap), ``rewrite_parts`` and
    sinks.write_bucketed_table all route through here."""
    try:
        write_fn()
    except Exception as exc:  # noqa: BLE001 - retry-once, then re-raise
        if not is_transient_storage_error(exc):
            raise
        if cleanup is not None:
            cleanup()
        write_fn()


def write_batch(spark: SparkSession, batch_id: int, tables) -> None:
    """Overwrite and commit batch ``batch_id`` of every table in
    ``tables``, an ordered list of ``(table_dir, DataFrameWriter)``
    (``df.write``, ``df.coalesce(1).write``,
    ``df.write.partitionBy("cluster")``) whose LAST table is the
    marker table: its ``batch_id=N/_SUCCESS`` is cleared first, then
    each table's ``batch_id=N`` partition is overwritten in list
    order, so the marker comes back last and a crash anywhere leaves
    the batch uncommitted for a replay to rewrite. Each write is an
    overwrite of its own partition, so ``retry_transient_write`` may
    run it twice; a retry re-runs the same writer."""
    marker_table = tables[-1][0]
    clear_commit_marker(spark, f"{marker_table}/{BATCH_COL}={batch_id}")
    for table_dir, writer in tables:
        part = f"{table_dir}/{BATCH_COL}={batch_id}"
        retry_transient_write(
            lambda w=writer, p=part: w.mode("overwrite").parquet(p))


def swap_generation(spark: SparkSession, tables, sources=(),
                    replaced=None, mark: str | None = None) -> None:
    """Replace batches of a store with ONE generation, write first.
    When ``sources`` (the ids of the batches the generation merges; a
    build passes none) is a single negative id, the store already is
    one generation and nothing is written. Otherwise the target id
    goes below every batch id of the tables, torn ones included, and
    ``write_batch`` writes and commits it (``tables`` is its list, over
    lazy frames); ``mark``, a file name, is then laid in the marker
    table's target directory. Only after that commit are the
    ``replaced`` batch directories (default: every batch of the
    tables, a build) and every other negative-id batch of the tables
    (older generations, torn targets) deleted, the marker table's
    first, so a retired batch turns uncommitted before it goes. A
    crash before the commit leaves the store as it was; one after it
    leaves batches next to the generation until a re-run retires
    them."""
    every = {d: b for t, _w in reversed(tables)
             for b, d in all_batch_dirs(spark, t).items()}
    replaced = set(every if replaced is None else replaced)
    fs, _ = _hadoop_fs(spark, tables[-1][0])
    if len(sources) == 1 and min(sources) < 0:
        target = min(sources)
    else:
        target = min([*every.values(), 0]) - 1
        write_batch(spark, target, tables)
        if mark is not None:
            fs.create(_hadoop_path(
                spark, f"{tables[-1][0]}/{BATCH_COL}={target}/{mark}"),
                True).close()
    for d, b in every.items():
        if b != target and (b < 0 or d in replaced):
            fs.delete(_hadoop_path(spark, d), True)


def rewrite_parts(spark: SparkSession, batch_dir: str, parts) -> None:
    """Overwrite some parts of one batch in place: ``parts`` lists
    ``(part_dir, DataFrame)`` (each frame checkpointed: it is read
    from the files it replaces). ``batch_dir/_SUCCESS`` is renamed
    ``_REWRITING`` first, so readers skip the batch but a re-run of a
    crashed pass finds it (``pending_rewrites``); each overwrite runs
    under ``retry_transient_write``; the mark is renamed back last (an
    overwrite of ``batch_dir`` itself lays a fresh ``_SUCCESS``). A
    torn batch, with neither file, is never committed here."""
    fs, done = _hadoop_fs(spark, f"{batch_dir}/_SUCCESS")
    pending = _hadoop_path(spark, f"{batch_dir}/_REWRITING")
    if fs.exists(done):
        fs.rename(done, pending)
    for part, df in parts:
        retry_transient_write(
            lambda p=part, d=df: d.write.mode("overwrite").parquet(p))
    if fs.exists(pending):
        fs.rename(pending, done)


def pending_rewrites(spark: SparkSession, marker_dir: str) -> dict[int, str]:
    """{batch_id: dir} of the batches under ``marker_dir`` that a
    crashed ``rewrite_parts`` left renamed ``_REWRITING``, for a re-run
    to finish (a torn write has no such file)."""
    fs, _ = _hadoop_fs(spark, marker_dir)
    return {b: d for b, d in all_batch_dirs(spark, marker_dir).items()
            if fs.exists(_hadoop_path(spark, f"{d}/_REWRITING"))}


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
