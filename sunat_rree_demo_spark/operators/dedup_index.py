"""Persisted MinHash index + incremental near-dup detection — the
production dedup shape at corpus scale: signatures are computed ONCE
per document and stored; each new ingest batch signatures only its own
docs and probes the index, instead of re-running pairwise dedup over
the whole corpus per batch (the reference pipeline, like q41, is
batch-global; this is its incremental twin).

Index layout (two parquet tables under one root, partitioned by ingest
batch):
- ``sigs/batch_id=N/``  — (id, sig array<bigint>): one row per doc.
- ``bands/batch_id=N/`` — (id, band, bucket): LSH band rows, the join
  key layout. Written LAST, so ``bands/batch_id=N/_SUCCESS`` is the
  batch's commit marker (see ``batch_committed``).

Exactly-once: every batch write is an OVERWRITE of that batch's own
partition directory, so a foreachBatch crash-replay rewrites the same
files instead of appending duplicates — (id, sig) and (id, band,
bucket) rows are unique per (batch, doc) by construction. The partition
column is ``batch_id`` (no leading underscore: Spark's file index
treats ``_``-prefixed paths as hidden and would skip the partitions).

A doc id re-ingested in a LATER batch (an edited document) legitimately
appears in several partitions; reads resolve it latest-batch-wins at
CANDIDATE scale (see ``incremental_near_dup_pairs``) — the corpus-side
table is never shuffled for it. Long-lived indexes with many re-ingests
should periodically compact (rewrite keeping the max-batch row per id);
until compaction the index carries one extra row per re-ingest, not
wrong answers.

Scale design: an ingest batch is small relative to the corpus, so the
batch's band rows BROADCAST and the stored band table is probed by a
map-side hash join — the corpus-side shuffle is zero. Estimates then
join signatures for just the candidate ids (semi-join-sized reads).
With the bucketed-table sink (plans/bucketed) the bands table can
additionally be bucketed by ``bucket`` for shuffle-free index-vs-index
joins; plain parquet keeps this module engine-portable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from sunat_rree_demo_spark.localrel import local_df
from sunat_rree_demo_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_K,
    band_rows,
    estimate_pairs,
    minhash_signatures,
)
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    all_batch_dirs,
    clear_commit_marker,
    marker_committed,
)


def _with_batch_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields)
                        + [T.StructField(BATCH_COL, T.LongType())])


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """The not-yet-bootstrapped index reads as empty (first streaming
    micro-batch probes before anything was ever appended). ONLY the
    path-missing case falls back — a corrupt or unreadable existing
    index must fail loudly, not silently drop every cross-batch pair."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        # error-class check first (getCondition on Spark 4, the
        # deprecated getErrorClass elsewhere); substring as a fallback
        # for versions that wrap the class into the message only
        get_cls = getattr(exc, "getCondition", None) or exc.getErrorClass
        if (get_cls() or "") == "PATH_NOT_FOUND" \
                or "PATH_NOT_FOUND" in str(exc):
            return spark.createDataFrame([], schema)
        raise


def batch_committed(spark: SparkSession, path: str, batch_id: int) -> bool:
    """True iff ``batch_id`` was fully absorbed into the index at
    ``path``. The marker is the ``_SUCCESS`` file of the batch's bands
    partition: bands are written last, so its successful commit implies
    the sigs partition (and, in the streaming flow, the pairs
    partition written before either) are complete."""
    return marker_committed(spark, f"{path}/bands", batch_id)


#: error signatures of this box's intermittent storage blips (r7):
#: a failed task write, or a raw EIO bubbling out of the JVM. Real
#: correctness failures never match these.
TRANSIENT_WRITE_ERRORS = ("TASK_WRITE_FAILED", "Input/output error")

#: FileNotFoundException is transient ONLY on Spark-managed scratch /
#: commit paths (a shuffle or temp file an EIO blip made unopenable);
#: a missing DATA file is a genuine bug — a janitor reaping a live
#: table or a torn-batch read surfaces with the same exception class
#: (r6 actually shipped one), so the bare class name must never be a
#: retry ticket (review finding r7).
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
    anywhere would hand that genuine bug a retry (review finding
    r8)."""
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
    spark.task.maxFailures=1, so a single blip (observed on this box:
    intermittent EIO under load, r7) kills the whole job where a real
    cluster would re-run the task. Overwrite semantics make the retry
    safe; a second failure — or any non-transient error — propagates.
    ``cleanup`` runs between attempts (e.g. DROP TABLE for a torn
    saveAsTable). The ONE copy of the policy: sinks.write_bucketed_table
    and the index writes all route through here."""
    try:
        write_fn()
    except Exception as exc:  # noqa: BLE001 - retry-once, then re-raise
        if not is_transient_storage_error(exc):
            raise
        if cleanup is not None:
            cleanup()
        write_fn()


def write_minhash_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 5,
                        k: int = MINHASH_K, bands: int = LSH_BANDS,
                        batch_id: int = -1,
                        sig: DataFrame | None = None) -> None:
    """Materialize the index from scratch (full overwrite) as batch
    ``batch_id``. Incremental growth goes through ``absorb_batch``
    (idempotent) or ``append_minhash_index``.

    The default id is **-1**: out-of-band writes (bootstrap,
    compaction) live in the NEGATIVE id space so they can never collide
    with foreachBatch epochs, which start at 0 — a bootstrap at
    batch_id=0 would look uncommitted to ``batch_committed`` and the
    stream's genuine epoch 0 would absorb-overwrite the whole corpus
    partition with one micro-batch.

    A caller that already materialized the signatures passes them via
    ``sig`` (same contract as ``absorb_batch``) — a signature is a
    pure per-doc function, so sharding one checkpointed corpus pass
    into several index builds (q185's even/odd shards) writes
    identical indexes to two independent passes at half the Python
    shingle/minhash cost."""
    spark = docs.sparkSession
    if sig is None:
        sig = minhash_signatures(docs, id_col, text_col, n,
                                 k).localCheckpoint()
    bnd = band_rows(sig, id_col, k, bands)
    for df, table in ((sig, "sigs"), (bnd, "bands")):
        retry_transient_write(
            lambda df=df, table=table:
            df.withColumn(BATCH_COL, F.lit(batch_id))
            .write.partitionBy(BATCH_COL).mode("overwrite")
            .parquet(f"{path}/{table}"))


def absorb_batch(docs: DataFrame, path: str, batch_id: int,
                 id_col: str = "doc_id", text_col: str = "text",
                 n: int = 5, k: int = MINHASH_K,
                 bands: int = LSH_BANDS,
                 sig: DataFrame | None = None) -> None:
    """Idempotently absorb one identified batch: sigs then bands are
    each OVERWRITTEN into their ``batch_id=N`` partition directory, so
    a replay (foreachBatch crash recovery) rewrites identical files
    rather than appending duplicates. Bands last = commit marker
    (``batch_committed``) — its ``_SUCCESS`` is removed BEFORE the
    rewrite so a replay's overwrite can't expose a torn partition to a
    committed-only reader mid-delete.

    A streaming handler that already computed the batch's signatures
    (``incremental_near_dup_pairs`` does) passes them via ``sig`` —
    the per-doc Python shingle/minhash pass is the dominant ingest
    cost and must not run twice per micro-batch."""
    spark = docs.sparkSession
    if sig is None:
        sig = minhash_signatures(docs, id_col, text_col, n, k) \
            .localCheckpoint()
    # Coalesced writes (r12, guide §6): a micro-batch is bounded by
    # construction, but its signature frame inherits the shuffle
    # partition count — absorb used to write 32 ~4.5 KB files PER
    # BATCH PER TABLE, so after k batches every probe paid 2k×32
    # footer reads + listings (measured: the dedup stream's probe
    # stage was 3× its siblings at sf0.1). One file per batch
    # partition is the right layout at any realistic micro-batch size
    # (≈ batch×k longs ≪ the 128 MB-1 GB/file target); deployments
    # ingesting giant batches raise SPARK_GRAFT_ABSORB_FILES.
    # coalesce keeps the replay contract: same batch content → same
    # rewritten files.
    n_files = int(os.environ.get("SPARK_GRAFT_ABSORB_FILES", "1"))
    clear_commit_marker(spark, f"{path}/bands/{BATCH_COL}={batch_id}")
    retry_transient_write(
        lambda: sig.coalesce(n_files).write.mode("overwrite").parquet(
            f"{path}/sigs/{BATCH_COL}={batch_id}"))
    retry_transient_write(
        lambda: band_rows(sig, id_col, k, bands)
        .coalesce(n_files).write.mode("overwrite").parquet(
            f"{path}/bands/{BATCH_COL}={batch_id}"))


def append_minhash_index(docs: DataFrame, path: str, **kw) -> None:
    """Extend the index with an auto-numbered batch
    (max(existing, -1) + 1 — i.e. the non-negative space shared with
    stream epochs). For replay-safe ingestion use ``absorb_batch`` with
    the caller's own stable batch id — auto-numbering is only
    deterministic when nothing ever crashes between numbering and
    writing."""
    spark = docs.sparkSession
    existing = all_batch_dirs(spark, f"{path}/sigs")
    absorb_batch(docs, path, max(existing, default=-1) + 1, **kw)


def compact_minhash_index(spark: SparkSession, path: str,
                          id_col: str = "doc_id", k: int = MINHASH_K,
                          bands: int = LSH_BANDS) -> None:
    """Rewrite the index keeping only the latest-batch signature per
    doc id — reclaims the one-extra-row-per-re-ingest growth the batch
    layout accrues (module docstring). Band rows REGENERATE from the
    surviving signatures rather than being deduped independently: they
    are a pure function of the signature, so the two tables cannot
    drift.

    The result lands in the NEGATIVE id space (min(existing, 0) − 1),
    never at a stream epoch: a compacted partition numbered like a
    stream batch would make ``batch_committed`` lie to a resumed
    stream, and a crash-replay of that epoch would absorb-overwrite the
    whole compacted corpus with one micro-batch. With a negative id,
    a replayed epoch re-absorbs into its OWN partition and latest-wins
    resolution keeps probes exact — no data-loss window even if the
    offline requirement below is violated.

    OFFLINE maintenance: the two full-table overwrites are not
    transactional against a CONCURRENT absorb_batch."""
    existing = all_batch_dirs(spark, f"{path}/sigs")
    if not existing:
        return  # empty index: nothing to compact
    bid = min(min(existing), 0) - 1
    sigs = spark.read.parquet(f"{path}/sigs")
    latest = (sigs.groupBy(id_col)
              .agg(F.max_by("sig", BATCH_COL).alias("sig"))
              .localCheckpoint())  # sever lineage from the files being replaced
    for df, table in ((latest, "sigs"),
                      (band_rows(latest, id_col, k, bands), "bands")):
        retry_transient_write(
            lambda df=df, table=table:
            df.withColumn(BATCH_COL, F.lit(bid))
            .write.partitionBy(BATCH_COL).mode("overwrite")
            .parquet(f"{path}/{table}"))


def write_bucketed_bands(spark: SparkSession, index_path: str,
                         table_name: str, n_buckets: int = 8) -> None:
    """Materialize the index's band table as a managed parquet table
    bucketed (and sorted) by ``bucket`` — the layout for RECURRING
    index-vs-index joins (cross-shard or cross-epoch candidate
    generation, where neither side is small enough to broadcast): both
    sides arrive hash-distributed on the join key, so the join plans
    with no Exchange at all (pinned by tests/test_scale_contracts.py::
    test_index_vs_index_join_is_shuffle_free). The per-ingest probe
    path keeps reading the plain parquet layout; this sink is the
    amortized-read companion, not a replacement."""
    from sunat_rree_demo_spark.sources.sinks import write_bucketed_table

    bands = spark.read.parquet(f"{index_path}/bands")
    # bucket on the FULL (band, bucket) join key: co-partitioned joins
    # need every cluster key bucketed (requireAllClusterKeysForCoPartition)
    write_bucketed_table(spark, bands, table_name, ["band", "bucket"],
                         n_buckets)


def incremental_near_dup_pairs(spark: SparkSession, new_docs: DataFrame,
                               path: str, id_col: str = "doc_id",
                               text_col: str = "text", n: int = 5,
                               k: int = MINHASH_K, bands: int = LSH_BANDS,
                               threshold: float = 0.3,
                               new_sig: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs (id1 < id2, jaccard_est ≥ threshold) touching the
    new batch: new-vs-index plus new-vs-new. Identical estimates to the
    batch-global ``minhash_lsh_pairs`` restricted to pairs with at
    least one new doc — pinned by tests/test_dedup_index.py.
    ``new_sig`` lets the caller share one checkpointed signature frame
    between this probe and the subsequent ``absorb_batch``."""
    if new_sig is None:
        new_sig = minhash_signatures(new_docs, id_col, text_col, n, k) \
            .localCheckpoint()
    new_bands = band_rows(new_sig, id_col, k, bands)
    idx_bands = _read_or_empty(spark, f"{path}/bands",
                               _with_batch_schema(new_bands.schema))
    idx_sigs = _read_or_empty(spark, f"{path}/sigs",
                              _with_batch_schema(new_sig.schema))

    # candidates sharing any (band, bucket): corpus side probes the
    # broadcast batch; within-batch pairs from the tiny self-join.
    # Eagerly checkpointed: cand feeds both the estimate join and the
    # candidate-id restriction below, and an unmaterialized cand would
    # probe the corpus-side band table once per plan branch. Candidate
    # sets are band-collision-sized (tiny), so this is a cheap action.
    nb = new_bands.select("band", "bucket", F.col(id_col).alias("_nid"))
    cross = (
        idx_bands.join(F.broadcast(nb), ["band", "bucket"])
        .select(F.least(id_col, "_nid").alias("id1"),
                F.greatest(id_col, "_nid").alias("id2"))
    )
    within = (
        new_bands.alias("a")
        .join(F.broadcast(new_bands.alias("b")), ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id1"),
                F.col(f"b.{id_col}").alias("id2"))
    )
    cand = cross.union(within).filter("id1 != id2").distinct() \
        .localCheckpoint()

    # signatures for candidate ids only: semi-join the corpus table to
    # the (broadcast) candidate ids FIRST, then resolve duplicates
    # latest-batch-wins at candidate scale — a re-ingested doc id keeps
    # its newest signature without ever shuffling the corpus table
    cand_ids = (cand.select(F.col("id1").alias(id_col))
                .union(cand.select(F.col("id2").alias(id_col)))
                .distinct())
    idx_needed = (
        idx_sigs.join(F.broadcast(cand_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.max_by("sig", BATCH_COL).alias("sig"))
    )
    # a doc id present in BOTH the index and the current batch
    # (re-ingested edited doc): the NEW batch's signature wins
    sigs = (idx_needed.join(new_sig.select(id_col), id_col, "left_anti")
            .union(new_sig.select(id_col, "sig")))
    return estimate_pairs(cand, sigs, id_col, k, threshold)


def cross_index_candidates(spark: SparkSession, path_a: str, path_b: str,
                           table_a: str, table_b: str,
                           id_col: str = "doc_id",
                           n_buckets: int = 8) -> DataFrame:
    """Index-vs-index candidate generation between two dedup-index
    GENERATIONS (shards, epochs, or merging corpora) where NEITHER side
    is small enough to broadcast: both band tables are materialized
    through the bucketed sink on the full (band, bucket) join key, so
    the candidate equi-join planned between them has NO Exchange — each
    task streams one bucket file from each side (pinned by
    tests/test_scale_contracts.py::test_index_vs_index_join_is_shuffle_free
    and the q185 plan contract). This is the cross-shard path the
    module docstring promises beyond the broadcast-probe ingest flow.

    Returns distinct (id1 from A, id2 from B) pairs sharing any
    (band, bucket); the caller joins signatures for estimates
    (``estimate_pairs``)."""
    write_bucketed_bands(spark, path_a, table_a, n_buckets)
    write_bucketed_bands(spark, path_b, table_b, n_buckets)
    a = spark.table(table_a).select(
        "band", "bucket", F.col(id_col).alias("id1"))
    b = spark.table(table_b).select(
        "band", "bucket", F.col(id_col).alias("id2"))
    return a.join(b, ["band", "bucket"]).select("id1", "id2").distinct()


def forget_ids(spark: SparkSession, path: str, ids: list,
               id_col: str = "doc_id", k: int = MINHASH_K,
               bands: int = LSH_BANDS) -> list[int]:
    """DELETION PROPAGATION (right-to-be-forgotten): remove the given
    doc ids from the index, rewriting ONLY the batch partitions that
    contain them — one scan finds the touched batches (the id list
    broadcasts), every untouched partition's files stay byte-identical
    (test-pinned), so maintenance cost scales with the deletion's
    spread, not the corpus. Band rows REGENERATE from the surviving
    signatures (the compaction rule: bands are a pure function of
    sigs, the tables cannot drift). Returns the touched batch ids.

    OFFLINE maintenance like ``compact_minhash_index``: each touched
    batch's marker is cleared first (committed-only readers skip it
    mid-rewrite) and restored by the bands write, but the pass as a
    whole is not transactional against a concurrent absorb."""
    id_df = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    sigs = spark.read.parquet(f"{path}/sigs")
    touched = sorted(
        r[BATCH_COL]
        for r in sigs.join(F.broadcast(id_df), id_col, "left_semi")
        .select(BATCH_COL).distinct().collect())
    for bid in touched:
        keep = (spark.read.parquet(f"{path}/sigs/{BATCH_COL}={bid}")
                .join(F.broadcast(id_df), id_col, "left_anti")
                .localCheckpoint())  # sever lineage from files replaced
        clear_commit_marker(spark, f"{path}/bands/{BATCH_COL}={bid}")
        retry_transient_write(
            lambda keep=keep, bid=bid:
            keep.write.mode("overwrite").parquet(
                f"{path}/sigs/{BATCH_COL}={bid}"))
        retry_transient_write(
            lambda keep=keep, bid=bid:
            band_rows(keep, id_col, k, bands)
            .write.mode("overwrite").parquet(
                f"{path}/bands/{BATCH_COL}={bid}"))
    return touched
