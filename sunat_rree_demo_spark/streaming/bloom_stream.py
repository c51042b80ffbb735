"""Bloom-GATED streaming exact dedup: the at-scale ingest pattern where
an approximate membership filter fronts the exact digest store so most
genuinely-new documents never touch it.

Per micro-batch:

1. digest each doc (sha-256 of the content) and keep the min-id row per
   digest WITHIN the batch;
2. probe the accumulated Bloom filter (63-bit-word masks, positions from
   the repo's engine-independent sha device — q196's filter as mutable
   streaming state): any missing bit ⇒ DEFINITELY new, kept with no
   exact lookup;
3. only the bloom-positive remainder ("maybe") anti-joins the exact
   committed digest store — the expensive membership join runs on the
   (false positives + true dups) subset, not the batch;
4. per-batch gate stats, the kept digests, the batch's new bloom
   words, and finally the kept rows are written to per-batch
   partitions; the KEPT partition is written LAST, so its ``_SUCCESS``
   is the commit marker — kept is the one table compaction never
   rewrites, which keeps the gate stable across compactions.

EXACTNESS: the bloom is purely a routing gate — a false positive only
costs one exact-store lookup, never a wrong drop — so the drained kept
set equals batch ``operators.dedup.exact_dedup`` row-for-row when files
arrive in ascending-id order (pinned by tests/test_bloom_stream.py,
which also pins that false positives occurred and were caught). The
accumulated filter is the bit_or of committed per-batch word masks —
bitmap merge is associative/idempotent, which is what makes per-batch
masks the exactly-once-friendly state representation.

Exactly-once: a committed batch id short-circuits; a crash replay
recomputes identical partitions (probes read committed state only) and
overwrites them byte-identically — same protocol as the cms/novelty
streams.

STORE FORMAT: the commit marker has lived on the kept table since the
format was finalized (pre-release within r6 — interim same-round
commits briefly used bloom/_SUCCESS; no store from those commits is
supported, rebuild rather than migrate).

Scale: the filter is O(words) regardless of corpus size and broadcasts;
the digest store is touched only by the maybe subset (broadcast-sized
per batch). When the store outgrows a plain scan, bucket it on the
digest (operators.dedup_index's layout) so the anti-join prunes to
matching buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.localrel import local_df

from sunat_rree_demo_spark.operators.dedup import base_hash_col
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    _hadoop_fs,
    all_batch_dirs,
    clear_commit_marker,
    committed_batch_dirs,
    drain,
    marker_committed,
)

BLOOM_WORDS = 256                   #: m = 256·63 = 16128 bits
BLOOM_K = 3                         #: hash functions
BLOOM_M = BLOOM_WORDS * 63


def _positions(dg_col):
    """The BLOOM_K word/bit positions of a digest column."""
    return F.array(*[
        base_hash_col(F.concat(dg_col, F.lit(f"#{i}"))) % BLOOM_M
        for i in range(BLOOM_K)])


def current_bloom(spark: SparkSession, store_path: str) -> DataFrame:
    """(word, m): bit_or merge of every committed batch's masks."""
    dirs = committed_batch_dirs(spark, f"{store_path}/bloom",
                                f"{store_path}/kept")
    if not dirs:
        return local_df(spark, [], "word bigint, m bigint")
    return (spark.read.parquet(*dirs.values())
            .groupBy("word").agg(F.bit_or("m").alias("m")))


def committed_digests(spark: SparkSession, store_path: str) -> DataFrame:
    dirs = committed_batch_dirs(spark, f"{store_path}/digests",
                                f"{store_path}/kept")
    if not dirs:
        return local_df(spark, [], "dg string")
    return spark.read.parquet(*dirs.values()).select("dg")


def process_bloom_batch(spark: SparkSession, batch_df: DataFrame,
                        batch_id: int, store_path: str,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> None:
    """One idempotent micro-batch of the bloom-gated dedup."""
    if marker_committed(spark, f"{store_path}/kept", batch_id):
        return
    uniq = (
        batch_df.select(F.col(id_col),
                        F.sha2(F.col(text_col), 256).alias("dg"))
        .groupBy("dg").agg(F.min(id_col).alias(id_col))
        .localCheckpoint()  # feeds the probe, stats, and both writes
    )
    n_docs = batch_df.count()
    bloom = current_bloom(spark, store_path)
    probed = (
        uniq.select("dg", F.explode(_positions(F.col("dg"))).alias("pos"))
        .withColumn("word", (F.col("pos") / 63).cast("bigint"))
        .join(F.broadcast(bloom), "word", "left")
        .withColumn("hit", F.when(
            F.col("m").isNotNull()
            & (F.expr("(m >> CAST(pos % 63 AS INT)) & 1") == 1), 1)
            .otherwise(0))
        .groupBy("dg").agg(F.min("hit").alias("all_hit"))
        .localCheckpoint()  # routing decision read by three branches
    )
    definite_new = uniq.join(probed.filter("all_hit = 0"), "dg", "left_semi")
    maybe = uniq.join(probed.filter("all_hit = 1"), "dg", "left_semi")
    n_maybe = maybe.count()
    if n_maybe:
        # the ONLY path that touches the exact store
        new_of_maybe = maybe.join(
            committed_digests(spark, store_path), "dg", "left_anti")
    else:
        new_of_maybe = maybe  # empty: store never read
    kept = definite_new.unionByName(new_of_maybe).localCheckpoint()
    n_kept = kept.count()
    n_definite = definite_new.count()
    # bloom said "maybe seen" but the exact store said new -> these
    # survivors are precisely the filter's false positives
    n_false_pos = n_kept - n_definite
    stats = local_df(spark, 
        [(batch_id, n_docs, uniq.count(), n_definite, n_maybe,
          n_false_pos, n_kept)],
        "batch_id long, n_docs long, n_unique long, n_definite_new long, "
        "n_maybe long, n_false_pos long, n_kept long")
    # the batch becomes uncommitted for the whole rewrite window (a
    # crash replay re-enters here), then the kept write restores the
    # marker LAST
    clear_commit_marker(spark, f"{store_path}/kept/{BATCH_COL}={batch_id}")
    (stats.write.mode("overwrite")
     .parquet(f"{store_path}/stats/{BATCH_COL}={batch_id}"))
    (kept.select("dg").write.mode("overwrite")
     .parquet(f"{store_path}/digests/{BATCH_COL}={batch_id}"))
    (kept.select(F.explode(_positions(F.col("dg"))).alias("pos"))
     .select((F.col("pos") / 63).cast("bigint").alias("word"),
             F.expr("shiftleft(CAST(1 AS BIGINT), "
                    "CAST(pos % 63 AS INT))").alias("mk"))
     .groupBy("word").agg(F.bit_or("mk").alias("m"))
     .write.mode("overwrite")
     .parquet(f"{store_path}/bloom/{BATCH_COL}={batch_id}"))
    (kept.write.mode("overwrite")
     .parquet(f"{store_path}/kept/{BATCH_COL}={batch_id}"))


def run_bloom_dedup_stream(spark: SparkSession, docs_stream: DataFrame,
                           store_path: str, id_col: str = "doc_id",
                           text_col: str = "text",
                           timeout: int = 300) -> None:
    """Drain the stream through ``process_bloom_batch`` (availableNow,
    resumable from the checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_bloom_batch(spark, batch_df, batch_id, store_path,
                            id_col=id_col, text_col=text_col)

    drain(docs_stream, handle, store_path, timeout, "bloom dedup")


def load_kept(spark: SparkSession, store_path: str,
              id_col: str = "doc_id") -> DataFrame:
    """(id, dg) of every kept row across committed batches."""
    kept = f"{store_path}/kept"
    dirs = committed_batch_dirs(spark, kept, kept)
    if not dirs:
        return local_df(spark, [], f"dg string, {id_col} long")
    return spark.read.parquet(*dirs.values())


def load_gate_stats(spark: SparkSession, store_path: str) -> DataFrame:
    dirs = committed_batch_dirs(spark, f"{store_path}/stats",
                                f"{store_path}/kept")
    if not dirs:
        return local_df(spark, 
            [], "batch_id long, n_docs long, n_unique long, "
                "n_definite_new long, n_maybe long, n_false_pos long, "
                "n_kept long")
    return spark.read.parquet(*dirs.values())


def compact_bloom_store(spark: SparkSession, store_path: str) -> None:
    """Collapse committed digest/bloom batches into one negative-id
    generation (kept/stats are history and stay). CRASH-SAFE in any
    window without coordination, because this store's semantics are
    set-idempotent: digests deduplicate through the anti-join and
    bloom words merge by bit_or, so a crash that leaves BOTH the new
    generation and not-yet-deleted old batches behind changes nothing
    a probe computes — the new generation is written and committed
    FIRST, old directories deleted after."""
    kept = f"{store_path}/kept"
    dirs_b = committed_batch_dirs(spark, f"{store_path}/bloom", kept)
    if not dirs_b:
        return
    bids = list(dirs_b)
    if len(dirs_b) == 1 and bids[0] < 0:
        return  # already a single compacted generation: no-op
    target = min(min(bids), 0) - 1
    dirs_d = committed_batch_dirs(spark, f"{store_path}/digests", kept)
    merged_dg = spark.read.parquet(*dirs_d.values()).select("dg") \
        .distinct().localCheckpoint()
    merged_bloom = (spark.read.parquet(*dirs_b.values())
                    .groupBy("word").agg(F.bit_or("m").alias("m"))
                    .localCheckpoint())
    (merged_dg.write.mode("overwrite")
     .parquet(f"{store_path}/digests/{BATCH_COL}={target}"))
    (merged_bloom.write.mode("overwrite")
     .parquet(f"{store_path}/bloom/{BATCH_COL}={target}"))
    # commit: an empty kept partition carries the target's marker
    kept_schema = spark.read.parquet(f"{kept}/{BATCH_COL}={bids[0]}").schema
    (local_df(spark, [], kept_schema).write.mode("overwrite")
     .parquet(f"{kept}/{BATCH_COL}={target}"))
    fs, _ = _hadoop_fs(spark, store_path)
    for d in [*dirs_d.values(), *dirs_b.values()]:
        fs.delete(_hadoop_fs(spark, d)[1], True)
    # superseded negative generations' EMPTY kept markers go too (the
    # positive kept dirs are real history and stay); without this,
    # periodic compaction leaks one marker partition per run
    for bid in {b for b in bids if b < 0}:
        fs.delete(_hadoop_fs(spark, f"{kept}/{BATCH_COL}={bid}")[1], True)


def forget_docs(spark: SparkSession, store_path: str, ids: list,
                id_col: str = "doc_id") -> list[int]:
    """DELETION PROPAGATION (right-to-be-forgotten) for the dedup
    store: remove the given doc ids from the kept rows and their
    digests from the exact store, rewriting only the touched batch
    partitions. Discovery scans ALL batch directories (not just
    committed ones — review finding r6: a committed-only scan made a
    crash between marker-clear and rewrite unhealable), and digests
    are dropped from EVERY partition holding them, including the
    negative-id generation a compaction produced (same finding: the
    per-batch digest rewrite alone left forgotten digests alive in the
    compacted generation, so re-shipped forgotten content stayed
    suppressed).

    The BLOOM WORDS ARE LEFT ALONE — a bloom filter cannot unset bits,
    and it never needs to here: it is purely a routing layer, so a
    stale bit only costs one exact-store lookup, while the
    authoritative digest removal means a future re-ship of the
    forgotten content is treated as NEW and kept (the correct RTBF
    semantics). Returns the touched batch ids (kept and/or digest
    side). OFFLINE maintenance like its index siblings: in-place
    partition overwrites are not transactional against a concurrent
    micro-batch, and a crash mid-OVERWRITE of one partition needs this
    same pass re-run to finish healing (markers stay cleared until the
    kept rewrite completes)."""
    id_df = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    kept_dirs = all_batch_dirs(spark, f"{store_path}/kept")
    if not kept_dirs:
        return []
    kept = spark.read.option("basePath", f"{store_path}/kept") \
        .parquet(*kept_dirs.values())
    touched_kept = sorted(
        r[BATCH_COL]
        for r in kept.join(F.broadcast(id_df), id_col, "left_semi")
        .select(BATCH_COL).distinct().collect())
    if not touched_kept:
        return []
    drop_dgs = (kept.join(F.broadcast(id_df), id_col, "left_semi")
                .select("dg").distinct().localCheckpoint())
    dg_dirs = all_batch_dirs(spark, f"{store_path}/digests")
    dgs = spark.read.option("basePath", f"{store_path}/digests") \
        .parquet(*dg_dirs.values())
    touched_dgs = sorted(
        r[BATCH_COL]
        for r in dgs.join(F.broadcast(drop_dgs), "dg", "left_semi")
        .select(BATCH_COL).distinct().collect())
    all_touched = sorted(set(touched_kept) | set(touched_dgs))
    # uncommit every touched batch for the whole rewrite window; a
    # digests dir can exist WITHOUT a kept twin — the torn leftover of
    # a crash between process_bloom_batch's digests and kept writes
    # (or between compaction's digests/bloom writes and its empty-kept
    # marker) — and such a batch was never committed, so there is no
    # marker to clear and no kept side to rewrite: only its digest
    # side is scrubbed below (review finding r6: the unconditional
    # kept_dirs[bid] raised KeyError and aborted the whole pass)
    for bid in all_touched:
        if bid in kept_dirs:
            clear_commit_marker(spark, kept_dirs[bid])
    for bid in touched_dgs:
        keep_dg = (spark.read.parquet(dg_dirs[bid])
                   .join(F.broadcast(drop_dgs), "dg", "left_anti")
                   .localCheckpoint())
        keep_dg.write.mode("overwrite").parquet(dg_dirs[bid])
    for bid in all_touched:
        if bid not in kept_dirs:
            continue  # torn digests-only batch: no kept side exists
        keep = (spark.read.parquet(kept_dirs[bid])
                .join(F.broadcast(id_df), id_col, "left_anti")
                .localCheckpoint())
        keep.write.mode("overwrite").parquet(kept_dirs[bid])  # marker back
    return all_touched
