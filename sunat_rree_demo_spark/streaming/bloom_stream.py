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
streams. Maintenance writes through ``sources/batch_store.py`` too:
``compact_bloom_store`` is a ``swap_generation`` and ``forget_docs``
rewrites each touched batch with ``rewrite_parts``.

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
    all_batch_dirs,
    committed_batch_dirs,
    drain,
    marker_committed,
    pending_rewrites,
    read_committed,
    rewrite_parts,
    swap_generation,
    write_batch,
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
    return (read_committed(spark, f"{store_path}/bloom",
                           f"{store_path}/kept", "word bigint, m bigint")
            .groupBy("word").agg(F.bit_or("m").alias("m")))


def committed_digests(spark: SparkSession, store_path: str) -> DataFrame:
    return read_committed(spark, f"{store_path}/digests",
                          f"{store_path}/kept", "dg string").select("dg")


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
    words = (
        kept.select(F.explode(_positions(F.col("dg"))).alias("pos"))
        .select((F.col("pos") / 63).cast("bigint").alias("word"),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(pos % 63 AS INT))").alias("mk"))
        .groupBy("word").agg(F.bit_or("mk").alias("m")))
    write_batch(spark, batch_id, [
        (f"{store_path}/stats", stats.write),
        (f"{store_path}/digests", kept.select("dg").write),
        (f"{store_path}/bloom", words.write),
        (f"{store_path}/kept", kept.write),  # the commit marker, last
    ])


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
    return read_committed(spark, kept, kept, f"dg string, {id_col} long")


def load_gate_stats(spark: SparkSession, store_path: str) -> DataFrame:
    return read_committed(
        spark, f"{store_path}/stats", f"{store_path}/kept",
        "batch_id long, n_docs long, n_unique long, "
        "n_definite_new long, n_maybe long, n_false_pos long, n_kept long")


def compact_bloom_store(spark: SparkSession, store_path: str) -> None:
    """Collapse committed digest/bloom batches into one negative-id
    generation (kept/stats are history and stay; an older generation's
    EMPTY kept marker goes): a ``swap_generation``, CRASH-SAFE at every
    step because this store is set-idempotent — digests deduplicate
    through the anti-join and bloom words merge by bit_or, so the new
    generation next to not-yet-retired old batches changes nothing a
    probe computes."""
    kept = f"{store_path}/kept"
    dirs_b = committed_batch_dirs(spark, f"{store_path}/bloom", kept)
    if not dirs_b:
        return
    dirs_d = committed_batch_dirs(spark, f"{store_path}/digests", kept)
    kept_schema = spark.read.parquet(
        f"{kept}/{BATCH_COL}={next(iter(dirs_b))}").schema
    swap_generation(spark, [
        (f"{store_path}/digests",
         spark.read.parquet(*dirs_d.values()).select("dg").distinct().write),
        (f"{store_path}/bloom",
         spark.read.parquet(*dirs_b.values())
         .groupBy("word").agg(F.bit_or("m").alias("m")).write),
        (kept, local_df(spark, [], kept_schema).write),
    ], dirs_b, [*dirs_d.values(), *dirs_b.values()])


def forget_docs(spark: SparkSession, store_path: str, ids: list,
                id_col: str = "doc_id") -> list[int]:
    """DELETION PROPAGATION (right-to-be-forgotten) for the dedup
    store: remove the given doc ids from the kept rows and their
    digests from the exact store, rewriting only the touched batch
    partitions. Kept rows are found in the committed batches and in
    those a crashed pass left mid-rewrite
    (``batch_store.pending_rewrites``); torn batches are left to their
    replay. Digests are dropped from EVERY partition holding them,
    torn ones and a compaction's negative-id generation included (or
    re-shipped forgotten content would stay suppressed).

    The BLOOM WORDS ARE LEFT ALONE — a bloom filter cannot unset bits,
    and it never needs to here: it is purely a routing layer, so a
    stale bit only costs one exact-store lookup, while the
    authoritative digest removal means a future re-ship of the
    forgotten content is treated as NEW and kept (the correct RTBF
    semantics). Returns the touched batch ids (kept and/or digest
    side). Each touched batch is rewritten by
    ``batch_store.rewrite_parts`` (digests, then kept), so a crash
    leaves at most that batch uncommitted, for a re-run of this pass
    to finish. OFFLINE maintenance like its index siblings."""
    id_df = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    kept_root = f"{store_path}/kept"
    pending = pending_rewrites(spark, kept_root)
    kept_dirs = {**committed_batch_dirs(spark, kept_root, kept_root),
                 **pending}
    if not kept_dirs:
        return []
    kept = spark.read.option("basePath", kept_root) \
        .parquet(*kept_dirs.values())
    hit = (kept.join(F.broadcast(id_df), id_col, "left_semi")
           .select(BATCH_COL, "dg").localCheckpoint())
    touched_kept = {r[BATCH_COL] for r in hit.select(BATCH_COL).collect()}
    if not touched_kept and not pending:
        return []
    drop_dgs = hit.select("dg").distinct()
    dg_dirs = all_batch_dirs(spark, f"{store_path}/digests")
    dgs = spark.read.option("basePath", f"{store_path}/digests") \
        .parquet(*dg_dirs.values())
    touched_dgs = {
        r[BATCH_COL]
        for r in dgs.join(F.broadcast(drop_dgs), "dg", "left_semi")
        .select(BATCH_COL).distinct().collect()}

    def scrub(part, drop, key):
        return part, (spark.read.parquet(part)
                      .join(F.broadcast(drop), key, "left_anti")
                      .localCheckpoint())

    all_touched = sorted(touched_kept | touched_dgs | set(pending))
    for bid in all_touched:
        # a digests dir can exist WITHOUT a kept twin — the torn
        # leftover of a crash between process_bloom_batch's digests
        # and kept writes: only its digest side is scrubbed, and it
        # stays uncommitted
        parts = [scrub(dg_dirs[bid], drop_dgs, "dg")] \
            if bid in touched_dgs else []
        if bid in touched_kept:
            parts.append(scrub(kept_dirs[bid], id_df, id_col))
        rewrite_parts(spark, f"{kept_root}/{BATCH_COL}={bid}", parts)
    return all_touched
