"""Streaming training-data curation: ingest a document stream through
the per-doc curation gates micro-batch by micro-batch, maintain the
incremental MinHash dedup index as state, and FINALIZE into exactly the
corpus the batch ``plans.curate.curate`` recipe produces — the
streaming twin of the composed curation job, built on
``operators.dedup_index`` and ``streaming.dedup_stream``'s proven
exactly-once protocol.

Split of labor (why this equals the batch plan):

* **Per-doc gates stream.** Quality scoring and probe-suite
  decontamination are functions of one document (the probe set is a
  fixed broadcast side), so gating per micro-batch is EXACTLY the
  batch filter — order-independent.
* **Pair discovery streams.** Gated docs probe-then-absorb the
  persisted MinHash index; by the dedup_stream invariant the union of
  per-batch pairs over any file split equals the batch-global
  ``minhash_lsh_pairs`` of the gated corpus (pinned by
  tests/test_dedup_index.py / test_dedup_stream.py).
* **Election finalizes.** Best-quality-per-cluster election is NOT
  streamable without retractions (a later, better document would have
  to evict an already-emitted one), so it runs once at the end — over
  pair-scale state, never re-scanning the corpus. ``finalize_curated``
  exact-dedups the gated store, restricts the accumulated pairs to the
  exact-dedup survivors (LSH collision is a pairwise property, so this
  equals running pair generation after exact dedup, as the batch plan
  does), and hands both to the SAME ``plans.curate.elect_and_pack``
  code the batch path runs. Batch ≡ stream is therefore structural,
  and tests/test_curate_stream.py checks it row-for-row.

Out of streaming scope, by the same corpus-global logic: the optional
DSIR selection and boilerplate-chunk gates compare each doc against
whole-corpus statistics; run them in ``finalize_curated``'s batch
position if needed (they compose — both are filters on ``kept``).

Exactly-once: the store layout is one directory per concern, every
write keyed by batch id (``docs/batch_id=N`` overwrite; pairs + index
via the dedup_index protocol, bands-partition ``_SUCCESS`` as the
commit marker written LAST), so a foreachBatch crash replay rewrites
identical files or skips outright — same protocol as
streaming/dedup_stream.py, pinned there by test_replay_is_exactly_once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
)
from sunat_rree_demo_spark.operators.dedup_index import (
    absorb_batch,
    batch_committed,
    incremental_near_dup_pairs,
)
from sunat_rree_demo_spark.operators.text import quality_score, tokens
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    committed_batch_dirs,
    drain,
)


def gate_docs(docs: DataFrame, probe: DataFrame | None = None,
              id_col: str = "doc_id", text_col: str = "text",
              min_quality: float = 0.25, contamination_n: int = 8,
              contamination_min_overlap: int = 1) -> DataFrame:
    """The per-doc curation gates (plans.curate steps 1-2): quality
    score + threshold, then probe-suite decontamination. Pure per-row
    w.r.t. the corpus (the probe side is fixed), hence identical
    whether applied to the whole corpus or to each micro-batch."""
    from sunat_rree_demo_spark.operators.dedup import contamination_overlap

    scored = docs.withColumn(
        "quality", quality_score(tokens(F.col(text_col))))
    kept = scored.filter(F.col("quality") >= min_quality)
    if probe is not None:
        dirty = contamination_overlap(
            kept, probe, id_col, text_col, n=contamination_n,
            min_overlap=contamination_min_overlap).select(id_col)
        kept = kept.join(dirty, id_col, "left_anti")
    return kept


def process_curate_batch(spark: SparkSession, batch_df: DataFrame,
                         batch_id: int, store_path: str,
                         probe: DataFrame | None = None,
                         id_col: str = "doc_id", text_col: str = "text",
                         min_quality: float = 0.25,
                         near_dup_threshold: float = 0.3,
                         contamination_n: int = 8,
                         contamination_min_overlap: int = 1) -> None:
    """One idempotent micro-batch commit: gate → persist gated docs
    under ``docs/batch_id=N`` → emit near-dup pairs touching the batch
    under ``pairs/batch_id=N`` → absorb into the index (its bands
    partition's ``_SUCCESS``, written last, is the batch commit
    marker)."""
    index_path = f"{store_path}/index"
    if batch_committed(spark, index_path, batch_id):
        return  # crash-replay of a fully-committed batch: no-op
    gated = gate_docs(
        batch_df, probe, id_col, text_col, min_quality,
        contamination_n, contamination_min_overlap).localCheckpoint()
    (gated.write.mode("overwrite")
     .parquet(f"{store_path}/docs/{BATCH_COL}={batch_id}"))
    # one signature pass shared by probe and absorb (see dedup_stream)
    sig = minhash_signatures(gated, id_col, text_col).localCheckpoint()
    (incremental_near_dup_pairs(spark, gated, index_path,
                                id_col=id_col, text_col=text_col,
                                threshold=near_dup_threshold,
                                new_sig=sig)
     .write.mode("overwrite")
     .parquet(f"{store_path}/pairs/{BATCH_COL}={batch_id}"))
    absorb_batch(gated, index_path, batch_id,
                 id_col=id_col, text_col=text_col, sig=sig)


def run_curate_stream(spark: SparkSession, docs_stream: DataFrame,
                      store_path: str, probe: DataFrame | None = None,
                      min_quality: float = 0.25,
                      near_dup_threshold: float = 0.3,
                      timeout: int = 300, **gate_kwargs) -> None:
    """Drain the stream through ``process_curate_batch`` (availableNow,
    resumable from the stream checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_curate_batch(
            spark, batch_df, batch_id, store_path, probe,
            min_quality=min_quality,
            near_dup_threshold=near_dup_threshold, **gate_kwargs)

    drain(docs_stream, handle, store_path, timeout, "curate")


def finalize_curated(spark: SparkSession, store_path: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     budget: int = 256, shards: int = 16) -> DataFrame:
    """Election over the streamed state: exact-dedup the gated store,
    restrict accumulated pairs to the survivors, then run the SAME
    ``elect_and_pack`` tail as the batch plan. Cost is
    gated-store + pairs scale — one corpus read, no re-shingling (the
    signatures live in the index)."""
    from sunat_rree_demo_spark.plans.curate import elect_and_pack

    # only COMMITTED batches are visible (same crash class load_cms
    # guards against): docs and pairs are written BEFORE the index's
    # bands commit marker, so a marker implies both are complete; a
    # torn batch (docs written, pairs/index not) would otherwise feed
    # documents with zero edges into the election and let duplicates
    # the batch plan evicts survive. Uncommitted batches re-drain on
    # stream restart and become visible then.
    committed = committed_batch_dirs(spark, f"{store_path}/docs",
                                     f"{store_path}/index/bands")
    if not committed:
        raise FileNotFoundError(
            f"finalize_curated: no committed batches under {store_path} "
            f"(stream not drained, or every batch torn mid-commit)")
    gated = spark.read.parquet(*committed.values())
    kept = exact_dedup(gated, text_col, id_col)
    # semi-joins on the pair side: pairs are pair-scale, ids are
    # corpus-scale — no broadcast hint, let AQE size the build side
    ids = kept.select(id_col)
    pairs = (spark.read.parquet(
                *[f"{store_path}/pairs/{BATCH_COL}={bid}"
                  for bid in committed])
             .select("id1", "id2")
             .join(ids.withColumnRenamed(id_col, "id1"), "id1", "left_semi")
             .join(ids.withColumnRenamed(id_col, "id2"), "id2", "left_semi"))
    return elect_and_pack(kept, pairs, id_col, text_col,
                          budget=budget, shards=shards)
