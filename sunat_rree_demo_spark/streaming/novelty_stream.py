"""Streaming novelty accounting: score each micro-batch's documents
against everything ingested BEFORE them (and ahead of peers within
their own batch) using the shared Rabin–Karp window keys — the
streaming twin of q150's batch ``rolling_novelty``, with the same
exactly-once protocol as the cms/dedup streams.

Semantics: a window key is NOVEL for the earliest document that
carries it, "earliest" meaning (earlier committed batch) < (same
batch, smaller doc id). When a corpus is drained in ascending-id file
order this equals the batch operator's global min-id election exactly
— pinned row-for-row by tests/test_novelty_stream.py. Under arbitrary
arrival order the stream computes arrival-order novelty (what an
ingest pipeline actually wants: "what did this delivery add?"),
which the batch twin can't express.

State layout under ``store_path``:

* ``keys/batch_id=N/`` — the batch's first-seen keys (those NOT in
  any earlier committed batch). Written LAST; its ``_SUCCESS`` is the
  batch commit marker.
* ``stats/batch_id=N/`` — per-doc (id, n_windows, n_novel,
  novelty_frac), the q150 output shape.

Exactly-once: a committed batch id short-circuits; a crash replay
recomputes IDENTICAL stats (the probe reads only committed key
partitions, so a torn batch's own partials are invisible — same
``_SUCCESS`` gate as streaming.cms_stream.load_cms) and overwrites
both partitions byte-identically.

Scale: the per-batch probe is one semi-join of the batch's keys
against the accumulated key store — the same new-vs-index shape as
operators.dedup_index, whose bucketed-band layout is the documented
upgrade once the key store outgrows a plain scan (bucket the key
column; the probe then touches matching buckets only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from sunat_rree_demo_spark.localrel import local_df

from sunat_rree_demo_spark.operators.dedup import rolling_window_keys
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    clear_commit_marker,
    committed_batch_dirs,
    drain,
    marker_committed,
)


def seen_keys(spark: SparkSession, store_path: str) -> DataFrame:
    """Every key in a COMMITTED batch (torn partials invisible)."""
    keys = f"{store_path}/keys"
    dirs = committed_batch_dirs(spark, keys, keys)
    if not dirs:
        return local_df(spark, [], "key bigint")
    return spark.read.parquet(*dirs.values()).select("key")


def process_novelty_batch(spark: SparkSession, batch_df: DataFrame,
                          batch_id: int, store_path: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          n: int = 8) -> None:
    """One idempotent micro-batch: score docs against the committed
    key store + their own batch, write ``stats/batch_id=N``, then the
    batch's first-seen keys as the commit marker."""
    if marker_committed(spark, f"{store_path}/keys", batch_id):
        return
    ks = (rolling_window_keys(batch_df, id_col, text_col, n)
          .localCheckpoint())  # one Python key pass per batch
    old = seen_keys(spark, store_path)
    # a key is novel for exactly one doc: not seen in any committed
    # batch AND earliest (min id) within this batch. Checkpointed:
    # the stats write AND the keys write both read it, and the
    # anti-join probes the whole accumulated key store — the most
    # expensive join in the batch must run once, not per action.
    fresh = ks.join(old, "key", "left_anti").localCheckpoint()
    first = F.min(id_col).over(Window.partitionBy("key"))
    flagged = fresh.withColumn("_first", first)
    novel_per_doc = (flagged.filter(F.col("_first") == F.col(id_col))
                     .groupBy(id_col)
                     .agg(F.count("*").cast("bigint").alias("n_novel")))
    stats = (
        ks.groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_windows"))
        .join(novel_per_doc, id_col, "left")
        .select(F.col(id_col),
                "n_windows",
                F.coalesce("n_novel", F.lit(0)).cast("bigint")
                .alias("n_novel"))
        .withColumn(
            "novelty_frac",
            F.expr("(2*10000*n_novel + n_windows) div (2*n_windows)")
            .cast("double") / 10000.0)
    )
    (stats.write.mode("overwrite")
     .parquet(f"{store_path}/stats/{BATCH_COL}={batch_id}"))
    # drop the commit marker before the keys rewrite (see
    # batch_store.clear_commit_marker: closes the mid-delete window
    # where a committed-only reader could take a torn partition)
    clear_commit_marker(spark, f"{store_path}/keys/{BATCH_COL}={batch_id}")
    (fresh.select("key").distinct()
     .write.mode("overwrite")
     .parquet(f"{store_path}/keys/{BATCH_COL}={batch_id}"))


def run_novelty_stream(spark: SparkSession, docs_stream: DataFrame,
                       store_path: str, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 8,
                       timeout: int = 300) -> None:
    """Drain the stream through ``process_novelty_batch``
    (availableNow, resumable from the checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_novelty_batch(spark, batch_df, batch_id, store_path,
                              id_col=id_col, text_col=text_col, n=n)

    drain(docs_stream, handle, store_path, timeout, "novelty")


def load_novelty_stats(spark: SparkSession, store_path: str,
                       id_col: str = "doc_id") -> DataFrame:
    """All committed batches' per-doc stats (q150 output shape).
    ``id_col`` must match the drain's — it names the empty-store
    schema's id column so the empty and non-empty paths agree."""
    dirs = committed_batch_dirs(spark, f"{store_path}/stats",
                                f"{store_path}/keys")
    if not dirs:
        return local_df(spark, 
            [], f"{id_col} long, n_windows bigint, n_novel bigint, "
                "novelty_frac double")
    return spark.read.parquet(*dirs.values())
