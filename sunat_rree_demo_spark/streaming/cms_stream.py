"""Streaming count-min sketch: absorb a token stream micro-batch by
micro-batch into a PERSISTED mergeable sketch, and answer frequency
probes from it at any point — the streaming twin of the batch-global
q135 pipeline, built on operators.sketches.

Mergeability is the whole design: each batch writes only its OWN
(j, bucket, c) partial counters under ``cms_path/batch_id=N/``; the
live sketch is the SUM of all committed partials (counter addition is
associative + commutative), so ingest never reads or rewrites earlier
state — O(256 rows) written per batch, zero read-modify-write races.
Compare streaming/dedup_stream, whose index must be probed per batch;
a sketch's absorb path is strictly cheaper, which is why sketches are
the first thing real pipelines move to streaming.

Exactly-once: foreachBatch redelivers a batch with the SAME id after a
crash, so the partial write is keyed by that id (dynamic partition
overwrite) and a fully-committed batch (``_SUCCESS`` marker) is
skipped — a replay rewrites identical counters or nothing; it can
never double-count. Same protocol as operators.dedup_index, pinned by
tests/test_cms_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.localrel import local_df

from sunat_rree_demo_spark.operators.sketches import (
    cms_estimates,
    cms_partial_counts,
)
from sunat_rree_demo_spark.operators.text import tokens
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    clear_commit_marker,
    committed_batch_dirs,
    marker_committed,
)


def absorb_tokens_batch(spark: SparkSession, batch_df: DataFrame,
                        batch_id: int, cms_path: str,
                        text_col: str = "text") -> None:
    """Tokenize a document micro-batch and write its partial counters
    under ``cms_path/batch_id=N`` (idempotent: a committed batch id is
    skipped, an interrupted one is overwritten whole)."""
    if marker_committed(spark, cms_path, batch_id):
        return
    # drop the commit marker BEFORE the overwrite: the delete phase
    # removes files in unspecified order, so load_cms could otherwise
    # see _SUCCESS while counter files are already gone mid-rewrite
    clear_commit_marker(spark, f"{cms_path}/{BATCH_COL}={batch_id}")
    tk = batch_df.select(F.explode(tokens(F.col(text_col))).alias("term"))
    (cms_partial_counts(tk)
     .write.mode("overwrite")
     .parquet(f"{cms_path}/{BATCH_COL}={batch_id}"))


def cms_ingest_handler(spark: SparkSession, cms_path: str,
                       text_col: str = "text"):
    """``foreachBatch`` handler: stream.writeStream.foreachBatch(this)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        absorb_tokens_batch(spark, batch_df, batch_id, cms_path, text_col)
    return handle


_CMS_SCHEMA = "j int, bucket bigint, c bigint"


def load_cms(spark: SparkSession, cms_path: str) -> DataFrame:
    """The live merged sketch: sum of every committed batch's partials
    (≤ DEPTH×WIDTH result rows; the scan is the partial files, bounded
    by 256 rows per batch). Before the FIRST batch commits the path
    holds no partials (or only the ``_stream_checkpoint`` dir, which
    parquet discovery ignores) — probing then must mean "all counters
    0", not an AnalysisException, so an empty sketch frame is returned
    for a missing/partial-free path.

    Only COMMITTED partials are visible: a batch dir missing its
    ``_SUCCESS`` marker (crashed mid-write, or mid-delete during a
    replay's whole-dir overwrite) is skipped, exactly as the absorb
    path skips it — otherwise a torn partial could be summed in and a
    mid-stream probe would undercount, breaking the one-sided
    est ≥ exact guarantee."""
    committed = committed_batch_dirs(spark, cms_path, cms_path)
    if not committed:
        return local_df(spark, [], _CMS_SCHEMA)
    return (spark.read.parquet(*committed.values())
            .groupBy("j", "bucket")
            .agg(F.sum("c").cast("bigint").alias("c")))


def probe_cms(spark: SparkSession, cms_path: str,
              terms: tuple[str, ...]) -> DataFrame:
    """(term, cms_est) frequency estimates for ``terms`` from the
    persisted sketch — the mid-stream queryability a state-store sketch
    wouldn't give."""
    probes = local_df(spark, [(t,) for t in terms], "term string")
    return cms_estimates(load_cms(spark, cms_path), probes)
