"""Streaming near-dup detection over a document ingest stream: each
micro-batch probes the persisted MinHash index for near-dups (against
everything ingested before it AND within itself), emits the pairs, then
absorbs the batch into the index — the streaming twin of the
batch-global q41 pipeline, built on operators.dedup_index.

Invariant (pinned by tests/test_dedup_stream.py): a pair is emitted in
exactly the micro-batch where its LATER document arrives, so draining a
corpus through the stream in any file split yields exactly the
batch-global ``minhash_lsh_pairs`` result.

Scale design: per batch, the corpus-side cost is one broadcast-probe
join against the stored band rows (no corpus shuffle — see
dedup_index); state lives in the index parquet, not the state store,
so it survives restarts and is queryable mid-stream.

Exactly-once: foreachBatch redelivers a batch (with the SAME batch id)
after a crash, so every write is keyed by that id and idempotent —
pairs overwrite ``pairs_path/batch_id=N``, the index absorbs via
``absorb_batch`` (partition-directory overwrites, bands last), and a
fully-committed batch (``batch_committed``) is skipped outright. A
replay therefore rewrites identical files or no files; it can never
append duplicate pairs or duplicate index rows. Pinned by
tests/test_dedup_stream.py::test_replay_is_exactly_once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from sunat_rree_demo_spark.operators.dedup import minhash_signatures
from sunat_rree_demo_spark.operators.dedup_index import (
    absorb_batch,
    batch_committed,
    incremental_near_dup_pairs,
)
from sunat_rree_demo_spark.sources.batch_store import BATCH_COL, drain

#: documents.parquet logical schema (file-source streams need one).
DOCS_FILE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def docs_file_stream(spark: SparkSession, directory: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """Replayable file-source stream over document parquet files."""
    return (
        spark.readStream.schema(DOCS_FILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )


def process_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                  index_path: str, pairs_path: str,
                  threshold: float = 0.3,
                  timings: list | None = None) -> None:
    """One micro-batch commit, idempotent under replay of the same
    (batch content, batch id) — foreachBatch's crash-recovery contract.
    Steps, in commit order: near-dup pairs overwrite
    ``pairs_path/batch_id=N``; ``absorb_batch`` overwrites the index's
    sigs then bands partitions for N. A replay of a fully-committed
    batch short-circuits on ``batch_committed``; a replay after a crash
    anywhere mid-sequence rewrites identical files (the probe result is
    unchanged because the new batch's own ids are resolved
    new-batch-wins against whatever partial index state survived)."""
    import time

    if batch_committed(spark, index_path, batch_id):
        return  # crash-replay of a fully-committed batch: no-op
    t0 = time.monotonic()
    # ONE signature pass per batch, and the only read of the batch's
    # text: the probe and the absorb share its checkpointed output (the
    # Python shingle/minhash pass dominates ingest cost) and take only
    # the session from ``batch_df``, so the batch itself is not
    # checkpointed.
    sig = minhash_signatures(batch_df, "doc_id", "text").localCheckpoint()
    t1 = time.monotonic()
    (incremental_near_dup_pairs(spark, batch_df, index_path,
                                threshold=threshold, new_sig=sig)
     .write.mode("overwrite")
     .parquet(f"{pairs_path}/{BATCH_COL}={batch_id}"))
    t2 = time.monotonic()
    absorb_batch(batch_df, index_path, batch_id, sig=sig)
    if timings is not None:
        # (batch_id, signature pass, index-read probe+pair write,
        # absorb write) — the capacity-planning split stream_bench
        # reports (the r10 SCALE.md table argued, not measured, that
        # the per-batch cost rides the probe's index read, not absorb)
        timings.append((batch_id, round(t1 - t0, 3),
                        round(t2 - t1, 3),
                        round(time.monotonic() - t2, 3)))


def run_dedup_stream(spark: SparkSession, docs_stream: DataFrame,
                     index_path: str, pairs_path: str,
                     threshold: float = 0.3, timeout: int = 300,
                     timings: list | None = None) -> None:
    """Drain the stream: per micro-batch, emit near-dup pairs to
    ``pairs_path/batch_id=N`` (read the root to get all pairs plus a
    discovered ``batch_id`` column) and absorb the batch into the
    index at ``index_path`` — ``process_batch`` per micro-batch.
    ``timings`` (optional) collects the per-batch
    (batch_id, sig_sec, probe_sec, absorb_sec) split."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(spark, batch_df, batch_id, index_path, pairs_path,
                      threshold, timings=timings)

    drain(docs_stream, handle, index_path, timeout, "dedup")
