"""Streaming range-join enrichment: probe each micro-batch of points
against a committed INTERVAL dimension store using the same bucketed
point-in-interval join as the batch operator — the stream-side of the
"enrich events against a range table" pattern (IP→geo ranges, rate
tables, validity windows, activity intervals).

The interval store is a slowly-changing dimension: written (or
refreshed) out-of-band, read per batch. Enrichment under a FIXED
store is stateless and deterministic, so the exactly-once protocol
matches streaming.cluster_stream: each batch writes
``out/batch_id=N`` in one parquet overwrite whose own ``_SUCCESS`` is
the commit marker; committed replays short-circuit, crash replays
overwrite byte-identically, and readers see committed partitions only.

Batch/stream equivalence (union of streamed enrichments == the batch
``point_in_interval_join`` over the full point set, when the store is
fixed across the drain) is pinned by tests/test_enrich_stream.py.

Scale: per batch one hash equi-join on the bucket id against the
interval store — the store scans once per batch (bucket it by the
join column, or persist it, when it outgrows a plain read; the
dedup-index bucketed-band layout is the documented upgrade path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sunat_rree_demo_spark.operators.range_join import point_in_interval_join
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    committed_batch_dirs,
    drain,
    marker_committed,
)


def write_interval_store(intervals: DataFrame, store_path: str) -> None:
    """Materialize (refresh) the interval dimension the stream probes."""
    intervals.write.mode("overwrite").parquet(f"{store_path}/intervals")


def process_enrich_batch(spark: SparkSession, batch_df: DataFrame,
                         batch_id: int, store_path: str,
                         point_col: str, lo_col: str, hi_col: str,
                         bucket_width: int) -> None:
    """One idempotent micro-batch: bucketed range join against the
    current interval store, one overwrite, parquet ``_SUCCESS`` as the
    commit marker."""
    if marker_committed(spark, f"{store_path}/out", batch_id):
        return
    intervals = spark.read.parquet(f"{store_path}/intervals")
    out = point_in_interval_join(batch_df, intervals, point_col,
                                 lo_col, hi_col, bucket_width)
    (out.write.mode("overwrite")
     .parquet(f"{store_path}/out/{BATCH_COL}={batch_id}"))


def run_enrich_stream(spark: SparkSession, points_stream: DataFrame,
                      store_path: str, point_col: str, lo_col: str,
                      hi_col: str, bucket_width: int,
                      timeout: int = 300) -> None:
    """Drain the stream through ``process_enrich_batch`` (availableNow,
    resumable from the checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_enrich_batch(spark, batch_df, batch_id, store_path,
                             point_col, lo_col, hi_col, bucket_width)

    drain(points_stream, handle, store_path, timeout, "enrich")


def load_enriched(spark: SparkSession, store_path: str) -> DataFrame:
    """All COMMITTED batches' enriched rows (torn partials invisible).
    Raises if no batch has committed yet (the output schema is
    join-derived, so there is no meaningful empty-store schema)."""
    out = f"{store_path}/out"
    dirs = committed_batch_dirs(spark, out, out)
    if not dirs:
        raise FileNotFoundError(
            f"no committed enrichment batches under {out}")
    return spark.read.parquet(*dirs.values())
