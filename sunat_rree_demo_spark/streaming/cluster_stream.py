"""Streaming cluster assignment: score each micro-batch of embeddings
against a FIXED k-means fit — the train-offline/serve-online half of
the clustering pipeline (operators/clustering.py trains; this serves).
New corpus deliveries get their semantic cell the moment they land,
without refitting or re-scanning history.

Assignment under fixed centroids is stateless and, because every
distance is exact int64 micro-unit arithmetic, DETERMINISTIC — so the
exactly-once story is the simplest of the streaming modules: each
batch writes ``assign/batch_id=N`` in one parquet overwrite, whose own
``_SUCCESS`` is the commit marker. A committed replay short-circuits;
a crash replay overwrites byte-identically; readers
(``load_assignments``) see committed partitions only, so torn batches
are invisible (same reader gate as streaming.novelty_stream).

Scale: per batch one narrow mapInPandas pass, the (k × d) centroid
matrix in the task closure — no shuffle, no state store, no history
scan. Batch/stream equivalence (union of streamed assignments ==
``kmeans_fit``'s one-shot assignment under the same centroids) is
pinned by tests/test_cluster_stream.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from sunat_rree_demo_spark.operators.clustering import assign_under
from sunat_rree_demo_spark.sources.batch_store import (
    drain,
    marker_committed,
    read_committed,
    write_batch,
)

EMB_FILE_SCHEMA = "vec_id long, embedding array<float>, label int"


def embeddings_file_stream(spark: SparkSession, directory: str,
                           max_files_per_trigger: int = 1) -> DataFrame:
    """Replayable file-source stream over embedding parquet files."""
    return (
        spark.readStream.schema(EMB_FILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )


def process_assign_batch(spark: SparkSession, batch_df: DataFrame,
                         batch_id: int, store_path: str,
                         centroids: np.ndarray, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> None:
    """One idempotent micro-batch: nearest-centroid assignment, one
    overwrite, the parquet ``_SUCCESS`` as the commit marker."""
    if marker_committed(spark, f"{store_path}/assign", batch_id):
        return
    out = assign_under(batch_df, centroids, id_col=id_col, vec_col=vec_col)
    write_batch(spark, batch_id, [(f"{store_path}/assign", out.write)])


def run_cluster_stream(spark: SparkSession, emb_stream: DataFrame,
                       store_path: str, centroids: np.ndarray,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       timeout: int = 300) -> None:
    """Drain the stream through ``process_assign_batch`` (availableNow,
    resumable from the checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_assign_batch(spark, batch_df, batch_id, store_path,
                             centroids, id_col=id_col, vec_col=vec_col)

    drain(emb_stream, handle, store_path, timeout, "cluster")


def load_assignments(spark: SparkSession, store_path: str,
                     id_col: str = "vec_id") -> DataFrame:
    """All COMMITTED batches' assignments (torn partials invisible).
    ``id_col`` names the empty-store schema's id column."""
    assign = f"{store_path}/assign"
    return read_committed(spark, assign, assign,
                          f"{id_col} long, cluster int, d2 bigint")
