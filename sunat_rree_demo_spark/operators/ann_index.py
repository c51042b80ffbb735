"""Persisted IVF vector index — train once, lay the corpus out
partitioned BY CELL, serve top-k from the probed cells' FILES only.
The similarity-family twin of ``operators/dedup_index.py`` (same
lifecycle: offline build, cheap recurring queries), and the on-disk
form of q172's session-memoized fit.

Layout under ``<path>/``:

* ``centroids/`` — (cluster int, centroid array<bigint>): the k
  micro-unit centroid rows (the Faiss-style coarse quantizer).
* ``vectors/batch_id=N/cluster=K/`` — (vec_id, embedding, d2): each
  ingest batch partitioned by assigned cell, under its own batch
  directory. A search filters on the cell column, so Spark's file
  index PRUNES every non-probed cell directory inside every batch —
  the on-disk analog of IVF inverted lists; I/O scales with
  nprobe/k of the corpus, not the corpus
  (pinned by tests/test_ann_index.py's execution-pruning contract).

Incremental lifecycle (the dedup_index protocol applied to vectors):
the bootstrap build lands as ``batch_id=-1`` (negative space, never
colliding with stream epochs); ``absorb_ivf_batch`` assigns new
vectors under the FIXED stored centroids (``assign_under`` is
stateless and deterministic) and OVERWRITES its own batch directory,
whose ``_SUCCESS`` is the commit marker — replay-idempotent, torn
batches invisible to ``committed_vector_dirs`` readers. Centroids
stay frozen between offline refits (standard IVF practice: cell
drift degrades recall slowly; refit + rewrite is the compaction
analog).

Determinism: the fit is ``operators.clustering.kmeans_fit`` — exact
int64 micro-unit Lloyd — so an index built twice from the same corpus
is byte-identical, and index-served search results equal the
session-fit q172 path row-for-row (test-pinned).

Scale: the build is the k-means fit (bounded per-round partials) plus
one partitioned write; k (cells) should grow ~sqrt(corpus) so both the
centroid table and each cell stay manageable — at 10⁹ vectors, k≈32k
centroids still broadcast (a few MB) and cells hold ~30k vectors. The
probe-side scan reads nprobe directories with the query batch in the
task closure (the q43/q172 device).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from sunat_rree_demo_spark.localrel import local_df
from sunat_rree_demo_spark.operators.clustering import (
    kmeans_fit,
    quantize_micros,
)
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    _hadoop_fs,
    clear_commit_marker,
    committed_batch_dirs,
    marker_committed,
)


def write_ivf_index(emb: DataFrame, path: str, k: int = 8,
                    iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Build the index at ``path`` (full overwrite): fit, then write
    centroids and the cell-partitioned corpus as batch −1 (negative
    space — stream epochs start at 0, see module docstring)."""
    spark = emb.sparkSession
    cent, assign = kmeans_fit(emb, k=k, iters=iters,
                              id_col=id_col, vec_col=vec_col)
    cent_df = local_df(
        spark, [(int(ci), [int(v) for v in cent[ci]]) for ci in range(k)],
        "cluster int, centroid array<bigint>")
    cent_df.write.mode("overwrite").parquet(f"{path}/centroids")
    (emb.select(id_col, vec_col)
     .join(assign.select(id_col, "cluster", "d2"), id_col)
     .write.partitionBy("cluster").mode("overwrite")
     .parquet(f"{path}/vectors/{BATCH_COL}=-1"))


def committed_vector_dirs(spark: SparkSession, path: str) -> list[str]:
    """Batch directories whose commit marker exists (torn writes are
    invisible, the dedup_index/novelty reader rule)."""
    vectors = f"{path}/vectors"
    return list(committed_batch_dirs(spark, vectors, vectors).values())


def absorb_ivf_batch(spark: SparkSession, new_emb: DataFrame, path: str,
                     batch_id: int, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Idempotently absorb one identified vector batch: assign under
    the FIXED stored centroids (stateless, deterministic) and
    overwrite the batch's own cell-partitioned directory; ``_SUCCESS``
    lands last as the commit marker."""
    from sunat_rree_demo_spark.operators.clustering import assign_under

    if marker_committed(spark, f"{path}/vectors", batch_id):
        return
    cent = load_centroids(spark, path)
    assign = assign_under(new_emb, cent, id_col=id_col, vec_col=vec_col)
    clear_commit_marker(spark, f"{path}/vectors/{BATCH_COL}={batch_id}")
    (new_emb.select(id_col, vec_col)
     .join(assign.select(id_col, "cluster", "d2"), id_col)
     .write.partitionBy("cluster").mode("overwrite")
     .parquet(f"{path}/vectors/{BATCH_COL}={batch_id}"))


def load_centroids(spark: SparkSession, path: str) -> np.ndarray:
    """(k × d) int64 centroid matrix, row i = cluster i."""
    rows = (spark.read.parquet(f"{path}/centroids")
            .orderBy("cluster").collect())
    return np.asarray([r.centroid for r in rows], dtype=np.int64)


def ivf_index_search(spark: SparkSession, path: str,
                     queries: pd.DataFrame, topk: int = 5,
                     nprobe: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Top-k neighbors for a BOUNDED query batch served from the index:
    probe cells chosen driver-side against the tiny centroid table
    (ties → lower cluster), the corpus scan filtered to the probed
    cells (directory-level pruning), one Arrow distance pass, per-query
    top-k (ties → lower id). ``queries`` is a pandas frame with columns
    (q_id, embedding); self-matches (n_id == q_id) are excluded, like
    q172."""
    cent = load_centroids(spark, path)
    qmat = quantize_micros(queries[vec_col if vec_col in queries
                                   else "embedding"])
    q_ids = queries["q_id"].to_numpy(np.int64)
    d2c = ((qmat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    probes = []
    for qi in range(len(q_ids)):
        order = np.lexsort((np.arange(cent.shape[0]), d2c[qi]))
        probes += [(int(q_ids[qi]), int(ci)) for ci in order[:nprobe]]
    probe_df = local_df(spark, probes, "q_id long, cluster int")
    probed_cells = sorted({c for _, c in probes})

    dirs = committed_vector_dirs(spark, path)
    if not dirs:
        return local_df(
            spark, [], "q_id long, rank bigint, n_id long, d2 long")
    vecs = (spark.read.option("basePath", f"{path}/vectors")
            .parquet(*dirs)
            .filter(F.col("cluster").isin(probed_cells)))  # dir pruning
    # re-ingested ids resolve latest-batch-wins at PROBED scale (the
    # dedup_index rule): within the probed cells, only the newest copy
    # of an id scores. Caveat shared with the dedup index: an edited
    # vector whose new version moved to a NON-probed cell can still
    # surface its stale location until ``compact_ivf_index`` runs —
    # candidate-scale resolution never rescans the corpus.
    wlatest = Window.partitionBy(id_col).orderBy(F.desc(BATCH_COL))
    vecs = (vecs.withColumn("_vrn", F.row_number().over(wlatest))
            .filter(F.col("_vrn") == 1).drop("_vrn"))
    cand = (vecs.join(F.broadcast(probe_df), "cluster")
            .filter(F.col(id_col) != F.col("q_id"))
            .select("q_id", id_col, vec_col))

    qindex = {int(v): i for i, v in enumerate(q_ids)}
    out_schema = T.StructType([
        T.StructField("q_id", T.LongType()),
        T.StructField("n_id", T.LongType()),
        T.StructField("d2", T.LongType()),
    ])

    def dists(batches, _qm=qmat, _qx=qindex):
        for pdf in batches:
            if not len(pdf):
                continue
            xq = quantize_micros(pdf[vec_col])
            qi = pdf["q_id"].map(_qx).to_numpy()
            d2 = ((xq - _qm[qi]) ** 2).sum(axis=1)
            yield pd.DataFrame({
                "q_id": pdf["q_id"].to_numpy(np.int64),
                "n_id": pdf[id_col].to_numpy(np.int64),
                "d2": d2.astype(np.int64)})

    scored = cand.mapInPandas(dists, out_schema)
    w = Window.partitionBy("q_id").orderBy("d2", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= topk)
        .select("q_id", "rank", "n_id", "d2")
        .orderBy("q_id", "rank")
    )


def _touch_marker(spark: SparkSession, dir_path: str) -> None:
    """(Re)create ``dir_path/_SUCCESS`` — restores a batch's commit
    marker after an in-place maintenance rewrite of its cell dirs."""
    fs, marker = _hadoop_fs(spark, f"{dir_path}/_SUCCESS")
    fs.create(marker, True).close()


def forget_vectors(spark: SparkSession, path: str, ids: list,
                   id_col: str = "vec_id") -> list[tuple[int, int]]:
    """DELETION PROPAGATION for the vector index: drop the given ids,
    rewriting only the (batch, cell) partitions that hold them — one
    committed-dirs scan locates them (torn batches stay untouched and
    invisible, the module's reader rule), untouched directories stay
    byte-identical (test-pinned). Each touched batch's commit marker
    is CLEARED before its cells rewrite and restored after, so a
    concurrent committed-gated search never torn-reads a cell
    mid-overwrite (same discipline as dedup_index.forget_ids).
    Returns the touched (batch_id, cluster) pairs. OFFLINE maintenance
    (not transactional against a concurrent absorb); centroids are
    unchanged — deletion never moves surviving vectors between cells,
    so searches stay consistent throughout."""
    dirs = committed_vector_dirs(spark, path)
    if not dirs:
        return []
    id_df = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    vecs = spark.read.option("basePath", f"{path}/vectors").parquet(*dirs)
    touched = sorted(
        (r[BATCH_COL], r["cluster"])
        for r in vecs.join(F.broadcast(id_df), id_col, "left_semi")
        .select(BATCH_COL, "cluster").distinct().collect())
    by_batch: dict[int, list[int]] = {}
    for bid, cell in touched:
        by_batch.setdefault(bid, []).append(cell)
    for bid, cells in by_batch.items():
        bdir = f"{path}/vectors/{BATCH_COL}={bid}"
        clear_commit_marker(spark, bdir)
        for cell in cells:
            part = f"{bdir}/cluster={cell}"
            keep = (spark.read.parquet(part)
                    .join(F.broadcast(id_df), id_col, "left_anti")
                    .localCheckpoint())
            keep.write.mode("overwrite").parquet(part)
        _touch_marker(spark, bdir)
    return touched


def compact_ivf_index(spark: SparkSession, path: str,
                      id_col: str = "vec_id") -> None:
    """Collapse committed batches into one negative-id generation,
    keeping the LATEST batch's row per vector id — reclaims re-ingest
    duplicates and makes search results exact again for vectors whose
    edit moved them between cells (see ``ivf_index_search``'s
    candidate-scale latest-wins caveat). Same rules as
    ``dedup_index.compact_minhash_index``: negative target id (never a
    stream epoch), OFFLINE maintenance.

    CRASH-SAFE in any window without coordination (review finding r6:
    the original delete-before-write ordering lost the whole corpus on
    a crash between the deletes and the write): the compacted
    generation is written and committed FIRST, old directories deleted
    after — ``compact_bloom_store``'s ordering. Transient coexistence
    is benign because every reader resolves latest-batch-wins and the
    compacted generation carries the LOWEST batch id with exactly the
    newest copy per vector id, so a reader that sees both picks the
    original's newest row — identical values. A crash mid-delete
    leaves survivors whose rows equal the compacted copies; re-running
    this pass merges them away."""
    dirs = committed_vector_dirs(spark, path)
    if not dirs:
        return
    bids = [int(d.rsplit("=", 1)[1]) for d in dirs]
    if len(dirs) == 1 and bids[0] < 0:
        return  # already a single compacted generation: no-op
    target = min(min(bids), 0) - 1
    vecs = spark.read.option("basePath", f"{path}/vectors").parquet(*dirs)
    other = [c for c in vecs.columns if c not in (id_col, BATCH_COL)]
    latest = (vecs.groupBy(id_col)
              .agg(F.max_by(F.struct(*other), BATCH_COL).alias("_s"))
              .select(id_col, *[F.col(f"_s.{c}").alias(c) for c in other]))
    (latest.write.partitionBy("cluster").mode("overwrite")
     .parquet(f"{path}/vectors/{BATCH_COL}={target}"))
    # the new generation is committed (its _SUCCESS landed with the
    # write); only now retire the sources it replaced
    fs, _ = _hadoop_fs(spark, path)
    for d in dirs:
        fs.delete(_hadoop_fs(spark, d)[1], True)
