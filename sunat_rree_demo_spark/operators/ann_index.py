"""Persisted IVF vector index — train once, lay the corpus out
partitioned BY CELL, serve top-k from the probed cells' FILES only.
The similarity-family twin of ``operators/dedup_index.py`` (same
lifecycle: offline build, cheap recurring queries), and the on-disk
form of q172's session-memoized fit.

Layout under ``<path>/``:

* ``centroids/batch_id=G/`` — (cluster int, centroid array<bigint>):
  the k micro-unit centroid rows (the Faiss-style coarse quantizer) of
  generation G, written with that generation's vectors (a path with
  plain files under ``centroids/``, the older layout, must be deleted
  before a build: Spark rejects them next to ``batch_id=`` dirs).
* ``vectors/batch_id=N/cluster=K/`` — (vec_id, embedding, d2): each
  ingest batch partitioned by assigned cell, under its own batch
  directory. A search filters on the cell column, so Spark's file
  index PRUNES every non-probed cell directory inside every batch —
  the on-disk analog of IVF inverted lists; I/O scales with
  nprobe/k of the corpus, not the corpus
  (pinned by tests/test_ann_index.py's execution-pruning contract).

Incremental lifecycle (the dedup_index protocol applied to vectors):
a build or a compaction is a ``batch_store.swap_generation`` to one
negative-id generation (never colliding with stream epochs), whose
centroids go live with its vectors' marker; ``absorb_ivf_batch``
assigns new vectors under the FIXED stored centroids (``assign_under``
is stateless and deterministic) and OVERWRITES its own batch
directory, whose ``_SUCCESS`` is the commit marker — replay-idempotent,
torn batches invisible to ``committed_vector_dirs`` readers. Centroids
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
    committed_batch_dirs,
    marker_committed,
    pending_rewrites,
    rewrite_parts,
    swap_generation,
    write_batch,
)


def _generation(path: str, cent: np.ndarray, vecs: DataFrame):
    """A generation's tables, vectors (the marker) last."""
    cent_df = local_df(
        vecs.sparkSession,
        [(ci, [int(v) for v in row]) for ci, row in enumerate(cent)],
        "cluster int, centroid array<bigint>")
    return [(f"{path}/centroids", cent_df.write),
            (f"{path}/vectors", vecs.write.partitionBy("cluster"))]


def write_ivf_index(emb: DataFrame, path: str, k: int = 8,
                    iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Build the index at ``path``: fit, then write centroids and the
    cell-partitioned corpus as a generation that replaces every batch
    already there (batch −1 on an empty path)."""
    cent, assign = kmeans_fit(emb, k=k, iters=iters,
                              id_col=id_col, vec_col=vec_col)
    vecs = (emb.select(id_col, vec_col)
            .join(assign.select(id_col, "cluster", "d2"), id_col))
    swap_generation(emb.sparkSession, _generation(path, cent, vecs))


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
    vecs = (new_emb.select(id_col, vec_col)
            .join(assign.select(id_col, "cluster", "d2"), id_col))
    write_batch(spark, batch_id,
                [(f"{path}/vectors", vecs.write.partitionBy("cluster"))])


def load_centroids(spark: SparkSession, path: str) -> np.ndarray:
    """(k × d) int64 centroid matrix, row i = cluster i, of the newest
    generation whose vectors are committed (while a forget pass holds
    that marker cleared: of the oldest, which no swap replaced)."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cluster") \
        .collect()
    gens = {r[BATCH_COL] for r in rows}
    live = [g for g in gens if marker_committed(spark, f"{path}/vectors", g)]
    gen = min(live) if live else max(gens)
    return np.asarray([r.centroid for r in rows if r[BATCH_COL] == gen],
                      dtype=np.int64)


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


def forget_vectors(spark: SparkSession, path: str, ids: list,
                   id_col: str = "vec_id") -> list[tuple[int, int]]:
    """DELETION PROPAGATION for the vector index: drop the given ids,
    rewriting only the (batch, cell) partitions that hold them — one
    scan over the committed batches and those a crashed pass left
    (``batch_store.pending_rewrites``) locates them; torn batches stay
    untouched for their replay, and so do untouched directories
    (test-pinned). ``batch_store.rewrite_parts`` sets each touched
    batch's marker aside while its cells rewrite, so a concurrent
    committed-gated search never torn-reads a cell mid-overwrite.
    Returns the touched (batch_id, cluster) pairs. OFFLINE maintenance
    (not transactional against a concurrent absorb); centroids are
    unchanged — deletion never moves surviving vectors between cells,
    so searches stay consistent throughout."""
    vectors = f"{path}/vectors"
    pending = pending_rewrites(spark, vectors)
    dirs = {**committed_batch_dirs(spark, vectors, vectors), **pending}
    if not dirs:
        return []
    id_df = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    vecs = spark.read.option("basePath", vectors).parquet(*dirs.values())
    touched = sorted(
        (r[BATCH_COL], r["cluster"])
        for r in vecs.join(F.broadcast(id_df), id_col, "left_semi")
        .select(BATCH_COL, "cluster").distinct().collect())
    for bid in sorted({b for b, _c in touched} | set(pending)):
        parts = [f"{dirs[bid]}/cluster={c}" for b, c in touched if b == bid]
        rewrite_parts(spark, dirs[bid], [
            (p, spark.read.parquet(p)
             .join(F.broadcast(id_df), id_col, "left_anti")
             .localCheckpoint()) for p in parts])
    return touched


def compact_ivf_index(spark: SparkSession, path: str,
                      id_col: str = "vec_id") -> None:
    """Collapse committed batches into one negative-id generation,
    keeping the LATEST batch's row per vector id — reclaims re-ingest
    duplicates and makes search results exact again for vectors whose
    edit moved them between cells (see ``ivf_index_search``'s
    candidate-scale latest-wins caveat). The live centroids are copied
    into the generation unchanged. Same rules as
    ``dedup_index.compact_minhash_index``: a ``swap_generation`` to a
    negative target id (never a stream epoch), OFFLINE maintenance.

    CRASH-SAFE at every step: the compacted generation is written and
    committed FIRST, the batches it merged retired after. Transient
    coexistence is benign because every reader resolves
    latest-batch-wins and the compacted generation carries the LOWEST
    batch id with exactly the newest copy per vector id, so a reader
    that sees both picks the original's newest row — identical values.
    A crash mid-retire leaves survivors whose rows equal the compacted
    copies; re-running this pass merges them away."""
    vectors = f"{path}/vectors"
    sources = committed_batch_dirs(spark, vectors, vectors)
    if not sources:
        return
    vecs = spark.read.option("basePath", vectors).parquet(*sources.values())
    other = [c for c in vecs.columns if c not in (id_col, BATCH_COL)]
    latest = (vecs.groupBy(id_col)
              .agg(F.max_by(F.struct(*other), BATCH_COL).alias("_s"))
              .select(id_col, *[F.col(f"_s.{c}").alias(c) for c in other]))
    swap_generation(
        spark, _generation(path, load_centroids(spark, path), latest),
        sources, list(sources.values()))
