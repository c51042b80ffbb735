"""Similarity-search queries over the embeddings table (driver
mandate): exact brute-force cosine top-k (oracle-checked — Spark's
sequential fold is bit-identical to DuckDB's list_cosine_similarity),
embedding near-dup pairs, and the ANN variants.

The ANN queries are FULLY oracle-checked (not rows-only): the LSH
hyperplanes are a closed form of sha-256 (operators.similarity.
_hyperplanes), so DuckDB re-derives the identical planes, buckets,
candidate sets, and re-ranked top-k in SQL; the registered IVF variant
pins ``iters=0`` (centroids = first 16 vectors by id), which makes the
quantizer's assignment/probe reproducible by a ranked cross join. The
Lloyd-trained IVF path (iters>0) and recall floors stay covered by
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sunat_rree_demo_spark.operators.similarity import (
    as_double,
    brute_force_topk,
    cosine,
    ivf_topk,
    lsh_bucketed_topk,
    near_dup_pairs_blocked,
    semantic_dedup,
)
from sunat_rree_demo_spark.localrel import local_df
from sunat_rree_demo_spark.queries.base import register, t
from sunat_rree_demo_spark.sources.catalog import session_memo


# ---------------------------------------------------------------------- q43
@register(
    "q43_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             round(list_cosine_similarity(q.v, e.v), 6) AS cos
      FROM q JOIN e ON e.vec_id <> q.vec_id
    )
    SELECT q_id, n_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, n_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY q_id, rank
    """,
    tags=("similarity", "ann-baseline"),
)
def q43_cosine_topk(spark, sf_dir):
    """Exact cosine top-5 for a broadcast query batch (vec_id < 8) —
    the ANN ground-truth baseline, computed as Arrow-batched numpy block
    products with per-batch pruning; cosines rounded to 6 decimals on
    both engines."""
    e = t(spark, sf_dir, "embeddings")
    return (
        brute_force_topk(e, e.filter(F.col("vec_id") < 8), k=5)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------- q44
@register(
    "q44_embedding_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    ORDER BY id1, id2
    """,
    tags=("similarity", "near-dup"),
)
def q44_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.3) — both sides blocked
    by hashed id, co-partitioned by block pair, numpy block matmul per
    group: no driver collect at any corpus size; the LSH bucketing (q45)
    is the sub-quadratic path."""
    e = t(spark, sf_dir, "embeddings")
    return near_dup_pairs_blocked(e, threshold=0.3).orderBy("id1", "id2")


# Shared oracle fragments: the LSH candidate derivation (planes from
# the sha-256 closed form, sign-bit buckets per table, bucket-collision
# candidates) and the exact re-rank tail. Composed into q45/q69.
_LSH_CAND_CTES = """
    pv AS (
      SELECT gp.p AS p, gd.d AS d,
             (('0x' || substr(sha256('plane:' || (gp.p*64 + gd.d)), 1, 12))
              ::UBIGINT % 2000001) / 1000000.0 - 1.0 AS val
      FROM generate_series(0, 15) gp(p), generate_series(0, 63) gd(d)
    ),
    planes AS (SELECT p, list(val ORDER BY d) AS plane FROM pv GROUP BY p),
    cb AS (
      SELECT e.vec_id, (pl.p // 4) AS tbl,
             SUM(CASE WHEN round(list_inner_product(e.v, pl.plane), 9) >= 0
                      THEN 1 << (pl.p % 4) ELSE 0 END) AS bucket
      FROM e, planes pl GROUP BY e.vec_id, (pl.p // 4)
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
      FROM cb JOIN cb qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
      WHERE qb.vec_id < 8 AND cb.vec_id <> qb.vec_id
    )"""

_RERANK_TAIL = """
    scored AS (
      SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(qe.v, ne.v), 6) AS cos
      FROM cand c JOIN e qe ON qe.vec_id = c.q_id
                  JOIN e ne ON ne.vec_id = c.n_id
    )
    SELECT q_id, n_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, n_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY q_id, rank"""


# ---------------------------------------------------------------------- q45
@register(
    "q45_ann_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_LSH_CAND_CTES},
    {_RERANK_TAIL}
    """,
    tags=("similarity", "ann-lsh"),
)
def q45_ann_lsh_topk(spark, sf_dir):
    """Approximate top-5 via random-hyperplane LSH buckets — each query
    scans only its bucket (~N/2^8 of the corpus). Fully oracle-checked:
    the sha-256 closed-form planes let DuckDB rebuild the identical
    buckets, candidates, and re-ranked top-k."""
    e = t(spark, sf_dir, "embeddings")
    return (
        lsh_bucketed_topk(e, e.filter(F.col("vec_id") < 8), k=5)
        .orderBy("q_id", "rank")
    )


# Shared IVF oracle fragment (q54 + q75): iters=0 centroids (first 16
# vectors by id) and the ranked-cross-join cell assignment that mirrors
# the engine's rounded-Euclidean argmin with centroid-id tiebreak.
_IVF_CENT_ASSIGN = """
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS ci, v
      FROM e ORDER BY vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, ci FROM (
        SELECT e.vec_id, c.ci,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round(list_distance(e.v, c.v), 9),
                                           c.ci) AS rn
        FROM e, cent c) WHERE rn = 1
    )"""


# ---------------------------------------------------------------------- q54
@register(
    "q54_ann_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_IVF_CENT_ASSIGN},
    probe AS (
      SELECT vec_id, ci FROM (
        SELECT q.vec_id, c.ci,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round(list_distance(q.v, c.v), 9),
                                           c.ci) AS rn
        FROM (SELECT * FROM e WHERE vec_id < 8) q, cent c) WHERE rn <= 4
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS q_id, a.vec_id AS n_id
      FROM probe p JOIN assign a ON a.ci = p.ci AND a.vec_id <> p.vec_id
    ),
    {_RERANK_TAIL}
    """,
    tags=("similarity", "ann-ivf"),
)
def q54_ann_ivf_topk(spark, sf_dir):
    """Approximate top-5 via an IVF coarse quantizer (16 cells, 4
    probes) — each query scans ~n_probe/n_centroids of the corpus; the
    corpus shuffles once by cell id. The registered variant pins
    ``iters=0`` (centroids = the first 16 vectors by id) so the DuckDB
    oracle reproduces assignment and probing with a ranked cross join;
    the Lloyd-trained path keeps its recall floor in
    tests/test_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    return (
        ivf_topk(e, e.filter(F.col("vec_id") < 8), k=5, iters=0)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------- q69
# q69 stays memoized like q43/q45/q54: its builders fetch only the
# bounded query batch (plan parameters) — the corpus-side work happens
# at execution, which the warm number measures
@register(
    "q69_ann_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_LSH_CAND_CTES},
    lsh AS (
      SELECT q_id, n_id FROM (
        SELECT c.q_id, c.n_id,
               row_number() OVER (PARTITION BY c.q_id
                                  ORDER BY round(list_cosine_similarity(
                                      qe.v, ne.v), 6) DESC, c.n_id) AS rank
        FROM cand c JOIN e qe ON qe.vec_id = c.q_id
                    JOIN e ne ON ne.vec_id = c.n_id) WHERE rank <= 5
    ),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round(list_cosine_similarity(
                                      q.v, e.v), 6) DESC, e.vec_id) AS rank
        FROM (SELECT * FROM e WHERE vec_id < 8) q
        JOIN e ON e.vec_id <> q.vec_id) WHERE rank <= 5
    )
    SELECT x.q_id, round(coalesce(h.hits, 0) / 5.0, 4) AS recall
    FROM (SELECT DISTINCT q_id FROM exact) x
    LEFT JOIN (SELECT q_id, count(*) AS hits
               FROM exact JOIN lsh USING (q_id, n_id) GROUP BY q_id) h
    USING (q_id)
    ORDER BY q_id
    """,
    tags=("similarity", "ann-lsh", "recall"),
)
def q69_ann_recall(spark, sf_dir):
    """Per-query recall@5 of the LSH ANN against the exact brute-force
    top-5, computed in-engine and rounded to 4dp — the oracle re-derives
    BOTH sides in SQL (the verdict-r3 ask: a hard green row for ANN
    quality instead of a rows-only check)."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    ann = lsh_bucketed_topk(e, qs, k=5).select("q_id", "n_id")
    exact = brute_force_topk(e, qs, k=5).select("q_id", "n_id")
    hits = (exact.join(ann, ["q_id", "n_id"])
            .groupBy("q_id").agg(F.count("*").alias("_hits")))
    return (
        exact.select("q_id").distinct()
        .join(hits, "q_id", "left")
        .select("q_id",
                F.round(F.coalesce(F.col("_hits"), F.lit(0)) / 5.0, 4)
                .alias("recall"))
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------- q75
@register(
    "q75_semantic_dedup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_IVF_CENT_ASSIGN},
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM assign a
      JOIN assign b ON a.ci = b.ci AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.3
    )
    SELECT a.vec_id, a.ci AS cell, (d.vec_id IS NOT NULL) AS is_dup
    FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
    ORDER BY a.vec_id
    """,
    tags=("similarity", "semantic-dedup"),
)
def q75_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): coarse-quantize the embedding
    space (iters=0 so the oracle re-derives the cells), then flag
    vectors with a rounded-cos ≥ 0.3 lower-id neighbor in their own
    cell. Pairwise work is confined to cells — the O(N²/C) middle
    ground between exact all-pairs (q44) and LSH candidates (q45)."""
    e = t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.3, iters=0).orderBy("vec_id")


def embedding_pair_edges(spark, sf_dir: str):
    """(id1, id2) exact cosine ≥ 0.3 pairs over embeddings, persisted
    per (session, sf_dir) via the warehouse parquet tier (``egmemo``).
    This embedding near-dup PAIR graph (q44's exact blocked
    computation) is shared by the q82 census and any other consumer of
    the graph; same materialized-intermediate design as
    queries.dedup.corpus_shingle_arrays / llm_pipeline.dup_pair_edges."""
    return session_memo(
        spark, "egmemo", (sf_dir,),
        lambda: near_dup_pairs_blocked(
            t(spark, sf_dir, "embeddings"), threshold=0.3)
        .select("id1", "id2"),
        tier="parquet")


# ---------------------------------------------------------------------- q82
@register(
    "q82_near_dup_triangles",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pe AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    ),
    deg AS (
      SELECT id, count(*) AS d
      FROM (SELECT id1 AS id FROM pe UNION ALL SELECT id2 FROM pe)
      GROUP BY id
    ),
    tri AS (
      SELECT count(*) AS t
      FROM pe e1
      JOIN pe e2 ON e2.id1 = e1.id2
      JOIN pe e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2
    )
    SELECT (SELECT count(*) FROM pe) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
                THEN round(3.0 * (SELECT t FROM tri)
                           / (SELECT sum(d * (d - 1) // 2) FROM deg), 6)
                END AS transitivity
    """,
    tags=("similarity", "graph"),
)
def q82_near_dup_triangles(spark, sf_dir):
    """Triangle census of the embedding near-dup graph (cos ≥ 0.3):
    edge count, wedge count (Σ d·(d−1)/2), triangle count via the
    canonical ordered three-way self-join (a<b<c, so each triangle
    counts exactly once), and global transitivity 3·Δ/wedges — the
    standard health metric for a near-dup graph before clustering
    (high transitivity ⇒ clique-like duplicate groups, min-label
    converges in O(1) rounds; low ⇒ chainy graphs, use two-phase).

    Scale shape: the pair list comes from the session-persisted
    embedding near-dup graph (one computation per session — the
    materialized pair table a 100 TB pipeline would reuse too), read
    by three join branches and the degree aggregate; the triangle join
    shuffles edges on their endpoint keys — the textbook distributed
    triangle count. Degree sums and counts are 1-row frames
    cross-joined, never collected."""
    pairs = embedding_pair_edges(spark, sf_dir)
    sym = pairs.select(F.col("id1").alias("id")).unionAll(
        pairs.select(F.col("id2").alias("id")))
    wedges = (sym.groupBy("id").agg(F.count("*").alias("d"))
              .agg(F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")))
    e1 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    e2 = pairs.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    e3 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
           .agg(F.count("*").alias("n_triangles")))
    ne = pairs.agg(F.count("*").alias("n_edges"))
    return (
        ne.crossJoin(wedges).crossJoin(tri)
        .select("n_edges", "n_wedges", "n_triangles",
                F.when(F.col("n_wedges") > 0,
                       F.round(3.0 * F.col("n_triangles")
                               / F.col("n_wedges"), 6))
                .alias("transitivity"))
    )


# --------------------------------------------------------------------- q112
@register(
    "q112_embedding_covariance",
    oracle="""
    WITH u AS (
      SELECT vec_id, i - 1 AS i,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    p AS (
      SELECT a.i AS i, b.i AS j, a.q * b.q AS pq
      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
    ),
    s AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n, sum(pq) AS spq
      FROM p GROUP BY 1, 2
    ),
    m AS (SELECT i, sum(q) AS sq FROM u GROUP BY 1)
    SELECT s.i AS i, s.j AS j,
           round(CAST(n * spq - ma.sq * mb.sq AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / 1000000000000.0, 10) AS cov
    FROM s JOIN m ma ON s.i = ma.i JOIN m mb ON s.j = mb.i
    ORDER BY s.i, s.j
    """,
    tags=("similarity", "covariance", "vectorized"),
)
def q112_embedding_covariance(spark, sf_dir):
    """Upper-triangular covariance matrix of the embedding dimensions —
    the statistics pass feeding PCA/whitening in an embedding pipeline.

    This is the canonical VECTORIZED-PARTIALS pattern: each Arrow batch
    computes its int64 Gram partial with ONE numpy matmul (XᵀX over
    1e-6-quantized values — exact integer arithmetic, no float sums),
    emitting d(d+1)/2 partial rows; a single d²-key aggregate merges
    them. The SQL oracle pays the honest row-based price (|vecs|·d²
    exploded pair rows) for the identical integers — at sf0.1 that is
    ~10⁸ rows vs a few matmuls, which is exactly why the Arrow path is
    the 100 TB design. The final covariance combines exact integer
    sums as decimals (n·Σxy − Σx·Σy overflows int64 past ~50k vectors)
    and casts to double once.

    Scale shape: no shuffle until the d(d+1)/2-key reduce; per-task
    output is constant (one partial triangle per batch)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from sunat_rree_demo_spark.operators.skew import fan_out

    e = t(spark, sf_dir, "embeddings")
    part_schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("j", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("spq", T.LongType()),
    ])

    def gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = (np.stack(pdf["embedding"].to_numpy())
                 .astype("float64") * 1000000.0)
            # half-AWAY-from-zero to match Spark round()/DuckDB round()
            # (np.rint is half-to-even and drifts on exact .5 values)
            X = np.copysign(np.floor(np.abs(v) + 0.5), v).astype("int64")
            G = X.T @ X
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({
                "i": iu.astype("int64"), "j": ju.astype("int64"),
                "n": np.full(len(iu), len(X), dtype="int64"),
                "spq": G[iu, ju]})

    partials = fan_out(e.select("embedding")).mapInPandas(
        gram, schema=part_schema)
    # decimal merge: per-batch partials are exact int64, but the GLOBAL
    # Σ crosses int64 near ~6e8 unit-norm vectors (oracle sums HUGEINT)
    s = (partials.groupBy("i", "j")
         .agg(F.sum("n").cast("bigint").alias("n"),
              F.sum(F.col("spq").cast("decimal(38,0)")).alias("spq")))
    # per-dimension sums stay JVM-side: posexplode + one 64-key reduce
    u = e.select(F.posexplode("embedding").alias("i", "v")) \
        .select(F.col("i").cast("bigint").alias("i"),
                F.round(F.col("v").cast("double") * 1000000.0, 0)
                .cast("bigint").alias("q"))
    m = u.groupBy("i").agg(F.sum("q").cast("bigint").alias("sq"))
    ma = m.select(F.col("i"), F.col("sq").alias("_sqa"))
    mb = m.select(F.col("i").alias("j"), F.col("sq").alias("_sqb"))
    nd = F.col("n").cast("double")
    cov = ((F.col("n").cast("decimal(38,0)") * F.col("spq")
            - F.col("_sqa").cast("decimal(38,0)") * F.col("_sqb"))
           .cast("double") / (nd * nd) / 1000000000000.0)
    return (
        s.join(F.broadcast(ma), "i").join(F.broadcast(mb), "j")
        .select("i", "j", F.round(cov, 10).alias("cov"))
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------- q178
@register(
    "q178_sq8_quantization_error",
    oracle="""
    WITH xd AS (
      SELECT u.ord, u.val AS x FROM (
        SELECT unnest(list_transform(embedding,
                 (v, i) -> struct_pack(
                   ord := i,
                   val := CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                               AS BIGINT)))) AS u
        FROM embeddings)),
    m AS (SELECT ord, CAST(max(abs(x)) AS BIGINT) AS mx
          FROM xd GROUP BY ord),
    q AS (
      SELECT xd.ord, xd.x, m.mx,
             CASE WHEN m.mx = 0 THEN 0
                  ELSE CASE WHEN xd.x < 0 THEN -1 ELSE 1 END
                       * ((abs(xd.x) * 254 + m.mx) // (2 * m.mx))
             END AS code
      FROM xd JOIN m USING (ord)),
    r AS (
      SELECT ord, x, mx, code,
             CASE WHEN code < 0 THEN -1 ELSE 1 END
               * ((abs(code) * mx * 2 + 127) // 254) AS recon
      FROM q)
    SELECT ord, CAST(count(*) AS BIGINT) AS n_vectors, mx AS max_abs,
           CAST(max(abs(x - recon)) AS BIGINT) AS max_err,
           CAST((2 * sum(abs(x - recon)) + count(*)) // (2 * count(*))
                AS BIGINT) AS mean_err
    FROM r GROUP BY ord, mx ORDER BY ord
    """,
    tags=("similarity", "quantization"),
)
def q178_sq8_quantization_error(spark, sf_dir):
    """Scalar (SQ8) embedding quantization error census: quantize each
    dimension symmetrically to int8 codes against its own max-|value|
    scale — the memory-4x compression every vector store offers — and
    report per-dimension max and half-up mean absolute reconstruction
    error in micro-units. The accuracy-loss readout consulted before
    switching an ANN index to SQ8.

    Everything is integer rationals (micro-unit values, half-away-
    from-zero code rounding as a floored non-negative quotient, exact
    reconstruction), so both engines agree bit-for-bit — no float
    division anywhere. Scale shape: one dim-grain explode with
    map-side-combinable max/sum aggregates over 64 bounded groups; the
    per-dim scales broadcast back onto the same exploded pass."""
    emb = t(spark, sf_dir, "embeddings")
    xd = (emb.select(F.posexplode(F.expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000"
        " + 0.5) AS BIGINT))")).alias("_p", "x"))
        # DuckDB's (v, i) lambda index is 1-based; posexplode is 0-based
        .select((F.col("_p") + 1).cast("bigint").alias("ord"), "x"))
    m = xd.groupBy("ord").agg(F.max(F.abs("x")).cast("bigint").alias("mx"))
    q = (xd.join(F.broadcast(m), "ord")
         .withColumn("code", F.when(F.col("mx") == 0, F.lit(0)).otherwise(
             F.signum("x").cast("bigint")
             * F.expr("(abs(x) * 254 + mx) div (2 * mx)"))))
    r = q.withColumn(
        "recon",
        F.when(F.col("code") < 0, -1).otherwise(1).cast("bigint")
        * F.expr("(abs(code) * mx * 2 + 127) div 254"))
    return (
        r.groupBy("ord", "mx")
        .agg(F.count("*").cast("bigint").alias("n_vectors"),
             F.max(F.abs(F.col("x") - F.col("recon"))).cast("bigint")
             .alias("max_err"),
             F.expr("CAST((2 * sum(abs(x - recon)) + count(*))"
                    " div (2 * count(*)) AS BIGINT)").alias("mean_err"))
        .select("ord", "n_vectors", F.col("mx").alias("max_abs"),
                "max_err", "mean_err")
        .orderBy("ord")
    )


# --------------------------------------------------------------------- q180
_MMR_DEPTH = 15
_MMR_K = 5
_MMR_Q = 0
#: λ = 0.7 as the integer pair (7, 3): score = 7·rel − 3·max_sim.
_MMR_REL_W, _MMR_DIV_W = 7, 3


def _mmr_oracle() -> str:
    base = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cand AS (
      SELECT n_id, rel FROM (
        SELECT e.vec_id AS n_id,
               CAST(round(round(list_cosine_similarity(q.v, e.v), 6)
                          * 1000000) AS BIGINT) AS rel,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                          e.vec_id) AS rank
        FROM (SELECT v FROM e WHERE vec_id = {_MMR_Q}) q
        JOIN e ON e.vec_id <> {_MMR_Q})
      WHERE rank <= {_MMR_DEPTH}),
    sims AS (
      SELECT a.n_id AS sa, b.n_id AS sb,
             CAST(round(round(list_cosine_similarity(ea.v, eb.v), 6)
                        * 1000000) AS BIGINT) AS sim
      FROM cand a JOIN cand b ON a.n_id <> b.n_id
      JOIN e ea ON ea.vec_id = a.n_id
      JOIN e eb ON eb.vec_id = b.n_id),
    s1 AS (
      SELECT n_id, CAST({_MMR_REL_W} * rel AS BIGINT) AS score
      FROM cand ORDER BY rel DESC, n_id LIMIT 1)"""
    sel = ["SELECT n_id FROM s1"]
    for i in range(2, _MMR_K + 1):
        sel_sql = " UNION ALL ".join(sel)
        base += f""",
    s{i} AS (
      SELECT n_id, score FROM (
        SELECT c.n_id,
               CAST({_MMR_REL_W} * c.rel
                    - {_MMR_DIV_W} * max(sm.sim) AS BIGINT) AS score
        FROM cand c
        JOIN sims sm ON sm.sa = c.n_id
                    AND sm.sb IN ({sel_sql})
        WHERE c.n_id NOT IN ({sel_sql})
        GROUP BY c.n_id, c.rel)
      ORDER BY score DESC, n_id LIMIT 1)"""
        sel.append(f"SELECT n_id FROM s{i}")
    picks = " UNION ALL ".join(
        f"SELECT {i} AS pick, n_id AS doc_id, score FROM s{i}"
        for i in range(1, _MMR_K + 1))
    return base + f"""
    SELECT CAST(pick AS BIGINT) AS pick, doc_id, score AS mmr_score
    FROM ({picks}) ORDER BY pick
    """


@register(
    "q180_mmr_rerank",
    memoize=False,  # bounded candidate fetch runs per rep
    oracle=_mmr_oracle(),
    tags=("retrieval", "diversification"),
)
def q180_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR'98 — the classic result diversifier): greedily pick 5 of the
    query's top-15 cosine candidates maximizing
    7·relevance − 3·max-similarity-to-already-picked (λ=0.7 as an
    integer weight pair over micro-unit cosines, ties to the lower
    id), so near-duplicate hits stop crowding the result list.

    Scale shape: candidate generation is the distributed part (the
    blocked-matmul exact top-k over the corpus); the greedy rerank
    runs driver-side over the BOUNDED k×k candidate-similarity matrix
    (≤15 candidate rows collected — the same bounded-fetch device as
    q172's probe selection), which is where every production reranker
    runs it. The oracle unrolls the identical greedy steps as CTEs,
    so one flipped comparison anywhere breaks the hash.

    r11: ONE bounded collect fetches ids, relevance AND the candidate
    embeddings together; the ≤15×15 pairwise-cosine matrix is numpy on
    the driver under the same ``np.round(…, 6)`` contract the blocked
    top-k kernel already holds against the oracle's sequential-fold
    SQL, with the micro-unit conversion replicating F.round's HALF_UP
    exactly. The previous shape ran two extra Spark jobs (a candidate
    collect, then a 210-row broadcast self-join) to compute what the
    driver does in microseconds on bounded data."""
    import numpy as np

    e = t(spark, sf_dir, "embeddings")
    cand = (brute_force_topk(e, e.filter(F.col("vec_id") == _MMR_Q),
                             k=_MMR_DEPTH)
            .select(F.col("n_id"),
                    F.round(F.round(F.col("cos"), 6) * 1000000.0)
                    .cast("bigint").alias("rel")))
    rows = cand.join(
        e.select(F.col("vec_id").alias("n_id"),
                 as_double(F.col("embedding")).alias("v")), "n_id").collect()
    rel = {r.n_id: r.rel for r in rows}
    cset = [r.n_id for r in rows]
    mat = np.array([r.v for r in rows], dtype="float64")
    nm = np.sqrt((mat * mat).sum(axis=1))
    nm[nm == 0] = 1.0
    cs = np.round((mat / nm[:, None]) @ (mat / nm[:, None]).T, 6)
    mic = np.where(cs >= 0, np.floor(cs * 1e6 + 0.5),
                   -np.floor(-cs * 1e6 + 0.5)).astype("int64")
    sim = {(a, b): int(mic[i, j])
           for i, a in enumerate(cset) for j, b in enumerate(cset)
           if i != j}

    picked: list[tuple[int, int, int]] = []
    chosen: list[int] = []
    first = max(rel, key=lambda d: (rel[d], -d))
    # ties to the LOWER id: max on (rel, -id)
    picked.append((1, first, _MMR_REL_W * rel[first]))
    chosen.append(first)
    for step in range(2, _MMR_K + 1):
        best = None
        for d in cset:
            if d in chosen:
                continue
            ms = max(sim[(d, s)] for s in chosen)
            score = _MMR_REL_W * rel[d] - _MMR_DIV_W * ms
            key = (score, -d)
            if best is None or key > best[0]:
                best = (key, d, score)
        picked.append((step, best[1], best[2]))
        chosen.append(best[1])
    return local_df(
        spark, picked, "pick bigint, doc_id bigint, mmr_score bigint")


# --------------------------------------------------------------------- q183
@register(
    "q183_local_clustering_coeff",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pe AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    ),
    deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT id1 AS id FROM pe UNION ALL SELECT id2 FROM pe)
      GROUP BY id
    ),
    tri AS (
      SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
      FROM pe e1
      JOIN pe e2 ON e2.id1 = e1.id2
      JOIN pe e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2
    ),
    tn AS (
      SELECT id, CAST(count(*) AS BIGINT) AS t
      FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY id
    )
    SELECT deg.id AS vec_id, deg.d AS degree,
           coalesce(tn.t, 0) AS n_triangles,
           CAST((2 * 10000 * coalesce(tn.t, 0) + (d * (d - 1) // 2))
                // (2 * (d * (d - 1) // 2)) AS DOUBLE) / 10000.0
             AS clustering_coeff
    FROM deg LEFT JOIN tn ON tn.id = deg.id
    WHERE deg.d >= 2
    ORDER BY vec_id
    """,
    tags=("similarity", "graph"),
)
def q183_local_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient of the embedding near-dup
    graph: triangles through each node over its d·(d−1)/2 possible
    wedge closures (Watts–Strogatz) — q82's GLOBAL transitivity
    drilled to node grain, the signal that separates clique-like
    duplicate groups (coefficient ≈ 1, min-label CC converges fast)
    from chainy ones (≈ 0, use the two-phase algorithm). 4dp half-up
    integer division; nodes of degree < 2 have no defined wedge and
    drop on both engines.

    Scale shape: the ordered triangle join reads the session-persisted
    pair graph three times (the q82 plan), then one UNION ALL
    endpoint aggregate per grain — map-side combinable; no collects,
    no global windows."""
    pairs = embedding_pair_edges(spark, sf_dir)
    deg = (pairs.select(F.col("id1").alias("id"))
           .unionAll(pairs.select(F.col("id2").alias("id")))
           .groupBy("id").agg(F.count("*").cast("bigint").alias("d")))
    e1 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    e2 = pairs.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    e3 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tn = (tri.select(F.col("a").alias("id"))
          .unionAll(tri.select(F.col("b").alias("id")))
          .unionAll(tri.select(F.col("c").alias("id")))
          .groupBy("id").agg(F.count("*").cast("bigint").alias("t")))
    return (
        deg.join(tn, "id", "left")
        .filter(F.col("d") >= 2)
        .select(F.col("id").alias("vec_id"),
                F.col("d").alias("degree"),
                F.coalesce("t", F.lit(0)).cast("bigint")
                .alias("n_triangles"),
                (F.expr("(2 * 10000 * coalesce(t, 0) + (d * (d - 1) div 2))"
                        " div (2 * (d * (d - 1) div 2))")
                 .cast("double") / 10000.0).alias("clustering_coeff"))
        .orderBy("vec_id")
    )
