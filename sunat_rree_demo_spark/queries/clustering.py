"""Distributed k-means queries over the embeddings table: the fit
census (q167) and cluster-balanced sampling (q168) — the curation ops
SemDeDup/DoReMi-style pipelines run between embedding generation and
mixture weighting. No reference counterpart (pandas dashboard); part
of the mandated LLM-pipeline extension surface.

Both queries are FULLY oracle-checked, which is unusual for k-means:
operators/clustering.py does every distance, argmin, and centroid
update in int64 micro-units (exact, commutative, partitioning-
invariant), so a DuckDB oracle that unrolls the Lloyd iterations as
CTE rounds reproduces the fit bit-for-bit — assignment, inertia, and
centroid coordinates alike.

The fit is session-memoized: the iteration loop (one bounded-partials
job per round, documented-eager) runs once per (session, sf_dir);
q167, q168, and any later consumer share the persisted assignment.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window, functions as F

from sunat_rree_demo_spark.localrel import local_df
from sunat_rree_demo_spark.operators.clustering import kmeans_fit
from sunat_rree_demo_spark.queries.base import register, t
from sunat_rree_demo_spark.sources.catalog import session_memo

_K = 8
_ITERS = 2
_SAMPLE_PER_CLUSTER = 10


def _fitted(spark, sf_dir):
    """(centroids ndarray, persisted assignment DataFrame), once per
    (session, sf_dir). Both halves are one memo entry, so they are
    built, kept and dropped together."""
    def build():
        cent, assign = kmeans_fit(
            t(spark, sf_dir, "embeddings"), k=_K, iters=_ITERS)
        return cent, assign.persist()

    return session_memo(spark, "kmeans", (sf_dir,), build, tier="built")


def _kmeans_oracle_cte(k: int, iters: int) -> str:
    """Unrolled-CTE twin of operators/clustering.kmeans_fit: c0 = the k
    lowest-id vectors quantized to int64 micro-units; round i assigns
    under c{i-1} (ties → lowest cluster) and updates to c{i} with
    half-up integer means, empty clusters keeping their previous
    coordinates; ``af`` is the final assignment under c{iters}."""
    parts = [f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
               AS xq
      FROM embeddings),
    qd AS (
      SELECT vec_id, u.ord, u.val AS x FROM (
        SELECT vec_id,
               unnest(list_transform(xq,
                 (x, i) -> struct_pack(ord := i, val := x))) AS u
        FROM q)),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, vec_id
      FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT {k})),
    c0d AS (
      SELECT c0.cluster, qd.ord, qd.x AS c
      FROM c0 JOIN qd USING (vec_id))"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    a{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT qd.vec_id, cd.cluster,
               row_number() OVER (PARTITION BY qd.vec_id
                 ORDER BY SUM((qd.x - cd.c) * (qd.x - cd.c)), cd.cluster)
                 AS rn
        FROM qd JOIN c{i - 1}d cd USING (ord)
        GROUP BY qd.vec_id, cd.cluster) WHERE rn = 1),
    u{i} AS (
      SELECT a{i}.cluster, qd.ord,
             CAST(floor(CAST(SUM(qd.x) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS c
      FROM a{i} JOIN qd USING (vec_id)
      GROUP BY 1, 2),
    c{i}d AS (
      SELECT p.cluster, p.ord, COALESCE(u{i}.c, p.c) AS c
      FROM c{i - 1}d p
      LEFT JOIN u{i} ON u{i}.cluster = p.cluster AND u{i}.ord = p.ord)""")
    parts.append(f""",
    af AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT qd.vec_id, cd.cluster,
               CAST(SUM((qd.x - cd.c) * (qd.x - cd.c)) AS BIGINT) AS d2,
               row_number() OVER (PARTITION BY qd.vec_id
                 ORDER BY SUM((qd.x - cd.c) * (qd.x - cd.c)), cd.cluster)
                 AS rn
        FROM qd JOIN c{iters}d cd USING (ord)
        GROUP BY qd.vec_id, cd.cluster) WHERE rn = 1)""")
    return "WITH" + "".join(parts)


# --------------------------------------------------------------------- q167
@register(
    "q167_kmeans_census",
    oracle=_kmeans_oracle_cte(_K, _ITERS) + f"""
    SELECT af.cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(af.d2) AS BIGINT) AS inertia, cl.centroid_l1
    FROM af JOIN (
      SELECT cluster, CAST(SUM(ABS(c)) AS BIGINT) AS centroid_l1
      FROM c{_ITERS}d GROUP BY 1) cl USING (cluster)
    GROUP BY af.cluster, cl.centroid_l1
    ORDER BY af.cluster
    """,
    memoize=False,  # fit loop is documented-eager; session memo inside
    tags=("clustering", "kmeans"),
)
def q167_kmeans_census(spark, sf_dir):
    """K-means fit census: per-cluster population, int64 inertia, and
    the L1 mass of the fitted centroid — k=8, 2 exact-integer Lloyd
    rounds from the k lowest-id seeds. The oracle re-runs the identical
    fit as unrolled SQL rounds, so a single flipped assignment or a
    one-micro-unit centroid drift fails the hash.

    Scale shape: per round, executors see one narrow scan and emit ≤k
    partial rows per Arrow batch (the treeAggregate form); only k×P
    bounded partials ever reach the driver. Clusters empty in the final
    assignment drop from the census on both engines (inner join)."""
    cent, assign = _fitted(spark, sf_dir)
    l1 = local_df(
        spark, [(int(ci), int(np.abs(cent[ci]).sum())) for ci in range(_K)],
        "cluster int, centroid_l1 long")
    return (
        assign.groupBy("cluster")
        .agg(F.count("*").cast("bigint").alias("n_points"),
             F.sum("d2").cast("bigint").alias("inertia"))
        .join(F.broadcast(l1), "cluster")
        .orderBy("cluster")
    )


# --------------------------------------------------------------------- q168
@register(
    "q168_cluster_balanced_sample",
    oracle=_kmeans_oracle_cte(_K, _ITERS) + f"""
    SELECT cluster, vec_id, pick FROM (
      SELECT cluster, vec_id,
             CAST(row_number() OVER (PARTITION BY cluster
               ORDER BY ('0x' || substr(sha256('bal:' ||
                          CAST(vec_id AS VARCHAR)), 1, 12))::UBIGINT,
                        vec_id) AS BIGINT) AS pick
      FROM af)
    WHERE pick <= {_SAMPLE_PER_CLUSTER}
    ORDER BY cluster, pick
    """,
    memoize=False,  # shares the session-memoized fit (documented-eager)
    tags=("clustering", "sampling"),
)
def q168_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced (diversity) sampling: the first 10 documents
    per k-means cluster under a deterministic sha-48 priority — the
    uniform-per-cluster draw curation pipelines use to flatten topical
    skew before mixing (cf. the temperature mixture in q124, which
    reweights SOURCES; this balances SEMANTIC cells).

    The priority hash makes the draw reproducible and partitioning-
    invariant, the per-cluster row_number is over ≤ cluster-size rows,
    and the ``vec_id`` tiebreak pins the set under hash collisions.
    Scale: at cluster sizes beyond one partition this becomes q91's
    salted two-phase k-min; at this k the single window per cluster IS
    the honest plan."""
    _cent, assign = _fitted(spark, sf_dir)
    pri = F.conv(F.substring(
        F.sha2(F.concat(F.lit("bal:"), F.col("vec_id").cast("string")), 256),
        1, 12), 16, 10).cast("bigint")
    w = Window.partitionBy("cluster").orderBy(pri.asc(), F.col("vec_id"))
    return (
        assign.select("cluster", "vec_id")
        .withColumn("pick", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick") <= _SAMPLE_PER_CLUSTER)
        .orderBy("cluster", "pick")
    )


# --------------------------------------------------------------------- q172
_NPROBE = 2
_NEIGHBORS = 5


def _probe_rows(cent, qmat, q_ids, nprobe: int,
                with_rank: bool = False) -> list[tuple]:
    """Driver-side probe selection against the (k × d) centroid
    matrix: the ``nprobe`` nearest cells per query, ties → lower
    cluster — ONE copy shared by q172 and q206 (review finding r7:
    the loop had been duplicated)."""
    d2c = ((qmat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    rows = []
    for qi in range(len(q_ids)):
        order = np.lexsort((np.arange(cent.shape[0]), d2c[qi]))
        rows += [((int(q_ids[qi]), int(ci), rk + 1) if with_rank
                  else (int(q_ids[qi]), int(ci)))
                 for rk, ci in enumerate(order[:nprobe])]
    return rows


def _micro_dist_kernel(qmat, qindex):
    """(mapInPandas generator, schema) computing exact int64
    micro-unit distances from each candidate row's embedding to its
    query — q172's candidate-paired distance kernel (q206 grew its own
    block form in r8: corpus-once input, in-kernel probe tagging and
    per-batch partial top-k, so the prn-threading flag this kernel
    once carried is gone)."""
    import pandas as pd
    from pyspark.sql import types as T

    from sunat_rree_demo_spark.operators.clustering import (
        quantize_micros,
    )

    schema = T.StructType([
        T.StructField("q_id", T.LongType()),
        T.StructField("n_id", T.LongType()),
        T.StructField("d2", T.LongType()),
    ])

    def dists(batches, _qm=qmat, _qx=qindex):
        for pdf in batches:
            if not len(pdf):
                continue
            xq = quantize_micros(pdf["embedding"])
            qi = pdf["q_id"].map(_qx).to_numpy()
            d2 = ((xq - _qm[qi]) ** 2).sum(axis=1)
            yield pd.DataFrame({
                "q_id": pdf["q_id"].to_numpy(np.int64),
                "n_id": pdf["vec_id"].to_numpy(np.int64),
                "d2": d2.astype(np.int64),
            })

    return dists, schema


@register(
    "q172_ivf_kmeans_topk",
    oracle=_kmeans_oracle_cte(_K, _ITERS) + f"""
    , pc AS (
      SELECT q_id, cluster FROM (
        SELECT qd.vec_id AS q_id, cd.cluster,
               row_number() OVER (PARTITION BY qd.vec_id
                 ORDER BY SUM((qd.x - cd.c) * (qd.x - cd.c)), cd.cluster)
                 AS rn
        FROM qd JOIN c{_ITERS}d cd USING (ord)
        WHERE qd.vec_id < 8
        GROUP BY qd.vec_id, cd.cluster) WHERE rn <= {_NPROBE}),
    cand AS (
      SELECT pc.q_id, af.vec_id AS n_id
      FROM pc JOIN af USING (cluster)
      WHERE af.vec_id <> pc.q_id),
    dist AS (
      SELECT c.q_id, c.n_id,
             CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
      FROM cand c JOIN qd a ON a.vec_id = c.q_id
                  JOIN qd b ON b.vec_id = c.n_id AND b.ord = a.ord
      GROUP BY c.q_id, c.n_id)
    SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, d2 FROM (
      SELECT q_id, n_id, d2,
             row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id)
               AS rank
      FROM dist) WHERE rank <= {_NEIGHBORS}
    ORDER BY q_id, rank
    """,
    memoize=False,  # shares the session-memoized fit (documented-eager)
    tags=("clustering", "similarity", "ann-ivf"),
)
def q172_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN whose coarse quantizer is the REAL distributed k-means
    fit (q167's, session-shared) instead of q54's iters=0 seed cells —
    the production IVF shape: train once, assign the corpus once, then
    every search probes the ``_NPROBE`` nearest cells and scans only
    their members. Because the fit, the probe choice, and the
    query-candidate distances are all int64 micro-unit arithmetic, the
    ENTIRE approximate index is reproduced bit-for-bit by the SQL
    oracle — probe ties break to the lower cluster, neighbor ties to
    the lower vec_id.

    Scale shape: the 8-query probe matrix is driver-side numpy over the
    (k × d) centroid array (bounded, like q43's query batch); the
    corpus side is one broadcast-join of the 16-row (query, cluster)
    probe table against the session-persisted assignment, one Arrow
    mapInPandas distance pass over ~nprobe/k of the corpus, and a
    per-query top-k window over ≤ 8 bounded groups."""
    cent, assign = _fitted(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    qrows = (emb.filter(F.col("vec_id") < 8)
             .select("vec_id", "embedding").orderBy("vec_id").toPandas())
    from sunat_rree_demo_spark.operators.clustering import quantize_micros

    qmat = quantize_micros(qrows["embedding"])          # (Q, d) int64
    q_ids = qrows["vec_id"].to_numpy()
    probes = _probe_rows(cent, qmat, q_ids, _NPROBE)
    probe_df = local_df(spark, probes, "q_id long, cluster int")

    cand = (assign.join(F.broadcast(probe_df), "cluster")
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id"))

    qindex = {int(v): i for i, v in enumerate(q_ids)}
    dists, out_schema = _micro_dist_kernel(qmat, qindex)

    scored = (cand.join(emb, "vec_id")
              .select("q_id", "vec_id", "embedding")
              .mapInPandas(dists, out_schema))
    w = Window.partitionBy("q_id").orderBy("d2", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _NEIGHBORS)
        .select("q_id", "rank", "n_id", "d2")
        .orderBy("q_id", "rank")
    )


# --------------------------------------------------------------------- q173
@register(
    "q173_cluster_label_purity",
    oracle=_kmeans_oracle_cte(_K, _ITERS) + """
    , cl AS (
      SELECT af.cluster, e.label, count(*) AS c
      FROM af JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
    tot AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n FROM cl GROUP BY 1),
    maj AS (
      SELECT cluster, label AS majority_label,
             CAST(c AS BIGINT) AS n_majority
      FROM (SELECT cluster, label, c,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY c DESC, label) AS rn
            FROM cl) WHERE rn = 1)
    SELECT t.cluster, t.n AS n_points, m.majority_label, m.n_majority,
           CAST((2 * 10000 * m.n_majority + t.n) // (2 * t.n) AS DOUBLE)
             / 10000.0 AS purity
    FROM tot t JOIN maj m USING (cluster)
    ORDER BY t.cluster
    """,
    memoize=False,  # shares the session-memoized fit (documented-eager)
    tags=("clustering", "evaluation"),
)
def q173_cluster_label_purity(spark, sf_dir):
    """External clustering evaluation: per-cluster label purity against
    the embeddings' ground-truth ``label`` column — majority label,
    its mass, and purity = majority/size (4dp, half-up integer
    rounding; majority ties break to the LOWER label on both engines).
    The standard sanity check before trusting cluster-balanced
    sampling (q168) or cluster-safe splits to reflect semantics.

    Scale shape: assignment (session-persisted) joins the label column
    once, then everything runs at (cluster × label) contingency grain
    — at most k·|labels| rows."""
    _cent, assign = _fitted(spark, sf_dir)
    lab = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (assign.join(lab, "vec_id")
          .groupBy("cluster", "label").agg(F.count("*").alias("c")))
    tot = cl.groupBy("cluster").agg(F.sum("c").cast("bigint").alias("n_points"))
    w = Window.partitionBy("cluster").orderBy(F.col("c").desc(), "label")
    maj = (cl.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("cluster", F.col("label").alias("majority_label"),
                   F.col("c").cast("bigint").alias("n_majority")))
    return (
        tot.join(maj, "cluster")
        .select("cluster", "n_points", "majority_label", "n_majority",
                (F.expr("(2 * 10000 * n_majority + n_points)"
                        " div (2 * n_points)").cast("double") / 10000.0)
                .alias("purity"))
        .orderBy("cluster")
    )


# --------------------------------------------------------------------- q206
_RECALL_K = 5
_NPROBES = (1, 2, 4)


def _q206_oracle() -> str:
    """Per-nprobe IVF recall vs the exact brute-force top-k, every
    stage int64-exact on the unrolled-Lloyd CTEs (probe ties → lower
    cluster, neighbor ties → lower vec_id), so recall is a ratio of
    exact integers — no float search geometry anywhere."""
    ivf_ctes = ",\n    ".join(
        f"""ivf{np_} AS (
      SELECT q_id, n_id FROM (
        SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY d2, n_id) AS rk
        FROM dist WHERE prn <= {np_}) WHERE rk <= {_RECALL_K})"""
        for np_ in _NPROBES)
    unions = "\n    UNION ALL\n    ".join(
        f"""SELECT {np_} AS nprobe,
           (SELECT count(*) FROM ivf{np_} JOIN bru5 USING (q_id, n_id))
             AS n_hits"""
        for np_ in _NPROBES)
    return _kmeans_oracle_cte(_K, _ITERS) + f"""
    , pc AS (
      SELECT q_id, cluster, rn FROM (
        SELECT qd.vec_id AS q_id, cd.cluster,
               row_number() OVER (PARTITION BY qd.vec_id
                 ORDER BY SUM((qd.x - cd.c) * (qd.x - cd.c)), cd.cluster)
                 AS rn
        FROM qd JOIN c{_ITERS}d cd USING (ord)
        WHERE qd.vec_id < 8
        GROUP BY qd.vec_id, cd.cluster) WHERE rn <= {max(_NPROBES)}),
    dist AS (
      SELECT c.q_id, c.n_id, c.prn,
             CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
      FROM (SELECT pc.q_id, af.vec_id AS n_id, pc.rn AS prn
            FROM pc JOIN af USING (cluster)
            WHERE af.vec_id <> pc.q_id) c
      JOIN qd a ON a.vec_id = c.q_id
      JOIN qd b ON b.vec_id = c.n_id AND b.ord = a.ord
      GROUP BY c.q_id, c.n_id, c.prn),
    bru AS (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
      FROM qd a JOIN qd b ON a.ord = b.ord AND b.vec_id <> a.vec_id
      WHERE a.vec_id < 8 GROUP BY 1, 2),
    bru5 AS (
      SELECT q_id, n_id FROM (
        SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY d2, n_id) AS rk
        FROM bru) WHERE rk <= {_RECALL_K}),
    {ivf_ctes},
    npos AS (SELECT CAST(count(*) AS BIGINT) AS n_possible FROM bru5)
    SELECT CAST(nprobe AS BIGINT) AS nprobe,
           CAST(n_hits AS BIGINT) AS n_hits,
           n_possible,
           CAST((2 * 10000 * n_hits + n_possible) // (2 * n_possible)
                AS DOUBLE) / 10000.0 AS recall_4dp
    FROM ({unions}), npos
    ORDER BY nprobe
    """


@register(
    "q206_ivf_recall_curve",
    oracle=_q206_oracle(),
    memoize=False,  # shares the session-memoized fit (documented-eager)
    tags=("clustering", "similarity", "ann-ivf", "eval"),
)
def q206_ivf_recall_curve(spark, sf_dir):
    """Recall@5 of the IVF index as nprobe sweeps 1/2/4 — the
    measure-before-trust eval for the similarity family (q205's twin:
    that one grades the dedup detector, this grades the ANN index):
    IVF top-5 under the REAL session-shared k-means fit, intersected
    with the exact brute-force top-5 over the same int64 micro-unit
    geometry, per probe depth. Reading the curve answers the 100 TB
    deployment question — how many cells must a probe touch before
    recall clears the product bar — before the corpus is laid out.

    Scale shape (r8 — this closed the round-7 2.01× ratio flag): ONE
    exact distance pass over (query × corpus), serving BOTH sides of
    the comparison — the brute-force truth is its top-k, and the IVF
    result at every probe depth is a FILTER of the same scored frame
    (a candidate is in the depth-np result iff its cell's probe rank
    ≤ np), because IVF scores candidates with the identical metric it
    would have computed in its own pass. The r7 shape paid the
    distance kernel twice (an IVF candidate pass + the brute pass);
    the eval needs the union of both, and the brute pass IS that
    union. At production scale the pass runs on a sampled query set
    (bounded rows/query), same plan."""
    from sunat_rree_demo_spark.operators.clustering import quantize_micros

    cent, _assign = _fitted(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    qrows = (emb.filter(F.col("vec_id") < 8)
             .select("vec_id", "embedding").orderBy("vec_id").toPandas())
    qmat = quantize_micros(qrows["embedding"])
    q_ids = qrows["vec_id"].to_numpy()
    probes = _probe_rows(cent, qmat, q_ids, max(_NPROBES),
                         with_rank=True)
    probe_lut = {(q, c): rk for q, c, rk in probes}

    # the one distance pass: each corpus vector crosses ALL queries
    # INSIDE the kernel (the q43 block device) — a crossJoin would
    # ship every embedding array through Arrow |queries| times; this
    # ships the corpus once. Each row's cell probe rank per query is
    # derived in-kernel (998 = outside the deepest probe set; the
    # cluster is the argmin-distance centroid, ties → lower — exactly
    # the fit's assignment rule): no assignment join. And because
    # top-k is DISTRIBUTIVE over batches, the kernel emits only each
    # batch's top-k per (query, depth-class) — the driver reduce
    # re-ranks a bounded pool (≤ tasks × queries × 4k rows), never
    # the full query×corpus score matrix.
    import pandas as pd

    out_schema = ("q_id long, n_id long, prn int, d2 long")
    qm, qid_arr = qmat, q_ids.astype(np.int64)
    qindex_pos = {int(v): i for i, v in enumerate(qid_arr)}
    nq, k_cells = len(qid_arr), cent.shape[0]
    rank_mat = np.full((nq, k_cells), 998, np.int32)
    for (q, c), rk in probe_lut.items():
        rank_mat[qindex_pos[q], c] = rk

    def dists(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            xq = quantize_micros(pdf["embedding"])
            nid = pdf["vec_id"].to_numpy(np.int64)
            d2 = ((xq[:, None, :] - qm[None, :, :]) ** 2).sum(axis=2)
            cd = ((xq[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            cl = cd.argmin(axis=1)  # ties -> lower cluster (fit rule)
            prn = rank_mat[:, cl]  # (nq, nb)
            outs = []
            for j in range(nq):
                keep = nid != qid_arr[j]
                dj, nj, pj = d2[keep, j], nid[keep], prn[j, keep]
                order = np.lexsort((nj, dj))
                sel: set[int] = set()
                ps = pj[order]
                for np_ in (*_NPROBES, 999):  # 999 = the brute class
                    cls = order[ps <= np_][:_RECALL_K]
                    sel.update(cls.tolist())
                rows = np.fromiter(sel, np.int64, len(sel))
                outs.append(pd.DataFrame({
                    "q_id": np.full(len(rows), qid_arr[j]),
                    "n_id": nj[rows], "prn": pj[rows].astype(np.int32),
                    "d2": dj[rows].astype(np.int64)}))
            yield pd.concat(outs, ignore_index=True)

    # ONE job total (r11): the kernel already reduced query×corpus to
    # a BOUNDED pool (≤ tasks · |Q| · 4·k rows — each task emits only
    # its batch top-k per (query, depth-class)), so the final re-rank
    # is a driver-side numpy reduce over that pool — the same bounded
    # collect the ANN top-k family uses. The previous shape finished
    # with two windows + three joins over the identical pool; under a
    # loaded session those extra shuffle stages tripled the warm time
    # (BENCH r11 run A: 7.4 s vs the 2.0 s idle A/B) while computing
    # nothing the driver can't do on ≤ thousands of rows. At cluster
    # scale the pool grows only with task count; if it ever outgrew
    # the driver the old windowed reduce is the drop-in alternative —
    # the kernel (the scalable part) is unchanged.
    pool = (emb.select("vec_id", "embedding")
            .mapInPandas(dists, out_schema).toPandas())
    d2a = pool["d2"].to_numpy(np.int64)
    nida = pool["n_id"].to_numpy(np.int64)
    prna = pool["prn"].to_numpy(np.int32)
    qida = pool["q_id"].to_numpy(np.int64)
    bru: dict[int, set] = {}
    ivf: dict[int, dict[int, set]] = {d: {} for d in _NPROBES}
    for q in qid_arr:
        m = qida == q
        dj, nj, pj = d2a[m], nida[m], prna[m]
        order = np.lexsort((nj, dj))
        bru[q] = set(nj[order[:_RECALL_K]].tolist())
        for np_ in _NPROBES:
            cand = order[pj[order] <= np_][:_RECALL_K]
            ivf[np_][q] = set(nj[cand].tolist())
    npos = sum(len(v) for v in bru.values())
    rows = []
    for np_ in _NPROBES:
        h = sum(len(ivf[np_][q] & bru[q]) for q in qid_arr.tolist())
        rows.append((int(np_), int(h), int(npos),
                     ((2 * 10000 * h + npos) // (2 * npos)) / 10000.0))
    return local_df(
        spark, rows, "nprobe long, n_hits long, n_possible long, "
                     "recall_4dp double").orderBy("nprobe")
