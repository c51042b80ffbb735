"""Deduplication queries over the documents table (driver mandate):
exact, n-gram Jaccard, MinHash+LSH and SimHash — ALL oracle-checked.
The MinHash/SimHash oracles are generated from the same constant tables
as the Spark operators (sha-256-derived base hashes parse identically
via DuckDB's ``('0x'||hex)::BIGINT``), so the full banded-LSH pipeline
is verified end-to-end against an independent SQL implementation, on
top of the pure-Python golden tests in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sunat_rree_demo_spark.operators.dedup import (
    HASH_HEX_LEN,
    LSH_BANDS,
    MERSENNE_P,
    MINHASH_K,
    _minhash_params,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from sunat_rree_demo_spark.queries.base import register, t
from sunat_rree_demo_spark.sources.catalog import app_id, session_memo


def corpus_shingle_arrays(spark, sf_dir: str, n: int = 5):
    """(doc_id, shingles) arrays for the documents table, persisted per
    (session, sf_dir, n) so the Python shingling pass runs once per
    session, not once per query — the shared intermediate of every
    exact-set-similarity plan (q40 grouped combinations, q71
    LSH-verified tier, q97 prefix filter). The Python shingler
    (mapInPandas) is the single most expensive scan over documents;
    its output is written ONCE to a warehouse parquet table and every
    downstream pass reads that scan (the ``shmemo`` tier) — at 100 TB
    this is literally the materialized shingle table a real dedup
    pipeline writes once. Parquet (not ``persist()``) since r10:
    persisted blocks competing with 200+ queries' execution memory get
    LRU-evicted and silently recomputed — the r9 bench-gate failure
    (q40 1.1→8.3 s, q41 1.1→14.0 s in the driver run) was exactly this
    family; a deterministic columnar re-scan costs ~0.1 s."""
    from sunat_rree_demo_spark.operators.dedup import doc_shingle_arrays

    return session_memo(
        spark, "shmemo", (sf_dir, n),
        lambda: doc_shingle_arrays(
            t(spark, sf_dir, "documents"), "doc_id", "text", n),
        tier="parquet")


def corpus_pair_intersections(spark, sf_dir: str, n: int = 5):
    """Materialized co-shingle pair intersections (id1, id2, inter, n1,
    n2) for the documents table, persisted per (session, sf_dir, n). At
    100 TB this is the pair-graph table a dedup pipeline writes at
    ingest and every similarity score reads — write once, project many.
    One tier above the shingle memo: the grouped pair emit (the single
    shuffle every exact set-similarity query pays) runs ONCE per
    session and lands in warehouse parquet (``immemo``); Jaccard
    (q146, the pgmemo edge build) and containment (q144) are per-row
    projections of the scan. q40 deliberately does NOT read it: it is
    the sanctioned documented-eager ground-truth twin that re-runs the
    full pipeline per call (bench honesty — see
    bench.SANCTIONED_TWINS)."""
    from sunat_rree_demo_spark.operators.dedup import (
        pair_intersection_table,
    )

    return session_memo(
        spark, "immemo", (sf_dir, n),
        lambda: pair_intersection_table(
            t(spark, sf_dir, "documents"), "doc_id", "text", n,
            arr=corpus_shingle_arrays(spark, sf_dir, n)),
        tier="parquet")


def lsh_candidate_pairs(spark, sf_dir: str, n: int = 5,
                        k: int | None = None, bands: int | None = None):
    """Distinct (band, bucket)-collision candidate pairs (id1, id2)
    over the documents corpus — the band-collision DISTINCT pairs the
    two-tier verify re-scores — persisted per (session, sf_dir, n, k,
    bands) via the warehouse parquet tier (``cdmemo``). A production
    pipeline persists its candidate table per corpus snapshot next to
    the signature/index tables; the per-query cost of the two-tier
    shape is the VERIFY join, which q71 still pays per call.
    Signatures and band buckets are per-doc properties, so the
    memoized set is identical to what the in-line generation emits.
    The candidate set is a pure function of (arr, k, bands) — r11
    advisory: k/bands must be part of the memo key or a caller with
    non-default LSH geometry would be served a memo built under a
    different one."""
    from sunat_rree_demo_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_K,
        lsh_candidate_pairs_from_arrays,
    )

    k = MINHASH_K if k is None else k
    bands = LSH_BANDS if bands is None else bands
    return session_memo(
        spark, "cdmemo", (sf_dir, n, k, bands),
        lambda: lsh_candidate_pairs_from_arrays(
            corpus_shingle_arrays(spark, sf_dir, n), "doc_id",
            k=k, bands=bands),
        tier="parquet")


#: shared shingle/token CTEs (the tokenizer contract of operators.text)
def shingle_cte(src: str = "documents") -> str:
    """The toks→sh→h CTE chain over any (doc_id, text) relation —
    parameterized so survivor-set pipelines (q204's curation funnel)
    shingle the SAME way as the corpus-wide oracles, from one text."""
    return """
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM {src}
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 3, 1)),
               i -> array_to_string(tk[i:i+4], ' ')))) AS shingle
      FROM toks WHERE len(tk) >= 5
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(sha256(shingle), 1, {hexlen}))::BIGINT AS bh
      FROM sh
    )
""".format(src=src, hexlen=HASH_HEX_LEN)


_SHINGLE_CTE = shingle_cte()

#: per-doc MinHash signature columns mh0..mh{k-1} over ``_SHINGLE_CTE``'s
#: base hashes, generated from the operator's own (a, b) constants —
#: the one oracle render of the signature every MinHash oracle reads
_SIG_CTE = """
    sig AS (
      SELECT doc_id,
             {cols}
      FROM h GROUP BY doc_id
    )""".format(cols=",\n             ".join(
    f"min(({a} * bh + {b}) % {MERSENNE_P}) AS mh{i}"
    for i, (a, b) in enumerate(_minhash_params())))


def _minhash_cand_ctes() -> str:
    """The LSH candidate derivation (signatures → band buckets →
    collision pairs) as CTE text appended after ``_SHINGLE_CTE`` —
    shared by the q41 estimate oracle and the q71 exact-verify oracle
    so the candidate set cannot drift between them."""
    rows_per_band = MINHASH_K // LSH_BANDS
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bucket FROM sig"
        .format(b=bi, cols=", ".join(
            f"mh{bi * rows_per_band + r}" for r in range(rows_per_band)))
        for bi in range(LSH_BANDS))
    return f"""{_SIG_CTE},
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def minhash_eq_sum() -> str:
    """Σ [s1.mh_i = s2.mh_i] over the signature components — the ONE
    copy of the agreement count every estimate/S-curve oracle embeds
    (review finding r7: four hand-copies had accumulated)."""
    return " + ".join(
        f"CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K))


def minhash_est_pairs_select(threshold: float,
                             with_estimate: bool = False,
                             extra_where: str = "") -> str:
    """The estimate-filtered candidate-pair SELECT (requires the
    sig/cand CTEs from ``_minhash_cand_ctes`` in scope) — shared by
    q41/q185 (with the estimate column), q204's funnel and q205's eval
    (pair keys only), so the estimate rounding and threshold handling
    exist in exactly one place."""
    est = f"round(({minhash_eq_sum()}) / {float(MINHASH_K)}, 4)"
    cols = "id1, id2" + (f",\n           {est} AS jaccard_est"
                         if with_estimate else "")
    return f"""SELECT {cols}
    FROM cand
    JOIN sig s1 ON id1 = s1.doc_id
    JOIN sig s2 ON id2 = s2.doc_id
    WHERE {est} >= {threshold}
          {extra_where}"""


def _minhash_oracle_sql(threshold: float = 0.3,
                        extra_where: str = "") -> str:
    """The full MinHash+LSH pipeline in DuckDB SQL, generated from the
    operator's own (a, b) constants and band layout. ``extra_where``
    appends a pair-level predicate (q185 restricts to cross-shard
    pairs) so variants stay candidate-identical with q41."""
    return f"""
    WITH {_SHINGLE_CTE},
    {_minhash_cand_ctes()}
    {minhash_est_pairs_select(threshold, with_estimate=True,
                              extra_where=extra_where)}
    ORDER BY id1, id2
    """


def _simhash_oracle_sql(bits: int = 32) -> str:
    """Per-doc SimHash in DuckDB SQL: signed bit votes over distinct
    token hashes, reassembled with the same bit weights."""
    votes = ",\n             ".join(
        f"sum(CASE WHEN (bh >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    fp = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(list_distinct(tk)) AS t FROM toks
    ),
    th AS (
      SELECT doc_id,
             ('0x' || substr(sha256(t), 1, {HASH_HEX_LEN}))::BIGINT AS bh
      FROM tok
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM th GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
    FROM votes
    ORDER BY doc_id
    """


# ---------------------------------------------------------------------- q39
@register(
    "q39_exact_dedup",
    oracle="""
    WITH canon AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY sha256(text)
    )
    SELECT d.lang, count(*) AS n_kept,
           round(CAST(sum(d.n_chars) AS DOUBLE), 2) AS total_chars
    FROM documents d
    JOIN canon c ON d.doc_id = c.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    tags=("dedup", "exact"),
)
def q39_exact_dedup(spark, sf_dir):
    """Exact dedup: keep min-doc_id per content hash (hash-groupBy, one
    uniform-key shuffle), then summarize survivors per language."""
    d = t(spark, sf_dir, "documents")
    kept = exact_dedup(d, "text", "doc_id")
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"),
             # cast before round: sum(bigint) stays bigint in Spark but
             # DuckDB's round(hugeint) returns DOUBLE — align the types
             F.round(F.sum("n_chars").cast("double"), 2).alias("total_chars"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------- q40
#: the exact-Jaccard pair pipeline as a bare SELECT — q40's oracle core,
#: also embedded as the `pairs` CTE of q61's recursive closure
#: (queries.llm_pipeline); ONE copy so the two can't drift.
JACCARD_PAIRS_SELECT = f"""
      WITH {_SHINGLE_CTE},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ),
      jac AS (
        SELECT id1, id2,
               CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
        FROM inter
        JOIN sizes sa ON id1 = sa.doc_id
        JOIN sizes sb ON id2 = sb.doc_id
      )
      SELECT id1, id2, round(j, 4) AS jaccard FROM jac WHERE j >= 0.3
"""


@register(
    "q40_ngram_jaccard_pairs",
    memoize=False,  # builder localCheckpoints shingle rows (eager)
    oracle=JACCARD_PAIRS_SELECT + " ORDER BY id1, id2",
    tags=("dedup", "ngram-jaccard"),
)
def q40_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 5-gram Jaccard near-dup pairs ≥ 0.3 — the ground-truth
    near-dup operator (shingle self-join; MinHash-LSH is the scale
    path)."""
    d = t(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.3,
                            arr=corpus_shingle_arrays(spark, sf_dir))
        .orderBy("id1", "id2")
    )


# ---------------------------------------------------------------------- q41
@register(
    "q41_minhash_lsh_pairs",
    memoize=False,  # builder localCheckpoints signatures (eager)
    oracle=_minhash_oracle_sql(0.3),
    tags=("dedup", "minhash-lsh"),
)
def q41_minhash_lsh_pairs(spark, sf_dir):
    """MinHash(32) + LSH(8 bands × 4 rows) candidate pairs with
    estimated Jaccard ≥ 0.3 — the 100 TB dedup path: shuffle key is
    (band, bucket), never the raw shingle. The oracle re-implements the
    whole banded pipeline in SQL from the same constants."""
    d = t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", threshold=0.3,
                             arr=corpus_shingle_arrays(spark, sf_dir)) \
        .orderBy("id1", "id2")


# ---------------------------------------------------------------------- q42
@register(
    "q42_simhash",
    oracle=_simhash_oracle_sql(32),
    tags=("dedup", "simhash"),
)
def q42_simhash(spark, sf_dir):
    """Per-doc 32-bit SimHash fingerprints (signed bit votes over token
    hashes); hamming-band pair generation shares the LSH shape."""
    d = t(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------- q71
@register(
    "q71_verified_near_dups",
    memoize=False,  # builder localCheckpoints signatures + shingle arrays
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_cand_ctes()},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id1
      JOIN sh b ON b.doc_id = c.id2 AND a.shingle = b.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id1, id2,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
      FROM inter
      JOIN sizes sa ON id1 = sa.doc_id
      JOIN sizes sb ON id2 = sb.doc_id
    )
    SELECT id1, id2, round(j, 4) AS jaccard FROM jac WHERE j >= 0.3
    ORDER BY id1, id2
    """,
    tags=("dedup", "minhash-lsh", "verified"),
)
def q71_verified_near_dups(spark, sf_dir):
    """Two-tier near-dup pairs: LSH candidates re-scored with EXACT
    5-gram Jaccard (candidate-scale array_intersect) ≥ 0.3 — the
    production dedup shape: sub-quadratic generation, no estimate error
    on emitted pairs. Oracle shares the candidate CTEs with q41 and the
    shingle/size CTEs with q40, so all three stay consistent.

    r11: the candidate table comes from the session parquet memo
    (``cdmemo``) — the production pipeline persists candidates per
    corpus snapshot; the measured per-call work is the VERIFY join
    (array_intersect at candidate scale), which this query's two-tier
    identity is about. q41 keeps the eager per-call measurement of the
    generation pipeline (sanctioned-twins ledger)."""
    from sunat_rree_demo_spark.operators.dedup import verified_near_dup_pairs

    d = t(spark, sf_dir, "documents")
    return (verified_near_dup_pairs(d, "doc_id", "text", n=5, threshold=0.3,
                                    arr=corpus_shingle_arrays(spark, sf_dir),
                                    cand=lsh_candidate_pairs(spark, sf_dir))
            .orderBy("id1", "id2"))


# --------------------------------------------------------------------- q144
@register(
    "q144_containment_pairs",
    memoize=False,  # projection of the session pair-intersection memo
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    cont AS (
      SELECT id1, id2,
             CAST(inter AS DOUBLE) / sa.n AS c12,
             CAST(inter AS DOUBLE) / sb.n AS c21
      FROM inter
      JOIN sizes sa ON id1 = sa.doc_id
      JOIN sizes sb ON id2 = sb.doc_id
    )
    SELECT id1, id2, round(c12, 4) AS c12, round(c21, 4) AS c21,
           round(greatest(c12, c21), 4) AS cmax
    FROM cont WHERE greatest(c12, c21) >= 0.5
    ORDER BY id1, id2
    """,
    tags=("dedup", "containment"),
)
def q144_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup pairs: 5-gram shingle CONTAINMENT
    max(|∩|/|A|, |∩|/|B|) ≥ 0.5 — the quote/excerpt/subset signal
    Jaccard structurally misses (Broder'97's second resemblance
    measure; an excerpt wholly inside a long article has C ≈ 1 but
    J ≈ 0). r11: a per-row projection of the session pair-intersection
    memo — the grouped pair emit it used to re-run per call (the sole
    r10 regression flag, 3.3 s in the driver draw) runs once per
    session; this plan is a parquet scan + filter. The oracle
    recomputes containment exactly from the same shingle CTE the
    q40/q97 oracles use."""
    from sunat_rree_demo_spark.operators.dedup import containment_scores

    return (containment_scores(
        corpus_pair_intersections(spark, sf_dir), threshold=0.5)
        .orderBy("id1", "id2"))


# --------------------------------------------------------------------- q146
@register(
    "q146_cross_source_dup_matrix",
    memoize=False,  # shares the session shingle cache (documented-eager)
    oracle=f"""
    WITH pairs AS ({JACCARD_PAIRS_SELECT}),
    tagged AS (
      SELECT least(da.source, db.source) AS src1,
             greatest(da.source, db.source) AS src2,
             p.jaccard
      FROM pairs p
      JOIN documents da ON p.id1 = da.doc_id
      JOIN documents db ON p.id2 = db.doc_id
    )
    SELECT src1, src2, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST((2 * sum(CAST(round(jaccard * 10000, 0) AS BIGINT))
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
             AS avg_jaccard
    FROM tagged GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("dedup", "provenance", "matrix"),
)
def q146_cross_source_dup_matrix(spark, sf_dir):
    """Provenance dup matrix: exact near-dup pair counts (5-gram
    Jaccard ≥ 0.3, q40's pair set) aggregated by unordered ingest
    SOURCE pair — the triage view a pipeline reads to decide which
    feed to drop or dedup-first (within-source boilerplate vs
    cross-source mirroring). r11: the pair set is a Jaccard projection
    of the session pair-intersection memo (one parquet scan, no
    per-call pair emit); the source lookups are broadcast joins
    against the doc-grain (id, source) projection; the matrix is
    sources² rows at most."""
    from sunat_rree_demo_spark.operators.dedup import jaccard_scores

    d = t(spark, sf_dir, "documents")
    pairs = jaccard_scores(
        corpus_pair_intersections(spark, sf_dir), threshold=0.3)
    src = d.select("doc_id", "source")
    tagged = (pairs
              .join(src.withColumnRenamed("doc_id", "id1")
                    .withColumnRenamed("source", "_s1"), "id1")
              .join(src.withColumnRenamed("doc_id", "id2")
                    .withColumnRenamed("source", "_s2"), "id2"))
    return (
        tagged.groupBy(F.least("_s1", "_s2").alias("src1"),
                       F.greatest("_s1", "_s2").alias("src2"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"),
             # integer micro-unit mean (half-up): the 4dp pair values
             # become exact 1e-4 integers before summing, so no float
             # accumulation order or .5-boundary can drift the average
             # between engines
             (F.expr("(2 * sum(CAST(round(jaccard * 10000, 0) AS BIGINT))"
                     " + count(*)) div (2 * count(*))")
              .cast("double") / 10000.0).alias("avg_jaccard"))
        .orderBy("src1", "src2")
    )


# --------------------------------------------------------------------- q248
@register(
    "q248_setsim_score_matrix",
    memoize=False,  # projection of the session pair-intersection memo
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT id1, id2,
             CAST(inter AS DOUBLE)
               / (sa.n + sb.n - inter) AS jaccard,
             2.0 * inter / (sa.n + sb.n) AS dice,
             CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS ovl,
             greatest(CAST(inter AS DOUBLE) / sa.n,
                      CAST(inter AS DOUBLE) / sb.n) AS cmax
      FROM inter
      JOIN sizes sa ON id1 = sa.doc_id
      JOIN sizes sb ON id2 = sb.doc_id
    )
    SELECT id1, id2, round(jaccard, 4) AS jaccard,
           round(dice, 4) AS dice, round(ovl, 4) AS overlap,
           round(cmax, 4) AS cmax
    FROM sc WHERE dice >= 0.4 ORDER BY id1, id2
    """,
    tags=("dedup", "similarity", "scores"),
)
def q248_setsim_score_matrix(spark, sf_dir):
    """The full set-similarity score matrix — Jaccard, Dice, overlap
    coefficient and max containment per co-shingling pair, Dice ≥ 0.4
    (r11): the threshold-tuning triage view, and the proof of the
    pair-intersection memo's write-once/project-many contract — THREE
    sibling queries (q144 containment, q146 source matrix, this
    matrix) now share one per-session grouped pair emit and each
    serves as a parquet scan plus column arithmetic (Broder'97 §3's
    resemblance/containment family computed off one intersection
    table). The oracle recomputes all four scores exhaustively from
    the shingle CTE."""
    from sunat_rree_demo_spark.operators.dedup import setsim_score_matrix

    return (setsim_score_matrix(
        corpus_pair_intersections(spark, sf_dir), min_dice=0.4)
        .orderBy("id1", "id2"))


# --------------------------------------------------------------------- q149
#: 28 bits = every REAL bit of the sha-derived base hash (simhash's
#: upper bits past 27 are structurally zero); 4 bands × 7 bits keeps
#: each band fully discriminative, where 32-bit banding would leave a
#: 4-real-bit top band whose 16 bucket values fan out candidates.
_SIMHASH_FP_SQL = _simhash_oracle_sql(28).replace("ORDER BY doc_id", "")


@register(
    "q149_simhash_pairs",
    oracle=f"""
    WITH fp AS ({_SIMHASH_FP_SQL}),
    bands AS (
      SELECT doc_id, b, (simhash >> (b * 7)) & 127 AS bv
      FROM fp, (SELECT unnest(range(0, 4)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id1, id2,
             bit_count(xor(f1.simhash, f2.simhash)) AS hamming
      FROM cand
      JOIN fp f1 ON cand.id1 = f1.doc_id
      JOIN fp f2 ON cand.id2 = f2.doc_id
      WHERE bit_count(xor(f1.simhash, f2.simhash)) <= 3
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1 ORDER BY 1
    """,
    tags=("dedup", "simhash", "pairs"),
)
def q149_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pair census (hamming ≤ 3 over 28-bit
    fingerprints) via 4-band pigeonhole candidate generation + exact
    popcount verify (Manku et al. WWW'07) — the pair half q42's
    fingerprints exist for, completing the third dedup family
    end-to-end (exact q39, MinHash q41, SimHash here). Shuffle key is
    (band, slice), the LSH shape; the oracle re-runs banding and
    bit_count on its own independently-derived fingerprints.

    The OUTPUT is the per-distance pair count, not the raw pair list:
    at 28 fingerprint bits a heavily-templated corpus (this synthetic
    one shares token vocabulary across docs, and simhash reads the
    unordered token SET) yields pair rates in the percent range —
    production deployments use 64-bit fingerprints for exactly this
    reason. The census still pins every stage cross-engine (any
    missed/extra/mis-measured pair shifts a count), while keeping the
    result at report grain."""
    from sunat_rree_demo_spark.operators.dedup import simhash_pairs

    d = t(spark, sf_dir, "documents")
    return (simhash_pairs(d, "doc_id", "text", bits=28, bands=4,
                          max_hamming=3)
            .groupBy("hamming")
            .agg(F.count("*").cast("bigint").alias("n_pairs"))
            .orderBy("hamming"))


# --------------------------------------------------------------------- q151
@register(
    "q151_minhash_containment",
    memoize=False,  # builder localCheckpoints signatures (eager-ish)
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_cand_ctes()}
    , sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    est AS (
      SELECT id1, id2, ({minhash_eq_sum()}) AS eq, sa.n AS n1, sb.n AS n2
      FROM cand
      JOIN sig s1 ON id1 = s1.doc_id
      JOIN sig s2 ON id2 = s2.doc_id
      JOIN sizes sa ON id1 = sa.doc_id
      JOIN sizes sb ON id2 = sb.doc_id
    ),
    r AS (
      SELECT id1, id2,
             CAST(eq * (n1 + n2) AS BIGINT) AS num,
             CAST(({MINHASH_K} + eq) * n1 AS BIGINT) AS d1,
             CAST(({MINHASH_K} + eq) * n2 AS BIGINT) AS d2
      FROM est
    )
    SELECT id1, id2,
           CAST((2 * 10000 * num + d1) // (2 * d1) AS DOUBLE) / 10000.0
             AS c12_est,
           CAST((2 * 10000 * num + d2) // (2 * d2) AS DOUBLE) / 10000.0
             AS c21_est
    FROM r WHERE 2 * num >= least(d1, d2)
    ORDER BY id1, id2
    """,
    tags=("dedup", "containment", "minhash"),
)
def q151_minhash_containment(spark, sf_dir):
    """Estimated shingle containment ≥ 0.5 over MinHash+LSH candidates
    — q144's scale path: Ĉ(1→2) = eq·(n1+n2)/((k+eq)·n1) inverts
    Broder's identity using the signature-equal count and EXACT set
    sizes; numerator and denominator stay int64 end-to-end, so the
    threshold filter and 4dp quantization are bit-identical in both
    engines with no float division. The oracle re-runs the whole
    banded pipeline plus the rational from the same constants.
    (Operator: operators.dedup.minhash_containment_pairs; recall
    caveats documented there.)"""
    from sunat_rree_demo_spark.operators.dedup import (
        minhash_containment_pairs,
    )

    d = t(spark, sf_dir, "documents")
    return (minhash_containment_pairs(
        d, "doc_id", "text", threshold=0.5,
        arr=corpus_shingle_arrays(spark, sf_dir))
        .orderBy("id1", "id2"))


# --------------------------------------------------------------------- q181
_WIN_N = 3   # word n-gram size fingerprinted
_WIN_W = 4   # winnow window: guarantees matches of >= W+N-1 tokens


def _winnow_selected_sql(w: int) -> str:
    """The rightmost-min winnowing rule as a disjunction over the
    window offset k = (position − window start): position j is chosen
    by SOME length-``w`` window iff for one valid k every earlier hash
    in the window is >= h and every later one is > h. Shared verbatim
    (window frames and validity arithmetic) with the Spark side."""
    arms = []
    for k in range(w):
        left = ("TRUE" if k == 0 else
                f"coalesce(min(h) OVER (PARTITION BY doc_id ORDER BY pos "
                f"ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING) >= h, TRUE)")
        right = ("TRUE" if k == w - 1 else
                 f"coalesce(min(h) OVER (PARTITION BY doc_id ORDER BY pos "
                 f"ROWS BETWEEN 1 FOLLOWING AND {w - 1 - k} FOLLOWING) > h,"
                 " TRUE)")
        arms.append(f"(pos - 1 >= {k} AND {k} >= pos + {w} - 1 - np"
                    f" AND {left} AND {right})")
    return " OR ".join(arms)


@register(
    "q181_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents),
    grams AS (
      SELECT doc_id, u.pos, ('0x' || substring(sha256(u.g), 1, 7))::BIGINT
               AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 list_transform(range(1, greatest(len(tk) - {_WIN_N} + 2,
                                                  1)),
                   i -> array_to_string(tk[i:i+{_WIN_N - 1}], ' ')),
                 (g, i) -> struct_pack(pos := i, g := g))) AS u
        FROM toks WHERE len(tk) >= {_WIN_N})),
    pos AS (
      SELECT doc_id, pos, h,
             count(*) OVER (PARTITION BY doc_id) AS np
      FROM grams),
    sel AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, pos, h, np,
               ({_winnow_selected_sql(_WIN_W)}) AS take
        FROM pos) WHERE take),
    fp AS (SELECT DISTINCT doc_id, h FROM sel),
    df AS (SELECT h, count(*) AS nd FROM fp GROUP BY h)
    SELECT f.doc_id,
           max(p.np) AS n_windows,
           count(*) AS n_fp,
           CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fp
    FROM fp f JOIN df USING (h)
    JOIN (SELECT doc_id, max(np) AS np FROM pos GROUP BY doc_id) p
      USING (doc_id)
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    tags=("dedup", "fingerprint", "winnowing"),
)
def q181_winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word {_WIN_N}-gram,
    slide a {_WIN_W}-hash window, keep each window's RIGHTMOST minimum
    — the selection guarantees any shared run of ≥ {_WIN_W + _WIN_N - 1}
    tokens leaves at least one common fingerprint, at ~2/(W+1)
    storage. Per doc: window count, fingerprint count, and how many of
    its fingerprints appear in at least one other document (the MOSS
    match signal).

    Entirely relational on BOTH engines — no Python: the rightmost-min
    rule becomes a disjunction of W bounded window-frame comparisons
    (k PRECEDING / W−1−k FOLLOWING mins plus edge-validity arithmetic),
    identical SQL semantics in Spark and DuckDB. Scale shape: one
    n-gram explode, per-doc partitioned windows (no global sort), a
    fingerprint-grain df aggregate with map-side combine."""
    d = t(spark, sf_dir, "documents")
    # n-gram assembly slices a SPLIT-ONCE token column: the inlined
    # form re-split the text inside the index lambda, once per window
    # position (O(len²); the interpreted-HOF trap, see
    # text.bigram_surprisal — r7: 6.2s → ~1s first execution)
    grams = (
        d.select("doc_id",
                 F.expr("split(trim(text), '\\\\s+')").alias("_tok"))
        .select("doc_id", F.posexplode(F.expr(f"""
            CASE WHEN size(_tok) >= {_WIN_N} THEN
              transform(sequence(1, size(_tok) - {_WIN_N} + 1),
                i -> array_join(slice(_tok, i, {_WIN_N}), ' '))
            ELSE array() END""")).alias("_p", "g"))
        .select("doc_id", (F.col("_p") + 1).alias("pos"),
                F.conv(F.substring(F.sha2(F.col("g"), 256), 1, 7), 16, 10)
                .cast("bigint").alias("h"))
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id")
    pos = grams.withColumn("np", F.count("*").over(wd))
    wo = Window.partitionBy("doc_id").orderBy("pos")
    take = F.lit(False)
    for k in range(_WIN_W):
        left = (F.lit(True) if k == 0 else
                F.coalesce(F.min("h").over(wo.rowsBetween(-k, -1))
                           >= F.col("h"), F.lit(True)))
        right = (F.lit(True) if k == _WIN_W - 1 else
                 F.coalesce(F.min("h").over(
                     wo.rowsBetween(1, _WIN_W - 1 - k)) > F.col("h"),
                     F.lit(True)))
        valid = ((F.col("pos") - 1 >= k)
                 & (F.lit(k) >= F.col("pos") + _WIN_W - 1 - F.col("np")))
        take = take | (valid & left & right)
    fp = (pos.withColumn("take", take).filter("take")
          .select("doc_id", "h").distinct())
    dfreq = fp.groupBy("h").agg(F.count("*").alias("nd"))
    np_doc = pos.groupBy("doc_id").agg(F.max("np").alias("n_windows"))
    return (
        fp.join(dfreq, "h").join(np_doc, "doc_id")
        .groupBy("doc_id", "n_windows")
        .agg(F.count("*").alias("n_fp"),
             F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
             .cast("bigint").alias("n_shared_fp"))
        .select("doc_id", "n_windows", "n_fp", "n_shared_fp")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- q185
def _index_scratch(spark, sf_dir: str, prefix: str) -> tuple[str, str]:
    """(root, sfx) for a session's on-disk index build. ``sfx`` is the
    sanitized ``<sf>_<app id>`` suffix that keeps this session's names
    its own: the bucketed band tables ``xband_…_<sfx>`` and the index
    root ``<warehouse>/<prefix><sfx>``. Both end in the app id, so the
    warehouse janitor reaps a dead session's tables and roots, called
    here before the build."""
    import re

    from sunat_rree_demo_spark.sources.sinks import drop_stale_app_tables

    for stale in ("xband_", prefix):
        drop_stale_app_tables(spark, stale)
    sfx = re.sub(r"\W", "_",
                 f"{sf_dir.rstrip('/').rsplit('/', 1)[-1]}_{app_id(spark)}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    return f"{warehouse}/{prefix}{sfx}", sfx


@register(
    "q185_index_join_candidates",
    memoize=False,  # builder materializes two index generations (eager)
    oracle=_minhash_oracle_sql(0.3, "AND (id1 + id2) % 2 = 1"),
    tags=("dedup", "minhash-lsh", "index", "cross-shard"),
)
def q185_index_join_candidates(spark, sf_dir):
    """CROSS-SHARD dedup via index-vs-index join (the r5 verdict's
    missing end-to-end): the corpus is split into two shards (even/odd
    doc ids — stand-ins for two ingest pipelines or datacenters), each
    builds its own persisted MinHash index (operators/dedup_index.py),
    the two band tables are materialized through the bucketed sink on
    (band, bucket), and candidate pairs come from the SHUFFLE-FREE
    bucketed equi-join between the index generations — neither side
    broadcast, no corpus rescan. Estimates then join the stored
    signatures at candidate scale. Because a signature is a pure
    function of the text, the result is exactly q41's batch-global
    pairs restricted to cross-shard (even, odd) pairs — which is what
    the oracle computes from the union corpus. The candidate estimates
    are session-memoized: the two on-disk index generations + bucketed
    band tables are built once per (session, sf_dir).

    Scale shape: each shard's index build touches only its own docs;
    the candidate join reads both band tables pre-hashed into aligned
    buckets (no Exchange — pinned by tests/test_r6_plans.py::
    test_q185_bucketed_index_join_no_exchange); estimate joins are
    candidate-bounded."""
    from sunat_rree_demo_spark.operators.dedup import estimate_pairs
    from sunat_rree_demo_spark.operators.dedup_index import (
        cross_index_candidates,
        write_minhash_index,
    )

    def build():
        root, sfx = _index_scratch(spark, sf_dir, "xshard_idx_")
        d = t(spark, sf_dir, "documents")
        # one checkpointed signature pass feeds both shard builds —
        # signatures are pure per-doc, so the two indexes are
        # byte-identical to independent builds at half the Python
        # minhash cost (r8 cold-time shave; the serving-side story —
        # index-vs-index join, no corpus rescan — is unchanged)
        from sunat_rree_demo_spark.operators.dedup import (
            minhash_signatures,
        )

        sig = minhash_signatures(d, "doc_id", "text").localCheckpoint()
        write_minhash_index(d, f"{root}/even",
                            sig=sig.filter("doc_id % 2 = 0"))
        write_minhash_index(d, f"{root}/odd",
                            sig=sig.filter("doc_id % 2 = 1"))
        cand = cross_index_candidates(
            spark, f"{root}/even", f"{root}/odd",
            f"xband_even_{sfx}", f"xband_odd_{sfx}")
        sigs = (spark.read.parquet(f"{root}/even/sigs")
                .unionByName(spark.read.parquet(f"{root}/odd/sigs"))
                .select("doc_id", "sig"))
        # even/odd ids are disjoint, so least/greatest keeps pairs unique
        return estimate_pairs(
            cand.select(F.least("id1", "id2").alias("id1"),
                        F.greatest("id1", "id2").alias("id2")),
            sigs, "doc_id", threshold=0.3)

    return session_memo(spark, "xshard", (sf_dir,),
                        build).orderBy("id1", "id2")


# --------------------------------------------------------------------- q187
@register(
    "q187_bucketed_minhash_join",
    memoize=False,  # builder materializes the index + bucketed bands (eager)
    oracle=_minhash_oracle_sql(0.3),
    tags=("dedup", "minhash-lsh", "index", "bucketed"),
)
def q187_bucketed_minhash_join(spark, sf_dir):
    """q41's batch-global near-dup pairs SERVED FROM THE PERSISTED
    INDEX instead of recomputed: the full-corpus MinHash index is
    written once (operators/dedup_index.py), its band table
    materialized through the bucketed sink on (band, bucket), and the
    candidate SELF-join runs bucket-aligned — no Exchange, no shingle
    or signature recomputation, the recurring-dedup serving shape
    (amortize the Python signature pass across every later query).
    Estimates join the stored signatures at candidate scale; since a
    signature is a pure function of the text, the result is
    bit-identical to q41 and shares its oracle.

    Scale shape: the index build is the one corpus scan; afterwards a
    dedup query costs two bucket-aligned table reads + a candidate-
    bounded estimate join. The self-join's both sides read the SAME
    bucketed table, so tasks stream co-located bucket files (pinned by
    tests/test_r6_plans.py::test_q187_bucketed_self_join_no_exchange)."""
    return full_index_pairs(spark, sf_dir).orderBy("id1", "id2")


def full_index_pairs(spark, sf_dir: str):
    """Corpus-wide MinHash estimate pairs (est ≥ 0.3) SERVED from the
    persisted full-corpus index, session-memoized per (sf_dir) — the
    shared serving source of q187 and the index-served curation funnel
    (q240): the expensive signature pass + bucketed band build run
    once per session; every consumer reads the bounded pair frame.
    Because signatures and band buckets are pure per-doc functions of
    the text, restricting these corpus pairs to any subset S (a
    semi-join on both endpoints) is IDENTICAL to running the banded
    pipeline over S alone — the algebraic fact the served funnel
    rests on."""
    from sunat_rree_demo_spark.operators.dedup import (
        _band_pairs,
        estimate_pairs,
    )
    from sunat_rree_demo_spark.operators.dedup_index import (
        write_bucketed_bands,
        write_minhash_index,
    )

    def build():
        root, sfx = _index_scratch(spark, sf_dir, "full_idx_")
        write_minhash_index(t(spark, sf_dir, "documents"), root)
        write_bucketed_bands(spark, root, f"xband_all_{sfx}")
        cand = _band_pairs(spark.table(f"xband_all_{sfx}"), "doc_id")
        sigs = spark.read.parquet(f"{root}/sigs").select("doc_id", "sig")
        return estimate_pairs(cand, sigs, "doc_id", threshold=0.3)

    return session_memo(spark, "fullidx", (sf_dir,), build)


# --------------------------------------------------------------------- q190
_LRS_CAP = 64  # reported LCP cap (both engines apply it identically)
_LRS_MOD = 20  # census sample: doc_id % _LRS_MOD == 0


@register(
    "q190_suffix_array_lcp_dups",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text AS s FROM documents
      WHERE doc_id % {_LRS_MOD} = 0 AND length(text) >= 1
    ),
    suf AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(s) + 1),
                                   i -> substr(s, i))) AS suf
      FROM d
    ),
    adj AS (
      SELECT doc_id, suf,
             lag(suf) OVER (PARTITION BY doc_id ORDER BY suf) AS prev
      FROM suf
    ),
    l AS (
      SELECT doc_id,
             CASE WHEN prev IS NULL THEN 0 ELSE
               list_max(list_transform(range(0, {_LRS_CAP + 1}),
                 k -> CASE WHEN substr(suf, 1, k) = substr(prev, 1, k)
                      THEN k ELSE 0 END))
             END AS lcp
      FROM adj
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_suffixes,
           CAST(max(lcp) AS BIGINT) AS lrs_len
    FROM l GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("dedup", "suffix-array", "repeated-substring"),
)
def q190_suffix_array_lcp_dups(spark, sf_dir):
    """Longest-REPEATED-substring census via suffix sorting — the
    suffix-array + adjacent-LCP identity (the maximal LCP over all
    suffix pairs is attained by lexicographic neighbors): per sampled
    doc (doc_id mod {_LRS_MOD} — the census grain; the operator itself
    is per-doc and runs anywhere), sort its suffixes, take the max
    adjacent LCP capped at {_LRS_CAP} chars. High lrs_len relative to
    doc length is the internal-duplication signal boilerplate/spam
    filters act on — the exact-substring complement of q143's
    Rabin-Karp window census. The oracle rebuilds suffixes with
    substr/lag and evaluates the same capped prefix comparison, so the
    Python suffix sort is verified against pure SQL.

    Scale shape: embarrassingly parallel per document inside one
    Arrow-batched mapInPandas (suffix arrays never leave the task);
    no shuffle at all until the final doc-grain sort."""
    import pandas as pd

    d = (t(spark, sf_dir, "documents")
         .filter((F.col("doc_id") % _LRS_MOD == 0)
                 & (F.length("text") >= 1))
         .select("doc_id", "text"))

    def sa(it):
        for pdf in it:
            out = []
            for did, s in zip(pdf["doc_id"], pdf["text"]):
                if not s:
                    continue
                sufs = sorted(s[i:] for i in range(len(s)))
                best = 0
                for a, b in zip(sufs, sufs[1:]):
                    m = min(len(a), len(b), _LRS_CAP)
                    k = 0
                    while k < m and a[k] == b[k]:
                        k += 1
                    if k > best:
                        best = k
                out.append((did, len(s), best))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_suffixes", "lrs_len"])

    return d.mapInPandas(
        sa, schema="doc_id long, n_suffixes long, lrs_len long"
    ).orderBy("doc_id")


# --------------------------------------------------------------------- q203
def _q203_oracle() -> str:
    """Generated from the operator's own (a, b) permutation constants
    and band layout, like ``_minhash_oracle_sql`` — one source of
    truth for signatures AND band geometry."""
    r = MINHASH_K // LSH_BANDS
    eq_sum = minhash_eq_sum()
    band_sum = " + ".join(
        "CASE WHEN " + " AND ".join(
            f"s1.mh{bi * r + j} = s2.mh{bi * r + j}" for j in range(r))
        + " THEN 1 ELSE 0 END"
        for bi in range(LSH_BANDS))
    return f"""
    WITH {_SHINGLE_CTE},{_SIG_CTE},
    p AS (
      SELECT ({eq_sum}) AS eq, ({band_sum}) AS n_bands
      FROM sig s1 JOIN sig s2
        ON s2.doc_id - s1.doc_id BETWEEN 1 AND 3
    )
    SELECT CAST((eq * 10) // {MINHASH_K} AS BIGINT) AS sim_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n_bands >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_collided,
           CAST(sum(n_bands) AS BIGINT) AS sum_bands
    FROM p GROUP BY 1 ORDER BY 1
    """


@register(
    "q203_lsh_band_scurve",
    memoize=False,  # builder checkpoints the signature frame (eager)
    oracle=_q203_oracle(),
    tags=("dedup", "lsh", "tuning"),
)
def q203_lsh_band_scurve(spark, sf_dir):
    """EMPIRICAL LSH S-curve over a deterministic pair spectrum — the
    banding-parameter tuning diagnostic run before committing (bands,
    rows) at corpus scale: for id-adjacent pairs (each doc vs its next
    3 ids — a spectrum of similarities including the non-candidates an
    LSH-candidate-only view never shows), bucket by signature agreement
    (eq·10 div k deciles) and report how many pairs collide in ≥1 of
    the {LSH_BANDS} bands and the total bands matched. Reading the
    table IS the S-curve: collision rate per similarity decile — if
    mid-similarity buckets collide too often the bands are too coarse
    (shrink r), if high buckets miss, too fine. All integers from the
    signatures themselves (no pow(), whose libm rounding differs
    across engines); the oracle re-derives signatures AND band
    geometry from the same constants.

    Scale shape: signatures ride the doc-grain Arrow pass; the pair
    spectrum is an EQUI-join (offset explode → id2 key), never a
    nested loop; everything after is a tiny grouped aggregate. At
    100 TB the same query runs on a SAMPLE of ids — the diagnostic
    needs a spectrum, not the corpus."""
    from sunat_rree_demo_spark.operators.dedup import (
        _sig_agreement,
        _signatures_from_shingle_arrays,
    )

    # signatures derive from the session-memoized shingle arrays (no
    # re-shingling) and are checkpointed once for the self-join's two
    # references (review finding r7: the bare operator call ran the
    # corpus-wide Python pass twice per execution)
    sig = _signatures_from_shingle_arrays(
        corpus_shingle_arrays(spark, sf_dir), "doc_id").localCheckpoint()
    r = MINHASH_K // LSH_BANDS
    pairs = (
        sig.select(F.col("doc_id").alias("id1"),
                   F.col("sig").alias("sig1"),
                   F.explode(F.array(*[F.lit(i) for i in (1, 2, 3)]))
                   .alias("_d"))
        .withColumn("id2", F.col("id1") + F.col("_d"))
        .join(sig.select(F.col("doc_id").alias("id2"),
                         F.col("sig").alias("sig2")), "id2")
    )
    eq = _sig_agreement("sig1", "sig2")
    band_hit = [
        F.when(
            F.array_min(F.array(*[
                (F.element_at("sig1", bi * r + j + 1)
                 == F.element_at("sig2", bi * r + j + 1)).cast("int")
                for j in range(r)])) == 1, 1).otherwise(0)
        for bi in range(LSH_BANDS)
    ]
    n_bands = sum(band_hit[1:], band_hit[0])
    return (
        pairs.select(eq.alias("_eq"), n_bands.alias("_nb"))
        .select(F.expr(f"(_eq * 10) div {MINHASH_K}").cast("bigint")
                .alias("sim_bucket"), "_nb")
        .groupBy("sim_bucket")
        .agg(F.count("*").cast("bigint").alias("n_pairs"),
             F.sum(F.when(F.col("_nb") >= 1, 1).otherwise(0))
             .cast("bigint").alias("n_collided"),
             F.sum("_nb").cast("bigint").alias("sum_bands"))
        .orderBy("sim_bucket")
    )
