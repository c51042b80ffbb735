"""Training-data pipeline queries (driver mandate, SURVEY.md §7.4
extension surface): duplicate *clustering* (the step after pairwise
near-dup detection), deterministic train/val/test hash splits,
benchmark decontamination, and PII/entity redaction — each
oracle-checked, the iterative clustering ones against DuckDB
``WITH RECURSIVE`` transitive closures.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from sunat_rree_demo_spark.operators.components import connected_components
from sunat_rree_demo_spark.operators.dedup import (
    MINHASH_K,
    contamination_overlap,
    minhash_lsh_pairs,
)
from sunat_rree_demo_spark.operators.text import (
    EMAIL_RE,
    URL_RE,
    hash_split,
    pack_sequences,
    pattern_count,
    quality_score,
    redact,
    tokens,
)
from sunat_rree_demo_spark.queries.base import register, t
from sunat_rree_demo_spark.sources.catalog import session_memo
from sunat_rree_demo_spark.queries.dedup import (
    JACCARD_PAIRS_SELECT,
    _minhash_oracle_sql,
)

# ---------------------------------------------------------------------------
# Shared oracle fragments
# ---------------------------------------------------------------------------

#: per-doc quality twin of operators.text.quality_score (= q36's oracle)
_TOKS = "string_split_regex(trim(text), '\\s+')"
_QUALITY_SQL = f"""
      SELECT doc_id AS node,
             round(0.5 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                          / CAST(len({_TOKS}) AS DOUBLE))
                   + 0.5 * least(CAST(len({_TOKS}) AS DOUBLE) / 100.0, 1.0),
                   4) AS quality
      FROM documents
"""


def _closure_ctes(pairs_sql: str) -> str:
    """Transitive closure of an undirected pair list: ``labels`` =
    (node, cluster_id = min node in component), ``csizes`` = members
    per cluster. The recursive UNION deduplicates, so the fixpoint is
    the reachability set — the SQL twin of the min-label propagation in
    operators.components."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION
      SELECT id2, id1 FROM pairs
    ),
    reach(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
    ),
    labels AS (
      SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node
    ),
    csizes AS (
      SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id
    )
"""


def dup_pair_edges(spark, sf_dir: str):
    """(id1, id2) exact 5-gram Jaccard ≥ 0.3 pairs over documents,
    persisted per (session, sf_dir) via the warehouse parquet tier
    (``pgmemo``). This near-dup PAIR GRAPH is the shared input of both
    clustering algorithms (q61 min-label, q68 large-star/small-star).
    Same design as ``corpus_shingle_arrays``/``monthly_flows``: a
    production dedup pipeline materializes the pair table once and
    every clustering / representative-selection pass reads it;
    recomputing the full pair pipeline per consumer is the thing a
    100 TB deployment cannot afford. r11: the build projects the
    session pair-intersection memo instead of re-running the grouped
    pair emit — one cold pass feeds this, q144 and q146."""
    from sunat_rree_demo_spark.operators.dedup import jaccard_scores
    from sunat_rree_demo_spark.queries.dedup import (
        corpus_pair_intersections,
    )

    def build():
        return (jaccard_scores(
            corpus_pair_intersections(spark, sf_dir), threshold=0.3)
            .select("id1", "id2"))

    return session_memo(spark, "pgmemo", (sf_dir,), build, tier="parquet")


def minhash_pair_edges(spark, sf_dir: str):
    """(id1, id2) MinHash+LSH ≥ 0.3 banded near-dup pairs over
    documents, persisted per (session, sf_dir) via the warehouse
    parquet tier (``mhmemo``). The SCALE-path twin of
    ``dup_pair_edges`` and the shared input of representative
    selection (q65) and the detector eval (q205's predicted side).
    Same r10 parquet-tier design (and the same rationale): a
    production pipeline writes its banded-LSH pair table once per
    corpus snapshot and every consumer reads it; q41 remains the
    per-call documented-eager measurement of the pair GENERATION
    itself (sanctioned-twins ledger)."""
    from sunat_rree_demo_spark.queries.dedup import corpus_shingle_arrays

    def build():
        d = t(spark, sf_dir, "documents")
        return (minhash_lsh_pairs(
            d, "doc_id", "text", threshold=0.3,
            arr=corpus_shingle_arrays(spark, sf_dir))
            .select("id1", "id2"))

    return session_memo(spark, "mhmemo", (sf_dir,), build, tier="parquet")


# ---------------------------------------------------------------------- q61
#: shared by q61 (min-label) and q68 (large-star/small-star): both
#: algorithms must land on the identical closure
_DUP_CLUSTERS_ORACLE = _closure_ctes(JACCARD_PAIRS_SELECT) + """
    SELECT l.node AS doc_id, l.cluster_id, c.cluster_size
    FROM labels l JOIN csizes c USING (cluster_id)
    ORDER BY cluster_id, doc_id
    """


@register(
    "q61_dup_clusters",
    memoize=False,  # iterative label propagation is documented-eager
    # pairs CTE = q40's oracle pipeline verbatim (ONE copy, see
    # queries.dedup); the closure reads only its (id1, id2) columns
    oracle=_DUP_CLUSTERS_ORACLE,
    tags=("llm-pipeline", "dedup", "connected-components"),
)
def q61_dup_clusters(spark, sf_dir):
    """Duplicate clusters: connected components over the exact 5-gram
    Jaccard ≥ 0.3 pair graph (operators.components min-label
    propagation vs a DuckDB recursive-CTE closure)."""
    edges = dup_pair_edges(spark, sf_dir)
    labels = connected_components(edges)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "comp")
        .select(F.col("node").alias("doc_id"),
                F.col("comp").alias("cluster_id"),
                "cluster_size")
        .orderBy("cluster_id", "doc_id")
    )


# ---------------------------------------------------------------------- q68
@register(
    "q68_dup_clusters_two_phase",
    memoize=False,  # iterative star contraction is documented-eager
    oracle=_DUP_CLUSTERS_ORACLE,  # same closure ground truth as q61
    tags=("llm-pipeline", "dedup", "connected-components"),
)
def q68_dup_clusters_two_phase(spark, sf_dir):
    """q61's clusters via the OTHER algorithm: alternating large-star /
    small-star contraction (Kiveris et al., SoCC'14 — the high-diameter
    O(log² n)-round path) over the same exact-Jaccard pair graph,
    checked against the same recursive-CTE closure: both Spark
    algorithms and the SQL ground truth must agree label-for-label."""
    from sunat_rree_demo_spark.operators.components import (
        connected_components_two_phase,
    )

    edges = dup_pair_edges(spark, sf_dir)
    labels = connected_components_two_phase(edges)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "comp")
        .select(F.col("node").alias("doc_id"),
                F.col("comp").alias("cluster_id"),
                "cluster_size")
        .orderBy("cluster_id", "doc_id")
    )


# ---------------------------------------------------------------------- q62
@register(
    "q62_hash_split",
    oracle="""
    WITH b AS (
      SELECT CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 7))
                  AS BIGINT) % 100 AS bucket,
             n_chars
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars
    FROM b GROUP BY 1 ORDER BY split
    """,
    tags=("llm-pipeline", "sampling"),
)
def q62_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10) by sha-256 bucket
    of the doc id — content-stable assignment with no RNG state, the
    standard reproducible-split recipe: the same doc lands in the same
    split on any engine, any partitioning, any run (operators.text.
    hash_split, shared with plans.curate). Pure expressions; one
    aggregate."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(hash_split(F.col("doc_id")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg("n_chars"), 2).alias("avg_chars"))
        .orderBy("split")
    )


# ---------------------------------------------------------------------- q63
@register(
    "q63_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 1, 1)),
               i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(tk) >= 3
    ),
    probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    corpus AS (SELECT * FROM sh WHERE doc_id % 50 != 0)
    SELECT c.doc_id, count(*) AS n_overlap
    FROM corpus c JOIN probe p USING (shingle)
    GROUP BY c.doc_id
    ORDER BY doc_id
    """,
    tags=("llm-pipeline", "decontamination"),
)
def q63_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any word 3-gram
    with the probe set (docs with id % 50 = 0 stand in for an eval
    suite; real pipelines use 8-13-grams — n is a parameter). The probe
    shingle set broadcasts, so the corpus never shuffles."""
    d = t(spark, sf_dir, "documents")
    probe = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return (
        contamination_overlap(corpus, probe, "doc_id", "text", n=3)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------- q64
_ENTITY_RE = r"\b(customer|supplier)\b"


@register(
    "q64_redact_scrub",
    oracle=f"""
    WITH red AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{EMAIL_RE}'))
               + len(regexp_extract_all(text, '{URL_RE}')) AS n_pii,
             len(regexp_extract_all(text, '{_ENTITY_RE}')) AS n_entities,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{URL_RE}', '<URL>', 'g'),
               '{_ENTITY_RE}', '<ENTITY>', 'g') AS r
      FROM documents
    )
    SELECT doc_id,
           CAST(n_pii AS BIGINT) AS n_pii,
           CAST(n_entities AS BIGINT) AS n_entities,
           CAST(length(r) AS BIGINT) AS redacted_len,
           sha256(r) AS redacted_sha
    FROM red ORDER BY doc_id
    """,
    tags=("llm-pipeline", "redaction"),
)
def q64_redact_scrub(spark, sf_dir):
    """PII/entity scrub before training-data release: count and replace
    emails, URLs, and a lexicon of sensitive terms; the redacted text
    is verified across engines by its sha-256. Patterns live in the
    RE2 ∩ Java-regex subset so the oracle runs them verbatim; the whole
    scrub is JVM-side codegen'd expressions (no Python in the path)."""
    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    red = redact(txt, {EMAIL_RE: "<EMAIL>", URL_RE: "<URL>",
                       _ENTITY_RE: "<ENTITY>"})
    return (
        d.select(
            "doc_id",
            (pattern_count(txt, EMAIL_RE)
             + pattern_count(txt, URL_RE)).alias("n_pii"),
            pattern_count(txt, _ENTITY_RE).alias("n_entities"),
            F.length(red).cast("bigint").alias("redacted_len"),
            F.sha2(red, 256).alias("redacted_sha"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------- q66
@register(
    "q66_pack_sequences",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             doc_id % 16 AS shard
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM base
    )
    SELECT doc_id, shard, n_tokens,
           off // 256 AS first_chunk,
           (off + n_tokens - 1) // 256 - off // 256 + 1 AS n_chunks
    FROM packed ORDER BY doc_id
    """,
    tags=("llm-pipeline", "packing"),
)
def q66_pack_sequences(spark, sf_dir):
    """Training-batch sequence packing: concat-and-chunk each hash
    shard's token stream into 256-token chunks (operators.text.
    pack_sequences); per doc, its first chunk and span."""
    d = t(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------- q65
@register(
    "q65_cluster_representatives",
    memoize=False,  # iterative label propagation is documented-eager
    # pairs CTE = the full generated MinHash+LSH pipeline (q41's oracle,
    # nested WITH); the closure reads only its (id1, id2) columns
    oracle=_closure_ctes(_minhash_oracle_sql(0.3)) + f"""
    , scored AS ({_QUALITY_SQL}),
    ranked AS (
      SELECT l.cluster_id, l.node, s.quality,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY s.quality DESC, l.node) AS rn
      FROM labels l JOIN scored s USING (node)
    )
    SELECT r.cluster_id, r.node AS rep_doc_id, c.cluster_size,
           r.quality AS rep_quality
    FROM ranked r JOIN csizes c USING (cluster_id)
    WHERE rn = 1
    ORDER BY cluster_id
    """,
    tags=("llm-pipeline", "dedup", "representatives"),
)
def q65_cluster_representatives(spark, sf_dir):
    """One representative per near-dup cluster — the doc a dedup
    pipeline KEEPS: clusters from the scale path (MinHash+LSH ≥ 0.3
    pairs → connected components), representative = highest quality
    score, ties to the lowest doc id.

    r11: the pair graph comes from the session ``mhmemo`` parquet
    (minhash_pair_edges) instead of re-running the banded pipeline per
    call — the measured object here is representative SELECTION (the
    eager CC loop + quality window), not pair generation, which q41
    carries per policy."""
    d = t(spark, sf_dir, "documents")
    edges = minhash_pair_edges(spark, sf_dir)
    labels = connected_components(edges)
    scored = d.select(F.col("doc_id").alias("node"),
                      quality_score(tokens(F.col("text"))).alias("quality"))
    w = Window.partitionBy("comp").orderBy(F.desc("quality"), F.asc("node"))
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(scored, "node")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(sizes, "comp")
        .select(F.col("comp").alias("cluster_id"),
                F.col("node").alias("rep_doc_id"),
                "cluster_size",
                F.col("quality").alias("rep_quality"))
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------- q70
@register(
    "q70_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE (('0x' || substring(sha256('sample:' || CAST(doc_id AS VARCHAR)),
                              1, 12))::UBIGINT % 1000000)
          < CASE lang WHEN 'en' THEN 350000 WHEN 'zh' THEN 800000
                      WHEN 'de' THEN 1000000 WHEN 'es' THEN 600000
                      WHEN 'fr' THEN 500000 ELSE 250000 END
    ORDER BY doc_id
    """,
    tags=("llm-pipeline", "sampling"),
)
def q70_stratified_sample(spark, sf_dir):
    """Deterministic language-stratified downsampling — the corpus
    mixing step of a pretraining pipeline (downsample dominant English,
    keep rare languages whole). Pure map-side sha-256 thresholding
    (operators.text.stratified_sample): no RNG, no shuffle, identical
    keep-set on any engine/partitioning/run."""
    from sunat_rree_demo_spark.operators.text import stratified_sample

    d = t(spark, sf_dir, "documents")
    kept = stratified_sample(
        d, "doc_id", "lang",
        rates_ppm={"en": 350000, "zh": 800000, "de": 1000000,
                   "es": 600000, "fr": 500000},
        default_ppm=250000)
    return kept.select("doc_id", "lang").orderBy("doc_id")


# --------------------------------------------------------------------- q124
@register(
    "q124_source_mixture",
    oracle="""
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs,
             CAST(round(pow(CAST(n_docs AS DOUBLE), 0.7) * 1000000.0)
                  AS BIGINT) AS wu
      FROM g
    )
    SELECT source, n_docs,
           round(CAST(wu AS DOUBLE)
                 / CAST(sum(wu) OVER () AS DOUBLE), 6) AS weight,
           CAST(round(10000.0 * wu
                      / CAST(sum(wu) OVER () AS DOUBLE)) AS BIGINT)
             AS planned_docs
    FROM w
    ORDER BY source
    """,
    tags=("llm", "mixture", "sampling"),
)
def q124_source_mixture(spark, sf_dir):
    """Temperature-scaled source mixture weights (the multinomial
    sampling recipe of multilingual/multi-source LLM training, e.g.
    the α=0.7 temperature of XLM-R / mT5): per source, weight ∝
    n_docs^0.7 normalized, plus the planned document count for a
    10k-doc epoch.

    Determinism: the single pow() per SOURCE quantizes to an integer
    micro-unit (libm pow may differ in the last ULP across engines —
    the q74 discipline bounds it); weights and planned counts then
    derive from exact integer sums. Scale shape: one source-grain
    aggregate; the normalizing window runs over |sources| rows."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    wu = F.round(F.pow(F.col("n_docs").cast("double"), 0.7)
                 * 1000000.0, 0).cast("bigint")
    tot = F.sum("wu").over(Window.partitionBy()).cast("double")
    return (
        g.select("source", "n_docs", wu.alias("wu"))
        .select("source", "n_docs",
                F.round(F.col("wu").cast("double") / tot, 6).alias("weight"),
                F.round(10000.0 * F.col("wu") / tot, 0).cast("bigint")
                .alias("planned_docs"))
        .orderBy("source")
    )


# --------------------------------------------------------------------- q138
@register(
    "q138_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 7))
               ::BIGINT % 100 AS bucket,
             string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - 6, 1)),
               i -> array_to_string(tk[i:i+7], ' ')))) AS g
      FROM toks WHERE len(tk) >= 8
    ),
    train AS (SELECT DISTINCT g FROM sh WHERE bucket < 80),
    val AS (SELECT doc_id, g FROM sh WHERE bucket >= 80 AND bucket < 90),
    per AS (
      SELECT v.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM val v LEFT JOIN train t USING (g)
      GROUP BY 1
    )
    SELECT doc_id, n_grams, n_novel,
           CAST((2 * 10000 * n_novel + n_grams) // (2 * n_grams) AS DOUBLE)
             / 10000.0 AS novelty
    FROM per ORDER BY doc_id
    """,
    tags=("llm-pipeline", "novelty", "split"),
)
def q138_ngram_novelty(spark, sf_dir):
    """Per-doc 8-gram NOVELTY of the validation split against the train
    split (q62's hash-split boundaries, shared device): the fraction of
    a val doc's distinct 8-grams never seen in training — the
    leakage-vs-freshness audit run on a held-out split before eval
    (novelty ~0 means the split leaks; decontamination q63 is this
    check's enforcement arm, the Bloom variant its broadcast-side scale
    path). Docs shorter than 8 tokens carry no 8-grams and are out of
    scope by construction.

    Scale shape: ONE shingle-key shuffle for the anti-probe (both
    sides are corpus-grain, so the join shuffles rather than
    broadcasting — the honest shape; use
    operators.dedup.contamination_overlap_bloom when the train side
    must stay unshuffled), then a doc-grain aggregate. Split
    assignment is a pure projection of the doc id, applied BELOW the
    shingler: each branch shingles only its own (disjoint) subset, so
    the corpus pays the Python shingling pass exactly once in total —
    no checkpoint, pure builder."""
    from sunat_rree_demo_spark.operators.dedup import shingle_rows
    from sunat_rree_demo_spark.operators.text import hash_split

    d = t(spark, sf_dir, "documents")
    split = hash_split(F.col("doc_id"))
    train = (shingle_rows(d.filter(split == "train"), "doc_id", "text", 8)
             .select("shingle").distinct()
             .withColumn("_hit", F.lit(True)))
    val = shingle_rows(d.filter(split == "validation"), "doc_id", "text", 8)
    return (
        val.join(train, "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_grams"),
             F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_novel"))
        .select("doc_id", "n_grams", "n_novel",
                (F.expr("(2 * 10000 * n_novel + n_grams)"
                        " div (2 * n_grams)").cast("double") / 10000.0)
                .alias("novelty"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- q170
@register(
    "q170_cluster_safe_split",
    memoize=False,  # rides the CC label propagation (documented-eager)
    oracle=_closure_ctes(JACCARD_PAIRS_SELECT) + """
    , assign AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
    b AS (
      SELECT cluster_id, n_chars,
             CAST(('0x' || substring(sha256(CAST(cluster_id AS VARCHAR)),
                                     1, 7)) AS BIGINT) % 100 AS bucket
      FROM assign)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1 ORDER BY split
    """,
    tags=("llm-pipeline", "sampling", "connected-components"),
)
def q170_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the q62 sha-bucket recipe
    applied at near-dup-CLUSTER grain instead of doc grain, so every
    document of a connected near-duplicate component lands in the same
    split — the guard against the classic eval-contamination failure
    where one copy of a duplicated page trains and its twin tests
    (the cross-split edge count is pinned to zero in
    tests/test_llm_pipeline.py). Singletons hash by their own doc_id
    (identical to q62's assignment for the non-duplicated bulk).

    Scale shape: reuses the session-persisted pair graph + min-label
    components (the q61 machinery — one materialization per session);
    the split itself is pure expressions over a broadcast-joinable
    label table, then a 3-group aggregate."""
    edges = dup_pair_edges(spark, sf_dir)
    labels = connected_components(edges)
    d = t(spark, sf_dir, "documents")
    assign = (
        d.select("doc_id", "n_chars")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("n_chars",
                F.coalesce("comp", "doc_id").alias("cluster_id"))
    )
    return (
        assign.select(hash_split(F.col("cluster_id")).alias("split"),
                      "cluster_id", "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("cluster_id").alias("n_clusters"),
             F.sum("n_chars").alias("total_chars"))
        .orderBy("split")
    )


# --------------------------------------------------------------------- q204
def _q204_oracle() -> str:
    """The ENTIRE default curation recipe (plans.curate.curate →
    curate_summary) as one DuckDB statement, assembled from the same
    shared devices the per-stage oracles use: q36's quality expression,
    q39's exact-dedup canon, the MinHash pipeline generated from the
    operator constants (shingles over the SURVIVOR set via
    ``shingle_cte('docs2')``), q61's recursive closure, the election
    window, and q62's sha-bucket split — so a drift in ANY stage
    breaks this hash even if the stage's own oracle still passes."""
    from sunat_rree_demo_spark.queries.dedup import (
        _minhash_cand_ctes,
        minhash_est_pairs_select,
        shingle_cte,
    )

    return f"""
    WITH RECURSIVE
    q1 AS (
      SELECT doc_id, text, lang,
             round(0.5 * (CAST(len(list_distinct(tk)) AS DOUBLE)
                          / CAST(len(tk) AS DOUBLE))
                   + 0.5 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0),
                   4) AS qual,
             CAST(len(tk) AS BIGINT) AS n_tokens
      FROM (SELECT *, string_split_regex(trim(text), '\\s+') AS tk
            FROM documents)
    ),
    kept1 AS (SELECT * FROM q1 WHERE qual >= 0.25),
    canon AS (SELECT min(doc_id) AS doc_id
              FROM kept1 GROUP BY sha256(text)),
    docs2 AS (SELECT k.* FROM kept1 k JOIN canon USING (doc_id)),
    {shingle_cte('docs2')},
    {_minhash_cand_ctes()},
    pairs AS (
      {minhash_est_pairs_select(0.3)}
    ),
    uedges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION
      SELECT id2, id1 FROM pairs
    ),
    reach(node, comp) AS (
      SELECT a, a FROM uedges
      UNION
      SELECT e.a, r.comp FROM uedges e JOIN reach r ON e.b = r.node
    ),
    clabels AS (
      SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node
    ),
    losers AS (
      SELECT doc_id FROM (
        SELECT d.doc_id,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY d.qual DESC, d.doc_id) AS rn
        FROM clabels l JOIN docs2 d ON l.node = d.doc_id)
      WHERE rn > 1
    ),
    final AS (
      SELECT * FROM docs2
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ),
    sp AS (
      SELECT CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'validation'
                  ELSE 'test' END AS split,
             qual, n_tokens
      FROM (SELECT ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)),
                                      1, 7))::BIGINT % 100 AS b,
                   qual, n_tokens
            FROM final)
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((2 * sum(CAST(round(qual * 10000) AS BIGINT))
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
             AS avg_quality
    FROM sp GROUP BY 1 ORDER BY split
    """


@register(
    "q204_curation_summary",
    memoize=False,  # LSH pairs + CC election are documented-eager
    oracle=_q204_oracle(),
    tags=("llm-pipeline", "curation", "end-to-end"),
)
def q204_curation_summary(spark, sf_dir):
    """THE end-to-end curation funnel with its default gates —
    quality ≥ 0.25 → exact dedup → MinHash-LSH near-dup clustering →
    best-per-cluster election → sha-bucket split → packing — rolled up
    per split (plans.curate.curate → curate_summary, the composed job
    a 100 TB pretraining pipeline runs). Every stage already has its
    own oracle-checked query (q36/q39/q41/q61/q62/q66); this slot
    verifies their COMPOSITION: the survivor set each stage hands the
    next, cross-engine, in one hash.

    Scale shape: the plan is the operators' own (broadcast gates,
    banded LSH shuffle on survivors, bounded election windows,
    per-shard packing sorts) — a filter chain over the corpus that
    never materializes a second copy. The near-dup stage reads the
    session-memoized full-corpus pair graph (mhmemo, shared with
    q65/q205) restricted to the survivor set by two semi-joins —
    identical edges because signatures, band buckets, and the pair
    estimate are per-doc/per-pair properties (r11; the r9 shave had
    already replaced re-shingling with the shingle-array memo). The
    funnel's eager measurement remains the composed chain itself:
    quality gate → exact dedup → CC election → split/pack → rollup."""
    from sunat_rree_demo_spark.plans.curate import curate, curate_summary

    d = t(spark, sf_dir, "documents")
    return curate_summary(
        curate(d, edges=minhash_pair_edges(spark, sf_dir),
               edges_threshold=0.3))


# --------------------------------------------------------------------- q205
def _q205_oracle() -> str:
    """Exact-Jaccard truth pairs vs MinHash-estimate predicted pairs,
    both generated from the shared single-copy pipelines
    (JACCARD_PAIRS_SELECT / the operator-constant MinHash CTEs), so
    the eval itself cannot drift from the operators it measures."""
    from sunat_rree_demo_spark.queries.dedup import (
        _SHINGLE_CTE,
        _minhash_cand_ctes,
        minhash_est_pairs_select,
    )

    return f"""
    WITH truth AS ({JACCARD_PAIRS_SELECT}),
    pred AS (
      WITH {_SHINGLE_CTE},
      {_minhash_cand_ctes()}
      {minhash_est_pairs_select(0.3)}
    ),
    hit AS (SELECT count(*) AS n FROM truth JOIN pred
            USING (id1, id2)),
    c AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
                 (SELECT count(*) FROM pred) AS n_pred,
                 (SELECT n FROM hit) AS n_hit)
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_pred > 0 THEN
             CAST((2 * 10000 * n_hit + n_pred) // (2 * n_pred)
                  AS DOUBLE) / 10000.0 ELSE NULL END AS precision_4dp,
           CASE WHEN n_truth > 0 THEN
             CAST((2 * 10000 * n_hit + n_truth) // (2 * n_truth)
                  AS DOUBLE) / 10000.0 ELSE NULL END AS recall_4dp
    FROM c
    """


@register(
    "q205_lsh_eval",
    memoize=False,  # both pair pipelines are documented-eager (q40/q41)
    oracle=_q205_oracle(),
    tags=("llm-pipeline", "dedup", "eval"),
)
def q205_lsh_eval(spark, sf_dir):
    """Precision/recall of the MinHash-LSH near-dup detector against
    the EXACT 5-gram Jaccard ≥ 0.3 ground truth — the measure-before-
    trust eval a pipeline runs before letting an approximate detector
    delete data (q203 reads the S-curve; this reads the consequence).
    False positives come from MinHash over-estimates near the
    threshold, false negatives from under-estimates and band misses —
    both engines count the same three sets and apply the half-up 4dp
    integer device with zero-denominator guards.

    Scale shape: the truth side is the session-memoized exact pair
    graph (shared with q61/q65/q68), the predicted side the banded
    LSH pipeline; the comparison is a pair-key join of two
    candidate-scale frames — at 100 TB this eval runs on a SAMPLED
    id range, same plan."""
    truth = dup_pair_edges(spark, sf_dir)
    # r11: BOTH sides of the eval now read session parquet memos —
    # truth the exact pair graph (pgmemo), pred the banded MinHash
    # graph (mhmemo, shared with q65). The eval's measured object is
    # the truth-vs-pred comparison; the generation pipelines keep
    # their own per-call measurements (q40 exact-twin, q41 banded).
    pred = minhash_pair_edges(spark, sf_dir)
    # three 1-row scalar frames crossJoined into one declarative plan
    # (the sanctioned scalar-frame nested loop) — no driver collects
    nt = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    np_ = pred.agg(F.count("*").cast("bigint").alias("n_pred"))
    nh = (truth.join(pred, ["id1", "id2"])
          .agg(F.count("*").cast("bigint").alias("n_hit")))

    def _hu(num: str, den: str):
        return F.when(
            F.col(den) > 0,
            F.expr(f"(2 * 10000 * {num} + {den}) div (2 * {den})")
            .cast("double") / 10000.0)

    return (nt.crossJoin(np_).crossJoin(nh)
            .select("n_truth", "n_pred", "n_hit",
                    _hu("n_hit", "n_pred").alias("precision_4dp"),
                    _hu("n_hit", "n_truth").alias("recall_4dp")))


# --------------------------------------------------------------------- q240
@register(
    "q240_curation_served",
    # same semantics as q204, so the SAME oracle: the served funnel
    # must be hash-identical to the eager one or the serving path is
    # wrong (the q187-vs-q41 device, applied to the whole funnel)
    oracle=_q204_oracle(),
    tags=("llm-pipeline", "curation", "end-to-end", "index", "served"),
)
def q240_curation_served(spark, sf_dir):
    """q204's end-to-end curation funnel SERVED FROM THE PERSISTED
    MinHash index instead of recomputing LSH per call — the production
    shape for a pipeline that re-curates variants (new quality cutoff,
    new probe suite) over a corpus whose dedup index already exists:
    quality gate → exact dedup → near-dup edges from
    ``queries.dedup.full_index_pairs`` (session-memoized, built once,
    restricted to survivors with two semi-joins) → best-per-cluster
    election → split → packing. Signatures and band buckets are pure
    per-doc functions of the text, so corpus-level estimate pairs
    filtered to survivor endpoints are IDENTICAL to re-running the
    banded pipeline over the survivors — this query and q204 share one
    oracle and must land on one hash.

    The plan memo applies (memoize=True): the CC election loop and its
    localCheckpoints run once per session, and repeated calls re-read
    checkpointed loop state — the warm cost a real serving tier pays.
    The decision-guide pairing with q204 lives in COVERAGE.md."""
    from sunat_rree_demo_spark.operators.dedup import exact_dedup
    from sunat_rree_demo_spark.plans.curate import (
        curate_summary,
        elect_and_pack,
    )
    from sunat_rree_demo_spark.queries.dedup import full_index_pairs

    d = t(spark, sf_dir, "documents")
    kept = (d.withColumn("quality", quality_score(tokens(F.col("text"))))
            .filter(F.col("quality") >= 0.25))
    kept = exact_dedup(kept, "text", "doc_id")
    ids = kept.select("doc_id")
    edges = (
        full_index_pairs(spark, sf_dir)
        .join(ids.withColumnRenamed("doc_id", "id1"), "id1", "left_semi")
        .join(ids.withColumnRenamed("doc_id", "id2"), "id2", "left_semi")
        .select("id1", "id2")
    )
    return curate_summary(elect_and_pack(kept, edges))
