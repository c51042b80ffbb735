"""End-to-end curation plan: the composed pipeline must leave a corpus
with no contamination, no exact dups, no near-dup pairs, a clean split
partition, and deterministic output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def curated(spark):
    from sunat_rree_demo_spark.plans.curate import curate
    from sunat_rree_demo_spark.sources.catalog import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    probe = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    out = curate(corpus, probe).localCheckpoint()
    return d, corpus, probe, out


def test_survivors_pass_every_gate(spark, curated):
    from sunat_rree_demo_spark.operators.dedup import (
        contamination_overlap,
        minhash_lsh_pairs,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    d, corpus, probe, out = curated
    rows = out.collect()
    assert rows, "curation must keep something"
    assert all(r.quality >= 0.25 for r in rows)
    assert all(r.split in ("train", "validation", "test") for r in rows)
    assert len({r.doc_id for r in rows}) == len(rows)

    survivors = corpus.join(out.select("doc_id"), "doc_id", "left_semi")
    # no exact dups: content hashes unique
    n = survivors.count()
    assert survivors.select(F.sha2("text", 256)).distinct().count() == n
    # no near-dup pair survives (one representative per component)
    assert minhash_lsh_pairs(survivors, "doc_id", "text").count() == 0
    # no contamination against the probe suite (default 8-gram window)
    assert contamination_overlap(survivors, probe, "doc_id", "text",
                                 n=8).count() == 0


def test_contamination_window_is_tunable(spark, curated):
    """A caller-narrowed 3-gram window must scrub 3-gram overlaps too
    (the stricter gate the old hardcoded default enforced)."""
    from sunat_rree_demo_spark.operators.dedup import contamination_overlap
    from sunat_rree_demo_spark.plans.curate import curate

    _, corpus, probe, _ = curated
    strict = curate(corpus, probe, contamination_n=3)
    survivors = corpus.join(strict.select("doc_id"), "doc_id", "left_semi")
    assert contamination_overlap(survivors, probe, "doc_id", "text",
                                 n=3).count() == 0


def test_packing_covers_every_survivor_once(curated):
    _, _, _, out = curated
    rows = out.collect()
    assert all(r.n_chunks >= 1 and r.first_chunk >= 0 for r in rows)
    assert all(r.shard == r.doc_id % 16 for r in rows)


def test_packing_streams_are_split_disjoint(curated):
    """Train/validation/test pack into independent chunk streams: chunk
    coordinates must reconstruct from a per-(split, shard) cumsum — a
    train chunk never straddles eval tokens (the leakage the pipeline's
    decontamination step exists to prevent)."""
    from collections import defaultdict

    _, _, _, out = curated
    streams = defaultdict(list)
    for r in out.collect():
        streams[(r.split, r.shard)].append(r)
    for rows in streams.values():
        off = 0
        for r in sorted(rows, key=lambda r: r.doc_id):
            assert r.first_chunk == off // 256
            assert r.n_chunks == (off + r.n_tokens - 1) // 256 - off // 256 + 1
            off += r.n_tokens


def test_curate_is_deterministic(spark, curated):
    from sunat_rree_demo_spark.plans.curate import curate

    d, corpus, probe, out = curated
    again = curate(corpus, probe)
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(out.collect(), key=key) == sorted(again.collect(), key=key)


def test_summary_rolls_up_per_split(spark, curated):
    from sunat_rree_demo_spark.plans.curate import curate_summary

    _, _, _, out = curated
    summary = {r.split: r for r in curate_summary(out).collect()}
    assert sum(r.n_docs for r in summary.values()) == out.count()
    assert all(r.total_tokens > 0 for r in summary.values())


def test_exact_verify_path_scrubs_true_near_dups(spark, curated):
    """curate(exact_verify=True) clusters over TRUE-Jaccard pairs: no
    exact ≥-threshold pair may survive among the survivors. (No
    relation between the two paths' survivor COUNTS is asserted:
    verified pairs share the LSH candidate set with estimated pairs but
    MinHash can over- OR under-estimate around the threshold, so
    neither edge set contains the other.)"""
    from sunat_rree_demo_spark.operators.dedup import verified_near_dup_pairs
    from sunat_rree_demo_spark.plans.curate import curate

    _, corpus, probe, _ = curated
    out = curate(corpus, probe, exact_verify=True)
    assert out.count() > 0
    survivors = corpus.join(out.select("doc_id"), "doc_id", "left_semi")
    assert verified_near_dup_pairs(survivors, "doc_id", "text",
                                   threshold=0.3).count() == 0


def test_curate_edges_requires_matching_threshold(spark):
    """A pre-materialized pair graph is only valid at the threshold it
    was built at (r12 guard): passing ``edges`` without declaring its
    threshold, or with a mismatched one, must fail loudly instead of
    curating with the wrong graph."""
    from sunat_rree_demo_spark.plans.curate import curate

    docs = spark.createDataFrame([(1, "a b c d e")],
                                 "doc_id long, text string")
    edges = spark.createDataFrame([], "id1 long, id2 long")
    with pytest.raises(ValueError, match="edges_threshold"):
        curate(docs, edges=edges)
    with pytest.raises(ValueError, match="SAME threshold"):
        curate(docs, edges=edges, edges_threshold=0.5)
    # the same threshold spelled by float arithmetic is accepted
    curate(docs, edges=edges, edges_threshold=0.1 * 3)


def test_curate_dsir_selection_stage(spark):
    """The optional DSIR stage must keep exactly the quality-survivor
    docs whose importance weight clears the threshold, and compose
    with the rest of the pipeline (output schema unchanged,
    deterministic)."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.text import (
        importance_weights,
        quality_score,
        tokens,
    )
    from sunat_rree_demo_spark.plans.curate import curate
    from sunat_rree_demo_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    target = F.col("lang") == "en"
    base = curate(docs, min_quality=0.25)
    picky = curate(docs, min_quality=0.25, target=target, min_log_ratio=0.0)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    picky_ids = {r["doc_id"] for r in picky.select("doc_id").collect()}
    assert picky_ids and picky_ids != base_ids

    # the selection set equals the operator's own verdict on the
    # quality survivors
    survivors = docs.withColumn(
        "quality", quality_score(tokens(F.col("text")))
    ).filter(F.col("quality") >= 0.25)
    wanted = {r["doc_id"] for r in
              importance_weights(survivors, "doc_id", "text", target)
              .filter(F.col("avg_log_ratio") >= 0.0)
              .select("doc_id").collect()}
    # picky's survivors are the dedup/clustering survivors of `wanted`
    assert picky_ids <= wanted
    # en docs should dominate the selected set
    langs = dict(docs.join(
        spark.createDataFrame([(i,) for i in picky_ids], ["doc_id"]),
        "doc_id").groupBy("lang").count().collect())
    assert langs.get("en", 0) == max(langs.values())
    # determinism
    again = {r["doc_id"] for r in
             curate(docs, min_quality=0.25, target=target,
                    min_log_ratio=0.0).select("doc_id").collect()}
    assert again == picky_ids


def test_curate_all_stages_compose(spark):
    """Every optional stage on at once (probe decontamination, DSIR
    target selection, exact-verified near-dup eviction): the pipeline
    must still produce the contracted schema, a subset of the
    gated corpus, every split represented, and bit-identical reruns."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.plans.curate import curate, curate_summary
    from sunat_rree_demo_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    probe = docs.filter("doc_id % 31 = 0").selectExpr(
        "doc_id + 500000 AS doc_id", "text")
    kwargs = dict(probe=probe, min_quality=0.25,
                  target=F.col("lang") == "en", min_log_ratio=-1.0,
                  exact_verify=True, max_chunk_dup_frac=0.9)
    out = curate(docs, **kwargs)
    rows = out.collect()
    assert rows
    assert out.columns == ["doc_id", "quality", "split", "shard",
                           "n_tokens", "first_chunk", "n_chunks"]
    ids = {r["doc_id"] for r in rows}
    assert ids <= {r["doc_id"] for r in docs.select("doc_id").collect()}
    splits = {r["split"] for r in rows}
    assert splits <= {"train", "validation", "test"} and "train" in splits
    summary = {r["split"]: r["n_docs"] for r in
               curate_summary(out).collect()}
    assert sum(summary.values()) == len(rows)
    again = {r["doc_id"] for r in curate(docs, **kwargs).collect()}
    assert again == ids


def test_chunk_dup_gate_drops_boilerplate(spark):
    """The optional substring-boilerplate gate must drop a synthetic
    doc assembled ENTIRELY from other docs' chunks (which exact dedup
    and whole-doc near-dup both miss when the sources differ), and
    keep ordinary docs."""
    from pyspark.sql import Row

    from sunat_rree_demo_spark.plans.curate import curate
    from sunat_rree_demo_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    two = docs.orderBy("doc_id").limit(2).collect()
    # frankendoc: first 8 tokens of doc A + first 8 tokens of doc B,
    # repeated — every 8-token chunk duplicates a source chunk
    a = " ".join(two[0]["text"].split()[:8])
    b = " ".join(two[1]["text"].split()[:8])
    franken = spark.createDataFrame(
        [Row(doc_id=999999, text=f"{a} {b} {a} {b}",
             lang="en", source="synthetic",
             n_chars=len(f"{a} {b} {a} {b}"))])
    corpus = docs.unionByName(franken)
    kept_with = {r["doc_id"] for r in
                 curate(corpus, max_chunk_dup_frac=0.5,
                        near_dup_threshold=0.9).collect()}
    kept_without = {r["doc_id"] for r in
                    curate(corpus, near_dup_threshold=0.9).collect()}
    assert 999999 not in kept_with
    assert 999999 in kept_without  # whole-doc near-dup at 0.9 missed it
