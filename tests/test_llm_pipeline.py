"""Unit tests for the training-data-pipeline operators behind q61-q65:
connected components, contamination overlap, and redaction — shapes the
oracle gate can't isolate (synthetic graphs with known components,
texts with planted PII)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F


def _components(spark, edges):
    from sunat_rree_demo_spark.operators.components import connected_components
    df = spark.createDataFrame([Row(id1=a, id2=b) for a, b in edges])
    return {r.node: r.comp for r in connected_components(df).collect()}


def test_components_path_graph_beyond_one_hop(spark):
    """A 5-node path needs multiple propagation rounds — exercises the
    loop, not just the first join."""
    got = _components(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_components_two_clusters_and_reversed_edges(spark):
    """Min label wins regardless of edge direction; disjoint components
    stay disjoint."""
    got = _components(spark, [(9, 7), (7, 8), (20, 30)])
    assert got == {7: 7, 8: 7, 9: 7, 20: 20, 30: 20}


def test_components_raise_rather_than_return_unconverged(spark):
    """A diameter beyond max_rounds must fail loudly (no-silent-caps),
    never hand back split components."""
    from pyspark.sql import Row

    from sunat_rree_demo_spark.operators.components import (
        connected_components,
    )

    path_edges = [(i, i + 1) for i in range(9)]  # diameter 9
    df = spark.createDataFrame([Row(id1=a, id2=b) for a, b in path_edges])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_rounds=2)


def test_components_empty_edges(spark):
    from sunat_rree_demo_spark.operators.components import connected_components
    empty = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert connected_components(empty).collect() == []


def test_contamination_overlap_counts_shared_ngrams(spark):
    from sunat_rree_demo_spark.operators.dedup import contamination_overlap

    probe = spark.createDataFrame([
        Row(doc_id=100, text="the quick brown fox jumps over the lazy dog"),
    ])
    corpus = spark.createDataFrame([
        # shares the 'quick brown fox' and 'brown fox jumps' 3-grams
        Row(doc_id=1, text="a quick brown fox jumps here"),
        Row(doc_id=2, text="completely different words entirely now"),
    ])
    got = {r.doc_id: r.n_overlap
           for r in contamination_overlap(corpus, probe, "doc_id", "text",
                                          n=3).collect()}
    assert got == {1: 2}


def test_redact_plants_and_scrubs_pii(spark):
    from sunat_rree_demo_spark.operators.text import (
        EMAIL_RE, URL_RE, pattern_count, redact)

    df = spark.createDataFrame([Row(
        doc_id=1,
        text="mail a@b.co and c.d@e.org or visit https://x.io/p?q=1 now",
    )])
    out = df.select(
        pattern_count(F.col("text"), EMAIL_RE).alias("n_email"),
        pattern_count(F.col("text"), URL_RE).alias("n_url"),
        redact(F.col("text"), {EMAIL_RE: "<EMAIL>", URL_RE: "<URL>"})
        .alias("red"),
    ).first()
    assert out.n_email == 2 and out.n_url == 1
    assert out.red == "mail <EMAIL> and <EMAIL> or visit <URL> now"


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    touched = {v for e in edges for v in e}
    return {v: min(u for u in touched if find(u) == find(v))
            for v in touched}


def _shuffled_path(rng, n):
    """A path over a random permutation of 0..n-1: min-label needs up
    to n-1 rounds, and ids do not grow along the path."""
    ids = rng.sample(range(n), n)
    return [tuple(sorted(e)) for e in zip(ids, ids[1:])]


def _random_tree(rng, n):
    """A random recursive tree over shuffled ids: node i attaches to a
    random earlier node."""
    ids = rng.sample(range(n), n)
    return [tuple(sorted((ids[i], ids[rng.randrange(i)])))
            for i in range(1, n)]


def test_components_match_union_find_on_random_graphs(spark):
    """Cross-check min-label propagation against a pure-Python
    union-find on seeded random graphs, shuffled-id paths and random
    trees: the shapes where the loop needs the most rounds."""
    import random

    graphs = []
    for seed, n_nodes, n_edges in [(7, 20, 12), (11, 30, 25), (13, 12, 6)]:
        rng = random.Random(seed)
        graphs.append((f"random seed={seed}", sorted(
            {tuple(sorted(rng.sample(range(n_nodes), 2)))
             for _ in range(n_edges)})))
    for seed, n in [(17, 12), (19, 16)]:
        graphs.append((f"path seed={seed}",
                       _shuffled_path(random.Random(seed), n)))
    for seed, n in [(23, 15), (29, 25)]:
        graphs.append((f"tree seed={seed}",
                       _random_tree(random.Random(seed), n)))
    for name, edges in graphs:
        assert _components(spark, edges) == _union_find_labels(edges), name


def test_components_keep_self_loop_only_nodes(spark):
    """A node whose only edge is a self-pair stays in the output as its
    own singleton."""
    assert _components(spark, [(5, 5), (1, 2)]) == {1: 1, 2: 1, 5: 5}


def test_pack_sequences_chunks_are_exact_cover(spark):
    """Within a shard, doc spans tile the token stream: each doc starts
    in the chunk holding its offset and spans ceil-consistent chunks;
    totals reconstruct from the window arithmetic."""
    from sunat_rree_demo_spark.operators.text import pack_sequences

    rows = [Row(doc_id=i, text=" ".join(["w"] * n))
            for i, n in enumerate([100, 300, 5, 256, 512, 1, 255])]
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in
           pack_sequences(df, "doc_id", "text", budget=256, shards=1)
           .collect()}
    off = 0
    for i in sorted(got):
        r = got[i]
        assert r.first_chunk == off // 256
        assert r.n_chunks == (off + r.n_tokens - 1) // 256 - off // 256 + 1
        off += r.n_tokens


def test_hash_split_is_deterministic_and_disjoint(spark):
    """Every doc lands in exactly one split, and rerunning assigns the
    identical split — the reproducibility contract."""
    from sunat_rree_demo_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    one = REGISTRY["q62_hash_split"].fn(spark, SF_SMOKE).collect()
    two = REGISTRY["q62_hash_split"].fn(spark, SF_SMOKE).collect()
    assert one == two
    from sunat_rree_demo_spark.sources.catalog import load_table
    total = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in one) == total


def test_stratified_sample_is_partitioning_invariant(spark):
    """The sampling keep-set is a pure function of (id, stratum, rates)
    — repartitioning or reordering the input must not change it (the
    property df.sample(seed=…) does NOT have)."""
    from sunat_rree_demo_spark.operators.text import stratified_sample
    from sunat_rree_demo_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    rates = {"en": 350000, "zh": 800000}
    kept = {r.doc_id for r in
            stratified_sample(d, "doc_id", "lang", rates,
                              default_ppm=250000).collect()}
    shuffled = {r.doc_id for r in
                stratified_sample(d.repartition(13).orderBy(F.rand(7)),
                                  "doc_id", "lang", rates,
                                  default_ppm=250000).collect()}
    assert kept == shuffled and kept
    # per-stratum rates actually bite: en keeps ~35%, zh keeps ~80%
    langs = {r.doc_id: r.lang for r in d.select("doc_id", "lang").collect()}
    en_all = [i for i, l in langs.items() if l == "en"]
    zh_all = [i for i, l in langs.items() if l == "zh"]
    en_rate = len([i for i in en_all if i in kept]) / len(en_all)
    zh_rate = len([i for i in zh_all if i in kept]) / len(zh_all)
    assert en_rate < zh_rate


def test_rolling_windows_catch_boundary_straddling_dup(spark):
    """A shared 8-token run that STRADDLES the fixed 8-token chunk
    boundary in both docs: non-overlapping chunking (q96) sees zero
    duplicated chunks — each doc's chunks mix the shared run with
    different surroundings — while overlapping rolling-hash windows
    (q143) must flag the run in BOTH docs."""
    from sunat_rree_demo_spark.operators.dedup import (
        chunk_dup_stats,
        rolling_chunk_stats,
    )

    run = [f"c{i}" for i in range(8)]
    # 4-token offsets put the shared run across the 8-token grid in
    # both docs; every other token is doc-unique
    doc_a = [f"a{i}" for i in range(4)] + run + [f"x{i}" for i in range(4)]
    doc_b = [f"b{i}" for i in range(4)] + run + [f"y{i}" for i in range(4)]
    docs = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b))], "doc_id long, text string")

    fixed = {r["doc_id"]: r["n_dup_chunks"]
             for r in chunk_dup_stats(docs, "doc_id", "text", 8).collect()}
    assert fixed == {1: 0, 2: 0}

    roll = {r["doc_id"]: r
            for r in rolling_chunk_stats(docs, "doc_id", "text", 8).collect()}
    # 16 tokens -> 9 windows per doc; exactly one (the aligned shared
    # run) is cross-doc duplicated
    assert roll[1]["n_windows"] == 9 and roll[2]["n_windows"] == 9
    assert roll[1]["n_dup_windows"] == 1 and roll[2]["n_dup_windows"] == 1


def test_rolling_window_keys_match_naive_polynomial(spark):
    """The vectorized sliding-dot-product keys equal a per-window
    naive polynomial mod M — the rolling-hash contract the DuckDB
    oracle relies on."""
    import hashlib

    from sunat_rree_demo_spark.operators.dedup import (
        HASH_HEX_LEN,
        ROLL_MOD,
        roll_powers,
        rolling_chunk_stats,
    )

    tk = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
          "dogs", "again", "today"]
    n = 8
    pw = roll_powers(n)
    h = [int(hashlib.sha256(t.encode()).hexdigest()[:HASH_HEX_LEN], 16)
         for t in tk]
    naive = {sum(h[j + i] * pw[i] for i in range(n)) % ROLL_MOD
             for j in range(len(tk) - n + 1)}
    docs = spark.createDataFrame([(7, " ".join(tk))],
                                 "doc_id long, text string")
    row = rolling_chunk_stats(docs, "doc_id", "text", n).collect()[0]
    assert row["n_windows"] == len(naive) == 3
    assert row["n_dup_windows"] == 0


def test_exact_substring_spans_maximal_and_self_repeats(spark):
    """ExactSubstr spans (q215): a 12-token run shared by two docs
    must come back as ONE maximal span per doc with the exact token
    offsets and length (12 tokens = 5 overlapping 8-windows merged),
    a self-repeated run inside a single doc qualifies via the
    occurrence count (where q143's document frequency would not see
    it), and a unique doc yields no spans at all."""
    from sunat_rree_demo_spark.operators.dedup import (
        exact_substring_spans,
    )

    run = [f"r{i}" for i in range(12)]
    doc_a = [f"a{i}" for i in range(3)] + run + [f"x{i}" for i in range(2)]
    doc_b = [f"b{i}" for i in range(5)] + run
    # doc 3: the same 8-token block twice with unique separators
    blk = [f"s{i}" for i in range(8)]
    doc_c = blk + ["m0", "m1"] + blk
    doc_d = [f"u{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b)),
         (3, " ".join(doc_c)), (4, " ".join(doc_d))],
        "doc_id long, text string")

    spans = {}
    for r in exact_substring_spans(docs, "doc_id", "text", 8).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_len"], r["n_dup_windows"]))
    # one maximal span per doc, at the planted offsets
    assert spans[1] == [(3, 12, 5)]
    assert spans[2] == [(5, 12, 5)]
    # self-repeat: both copies flagged, each a single 8-window span
    assert sorted(spans[3]) == [(0, 8, 1), (10, 8, 1)]
    assert 4 not in spans

    # the rewrite removes ALL occurrences (the Lee et al. rule) and
    # leaves non-covered tokens in order; untouched docs round-trip
    from sunat_rree_demo_spark.operators.dedup import (
        exact_substring_rewrite,
    )

    rw = {r["doc_id"]: r for r in
          exact_substring_rewrite(docs, "doc_id", "text", 8).collect()}
    assert rw[1]["new_text"] == " ".join(doc_a[:3] + doc_a[15:])
    assert rw[1]["n_removed"] == 12 and rw[1]["n_tokens"] == 17
    assert rw[2]["new_text"] == " ".join(doc_b[:5])
    assert rw[3]["new_text"] == "m0 m1"
    assert rw[4]["new_text"] == " ".join(doc_d)
    assert rw[4]["n_removed"] == 0


def test_cluster_safe_split_has_no_cross_split_edges(spark):
    """q170's whole point: no near-dup edge may straddle splits —
    and the doc-grain q62 recipe WOULD straddle on the same graph,
    so the invariant is earned by the cluster grain, not vacuous."""
    from sunat_rree_demo_spark.operators.components import (
        connected_components,
    )
    from sunat_rree_demo_spark.operators.text import hash_split
    from sunat_rree_demo_spark.queries.llm_pipeline import dup_pair_edges
    from tests.conftest import SF_SMOKE

    edges = dup_pair_edges(spark, SF_SMOKE)
    labels = connected_components(edges)
    by_cluster = labels.select(
        F.col("node").alias("doc_id"),
        hash_split(F.col("comp")).alias("split"))
    by_doc = labels.select(
        F.col("node").alias("doc_id"),
        hash_split(F.col("node")).alias("split"))

    def cross(assign):
        return (edges
                .join(assign.toDF("id1", "s1"), "id1")
                .join(assign.toDF("id2", "s2"), "id2")
                .filter("s1 != s2").count())

    assert edges.count() > 0
    assert cross(by_cluster) == 0
    assert cross(by_doc) > 0  # the failure mode q170 exists to prevent


def test_maxmatch_greedy_longest_match_semantics(spark):
    """Greedy MaxMatch on a crafted corpus: 'abcab' under vocab
    {chars, 'ab', 'abc', ...} segments abc|ab (2 pieces), and a word
    whose greedy prefix choice forces a worse tail ('aab' with 'aa'
    in vocab but no 'b'-led bigram) still takes the longest head —
    the defining (non-optimal) property of the algorithm."""
    from sunat_rree_demo_spark.operators.text import maxmatch_apply

    # corpus engineered so the top-64 substring vocab contains every
    # 2..6-gram of these words (tiny vocabulary)
    docs = spark.createDataFrame(
        [(1, "abcab abcab"), (2, "zz zz zz")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_pieces, r.pieces_per_word)
           for r in maxmatch_apply(docs, "doc_id", "text").collect()}
    # 'abcab' -> 'abcab' itself is a 5-gram in vocab -> 1 piece
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (3, 3, 1.0)

    # restrict piece length to 3: 'abcab' -> abc|ab (longest head wins
    # over ab|cab or 5 singles)
    got3 = {r.doc_id: r.n_pieces
            for r in maxmatch_apply(docs, "doc_id", "text",
                                    max_len=3).collect()}
    assert got3[1] == 4  # abc|ab per word, two words


def test_maxmatch_bcast_cap_split_path_equivalence(spark, monkeypatch):
    """Above ``SPARK_GRAFT_MAXMATCH_BCAST_WORDS`` distinct words the
    apply join must switch to the bounded hot-head broadcast + tail
    shuffle join (the r12 scale guard: the word→pieces table is
    corpus-word grain, unbounded) and emit rows IDENTICAL to the
    all-broadcast path."""
    from sunat_rree_demo_spark.operators.text import maxmatch_apply

    docs = spark.createDataFrame(
        [(1, "abcab abcab xx"), (2, "zz zz zz qq abcab"),
         (3, "qq xx zz abcab wy")],
        "doc_id long, text string")
    base = {tuple(r)
            for r in maxmatch_apply(docs, "doc_id", "text").collect()}
    monkeypatch.setenv("SPARK_GRAFT_MAXMATCH_BCAST_WORDS", "2")
    split_df = maxmatch_apply(docs, "doc_id", "text")
    assert {tuple(r) for r in split_df.collect()} == base
    # the hot head entering the broadcast is bounded by construction
    plan = split_df._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit 2" in plan


def test_label_propagation_splits_weakly_bridged_communities(spark):
    """Barbell graph: two support-3 triangles joined by one support-1
    bridge. CC merges everything into one component; 3-round weighted
    LPA keeps two communities split at the weak cut — the defining
    difference between the two operators."""
    from sunat_rree_demo_spark.operators.components import (
        connected_components,
        label_propagation,
    )

    rows = ([(a, b, 3) for a, b in
             [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]]
            + [(3, 4, 1)])
    edges = spark.createDataFrame(rows, "id1 long, id2 long, support long")
    lab = {r.node: r.label
           for r in label_propagation(edges, rounds=3,
                                      weight_col="support").collect()}
    assert lab == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    comp = {r.comp for r in connected_components(
        edges.select("id1", "id2")).collect()}
    assert len(comp) == 1  # CC sees one blob; LPA sees the structure

    # unweighted fallback: same split on this topology
    lab_u = {r.node: r.label
             for r in label_propagation(edges, rounds=3).collect()}
    assert len(set(lab_u.values())) == 2
