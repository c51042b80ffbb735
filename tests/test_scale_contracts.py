"""Physical-plan contracts backing SCALE.md: partition pruning, filter
pushdown, broadcast joins, top-k as TakeOrderedAndProject. These are
regression tests for plan shape, not timings."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    mode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def fresh(name):
    """The raw (un-memoized) builder: plan-shape contracts must inspect
    a NEWLY built plan — the session plan memo returns a DataFrame that
    may already be executed (its explain shows the AQE final plan) or
    bound to a previously-cached relation."""
    from sunat_rree_demo_spark.queries import REGISTRY

    return REGISTRY[name].fn.__wrapped__


@contextlib.contextmanager
def big_table_path(spark):
    """Disable the size-gated hot cache so plans show the parquet scan —
    the pushdown/pruning contracts below are about tables too large for
    the gate, which is exactly the path the cache bypasses at scale.

    Spark's CacheManager substitutes ANY logically-equal plan with an
    already-persisted relation (and a *materialized* one prints without
    its nested scan detail), so the session cache must be cleared too;
    the memo store is left empty and repopulates lazily afterwards."""
    from sunat_rree_demo_spark.sources import catalog

    prev_gate = catalog.HOT_CACHE_MAX_BYTES
    catalog.HOT_CACHE_MAX_BYTES = 0
    catalog.clear_caches()
    spark.catalog.clearCache()
    try:
        yield
    finally:
        catalog.HOT_CACHE_MAX_BYTES = prev_gate


def test_filter_pushdown_reaches_scan(spark):
    from sunat_rree_demo_spark.queries import REGISTRY

    with big_table_path(spark):
        plan = plan_of(fresh("q02_filter_range_membership")(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "In(o_orderpriority" in plan


def test_column_pruning_reads_minimal_schema(spark):
    from sunat_rree_demo_spark.queries import REGISTRY

    with big_table_path(spark):
        plan = plan_of(fresh("q01_annual_balance")(spark, SF_SMOKE))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 3 of lineitem's 11 columns
    assert read.count(":") - 1 <= 3 or read.count(",") <= 2


def test_dim_joins_broadcast_not_sort_merge(spark):
    from sunat_rree_demo_spark.queries import REGISTRY

    plan = plan_of(fresh("q20_region_revenue")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_plans_take_ordered(spark):
    from sunat_rree_demo_spark.queries import REGISTRY

    plan = plan_of(fresh("q08_topn_categories")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning_on_year(spark, tmp_path):
    from sunat_rree_demo_spark.plans.kpi import save_kpi_tables
    from sunat_rree_demo_spark.sources.trade import (
        synthetic_trade,
        synthetic_trade_prod,
    )

    save_kpi_tables(spark, synthetic_trade(spark),
                    synthetic_trade_prod(spark), str(tmp_path / "wh"))
    pruned = spark.table("kpi_monthly").filter(F.col("year") == 2010)
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan and "year" in plan
    assert pruned.count() == 12


def test_bucketed_join_is_shuffle_free(spark):
    """Identically-bucketed fact tables must join without an Exchange —
    the co-located fact-fact join SCALE.md promises."""
    import shutil

    from sunat_rree_demo_spark.sources.catalog import load_table
    from sunat_rree_demo_spark.sources.sinks import write_bucketed_table

    # clear catalog entries AND their locations (a crashed previous run
    # can leave the dir behind with no metastore entry)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tname in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(f"{warehouse}/{tname}", ignore_errors=True)

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice")
    write_bucketed_table(spark, li, "b_lineitem", "l_orderkey", 4)
    write_bucketed_table(
        spark, o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders", "l_orderkey", 4)
    # disable broadcast so the planner takes the co-located merge path
    # (at test size it would rightly broadcast and skip bucketing)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(spark.table("b_orders"),
                                                "l_orderkey")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan
        # no shuffle exchange feeding the join: both sides pre-distributed
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


#: builders with a DOCUMENTED eager step: q40/q41 localCheckpoint an
#: intermediate consumed by 3+ plan branches; q43/q54 fetch the bounded
#: query batch (≤ a few rows of parameters) into the task closure.
#: Every other builder must be pure plan construction.
_EAGER_BUILDERS = {
    "q40_ngram_jaccard_pairs", "q41_minhash_lsh_pairs",
    "q43_cosine_topk", "q54_ann_ivf_topk",
    # iterative label propagation / star contraction: per-round
    # convergence counts
    "q61_dup_clusters", "q65_cluster_representatives",
    "q68_dup_clusters_two_phase",
    # r4: recall joins the brute-force side (bounded query-batch fetch,
    # like q43); the two-tier verify checkpoints signatures + arrays;
    # q97 checkpoints the doc-grain shingle arrays (its three consumers
    # must not re-run the Python shingler), and the lazy localCheckpoint
    # call itself submits a planning job
    "q69_ann_recall", "q71_verified_near_dups",
    "q97_prefix_filter_pairs",
    # SemDeDup trains its coarse quantizer on a bounded driver-side
    # sample at build time (same shape as q54's iters=0 centroids)
    "q75_semantic_dedup",
    # (q82's former eager checkpoint became the session-materialized
    # embedding pair graph in r5/r10 — with the memo warmed by the
    # test prelude, its builder is pure again)
    # r4 late session: retrieval eval and hard-negative mining fetch the
    # same bounded 8-row query batch as q43 (plan parameters, not
    # corpus work); PQ fetches its 8 codebook seed vectors the same way
    "q128_retrieval_eval", "q130_hard_negatives", "q134_pq_encode",
    # r5: q144/q146 ride the q40 pair machinery, whose hot-shingle
    # guard count is documented-eager; q148 fetches the bounded query
    # batch + codebook into the LUT closure (the q43/q134 device)
    "q144_containment_pairs", "q146_cross_source_dup_matrix",
    "q148_pq_adc_topk",
    # q149's fingerprint localCheckpoint (three consumers: two verify
    # branches + banding) — lazy, but the checkpoint call itself
    # submits a planning job, same note as q97
    "q149_simhash_pairs",
    # q151 eagerly checkpoints the MinHash signatures (banding + two
    # estimate branches read them — same policy as q41)
    "q151_minhash_containment",
    # r7: q203 checkpoints the memoized-array-derived signatures for
    # its self-join's two references; q204/q205 compose the q40/q41
    # pair machinery (documented-eager) inside the curate/eval plans
    "q203_lsh_band_scurve", "q204_curation_summary", "q205_lsh_eval",
    # q206 checkpoints the tagged IVF candidate scores + brute top-k
    # for the three probe-depth consumers, over the session fit
    "q206_ivf_recall_curve",
    # q167/q168 share the session-memoized k-means fit: the Lloyd loop
    # (one bounded-partials job per round) plus the assignment persist
    # are documented-eager at first touch (operators/clustering.py)
    "q167_kmeans_census", "q168_cluster_balanced_sample",
    # q172 additionally fetches the bounded 8-vector query batch into
    # the probe/distance closures (the q43/q134 device); q173 shares
    # the same memoized fit
    "q172_ivf_kmeans_topk", "q173_cluster_label_purity",
    # q174 collects the bounded piece vocabulary (alphabet + top-64)
    # into the segmentation closure — the tokenizer-serving shape
    "q174_maxmatch_pieces",
    # q179's semantic side fetches the bounded 1-vector query batch
    # (the q43 device); q180 collects the bounded k-candidate rel/sim
    # matrix for the driver-side greedy (where production rerankers
    # run it)
    "q179_hybrid_rrf_fusion", "q180_mmr_rerank",
    # q170 rides the q61 machinery: pair-graph materialization +
    # min-label propagation rounds (same note as q61/q65)
    "q170_cluster_safe_split",
    # r6: q185 materializes two on-disk index generations + bucketed
    # band tables at first touch (session-memoized thereafter)
    "q185_index_join_candidates",
    # q187 likewise: full-corpus index + bucketed band table at first
    # touch, then the session-memoized candidate frame
    "q187_bucketed_minhash_join",
    # q193's frontier loop counts each level (log-bounded rounds)
    "q193_recursive_bom",
    # r10: q240 serves the funnel FROM q187's index — first touch
    # builds the index (q187's note) and runs the CC election rounds +
    # node-grain checkpoints (q204's note); memoize=True makes every
    # later call read the checkpointed state, which is the point
    "q240_curation_served",
}


def test_plan_construction_launches_no_jobs(spark):
    """No driver round-trips in plans: building a query's DataFrame must
    not run a Spark job (scalar parameters enter as broadcast 1-row
    frames, never eager .count()/.collect() literals — SCALE.md)."""
    from sunat_rree_demo_spark.queries import REGISTRY
    from sunat_rree_demo_spark.sources.catalog import load_tables

    # first touch of a parquet table runs a footer/schema metadata job —
    # that's scan setup, not plan work; warm it out of the measurement
    load_tables(spark, SF_SMOKE)
    # likewise the session-materialized intermediates (r10: warehouse
    # parquet memos): the ONE-TIME ingest-shaped build belongs to the
    # session, not to whichever consumer's builder happens to run
    # first — warm all three so consumer builders are measured pure
    from sunat_rree_demo_spark.queries.dedup import corpus_shingle_arrays
    from sunat_rree_demo_spark.queries.llm_pipeline import dup_pair_edges
    from sunat_rree_demo_spark.queries.similarity import (
        embedding_pair_edges,
    )

    corpus_shingle_arrays(spark, SF_SMOKE)
    dup_pair_edges(spark, SF_SMOKE)
    embedding_pair_edges(spark, SF_SMOKE)

    def jobs_submitted() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    offenders = []
    for name, q in REGISTRY.items():
        if name in _EAGER_BUILDERS:
            continue
        before = jobs_submitted()
        q.fn.__wrapped__(spark, SF_SMOKE)
        if jobs_submitted() != before:
            offenders.append(name)
    assert not offenders, f"builders launched jobs: {offenders}"


def test_single_window_exchange_for_kpi(spark):
    """All 9+ window columns of the KPI table must share one sort/
    exchange pair (one window spec), not one per column."""
    from sunat_rree_demo_spark.queries import REGISTRY

    plan = plan_of(fresh("q24_kpi_monthly")(spark, SF_SMOKE))
    # Scope the count to the window chain: tree lines above the base
    # relation leaf. The leaf may be a parquet scan or, once
    # monthly_flows' session cache has materialized, an
    # InMemoryTableScan whose nested cached plan carries its own
    # (already-paid) exchanges that must not be charged to the chain.
    chain: list[str] = []
    for line in plan.split("\n\n")[0].splitlines():
        if "InMemoryTableScan" in line or "Scan parquet" in line:
            break
        chain.append(line)
    # Spark groups window expressions into one Window node per frame;
    # extra nodes over the SAME sorted input are cheap. The scale
    # invariant is no per-column shuffle/sort: exactly one Sort feeds
    # the whole window chain, and the only exchanges are the groupBy
    # hash partitioning + the series single partition.
    n_sorts = sum(1 for s in chain if " Sort " in s or s.strip().startswith("Sort"))
    n_exchanges = sum(1 for s in chain if "Exchange" in s)
    assert n_sorts == 1, plan
    assert n_exchanges <= 2, plan


def test_decontaminate_broadcasts_probe_side(spark):
    """q63's corpus side must never shuffle for the join: the probe
    shingle set is the broadcast build side (an eval suite is MBs at
    any corpus scale — SCALE.md)."""
    plan = plan_of(fresh("q63_decontaminate")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_sorts_per_shard_only(spark):
    """q66 must contain no global window: the only Sort feeding the
    Window is partitioned by shard (an Exchange hashpartitioning on
    shard precedes it), never a single-partition ordering."""
    plan = plan_of(fresh("q66_pack_sequences")(spark, SF_SMOKE))
    assert "Window" in plan
    assert "hashpartitioning(shard" in plan
    # a global window would demand Exchange SinglePartition before Sort
    window_prefix = plan.split("Window")[0]
    assert "SinglePartition" not in window_prefix


def test_hash_split_is_two_phase_aggregate(spark):
    """q62: one partial + one final HashAggregate pair around a single
    key exchange — map-side combine at any scale."""
    plan = plan_of(fresh("q62_hash_split")(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "SinglePartition" not in plan.split("Sort")[0]


def test_index_vs_index_join_is_shuffle_free(spark, tmp_path):
    """Two dedup-index band tables written through the bucketed sink
    must join on (band, bucket) without an Exchange — the cross-shard
    candidate-generation path operators/dedup_index.py promises for
    index-vs-index joins too big to broadcast."""
    import shutil

    from sunat_rree_demo_spark.operators.dedup_index import (
        write_bucketed_bands,
        write_minhash_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    write_minhash_index(d.filter("doc_id % 2 = 0"), ia)
    write_minhash_index(d.filter("doc_id % 2 = 1"), ib)

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tname in ("bb_even", "bb_odd"):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(f"{warehouse}/{tname}", ignore_errors=True)
    write_bucketed_bands(spark, ia, "bb_even", 4)
    write_bucketed_bands(spark, ib, "bb_odd", 4)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("bb_even").select("band", "bucket",
                                          F.col("doc_id").alias("id1"))
        b = spark.table("bb_odd").select("band", "bucket",
                                         F.col("doc_id").alias("id2"))
        joined = a.join(b, ["band", "bucket"])
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan
        assert "Exchange hashpartitioning" not in plan

        # same candidate pairs as the plain-parquet join
        pa = spark.read.parquet(f"{ia}/bands").select(
            "band", "bucket", F.col("doc_id").alias("id1"))
        pb = spark.read.parquet(f"{ib}/bands").select(
            "band", "bucket", F.col("doc_id").alias("id2"))
        want = pa.join(pb, ["band", "bucket"]).count()
        assert joined.count() == want and want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bb_even")
        spark.sql("DROP TABLE IF EXISTS bb_odd")


def test_repetition_bigram_shares_doc_id_partitioning(spark):
    """q72's bigram side: the lead window and BOTH aggregations
    (doc_id×bigram counts, per-doc max) must ride ONE
    hashpartitioning(doc_id) exchange — hashpartitioning(doc_id)
    satisfies clustering by (doc_id, bigram) too, so no per-stage
    reshuffle. No global sort anywhere on the token-grain path."""
    plan = plan_of(fresh("q72_repetition_signals")(spark, SF_SMOKE))
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    # no single-partition exchange anywhere: the only sorts are the
    # doc_id window sort and the final rangepartitioned orderBy
    assert "SinglePartition" not in plan


def test_market_share_broadcasts_constant_dims(spark):
    """q76: the nation⋈region dim block is constant-size and must hit
    the fact side as a BroadcastHashJoin with the region filter pushed
    into the dim scan — never a shuffle carrying 100 TB of facts to
    meet 25 rows."""
    with big_table_path(spark):
        plan = plan_of(fresh("q76_regional_market_share")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,AMERICA)" in plan


def test_funnel_single_aggregate_no_window(spark):
    """q77: the funnel must be min-aggregate cascades on user_id — no
    window (per-user sort) and no union-of-aggregates re-running the
    view stage once per branch: exactly one scalar-aggregate pair above
    the user-grain joins (stack unpivots it), every other aggregate
    keyed on user_id."""
    plan = plan_of(fresh("q77_event_funnel")(spark, SF_SMOKE))
    assert "Window" not in plan
    assert plan.count("SinglePartition") == 1, plan


def test_rca_broadcasts_nation_and_bounds_windows(spark):
    """q99: the nation dim must hit the facts as a BroadcastHashJoin,
    and every window must run over the (nation, mfgr) AGGREGATE grain —
    the plan's windows sit above the one fact aggregate, so no window
    sort ever touches corpus-sized data."""
    with big_table_path(spark):
        plan = plan_of(fresh("q99_rca_matrix")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # the windows must sit ABOVE the fact aggregate (they run on the
    # (nation, mfgr) grain, never corpus rows). Formatted explain prints
    # the tree root-first, so every Window line precedes the first
    # HashAggregate line exactly when the aggregate is the windows'
    # child.
    agg_pos = plan.index("HashAggregate")
    win_pos = plan.index("Window")
    assert win_pos < agg_pos, "windows must consume the fact aggregate"


def test_prefix_filter_no_cartesian(spark):
    """q97: prefix filtering must plan as equi-joins on the prefix
    shingle hash and candidate ids — a CartesianProduct or
    BroadcastNestedLoopJoin anywhere means the all-pairs explosion the
    operator exists to avoid."""
    with big_table_path(spark):
        plan = plan_of(fresh("q97_prefix_filter_pairs")(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_benford_is_digit_grain_after_one_aggregate(spark):
    """q102: one partial+final aggregate pair collapses the fact scan
    to ≤9 digit rows; the expected/χ² math and the total join happen on
    that constant-size frame (broadcast, no shuffle of the facts)."""
    with big_table_path(spark):
        plan = plan_of(fresh("q102_benford_digits")(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan  # 1-row total meets digit rows
    # exactly one shuffle of fact-derived rows: the digit-key exchange
    # (plus the broadcast + possibly the tiny final sort)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan[:2000]


def test_zordered_write_bounds_both_dimensions(spark, tmp_path):
    """write_zordered must produce files whose per-file spans are tight
    on BOTH interleaved dimensions — the file-skipping property the
    layout exists for. Contract: z-ordered files bound each dimension
    to well under the full domain, while a round-robin write leaves
    near-full-domain spans in every file."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.layout import (
        morton_code,
        with_scaled_bits,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table
    from sunat_rree_demo_spark.sources.sinks import write_zordered

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey",
        F.datediff("o_orderdate", F.lit("1992-01-01")).cast("bigint")
        .alias("yday"))
    stats = o.agg(F.min("o_custkey").cast("bigint").alias("xmin"),
                  F.max("o_custkey").cast("bigint").alias("xmax"),
                  F.min("yday").alias("ymin"), F.max("yday").alias("ymax"))
    row = stats.first()
    xdom, ydom = row["xmax"] - row["xmin"], row["ymax"] - row["ymin"]
    d = o.join(F.broadcast(stats))
    d = with_scaled_bits(d, "o_custkey", "xmin", "xmax", "xb", 16)
    d = with_scaled_bits(d, "yday", "ymin", "ymax", "yb", 16)
    d = d.withColumn("z", morton_code(F.col("xb"), F.col("yb"), 16))

    def spans(path):
        got = (spark.read.parquet(path)
               .groupBy(F.input_file_name().alias("f"))
               .agg((F.max("o_custkey") - F.min("o_custkey")).alias("xs"),
                    (F.max("yday") - F.min("yday")).alias("ys"))
               .collect())
        assert len(got) > 1
        return (sum(r["xs"] for r in got) / len(got),
                sum(r["ys"] for r in got) / len(got))

    write_zordered(d, str(tmp_path / "z"), "z", n_files=8)
    zx, zy = spans(str(tmp_path / "z"))
    (d.repartition(8).write.mode("overwrite")
     .parquet(str(tmp_path / "rr")))
    rx, ry = spans(str(tmp_path / "rr"))
    # round-robin files see ~the whole domain on both axes; z-ordered
    # files must do strictly better on both, and ~2x on at least one
    assert zx < rx and zy < ry
    assert zx < 0.6 * xdom or zy < 0.6 * ydom


def test_skyline_single_window_partitioning(spark):
    """q131's two dominance maxima must share ONE Window node over one
    (brand) hash partitioning — the O(n log n) sweep's contract; a
    second partitioning (e.g. by (brand, price)) would double the
    shuffle for no semantic gain."""
    plan = plan_of(fresh("q131_pareto_frontier")(spark, SF_SMOKE))
    head = plan.split("\n\n")[0]
    n_windows = sum(1 for s in head.splitlines()
                    if "Window" in s and "WindowGroupLimit" not in s)
    n_exchanges = sum(1 for s in head.splitlines() if "Exchange" in s)
    assert n_windows == 1, plan
    # window hash partitioning + the final presentation sort only
    assert n_exchanges <= 2, plan


def test_cms_probe_side_broadcasts(spark):
    """q135's estimate join must broadcast the bounded probe rows onto
    the 256-key sketch — never sort-merge (both sides are tiny by
    construction; the corpus cost is the map-side-combined build)."""
    plan = plan_of(fresh("q135_count_min_sketch")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_encode_has_no_shuffle(spark):
    """PQ encoding is one corpus pass: codebook in the task closure,
    mapInPandas assignment, zero exchanges before the presentation
    sort (q134 minus its orderBy)."""
    from sunat_rree_demo_spark.operators.similarity import pq_encode
    from sunat_rree_demo_spark.sources.catalog import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    plan = plan_of(pq_encode(e, 8, 4))
    head = plan.split("\n\n")[0]
    # fan_out's round-robin spread of the single small split is the one
    # allowed exchange; no hashpartitioning anywhere
    assert "Exchange hashpartitioning" not in head, plan


# ------------------------------------------------- r7 state-surface tripwires
# (scripts/scale_probe_state.py is the measured 10x companion; these pin
# the structural properties the probe's flat timings rely on)


def test_ivf_absorb_never_rescans_corpus(spark, tmp_path):
    """absorb_ivf_batch is stateless assign-under-fixed-centroids: it
    must succeed with the ENTIRE existing vector corpus moved away —
    any plan that rescans absorbed batches would throw here, and at
    scale would turn per-batch cost from O(batch) into O(corpus)."""
    import shutil

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        committed_vector_dirs,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(60)
    path = str(tmp_path / "norescan")
    write_ivf_index(emb, path, k=2, iters=1)
    hidden = str(tmp_path / "hidden")
    shutil.move(f"{path}/vectors", hidden)
    newb = emb.selectExpr("vec_id + 1000000 AS vec_id", "embedding")
    absorb_ivf_batch(spark, newb, path, 0)  # corpus gone: must not care
    assert committed_vector_dirs(spark, path) \
        == [f"{path}/vectors/batch_id=0"]
    # restore: the store must be whole again for readers
    shutil.move(f"{hidden}/batch_id=-1", f"{path}/vectors/batch_id=-1")
    assert len(committed_vector_dirs(spark, path)) == 2


def test_bloom_gate_exact_under_saturation(spark, tmp_path):
    """A saturated bloom filter (distinct digests >> filter bits /
    hashes) degrades COST (everything routes to the exact tier), never
    CORRECTNESS: a fresh all-new batch must be kept in full, and the
    recorded false-positive counts must show the filter actually
    saturated rather than the test being too small."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.streaming.bloom_stream import (
        BLOOM_M,
        load_gate_stats,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "sat_store")
    n = 6_000  # k=3 hashes: ~18k insertions into 16k bits -> saturated
    assert 3 * n > BLOOM_M
    big = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique-doc-"), F.col("id")).alias("text"))
    process_bloom_batch(spark, big, 0, store)
    fresh = spark.range(n, n + 500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique-doc-"), F.col("id")).alias("text"))
    process_bloom_batch(spark, fresh, 1, store)
    assert load_kept(spark, store).count() == n + 500  # zero wrong drops
    s = {r.batch_id: r for r in load_gate_stats(spark, store).collect()}
    assert s[1].n_false_pos > 0          # the filter WAS saturated
    assert s[1].n_kept == 500
    # and a true-dup replay batch still drops everything
    process_bloom_batch(spark, fresh, 2, store)
    assert load_kept(spark, store).count() == n + 500


def test_incremental_cc_skewed_merge_storm(spark):
    """One hub batch that merges every 10th cluster into a single
    component (the skewed storm): the incremental update must equal a
    full recompute over base+storm edges — min-label adoption, mass
    merges and untouched-cluster passthrough all at once."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    k = 1_000
    base = spark.range(k).select((F.col("id") * 2).alias("id1"),
                                 (F.col("id") * 2 + 1).alias("id2"))
    labels = connected_components(base).localCheckpoint()
    storm = spark.range(k // 10).select(
        F.lit(0).cast("bigint").alias("id1"),
        (F.col("id") * 20).alias("id2"))
    got = {(r.node, r.comp) for r in
           incremental_components(labels, storm).collect()}
    want = {(r.node, r.comp) for r in
            connected_components(base.unionByName(storm)).collect()}
    assert got == want
    # the storm really was skewed: one giant component absorbed k/10
    # clusters (2k/10 nodes), everything else is untouched pairs
    comp_sizes = {}
    for _n, c in got:
        comp_sizes[c] = comp_sizes.get(c, 0) + 1
    assert max(comp_sizes.values()) == 2 * (k // 10)


def test_front_door_extraction_is_narrow_jvm_pass(spark):
    """r8 tripwire for the crawl front door (SCALE.md "front door"
    rows): markup→text extraction must stay a narrow whole-stage JVM
    pass fused with the scan — no Exchange, no Python eval. The 10×
    probe's flatness claim rests on exactly this shape."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.extract import html_to_text
    from sunat_rree_demo_spark.queries.extraction import _HTML_EXPR
    from sunat_rree_demo_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = plan_of(docs.selectExpr("doc_id", f"{_HTML_EXPR} AS html")
                   .select("doc_id",
                           html_to_text(F.col("html")).alias("text")))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython both


def test_media_pixel_decode_has_no_shuffle(spark):
    """r8 tripwire: the media decode pass is one Arrow-batched
    mapInPandas at media grain — pixels never cross an Exchange (the
    SCALE.md front-door row measured it linear in bytes; a shuffle
    sneaking in would make it linear in bytes SHUFFLED)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        image_pixel_stats,
    )

    media = spark.range(4).selectExpr(
        "id AS media_id", "CAST('x' AS BINARY) AS content")
    plan = plan_of(image_pixel_stats(media))
    assert "Exchange" not in plan


def test_exact_substring_spans_two_shuffles(spark):
    """r8 tripwire for the ExactSubstr probe (SCALE.md "ExactSubstr
    family" rows): the span pass owns exactly TWO hash-partitioned
    shuffles — the window-key census and the doc-grain island window
    (whose (id) partitioning also serves the island aggregate) — and
    exactly one Python pass (the key mapInPandas). A third Exchange
    or a second Python eval would break the measured 10× flatness."""
    from sunat_rree_demo_spark.operators.dedup import (
        exact_substring_spans,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    import re

    plan = plan_of(exact_substring_spans(docs, "doc_id", "text", 8))
    assert plan.count("Arguments: hashpartitioning") == 2
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1


def test_exact_substring_rewrite_single_python_pass(spark):
    """r8 tripwire: the rewrite adds NO Python beyond the span keys —
    token positions come from a JVM posexplode and the reassembly is
    a JVM sorted-struct aggregate. 100%-coverage corpora (the probe's
    worst case) must pay join+aggregate cost, never a second Arrow
    round trip."""
    from sunat_rree_demo_spark.operators.dedup import (
        exact_substring_rewrite,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    import re

    plan = plan_of(exact_substring_rewrite(docs, "doc_id", "text", 8))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_video_frame_pass_no_shuffle_and_one_window(spark):
    """r8 tripwire for the video pass (SCALE.md "video" rows): frame
    decode is one Arrow-batched mapInPandas with NO Exchange — pixels
    never shuffle — and the shot-boundary detector adds exactly one
    media-grain hash partitioning for its lag window, no second
    Python pass. The 10× probe's linear-in-frames claim rests on
    this shape."""
    import re

    from sunat_rree_demo_spark.operators.multimodal import (
        shot_boundaries,
        video_frame_stats,
    )

    media = spark.range(4).selectExpr(
        "id AS media_id", "CAST('x' AS BINARY) AS content")
    fs = video_frame_stats(media, every_n=3)
    plan = plan_of(fs)
    assert "Exchange" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1

    plan2 = plan_of(shot_boundaries(fs))
    head = plan2.split("\n\n")[0]
    assert sum(1 for ln in head.splitlines()
               if "Exchange" in ln) == 1, plan2
    assert "hashpartitioning(media_id" in plan2, plan2
    assert len(re.findall(r"\(\d+\) MapInPandas", plan2)) == 1


def test_minhash_absorb_never_rescans_index(spark, tmp_path):
    """absorb_batch is O(batch) by construction: it signatures only
    its own docs and overwrites only its own partition directories —
    it must succeed with the ENTIRE existing index moved away. Any
    implementation that rescanned absorbed batches would throw here,
    and at scale would turn per-batch ingest from O(batch) into
    O(index) (the r9 lifecycle probe's measured claim,
    scripts/scale_probe_index.py)."""
    import shutil

    from sunat_rree_demo_spark.operators.dedup_index import (
        absorb_batch,
        batch_committed,
        write_minhash_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents") \
        .select("doc_id", "text").limit(40)
    path = str(tmp_path / "mh_norescan")
    write_minhash_index(docs, path)
    hidden = str(tmp_path / "hidden")
    shutil.move(path, hidden)
    batch = docs.selectExpr("doc_id + 1000000 AS doc_id", "text") \
        .limit(10)
    absorb_batch(batch, path, batch_id=5)  # index gone: must not care
    assert batch_committed(spark, path, 5)
    # restore the original batch dirs alongside the new one — the
    # store must read whole again (the bootstrap's marker is the
    # table-level _SUCCESS, so read the data back instead)
    for table in ("sigs", "bands"):
        shutil.move(f"{hidden}/{table}/batch_id=-1",
                    f"{path}/{table}/batch_id=-1")
    got = (spark.read.parquet(f"{path}/sigs")
           .select("batch_id").distinct().collect())
    assert {r.batch_id for r in got} == {-1, 5}


def test_curate_media_payloads_never_shuffle(spark):
    """r9 tripwire for the composed mixed-modality curation plan
    (SCALE.md "Composed mixed-media curation" row): payload bytes
    stay inside the Arrow routing/keyer tasks — no Exchange in the
    election plan may carry the binary ``content`` column. The
    election shuffles only (id, modality, short key) rows; a
    content-bearing Exchange would make the funnel shuffle the corpus
    payloads at 100 TB. Broadcast exchanges count too (a broadcast
    ships the payloads to every executor), and the broadcast
    threshold is disabled so the join compiles to the shuffle form it
    would take at scale — at 6 test rows Spark would otherwise
    broadcast the join and hide the regression entirely (review
    finding r9, second pass)."""
    import re as _re

    from sunat_rree_demo_spark.plans.curate_media import curate_media

    media = spark.range(6).selectExpr(
        "id AS media_id", "CAST('some payload' AS BINARY) AS content")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(curate_media(media))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    hits = 0
    for block in plan.split("\n\n"):
        if _re.match(r"\(\d+\) (Broadcast)?Exchange", block):
            hits += 1
            assert "content#" not in block, block
    assert hits > 0  # the regex must actually see the exchanges


def test_global_windows_only_on_bounded_grains(spark):
    """r12 (verdict ask): the registry's unpartitioned-window sites are
    pinned by name. Every ``GLOBAL_WINDOW`` lint warning in the full
    250-query sweep must come from one of the KNOWN bounded-grain
    sites — calendar grain (year/month aggregates of monthly_flows),
    value-domain grain (distinct 4dp scores), source grain (≤16
    sources), or a top-k-limited frame — so a future query cannot
    silently introduce a data-grain global window (the one shape the
    warning exists to catch at 100 TB).

    The allowlist maps query → why its global window is bounded; a new
    flagged query fails until its grain is argued here."""
    from sunat_rree_demo_spark.plans.lint import audit
    from sunat_rree_demo_spark.queries import REGISTRY

    bounded = {
        # yoy_over_annual / ytd deltas: input is one row per YEAR
        "q19_annual_performance": "year-grain aggregate",
        "q23_ytd_vs_prior": "year-grain YTD aggregate",
        # monthly_flows derivatives: ≤ years×12 rows by construction
        "q24_kpi_monthly": "calendar (year, month) grain",
        "q26_rolling_trend": "calendar (year, month) grain",
        "q27_sigma_outliers": "calendar (year, month) grain",
        "q101_cusum_drift": "calendar (year, month) grain",
        "q106_rolling_correlation": "calendar (year, month) grain",
        "q156_surprisal_yield_curve": "calendar (year, month) grain",
        # domain_rank: running count over DISTINCT 4dp scores (≤10⁴+1)
        "q50_robust_outliers": "value-domain grain (distinct 4dp scores)",
        # rank windows over an orderBy().limit(k) result
        "q179_hybrid_rrf_fusion": "top-k-limited frame (RRF depth)",
        # per-source cumulative cost: sources are a bounded enum (≤16)
        "q188_tokens_per_dollar": "source grain",
    }
    flagged = {}
    for name, q in REGISTRY.items():
        findings = audit(q.fn.__wrapped__(spark, SF_SMOKE))
        hits = [f for f in findings if f.code == "GLOBAL_WINDOW"]
        if hits:
            flagged[name] = len(hits)
    unexpected = sorted(set(flagged) - set(bounded))
    assert not unexpected, (
        "unpartitioned window on an UNPINNED site — argue its grain is "
        f"bounded and add it to the allowlist, or partition it: {unexpected}"
    )
    # the allowlist must not go stale: every pinned site still exists
    gone = sorted(set(bounded) - set(flagged))
    assert not gone, f"allowlisted sites no longer flagged (stale): {gone}"


def _plan_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node) for each line of a formatted plan's tree section
    (of an executed adaptive plan, the final plan's); depth is the
    column the node name starts at."""
    import re

    out = []
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    for ln in tree.splitlines():
        m = re.match(r"^([\s:+\-*]*)(\w.*)$", ln)
        if m and not ln.startswith("=="):
            out.append((len(m.group(1)), m.group(2)))
    return out


def _ancestors(tree: list[tuple[int, str]], i: int) -> list[str]:
    """Nodes on the path from tree line ``i`` up to the root, nearest
    first."""
    out, depth = [], tree[i][0]
    for d, node in reversed(tree[:i]):
        if d < depth:
            out.append(node)
            depth = d
    return out


def test_dedup_probe_one_broadcast_and_candidate_scale_sigs(
        spark, tmp_path, monkeypatch):
    """The streaming dedup probe (``incremental_near_dup_pairs``):
    the candidate step broadcasts the batch's band rows ONCE, keyed on
    (band, bucket), and the stored band table streams into that join
    with no Exchange in between (its only shuffle is the DISTINCT at
    candidate-pair grain); the estimate step reads the stored sigs only
    through the broadcast candidate-id semi-join, so latest-batch-wins
    resolution aggregates candidate-scale rows, never the corpus."""
    import re

    from sunat_rree_demo_spark.operators import dedup_index as di

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    idx = str(tmp_path / "idx")
    di.write_minhash_index(docs.filter("doc_id % 5 != 0"), idx)

    seen = {}
    for step in ("_probe_candidates", "_probe_estimates"):
        real = getattr(di, step)
        monkeypatch.setattr(di, step, lambda *a, real=real, step=step:
                            seen.setdefault(step, real(*a)))
    di.incremental_near_dup_pairs(spark, docs.filter("doc_id % 5 = 0"),
                                  idx)

    cand = plan_of(seen["_probe_candidates"])
    tree = _plan_tree(cand)
    bx = [i for i, (_, n) in enumerate(tree)
          if n.startswith("BroadcastExchange")]
    assert len(bx) == 1, cand
    up = [n for n in _ancestors(tree, bx[0])
          if not n.startswith("BroadcastQueryStage")]
    assert up[0].startswith("BroadcastHashJoin Inner"), cand
    assert re.search(r"Left keys \[2\]: \[band#\d+, bucket#\d+\]", cand)
    assert re.search(r"HashedRelationBroadcastMode\(List\(input\[\d+, "
                     r"int, \w+\], input\[\d+, string, \w+\]\)", cand)
    scans = [i for i, (_, n) in enumerate(tree)
             if n.startswith("Scan parquet")]
    assert len(scans) == 1 and f"{idx}/bands" in cand, cand
    up = _ancestors(tree, scans[0])
    join = next(k for k, n in enumerate(up) if "BroadcastHashJoin" in n)
    assert not any("Exchange" in n for n in up[:join]), cand
    shuffles = re.findall(r"Arguments: hashpartitioning\((\w+)#\d+L?, "
                          r"(\w+)#", cand)
    assert set(shuffles) == {("id1", "id2")}, cand

    est = plan_of(seen["_probe_estimates"])
    tree = _plan_tree(est)
    scans = [i for i, (_, n) in enumerate(tree)
             if n.startswith("Scan parquet")]
    assert scans and f"{idx}/sigs" in est, est
    for i in scans:
        up = [n for n in _ancestors(tree, i)
              if not n.startswith(("Filter", "ColumnarToRow", "Project"))]
        assert up[0].startswith("BroadcastHashJoin LeftSemi"), est
        assert any("Aggregate" in n for n in up[1:4]), est
    assert "hashpartitioning(doc_id" in est  # latest-wins, candidate ids


def test_drain_leaves_no_batch_proxies_in_cyclic_garbage(spark, tmp_path):
    """``batch_store.drain`` releases each batch's py4j proxies when its
    handler returns: a proxy pins its Dataset (and the broadcast
    relations behind it) on the JVM side, and sits in a reference cycle
    only Python's cyclic collector frees. Over a two-batch dedup drain
    with automatic collection off, no JavaObject a handler created is
    in cyclic garbage at the start of the next batch or after the
    drain."""
    import gc

    import pyarrow.parquet as pq
    from py4j.java_gateway import JavaObject

    from sunat_rree_demo_spark.sources.batch_store import drain
    from sunat_rree_demo_spark.streaming.dedup_stream import (
        docs_file_stream,
        process_batch,
    )

    src = tmp_path / "src"
    src.mkdir()
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), src / "part1.parquet")
    pq.write_table(tbl.slice(half), src / "part2.parquet")
    idx, pairs = str(tmp_path / "idx"), str(tmp_path / "pairs")

    made, left = set(), []  # py4j target ids: never reused

    def in_cyclic_garbage():
        gc.set_debug(gc.DEBUG_SAVEALL)
        try:
            gc.collect()
            return [o._target_id for o in gc.garbage
                    if isinstance(o, JavaObject) and o._target_id in made]
        finally:
            gc.set_debug(0)
            gc.garbage.clear()

    def handle(batch_df, batch_id):
        left.extend(in_cyclic_garbage())
        before = {o._target_id for o in gc.get_objects()
                  if isinstance(o, JavaObject)}
        process_batch(spark, batch_df, batch_id, idx, pairs)
        made.update(o._target_id for o in gc.get_objects()
                    if isinstance(o, JavaObject)
                    and o._target_id not in before)

    # no automatic collection: the release must not rely on one (a
    # batch that makes few py4j calls allocates too little to trigger
    # it), and the bookkeeping above must not run one either
    gc.disable()
    try:
        drain(docs_file_stream(spark, str(src)), handle, idx, 300,
              "release")
        left.extend(in_cyclic_garbage())
    finally:
        gc.enable()
    assert len(made) > 20 and not left, left
