"""Plan + equivalence contracts for the round-6 additions."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_plan_contracts import plan_of


def test_q185_bucketed_index_join_no_exchange(spark, tmp_path):
    """cross_index_candidates (the q185 engine path): both band tables
    arrive through the bucketed sink, so the candidate join plans with
    no Exchange even when neither side may broadcast; the pairs equal
    the plain-parquet join of the same indexes."""
    import shutil

    from sunat_rree_demo_spark.operators.dedup_index import (
        cross_index_candidates,
        write_minhash_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    write_minhash_index(d.filter("doc_id % 2 = 0"), ia)
    write_minhash_index(d.filter("doc_id % 2 = 1"), ib)

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tname in ("xc_even", "xc_odd"):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(f"{warehouse}/{tname}", ignore_errors=True)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = cross_index_candidates(spark, ia, ib, "xc_even", "xc_odd")
        plan = plan_of(cand)
        assert "Bucketed: true" in plan
        assert "Exchange hashpartitioning" not in plan
        got = {(r.id1, r.id2) for r in cand.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    pa = spark.read.parquet(f"{ia}/bands").select(
        "band", "bucket", F.col("doc_id").alias("id1"))
    pb = spark.read.parquet(f"{ib}/bands").select(
        "band", "bucket", F.col("doc_id").alias("id2"))
    expected = {(r.id1, r.id2) for r in
                pa.join(pb, ["band", "bucket"])
                .select("id1", "id2").distinct().collect()}
    assert got == expected and expected


def test_q186_stats_survive_arbitrary_partitioning(spark):
    """q186's encode→decode pipeline is partitioning-invariant: the
    same doc yields the same stats whether its batch holds 1 row or
    the whole frame (mapInPandas batch shape must not leak into
    results)."""
    from sunat_rree_demo_spark.queries import REGISTRY

    base = REGISTRY["q186_png_pixel_stats"].fn(spark, SF_SMOKE)
    rows = {r.doc_id: tuple(r) for r in base.collect()}
    # rerun the un-memoized builder over a deliberately fragmented
    # input (tiny batches force many mapInPandas chunks)
    from sunat_rree_demo_spark.queries.media import q186_png_pixel_stats

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        frag = {r.doc_id: tuple(r)
                for r in q186_png_pixel_stats(spark, SF_SMOKE).collect()}
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert rows == frag and rows


def test_q187_bucketed_self_join_no_exchange(spark, tmp_path):
    """The full-corpus band table self-join (q187's candidate path,
    ``_band_pairs`` over the bucketed table) plans bucket-aligned: no
    Exchange on either side even with broadcast off."""
    import shutil

    from sunat_rree_demo_spark.operators.dedup import _band_pairs
    from sunat_rree_demo_spark.operators.dedup_index import (
        write_bucketed_bands,
        write_minhash_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    root = str(tmp_path / "idx")
    write_minhash_index(load_table(spark, SF_SMOKE, "documents"), root)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS xc_all")
    shutil.rmtree(f"{warehouse}/xc_all", ignore_errors=True)
    write_bucketed_bands(spark, root, "xc_all")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = _band_pairs(spark.table("xc_all"), "doc_id")
        plan = plan_of(cand)
        assert "Bucketed: true" in plan
        # the candidate JOIN must not shuffle on (band, bucket); the
        # final distinct legitimately exchanges at pair grain
        assert "Exchange hashpartitioning(band" not in plan
        joined_section = plan.split("HashAggregate")[0]
        assert "Exchange" not in joined_section.split("Join")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q195_bitmap_counts_equal_direct_counts(spark):
    """The word-aligned bitmap AND+popcount must equal the direct
    two-predicate count per language — semantic correctness of the
    bitmap encoding, independent of the oracle parity."""
    from sunat_rree_demo_spark.queries import REGISTRY
    from sunat_rree_demo_spark.queries.layout import _BM_SOURCES
    from sunat_rree_demo_spark.sources.catalog import load_table

    got = {r.lang: r.n_docs
           for r in REGISTRY["q195_bitmap_index_intersect"]
           .fn(spark, SF_SMOKE).collect()}
    d = load_table(spark, SF_SMOKE, "documents")
    direct = {r.lang: r.n
              for r in d.filter(F.col("source").isin(*_BM_SOURCES))
              .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # bitmap rows exist for every lang sharing a word with the source
    # set; langs with zero overlap must report 0, absent langs none
    for lang, n in direct.items():
        assert got.get(lang, 0) == n, lang
    for lang, n in got.items():
        assert direct.get(lang, 0) == n, lang


def test_skyline_matches_bruteforce(spark):
    """skyline_2d against a brute-force dominance filter on a frame
    with deliberate ties in each dimension and full-duplicate rows."""
    from sunat_rree_demo_spark.operators.analytics import skyline_2d

    rows = [(1, 10, 5), (2, 10, 5), (3, 10, 7), (4, 12, 9),
            (5, 8, 3), (6, 8, 3), (7, 12, 5), (8, 7, 3), (9, 1, 1)]
    df = spark.createDataFrame(rows, "id long, hi long, lo long")
    got = {r.id for r in skyline_2d(df, "hi", "lo").collect()}
    brute = {
        a[0] for a in rows
        if not any(b[1] >= a[1] and b[2] <= a[2]
                   and (b[1] > a[1] or b[2] < a[2]) for b in rows)
    }
    assert got == brute


def test_q193_bom_matches_closed_form(spark):
    """The iterative explosion must equal the closed form: part p sits
    at depth floor(log2(p)) with path_qty = prod of (1 + a % 3) over
    the ancestor chain a = p, p>>1, ..., down to (but excluding) the
    root — an independent pure-Python derivation of the same tree."""
    from collections import defaultdict

    from sunat_rree_demo_spark.queries import REGISTRY
    from sunat_rree_demo_spark.sources.catalog import load_table

    got = {r.depth: (r.n_parts, r.total_qty)
           for r in REGISTRY["q193_recursive_bom"]
           .fn(spark, SF_SMOKE).collect()}

    keys = [r.p_partkey for r in
            load_table(spark, SF_SMOKE, "part")
            .select("p_partkey").collect()]
    agg = defaultdict(lambda: [0, 0])
    for p in keys:
        if p < 2:
            continue
        depth, qty, a = 0, 1, p
        while a >= 2:
            qty *= 1 + a % 3
            a >>= 1
            depth += 1
        agg[depth][0] += 1
        agg[depth][1] += qty
    assert got == {d: tuple(v) for d, v in agg.items()} and got


def test_warehouse_janitor_ttl(spark):
    """drop_stale_app_tables removes only prefix-matching directories
    that are stale on BOTH keys — embedded session timestamp AND
    directory mtime (the actual build time): a concurrent session
    older than the TTL whose table was built recently must survive
    (review finding r6 — the name-timestamp key alone reaped it)."""
    import os
    import time

    from sunat_rree_demo_spark.sources.sinks import drop_stale_app_tables

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    old = os.path.join(wh, "janitor_test_sf0_001_local_1000000000000")
    young = os.path.join(wh, "janitor_test_sf0_001_local_9999999999999")
    # old SESSION (embedded ts stale) but fresh BUILD (mtime now):
    # the long-lived concurrent session's live table
    livecon = os.path.join(wh, "janitor_test_xb_local_1000000000001")
    other = os.path.join(wh, "unrelated_local_1000000000000")
    for d in (old, young, livecon, other):
        os.makedirs(d, exist_ok=True)
    stale_s = time.time() - 48 * 3600
    os.utime(old, (stale_s, stale_s))    # stale on both keys
    os.utime(other, (stale_s, stale_s))
    try:
        drop_stale_app_tables(spark, "janitor_test_", ttl_hours=1.0)
        assert not os.path.exists(old)      # stale both keys: gone
        assert os.path.exists(young)        # young name: kept
        assert os.path.exists(livecon)      # old session, fresh build
        assert os.path.exists(other)        # wrong prefix: kept
    finally:
        for d in (young, livecon, other):
            if os.path.exists(d):
                os.rmdir(d)


def test_index_scratch_root_is_reaped_when_stale(spark):
    """q185/q187 build their on-disk index under the warehouse, in a
    root named ``<prefix><sf>_<app id>``: the warehouse janitor the
    next build runs reaps a dead session's stale root and keeps the
    current session's own."""
    import os
    import shutil
    import time

    from sunat_rree_demo_spark.queries.dedup import _index_scratch

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stale = os.path.join(wh, "full_idx_sf0_001_local_1000000000000")
    os.makedirs(os.path.join(stale, "sigs"), exist_ok=True)
    old = time.time() - 48 * 3600
    os.utime(stale, (old, old))

    root, sfx = _index_scratch(spark, SF_SMOKE, "full_idx_")
    own = root.removeprefix("file:")
    assert os.path.dirname(own) == wh.rstrip("/")
    assert os.path.basename(own) == f"full_idx_{sfx}"
    made = not os.path.isdir(own)
    os.makedirs(own, exist_ok=True)  # as the build writes it
    try:
        _index_scratch(spark, SF_SMOKE, "full_idx_")  # the next build
        assert not os.path.exists(stale)
        assert os.path.isdir(own)
    finally:
        shutil.rmtree(stale, ignore_errors=True)
        if made:
            shutil.rmtree(own, ignore_errors=True)


def test_skyline_survives_multi_batch_candidates(spark):
    """Regression (r6 review): phase 2 must sweep the WHOLE candidate
    set — with >10k candidates Arrow splits the coalesced partition
    into several batches, and a per-batch sweep would keep dominated
    rows. 12k rows all dominated by one row must all be eliminated."""
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.analytics import skyline_2d

    n = 12_000
    df = (spark.range(n)
          .select(F.col("id"),
                  (F.col("id") % 1000).alias("hi"),
                  (F.lit(5000) + F.col("id") % 1000).alias("lo"))
          .union(spark.range(1).select(
              F.lit(n).alias("id"), F.lit(10_000).alias("hi"),
              F.lit(0).alias("lo"))))
    got = skyline_2d(df.repartition(7), "hi", "lo").collect()
    assert [r.id for r in got] == [n]


def test_r6_simple_query_plan_shapes(spark):
    """Cheap shape pins for the rest of the r6 slate: dims broadcast
    (q192/q197), the dedup window is key-partitioned (q194), and the
    bloom probe broadcasts the filter (q196)."""
    from tests.test_plan_contracts import (
        assert_windows_partitioned,
        fresh,
    )

    p192 = plan_of(fresh("q192_segmented_regression")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p192 and "SortMergeJoin" not in p192

    p194 = plan_of(fresh("q194_window_dedup_rank")(spark, SF_SMOKE))
    assert_windows_partitioned(p194)

    p196 = plan_of(fresh("q196_bloom_filter_join")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p196  # the 64-word filter broadcasts

    p197 = plan_of(fresh("q197_personalized_pagerank")(spark, SF_SMOKE))
    # the fact-fact edge build may sort-merge; the iteration itself
    # must never degrade to a cartesian/nested-loop product
    assert "CartesianProduct" not in p197
    assert "BroadcastNestedLoopJoin" not in p197


def test_q188_windows_are_source_grain(spark):
    """q188's cumulative-cost window runs over the SOURCE aggregate
    (domain-bounded), never documents: the window input must sit above
    the source-grain HashAggregate."""
    import re

    from tests.test_plan_contracts import fresh

    plan = plan_of(fresh("q188_tokens_per_dollar")(spark, SF_SMOKE))
    # exactly ONE window, unpartitioned (its first spec argument is the
    # sort column), over the source-grain aggregate
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert len(set(specs)) == 1, specs
    assert " ASC" in specs[0] or " DESC" in specs[0]
    assert re.search(r"Keys \[1\]: \[source#\d+\]", plan)
