"""Bloom-gated streaming dedup: exactness (kept set == batch
exact_dedup regardless of bloom false positives), the gate actually
routing (definite-new skips the store; false positives occur and are
caught), and replay/torn-batch idempotence."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def dup_docs_three_files(spark, tmp_path_factory):
    """Documents split into three id-ordered files, with file 2 and 3
    re-shipping some of file 1's texts under new ids (cross-batch
    dups) — the case the digest store must catch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("docs_bloom_stream")
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    third = tbl.num_rows // 3
    pq.write_table(tbl.slice(0, third), d / "part1.parquet")

    base_ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    hi = max(base_ids) + 1

    def reship(slice_tbl, stolen_texts, start_id):
        ids = list(range(start_id, start_id + slice_tbl.num_rows
                         + len(stolen_texts)))
        txt = slice_tbl.column("text").to_pylist() + stolen_texts
        cols = {"doc_id": ids, "text": txt}
        for name in slice_tbl.column_names:
            if name not in cols:
                vals = slice_tbl.column(name).to_pylist()
                cols[name] = vals + vals[:len(stolen_texts)] \
                    if len(vals) >= len(stolen_texts) \
                    else vals + [vals[0]] * len(stolen_texts)
        return pa.table({n: cols[n] for n in slice_tbl.column_names})

    pq.write_table(
        reship(tbl.slice(third, third), texts[:5], hi), d / "part2.parquet")
    pq.write_table(
        reship(tbl.slice(2 * third), texts[5:9], hi + third + 5),
        d / "part3.parquet")
    return str(d)


def test_streamed_bloom_dedup_equals_batch_exact(spark, tmp_path,
                                                 dup_docs_three_files):
    from sunat_rree_demo_spark.operators.dedup import exact_dedup
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        load_gate_stats,
        load_kept,
        run_bloom_dedup_stream,
    )
    from sunat_rree_demo_spark.streaming.dedup_stream import docs_file_stream

    store = str(tmp_path / "bloom_store")
    run_bloom_dedup_stream(
        spark, docs_file_stream(spark, dup_docs_three_files), store)

    got = {r.doc_id for r in load_kept(spark, store).collect()}
    full = spark.read.parquet(dup_docs_three_files)
    want = {r.doc_id for r in exact_dedup(full, "text", "doc_id").collect()}
    assert got == want and want

    stats = {r.batch_id: r for r in load_gate_stats(spark, store).collect()}
    assert len(stats) == 3
    # batch 0 probes an empty filter: everything is definite-new and
    # the exact store is never consulted
    assert stats[0].n_maybe == 0
    assert stats[0].n_definite_new == stats[0].n_unique
    # the re-shipped texts arrive bloom-positive and are dropped by the
    # exact tier (true dups among the maybes)
    later_true_dups = sum(
        stats[b].n_maybe - stats[b].n_false_pos for b in (1, 2))
    assert later_true_dups >= 9  # 5 + 4 re-shipped texts
    # the gate routed most genuinely-new docs around the store
    assert sum(s.n_definite_new for s in stats.values()) > 0
    # accounting invariant per batch
    for s in stats.values():
        assert s.n_kept == s.n_definite_new + s.n_false_pos
        assert s.n_maybe + s.n_definite_new == s.n_unique


def test_bloom_gate_false_positives_are_caught(spark, tmp_path):
    """Force false positives with a saturated filter (many digests,
    tiny batch of genuinely new ones): exactness must hold and the
    stats must record fp > 0."""
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        load_gate_stats,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "sat_store")
    big = spark.createDataFrame(
        [(i, f"filler document number {i}") for i in range(3000)],
        "doc_id long, text string")
    process_bloom_batch(spark, big, 0, store)
    fresh = spark.createDataFrame(
        [(10_000 + i, f"genuinely new text {i}") for i in range(300)],
        "doc_id long, text string")
    process_bloom_batch(spark, fresh, 1, store)
    stats = {r.batch_id: r for r in load_gate_stats(spark, store).collect()}
    # 3000 digests into 16128 bits with k=3 saturates enough that some
    # of 300 new docs collide (expected fp rate ~15%+; flaky-proof
    # because the digests are deterministic)
    assert stats[1].n_false_pos > 0
    assert stats[1].n_kept == 300  # exactness despite the collisions
    assert {r.doc_id for r in load_kept(spark, store).collect()} \
        == set(range(3000)) | set(range(10_000, 10_300))


def test_bloom_replay_and_torn_batch(spark, tmp_path):
    import os

    from sunat_rree_demo_spark.streaming.bloom_stream import (
        current_bloom,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "bl_store")
    d0 = spark.createDataFrame([(1, "alpha"), (2, "alpha"), (3, "beta")],
                               "doc_id long, text string")
    process_bloom_batch(spark, d0, 0, store)
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1, 3}
    words0 = {(r.word, r.m) for r in current_bloom(spark, store).collect()}

    process_bloom_batch(spark, d0, 0, store)  # replay: no-op
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1, 3}
    assert {(r.word, r.m)
            for r in current_bloom(spark, store).collect()} == words0

    # torn batch: the kept-table commit marker missing -> invisible
    d1 = spark.createDataFrame([(9, "gamma")], "doc_id long, text string")
    process_bloom_batch(spark, d1, 1, store)
    os.remove(f"{store}/kept/batch_id=1/_SUCCESS")
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1, 3}
    # heal on replay
    process_bloom_batch(spark, d1, 1, store)
    assert {r.doc_id
            for r in load_kept(spark, store).collect()} == {1, 3, 9}


def test_bloom_store_compaction(spark, tmp_path):
    """Compaction collapses digests+bloom into one negative batch with
    identical probe behavior; kept/stats history survives."""
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        compact_bloom_store,
        current_bloom,
        committed_digests,
        load_gate_stats,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "cb_store")
    b0 = spark.createDataFrame([(1, "aa"), (2, "bb")],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(3, "cc"), (4, "aa")],
                               "doc_id long, text string")
    process_bloom_batch(spark, b0, 0, store)
    process_bloom_batch(spark, b1, 1, store)
    bloom_pre = {(r.word, r.m)
                 for r in current_bloom(spark, store).collect()}
    dg_pre = {r.dg for r in committed_digests(spark, store).collect()}

    compact_bloom_store(spark, store)
    assert {(r.word, r.m)
            for r in current_bloom(spark, store).collect()} == bloom_pre
    assert {r.dg
            for r in committed_digests(spark, store).collect()} == dg_pre
    assert {r.doc_id for r in load_kept(spark, store).collect()} \
        == {1, 2, 3}
    assert load_gate_stats(spark, store).count() == 2

    # the compacted store keeps deduplicating exactly
    b2 = spark.createDataFrame([(9, "bb"), (10, "dd")],
                               "doc_id long, text string")
    process_bloom_batch(spark, b2, 2, store)
    assert {r.doc_id for r in load_kept(spark, store).collect()} \
        == {1, 2, 3, 10}


def test_bloom_store_forget(spark, tmp_path):
    """RTBF: forgotten docs leave kept + digests (touched partitions
    only); the stale bloom bit is harmless — a re-ship of the
    forgotten content is KEPT as new (genuine forgetting), routed
    through the exact tier."""
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        committed_digests,
        forget_docs,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "fg_store")
    b0 = spark.createDataFrame(
        [(1, "secret text"), (2, "public text")],
        "doc_id long, text string")
    process_bloom_batch(spark, b0, 0, store)
    n_dg = committed_digests(spark, store).count()

    assert forget_docs(spark, store, [1]) == [0]
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {2}
    assert committed_digests(spark, store).count() == n_dg - 1

    # re-shipped forgotten content is bloom-positive (stale bit) but
    # the exact tier finds no digest -> kept as new, fp accounted
    b1 = spark.createDataFrame([(7, "secret text")],
                               "doc_id long, text string")
    process_bloom_batch(spark, b1, 1, store)
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {2, 7}
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        load_gate_stats,
    )

    s1 = {r.batch_id: r for r in
          load_gate_stats(spark, store).collect()}[1]
    assert s1.n_maybe == 1 and s1.n_false_pos == 1 and s1.n_kept == 1

    # absent ids: no-op
    assert forget_docs(spark, store, [999]) == []


def test_bloom_store_forget_after_compaction(spark, tmp_path):
    """r6 review fix: forgetting AFTER a compaction must drop the
    digest from the negative generation too — otherwise a re-ship of
    the forgotten content would stay suppressed as a dup."""
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        compact_bloom_store,
        committed_digests,
        forget_docs,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "fgc_store")
    b0 = spark.createDataFrame(
        [(1, "forget me"), (2, "keep me")], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(3, "third text")], "doc_id long, text string")
    process_bloom_batch(spark, b0, 0, store)
    process_bloom_batch(spark, b1, 1, store)
    compact_bloom_store(spark, store)

    touched = forget_docs(spark, store, [1])
    assert 0 in touched           # the kept partition holding doc 1
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {2, 3}
    assert committed_digests(spark, store).count() == 2

    # re-shipped forgotten content is genuinely NEW again
    b2 = spark.createDataFrame([(9, "forget me")],
                               "doc_id long, text string")
    process_bloom_batch(spark, b2, 2, store)
    assert {r.doc_id
            for r in load_kept(spark, store).collect()} == {2, 3, 9}


def test_bloom_forget_leaves_a_torn_kept_batch_to_its_replay(spark,
                                                             tmp_path):
    """A batch whose kept write crashed (kept files there, no marker)
    and that holds a forgotten doc stays uncommitted through
    ``forget_docs``, which commits only the batches it set aside
    itself; the batch's replay then commits it whole."""
    import os

    from sunat_rree_demo_spark.sources.batch_store import marker_committed
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        forget_docs,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "torn_kept_store")
    b1 = spark.createDataFrame([(2, "bb"), (3, "cc")],
                               "doc_id long, text string")
    process_bloom_batch(
        spark, spark.createDataFrame([(1, "aa")],
                                     "doc_id long, text string"), 0, store)
    process_bloom_batch(spark, b1, 1, store)
    os.remove(f"{store}/kept/batch_id=1/_SUCCESS")

    assert forget_docs(spark, store, [2]) == []
    assert not marker_committed(spark, f"{store}/kept", 1)
    process_bloom_batch(spark, b1, 1, store)
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1, 2, 3}


def test_bloom_forget_heals_torn_digests_only_batch(spark, tmp_path):
    """A digests dir without its kept twin — the leftover of a crash
    between process_bloom_batch's digests and kept writes — must not
    abort forget_docs (review finding r6: the unconditional
    kept_dirs[bid] raised KeyError): the torn batch's digest side is
    scrubbed, committed batches rewrite normally, and a re-ship of the
    forgotten content is kept as new."""
    import shutil

    from sunat_rree_demo_spark.streaming.bloom_stream import (
        forget_docs,
        load_kept,
        process_bloom_batch,
    )

    store = str(tmp_path / "torn_store")
    process_bloom_batch(
        spark, spark.createDataFrame([(1, "aa")],
                                     "doc_id long, text string"), 0, store)
    # torn batch 1: digests for "bb" land, crash before the kept write
    process_bloom_batch(
        spark, spark.createDataFrame([(2, "bb")],
                                     "doc_id long, text string"), 1, store)
    shutil.rmtree(f"{store}/kept/batch_id=1")
    # batch 2 re-ships "bb": the torn batch is invisible to the probe,
    # so doc 3 is kept and committed — its dg now lives in BOTH the
    # committed batch-2 digests and the torn batch-1 digests
    process_bloom_batch(
        spark, spark.createDataFrame([(3, "bb")],
                                     "doc_id long, text string"), 2, store)
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1, 3}

    touched = forget_docs(spark, store, [3])
    assert touched == [1, 2]  # torn digest side healed too, no crash
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1}
    dgs = spark.read.parquet(f"{store}/digests")  # ALL partitions
    assert dgs.count() == 1  # only "aa"'s digest anywhere in the store

    # genuine forgetting: "bb" re-shipped later is treated as NEW
    process_bloom_batch(
        spark, spark.createDataFrame([(9, "bb")],
                                     "doc_id long, text string"), 3, store)
    assert {r.doc_id for r in load_kept(spark, store).collect()} == {1, 9}
