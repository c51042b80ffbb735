"""Streaming dedup = batch-global dedup: drain the documents corpus
through the micro-batch index pipeline in two files and compare the
union of emitted pairs against ``minhash_lsh_pairs`` on the full
corpus — same pairs, same estimates, each emitted exactly once."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs_two_files(spark, tmp_path_factory):
    """The documents table split across two parquet files (two
    micro-batches under maxFilesPerTrigger=1)."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("docs_stream")
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), d / "part1.parquet")
    pq.write_table(tbl.slice(half), d / "part2.parquet")
    return str(d)


def test_stream_emits_batch_global_pairs_exactly_once(
        spark, tmp_path, docs_two_files):
    from sunat_rree_demo_spark.operators.dedup import minhash_lsh_pairs
    from sunat_rree_demo_spark.sources.catalog import load_table
    from sunat_rree_demo_spark.streaming.dedup_stream import (
        docs_file_stream,
        run_dedup_stream,
    )

    idx = str(tmp_path / "idx")
    pairs_out = str(tmp_path / "pairs")
    run_dedup_stream(spark, docs_file_stream(spark, docs_two_files),
                     idx, pairs_out)

    emitted = spark.read.parquet(pairs_out).collect()
    got = {(r.id1, r.id2): r.jaccard_est for r in emitted}
    assert len(emitted) == len(got), "a pair was emitted twice"

    full = load_table(spark, SF_SMOKE, "documents")
    want = {(r.id1, r.id2): r.jaccard_est
            for r in minhash_lsh_pairs(full, "doc_id", "text").collect()}
    assert got == want and want

    # both batches ran through foreachBatch (ids 0 and 1); batch_id is
    # the partition column discovered from pairs_path/batch_id=N dirs
    batch_ids = {r.batch_id for r in emitted}
    assert batch_ids <= {0, 1} and len(batch_ids) >= 1


def _state_snapshot(spark, idx, pairs_out):
    """Fully-sorted contents of the pairs table and both index tables."""
    def rows(path):
        df = spark.read.parquet(path)
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))
    return (rows(pairs_out), rows(f"{idx}/sigs"), rows(f"{idx}/bands"))


def test_replay_is_exactly_once(spark, tmp_path, docs_two_files):
    """foreachBatch crash-recovery contract: re-delivering a batch with
    the same id — after full commit OR after a crash between the pairs
    write and the index append — must leave pairs and index unchanged."""
    import shutil

    from sunat_rree_demo_spark.streaming.dedup_stream import process_batch

    idx = str(tmp_path / "idx")
    pairs_out = str(tmp_path / "pairs")
    halves = [
        spark.read.parquet(f"{docs_two_files}/part1.parquet"),
        spark.read.parquet(f"{docs_two_files}/part2.parquet"),
    ]
    for bid, batch in enumerate(halves):
        process_batch(spark, batch, bid, idx, pairs_out)
    clean = _state_snapshot(spark, idx, pairs_out)

    # replay of a fully-committed batch: short-circuits, state unchanged
    process_batch(spark, halves[1], 1, idx, pairs_out)
    assert _state_snapshot(spark, idx, pairs_out) == clean

    # crash between the pairs write and the bands commit: wipe batch 1's
    # bands partition (the commit marker) and its sigs partition, then
    # replay — the rewrite must reproduce the clean state exactly
    shutil.rmtree(f"{idx}/bands/batch_id=1")
    shutil.rmtree(f"{idx}/sigs/batch_id=1")
    process_batch(spark, halves[1], 1, idx, pairs_out)
    assert _state_snapshot(spark, idx, pairs_out) == clean

    # crash after the pairs write only (sigs+bands for batch 1 missing,
    # stale pairs partition present): replay must overwrite, not append
    shutil.rmtree(f"{idx}/bands/batch_id=1")
    shutil.rmtree(f"{idx}/sigs/batch_id=1")
    process_batch(spark, halves[1], 1, idx, pairs_out)
    assert _state_snapshot(spark, idx, pairs_out) == clean


def test_crash_between_sigs_and_bands_writes(spark, tmp_path,
                                             docs_two_files, monkeypatch):
    """A crash after an index batch's sigs write landed and before its
    bands write leaves the batch uncommitted, and a replay restores the
    clean state. The crash hits a re-absorb of the COMMITTED batch 1,
    so the old bands ``_SUCCESS`` survives it unless the writer clears
    the marker first, and a writer that put bands before sigs would
    have committed before the crash."""
    from sunat_rree_demo_spark.operators import dedup_index
    from sunat_rree_demo_spark.sources import batch_store
    from sunat_rree_demo_spark.sources.batch_store import all_batch_dirs
    from sunat_rree_demo_spark.streaming.dedup_stream import process_batch

    idx = str(tmp_path / "idx")
    pairs_out = str(tmp_path / "pairs")
    halves = [
        spark.read.parquet(f"{docs_two_files}/part1.parquet"),
        spark.read.parquet(f"{docs_two_files}/part2.parquet"),
    ]
    for bid, batch in enumerate(halves):
        process_batch(spark, batch, bid, idx, pairs_out)
    clean = _state_snapshot(spark, idx, pairs_out)

    writes = []
    real_write = batch_store.retry_transient_write

    def crash_on_second_write(write_fn, cleanup=None):
        writes.append(write_fn)
        if len(writes) == 2:
            raise OSError("injected crash before the batch's last write")
        real_write(write_fn, cleanup)

    monkeypatch.setattr(batch_store, "retry_transient_write",
                        crash_on_second_write)
    with pytest.raises(OSError, match="injected crash"):
        dedup_index.absorb_batch(halves[1], idx, 1)
    monkeypatch.undo()

    assert len(writes) == 2
    assert 1 in all_batch_dirs(spark, f"{idx}/sigs")
    assert dedup_index.batch_committed(spark, idx, 1) is False

    process_batch(spark, halves[1], 1, idx, pairs_out)
    assert dedup_index.batch_committed(spark, idx, 1)
    assert _state_snapshot(spark, idx, pairs_out) == clean
