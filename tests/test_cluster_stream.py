"""Streamed cluster assignment == the batch fit's one-shot assignment
under the same centroids; committed replays are no-ops and torn
batches stay invisible until healed."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb_three_files(spark, tmp_path_factory):
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("emb_cluster_stream")
    tbl = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    third = tbl.num_rows // 3
    pq.write_table(tbl.slice(0, third), d / "part1.parquet")
    pq.write_table(tbl.slice(third, third), d / "part2.parquet")
    pq.write_table(tbl.slice(2 * third), d / "part3.parquet")
    return str(d)


def test_streamed_assignment_equals_batch(spark, tmp_path, emb_three_files):
    from sunat_rree_demo_spark.operators.clustering import kmeans_fit
    from sunat_rree_demo_spark.sources.catalog import load_table
    from sunat_rree_demo_spark.streaming.cluster_stream import (
        embeddings_file_stream,
        load_assignments,
        run_cluster_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent, batch_assign = kmeans_fit(emb, k=8, iters=2)
    want = sorted(map(tuple, batch_assign.collect()))

    store = str(tmp_path / "cluster_store")
    run_cluster_stream(spark, embeddings_file_stream(spark, emb_three_files),
                       store, cent)
    got = sorted(map(tuple, load_assignments(spark, store).collect()))
    assert got == want and len(want) > 0
    # the drain really was incremental: one partition per file
    n_batches = (load_assignments(spark, store)
                 .select("cluster").rdd.getNumPartitions())
    assert n_batches >= 1


def test_replay_noop_and_torn_batch_invisible(spark, tmp_path):
    import numpy as np

    from sunat_rree_demo_spark.sources.batch_store import marker_committed
    from sunat_rree_demo_spark.streaming.cluster_stream import (
        load_assignments,
        process_assign_batch,
    )

    cent = np.array([[0, 0], [1_000_000, 1_000_000]], dtype=np.int64)
    store = str(tmp_path / "cs_store")
    b0 = spark.createDataFrame(
        [(1, [0.1, 0.0]), (2, [0.9, 1.1])],
        "vec_id long, embedding array<float>")
    process_assign_batch(spark, b0, 0, store, cent)
    got = {r.vec_id: r.cluster for r in load_assignments(spark, store).collect()}
    assert got == {1: 0, 2: 1}

    process_assign_batch(spark, b0, 0, store, cent)  # replay: no-op
    assert {r.vec_id for r in load_assignments(spark, store).collect()} == {1, 2}

    # tear batch 1: marker missing -> invisible to readers, then heals
    b1 = spark.createDataFrame([(3, [0.0, 0.2])],
                               "vec_id long, embedding array<float>")
    process_assign_batch(spark, b1, 1, store, cent)
    import os
    os.remove(f"{store}/assign/batch_id=1/_SUCCESS")
    assert not marker_committed(spark, f"{store}/assign", 1)
    assert {r.vec_id for r in load_assignments(spark, store).collect()} == {1, 2}
    process_assign_batch(spark, b1, 1, store, cent)  # heal
    assert {r.vec_id for r in load_assignments(spark, store).collect()} == {1, 2, 3}
