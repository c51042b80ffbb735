"""Persisted IVF index: index-served search equals the session-fit
q172 path row-for-row (same deterministic fit), and the probe scan
prunes non-probed cell directories at the file level."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def ivf_path(spark, tmp_path_factory):
    from sunat_rree_demo_spark.operators.ann_index import write_ivf_index
    from sunat_rree_demo_spark.queries.clustering import _ITERS, _K
    from sunat_rree_demo_spark.sources.catalog import load_table

    path = str(tmp_path_factory.mktemp("ivf") / "index")
    write_ivf_index(load_table(spark, SF_SMOKE, "embeddings"), path,
                    k=_K, iters=_ITERS)
    return path


def test_index_search_equals_session_fit_query(spark, ivf_path):
    from sunat_rree_demo_spark.operators.ann_index import ivf_index_search
    from sunat_rree_demo_spark.queries import REGISTRY
    from sunat_rree_demo_spark.queries.clustering import (
        _NEIGHBORS,
        _NPROBE,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qpd = (emb.filter("vec_id < 8")
           .selectExpr("vec_id as q_id", "embedding")
           .orderBy("q_id").toPandas())
    got = [tuple(r) for r in
           ivf_index_search(spark, ivf_path, qpd, topk=_NEIGHBORS,
                            nprobe=_NPROBE).collect()]
    want = [tuple(r) for r in
            REGISTRY["q172_ivf_kmeans_topk"].fn(spark, SF_SMOKE).collect()]
    assert got == want and got


def test_probe_scan_prunes_cell_directories(spark, ivf_path):
    """The filtered vectors scan must carry PartitionFilters on the
    cell column and list only the probed directories."""
    from pyspark.sql import functions as F

    from tests.test_plan_contracts import plan_of

    vecs = (spark.read.parquet(f"{ivf_path}/vectors/batch_id=-1")
            .filter(F.col("cluster").isin([0, 3])))
    plan = plan_of(vecs)
    assert "PartitionFilters" in plan and "cluster" in plan
    # pruning is real at EXECUTION: every file actually read lies in a
    # probed cell directory (input_file_name reflects the pruned scan;
    # DataFrame.inputFiles() is not filter-aware and would list all)
    read = {r[0] for r in
            vecs.select(F.input_file_name()).distinct().collect()}
    assert read
    assert all("cluster=0" in f or "cluster=3" in f for f in read)
    full = {r[0] for r in
            spark.read.parquet(f"{ivf_path}/vectors/batch_id=-1")
            .select(F.input_file_name()).distinct().collect()}
    assert len(read) < len(full)


def test_index_build_is_reproducible(spark, ivf_path, tmp_path):
    """Same corpus, same parameters -> byte-identical centroids and
    identical cell membership (the int64 Lloyd guarantee on disk)."""
    from sunat_rree_demo_spark.operators.ann_index import (
        load_centroids,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.queries.clustering import _ITERS, _K
    from sunat_rree_demo_spark.sources.catalog import load_table

    again = str(tmp_path / "index2")
    write_ivf_index(load_table(spark, SF_SMOKE, "embeddings"), again,
                    k=_K, iters=_ITERS)
    import numpy as np

    assert np.array_equal(load_centroids(spark, ivf_path),
                          load_centroids(spark, again))
    a = {(r.vec_id, r.cluster) for r in
         spark.read.parquet(f"{ivf_path}/vectors/batch_id=-1")
         .select("vec_id", "cluster").collect()}
    b = {(r.vec_id, r.cluster) for r in
         spark.read.parquet(f"{again}/vectors/batch_id=-1")
         .select("vec_id", "cluster").collect()}
    assert a == b


def test_absorb_batch_equals_monolithic_index(spark, tmp_path):
    """bootstrap(80%) + absorb(20%) must serve searches identical to a
    single index holding all vectors assigned under the SAME frozen
    centroids — plus replay no-op and torn-batch invisibility."""
    import os

    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        committed_vector_dirs,
        ivf_index_search,
        load_centroids,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.operators.clustering import assign_under
    from sunat_rree_demo_spark.queries.clustering import _ITERS, _K
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    old = emb.filter("vec_id % 5 != 0")
    new = emb.filter("vec_id % 5 = 0")

    inc = str(tmp_path / "inc")
    write_ivf_index(old, inc, k=_K, iters=_ITERS)
    absorb_ivf_batch(spark, new, inc, 0)

    # monolithic twin: all vectors under the SAME frozen centroids
    mono = str(tmp_path / "mono")
    cent = load_centroids(spark, inc)
    spark.read.parquet(f"{inc}/centroids").write.mode("overwrite") \
        .parquet(f"{mono}/centroids")
    (emb.select("vec_id", "embedding")
     .join(assign_under(emb, cent).select("vec_id", "cluster", "d2"),
           "vec_id")
     .write.partitionBy("cluster").mode("overwrite")
     .parquet(f"{mono}/vectors/batch_id=-1"))

    qpd = (emb.filter("vec_id < 8")
           .selectExpr("vec_id as q_id", "embedding")
           .orderBy("q_id").toPandas())
    got = [tuple(r) for r in
           ivf_index_search(spark, inc, qpd, topk=5, nprobe=2).collect()]
    want = [tuple(r) for r in
            ivf_index_search(spark, mono, qpd, topk=5, nprobe=2).collect()]
    assert got == want and got

    # replay: committed batch short-circuits (directories unchanged)
    before = sorted(committed_vector_dirs(spark, inc))
    absorb_ivf_batch(spark, new, inc, 0)
    assert sorted(committed_vector_dirs(spark, inc)) == before

    # torn batch: marker removed -> invisible to searches, heals on replay
    os.remove(f"{inc}/vectors/batch_id=0/_SUCCESS")
    n_old_only = ivf_index_search(spark, inc, qpd, topk=5, nprobe=2)
    only_old = {r.n_id for r in n_old_only.collect()}
    assert all(v % 5 != 0 for v in only_old)  # new batch invisible
    absorb_ivf_batch(spark, new, inc, 0)
    assert sorted(committed_vector_dirs(spark, inc)) == before


def test_reingest_latest_wins_and_compaction(spark, tmp_path):
    """A re-ingested vec_id must not occupy two top-k slots: probed-
    scale latest-wins keeps only the newest copy; compaction collapses
    the store to one row per id and preserves search results."""
    import pandas as pd

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        compact_ivf_index,
        committed_vector_dirs,
        ivf_index_search,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "reingest")
    write_ivf_index(emb, path, k=4, iters=1)
    # re-ship 10 existing ids with UNCHANGED embeddings (same cells)
    reship = emb.filter("vec_id >= 100 and vec_id < 110")
    absorb_ivf_batch(spark, reship, path, 0)

    qpd = (emb.filter("vec_id < 4")
           .selectExpr("vec_id as q_id", "embedding")
           .orderBy("q_id").toPandas())
    res = ivf_index_search(spark, path, qpd, topk=5, nprobe=2).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r.q_id, []).append(r.n_id)
    for q, nids in per_q.items():
        assert len(nids) == len(set(nids)), (q, nids)  # no double slot

    compact_ivf_index(spark, path)
    dirs = committed_vector_dirs(spark, path)
    assert len(dirs) == 1 and "batch_id=-2" in dirs[0]
    res2 = [tuple(r) for r in
            ivf_index_search(spark, path, qpd, topk=5, nprobe=2).collect()]
    assert res2 == [tuple(r) for r in res]
    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_ivf_compaction_write_first_coexistence(spark, tmp_path):
    """Crash mid-delete leaves the compacted generation COEXISTING
    with an absorbed batch (review finding r6: the delete-before-write
    ordering instead had a total-corpus-loss window): latest-wins
    keeps search results identical through the window, and a re-run
    heals to a single generation."""
    import shutil

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        committed_vector_dirs,
        compact_ivf_index,
        ivf_index_search,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").filter("vec_id < 200")
    path = str(tmp_path / "wf")
    write_ivf_index(emb, path, k=4, iters=1)
    absorb_ivf_batch(
        spark, emb.filter("vec_id >= 150"), path, 0)
    qpd = (emb.filter("vec_id < 3")
           .selectExpr("vec_id as q_id", "embedding")
           .orderBy("q_id").toPandas())
    want = [tuple(r) for r in
            ivf_index_search(spark, path, qpd, topk=5, nprobe=2).collect()]

    snap = str(tmp_path / "snap0")
    shutil.copytree(f"{path}/vectors/batch_id=0", snap)
    compact_ivf_index(spark, path)
    # crash mid-delete: batch 0 resurfaces next to generation -2
    shutil.copytree(snap, f"{path}/vectors/batch_id=0")
    dirs = committed_vector_dirs(spark, path)
    assert {d.rsplit("=", 1)[1] for d in dirs} == {"-2", "0"}
    got = [tuple(r) for r in
           ivf_index_search(spark, path, qpd, topk=5, nprobe=2).collect()]
    assert got == want  # coexistence benign under latest-wins
    # the healing re-run collapses to one generation, results unchanged
    compact_ivf_index(spark, path)
    dirs = committed_vector_dirs(spark, path)
    assert len(dirs) == 1 and dirs[0].endswith("batch_id=-3")
    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.groupBy("vec_id").count().filter("count > 1").count() == 0
    got = [tuple(r) for r in
           ivf_index_search(spark, path, qpd, topk=5, nprobe=2).collect()]
    assert got == want
    # single-generation store: compaction is a no-op, not a rewrite
    compact_ivf_index(spark, path)
    assert committed_vector_dirs(spark, path) == dirs


def test_rebuild_retires_every_older_batch(spark, tmp_path):
    """A rebuild replaces the whole index: the batches absorbed since
    the last build (cells assigned under the OLD centroids) are
    retired with it, so only the new corpus is served, under the new
    centroids."""
    import numpy as np

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        committed_vector_dirs,
        load_centroids,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    new = emb.filter("vec_id >= 200")
    path = str(tmp_path / "rebuilt")
    write_ivf_index(emb.filter("vec_id < 100"), path, k=4, iters=1)
    absorb_ivf_batch(spark, emb.filter("vec_id >= 100 AND vec_id < 150"),
                     path, 0)
    write_ivf_index(new, path, k=4, iters=1)

    assert committed_vector_dirs(spark, path) \
        == [f"{path}/vectors/batch_id=-2"]
    served = {r.vec_id for r in spark.read.parquet(
        *committed_vector_dirs(spark, path)).collect()}
    assert served == {r.vec_id for r in new.collect()} and served
    fresh = str(tmp_path / "fresh")
    write_ivf_index(new, fresh, k=4, iters=1)
    assert np.array_equal(load_centroids(spark, path),
                          load_centroids(spark, fresh))


def test_forget_leaves_a_torn_batch_to_its_replay(spark, tmp_path):
    """A torn absorb batch (its cell-partitioned write crashed partway:
    some cells are there, the marker is not) that holds a forgotten id
    stays uncommitted through ``forget_vectors``, and its replay writes
    every cell."""
    import os
    import shutil

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        forget_vectors,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.sources.batch_store import marker_committed
    from sunat_rree_demo_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    batch = emb.filter("vec_id >= 100 AND vec_id < 150")
    path = str(tmp_path / "torn")
    write_ivf_index(emb.filter("vec_id < 100"), path, k=4, iters=1)
    absorb_ivf_batch(spark, batch, path, 0)
    bdir = f"{path}/vectors/batch_id=0"

    def cells():
        return sorted(c for c in os.listdir(bdir) if c.startswith("cluster="))

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(bdir).collect())

    whole_cells, whole_rows = cells(), rows()
    assert len(whole_cells) > 1
    os.remove(f"{bdir}/_SUCCESS")
    shutil.rmtree(f"{bdir}/{whole_cells[-1]}")
    victim = spark.read.parquet(f"{bdir}/{whole_cells[0]}").first().vec_id

    assert forget_vectors(spark, path, [victim]) == []
    assert not marker_committed(spark, f"{path}/vectors", 0)
    absorb_ivf_batch(spark, batch, path, 0)
    assert marker_committed(spark, f"{path}/vectors", 0)
    assert cells() == whole_cells and rows() == whole_rows
