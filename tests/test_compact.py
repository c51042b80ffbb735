"""Compaction: oversplit partitions shrink to their byte-derived file
target with content bit-identical; compact partitions are untouched;
re-running is a no-op."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F


def _files(path: str) -> list[str]:
    return [f for f in glob.glob(f"{path}/*.parquet")]


def test_compact_merges_small_files_preserving_rows(spark, tmp_path):
    from sunat_rree_demo_spark.plans.compact import (
        compact_parquet,
        compaction_census,
    )

    root = str(tmp_path / "t")
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 2).alias("p"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"))
    # 20 files per partition directory
    df.repartition(20).write.partitionBy("p").parquet(root)
    assert len(_files(f"{root}/p=0")) == 20

    before = sorted(tuple(r) for r in
                    spark.read.parquet(root).collect())
    acted = compact_parquet(spark, root, target_bytes=1 << 30)
    assert {c.path.split("/")[-1] for c in acted} == {"p=0", "p=1"}
    # tiny total bytes -> single target file per partition
    assert len(_files(f"{root}/p=0")) == 1
    assert len(_files(f"{root}/p=1")) == 1
    after = sorted(tuple(r) for r in
                   spark.read.parquet(root).collect())
    assert after == before

    # second run: census sees compact partitions, acts on nothing
    assert compact_parquet(spark, root, target_bytes=1 << 30) == []


def test_min_files_threshold_protects_small_partitions(spark, tmp_path):
    """A partition with exactly min_files_to_compact files is left
    alone — action requires EXCEEDING the floor."""
    from sunat_rree_demo_spark.plans.compact import compact_parquet

    root = str(tmp_path / "v")
    spark.range(100).repartition(2).write.parquet(root)
    assert compact_parquet(spark, root, target_bytes=1 << 30,
                           min_files_to_compact=2) == []
    assert len(_files(root)) == 2


def test_interrupted_swap_recovers_from_committed_temp(spark, tmp_path):
    """Crash between delete and rename: the committed temp holds the
    only copy; the next run finishes the swap and loses nothing."""
    from sunat_rree_demo_spark.plans.compact import compact_parquet

    root = str(tmp_path / "w")
    df = spark.range(0, 500).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("x"))
    df.repartition(10).write.parquet(root)
    before = sorted(tuple(r) for r in spark.read.parquet(root).collect())

    # simulate the crash point: temp fully committed, original deleted
    import glob
    import os
    import shutil
    parent = os.path.dirname(root)
    tmp = os.path.join(parent, f"_compact_tmp_{os.path.basename(root)}")
    spark.read.parquet(root).repartition(1).write.parquet(tmp)
    for f in glob.glob(f"{root}/*"):
        os.remove(f) if os.path.isfile(f) else shutil.rmtree(f)

    acted = compact_parquet(spark, root, target_bytes=1 << 30)
    after = sorted(tuple(r) for r in spark.read.parquet(root).collect())
    assert after == before
    assert acted == []  # recovery happened in the census pre-pass
    assert not os.path.exists(tmp)


def test_census_is_metadata_only_and_sized(spark, tmp_path):
    from sunat_rree_demo_spark.plans.compact import compaction_census

    root = str(tmp_path / "u")
    spark.range(100).repartition(4).write.parquet(root)
    census = compaction_census(spark, root, target_bytes=1)
    assert len(census) == 1
    c = census[0]
    assert c.n_files == 4 and c.total_bytes > 0
    # target_bytes=1 -> one target file per byte: target == total bytes
    assert c.target_files == c.total_bytes


#: py4j round trips per directory of a no-op pass. Measured: 150 over
#: the 9 directories below (16.7 each) with one listing per directory
#: serving both the pending-swap check and the census; 374 (41.6 each)
#: when a separate walk looked for pending swaps and the census listed
#: each directory twice; 491 (54.6 each) when every pending-swap check
#: also resolved ``org.apache.hadoop.fs.Path`` through py4j's package
#: walk, one round trip per name segment, twice.
NOOP_ROUND_TRIPS_PER_DIR = 17


def test_noop_pass_round_trip_budget(spark, tmp_path, monkeypatch):
    """A pass over an already-compact table only reads metadata; it
    lists each directory once, so its py4j cost is pinned per
    directory."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from sunat_rree_demo_spark.plans.compact import compact_parquet

    root = str(tmp_path / "n")
    (spark.range(0, 2000)
     .select("id", (F.col("id") % 2).alias("p"), (F.col("id") % 3).alias("q"))
     .repartition(2).write.partitionBy("p", "q").parquet(root))
    compact_parquet(spark, root, target_bytes=1 << 30)
    n_dirs = 1 + 2 + 6  # root, p=*, p=*/q=*

    me, calls = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        acted = compact_parquet(spark, root, target_bytes=1 << 30)
    finally:
        monkeypatch.undo()
    assert acted == []
    assert calls[0] <= NOOP_ROUND_TRIPS_PER_DIR * n_dirs, calls[0]


class _CrashOn:
    """A Hadoop FileSystem that forwards every call to ``fs`` except
    ``method``, which raises: a compaction crashing at that step."""

    def __init__(self, fs, method):
        self._fs, self._method = fs, method

    def __getattr__(self, name):
        if name == self._method:
            raise OSError(f"injected crash at {name}")
        return getattr(self._fs, name)


def _crash_compaction(spark, monkeypatch, root, method):
    """Run ``compact_parquet`` over ``root`` until its first ``method``
    call on the filesystem, which crashes."""
    import pytest

    from sunat_rree_demo_spark.plans import compact

    real = compact._hadoop_fs

    def crashing(spark, path):
        fs, jpath = real(spark, path)
        return _CrashOn(fs, method), jpath

    with monkeypatch.context() as m:
        m.setattr(compact, "_hadoop_fs", crashing)
        with pytest.raises(OSError, match=f"injected crash at {method}"):
            compact.compact_parquet(spark, root, target_bytes=1 << 30)


def _oversplit(spark, root, partitioned):
    df = spark.range(0, 600).select(
        F.col("id"), (F.col("id") % 2).alias("p"),
        F.sha2(F.col("id").cast("string"), 256).alias("x"))
    writer = df.repartition(6).write
    (writer.partitionBy("p") if partitioned else writer).parquet(root)
    return sorted(tuple(r) for r in spark.read.parquet(root).collect())


def _leaf_dirs(root):
    import os

    return sorted(d for d, _sub, files in os.walk(root)
                  if any(f.endswith(".parquet") for f in files))


@pytest.mark.parametrize("partitioned", [True, False],
                         ids=["partitioned", "unpartitioned"])
def test_crash_between_delete_and_rename_recovers(spark, tmp_path,
                                                  monkeypatch, partitioned):
    """A crash after the original directory is deleted and before the
    committed temp is renamed in leaves the temp as the only copy (a
    partition directory, or the whole unpartitioned root, is missing).
    The next run finds the swap from the temp itself, renames it in,
    and compacts the rest; nothing is lost and no temp is left."""
    import os

    root = str(tmp_path / "t")
    before = _oversplit(spark, root, partitioned)
    _crash_compaction(spark, monkeypatch, root, "rename")
    missing = f"{root}/p=0" if partitioned else root
    assert not os.path.exists(missing)

    from sunat_rree_demo_spark.plans.compact import compact_parquet

    compact_parquet(spark, root, target_bytes=1 << 30)
    assert sorted(tuple(r) for r in spark.read.parquet(root).collect()) \
        == before
    leaves = _leaf_dirs(root)
    assert len(leaves) == (2 if partitioned else 1)
    assert all(len(_files(d)) == 1 for d in leaves)
    assert not [n for n in os.listdir(tmp_path) + os.listdir(root)
                if "compact_tmp" in n]
    assert compact_parquet(spark, root, target_bytes=1 << 30) == []


def test_reader_never_sees_a_pending_temp(spark, tmp_path, monkeypatch):
    """While a committed temp sits next to the partition it will
    replace, the table reads as before: partition discovery hides the
    temp even though the partition name it encodes holds ``=``. The
    next run discards the temp and compacts."""
    import os

    from sunat_rree_demo_spark.plans.compact import compact_parquet

    root = str(tmp_path / "r")
    before = _oversplit(spark, root, True)
    _crash_compaction(spark, monkeypatch, root, "delete")
    assert [n for n in os.listdir(root) if "compact_tmp" in n]
    assert sorted(tuple(r) for r in spark.read.parquet(root).collect()) \
        == before
    assert {c.path.rsplit("/", 1)[1]
            for c in compact_parquet(spark, root, target_bytes=1 << 30)} \
        == {"p=0", "p=1"}
    assert sorted(tuple(r) for r in spark.read.parquet(root).collect()) \
        == before
    assert not [n for n in os.listdir(root) if "compact_tmp" in n]
