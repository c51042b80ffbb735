"""Small-file compaction for parquet layouts: measure each partition
directory's file census, then rewrite only the OVERSPLIT partitions
into ceil(bytes/target) files — the routine maintenance job every
large parquet lake runs (streaming sinks and fine-grained upserts both
leave small files; q-series reads then pay per-file open cost and the
driver pays per-file planning cost).

Scale design: the census is driver-side Hadoop FileSystem metadata
(listStatus — no data read); each oversplit partition is rewritten
INDEPENDENTLY with a round-robin repartition to its own target count,
so a 100 TB lake compacts partition-by-partition with bounded memory
and an interrupted run leaves untouched partitions valid.

Durability protocol (write-temp-then-swap — never overwrite in
place): the compacted copy is fully written and committed to a
sibling ``_compact_tmp_<dir>`` directory FIRST (underscore prefix, so
parquet discovery and the census both ignore it), and only then are
the original files deleted and the temp renamed in. At every instant
a complete copy of the data exists on durable storage: a crash before
the temp commits leaves the original untouched (the stale temp is
discarded on the next run); a crash between delete and rename leaves
the complete temp, which the next run detects and finishes renaming.
Compare the naive ``mode("overwrite")`` on the same path, which
deletes the only copy before the new write commits.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import SparkSession

from sunat_rree_demo_spark.sources.batch_store import _hadoop_fs, _hadoop_path


@dataclass(frozen=True)
class PartitionCensus:
    path: str           # partition directory (or the root, unpartitioned)
    n_files: int
    total_bytes: int
    target_files: int   # ceil(total_bytes / target_bytes), >= 1


def _data_files(fs, jpath):
    return [st for st in fs.listStatus(jpath)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))]


def _tmp_path(part_path: str) -> str:
    """The ``_compact_tmp_<dir>`` sibling of ``part_path``."""
    parent, sep, name = part_path.rstrip("/").rpartition("/")
    return f"{parent}{sep}_compact_tmp_{name}"


def compaction_census(spark: SparkSession, root: str,
                      target_bytes: int = 128 * 1024 * 1024
                      ) -> list[PartitionCensus]:
    """One census row per leaf data directory under ``root`` (the root
    itself when unpartitioned). Pure metadata — no data is read."""
    fs, jroot = _hadoop_fs(spark, root)
    out: list[PartitionCensus] = []

    def visit(jdir):
        files = _data_files(fs, jdir)
        subdirs = [st.getPath() for st in fs.listStatus(jdir)
                   if st.isDirectory()
                   and not st.getPath().getName().startswith(("_", "."))]
        if files:
            total = sum(st.getLen() for st in files)
            out.append(PartitionCensus(
                path=jdir.toString(),
                n_files=len(files),
                total_bytes=total,
                target_files=max(1, math.ceil(total / target_bytes))))
        for sub in subdirs:
            visit(sub)

    visit(jroot)
    return out


def _finish_pending_swap(spark: SparkSession, fs, part_path: str) -> bool:
    """Complete a swap a previous run started: if the partition's temp
    dir holds a COMMITTED copy (_SUCCESS) and the partition itself has
    no data files (crash happened between delete and rename), rename
    the temp in. A temp without _SUCCESS, or one next to a still-
    populated partition, is a stale partial — delete it. Returns True
    if a rename was performed."""
    tmp_dir = _tmp_path(part_path)
    tmp = _hadoop_path(spark, tmp_dir)
    if not fs.exists(tmp):
        return False
    part = _hadoop_path(spark, part_path)
    committed = fs.exists(_hadoop_path(spark, f"{tmp_dir}/_SUCCESS"))
    part_has_data = fs.exists(part) and bool(_data_files(fs, part))
    if committed and not part_has_data:
        if fs.exists(part):
            fs.delete(part, True)
        fs.rename(tmp, part)
        return True
    fs.delete(tmp, True)
    return False


def _all_dirs(fs, jroot) -> list:
    """root + every (non-hidden) descendant directory — the candidate
    set for pending-swap recovery. Deliberately NOT the census: a
    partition whose crash point left it empty has no census row, yet
    its committed temp sibling is exactly what must be recovered."""
    out = [jroot]

    def visit(jdir):
        for st in fs.listStatus(jdir):
            if st.isDirectory() \
                    and not st.getPath().getName().startswith(("_", ".")):
                out.append(st.getPath())
                visit(st.getPath())

    visit(jroot)
    return out


def compact_parquet(spark: SparkSession, root: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    min_files_to_compact: int = 2) -> list[PartitionCensus]:
    """Rewrite every leaf directory whose file count exceeds both its
    byte-derived target and ``min_files_to_compact``. Returns the
    census rows that were acted on (empty = nothing to do). Pending
    swaps from an interrupted previous run are finished first."""
    fs, jroot = _hadoop_fs(spark, root)
    acted = []
    for d in _all_dirs(fs, jroot):
        _finish_pending_swap(spark, fs, d.toString())
    for c in compaction_census(spark, root, target_bytes):
        if c.n_files <= max(c.target_files, min_files_to_compact):
            continue
        tmp = _tmp_path(c.path)
        jtmp = _hadoop_path(spark, tmp)
        if fs.exists(jtmp):  # stale partial from a failed attempt
            fs.delete(jtmp, True)
        (spark.read.parquet(c.path)
         .repartition(c.target_files)
         .write.parquet(tmp))
        # the committed temp is now the durable copy; swap it in
        part = _hadoop_path(spark, c.path)
        fs.delete(part, True)
        fs.rename(jtmp, part)
        acted.append(c)
    return acted
