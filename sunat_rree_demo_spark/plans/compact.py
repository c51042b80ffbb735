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
sibling ``_compact_tmp_<dir>`` directory FIRST, with ``<dir>``
percent-encoded (parquet discovery hides an ``_`` prefix only in a
name without ``=``, and a partition name holds one), and only then is
the original deleted and the temp renamed in. At every instant a
complete copy of the data exists on durable storage: a crash before
the temp commits leaves the original untouched (the stale temp is
discarded on the next run); a crash between delete and rename leaves
the complete temp, which the next run finds by its own name and
renames in.
Compare the naive ``mode("overwrite")`` on the same path, which
deletes the only copy before the new write commits.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from urllib.parse import quote, unquote

from pyspark.sql import SparkSession

from sunat_rree_demo_spark.sources.batch_store import _hadoop_fs, _hadoop_path


@dataclass(frozen=True)
class PartitionCensus:
    path: str           # partition directory (or the root, unpartitioned)
    n_files: int
    total_bytes: int
    target_files: int   # ceil(total_bytes / target_bytes), >= 1


_TMP = "_compact_tmp_"


def _tmp_path(part_path: str) -> str:
    """The ``_compact_tmp_<dir>`` sibling of ``part_path``, ``<dir>``
    percent-encoded so the name holds no ``=``."""
    parent, sep, name = part_path.rstrip("/").rpartition("/")
    return f"{parent}{sep}{_TMP}{quote(name, safe='')}"


def _finish_swap(spark: SparkSession, fs, tmp: str, part: str,
                 part_has_data: bool) -> bool:
    """Complete a swap a previous run started: a COMMITTED temp
    (_SUCCESS) next to a partition left without data files (deleted,
    or emptied, before the rename) is renamed in. Any other temp is a
    stale partial and is deleted. Returns True if a rename was
    performed."""
    jtmp = _hadoop_path(spark, tmp)
    if not part_has_data \
            and fs.exists(_hadoop_path(spark, f"{tmp}/_SUCCESS")):
        jpart = _hadoop_path(spark, part)
        fs.delete(jpart, True)
        fs.rename(jtmp, jpart)
        return True
    fs.delete(jtmp, True)
    return False


def _walk(spark: SparkSession, fs, path: str, tmp: str | None,
          target_bytes: int, out: list) -> None:
    """Census ``path`` and every (non-hidden) directory below it,
    listing each directory ONCE. ``tmp`` is the pending compaction
    temp of ``path`` (found in its parent's listing), finished first;
    ``path`` itself may then be missing — the crash point between
    delete and rename."""
    jpath = _hadoop_path(spark, path)
    files, dirs, temps = [], [], {}  # temps: {partition name: temp name}
    if tmp is None or fs.exists(jpath):
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not st.isDirectory():
                if not name.startswith(("_", ".")):
                    files.append(st.getLen())
            elif name.startswith(_TMP):
                temps[unquote(name[len(_TMP):])] = name
            elif not name.startswith(("_", ".")):
                dirs.append(name)
    if tmp is not None and _finish_swap(spark, fs, tmp, path, bool(files)):
        return _walk(spark, fs, path, None, target_bytes, out)
    if files:
        out.append(PartitionCensus(
            path=path, n_files=len(files), total_bytes=sum(files),
            target_files=max(1, math.ceil(sum(files) / target_bytes))))
    for name in [*dirs, *sorted(temps.keys() - set(dirs))]:
        _walk(spark, fs, f"{path}/{name}",
              f"{path}/{temps[name]}" if name in temps else None,
              target_bytes, out)


def compaction_census(spark: SparkSession, root: str,
                      target_bytes: int = 128 * 1024 * 1024
                      ) -> list[PartitionCensus]:
    """One census row per leaf data directory under ``root`` (the root
    itself when unpartitioned). Pure metadata — no data is read; a
    swap an interrupted compaction left pending is finished on the
    way."""
    fs, _ = _hadoop_fs(spark, root)
    tmp = _tmp_path(root)
    out: list[PartitionCensus] = []
    _walk(spark, fs, root.rstrip("/"),
          tmp if fs.exists(_hadoop_path(spark, tmp)) else None,
          target_bytes, out)
    return out


def compact_parquet(spark: SparkSession, root: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    min_files_to_compact: int = 2) -> list[PartitionCensus]:
    """Rewrite every leaf directory whose file count exceeds both its
    byte-derived target and ``min_files_to_compact``. Returns the
    census rows that were acted on (empty = nothing to do). Pending
    swaps from an interrupted previous run are finished by the
    census walk first."""
    fs, _ = _hadoop_fs(spark, root)
    acted = []
    for c in compaction_census(spark, root, target_bytes):
        if c.n_files <= max(c.target_files, min_files_to_compact):
            continue
        tmp = _tmp_path(c.path)  # the census walk removed any stale one
        (spark.read.parquet(c.path)
         .repartition(c.target_files)
         .write.parquet(tmp))
        # the committed temp is now the durable copy; swap it in
        part = _hadoop_path(spark, c.path)
        fs.delete(part, True)
        fs.rename(_hadoop_path(spark, tmp), part)
        acted.append(c)
    return acted
