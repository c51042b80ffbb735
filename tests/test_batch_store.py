"""The shared batch-store contract (sources/batch_store.py): which
directories the two walks return, and how ``drain`` gives up."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.errors import AnalysisException


def _store(root):
    """A table dir with committed batches 3 and -1, torn batch 1, and
    entries no walk may return: a plain file named like a batch, the
    stream checkpoint, an unrelated dir and a stray file."""
    for name in ("batch_id=3", "batch_id=1", "batch_id=-1",
                 "_stream_checkpoint", "other"):
        os.makedirs(root / name)
    for name in ("batch_id=3", "batch_id=-1"):
        (root / name / "_SUCCESS").write_text("")
    (root / "batch_id=9").write_text("a file, not a partition")
    (root / "notes.txt").write_text("")
    return str(root)


def _listed_batches(spark, table):
    """batch ids in the filesystem's own listing order."""
    from sunat_rree_demo_spark.sources.batch_store import _hadoop_fs

    fs, jroot = _hadoop_fs(spark, table)
    return [int(st.getPath().getName().split("=", 1)[1])
            for st in fs.listStatus(jroot)
            if st.isDirectory()
            and st.getPath().getName().startswith("batch_id=")]


def test_all_batch_dirs_lists_torn_and_skips_non_batches(spark, tmp_path):
    from sunat_rree_demo_spark.sources.batch_store import all_batch_dirs

    table = _store(tmp_path / "t")
    got = all_batch_dirs(spark, table)
    assert got == {b: f"{table}/batch_id={b}" for b in (3, 1, -1)}
    assert list(got) == _listed_batches(spark, table)
    assert all_batch_dirs(spark, str(tmp_path / "missing")) == {}


def test_committed_batch_dirs_drops_torn_in_listing_order(spark, tmp_path):
    from sunat_rree_demo_spark.sources.batch_store import (
        committed_batch_dirs,
        marker_committed,
    )

    table = _store(tmp_path / "t")
    got = committed_batch_dirs(spark, table, table)
    assert list(got) == [b for b in _listed_batches(spark, table)
                         if b != 1]
    assert got == {b: f"{table}/batch_id={b}" for b in (3, -1)}
    assert not marker_committed(spark, table, 1)
    # the marker may live on another table: a batch committed there is
    # visible here, torn or not on this side
    marker = tmp_path / "kept"
    os.makedirs(marker / "batch_id=1")
    (marker / "batch_id=1" / "_SUCCESS").write_text("")
    assert committed_batch_dirs(spark, table, str(marker)) \
        == {1: f"{table}/batch_id=1"}


def test_marker_committed_makes_at_most_four_round_trips(spark, tmp_path,
                                                         monkeypatch):
    """A replay check runs on every micro-batch: Path construction,
    ``getFileSystem`` and ``exists`` are its only JVM calls once the
    context's Path class and Hadoop configuration are held."""
    from py4j.clientserver import ClientServerConnection

    from sunat_rree_demo_spark.sources.batch_store import marker_committed

    table = _store(tmp_path / "t")
    assert marker_committed(spark, table, 3)  # warm the context's handles
    me, calls = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    verdicts, per_call = [], []
    try:
        for b in (3, 1, -1):
            calls[0] = 0
            verdicts.append(marker_committed(spark, table, b))
            per_call.append(calls[0])
    finally:
        monkeypatch.undo()
    assert verdicts == [True, False, True]
    assert max(per_call) <= 4, per_call


def test_hadoop_fs_holds_handles_per_context():
    """Each SparkContext resolves the Path class and the configuration
    once; a restarted context (a new object) fetches its own."""
    from types import SimpleNamespace as NS

    from sunat_rree_demo_spark.sources.batch_store import _hadoop_fs

    def context():
        conf, fetched = object(), []

        class Path:
            def __init__(self, path):
                self.path = path

            def getFileSystem(self, c):
                return c

        def hadoop_conf():
            fetched.append(conf)
            return conf

        jvm = NS(org=NS(apache=NS(hadoop=NS(fs=NS(Path=Path)))))
        sc = NS(_jvm=jvm, _jsc=NS(hadoopConfiguration=hadoop_conf))
        return NS(sparkContext=sc), conf, fetched

    old, old_conf, old_fetched = context()
    for path in ("/a", "/b"):
        fs, jpath = _hadoop_fs(old, path)
        assert (fs, jpath.path) == (old_conf, path)
    assert len(old_fetched) == 1
    new, new_conf, new_fetched = context()
    assert _hadoop_fs(new, "/a")[0] is new_conf
    assert len(new_fetched) == 1


def test_drain_times_out_and_stops_the_query(spark, tmp_path):
    from sunat_rree_demo_spark.sources.batch_store import drain

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    store = str(tmp_path / "store")

    def handle(batch_df, batch_id):
        time.sleep(4)  # outlives the 2 s timeout

    with pytest.raises(TimeoutError, match="slow stream did not drain"):
        drain(stream, handle, store, 2, "slow")
    assert spark.streams.active == []
    assert os.path.isdir(f"{store}/_stream_checkpoint")


class _Cond(AnalysisException):
    """An AnalysisException built without a JVM, with a chosen Spark 4
    ``getCondition``."""

    def __init__(self, msg, cond):
        super().__init__(message=msg)
        self._cond = cond

    def getCondition(self):
        return self._cond


class _ErrClassOnly(Exception):
    """A pre-4 AnalysisException stand-in: ``getErrorClass`` only."""

    def __init__(self, msg, cls):
        super().__init__(msg)
        self._cls = cls

    def getErrorClass(self):
        return self._cls


class _ReadFails:
    """A session stand-in over a real ``SparkContext`` (for the path
    check) whose every parquet read raises ``exc``."""

    def __init__(self, exc, sc):
        self.exc = exc
        self.sparkContext = sc
        self.read = self

    def schema(self, _schema):
        return self

    def parquet(self, _path):
        raise self.exc

    def createDataFrame(self, rows, schema):
        return ("empty", rows, schema)


@pytest.mark.parametrize("exc, classes, expected", [
    (_Cond("Path does not exist", "PATH_NOT_FOUND"),
     ("PATH_NOT_FOUND",), True),
    (_ErrClassOnly("cannot infer", "UNABLE_TO_INFER_SCHEMA"),
     ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"), True),
    (_Cond("[PATH_NOT_FOUND] Path does not exist: /x", None),
     ("PATH_NOT_FOUND",), True),
    (_Cond("Table or view not found", "TABLE_OR_VIEW_NOT_FOUND"),
     ("PATH_NOT_FOUND",), False),
], ids=["getCondition", "getErrorClass-only", "message-only", "other"])
def test_analysis_error_is(exc, classes, expected):
    """The error class decides first, from whichever accessor exists;
    the message decides when the class is missing; any other class is
    not a match."""
    from sunat_rree_demo_spark.sources.batch_store import analysis_error_is

    assert analysis_error_is(exc, *classes) is expected


def test_read_or_empty_missing_path_skips_read(spark, tmp_path):
    """A missing index reads as empty without calling ``spark.read``,
    whose miss would log a stack trace."""
    from sunat_rree_demo_spark.operators import dedup_index

    never = _ReadFails(AssertionError("spark.read called"),
                       spark.sparkContext)
    assert dedup_index._read_or_empty(
        never, str(tmp_path / "missing"), "s") == ("empty", [], "s")


def test_read_or_empty_reraises_other_analysis_errors(spark, tmp_path):
    """An existing index whose read fails, such as a corrupt one,
    propagates the error."""
    from sunat_rree_demo_spark.operators import dedup_index

    other = _Cond("corrupt footer", "FAILED_READ_FILE")
    with pytest.raises(_Cond, match="corrupt footer"):
        dedup_index._read_or_empty(
            _ReadFails(other, spark.sparkContext), str(tmp_path), "s")
