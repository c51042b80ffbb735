"""The shared batch-store contract (sources/batch_store.py): which
directories the two walks return, and how ``drain`` gives up."""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pytest
from pyspark.errors import AnalysisException

from tests.conftest import SF_SMOKE


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


# --- the one writer --------------------------------------------------------


def test_write_batch_retries_with_the_same_writer(spark, tmp_path):
    """A transient failure re-runs the SAME DataFrameWriter, which keeps
    its partitioning and runs the write again, and the batch commits."""
    import shutil

    from sunat_rree_demo_spark.sources.batch_store import (
        marker_committed,
        write_batch,
    )

    class BlipOnce:
        """The real writer, whose first write lands and is then lost to
        an injected storage blip."""

        def __init__(self, writer, part):
            self.writer, self.part, self.calls = writer, part, 0

        def mode(self, mode):
            self.writer.mode(mode)
            return self

        def parquet(self, path):
            self.calls += 1
            self.writer.parquet(path)
            if self.calls == 1:
                shutil.rmtree(self.part)
                raise OSError("java.io.IOException: Input/output error")

    df = spark.range(6).selectExpr("id", "id % 2 AS cell")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    flaky = BlipOnce(df.write.partitionBy("cell"), f"{b}/batch_id=4")
    write_batch(spark, 4, [(a, df.write), (b, flaky)])
    assert flaky.calls == 2
    assert {"_SUCCESS", "cell=0", "cell=1"} \
        <= set(os.listdir(f"{b}/batch_id=4"))
    assert marker_committed(spark, b, 4)
    assert spark.read.parquet(b).count() == 6


def test_rewrite_parts_recommits_only_a_batch_it_set_aside(spark,
                                                           tmp_path):
    """``rewrite_parts`` renames a committed batch's ``_SUCCESS`` to
    ``_REWRITING`` for the rewrite and back after; ``pending_rewrites``
    finds a batch a crash left renamed, and a rewrite with no parts
    recommits it; a torn batch (neither file) has its parts rewritten
    and stays uncommitted."""
    from sunat_rree_demo_spark.sources.batch_store import (
        committed_batch_dirs,
        pending_rewrites,
        rewrite_parts,
        write_batch,
    )

    t = str(tmp_path / "t")
    df = spark.range(6).selectExpr("id", "id % 2 AS cell")
    for bid in (0, 1):
        write_batch(spark, bid, [(t, df.write.partitionBy("cell"))])
    b0, b1 = f"{t}/batch_id=0", f"{t}/batch_id=1"
    os.remove(f"{b1}/_SUCCESS")

    for bdir in (b0, b1):
        rewrite_parts(spark, bdir, [(f"{bdir}/cell=0", spark.range(2))])
        assert spark.read.parquet(f"{bdir}/cell=0").count() == 2
    assert list(committed_batch_dirs(spark, t, t)) == [0]
    assert pending_rewrites(spark, t) == {}

    os.rename(f"{b0}/_SUCCESS", f"{b0}/_REWRITING")
    assert pending_rewrites(spark, t) == {0: b0}
    rewrite_parts(spark, b0, [])
    assert list(committed_batch_dirs(spark, t, t)) == [0]
    assert pending_rewrites(spark, t) == {}


def _docs(spark, lo, hi, reship=()):
    """Documents ``lo <= doc_id < hi`` of the smoke warehouse, plus the
    texts of ``reship`` under new ids (cross-batch duplicates)."""
    from sunat_rree_demo_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    batch = docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
    if reship:
        batch = batch.unionByName(
            docs.filter(f"doc_id IN ({','.join(map(str, reship))})")
            .selectExpr("doc_id + 100000 AS doc_id", "text"))
    return batch


def _media(spark, rows):
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_gif_gray,
        encode_jpeg_gray_blocks,
        encode_png_gray,
    )

    rng = np.random.RandomState(5)
    texts = [bytes(rng.randint(32, 127, 72, dtype=np.uint8).astype(np.uint8))
             for _ in range(6)]
    enc = (encode_png_gray, encode_jpeg_gray_blocks, encode_gif_gray)
    return spark.createDataFrame(
        [(i, bytearray(b"\x00junk" if t is None else enc[f](texts[t], 9)))
         for i, t, f in rows], "media_id long, content binary")


def _emb(spark, lo, hi):
    from sunat_rree_demo_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "embeddings") \
        .filter(f"vec_id >= {lo} AND vec_id < {hi}")


def _rows(*frames):
    return [sorted(repr(tuple(r)) for r in f.collect()) for f in frames]


def _store_cases():
    """name -> (module whose replay check the forced rewrite bypasses,
    marker table, setup, the two batches, handler, committed reader)
    for every per-batch store writer."""
    from sunat_rree_demo_spark.operators import ann_index, dedup_index
    from sunat_rree_demo_spark.sources.batch_store import read_committed
    from sunat_rree_demo_spark.streaming import (
        bloom_stream,
        cluster_stream,
        cms_stream,
        enrich_stream,
        media_stream,
        novelty_stream,
        sketch_stream,
    )

    cent = np.array([[0, 0], [1_000_000, 1_000_000]], dtype=np.int64)

    def points(spark, rows):
        return spark.createDataFrame(rows, "pid long, p long")

    def vecs(spark, rows):
        return spark.createDataFrame(rows,
                                     "vec_id long, embedding array<float>")

    def cents(spark, rows):
        return spark.createDataFrame([(c,) for c in rows],
                                     "price_cents long")

    def intervals(spark, store):
        enrich_stream.write_interval_store(spark.createDataFrame(
            [(7, 0, 100), (8, 90, 300)], "iid long, lo long, hi long"),
            store)

    def ivf(spark, store):
        ann_index.write_ivf_index(_emb(spark, 0, 100), store, k=4, iters=1)

    def index_rows(spark, store):
        return _rows(*[read_committed(
            spark, f"{store}/{t}", f"{store}/bands", "doc_id long")
            for t in ("sigs", "bands")])

    docs = (lambda s: _docs(s, 0, 40),
            lambda s: _docs(s, 40, 80, reship=(1, 2, 3)))
    return {
        "bloom": (bloom_stream, "kept", None, docs,
                  bloom_stream.process_bloom_batch,
                  lambda s, st: _rows(bloom_stream.load_kept(s, st),
                                      bloom_stream.load_gate_stats(s, st),
                                      bloom_stream.current_bloom(s, st))),
        "media": (media_stream, "kept", None,
                  (lambda s: _media(s, [(1, 0, 0), (2, 1, 0), (3, 2, 0)]),
                   lambda s: _media(s, [(4, 0, 2), (5, 3, 1), (6, None, 0)])),
                  media_stream.process_media_batch,
                  lambda s, st: _rows(media_stream.load_kept(s, st),
                                      media_stream.load_gate_stats(s, st))),
        "novelty": (novelty_stream, "keys", None, docs,
                    novelty_stream.process_novelty_batch,
                    lambda s, st: _rows(
                        novelty_stream.load_novelty_stats(s, st),
                        novelty_stream.seen_keys(s, st))),
        "cms": (cms_stream, "", None, docs,
                cms_stream.absorb_tokens_batch,
                lambda s, st: _rows(cms_stream.load_cms(s, st))),
        "sketch": (sketch_stream, "hist", None,
                   (lambda s: cents(s, [100, 250, 999]),
                    lambda s: cents(s, [100, 50_000])),
                   lambda s, df, bid, st: sketch_stream.process_sketch_batch(
                       s, df, bid, st, width=100),
                   lambda s, st: _rows(sketch_stream.merged_sketch(s, st))),
        "cluster": (cluster_stream, "assign", None,
                    (lambda s: vecs(s, [(1, [0.1, 0.0]), (2, [0.9, 1.1])]),
                     lambda s: vecs(s, [(3, [0.0, 0.2]), (4, [1.0, 0.9])])),
                    lambda s, df, bid, st: cluster_stream.process_assign_batch(
                        s, df, bid, st, cent),
                    lambda s, st: _rows(
                        cluster_stream.load_assignments(s, st))),
        "enrich": (enrich_stream, "out", intervals,
                   (lambda s: points(s, [(1, 50), (2, 500)]),
                    lambda s: points(s, [(3, 99), (4, 250)])),
                   lambda s, df, bid, st: enrich_stream.process_enrich_batch(
                       s, df, bid, st, "p", "lo", "hi", 64),
                   lambda s, st: _rows(enrich_stream.load_enriched(s, st))),
        "ivf": (ann_index, "vectors", ivf,
                (lambda s: _emb(s, 100, 150),
                 lambda s: _emb(s, 150, 200).unionByName(_emb(s, 0, 10))),
                lambda s, df, bid, st: ann_index.absorb_ivf_batch(
                    s, df, st, bid),
                lambda s, st: _rows(
                    s.read.option("basePath", f"{st}/vectors")
                    .parquet(*ann_index.committed_vector_dirs(s, st)))),
        "dedup_index": (None, "bands", None, docs,
                        lambda s, df, bid, st: dedup_index.absorb_batch(
                            df, st, bid),
                        index_rows),
    }


#: (store, k) for every write step k of the store's per-batch writer
_CRASH_POINTS = [(name, k) for name, n in (
    ("bloom", 4), ("media", 3), ("novelty", 2), ("cms", 1), ("sketch", 1),
    ("cluster", 1), ("enrich", 1), ("ivf", 1), ("dedup_index", 2))
    for k in range(n)]


@pytest.fixture(scope="module")
def committed_stores(spark, tmp_path_factory):
    """Per store, built once: a store holding committed batches 0 and
    1, and its committed reader's view after batch 0 and after batch 1
    (an uninterrupted run)."""
    built = {}

    def get(name):
        if name not in built:
            _mod, _mark, setup, batches, handle, read = _store_cases()[name]
            store = str(tmp_path_factory.mktemp(f"crash_{name}") / "store")
            if setup is not None:
                setup(spark, store)
            handle(spark, batches[0](spark), 0, store)
            before = read(spark, store)
            handle(spark, batches[1](spark), 1, store)
            built[name] = (store, before, read(spark, store))
        return built[name]

    return get


@pytest.mark.parametrize("name, k", _CRASH_POINTS,
                         ids=[f"{n}-before-write-{k + 1}"
                              for n, k in _CRASH_POINTS])
def test_crash_at_every_store_write_step(spark, tmp_path, monkeypatch,
                                         committed_stores, name, k):
    """A re-write of committed batch 1 crashes before its write k+1
    (``write_batch`` runs every store's writes): the batch then reads
    uncommitted, the committed reader shows the store as it was before
    batch 1, and a replay of the handler restores the uninterrupted
    result. The re-write is forced past the handler's replay check, as
    a forget pass or a raced replay would reach it."""
    import shutil

    from sunat_rree_demo_spark.sources import batch_store

    mod, mark, _setup, batches, handle, read = _store_cases()[name]
    template, before, clean = committed_stores(name)
    store = str(tmp_path / "store")
    shutil.copytree(template, store)

    writes, crash = [], True
    real_write = batch_store.retry_transient_write

    def counted_write(write_fn, cleanup=None):
        if len(writes) == k and crash:
            raise OSError(f"injected crash before write {k + 1}")
        writes.append(write_fn)
        real_write(write_fn, cleanup)

    monkeypatch.setattr(batch_store, "retry_transient_write", counted_write)
    with monkeypatch.context() as m:
        if mod is not None:
            m.setattr(mod, "marker_committed", lambda *_a: False)
        with pytest.raises(OSError, match="injected crash"):
            handle(spark, batches[1](spark), 1, store)
    assert len(writes) == k
    marker = f"{store}/{mark}".rstrip("/")
    assert not batch_store.marker_committed(spark, marker, 1)
    assert read(spark, store) == before

    # the replay runs every write step; the last one commits
    writes.clear()
    crash = False
    handle(spark, batches[1](spark), 1, store)
    assert len(writes) == sum(n == name for n, _k in _CRASH_POINTS)
    assert batch_store.marker_committed(spark, marker, 1)
    assert read(spark, store) == clean


def _lifecycle_cases():
    """name -> (kind, setup, operation, tables, marker table) for every
    build, compaction and forget pass. A "swap" (build or compaction)
    must leave readers at the state before it until it commits; a
    "forget" rewrites batch by batch, so each batch a reader sees is
    either as before or as after it."""
    from sunat_rree_demo_spark.operators import ann_index, dedup_index
    from sunat_rree_demo_spark.streaming import bloom_stream, sketch_stream

    def index(spark, store):
        dedup_index.write_minhash_index(_docs(spark, 0, 40), store)
        dedup_index.absorb_batch(_docs(spark, 40, 80, reship=(1, 2, 3)),
                                 store, 0)

    def ivf(spark, store):
        ann_index.write_ivf_index(_emb(spark, 0, 100), store, k=4, iters=1)
        ann_index.absorb_ivf_batch(
            spark, _emb(spark, 100, 150).unionByName(_emb(spark, 0, 10)),
            store, 0)

    def bloom(spark, store):
        bloom_stream.process_bloom_batch(spark, _docs(spark, 0, 40), 0, store)
        bloom_stream.process_bloom_batch(
            spark, _docs(spark, 40, 80, reship=(1, 2, 3)), 1, store)

    def bloom_compacted(spark, store):
        bloom(spark, store)
        bloom_stream.compact_bloom_store(spark, store)
        bloom_stream.process_bloom_batch(spark, _docs(spark, 80, 120), 2,
                                         store)

    def sketch(spark, store):
        for bid, cents in enumerate(([100, 250, 999], [100, 50_000])):
            sketch_stream.process_sketch_batch(
                spark, spark.createDataFrame([(c,) for c in cents],
                                             "price_cents long"),
                bid, store, width=100)

    index_tables = (("sigs", "bands"), "bands")
    ivf_tables = (("centroids", "vectors"), "vectors")
    bloom_tables = (("stats", "digests", "bloom", "kept"), "kept")
    return {
        "minhash-build": ("swap", index,
                          lambda s, st: dedup_index.write_minhash_index(
                              _docs(s, 80, 120), st), *index_tables),
        "minhash-compact": ("swap", index,
                            dedup_index.compact_minhash_index,
                            *index_tables),
        "ivf-build": ("swap", ivf,
                      lambda s, st: ann_index.write_ivf_index(
                          _emb(s, 200, 260), st, k=4, iters=1),
                      *ivf_tables),
        "ivf-compact": ("swap", ivf, ann_index.compact_ivf_index,
                        *ivf_tables),
        "bloom-compact": ("swap", bloom, bloom_stream.compact_bloom_store,
                          *bloom_tables),
        "sketch-compact": ("swap", sketch, sketch_stream.compact_sketch,
                           ("hist",), "hist"),
        "forget-ids": ("forget", index,
                       lambda s, st: dedup_index.forget_ids(s, st, [5, 45]),
                       *index_tables),
        "forget-vectors": ("forget", ivf,
                           lambda s, st: ann_index.forget_vectors(
                               s, st, [20, 21, 120]), *ivf_tables),
        "forget-docs": ("forget", bloom_compacted,
                        lambda s, st: bloom_stream.forget_docs(
                            s, st, [5, 85]), *bloom_tables),
    }


def _committed_view(spark, store, tables, marker):
    """What committed readers see, batch by batch: sorted (batch, table,
    rows), every negative id keyed "G" — a generation's id depends on
    the torn leftovers a crash left, its rows do not."""
    from sunat_rree_demo_spark.sources.batch_store import (
        committed_batch_dirs,
    )

    return sorted(
        ("G" if bid < 0 else str(bid), t,
         tuple(_rows(spark.read.parquet(d))[0]))
        for t in tables
        for bid, d in committed_batch_dirs(
            spark, f"{store}/{t}", f"{store}/{marker}").items())


#: case -> its count of write steps in an uninterrupted run
_LIFECYCLE_WRITES = {
    "minhash-build": 2, "minhash-compact": 2, "ivf-build": 2,
    "ivf-compact": 2, "bloom-compact": 3, "sketch-compact": 1,
    "forget-ids": 4, "forget-vectors": 3, "forget-docs": 4}

#: (case, k): a crash before write k+1 of every lifecycle pass and,
#: for a forget pass, k = n: after its last write, before it returns
_LIFECYCLE_POINTS = [
    (name, k) for name, n in _LIFECYCLE_WRITES.items()
    for k in range(n + name.startswith("forget"))]


@pytest.fixture(scope="module")
def lifecycle_stores(spark, tmp_path_factory):
    """Per case, built once: the store before the pass, the committed
    view before it and after an uninterrupted run of it (which makes
    the case's count of write steps in ``_LIFECYCLE_POINTS``)."""
    import shutil

    from sunat_rree_demo_spark.sources import batch_store

    built = {}

    def get(name):
        if name not in built:
            _kind, setup, op, tables, marker = _lifecycle_cases()[name]
            root = tmp_path_factory.mktemp(f"life_{name}")
            store = str(root / "store")
            setup(spark, store)
            before = _committed_view(spark, store, tables, marker)
            clean = str(root / "clean")
            shutil.copytree(store, clean)
            writes, real = [], batch_store.retry_transient_write

            def counted(write_fn, cleanup=None):
                writes.append(write_fn)
                real(write_fn, cleanup)

            batch_store.retry_transient_write = counted
            try:
                op(spark, clean)
            finally:
                batch_store.retry_transient_write = real
            assert len(writes) == _LIFECYCLE_WRITES[name], name
            built[name] = (store, before,
                           _committed_view(spark, clean, tables, marker))
        return built[name]

    return get


@pytest.mark.parametrize("name, k", _LIFECYCLE_POINTS,
                         ids=[f"{n}-before-write-{k + 1}"
                              if k < _LIFECYCLE_WRITES[n]
                              else f"{n}-after-the-last-write"
                              for n, k in _LIFECYCLE_POINTS])
def test_crash_at_every_lifecycle_write_step(spark, tmp_path, monkeypatch,
                                             lifecycle_stores, name, k):
    """A build, compaction or forget pass crashes before its write k+1
    (a forget pass also after its last write, before it recommits the
    last batch). Committed readers then see the store as before a
    build or a compaction, and never a torn batch of a forget pass
    (each batch they see reads as before it or as after it). A re-run
    reaches the uninterrupted result and leaves no torn batch
    behind."""
    import shutil

    from sunat_rree_demo_spark.sources import batch_store

    kind, _setup, op, tables, marker = _lifecycle_cases()[name]
    template, before, clean = lifecycle_stores(name)
    store = str(tmp_path / "store")
    shutil.copytree(template, store)

    writes, real = [], batch_store.retry_transient_write

    def crash_at_k(write_fn, cleanup=None):
        if len(writes) == k:
            raise OSError(f"injected crash before write {k + 1}")
        writes.append(write_fn)
        real(write_fn, cleanup)
        if len(writes) == k == _LIFECYCLE_WRITES[name]:
            raise OSError("injected crash after the last write")

    with monkeypatch.context() as m:
        m.setattr(batch_store, "retry_transient_write", crash_at_k)
        with pytest.raises(OSError, match="injected crash"):
            op(spark, store)
    seen = _committed_view(spark, store, tables, marker)
    if kind == "swap":
        assert seen == before
    else:
        assert all(b in before or b in clean for b in seen), seen

    op(spark, store)
    assert _committed_view(spark, store, tables, marker) == clean
    for t in tables:
        assert batch_store.all_batch_dirs(spark, f"{store}/{t}") \
            == batch_store.committed_batch_dirs(spark, f"{store}/{t}",
                                                f"{store}/{marker}")


def test_store_format_lives_in_batch_store():
    """The layout rule, checked over the package source: outside
    ``sources/batch_store.py`` no module resolves the Hadoop ``Path``
    class, defines a transient-retry helper, or clears, lays or
    deletes batch-store files itself (``clear_commit_marker``,
    ``touch_marker``, ``delete_dirs``): builds, compactions and forget
    passes go through ``swap_generation``, ``write_batch`` and
    ``rewrite_parts``."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "sunat_rree_demo_spark"
    store_calls = {"clear_commit_marker", "touch_marker", "delete_dirs"}
    offenders = []

    class Scan(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel = rel

        def flag(self, node, what):
            offenders.append(f"{self.rel}:{node.lineno} {what}")

        def visit_FunctionDef(self, node):
            if re.search(r"retry|transient", node.name):
                self.flag(node, f"defines {node.name}")
            self.generic_visit(node)

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Attribute(self, node):
            if ast.unparse(node).endswith("hadoop.fs.Path"):
                self.flag(node, "resolves org.apache.hadoop.fs.Path")
            self.generic_visit(node)

        def visit_Constant(self, node):
            if isinstance(node.value, str) \
                    and "org.apache.hadoop.fs.Path" in node.value:
                self.flag(node, "names org.apache.hadoop.fs.Path")

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            if name in store_calls:
                self.flag(node, f"calls {name}")
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel != "sources/batch_store.py":
            Scan(rel).visit(ast.parse(path.read_text(), rel))
    assert offenders == []
