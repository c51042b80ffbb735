"""The Python daemon entry (sunat_rree_demo_spark/pydaemon.py): its
cache invalidation keeps unchanged zip directories and invalidates
everything else, and ``get_spark`` sessions run their Python workers
under it, from any directory."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from sunat_rree_demo_spark.pydaemon import invalidate_caches

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:10]}"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_new_file_in_cached_directory_becomes_importable(tmp_path,
                                                         monkeypatch):
    d = tmp_path / "mods"
    d.mkdir()
    first, second = _name("pd_first"), _name("pd_second")
    (d / f"{first}.py").write_text("X = 1\n")
    monkeypatch.syspath_prepend(str(d))
    assert importlib.import_module(first).X == 1
    invalidate_caches()  # a previous task's call ...
    assert importlib.util.find_spec(_name("pd_absent")) is None  # ... and
    # its imports, which re-list the directory
    st = os.stat(d)
    (d / f"{second}.py").write_text("X = 2\n")
    # hide the new file from the directory finder's mtime check, so
    # only an invalidation can make it visible
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert importlib.util.find_spec(second) is None
    invalidate_caches()
    assert importlib.import_module(second).X == 2


def test_unchanged_zip_keeps_its_directory_cache(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    mod = _name("pd_zipped")
    _write_zip(archive, {mod: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod).X == 1
    invalidate_caches()  # first sight of the archive: read and stamped
    files = zipimport._zip_directory_cache[archive]
    invalidate_caches()
    invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files
    assert isinstance(sys.path_importer_cache[archive],
                      zipimport.zipimporter)


def test_zip_rewritten_in_place_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    old, new = _name("pd_old"), _name("pd_new")
    _write_zip(archive, {old: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(old).X == 1
    invalidate_caches()
    files = zipimport._zip_directory_cache[archive]
    _write_zip(archive, {old: "X = 1\n", new: "X = 2\n"})
    invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    assert importlib.import_module(new).X == 2


def test_add_py_file_module_imports_in_a_worker(spark, tmp_path):
    def ids(batches):
        for pdf in batches:
            yield pdf

    # workers that already ran tasks, so their path caches are warm
    spark.range(0, 8, 1, 4).mapInPandas(ids, "id long").collect()
    name = _name("pd_shipped")
    src = tmp_path / f"{name}.py"
    src.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(src))

    def shipped(batches):
        value = importlib.import_module(name).VALUE
        for pdf in batches:
            yield pd.DataFrame({"v": [value] * len(pdf)})

    rows = spark.range(0, 8, 1, 4).mapInPandas(shipped, "v long").collect()
    assert [r.v for r in rows] == [42] * 8


def test_workers_run_under_the_engine_daemon(spark):
    def where(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "inv": [importlib.invalidate_caches.__module__] * len(pdf),
                "argv0": [os.path.basename(sys.argv[0])] * len(pdf)})

    rows = (spark.range(0, 4, 1, 2)
            .mapInPandas(where, "inv string, argv0 string").collect())
    assert {(r.inv, r.argv0) for r in rows} == {
        ("sunat_rree_demo_spark.pydaemon", "pydaemon.py")}


_DRIVER = """\
import sys
sys.path.insert(0, {root!r})
from sunat_rree_demo_spark.operators.dedup import minhash_signatures
from sunat_rree_demo_spark.session import get_spark
spark = get_spark("pydaemon-elsewhere", cpus=2, shuffle_partitions=2)
docs = spark.createDataFrame(
    [(1, "the quick brown fox jumps"), (2, "over the lazy dog again")],
    "doc_id long, text string")
print("SIGS", minhash_signatures(docs, "doc_id", "text").count())
spark.stop()
"""


def test_session_started_elsewhere_without_pythonpath(tmp_path):
    """The daemon module must import from a cwd outside the repo with
    no PYTHONPATH: ``get_spark`` puts the package on the workers' path
    itself (only the driver script adds it to its own)."""
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER.format(root=_ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SIGS 2" in proc.stdout.splitlines()
