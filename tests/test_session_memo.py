"""The session memo store (``sources/catalog.py``), without a JVM: fake
sessions carry only ``sparkContext.applicationId``."""

from __future__ import annotations

import logging
from pathlib import Path
from types import SimpleNamespace

import pytest

from sunat_rree_demo_spark.sources import catalog

PKG = Path(catalog.__file__).resolve().parents[1]


def fake_session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


class Frame:
    """Stands in for a DataFrame: just the persist/unpersist flag."""

    def __init__(self):
        self.is_cached = False

    def persist(self):
        self.is_cached = True
        return self

    def unpersist(self):
        self.is_cached = False
        return self


@pytest.fixture
def store(monkeypatch):
    """An empty store for the test; the live one is put back after."""
    saved = {n: dict(m) for n, m in catalog._STORE.items()}
    for memo in catalog._STORE.values():
        memo.clear()
    monkeypatch.setattr(catalog, "_live_app", None)
    yield catalog._STORE
    for name in list(catalog._STORE):
        catalog._STORE[name].clear()
        catalog._STORE[name].update(saved.get(name, {}))
        if name not in saved:
            del catalog._STORE[name]


def _entries() -> int:
    return sum(len(m) for m in catalog._SESSION_CACHES)


def test_two_names_with_one_key_are_two_entries(store):
    s = fake_session("local-1")
    arr = catalog.session_memo(s, "shmemo", ("sf", 5), lambda: "arr",
                               tier="built")
    inter = catalog.session_memo(s, "immemo", ("sf", 5), lambda: "inter",
                                 tier="built")
    assert (arr, inter) == ("arr", "inter")
    assert _entries() == 2


def test_hit_skips_build_and_new_app_drops_old_entries(store):
    builds = []

    def build():
        builds.append(len(builds) + 1)
        return builds[-1]

    old, new = fake_session("local-1"), fake_session("local-2")
    assert catalog.session_memo(old, "m", ("k",), build, tier="built") == 1
    assert catalog.session_memo(old, "m", ("k",), build, tier="built") == 1
    assert catalog.session_memo(old, "n", ("k",), build, tier="built") == 2
    assert _entries() == 2
    assert catalog.session_memo(new, "m", ("k",), build, tier="built") == 3
    assert catalog.memo_table("m") == {("local-2", "k"): 3}
    assert catalog.memo_table("n") == {}


def test_session_without_spark_context_keys_on_its_id(store):
    connect = SimpleNamespace()
    assert catalog.app_id(connect) == str(id(connect))
    catalog.session_memo(connect, "m", ("k",), lambda: "v", tier="built")
    assert (str(id(connect)), "k") in catalog.memo_table("m")


def test_tiers_persist_and_clear_unpersists(store):
    s = fake_session("local-1")
    hot = catalog.session_memo(s, "hot_table", ("sf", "nation"), Frame)
    assert hot.is_cached
    cent, assign = catalog.session_memo(
        s, "kmeans", ("sf",), lambda: ("centroids", Frame().persist()),
        tier="built")
    assert assign.is_cached
    with pytest.raises(ValueError):
        catalog.session_memo(s, "m", ("k",), Frame, tier="disk")
    catalog.clear_caches()
    assert not hot.is_cached and not assign.is_cached
    assert _entries() == 0


def test_plan_memo_answers_app_sf_name_membership(store, monkeypatch):
    from sunat_rree_demo_spark.queries import base

    monkeypatch.setattr(base, "REGISTRY", {})
    builds = []

    @base.register("q_probe")
    def q_probe(spark, sf_dir):
        builds.append(sf_dir)
        return object()

    fn = base.REGISTRY["q_probe"].fn
    s = fake_session("local-7")
    assert base._app_id(s) == "local-7"
    assert ("local-7", "sf", "q_probe") not in base._PLAN_CACHE
    df = fn(s, "sf")
    assert ("local-7", "sf", "q_probe") in base._PLAN_CACHE
    assert fn(s, "sf") is df and builds == ["sf"]


def test_janitor_failure_is_logged_and_memo_returned(store, monkeypatch,
                                                     caplog, tmp_path):
    from sunat_rree_demo_spark.sources import sinks

    def janitor(spark, prefix):
        raise RuntimeError("janitor down")

    monkeypatch.setattr(sinks, "drop_stale_app_tables", janitor)
    written = []

    class Built:
        write = property(lambda self: self)

        def mode(self, mode):
            return self

        def parquet(self, path):
            written.append(path)

    app = "local-1700000000000"
    s = fake_session(app)
    s.conf = SimpleNamespace(get=lambda key: str(tmp_path))
    s.read = SimpleNamespace(parquet=lambda path: ("scan", path))
    with caplog.at_level(logging.WARNING, logger=catalog.__name__):
        out = catalog.session_memo(s, "shmemo", ("sf0.1", 5), Built,
                                   tier="parquet")
    path = f"{tmp_path}/{catalog._memo_dir_name('shmemo', ('sf0.1', 5), app)}"
    assert written == [path] and out == ("scan", path)
    assert catalog.memo_table("shmemo") == {(app, "sf0.1", 5): out}
    [record] = caplog.records
    assert record.levelno == logging.WARNING
    assert str(record.exc_info[1]) == "janitor down"


def test_application_id_is_read_only_in_catalog():
    hits = {str(p.relative_to(PKG)): p.read_text().count("applicationId")
            for p in PKG.rglob("*.py") if "applicationId" in p.read_text()}
    assert hits == {"sources/catalog.py": 1}
