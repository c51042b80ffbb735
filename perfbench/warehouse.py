"""Deterministic synthetic warehouse for the benchmark.

Writes the ten tables the engine's queries read (TESTDATA.md schema:
TPC-H-ish star + ``events``, ``documents``, ``embeddings``) as one
snappy parquet file each, one row group per file, with the same column
types and value domains as the reference test warehouse. Row counts
scale with ``sf`` (sf0.1 -> 600k lineitem rows).

The tables depend only on ``sf`` and the fixed ``DATA_SEED``, never on
the benchmark's ``--seed``: the expected result digests in
``expected.json`` are pinned against these exact bytes. The workload
seed picks call order, samples and request mixes instead.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
#: Bumped whenever a generated value changes; a cached warehouse with
#: another version is rebuilt.
VERSION = 1

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "fr", "es", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array((base + offsets_us.astype("timedelta64[us]"))
                    .astype("datetime64[us]"), type=pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # near-duplicates: 5% of docs copy another doc plus one "dup" token,
    # a handful copy one verbatim — the shapes the dedup family finds
    n_near = n // 20
    picks = rng.choice(n, size=2 * n_near + 8, replace=False)
    for dst, src in zip(picks[:n_near], picks[n_near:2 * n_near]):
        texts[dst] = texts[src] + " dup"
    for dst, src in zip(picks[2 * n_near:2 * n_near + 4],
                        picks[2 * n_near + 4:]):
        texts[dst] = texts[src]
    langs = rng.choice(len(_LANGS), size=n, p=_LANG_P)
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in langs]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    vecs = centers[label] + rng.normal(scale=0.12, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def tables(sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf`` (pure function of ``sf``)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    n_users = max(10, n_cust // 10)

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": _keys(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(
                rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": _keys(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(
                rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
    }
    adj = "small large red blue hot cold green shiny".split()
    noun = "ring widget bolt gear nut pipe valve spring".split()
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": _keys(n_part),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995,
                           rng.integers(0, 2406, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_EPOCH_1995,
                          (1 + rng.integers(0, 2500, n_line)) * _DAY_US),
    })
    ev_off = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": _keys(n_ev),
        "ts": _ts(_EPOCH_2024, ev_off),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the sf warehouse under ``root``,
    generating it first if it is missing or from another VERSION."""
    path = os.path.join(root, f"sf{sf}")
    stamp = os.path.join(path, "_WAREHOUSE.json")
    want = {"version": VERSION, "sf": sf, "data_seed": DATA_SEED}
    try:
        with open(stamp) as fh:
            if json.load(fh) == want:
                return path
    except (OSError, ValueError):
        pass
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)
    with open(os.path.join(tmp, "_WAREHOUSE.json"), "w") as fh:
        json.dump(want, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
