"""The media round-trip harness's device rows (queries/media.py):
``_ascii_docs`` on Spark must return exactly the rows of its DuckDB
twin ``_ascii_sql`` — the row-drop and cut boundaries that no fixed
warehouse hits, over hostile text."""

from __future__ import annotations

import duckdb
import pytest

#: (doc_id, text): null, empty, non-ASCII-only, mojibake, control
#: characters and astral-plane code points, then printable runs of
#: width−1 / width / width+1 for every tested width (bare and padded
#: with characters the prelude strips), and one doc far over any cap
_ROWS = [
    (1, None),
    (2, ""),
    (3, "日本語のテキスト"),
    (4, "CafÃ© Ã¼ber naÃ¯ve"),
    (5, "\t\n\r\x7f\x00"),
    (6, "😀a😀b😀"),
    (7, " ~" * 60 + "\x7f"),
]
for _w in (1, 16, 21):
    for _n in (_w - 1, _w, _w + 1):
        _ROWS.append((1000 + 10 * _w + (_n - _w + 1), "x" * _n))
        _ROWS.append((2000 + 10 * _w + (_n - _w + 1),
                      "é" + "ab" * (_n // 2) + "c" * (_n % 2) + "ñ😀"))

#: (width, min_len, cap) — each tested width bare and with a cap
_CASES = [(1, None, None), (16, None, None), (21, None, None),
          (1, 8, 8), (16, None, 32), (21, 42, 63)]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("hostile_docs")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _ROWS)
    con.execute(f"COPY documents TO '{root}/documents.parquet' "
                "(FORMAT PARQUET)")
    con.close()
    return str(root)


@pytest.mark.parametrize("width, min_len, cap", _CASES)
def test_ascii_docs_match_ascii_sql(spark, hostile_dir, width, min_len,
                                    cap):
    from sunat_rree_demo_spark.queries.media import _ascii_docs, _ascii_sql

    got = {(r.media_id, r.s) for r in
           _ascii_docs(spark, hostile_dir, width, min_len, cap).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{hostile_dir}/documents.parquet'")
    want = set(con.execute(
        f"WITH {_ascii_sql(width, min_len, cap)} "
        "SELECT doc_id, s FROM c").fetchall())
    con.close()
    assert got == want
    # the boundaries are hit, not vacuous: bare, a doc of width−1
    # printable chars drops while its width-char twin survives; capped,
    # the over-cap doc is cut to whole rows within the cap
    kept = dict(want)
    if cap is None:
        assert 1000 + 10 * width not in kept
        assert kept[1000 + 10 * width + 1] == "x" * width
    else:
        assert kept[7] == (" ~" * 60)[:cap // width * width]
    assert all(len(s) % width == 0 for s in kept.values())
