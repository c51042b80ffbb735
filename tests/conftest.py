from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

# the checkout under test, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLE_NAMES = ("region nation customer supplier part orders lineitem events "
               "documents embeddings").split()


@pytest.fixture(scope="session")
def spark():
    from sunat_rree_demo_spark.session import get_spark

    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()
