"""Regenerate perfbench/expected.json from the DuckDB oracle.

    python3 perfbench/make_expected.py

For every query the benchmark calls (OLAP_QUERIES and EAGER_QUERIES in
worker.py) it runs the query's oracle SQL in DuckDB over the benchmark
warehouse and stores the digest of the Arrow result. The stream pins
come from the same oracle: the drain must emit exactly the batch-global
MinHash LSH pairs (q41, same K/bands/threshold as the stream) and
absorb one signature row and LSH_BANDS band rows per document.

Run it when the warehouse generator, a query's defined result or the
benchmark's query sets change; the benchmark compares every run
against this file.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import duckdb

    import warehouse
    from digest import digest
    from run import SF
    from sunat_rree_demo_spark.operators.dedup import LSH_BANDS
    from sunat_rree_demo_spark.queries import REGISTRY
    from worker import EAGER_QUERIES, OLAP_QUERIES

    wh = warehouse.ensure(os.path.join(HERE, ".cache", "warehouse"), SF)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{wh}/{t}.parquet'")

    digests = {}
    for name in sorted(OLAP_QUERIES + EAGER_QUERIES):
        sql = REGISTRY[name].oracle
        if sql is None:
            print(f"{name} has no oracle", file=sys.stderr)
            return 1
        digests[name] = digest(con.sql(sql).arrow())
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    q41 = REGISTRY["q41_minhash_lsh_pairs"].oracle
    pairs = con.sql(f"SELECT count(*) FROM ({q41})").fetchone()[0]
    out = {
        "warehouse": {"sf": SF, "version": warehouse.VERSION,
                      "data_seed": warehouse.DATA_SEED},
        "queries": digests,
        "stream": {"pairs": pairs, "sigs": n_docs,
                   "bands": n_docs * LSH_BANDS},
    }
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(digests)} digests, stream pins {out['stream']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
