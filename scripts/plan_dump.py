"""Dump ``explain("formatted")`` snapshots: one
``<out_dir>/<query>_<tag>.txt`` file per named query, at the bench
scale factor (sf0.1 by default), with the hot-table cache off so
scans/pushed-filters/exchanges are visible.

    python scripts/plan_dump.py <out_dir> <tag> qNN_name [qNN_name ...]
    python scripts/plan_dump.py plans/r12 before q204_curation_summary

Unlike plan_report.py (the review dump), the round directories under
``plans/`` ARE committed: before/after plan claims are checked against
them. Expression ids and parquet paths are scrubbed, so two dumps of
the same plan diff clean.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    dest_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sunat_rree_demo_spark.queries import REGISTRY
    from sunat_rree_demo_spark.session import get_spark
    from sunat_rree_demo_spark.sources import catalog

    spark = get_spark("plan_dump")
    catalog.HOT_CACHE_MAX_BYTES = 0

    os.makedirs(dest_dir, exist_ok=True)
    for name in names:
        q = REGISTRY[name]
        df = q.fn.__wrapped__(spark, sf_dir)
        mode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        plan = df._jdf.queryExecution().explainString(mode)
        # strip per-run parquet paths / expression ids for stable diffs
        plan = re.sub(r"file:[^\s,\]]+", "file:<path>", plan)
        plan = re.sub(r"#\d+L?", "#", plan)
        dest = os.path.join(dest_dir, f"{name}_{tag}.txt")
        with open(dest, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir} ({tag})\n")
            fh.write(plan.rstrip() + "\n")
        print(f"wrote {dest}")


if __name__ == "__main__":
    main()
