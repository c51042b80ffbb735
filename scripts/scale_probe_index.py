"""Persisted-index lifecycle at 10x (r9) — the incremental-ingest
story the dedup/ANN indexes exist for, measured instead of assumed:

- BUILD  (write_minhash_index / write_ivf_index) over the 1x corpus
  (sf0.01) and the 10x corpus (sf0.1): expected ~linear.
- ABSORB a FIXED-size batch into the 1x index and into the 10x index
  (absorb_batch / absorb_ivf_batch): the incremental claim is O(batch)
  — the ratio between the two is the headline number and should be
  ~1.0 (the functions write only their own partition; the no-rescan
  tripwires in tests/test_scale_contracts.py pin the mechanism).
- PROBE the fixed batch against each index
  (incremental_near_dup_pairs): the batch side broadcasts; the
  corpus-side cost is one columnar scan of the (band,bucket,id) table
  (no shuffle), so the ratio should be well under 10.
- COMPACT each index after a re-ingest batch (compact_minhash_index /
  compact_ivf_index): a generation swap that rewrites the whole
  index, expected ~linear — the point of measuring it is to document
  that compaction is the one O(index) maintenance op, amortized over
  many absorbs.

Usage: python scripts/scale_probe_index.py [small_sf_dir big_sf_dir]
Prints one markdown table row per (op, scale) for SCALE.md.
"""

import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

SMALL = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
BIG = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def main():
    from pyspark.sql import functions as F

    from sunat_rree_demo_spark.operators.ann_index import (
        absorb_ivf_batch,
        compact_ivf_index,
        write_ivf_index,
    )
    from sunat_rree_demo_spark.operators.dedup_index import (
        absorb_batch,
        compact_minhash_index,
        incremental_near_dup_pairs,
        write_minhash_index,
    )
    from sunat_rree_demo_spark.session import get_spark, tune
    from sunat_rree_demo_spark.sources.catalog import load_table

    spark = tune(get_spark())
    root = tempfile.mkdtemp(prefix="probe_index_")
    rows = []

    def tm(tag, scale, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        rows.append((tag, scale, dt))
        print(f"| {tag} | {scale} | {dt:.2f} s |", flush=True)
        return out

    # fixed ingest batch: the SAME 200 docs regardless of index size,
    # re-identified so they never collide with corpus ids
    batch = (load_table(spark, SMALL, "documents")
             .select("doc_id", "text").limit(200)
             .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                     "text")
             .localCheckpoint())

    vbatch = (load_table(spark, SMALL, "embeddings").limit(200)
              .selectExpr("vec_id + 10000000 AS vec_id", "embedding")
              .localCheckpoint())

    # untimed warmup cycle: the first lifecycle of a session pays
    # codegen/JIT/Arrow init that would otherwise land entirely on
    # the 1x rows and invert the ratios
    wdocs = load_table(spark, SMALL, "documents") \
        .select("doc_id", "text").limit(100)
    wpath = f"{root}/warmup"
    write_minhash_index(wdocs, wpath)
    incremental_near_dup_pairs(spark, batch, wpath).count()
    absorb_batch(batch, wpath, batch_id=1)
    compact_minhash_index(spark, wpath)
    wemb = load_table(spark, SMALL, "embeddings").limit(100)
    write_ivf_index(wemb, f"{root}/warmup_ivf", k=4, iters=1)
    absorb_ivf_batch(spark, vbatch, f"{root}/warmup_ivf", 1)
    compact_ivf_index(spark, f"{root}/warmup_ivf")
    print("| op | corpus | wall |", flush=True)
    print("|---|---|---|", flush=True)
    for scale, sf in (("1x", SMALL), ("10x", BIG)):
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        path = f"{root}/minhash_{scale}"
        tm("minhash build", scale,
           lambda: write_minhash_index(docs, path))
        tm("minhash probe (fixed 200-doc batch)", scale,
           lambda: incremental_near_dup_pairs(spark, batch, path)
           .count())
        tm("minhash absorb (fixed 200-doc batch)", scale,
           lambda: absorb_batch(batch, path, batch_id=1))
        # re-ingest 200 corpus docs so compaction has latest-wins work
        edited = (docs.limit(200)
                  .withColumn("text", F.concat(F.col("text"),
                                               F.lit(" edited"))))
        absorb_batch(edited, path, batch_id=2)
        tm("minhash compact", scale,
           lambda: compact_minhash_index(spark, path))

    for scale, sf in (("1x", SMALL), ("10x", BIG)):
        emb = load_table(spark, sf, "embeddings")
        path = f"{root}/ivf_{scale}"
        tm("ivf build (k=16, 3 iters)", scale,
           lambda: write_ivf_index(emb, path, k=16, iters=3))
        tm("ivf absorb (fixed 200-vec batch)", scale,
           lambda: absorb_ivf_batch(spark, vbatch, path, 1))
        tm("ivf compact", scale,
           lambda: compact_ivf_index(spark, path))

    shutil.rmtree(root, ignore_errors=True)
    ratios = {}
    for tag, scale, dt in rows:
        ratios.setdefault(tag, {})[scale] = dt
    print("\nratios (10x / 1x):", flush=True)
    for tag, d in ratios.items():
        if "1x" in d and "10x" in d and d["1x"] > 0:
            print(f"  {tag}: {d['10x'] / d['1x']:.2f}x", flush=True)


if __name__ == "__main__":
    main()
