"""Streaming throughput probe (r10, verdict task: the one unmeasured
family): drain each streaming pipeline over the documents table split
into N micro-batches and report rows/s — the per-micro-batch ingest
rate a capacity plan needs. Every stream runs availableNow over a
replayable file source, exactly as the equivalence tests drive it.

    python scripts/stream_bench.py [sf_dir ...]    # default sf0.01 sf0.1

Prints one markdown table (paste into SCALE.md) plus a JSON line per
(sf, stream). The dedup stream's line also carries its per-warm-batch
driver cost: the median py4j round trips and Spark jobs of its batches
after the first (SCALE.md "Streaming dedup: per warm batch"). Serialize
with other gates — these share the box.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = 8  # micro-batches per drain (maxFilesPerTrigger=1)
_PNG_W = 16  # q186's device width — media payloads are real PNGs


def _prep_docs(spark, sf_dir: str, out: str) -> int:
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df.repartition(N_FILES).write.mode("overwrite").parquet(out)
    return df.count()


def _prep_media(spark, docs_dir: str, out: str) -> int:
    """Real PNG payloads from the document texts (q186's device), so
    the media stream pays genuine decode work per batch."""
    import pandas as pd

    from pyspark.sql import functions as F, types as T
    from sunat_rree_demo_spark.operators.multimodal import encode_png_gray

    docs = (spark.read.parquet(docs_dir)
            .select(F.col("doc_id").alias("media_id"),
                    F.regexp_replace("text", "[^ -~]", "").alias("s"))
            .withColumn("s", F.expr(
                f"substring(s, 1, (length(s) div {_PNG_W}) * {_PNG_W})"))
            .filter(F.length("s") >= _PNG_W))

    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def enc(it):
        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "content": [encode_png_gray(s.encode("ascii"), _PNG_W)
                            for s in pdf["s"]],
            })

    media = docs.mapInPandas(enc, schema=schema)
    media.repartition(N_FILES).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def _file_stream(spark, directory: str, ddl: str):
    return (spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", 1).parquet(directory))


DOCS_DDL = ("doc_id long, text string, lang string, source string, "
            "n_chars long")


def _count_batch_cost(cost: list) -> None:
    """Count, per ``dedup_stream.process_batch`` call, the py4j round
    trips made on the calling thread (py4j sends its object deletes
    from a thread of its own) and the Spark jobs the batch started, as
    (batch_id, round trips, jobs) rows appended to ``cost``."""
    from py4j.clientserver import ClientServerConnection

    from sunat_rree_demo_spark.streaming import dedup_stream

    calls: dict[int, int] = {}
    send = ClientServerConnection.send_command

    def counting(self, command):
        me = threading.get_ident()
        calls[me] = calls.get(me, 0) + 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    process_batch = dedup_stream.process_batch

    def counted(spark, batch_df, batch_id, *args, **kw):
        sc, me = spark.sparkContext, threading.get_ident()
        # the stream thread's job group: the query's run id
        group = sc.getLocalProperty("spark.jobGroup.id")
        jobs0 = set(sc.statusTracker().getJobIdsForGroup(group))
        c0 = calls.get(me, 0)
        process_batch(spark, batch_df, batch_id, *args, **kw)
        c1 = calls.get(me, 0)
        jobs = set(sc.statusTracker().getJobIdsForGroup(group)) - jobs0
        cost.append((batch_id, c1 - c0, len(jobs)))

    dedup_stream.process_batch = counted


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01",
                               "/root/testdata/sf0.1"]
    from sunat_rree_demo_spark.session import get_spark
    from sunat_rree_demo_spark.streaming.bloom_stream import (
        run_bloom_dedup_stream,
    )
    from sunat_rree_demo_spark.streaming.curate_stream import (
        run_curate_stream,
    )
    from sunat_rree_demo_spark.streaming.dedup_stream import (
        run_dedup_stream,
    )
    from sunat_rree_demo_spark.streaming.media_stream import (
        run_media_dedup_stream,
    )

    spark = get_spark("stream-bench")
    cost: list = []
    _count_batch_cost(cost)

    # Session warmup (r12): the session's first foreachBatch pays
    # one-time JVM/codegen/Python-worker/AQE first-touch costs — the
    # r11 table charged them all to dedup_minhash_index (always run
    # first), whose batch-0 probe drew 6-7s vs the ~1.4s steady state,
    # making it look 3x its siblings. One throwaway 1-batch drain
    # against a scratch index absorbs them; every stream is then
    # measured from a warm session, like bench.py's warmup query.
    wroot = tempfile.mkdtemp(prefix="stream_bench_warm_")
    from sunat_rree_demo_spark.streaming.dedup_stream import (
        run_dedup_stream as _warm_dedup,
    )
    wdocs = os.path.join(wroot, "docs")
    spark.read.parquet(os.path.join(sf_dirs[0], "documents.parquet")) \
        .limit(64).coalesce(1).write.mode("overwrite").parquet(wdocs)
    _warm_dedup(spark, _file_stream(spark, wdocs, DOCS_DDL),
                os.path.join(wroot, "idx"), os.path.join(wroot, "pairs"),
                timeout=600)
    shutil.rmtree(wroot, ignore_errors=True)

    rows_out = []
    for sf_dir in sf_dirs:
        sf = sf_dir.rstrip("/").split("sf")[-1]
        root = tempfile.mkdtemp(prefix=f"stream_bench_{sf}_")
        docs_dir = os.path.join(root, "docs_src")
        media_dir = os.path.join(root, "media_src")
        n_docs = _prep_docs(spark, sf_dir, docs_dir)
        n_media = _prep_media(spark, docs_dir, media_dir)

        def timed(name: str, n_rows: int, fn,
                  extra=None) -> None:
            t0 = time.monotonic()
            fn()
            wall = time.monotonic() - t0
            rows_out.append({
                "sf": sf, "stream": name, "rows": n_rows,
                "batches": N_FILES, "wall_sec": round(wall, 2),
                "rows_per_sec": round(n_rows / wall, 1),
                "sec_per_batch": round(wall / N_FILES, 2),
                # extra is a thunk: the split lists fill DURING fn()
                **(extra() if extra is not None else {}),
            })
            print(json.dumps(rows_out[-1]))

        # r11 (verdict task #5): split the minhash-index stream's
        # per-batch cost into signature pass / index-read probe /
        # absorb write — the r10 table argued (not measured) that the
        # 10x outlier rides the probe's index read, not state growth
        split: list = []
        cost.clear()
        timed("dedup_minhash_index", n_docs, lambda: run_dedup_stream(
            spark, _file_stream(spark, docs_dir, DOCS_DDL),
            os.path.join(root, "dedup_idx"),
            os.path.join(root, "dedup_pairs"), timeout=1200,
            timings=split),
            extra=lambda: {"split": {
                "sig_sec": round(sum(t[1] for t in split), 2),
                "probe_sec": round(sum(t[2] for t in split), 2),
                "absorb_sec": round(sum(t[3] for t in split), 2),
                "by_batch": [list(t) for t in split]},
                "py4j_per_warm_batch": statistics.median(
                    c for b, c, _ in cost if b > 0),
                "jobs_per_warm_batch": statistics.median(
                    j for b, _, j in cost if b > 0)})
        timed("bloom_exact_dedup", n_docs, lambda: run_bloom_dedup_stream(
            spark, _file_stream(spark, docs_dir, DOCS_DDL),
            os.path.join(root, "bloom_store"), timeout=1200))
        timed("curation_funnel", n_docs, lambda: run_curate_stream(
            spark, _file_stream(spark, docs_dir, DOCS_DDL),
            os.path.join(root, "curate_store"), timeout=1200))
        timed("media_perceptual_dedup", n_media,
              lambda: run_media_dedup_stream(
                  spark, _file_stream(spark, media_dir,
                                      "media_id long, content binary"),
                  os.path.join(root, "media_store"), timeout=1200))
        shutil.rmtree(root, ignore_errors=True)

    print("\n| sf | stream | rows | batches | wall (s) | rows/s | "
          "s/batch |")
    print("|---|---|---|---|---|---|---|")
    for r in rows_out:
        print(f"| {r['sf']} | {r['stream']} | {r['rows']} | "
              f"{r['batches']} | {r['wall_sec']} | {r['rows_per_sec']} "
              f"| {r['sec_per_batch']} |")
    spark.stop()


if __name__ == "__main__":
    main()
