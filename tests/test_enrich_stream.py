"""Streamed range-join enrichment == the batch point_in_interval_join
over the full point set when the interval store is fixed; committed
replays are no-ops and torn batches stay invisible until healed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _purchases_and_sessions(spark):
    from sunat_rree_demo_spark.queries.events import gap_session_intervals
    from sunat_rree_demo_spark.sources.catalog import load_table

    ev = (load_table(spark, SF_SMOKE, "events")
          .select("event_id", "user_id", "event_type",
                  F.unix_millis("ts").alias("tms")))
    sess = (gap_session_intervals(
        ev.filter(F.col("event_type").isin("click", "view")))
        .select(F.col("user_id").alias("s_user"), "lo", "hi"))
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "tms"))
    return purch, sess


def test_streamed_enrichment_equals_batch(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sunat_rree_demo_spark.operators.range_join import (
        point_in_interval_join,
    )
    from sunat_rree_demo_spark.streaming.enrich_stream import (
        load_enriched,
        run_enrich_stream,
        write_interval_store,
    )

    purch, sess = _purchases_and_sessions(spark)
    store = str(tmp_path / "enrich_store")
    write_interval_store(sess, store)

    # split purchases into three replayable files
    pdir = tmp_path / "points"
    pdir.mkdir()
    tbl = pa.Table.from_pandas(purch.toPandas(), preserve_index=False)
    third = tbl.num_rows // 3
    pq.write_table(tbl.slice(0, third), pdir / "p1.parquet")
    pq.write_table(tbl.slice(third, third), pdir / "p2.parquet")
    pq.write_table(tbl.slice(2 * third), pdir / "p3.parquet")

    stream = (spark.readStream.schema("event_id long, tms long")
              .option("maxFilesPerTrigger", 1).parquet(str(pdir)))
    run_enrich_stream(spark, stream, store, "tms", "lo", "hi",
                      bucket_width=3_600_000)
    got = sorted(map(tuple, load_enriched(spark, store)
                 .select("event_id", "s_user", "lo").collect()))
    want = sorted(map(tuple, point_in_interval_join(
        purch, sess, "tms", "lo", "hi", 3_600_000)
        .select("event_id", "s_user", "lo").collect()))
    assert got == want and len(want) > 0


def test_enrich_replay_noop_and_torn_batch(spark, tmp_path):
    import os

    from sunat_rree_demo_spark.sources.batch_store import marker_committed
    from sunat_rree_demo_spark.streaming.enrich_stream import (
        load_enriched,
        process_enrich_batch,
        write_interval_store,
    )

    store = str(tmp_path / "es")
    iv = spark.createDataFrame([(7, 0, 100)], "iid long, lo long, hi long")
    write_interval_store(iv, store)
    b0 = spark.createDataFrame([(1, 50), (2, 500)], "pid long, p long")
    process_enrich_batch(spark, b0, 0, store, "p", "lo", "hi", 64)
    assert [r.pid for r in load_enriched(spark, store).collect()] == [1]

    process_enrich_batch(spark, b0, 0, store, "p", "lo", "hi", 64)  # replay
    assert [r.pid for r in load_enriched(spark, store).collect()] == [1]

    b1 = spark.createDataFrame([(3, 99)], "pid long, p long")
    process_enrich_batch(spark, b1, 1, store, "p", "lo", "hi", 64)
    os.remove(f"{store}/out/batch_id=1/_SUCCESS")
    assert not marker_committed(spark, f"{store}/out", 1)
    assert [r.pid for r in load_enriched(spark, store).collect()] == [1]
    process_enrich_batch(spark, b1, 1, store, "p", "lo", "hi", 64)  # heal
    assert sorted(r.pid for r in load_enriched(spark, store).collect()) \
        == [1, 3]


def test_load_enriched_raises_on_empty_store(spark, tmp_path):
    from sunat_rree_demo_spark.streaming.enrich_stream import load_enriched

    with pytest.raises(FileNotFoundError):
        load_enriched(spark, str(tmp_path / "nothing"))
