"""Per-batch driver cost of the dedup stream: a warm micro-batch of
``process_batch`` stays within a budget of py4j round trips and Spark
jobs. Framework cost paid per py4j call and per job, not the MinHash
kernel, dominates a small batch's CPU (SCALE.md "Streaming dedup: per
warm batch"), so these counts are the regression signal."""

from __future__ import annotations

import threading

from tests.conftest import SF_SMOKE

#: Measured here: 136 round trips and 11 jobs (sf0.001, two 250-document
#: batches); perfbench's ~1,580-document batches give 135 and 11. The
#: candidate step and the estimate step are one SQL text each; the
#: Column-at-a-time probe they replaced made 1,908 round trips here
#: (~2,400 per perfbench batch with py4j's own object deletes) and 14
#: jobs.
PY4J_BUDGET = 300
JOB_BUDGET = 12


def test_warm_dedup_batch_py4j_and_job_budget(spark, tmp_path,
                                              monkeypatch):
    from py4j.clientserver import ClientServerConnection

    from sunat_rree_demo_spark.streaming.dedup_stream import process_batch

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    idx, pairs = str(tmp_path / "idx"), str(tmp_path / "pairs")
    process_batch(spark, docs.filter("doc_id % 2 = 0"), 0, idx, pairs)

    # round trips of THIS thread only: py4j sends object deletes from
    # its own finalizer thread, whenever Python's collector runs
    me, calls = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    sc = spark.sparkContext
    group = f"dedup-budget-{tmp_path.name}"
    sc.setJobGroup(group, "warm dedup batch")
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        process_batch(spark, docs.filter("doc_id % 2 = 1"), 1, idx, pairs)
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))

    assert spark.read.parquet(f"{pairs}/batch_id=1").count() > 0
    assert calls[0] <= PY4J_BUDGET, calls[0]
    assert len(jobs) <= JOB_BUDGET, len(jobs)
