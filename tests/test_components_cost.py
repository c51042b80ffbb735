"""Jobs per call of the duplicate-cluster builders (q61, q68): both run
``connected_components`` over the session's near-dup pair graph, whose
per-round convergence counts are their documented eager jobs. At this
graph size per-job framework cost sets the time, so the job count is
the regression signal."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

#: Measured here: 9 jobs per builder call on the sf0.001 pair graph
#: (28 edges): the raw-edge checkpoint, the seed labels and one
#: convergence count per round.
JOB_BUDGET = 9


@pytest.mark.parametrize("name", ["q61_dup_clusters",
                                  "q68_dup_clusters_two_phase"])
def test_dup_cluster_builder_job_budget(spark, name):
    from sunat_rree_demo_spark.queries import REGISTRY
    from sunat_rree_demo_spark.queries.llm_pipeline import dup_pair_edges

    # the pair graph is a session memo: build it outside the count
    dup_pair_edges(spark, SF_SMOKE).count()

    sc = spark.sparkContext
    group = f"cc-budget-{name}"
    sc.setJobGroup(group, "duplicate-cluster builder")
    try:
        REGISTRY[name].fn.__wrapped__(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))

    assert len(jobs) <= JOB_BUDGET, len(jobs)
