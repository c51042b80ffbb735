"""Connected components over an undirected edge list — duplicate
*clustering*, the step after pairwise near-dup detection (the reference
stops at pairs; a production dedup pipeline groups pairs into clusters
and keeps one representative per cluster, cf. q61/q65).

Algorithm: iterative min-label propagation, the engine's one
connected-components operator. Every node starts labeled with itself;
each round replaces a node's label with the minimum label in its closed
neighborhood; convergence when no label changes. Rounds needed = the
maximum component diameter. Every caller feeds a near-dup pair graph
(q61/q65/q68/q170, plans/curate, ``incremental_components``), which is
star-or-clique-shaped (a handful of versions of one document), so the
diameter is small and 2-4 rounds settle the labels. At that size the
per-job framework cost sets the time, not compute: the alternating
large-star / small-star scheme of Kiveris et al., "Connected Components
in MapReduce and Beyond" (SoCC'14), needs O(log² n) rounds on any shape
but started 21 jobs per build-and-collect where this loop starts 14-16
on the sf0.01/sf0.1 pair graphs (identical labels), so it was removed.
A graph whose diameter exceeds ``max_rounds`` raises instead of
returning split components.

Scale design: each round is one shuffle — join labels to the symmetric
edge list on the destination, min-aggregate per source, join back. The
edge list and labels are localCheckpointed so the lineage stays one
round deep (an unchecked loop would replay every prior round each
iteration and blow the plan up exponentially). State per round is
O(nodes + edges); the convergence check rides the label join as a
count, one cheap job per round over checkpointed inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(edges: DataFrame, src: str = "id1",
                         dst: str = "id2", max_rounds: int = 50) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id in the node's connected component.

    The loop is documented-eager (one count job per round): callers
    register queries built on it with ``memoize=False``.
    """
    # checkpoint the RAW edge projection first: the symmetric union
    # references the edge plan from two branches, so building sym
    # straight off `edges` would compute the (expensive — e.g. the
    # Python-shingled near-dup pair pipeline) upstream plan twice in
    # one job. One eager checkpoint = upstream runs exactly once.
    #
    # r12 note (attempted and REVERTED): a closed-neighborhood variant
    # — self rows flagged into the adjacency so ONE join+aggregate per
    # round replaces join+aggregate+join — produced identical labels
    # and measured ~15% faster on q61's input, but its fatter
    # adjacency (4 unions + flag) pushes Spark's size-only INNER-join
    # estimate (left×right product) past the broadcast threshold even
    # for tiny graphs, flipping the callers' downstream label/size
    # joins to static SortMergeJoin (the plan contract
    # tests/test_plan_contracts.py pins BHJ there). The two-join round
    # below keeps the second join LEFT OUTER, whose size estimate does
    # not product-explode.
    raw = edges.select(F.col(src).alias("a"),
                       F.col(dst).alias("b")).localCheckpoint()
    sym = (
        raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # seed with the closed-neighborhood min — exactly the result of a
    # first identity-label round, one round (join + count job) cheaper.
    # This eager checkpoint is the first action through sym, so the lazy
    # sym checkpoint materializes inside the same job.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.min("a")).alias("comp"))
        .localCheckpoint()
    )
    # Keep each round's reads of `labels` as they are. Catalyst's size
    # estimate of the lazily checkpointed `labels` already grows ~19
    # decimal digits per round (BigInteger products); one more `labels`
    # join per round, e.g. a pointer-jumping shortcut for long paths,
    # doubles the digit count every round instead and stalls planning
    # for minutes (2,408 digits by round 6 on a 40-node path).
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("b"),
                                   F.col("comp").alias("nbr_comp")), "b")
            .groupBy("a").agg(F.min("nbr_comp").alias("nbr_min"))
        )
        proposed = (
            labels.join(nbr_min.select(F.col("a").alias("node"), "nbr_min"),
                        "node", "left")
            .select("node",
                    F.col("comp").alias("old_comp"),
                    F.least("comp", F.coalesce("nbr_min", "comp"))
                    .alias("comp"))
            # lazy: the changed-count below is the first action, so it
            # materializes the checkpoint and checks convergence in the
            # SAME job (the eager form paid two jobs per round)
            .localCheckpoint(eager=False)
        )
        changed = proposed.filter(F.col("comp") != F.col("old_comp")).count()
        labels = proposed.select("node", "comp")
        if changed == 0:
            return labels
    # no-silent-caps: unconverged labels are WRONG labels — fail loudly
    # rather than hand back split components (raise max_rounds for
    # graphs whose diameter exceeds it)
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds "
        f"(component diameter exceeds max_rounds)")


def label_propagation(edges: DataFrame, rounds: int = 3,
                      weight_col: str | None = None) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the LPA
    community-detection baseline) over an undirected (id1, id2[, w])
    edge list: every node starts as its own label; each round every
    node adopts the label with the highest total (weighted) neighbor
    vote, ties to the SMALLEST label — fully deterministic, unlike the
    textbook random-order variant, so the result is engine-checkable.
    Returns (node, label) after ``rounds`` synchronous updates.

    Distinct from ``connected_components`` above: CC merges anything
    reachable; LPA's frequency vote finds densely-connected communities
    INSIDE a component and stops label creep at weak cuts.

    Scale shape: each round is one shuffle — edges join the previous
    labels on the neighbor id (labels-sized side, AQE broadcasts when
    it fits), then a (node, label) vote aggregate with map-side
    combine and a per-node argmax window. The plan is lazily composed
    across rounds (no driver round-trips, no checkpoints needed at
    fixed small round counts — callers wanting convergence-driven
    stopping should reuse ``connected_components``' lineage discipline:
    a lazy checkpoint per round, materialized by the convergence
    count)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    w = (F.col(weight_col) if weight_col
         else F.lit(1)).cast("bigint").alias("_w")
    e = (edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"), w)
         .union(edges.select(F.col("id2").alias("a"),
                             F.col("id1").alias("b"), w)))
    labels = (e.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    from pyspark.sql import Window

    for _ in range(rounds):
        votes = (e.join(labels.withColumnRenamed("node", "b"), "b")
                 .groupBy("a", "label")
                 .agg(F.sum("_w").alias("_s")))
        wa = Window.partitionBy("a").orderBy(F.col("_s").desc(), "label")
        labels = (votes.withColumn("_rn", F.row_number().over(wa))
                  .filter(F.col("_rn") == 1)
                  .select(F.col("a").alias("node"), "label"))
    return labels


def incremental_components(labels: DataFrame, new_edges: DataFrame,
                           node_col: str = "node",
                           comp_col: str = "comp",
                           src: str = "id1", dst: str = "id2") -> DataFrame:
    """INCREMENTAL connected components: update an existing
    (node, component) labeling with a batch of NEW edges without
    recomputing the whole graph — the cluster-maintenance half of the
    incremental dedup index (new near-dup pairs arrive per ingest
    batch; only the components they touch can change).

    Correctness device: an existing component is exactly reconstructed
    by its (node — component-label) star edges, so CC over
    ``new_edges ∪ star(affected components) ∪ identity(new nodes)``
    equals CC over the FULL original edge set plus the new edges,
    restricted to the affected part (test-pinned against a full
    recompute). Untouched components pass through verbatim.

    Scale shape: the touched-component discovery is two broadcast
    semi-joins (new-edge endpoints are batch-sized); the recompute runs
    ``connected_components`` on the affected SUBGRAPH only — star
    edges keep it O(affected nodes + new edges) regardless of how the
    rest of the graph has grown. Min-label stability means unaffected
    labels never churn, and a merge of two components adopts the
    smaller global min (consistent with a from-scratch run).
    Documented-eager like its base operator (per-round count jobs):
    register dependent queries with ``memoize=False``."""
    ends = (new_edges.select(F.col(src).alias(node_col))
            .union(new_edges.select(F.col(dst).alias(node_col)))
            .distinct().localCheckpoint())
    touched_comps = (labels.join(F.broadcast(ends), node_col, "left_semi")
                     .select(comp_col).distinct())
    affected = (labels.join(F.broadcast(touched_comps), comp_col,
                            "left_semi").localCheckpoint())
    # new nodes (absent from labels) enter through identity self-edges
    # so isolated-but-new endpoints still receive a label
    new_nodes = ends.join(labels, node_col, "left_anti")
    sub_edges = (
        new_edges.select(F.col(src).alias("id1"), F.col(dst).alias("id2"))
        .unionByName(affected.select(F.col(node_col).alias("id1"),
                                     F.col(comp_col).alias("id2")))
        .unionByName(new_nodes.select(F.col(node_col).alias("id1"),
                                      F.col(node_col).alias("id2")))
    )
    relabeled = connected_components(sub_edges)
    untouched = labels.join(F.broadcast(touched_comps), comp_col,
                            "left_anti")
    return untouched.unionByName(
        relabeled.select(F.col("node").alias(node_col),
                         F.col("comp").alias(comp_col)))
