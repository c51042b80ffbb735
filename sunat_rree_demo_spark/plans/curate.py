"""Training-data curation — the composed end-to-end job a 100 TB
pretraining-data pipeline runs, wired from the engine's own operators
(no reference counterpart; driver-mandate extension surface):

    1. language/quality gate      (operators.text.quality_score)
    1b. DSIR target selection     (operators.text.importance_weights,
                                   optional)
    2. benchmark decontamination  (operators.dedup.contamination_overlap)
    3. exact dedup                (operators.dedup.exact_dedup)
    4. near-dup clustering        (minhash_lsh_pairs → connected_components)
    5. keep best doc per cluster  (quality argmax, id tiebreak)
    6. deterministic split        (sha-256 bucket → train/val/test)
    7. sequence packing           (operators.text.pack_sequences)

Everything through step 6 is pure plan composition — one lazy DAG, no
driver round-trips except the documented-eager clustering loop. The
output is one row per SURVIVING doc with its split, packing
coordinates, and provenance flags; the summary is a per-split rollup.

Scale: each step keeps the design of its operator (broadcast probe
set, banded LSH shuffle, per-shard sort); survivors are a filter over
the corpus, so the plan never materializes a second copy of the data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from sunat_rree_demo_spark.operators.components import connected_components
from sunat_rree_demo_spark.operators.dedup import (
    chunk_dup_stats,
    contamination_overlap,
    exact_dedup,
    minhash_lsh_pairs,
    verified_near_dup_pairs,
)
from sunat_rree_demo_spark.operators.text import (
    hash_split,
    importance_weights,
    pack_sequences,
    quality_score,
    tokens,
)


def curate(docs: DataFrame, probe: DataFrame | None = None,
           id_col: str = "doc_id", text_col: str = "text",
           min_quality: float = 0.25, near_dup_threshold: float = 0.3,
           contamination_n: int = 8, contamination_min_overlap: int = 1,
           exact_verify: bool = False,
           target: "F.Column | None" = None,
           min_log_ratio: float | None = None,
           max_chunk_dup_frac: float | None = None,
           chunk_n: int = 8,
           budget: int = 256, shards: int = 16,
           arr: DataFrame | None = None,
           edges: DataFrame | None = None,
           edges_threshold: float | None = None) -> DataFrame:
    """One row per surviving doc: (id, quality, split, shard,
    n_tokens, first_chunk, n_chunks). Deterministic end to end.

    ``contamination_n`` / ``contamination_min_overlap`` tune the
    decontamination gate and default to the operator's own defaults
    (8-grams, the usual 8-13-gram contamination window — a 3-gram probe
    would over-flag benign phrase overlaps at corpus scale).

    ``exact_verify=True`` re-scores the LSH near-dup candidates with
    exact n-gram Jaccard before clustering
    (operators.dedup.verified_near_dup_pairs): clusters then form only
    over TRUE ≥-threshold pairs, trading the extra candidate-scale
    verify join for zero estimate-error evictions. The two paths share
    the candidate set but MinHash can over- or under-estimate around
    the threshold, so neither path's edge set contains the other's.
    Default False keeps the estimate-based gate (and its invariant
    that NO estimated pair survives, which the exact path deliberately
    relaxes).

    ``arr`` — optional pre-materialized (id, shingles) arrays for the
    WHOLE corpus (the session-memoized frame q40/q41/q205 share).
    Shingles are doc-local, so filtering them to the survivor set
    with a semi-join yields signatures identical to re-shingling the
    survivors — the near-dup stage then skips the corpus's most
    expensive Python pass (r9 shave; the q204 A/B in
    bench_detail.json records the ratio). Only honored on the
    estimate path (``exact_verify=False``).

    ``edges`` — optional pre-materialized FULL-CORPUS near-dup pair
    graph at ``near_dup_threshold`` (the session ``mhmemo`` frame,
    r11). MinHash signatures, band buckets, and the pair-level
    estimate are all per-doc/per-pair properties, so the survivor
    pair graph is EXACTLY the full graph with both endpoints
    restricted to survivors — two semi-joins, no recompute. Takes
    precedence over ``arr``; only honored on the estimate path.
    ``edges_threshold`` (required with ``edges``) declares the
    threshold the pair graph was BUILT at and must equal
    ``near_dup_threshold`` — r11 advisory: a memo built at a different
    threshold would silently curate with the wrong graph."""
    if edges is not None:
        if edges_threshold is None:
            raise ValueError(
                "edges requires edges_threshold: declare the threshold "
                "the pre-materialized pair graph was built at")
        if not math.isclose(edges_threshold, near_dup_threshold):
            raise ValueError(
                f"edges was built at threshold {edges_threshold} but "
                f"near_dup_threshold is {near_dup_threshold}: the "
                "survivor restriction is only valid for a graph built "
                "at the SAME threshold")
    scored = docs.withColumn(
        "quality", quality_score(tokens(F.col(text_col))))

    # 1. quality gate
    kept = scored.filter(F.col("quality") >= min_quality)

    # 1b. DSIR target selection (optional): keep docs whose hashed
    # token features look at least ``min_log_ratio`` bits/token more
    # like the ``target`` slice than the raw corpus. Runs on the
    # quality survivors so junk can't distort the raw distribution.
    if (target is None) != (min_log_ratio is None):
        raise ValueError(
            "target and min_log_ratio go together: passing only one "
            "would silently skip the DSIR selection stage")
    if target is not None and min_log_ratio is not None:
        selected = (
            importance_weights(kept, id_col, text_col, target)
            .filter(F.col("avg_log_ratio") >= min_log_ratio)
            .select(id_col)
        )
        kept = kept.join(selected, id_col, "left_semi")

    # 1c. substring-boilerplate gate (optional): drop docs whose
    # duplicated-chunk fraction (Lee et al. 2021 signal,
    # operators.dedup.chunk_dup_stats) exceeds the cutoff — catches
    # template/boilerplate docs whose WHOLE text is not a near-dup of
    # any single other doc (so the LSH stage below would keep them).
    # Cross-doc frequency is measured over the current survivor set.
    if max_chunk_dup_frac is not None:
        boiler = (chunk_dup_stats(kept, id_col, text_col, n=chunk_n)
                  .filter(F.col("dup_frac") > max_chunk_dup_frac)
                  .select(id_col))
        kept = kept.join(boiler, id_col, "left_anti")

    # 2. decontamination: drop anything overlapping the probe suite
    if probe is not None:
        dirty = contamination_overlap(
            kept, probe, id_col, text_col, n=contamination_n,
            min_overlap=contamination_min_overlap).select(id_col)
        kept = kept.join(dirty, id_col, "left_anti")

    # 3. exact dedup (content-hash canonical row)
    kept = exact_dedup(kept, text_col, id_col)

    # Materialize the NARROW node-grain (id, quality) survivor frame
    # ONCE, here, right after the last text-reading gate (r12, guide
    # §2.4/§5: the quality chain — tokenize + HOF fold over every doc —
    # used to re-evaluate under EVERY branch that touched the survivor
    # set: both edge-restriction semi-join broadcasts, the election
    # checkpoint, and the packing branch; measured ~0.25-0.4s per
    # evaluation at sf0.1, the dominant cost of q204). Every id-only
    # consumer below reads this checkpoint; the text column itself is
    # still never checkpointed — the packing branch re-reads it from
    # ``docs`` restricted to survivor ids (one semi-join), preserving
    # the no-second-corpus-copy design.
    kq = kept.select(id_col, "quality").localCheckpoint()

    # 4-5. near-dup clustering on the survivors; keep the best-quality
    # doc per cluster (docs in no cluster survive by default)
    if edges is not None and not exact_verify:
        kept_ids = kq.select(id_col)
        edges = (edges.select("id1", "id2")
                 .join(kept_ids.withColumnRenamed(id_col, "id1"),
                       "id1", "left_semi")
                 .join(kept_ids.withColumnRenamed(id_col, "id2"),
                       "id2", "left_semi"))
    elif arr is not None and not exact_verify:
        kept_arr = arr.join(kq.select(id_col), id_col, "left_semi")
        edges = minhash_lsh_pairs(
            kept, id_col, text_col, threshold=near_dup_threshold,
            arr=kept_arr).select("id1", "id2")
    else:
        pair_fn = (verified_near_dup_pairs if exact_verify
                   else minhash_lsh_pairs)
        edges = pair_fn(kept, id_col, text_col,
                        threshold=near_dup_threshold).select("id1", "id2")
    return elect_and_pack(kept, edges, id_col, text_col,
                          budget=budget, shards=shards,
                          kq=kq, text_src=docs)


def elect_and_pack(kept: DataFrame, edges: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   budget: int = 256, shards: int = 16,
                   kq: DataFrame | None = None,
                   text_src: DataFrame | None = None) -> DataFrame:
    """Steps 4b-7 of the curation recipe, shared verbatim by the batch
    plan above and the streaming finalizer
    (streaming.curate_stream.finalize_curated) so the two paths cannot
    drift: cluster the near-dup ``edges`` (id1, id2 over ``kept`` ids),
    keep the best-quality doc per cluster (id tiebreak), split
    deterministically, pack per split. ``kept`` must carry a
    ``quality`` column.

    Materialization discipline (r9 shave): the NARROW node-grain
    (id, quality) projection is localCheckpointed once — the same
    grain the CC labels already hold, so this adds no new scale
    class — and the election/split/output branches all read it.
    Without it the final job evaluated the whole upstream survivor
    chain (quality scoring + exact dedup over full text) once per
    branch. The text column itself is never checkpointed: it flows
    into the packing pass exactly once, preserving the plan's
    no-second-corpus-copy design.

    ``kq`` (r12): the caller may pass the (id, quality) checkpoint it
    already holds (curate() builds it before the edge restriction) so
    the survivor chain is materialized exactly once per funnel, not
    once here and once there. ``text_src`` (r12): where the packing
    branch reads (id, text) from — pass the RAW corpus frame and the
    packing input becomes ``text_src`` semi-joined to the survivor
    ids, which avoids re-evaluating the whole quality + exact-dedup
    chain just to recover the text column (the rows are identical:
    survivor ids already encode every gate). Defaults preserve the
    pre-r12 behavior for the streaming finalizer."""
    labels = connected_components(edges)
    if kq is None:
        kq = kept.select(id_col, "quality").localCheckpoint()
    losers = (
        labels.join(kq.select(F.col(id_col).alias("node"), "quality"),
                    "node")
        .withColumnRenamed("node", id_col)
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("comp").orderBy(F.desc("quality"),
                                               F.asc(id_col))))
        .filter(F.col("_rn") > 1)
        .select(id_col)
        .localCheckpoint()  # bounded by dup-cluster membership
    )

    survivors = kq.join(losers, id_col, "left_anti")

    # 6.-7. deterministic split (operators.text.hash_split — the
    # single source of the recipe, shared with q62), then pack
    # surviving docs into training chunks, partitioned by split so
    # train/validation/test pack into DISJOINT chunk streams — a
    # training chunk must never straddle eval tokens. This is the one
    # branch that reads the text column (once); the split column
    # reaches the output through pack_sequences' passthrough.
    if text_src is not None:
        # survivor ids already encode every upstream gate: one
        # semi-join recovers the text without re-running the gates
        pack_in = text_src.select(id_col, text_col).join(
            survivors.select(id_col), id_col, "left_semi")
    else:
        pack_in = kept.join(losers, id_col, "left_anti")
    packed = pack_sequences(
        pack_in.withColumn("split", hash_split(F.col(id_col))),
        id_col, text_col, budget=budget, shards=shards,
        partition_by=("split",))
    return (
        survivors
        .join(packed, id_col)
        .select(id_col, "quality", "split", "shard", "n_tokens",
                "first_chunk", "n_chunks")
    )


def curate_summary(curated: DataFrame) -> DataFrame:
    """Per-split rollup of the curated corpus. The mean quality rides
    the half-up INTEGER device over exact 10⁻⁴ quality units (quality
    is round(·, 4), so ×10⁴ + round is exact) — a float avg of
    doubles is summed in partition order and can split a .00005 tie
    differently per engine or even per run (review finding r7; the
    q146 lesson)."""
    qu = F.round(F.col("quality") * 10000).cast("bigint")
    return (
        curated.groupBy("split")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.sum(qu).alias("_qu"))
        .select("split", "n_docs", "total_tokens",
                (F.expr("(2 * _qu + n_docs) div (2 * n_docs)")
                 .cast("double") / 10000.0).alias("avg_quality"))
        .orderBy("split")
    )
