"""Persisted MinHash index + incremental near-dup detection — the
production dedup shape at corpus scale: signatures are computed ONCE
per document and stored; each new ingest batch signatures only its own
docs and probes the index, instead of re-running pairwise dedup over
the whole corpus per batch (the reference pipeline, like q41, is
batch-global; this is its incremental twin).

Index layout (two parquet tables under one root, partitioned by ingest
batch):
- ``sigs/batch_id=N/``  — (id, sig array<bigint>): one row per doc.
- ``bands/batch_id=N/`` — (id, band, bucket): LSH band rows, the join
  key layout. Written LAST, so ``bands/batch_id=N/_SUCCESS`` is the
  batch's commit marker (see ``batch_committed``).

Exactly-once: every batch write is an OVERWRITE of that batch's own
partition directory (``batch_store.write_batch``), so a foreachBatch
crash-replay rewrites the same files instead of appending duplicates —
(id, sig) and (id, band, bucket) rows are unique per (batch, doc) by
construction.

A doc id re-ingested in a LATER batch (an edited document) legitimately
appears in several partitions; reads resolve it latest-batch-wins at
CANDIDATE scale (see ``incremental_near_dup_pairs``) — the corpus-side
table is never shuffled for it. Long-lived indexes with many re-ingests
should periodically compact (rewrite keeping the max-batch row per id);
until compaction the index carries one extra row per re-ingest, not
wrong answers.
Builds and compactions are a ``batch_store.swap_generation`` (write
the new generation, then retire what it replaces).

Scale design: an ingest batch is small relative to the corpus, so the
batch's band rows BROADCAST and the stored band table (plus the batch's
own band rows, for new-vs-new pairs) is probed by ONE map-side hash
join on (band, bucket) — the corpus-side shuffle is zero. Estimates
then read signatures for just the candidate ids (a broadcast semi-join
on the stored sigs) and resolve re-ingests latest-batch-wins at
candidate scale. Each step is one SQL text with DataFrame arguments
(``_probe_candidates``, ``_probe_estimates``), so a probe costs two
parse/analyze round trips instead of hundreds of Column calls; the
text runs on the batch signatures' own session (a stream's
micro-batch session — its temp views live there).
With the bucketed-table sink (plans/bucketed) the bands table can
additionally be bucketed by ``bucket`` for shuffle-free index-vs-index
joins; plain parquet keeps this module engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.localrel import local_df
from sunat_rree_demo_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_K,
    _band_sql,
    _estimate_sql,
    band_rows,
    minhash_signatures,
)
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    _hadoop_fs,
    all_batch_dirs,
    committed_batch_dirs,
    marker_committed,
    swap_generation,
    write_batch,
)


#: batch id the probe gives the batch's own signatures: above every
#: stored batch, so latest-batch-wins resolution keeps them.
_NEWEST = 2**63 - 1


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """The not-yet-bootstrapped index reads as empty (first streaming
    micro-batch probes before anything was ever appended). The path is
    checked first, so a missing index is never handed to ``spark.read``
    (whose miss logs a stack trace); a corrupt or unreadable existing
    index must fail loudly, not silently drop every cross-batch pair."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def batch_committed(spark: SparkSession, path: str, batch_id: int) -> bool:
    """True iff ``batch_id`` was fully absorbed into the index at
    ``path``. The marker is the ``_SUCCESS`` file of the batch's bands
    partition: bands are written last, so its successful commit implies
    the sigs partition (and, in the streaming flow, the pairs
    partition written before either) are complete."""
    return marker_committed(spark, f"{path}/bands", batch_id)


def write_minhash_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 5,
                        k: int = MINHASH_K, bands: int = LSH_BANDS,
                        sig: DataFrame | None = None) -> None:
    """Build the index from ``docs`` as one generation that replaces
    every batch already at ``path`` (``swap_generation``; -1 on an
    empty path — the NEGATIVE id space, so a bootstrap never collides
    with a stream epoch, which starts at 0). Incremental growth goes
    through ``absorb_batch`` (idempotent) or ``append_minhash_index``.

    A caller that already materialized the signatures passes them via
    ``sig`` (same contract as ``absorb_batch``) — a signature is a
    pure per-doc function, so sharding one checkpointed corpus pass
    into several index builds (q185's even/odd shards) writes
    identical indexes to two independent passes at half the Python
    shingle/minhash cost."""
    if sig is None:
        sig = minhash_signatures(docs, id_col, text_col, n,
                                 k).localCheckpoint()
    swap_generation(docs.sparkSession, [
        (f"{path}/sigs", sig.write),
        (f"{path}/bands", band_rows(sig, id_col, k, bands).write),
    ])


def _write_batch(spark: SparkSession, sig: DataFrame, path: str,
                 batch_id: int, id_col: str, k: int, bands: int) -> None:
    """Overwrite batch ``batch_id``'s partition of both tables from
    ``sig`` through ``batch_store.write_batch``: ``sigs`` first, then
    ``bands`` last, whose ``_SUCCESS`` commits the batch
    (``batch_committed``)."""
    # One file per partition (r12, guide §6): a batch's signature frame
    # inherits the shuffle partition count, and absorb used to write
    # 32 ~4.5 KB files PER BATCH PER TABLE, so after k batches every
    # probe paid 2k×32 footer reads + listings (measured: the dedup
    # stream's probe stage was 3× its siblings at sf0.1). One file per
    # batch partition is the right layout at any realistic micro-batch
    # size (≈ batch×k longs ≪ the 128 MB-1 GB/file target). coalesce
    # keeps the replay contract: same batch content → same rewritten
    # files.
    write_batch(spark, batch_id, [
        (f"{path}/sigs", sig.coalesce(1).write),
        (f"{path}/bands", band_rows(sig, id_col, k, bands).coalesce(1).write),
    ])


def absorb_batch(docs: DataFrame, path: str, batch_id: int,
                 id_col: str = "doc_id", text_col: str = "text",
                 n: int = 5, k: int = MINHASH_K,
                 bands: int = LSH_BANDS,
                 sig: DataFrame | None = None) -> None:
    """Idempotently absorb one identified batch (``_write_batch``:
    sigs, then bands, the commit marker), so a replay (foreachBatch
    crash recovery) rewrites identical files rather than appending
    duplicates.

    A streaming handler that already computed the batch's signatures
    (``incremental_near_dup_pairs`` does) passes them via ``sig`` —
    the per-doc Python shingle/minhash pass is the dominant ingest
    cost and must not run twice per micro-batch."""
    if sig is None:
        sig = minhash_signatures(docs, id_col, text_col, n, k) \
            .localCheckpoint()
    _write_batch(docs.sparkSession, sig, path, batch_id, id_col, k, bands)


def append_minhash_index(docs: DataFrame, path: str, **kw) -> None:
    """Extend the index with an auto-numbered batch
    (max(existing, -1) + 1 — i.e. the non-negative space shared with
    stream epochs). For replay-safe ingestion use ``absorb_batch`` with
    the caller's own stable batch id — auto-numbering is only
    deterministic when nothing ever crashes between numbering and
    writing."""
    spark = docs.sparkSession
    existing = all_batch_dirs(spark, f"{path}/sigs")
    absorb_batch(docs, path, max(existing, default=-1) + 1, **kw)


def compact_minhash_index(spark: SparkSession, path: str,
                          id_col: str = "doc_id", k: int = MINHASH_K,
                          bands: int = LSH_BANDS) -> None:
    """Collapse the committed batches into one generation keeping
    only the latest-batch signature per doc id — reclaims the
    one-extra-row-per-re-ingest growth the batch layout accrues
    (module docstring). Band rows REGENERATE from the surviving
    signatures rather than being deduped independently: they are a
    pure function of the signature, so the two tables cannot drift.

    The generation lands in the NEGATIVE id space
    (``swap_generation``), never at a stream epoch: a compacted
    partition numbered like a stream batch would make
    ``batch_committed`` lie to a resumed stream. Until the swap retires
    the merged batches, a probe sees them next to the generation, and
    both resolve latest-batch-wins to the same signatures, so probes
    are unchanged at every crash point. Torn positive batches are left
    to their stream's replay.

    OFFLINE maintenance: not transactional against a CONCURRENT
    absorb_batch."""
    sources = committed_batch_dirs(spark, f"{path}/sigs", f"{path}/bands")
    if not sources:
        return  # empty index: nothing to compact
    latest = (spark.read.option("basePath", f"{path}/sigs")
              .parquet(*sources.values())
              .groupBy(id_col)
              .agg(F.max_by("sig", BATCH_COL).alias("sig"))
              .localCheckpoint(eager=False))  # one merge feeds both tables
    swap_generation(spark, [
        (f"{path}/sigs", latest.write),
        (f"{path}/bands", band_rows(latest, id_col, k, bands).write),
    ], sources, [f"{path}/{t}/{BATCH_COL}={b}"
                 for t in ("sigs", "bands") for b in sources])


def write_bucketed_bands(spark: SparkSession, index_path: str,
                         table_name: str, n_buckets: int = 8) -> None:
    """Materialize the index's band table as a managed parquet table
    bucketed (and sorted) by ``bucket`` — the layout for RECURRING
    index-vs-index joins (cross-shard or cross-epoch candidate
    generation, where neither side is small enough to broadcast): both
    sides arrive hash-distributed on the join key, so the join plans
    with no Exchange at all (pinned by tests/test_scale_contracts.py::
    test_index_vs_index_join_is_shuffle_free). The per-ingest probe
    path keeps reading the plain parquet layout; this sink is the
    amortized-read companion, not a replacement."""
    from sunat_rree_demo_spark.sources.sinks import write_bucketed_table

    bands = spark.read.parquet(f"{index_path}/bands")
    # bucket on the FULL (band, bucket) join key: co-partitioned joins
    # need every cluster key bucketed (requireAllClusterKeysForCoPartition)
    write_bucketed_table(spark, bands, table_name, ["band", "bucket"],
                         n_buckets)


def _probe_candidates(new_sig: DataFrame, idx_bands: DataFrame,
                      id_col: str, k: int, bands: int) -> DataFrame:
    """Distinct candidate (id1 < id2) pairs touching the batch, as ONE
    SQL text on the batch's session: the batch's band rows broadcast,
    and the stored bands ∪ the batch's own band rows probe them on
    (band, bucket) — new-vs-index and new-vs-new in one map-side join,
    the corpus side never shuffled."""
    band_sql = _band_sql(k, bands)
    return new_sig.sparkSession.sql(f"""
    SELECT /*+ BROADCAST(n) */ DISTINCT
           least(b.`{id_col}`, n._nid) AS id1,
           greatest(b.`{id_col}`, n._nid) AS id2
    FROM (SELECT `{id_col}`, band, bucket FROM {{idx}}
          UNION ALL
          SELECT `{id_col}`, {band_sql} FROM {{sig}}) b
    JOIN (SELECT `{id_col}` AS _nid, {band_sql} FROM {{sig}}) n
      ON b.band = n.band AND b.bucket = n.bucket AND b.`{id_col}` != n._nid
    """, sig=new_sig, idx=idx_bands)


def _probe_estimates(cand: DataFrame, new_sig: DataFrame,
                     idx_sigs: DataFrame, id_col: str, k: int,
                     threshold: float) -> DataFrame:
    """The estimate step of the probe, as ONE SQL text on the batch's
    session: the stored and the batch's signatures are read only
    through a broadcast semi-join on the candidate ids, then resolved
    latest-batch-wins at candidate scale (``max_by`` over the batch id;
    the batch's own signatures carry the largest id, so a re-ingested
    doc's NEW signature wins) — the corpus table is never shuffled."""
    return new_sig.sparkSession.sql(f"""
    WITH ids AS (SELECT explode(array(id1, id2)) AS _id FROM {{cand}}),
    latest AS (
      SELECT /*+ BROADCAST(ids) */ v.`{id_col}`, max_by(v.sig, v._bid) AS sig
      FROM (SELECT `{id_col}`, sig, {BATCH_COL} AS _bid FROM {{idx}}
            UNION ALL
            SELECT `{id_col}`, sig, {_NEWEST}L AS _bid FROM {{sig}}) v
      LEFT SEMI JOIN ids ON v.`{id_col}` = ids._id
      GROUP BY v.`{id_col}`)
    """ + _estimate_sql("{cand}", "latest", id_col, k, threshold),
        cand=cand, sig=new_sig, idx=idx_sigs)


def incremental_near_dup_pairs(spark: SparkSession, new_docs: DataFrame,
                               path: str, id_col: str = "doc_id",
                               text_col: str = "text", n: int = 5,
                               k: int = MINHASH_K, bands: int = LSH_BANDS,
                               threshold: float = 0.3,
                               new_sig: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs (id1 < id2, jaccard_est ≥ threshold) touching the
    new batch: new-vs-index plus new-vs-new. Identical estimates to the
    batch-global ``minhash_lsh_pairs`` restricted to pairs with at
    least one new doc — pinned by tests/test_dedup_index.py.
    ``new_sig`` lets the caller share one checkpointed signature frame
    between this probe and the subsequent ``absorb_batch``.

    The candidate and estimate steps are each one SQL text whose frames
    enter as temp views, so everything runs on the session the batch's
    signatures belong to (in a stream that is the micro-batch's own
    session, not ``spark``): the index reads, their empty fallback and
    both queries."""
    if new_sig is None:
        new_sig = minhash_signatures(new_docs, id_col, text_col, n, k) \
            .localCheckpoint()
    bs = new_sig.sparkSession
    id_type = new_sig.schema[id_col].dataType.simpleString()
    idx_bands = _read_or_empty(
        bs, f"{path}/bands",
        f"`{id_col}` {id_type}, band int, bucket string, {BATCH_COL} long")
    idx_sigs = _read_or_empty(
        bs, f"{path}/sigs",
        f"`{id_col}` {id_type}, sig array<bigint>, {BATCH_COL} long")
    # Eagerly checkpointed: cand feeds both the estimate join and the
    # candidate-id semi-join, and an unmaterialized cand would probe the
    # corpus-side band table once per plan branch. Candidate sets are
    # band-collision-sized (tiny), so this is a cheap action.
    cand = _probe_candidates(new_sig, idx_bands, id_col, k, bands) \
        .localCheckpoint()
    return _probe_estimates(cand, new_sig, idx_sigs, id_col, k, threshold)


def cross_index_candidates(spark: SparkSession, path_a: str, path_b: str,
                           table_a: str, table_b: str,
                           id_col: str = "doc_id",
                           n_buckets: int = 8) -> DataFrame:
    """Index-vs-index candidate generation between two dedup-index
    GENERATIONS (shards, epochs, or merging corpora) where NEITHER side
    is small enough to broadcast: both band tables are materialized
    through the bucketed sink on the full (band, bucket) join key, so
    the candidate equi-join planned between them has NO Exchange — each
    task streams one bucket file from each side (pinned by
    tests/test_scale_contracts.py::test_index_vs_index_join_is_shuffle_free
    and the q185 plan contract). This is the cross-shard path the
    module docstring promises beyond the broadcast-probe ingest flow.

    Returns distinct (id1 from A, id2 from B) pairs sharing any
    (band, bucket); the caller joins signatures for estimates
    (``estimate_pairs``)."""
    write_bucketed_bands(spark, path_a, table_a, n_buckets)
    write_bucketed_bands(spark, path_b, table_b, n_buckets)
    a = spark.table(table_a).select(
        "band", "bucket", F.col(id_col).alias("id1"))
    b = spark.table(table_b).select(
        "band", "bucket", F.col(id_col).alias("id2"))
    return a.join(b, ["band", "bucket"]).select("id1", "id2").distinct()


def forget_ids(spark: SparkSession, path: str, ids: list,
               id_col: str = "doc_id", k: int = MINHASH_K,
               bands: int = LSH_BANDS) -> list[int]:
    """DELETION PROPAGATION (right-to-be-forgotten): remove the given
    doc ids from the index, rewriting ONLY the batch partitions that
    contain them — one scan of the bands finds the touched batches
    (the id list broadcasts), every untouched partition's files stay
    byte-identical (test-pinned), so maintenance cost scales with the
    deletion's spread, not the corpus. Band rows REGENERATE from the surviving
    signatures (the compaction rule: bands are a pure function of
    sigs, the tables cannot drift). Returns the touched batch ids.

    OFFLINE maintenance like ``compact_minhash_index``: each touched
    batch is rewritten by ``_write_batch`` (marker cleared first,
    restored by the bands write, the last), but the pass as a whole is
    not transactional against a concurrent absorb; bands hold an id
    until its batch's rewrite is done, so a re-run finishes a crashed
    one."""
    id_df = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    touched = sorted(
        r[BATCH_COL]
        for r in spark.read.parquet(f"{path}/bands")
        .join(F.broadcast(id_df), id_col, "left_semi")
        .select(BATCH_COL).distinct().collect())
    for bid in touched:
        keep = (spark.read.parquet(f"{path}/sigs/{BATCH_COL}={bid}")
                .join(F.broadcast(id_df), id_col, "left_anti")
                .localCheckpoint())  # sever lineage from files replaced
        _write_batch(spark, keep, path, bid, id_col, k, bands)
    return touched
