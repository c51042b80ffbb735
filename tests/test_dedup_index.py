"""Incremental MinHash index: the batch-incremental result must equal
the batch-global pipeline restricted to pairs touching the new batch —
same signatures, same estimates, bit for bit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def split_docs(spark):
    from sunat_rree_demo_spark.sources.catalog import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    return (d.filter(F.col("doc_id") % 5 != 0),   # corpus (indexed)
            d.filter(F.col("doc_id") % 5 == 0),   # new ingest batch
            d)


def test_incremental_matches_global_restricted(spark, tmp_path, split_docs):
    from sunat_rree_demo_spark.operators.dedup import minhash_lsh_pairs
    from sunat_rree_demo_spark.operators.dedup_index import (
        incremental_near_dup_pairs,
        write_minhash_index,
    )

    corpus, batch, full = split_docs
    idx = str(tmp_path / "idx")
    write_minhash_index(corpus, idx)

    got = {(r.id1, r.id2): r.jaccard_est
           for r in incremental_near_dup_pairs(spark, batch, idx).collect()}

    new_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    want = {(r.id1, r.id2): r.jaccard_est
            for r in minhash_lsh_pairs(full, "doc_id", "text").collect()
            if r.id1 in new_ids or r.id2 in new_ids}
    assert got == want and want, "expected non-empty overlap at sf0.001"


def test_append_extends_index(spark, tmp_path, split_docs):
    from sunat_rree_demo_spark.operators.dedup_index import (
        append_minhash_index,
        incremental_near_dup_pairs,
        write_minhash_index,
    )

    corpus, batch, full = split_docs
    idx = str(tmp_path / "idx2")
    write_minhash_index(corpus, idx)
    append_minhash_index(batch, idx)

    # after absorbing the batch, re-probing the same batch must surface
    # the same cross pairs (now via the index side) — append worked
    n_sigs = spark.read.parquet(f"{idx}/sigs").count()
    assert n_sigs == full.count() - _short_doc_count(spark, full)
    again = incremental_near_dup_pairs(spark, batch, idx)
    assert again.filter("id1 = id2").count() == 0


def _short_doc_count(spark, docs, n=5):
    """Docs shorter than n tokens have no signature (operator contract)."""
    return docs.filter(
        F.size(F.split(F.trim("text"), r"\s+")) < n).count()


def test_compaction_keeps_latest_and_preserves_probes(spark, tmp_path,
                                                      split_docs):
    """Re-ingesting edited docs grows the index by one row per
    re-ingest; compaction must collapse to one latest-signature row per
    id, regenerate consistent band rows, and leave probe results
    unchanged."""
    from sunat_rree_demo_spark.operators.dedup import minhash_signatures
    from sunat_rree_demo_spark.operators.dedup_index import (
        absorb_batch,
        compact_minhash_index,
        incremental_near_dup_pairs,
        write_minhash_index,
    )

    corpus, batch, full = split_docs
    idx = str(tmp_path / "idx3")
    write_minhash_index(corpus, idx)

    # re-ingest a slice of the corpus with EDITED text in a later batch
    edited = (corpus.filter(F.col("doc_id") % 10 == 1)
              .withColumn("text", F.concat(F.col("text"),
                                           F.lit(" edited edited edited"))))
    absorb_batch(edited, idx, batch_id=7)

    n_edited = edited.count()
    sigs = spark.read.parquet(f"{idx}/sigs")
    assert sigs.count() == sigs.select("doc_id").distinct().count() + n_edited

    probe_before = {(r.id1, r.id2): r.jaccard_est
                    for r in incremental_near_dup_pairs(spark, batch,
                                                        idx).collect()}
    compact_minhash_index(spark, idx)

    sigs2 = spark.read.parquet(f"{idx}/sigs")
    assert sigs2.count() == sigs2.select("doc_id").distinct().count()
    # surviving signatures for the edited ids are the EDITED ones
    want = {r.doc_id: list(r.sig) for r in
            minhash_signatures(edited, "doc_id", "text").collect()}
    got = {r.doc_id: list(r.sig) for r in
           sigs2.join(edited.select("doc_id"), "doc_id", "left_semi")
           .collect()}
    assert got == want and want
    # bands regenerated consistently: probe results identical
    probe_after = {(r.id1, r.id2): r.jaccard_est
                   for r in incremental_near_dup_pairs(spark, batch,
                                                       idx).collect()}
    assert probe_after == probe_before and probe_before


@pytest.mark.parametrize("k", [0, 1], ids=["before-sigs", "before-bands"])
def test_compaction_crash_keeps_probes(spark, tmp_path, monkeypatch,
                                       split_docs, k):
    """A compaction that crashes before its sigs or its bands write
    leaves the index it started from: the two tables hold the same
    committed batches and probes return the pre-compaction pairs. A
    re-run leaves one generation with the same probes."""
    from sunat_rree_demo_spark.operators.dedup_index import (
        absorb_batch,
        compact_minhash_index,
        incremental_near_dup_pairs,
        write_minhash_index,
    )
    from pyspark.sql import DataFrameWriter

    from sunat_rree_demo_spark.sources import batch_store

    corpus, batch, _full = split_docs
    idx = str(tmp_path / "crash_idx")
    write_minhash_index(corpus, idx)
    absorb_batch(corpus.filter(F.col("doc_id") % 10 == 1)
                 .withColumn("text", F.concat("text", F.lit(" edited"))),
                 idx, batch_id=0)

    def pairs():
        return {(r.id1, r.id2): r.jaccard_est for r in
                incremental_near_dup_pairs(spark, batch, idx).collect()}

    def committed(table):
        return set(batch_store.committed_batch_dirs(
            spark, f"{idx}/{table}", f"{idx}/bands"))

    want = pairs()
    writes, real = [], DataFrameWriter.parquet

    def crash_at_k(writer, *args, **kw):
        if len(writes) == k:
            raise OSError(f"injected crash before write {k + 1}")
        writes.append(args)
        return real(writer, *args, **kw)

    # the parquet writer itself is patched, so the crash lands whichever
    # module runs the write
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_at_k)
        with pytest.raises(OSError, match="injected crash"):
            compact_minhash_index(spark, idx)
    assert committed("sigs") == committed("bands") == {-1, 0}
    assert pairs() == want and want

    compact_minhash_index(spark, idx)
    left = [list(batch_store.all_batch_dirs(spark, f"{idx}/{table}"))
            for table in ("sigs", "bands")]
    assert left[0] == left[1] and len(left[0]) == 1 and left[0][0] < 0
    assert pairs() == want
