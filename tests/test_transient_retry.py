"""The transient-storage retry policy (r7 EIO blips, narrowed r8):
which failures may be retried once, which must stay loud — plus the
codec-degradation contract for gated-but-well-formed media variants.

Review findings r7: (a) bare ``FileNotFoundException`` was a retry
ticket, but this repo's own real lifecycle bugs (janitor reaping a
live table, torn-batch reads) carry exactly that signature — now only
Spark SCRATCH paths (shuffle / block manager / output-committer temp)
qualify; (b) ``write_bucketed_table``'s DROP-TABLE retry cleanup would
destroy a pre-existing table if a future caller passed mode='append'.
"""

from __future__ import annotations

import pytest

from sunat_rree_demo_spark.sources.batch_store import (
    is_transient_storage_error,
    retry_transient_write,
)


def test_transient_signatures_detected():
    assert is_transient_storage_error(
        RuntimeError("[TASK_WRITE_FAILED] Task failed while writing rows"))
    assert is_transient_storage_error(
        OSError("java.io.IOException: Input/output error"))
    # FileNotFoundException on Spark scratch paths: retryable
    assert is_transient_storage_error(RuntimeError(
        "java.io.FileNotFoundException: /tmp/blockmgr-1c2/0d/"
        "temp_shuffle_abc (No such file or directory)"))
    assert is_transient_storage_error(RuntimeError(
        "java.io.FileNotFoundException: /tmp/spark-xyz/_temporary/0/"
        "task_2024/part-00000.parquet"))


def test_scratch_marker_on_other_line_is_not_transient():
    """A data-file FNF whose TRACE happens to mention scratch paths in
    later frames must not be classified transient: the marker counts
    only on the exception's own line (review finding r8)."""
    assert not is_transient_storage_error(RuntimeError(
        "java.io.FileNotFoundException: spark-warehouse/t/part-0.parquet"
        " (No such file or directory)\n"
        "\tat org.apache.spark...\n"
        "\tSuppressed: cleanup of /tmp/x/_temporary/0 failed"))
    # but the marker on the SAME line stays retryable
    assert is_transient_storage_error(RuntimeError(
        "java.io.FileNotFoundException: /tmp/x/_temporary/0/part-0 "
        "(Input error)\n\tat org..."))


def test_missing_data_file_is_not_transient():
    """The r6 janitor bug's signature — FileNotFoundException on a DATA
    path — must NOT be retried: a second chance there blurs a real
    regression class (review finding r7)."""
    exc = RuntimeError(
        "java.io.FileNotFoundException: "
        "spark-warehouse/xshard_idx_local_17/part-00000.parquet "
        "(No such file or directory)")
    assert not is_transient_storage_error(exc)
    calls = []

    def write_fn():
        calls.append(1)
        raise exc

    with pytest.raises(RuntimeError):
        retry_transient_write(write_fn)
    assert len(calls) == 1  # no second attempt


def test_non_storage_errors_propagate_unretried():
    calls = []

    def write_fn():
        calls.append(1)
        raise ValueError("schema mismatch")

    with pytest.raises(ValueError):
        retry_transient_write(write_fn)
    assert len(calls) == 1


def test_retry_once_with_cleanup_on_real_blip():
    events = []

    def write_fn():
        events.append("write")
        if events.count("write") == 1:
            raise OSError("Input/output error")

    retry_transient_write(write_fn, cleanup=lambda: events.append("clean"))
    assert events == ["write", "clean", "write"]


def test_write_bucketed_append_bypasses_retry(spark, monkeypatch):
    """mode != 'overwrite' must take the plain-write path: the retry's
    DROP-TABLE cleanup would discard every pre-existing row, and even
    without the drop an append retry double-appends."""
    from sunat_rree_demo_spark.sources import batch_store
    from sunat_rree_demo_spark.sources.sinks import write_bucketed_table

    def forbidden(*_a, **_k):  # pragma: no cover - failure path
        raise AssertionError("append must not route through the retry")

    monkeypatch.setattr(batch_store, "retry_transient_write", forbidden)
    name = "t_append_retry_guard"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = spark.range(3).withColumnRenamed("id", "k")
    try:
        write_bucketed_table(spark, df, name, "k", n_buckets=2,
                             mode="append")
        write_bucketed_table(spark, df, name, "k", n_buckets=2,
                             mode="append")
        assert spark.table(name).count() == 6  # both appends landed
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
