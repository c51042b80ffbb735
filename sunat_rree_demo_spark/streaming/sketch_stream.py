"""Streaming mergeable quantile sketch: each micro-batch contributes an
equi-width (bin, count) partial histogram; the serving side merges
committed partials by bin-wise addition and extracts quantiles with the
exact-integer device — the cross-batch proof of the property q189
demonstrates within one query (per-flag partials → 'ALL' merge).

Because the merge is plain addition, the drained sketch is IDENTICAL to
the batch histogram over the union of the data, for any batch split —
no decay, no centroid drift, no merge-order sensitivity (contrast
t-digest/GK sketches, whose merges are approximate and order-
dependent). Pinned three ways by tests/test_sketch_stream.py: streamed
≡ batch operator ≡ q189's 'ALL' rows.

State layout: ``hist/batch_id=N`` partitions, each batch's own
overwrite with parquet's ``_SUCCESS`` as the commit marker — the same
exactly-once protocol as the cms/novelty/bloom streams (replay
rewrites byte-identically, torn batches invisible to readers).

Scale: a partial is at most |bin domain| rows per batch regardless of
batch size (map-side combine); the store grows by bins-per-batch, and
a periodic compaction (merge committed partials into one negative-id
batch) keeps reads O(domain), the dedup_index compaction analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.localrel import local_df

from sunat_rree_demo_spark.operators.sketches import (
    HIST_BIN_CENTS,
    QUANTILE_PROBES,
    equi_width_histogram,
    histogram_quantiles,
    merge_histograms,
)
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    _hadoop_fs,
    all_batch_dirs,
    committed_batch_dirs,
    delete_dirs,
    drain,
    marker_committed,
    touch_marker,
    write_batch,
)


def _covers_of(spark: SparkSession, hist_dir: str) -> int | None:
    """The ``_COVERS_<n>`` supersession marker of a compacted
    generation, or None if absent (torn compaction — invisible)."""
    fs, jdir = _hadoop_fs(spark, hist_dir)
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if name.startswith("_COVERS_"):
            return int(name[len("_COVERS_"):])
    return None


def _visible_hist_dirs(spark: SparkSession, store_path: str) -> list[str]:
    """Committed batch dirs a READER should merge. Histogram merge is
    ADDITIVE (unlike the bloom store's set-idempotent probes), so
    write-first compaction needs explicit supersession to keep the
    coexistence window benign: a negative-id compacted generation is
    visible ONLY once its ``_COVERS_<n>`` marker landed (written after
    the parquet commit), and when visible it supersedes every OTHER
    negative generation and every positive (stream-epoch) batch with
    id <= n — so a reader never double-counts a batch that the
    compacted generation already absorbed but whose directory has not
    been deleted yet. Epoch monotonicity makes the single high-water
    mark n sufficient: batches absorbed after a compaction always get
    larger ids."""
    hist = f"{store_path}/hist"
    dirs = committed_batch_dirs(spark, hist, hist)
    gens = sorted((bid, _covers_of(spark, d))
                  for bid, d in dirs.items() if bid < 0)
    live = [(bid, cov) for bid, cov in gens if cov is not None]
    if not live:
        return [d for bid, d in sorted(dirs.items()) if bid >= 0]
    gen_bid, covers = live[0]  # most negative = newest generation
    return [dirs[gen_bid]] + [d for bid, d in sorted(dirs.items())
                              if bid > covers and bid >= 0]


def process_sketch_batch(spark: SparkSession, batch_df: DataFrame,
                         batch_id: int, store_path: str,
                         cents_col: str = "price_cents",
                         width: int = HIST_BIN_CENTS) -> None:
    """One idempotent micro-batch: write the batch's partial histogram
    into its own partition (the write's ``_SUCCESS`` is the marker)."""
    if marker_committed(spark, f"{store_path}/hist", batch_id):
        return
    part = equi_width_histogram(batch_df, F.col(cents_col), width)
    write_batch(spark, batch_id, [(f"{store_path}/hist", part.write)])


def merged_sketch(spark: SparkSession, store_path: str) -> DataFrame:
    """The accumulated (bin, c) histogram over committed batches."""
    dirs = _visible_hist_dirs(spark, store_path)
    if not dirs:
        return local_df(spark, [], "bin bigint, c bigint")
    return merge_histograms(spark.read.parquet(*dirs))


def load_sketch_quantiles(spark: SparkSession, store_path: str,
                          probes=QUANTILE_PROBES,
                          width: int = HIST_BIN_CENTS) -> DataFrame:
    return histogram_quantiles(merged_sketch(spark, store_path),
                               probes, width)


def compact_sketch(spark: SparkSession, store_path: str) -> None:
    """Collapse the visible partials into one negative-id generation
    (the dedup_index compaction rule: negative ids never collide with
    stream epochs; OFFLINE maintenance — not transactional against a
    concurrent absorb).

    CRASH-SAFE in any window (review finding r6: the original
    delete-before-write ordering lost the accumulated histogram on a
    crash between the deletes and the write): the merged generation is
    written FIRST, made visible by its ``_COVERS_<n>`` supersession
    marker (see ``_visible_hist_dirs`` — additive merge means
    coexistence must be resolved by supersession, not latest-wins),
    and only then are the absorbed directories deleted. Crash before
    the marker → readers still merge the originals, a re-run rebuilds
    the torn target under a fresh id and reaps it; crash mid-delete →
    readers already resolve through the marker, a re-run finishes the
    cleanup."""
    hist = f"{store_path}/hist"
    every = all_batch_dirs(spark, hist)
    dirs = _visible_hist_dirs(spark, store_path)
    if not dirs:
        return
    bids = [int(d.rsplit("=", 1)[1]) for d in dirs]
    if len(dirs) == 1 and bids[0] < 0:
        # already a single compacted generation: keep it as the target
        # (no rewrite) but still fall through to the reaping loop — a
        # crash mid-delete can leave superseded/torn leftovers behind.
        # `is None` guard, not `or`: stream epochs start at 0, so a
        # legitimate _COVERS_0 is falsy (review finding r7 — the `or`
        # form skipped reaping a crash-left batch_id=0 forever)
        target = bids[0]
        cov = _covers_of(spark, dirs[0])
        covers = cov if cov is not None else -1
    else:
        # lower than ANY existing dir — including torn targets a
        # crashed compaction left behind, so the rebuild never
        # overwrites one mid-heal under a reused id
        target = min(min(every), 0) - 1
        merged = merge_histograms(spark.read.parquet(*dirs))
        write_batch(spark, target, [(hist, merged.write)])
        covers = max([b for b in bids if b >= 0], default=-1)
        if min(bids) < 0:  # absorbed generation's covers carry over
            cov = _covers_of(spark, dirs[0])
            covers = max(covers, cov if cov is not None else -1)
        touch_marker(spark, f"{hist}/{BATCH_COL}={target}",
                     f"_COVERS_{covers}")
    # the target is visible now; retire everything it absorbed or
    # supersedes — other negative generations (incl. torn targets),
    # the merged positives, and committed positive leftovers a crashed
    # delete phase left under the covers mark. Positive TORN batches
    # belong to the stream writer and heal by replay — leave them.
    delete_dirs(spark, [
        d for bid, d in every.items() if bid != target and (
            bid < 0 or bid in bids
            or (bid <= covers and marker_committed(spark, hist, bid)))])


def run_sketch_stream(spark: SparkSession, stream: DataFrame,
                      store_path: str, cents_col: str = "price_cents",
                      width: int = HIST_BIN_CENTS,
                      timeout: int = 300) -> None:
    """Drain the stream through ``process_sketch_batch`` (availableNow,
    resumable from the checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_sketch_batch(spark, batch_df, batch_id, store_path,
                             cents_col=cents_col, width=width)

    drain(stream, handle, store_path, timeout, "sketch")
