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
a periodic compaction (merge the visible partials into one negative-id
generation through ``batch_store.swap_generation``, which also lays
the generation's ``_COVERS_<n>`` mark) keeps reads O(domain), the
dedup_index compaction analog.
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
    _hadoop_fs,
    committed_batch_dirs,
    drain,
    marker_committed,
    swap_generation,
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


def _visible_hist_dirs(spark: SparkSession,
                       store_path: str) -> tuple[dict[int, str], int]:
    """Committed batch dirs a READER should merge, and the covers n of
    the visible generation (-1 without one). Histogram merge is
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
    gen_bid, covers = live[0] if live else (None, -1)  # most negative = newest
    return {bid: d for bid, d in sorted(dirs.items())
            if bid == gen_bid or (bid > covers and bid >= 0)}, covers


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
    dirs, _covers = _visible_hist_dirs(spark, store_path)
    if not dirs:
        return local_df(spark, [], "bin bigint, c bigint")
    return merge_histograms(spark.read.parquet(*dirs.values()))


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

    CRASH-SAFE at every step: the merged generation is written FIRST
    (``swap_generation``), made visible by its ``_COVERS_<n>``
    supersession mark (see ``_visible_hist_dirs`` — additive merge
    means coexistence must be resolved by supersession, not
    latest-wins), and only then are the absorbed directories retired.
    Crash before the mark → readers still merge the originals, a
    re-run rebuilds the torn target under a fresh id and retires it;
    crash mid-retire → readers already resolve through the mark, a
    re-run (which keeps a single visible generation as it is)
    finishes the cleanup.

    n is the highest epoch the generation holds: its merged positives
    and the covers of the generation it absorbed. Every committed
    batch up to n is retired — the merged ones and leftovers a crashed
    retire left under an older mark; positive TORN batches belong to
    the stream writer and heal by replay."""
    dirs, covers = _visible_hist_dirs(spark, store_path)
    if not dirs:
        return
    covers = max(covers, *dirs)
    hist = f"{store_path}/hist"
    swap_generation(
        spark, [(hist, merge_histograms(
            spark.read.parquet(*dirs.values())).write)],
        dirs, [d for b, d in committed_batch_dirs(spark, hist, hist).items()
               if b <= covers],
        mark=f"_COVERS_{covers}")


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
