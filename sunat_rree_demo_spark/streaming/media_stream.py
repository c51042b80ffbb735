"""Streaming PERCEPTUAL media dedup: the multimodal member of the
streaming-ingest family (r8; video keys r9) — media batches arrive,
each payload is routed by magic bytes (plans.curate_media.route_media,
including the animated-GIF-is-video probe), images are decoded for
real and keyed by their 64-bit dHash
(operators.multimodal.image_dhash), VIDEOS (Motion-JPEG AVI and
animated GIF, ≥2 frames) by their frame-brightness fingerprint
(operators.multimodal.video_fingerprint, stored under a ``v:`` prefix
so a video key can never collide with a bare 16-hex image key), and
AUDIO (WAV/FLAC) by its frame-energy fingerprint (q223's device,
``a:``-prefixed — r9 completes the perceptual modality matrix in the
stream); only keys never committed before survive. Because dHash collapses
re-encodes, format changes and resolution changes of the same picture
to ONE key (the q230-verified contract), and the video fingerprint
collapses re-muxed/re-coded/re-rated footage the same way (the
q235/q238 contract), the exact equi-anti-join against the committed
key store is already a NEAR-duplicate gate — no banded Hamming pass
is needed for the dominant duplicate class a crawl actually ships
(the same media re-hosted in a different container). Distance-1..3
perturbed variants are the batch job's territory
(``dhash_hamming_pairs``); this stream keeps ingest O(batch).

Per micro-batch:

1. route + decode + key every payload (Arrow passes; undecodable,
   sub-grid, single-frame-footage, shorter-than-two-frames audio and
   text media yield a null key and pass through ungated — a router,
   not a black hole; exact-digest gates own the bytes the perceptual
   keyers cannot see). CORRUPT media — a recognized magic whose body
   fails decode — also key NULL here (the keyers run in their
   ``corrupt="null"`` quarantine mode): an unattended exactly-once
   stream replays a failed batch verbatim, so a poison payload that
   aborted the task would wedge ingest FOREVER; quarantined rows are
   kept, never deleted, and the batch jobs keep the loud default;
2. keep the min-id row per hash WITHIN the batch;
3. anti-join the committed hash store — survivors are genuinely new
   pictures;
4. write per-batch partitions: hashes first, KEPT LAST — its
   ``_SUCCESS`` is the commit marker (the bloom_stream protocol).

Exactly-once: a committed batch id short-circuits; a crash replay
recomputes identical partitions from committed state only and
overwrites them byte-identically.

EXACTNESS: the drained kept set equals the batch-global perceptual
dedup (min-id election over the same keys) row-for-row when files
arrive in ascending-id order — pinned by tests/test_media_stream.py,
including a cross-format image duplicate AND a re-muxed video
duplicate (AVI → animated GIF) arriving in a LATER batch than their
originals.

Scale: the store holds short hex keys, never pixels or frames; the per-batch
anti-join is broadcast-sized on the batch side. When the store outgrows
a plain scan, bucket it on the hash (operators.dedup_index's layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sunat_rree_demo_spark.localrel import local_df

from sunat_rree_demo_spark.operators.multimodal import (
    delta_sign_fingerprint,
    image_dhash,
    pcm_frame_energy,
    video_fingerprint,
    video_frame_stats,
)
from sunat_rree_demo_spark.plans.curate_media import route_media
from sunat_rree_demo_spark.sources.batch_store import (
    BATCH_COL,
    drain,
    marker_committed,
    read_committed,
    write_batch,
)


def perceptual_keys(batch_df: DataFrame,
                    id_col: str = "media_id") -> DataFrame:
    """(id_col, dhash) for every input row: image rows carry their
    bare 16-hex dHash (the r8 store format, unchanged on disk), video
    rows ``v:`` + the frame-sequence fingerprint and audio rows
    ``a:`` + the frame-energy fingerprint (r9 — the full perceptual
    modality matrix streams; text stays with the exact-digest gates,
    which is a different stream by design), everything else NULL.
    One routing pass feeds the keyers (the routed frame is
    localCheckpointed — a micro-batch is bounded, and without it each
    keyer branch re-reads the source and re-runs the sniff walk); rows
    no keyer can fingerprint (gated codecs, sub-grid images,
    single-frame footage, shorter-than-two-frames audio, and CORRUPT
    payloads — the keyers run in quarantine mode here, see the module
    docstring) keep NULL through the left join."""
    routed = route_media(
        batch_df.select(F.col(id_col).alias("media_id"), "content")) \
        .localCheckpoint()
    img = (
        image_dhash(routed.filter(F.col("modality") == "image")
                    .select("media_id", "content"), corrupt="null")
        .select("media_id", "dhash")
    )
    vid = (
        video_fingerprint(
            video_frame_stats(
                routed.filter(F.col("modality") == "video")
                .select("media_id", "content"), every_n=1,
                corrupt="null"))
        .select("media_id",
                F.concat(F.lit("v:"), "fp").alias("dhash"))
    )
    aud = (
        delta_sign_fingerprint(
            pcm_frame_energy(
                routed.filter(F.col("modality") == "audio")
                .select("media_id", "content"), corrupt="null"),
            "media_id", "frame_no", "rms")
        .select("media_id",
                F.concat(F.lit("a:"), "fp").alias("dhash"))
    )
    return (
        routed.select("media_id")
        .join(img.unionByName(vid).unionByName(aud), "media_id", "left")
        .select(F.col("media_id").alias(id_col), "dhash")
    )


def committed_hashes(spark: SparkSession, store_path: str) -> DataFrame:
    return read_committed(spark, f"{store_path}/hashes",
                          f"{store_path}/kept", "dhash string") \
        .select("dhash")


def process_media_batch(spark: SparkSession, batch_df: DataFrame,
                        batch_id: int, store_path: str,
                        id_col: str = "media_id") -> None:
    """One idempotent micro-batch of the perceptual dedup gate.

    ``batch_df`` needs (id_col, content). Kept rows carry
    (id_col, dhash nullable): keyable media (images by dHash, videos
    by ``v:``- and audio by ``a:``-prefixed fingerprints) survive iff
    their key is new to (store ∪ earlier-in-batch); null-key rows
    (junk/text, sub-grid images, single-frame footage, too-short
    audio, and quarantined corrupt media) are KEPT ungated — a
    perceptual gate must never eat what it cannot see, downstream
    exact-digest gates own those."""
    if marker_committed(spark, f"{store_path}/kept", batch_id):
        return
    hashed = (
        perceptual_keys(batch_df, id_col)
        .localCheckpoint()  # key once: feeds the gate, stats + writes
    )
    gated = (
        hashed.filter(F.col("dhash").isNotNull())
        .groupBy("dhash").agg(F.min(id_col).alias(id_col))
        .join(committed_hashes(spark, store_path), "dhash", "left_anti")
    )
    ungated = hashed.filter(F.col("dhash").isNull())
    kept = gated.select(id_col, "dhash") \
        .unionByName(ungated.select(id_col, "dhash")) \
        .localCheckpoint()
    n_media = hashed.count()
    n_ungated = ungated.count()
    stats = local_df(spark, 
        [(batch_id, n_media, n_media - n_ungated, n_ungated,
          kept.count())],
        f"{BATCH_COL} long, n_media long, n_hashed long, "
        "n_ungated long, n_kept long")
    write_batch(spark, batch_id, [
        (f"{store_path}/stats", stats.write),
        (f"{store_path}/hashes",
         kept.filter(F.col("dhash").isNotNull()).select("dhash").write),
        (f"{store_path}/kept", kept.write),  # the commit marker, last
    ])


def run_media_dedup_stream(spark: SparkSession, media_stream: DataFrame,
                           store_path: str, id_col: str = "media_id",
                           timeout: int = 300) -> None:
    """Drain the stream through ``process_media_batch`` (availableNow,
    resumable from the checkpoint under the store)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_media_batch(spark, batch_df, batch_id, store_path,
                            id_col=id_col)

    drain(media_stream, handle, store_path, timeout, "media dedup")


def load_kept(spark: SparkSession, store_path: str,
              id_col: str = "media_id") -> DataFrame:
    """``id_col`` must match the one the batches were processed with —
    the empty-store fallback schema carries it (review finding r8)."""
    kept = f"{store_path}/kept"
    return read_committed(spark, kept, kept, f"{id_col} long, dhash string")


def load_gate_stats(spark: SparkSession, store_path: str) -> DataFrame:
    return read_committed(
        spark, f"{store_path}/stats", f"{store_path}/kept",
        f"{BATCH_COL} long, n_media long, n_hashed long, "
        "n_ungated long, n_kept long")
