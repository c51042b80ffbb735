"""Streaming perceptual media dedup (r8): the drained kept set equals
the batch-global dHash dedup, cross-FORMAT duplicates arriving in later
batches are caught (the q230 contract as streaming state), null-hash
media pass through ungated, and replay is idempotent."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


def _img(text: bytes, fmt: int) -> bytes:
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_bmp_gray,
        encode_gif_gray,
        encode_jpeg_gray_blocks,
        encode_png_gray,
        encode_tiff_gray,
    )

    enc = (encode_png_gray, encode_jpeg_gray_blocks, encode_gif_gray,
           encode_bmp_gray, encode_tiff_gray)[fmt % 5]
    return enc(text, 9)


@pytest.fixture(scope="module")
def media_three_files(spark, tmp_path_factory):
    """Three id-ordered parquet files of media: file 1 ships originals;
    files 2 and 3 re-ship some of file 1's PICTURES in different
    formats under new ids, plus fresh pictures, plus an undecodable
    payload (null hash)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(21)
    texts = [bytes(rng.randint(32, 127, 72, dtype=np.uint8).astype(np.uint8))
             for _ in range(12)]
    d = tmp_path_factory.mktemp("media_stream")

    def write(name, rows):
        ids, payloads = zip(*rows)
        pq.write_table(pa.table({
            "media_id": pa.array(ids, pa.int64()),
            "content": pa.array(payloads, pa.binary())}),
            d / name)

    # file 1: originals 0..5 as PNG
    write("part1.parquet", [(i, _img(texts[i], 0)) for i in range(6)])
    # file 2: re-ship 0,1 as GIF/BMP (new ids), fresh 6..8 as JPEG,
    # one junk payload
    write("part2.parquet",
          [(100, _img(texts[0], 2)), (101, _img(texts[1], 3))]
          + [(110 + i, _img(texts[i], 1)) for i in (6, 7, 8)]
          + [(120, b"\x00junk not an image")])
    # file 3: re-ship 2 as TIFF and 6 as PNG, fresh 9..11
    write("part3.parquet",
          [(200, _img(texts[2], 4)), (201, _img(texts[6], 0))]
          + [(210 + i, _img(texts[i], i)) for i in (9, 10, 11)])
    # FileStreamSource orders by modification time, which can TIE at
    # millisecond granularity for back-to-back writes — pin strictly
    # ascending mtimes so part1 is batch 0 (review finding r8)
    import os
    import time

    base = time.time() - 60
    for k, name in enumerate(("part1.parquet", "part2.parquet",
                              "part3.parquet")):
        os.utime(d / name, (base + k, base + k))
    return str(d), texts


def _stream(spark, directory):
    return (spark.readStream
            .schema("media_id long, content binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(directory))


def test_streamed_media_dedup_equals_batch_global(spark, tmp_path,
                                                  media_three_files):
    from sunat_rree_demo_spark.operators.multimodal import image_dhash
    from sunat_rree_demo_spark.streaming.media_stream import (
        load_gate_stats,
        load_kept,
        run_media_dedup_stream,
    )

    directory, _ = media_three_files
    store = str(tmp_path / "media_store")
    run_media_dedup_stream(spark, _stream(spark, directory), store)

    kept = load_kept(spark, store)
    got = {r.media_id for r in kept.collect()}

    # batch-global reference: min id per hash + all null-hash rows
    full = spark.read.parquet(directory)
    hashed = image_dhash(full)
    want = {r.media_id for r in
            hashed.filter("dhash IS NOT NULL").groupBy("dhash")
            .agg(F.min("media_id").alias("media_id")).collect()} \
        | {r.media_id for r in
           hashed.filter("dhash IS NULL").collect()}
    assert got == want and want

    # the cross-format re-ships were all dropped; the junk passed
    assert {100, 101, 200, 201}.isdisjoint(got)
    assert 120 in got

    stats = {r.batch_id: r for r in load_gate_stats(spark, store).collect()}
    assert len(stats) == 3
    assert stats[0].n_kept == 6            # originals all new
    assert stats[1].n_ungated == 1         # the junk payload
    assert stats[1].n_kept == 4            # 3 fresh + junk; 2 dups gone
    assert stats[2].n_kept == 3            # 3 fresh; 2 dups gone


def test_media_batch_replay_is_idempotent(spark, tmp_path,
                                          media_three_files):
    from sunat_rree_demo_spark.sources.batch_store import (
        clear_commit_marker,
        marker_committed,
    )
    from sunat_rree_demo_spark.streaming.media_stream import (
        load_kept,
        process_media_batch,
    )

    directory, _ = media_three_files
    store = str(tmp_path / "media_store_replay")
    b1 = spark.read.parquet(f"{directory}/part1.parquet")
    b2 = spark.read.parquet(f"{directory}/part2.parquet")
    process_media_batch(spark, b1, 0, store)
    process_media_batch(spark, b2, 1, store)
    before = sorted((r.media_id, r.dhash)
                    for r in load_kept(spark, store).collect())
    # committed short-circuit
    assert marker_committed(spark, f"{store}/kept", 1)
    process_media_batch(spark, b2, 1, store)
    assert sorted((r.media_id, r.dhash)
                  for r in load_kept(spark, store).collect()) == before
    # torn-state replay: clear the marker and re-run — byte-identical
    clear_commit_marker(spark, f"{store}/kept/batch_id=1")
    assert not marker_committed(spark, f"{store}/kept", 1)
    process_media_batch(spark, b2, 1, store)
    assert sorted((r.media_id, r.dhash)
                  for r in load_kept(spark, store).collect()) == before


# ---------------------------------------------------------------- r9: video
@pytest.fixture(scope="module")
def video_three_files(spark, tmp_path_factory):
    """Three id-ordered parquet files of FOOTAGE: file 1 ships AVI
    originals; file 2 re-ships clip 0 as an animated GIF (the q238
    cross-container duplicate) plus a fresh clip and a single-frame
    GIF (an IMAGE, not footage); file 3 re-ships clip 1 re-RATED
    (different fps, same frames) plus junk."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_gif_animation,
        encode_gif_gray,
        encode_jpeg_gray_blocks,
    )

    rng = np.random.RandomState(31)
    clips = [[bytes(rng.randint(32, 127, 12, dtype=np.uint8)
                    .astype(np.uint8)) for _ in range(5)]
             for _ in range(4)]

    def avi(ci, fps=5):
        return encode_avi_mjpeg(
            [encode_jpeg_gray_blocks(f, 12) for f in clips[ci]],
            96, 8, fps=fps)

    d = tmp_path_factory.mktemp("video_stream")

    def write(name, rows):
        ids, payloads = zip(*rows)
        pq.write_table(pa.table({
            "media_id": pa.array(ids, pa.int64()),
            "content": pa.array(payloads, pa.binary())}), d / name)

    write("part1.parquet", [(0, avi(0)), (1, avi(1))])
    write("part2.parquet",
          [(100, encode_gif_animation(clips[0], 12, delay_cs=7)),
           (110, avi(2)),
           (120, encode_gif_gray(bytes(rng.randint(
               32, 127, 72, dtype=np.uint8).astype(np.uint8)), 9))])
    write("part3.parquet",
          [(200, avi(1, fps=9)), (210, avi(3)), (220, b"junk")])
    base = time.time() - 60
    for k, name in enumerate(("part1.parquet", "part2.parquet",
                              "part3.parquet")):
        os.utime(d / name, (base + k, base + k))
    return str(d)


def test_streamed_video_dedup_equals_batch_global(spark, tmp_path,
                                                  video_three_files):
    """The fourth modality's streaming twin (r9): the drained kept set
    equals the batch-global perceptual dedup over the SAME keys —
    re-muxed (AVI→GIF) and re-rated duplicates arriving in later
    batches fold; the single-frame GIF routes as an image and the
    junk passes ungated."""
    from sunat_rree_demo_spark.streaming.media_stream import (
        load_gate_stats,
        load_kept,
        perceptual_keys,
        run_media_dedup_stream,
    )

    store = str(tmp_path / "video_store")
    run_media_dedup_stream(spark, _stream(spark, video_three_files),
                           store)
    kept = load_kept(spark, store)
    got = {r.media_id for r in kept.collect()}

    full = spark.read.parquet(video_three_files)
    keyed = perceptual_keys(full)
    want = {r.media_id for r in
            keyed.filter("dhash IS NOT NULL").groupBy("dhash")
            .agg(F.min("media_id").alias("media_id")).collect()} \
        | {r.media_id for r in keyed.filter("dhash IS NULL").collect()}
    assert got == want and want

    # the cross-container and re-rated re-ships folded away
    assert {100, 200}.isdisjoint(got)
    # originals, the fresh clips, the poster-frame image, junk: kept
    assert {0, 1, 110, 120, 210, 220} <= got
    # video keys are v:-prefixed; the poster image's key is bare hex
    keys = {r.media_id: r.dhash for r in kept.collect()}
    assert keys[0].startswith("v:") and keys[210].startswith("v:")
    assert keys[120] is not None and not keys[120].startswith("v:")
    assert keys[220] is None

    stats = {r.batch_id: r for r in
             load_gate_stats(spark, store).collect()}
    assert stats[0].n_kept == 2
    assert stats[1].n_kept == 2      # GIF re-ship of clip 0 dropped
    assert stats[2].n_kept == 2      # re-rated clip 1 dropped
    assert stats[2].n_ungated == 1   # the junk payload


def test_video_batch_replay_is_idempotent(spark, tmp_path,
                                          video_three_files):
    from sunat_rree_demo_spark.sources.batch_store import (
        clear_commit_marker,
        marker_committed,
    )
    from sunat_rree_demo_spark.streaming.media_stream import (
        load_kept,
        process_media_batch,
    )

    store = str(tmp_path / "video_store_replay")
    b1 = spark.read.parquet(f"{video_three_files}/part1.parquet")
    b2 = spark.read.parquet(f"{video_three_files}/part2.parquet")
    process_media_batch(spark, b1, 0, store)
    process_media_batch(spark, b2, 1, store)
    before = sorted((r.media_id, r.dhash)
                    for r in load_kept(spark, store).collect())
    assert marker_committed(spark, f"{store}/kept", 1)
    process_media_batch(spark, b2, 1, store)  # short-circuit
    clear_commit_marker(spark, f"{store}/kept/batch_id=1")
    process_media_batch(spark, b2, 1, store)  # torn-state replay
    assert sorted((r.media_id, r.dhash)
                  for r in load_kept(spark, store).collect()) == before


def test_streamed_audio_dedup_folds_cross_container(spark, tmp_path,
                                                    tmp_path_factory):
    """r9: the audio modality streams through the same perceptual key
    store — a FLAC re-ship of a WAV original arriving in a LATER
    batch folds to one a:-prefixed key; audio shorter than two energy
    frames passes ungated."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sunat_rree_demo_spark.operators.multimodal import (
        encode_flac_pcm16,
        encode_wav_pcm16,
    )
    from sunat_rree_demo_spark.streaming.media_stream import (
        load_kept,
        run_media_dedup_stream,
    )

    rng = np.random.RandomState(41)
    sig1 = (rng.randint(32, 127, 120).astype(np.int64) - 83) * 256
    sig2 = (rng.randint(32, 127, 120).astype(np.int64) - 83) * 256
    d = tmp_path_factory.mktemp("audio_stream")

    def write(name, rows):
        ids, payloads = zip(*rows)
        pq.write_table(pa.table({
            "media_id": pa.array(ids, pa.int64()),
            "content": pa.array(payloads, pa.binary())}), d / name)

    write("part1.parquet",
          [(0, encode_wav_pcm16(sig1, rate=1000))])
    write("part2.parquet",
          [(100, encode_flac_pcm16(sig1, rate=1000)),  # re-ship
           (110, encode_wav_pcm16(sig2, rate=1000)),   # fresh
           (120, encode_wav_pcm16(np.arange(4, dtype=np.int16),
                                  rate=1000))])        # <2 frames
    base = time.time() - 60
    for k, name in enumerate(("part1.parquet", "part2.parquet")):
        os.utime(d / name, (base + k, base + k))

    store = str(tmp_path / "audio_store")
    run_media_dedup_stream(spark, _stream(spark, str(d)), store)
    kept = {r.media_id: r.dhash for r in
            load_kept(spark, store).collect()}
    assert set(kept) == {0, 110, 120}  # FLAC re-ship folded away
    assert kept[0].startswith("a:") and kept[110].startswith("a:")
    assert kept[0] != kept[110]
    assert kept[120] is None  # too short to fingerprint: ungated


def test_corrupt_media_quarantines_instead_of_wedging(spark, tmp_path):
    """r9 (review finding): a corrupt payload with a recognized magic
    must NOT abort the micro-batch — exactly-once replay would re-run
    the identical batch and wedge ingest forever. The keyers run in
    quarantine mode inside the stream: corrupt media key NULL, are
    KEPT ungated, and the batch commits; the batch operators keep the
    loud ValueError default."""
    import pytest as _pt

    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_flac_pcm16,
        encode_jpeg_gray_blocks,
        encode_png_gray,
        image_dhash,
        pcm_frame_energy,
        video_frame_stats,
    )
    from sunat_rree_demo_spark.sources.batch_store import marker_committed
    from sunat_rree_demo_spark.streaming.media_stream import (
        load_kept,
        process_media_batch,
    )

    sig = (np.arange(120, dtype=np.int64) % 64 - 32) * 256
    flac = bytearray(encode_flac_pcm16(sig, rate=1000))
    flac[len(flac) // 2] ^= 0xFF  # valid fLaC magic, poisoned body
    png = bytearray(encode_png_gray(bytes(range(32, 104)), 9))
    png[33] ^= 0xFF  # valid PNG magic, torn chunk
    avi = bytearray(encode_avi_mjpeg(
        [encode_jpeg_gray_blocks(b"x" * 12, 12)] * 3, 96, 8, fps=5))
    avi[-6] ^= 0xFF  # valid AVI magic, corrupt idx1
    good = encode_png_gray(bytes(range(40, 112)), 9)
    rows = [(1, bytes(flac)), (2, bytes(png)), (3, bytes(avi)),
            (4, bytes(good))]
    df = spark.createDataFrame(rows, "media_id long, content binary")

    # batch operators stay loud on the same payloads
    with _pt.raises(Exception,
                    match="(?i)crc|corrupt|sync|mismatch|truncated"):
        pcm_frame_energy(df.filter("media_id = 1")).collect()
    with _pt.raises(Exception):
        image_dhash(df.filter("media_id = 2")).collect()
    with _pt.raises(Exception):
        video_frame_stats(df.filter("media_id = 3")).collect()

    # the stream quarantines and commits
    store = str(tmp_path / "quarantine_store")
    process_media_batch(spark, df, 0, store)
    assert marker_committed(spark, f"{store}/kept", 0)
    kept = {r.media_id: r.dhash for r in
            load_kept(spark, store).collect()}
    assert set(kept) == {1, 2, 3, 4}
    assert kept[1] is None and kept[2] is None and kept[3] is None
    assert kept[4] is not None  # the healthy image still keys
