"""Multimodal column handling (driver mandate, SURVEY.md §7.4): media as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` — the real Spark plumbing (schemas, partitioning, batch
shape) with the codec itself STUBBED (no image/audio libraries in this
environment).

Scale notes: binary payloads ride Parquet binary columns; per-file row
groups keep them streamable; ``mapInPandas`` processes Arrow batches so
a decode UDF amortizes Python crossing per-batch, not per-row. Partition
by a content-size bucket (or storage shard) so decode tasks are
even-sized regardless of media size skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

#: The canonical media-table schema: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("content", T.BinaryType(), True),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("byte_len", T.LongType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def docs_as_media(docs: DataFrame, media_type: str = "image/fake") -> DataFrame:
    """Adapter: treat document text bytes as opaque media payloads (the
    testdata has no real media; the engine-side plumbing is identical)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit(media_type).alias("media_type"),
        F.create_map(F.lit("source"), F.col("source"),
                     F.lit("lang"), F.col("lang")).alias("meta"),
    )


def _decode_dims_stub(payload: bytes) -> tuple[int, int]:
    """Fallback for unrecognized codecs: deterministic fake derived from
    the first/last payload bytes so tests have stable expectations."""
    if not payload:
        return (0, 0)
    return (int(payload[0]) + 1, int(payload[-1]) + 1)


#: JPEG frame-header (SOFn) markers carrying dimensions — every 0xC0-0xCF
#: marker except DHT (C4), JPG (C8) and DAC (CC), per ITU-T T.81 §B.2.2.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def decode_dims(payload: bytes) -> tuple[int, int] | None:
    """REAL header parse for the common raster codecs, stdlib-only:

    - PNG: 8-byte signature, then the IHDR chunk — width/height are the
      two big-endian u32 at bytes 16..24 (RFC 2083 §3.1).
    - JPEG: walk the marker segments from SOI (FFD8) to the first SOFn
      frame header; dims are u16 height then width at offsets 3/5 of the
      segment body (ITU-T T.81 §B.2.2).
    - GIF: 'GIF87a'/'GIF89a' signature, then little-endian u16
      width/height in the logical screen descriptor.
    - BMP: 'BM' signature; BITMAPINFOHEADER i32 dims (|height| — it is
      negative for top-down rows) or legacy BITMAPCOREHEADER u16 dims.
    - TIFF: byte-order mark, first-IFD walk for ImageWidth(256)/
      ImageLength(257), SHORT/LONG inline values (TIFF 6.0 §2).

    Returns None when no codec matches — callers fall back to the
    deterministic stub (the honest path for media this environment has
    no decoder for, e.g. video keyframes)."""
    import struct

    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" \
            and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return (w, h)
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:  # desynced / corrupt stream
                return None
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if 0xD0 <= marker <= 0xD9:  # RST/SOI/EOI: no length field
                i += 2
                continue
            (seg_len,) = struct.unpack(">H", payload[i + 2:i + 4])
            if marker in _JPEG_SOF and i + 9 <= len(payload):
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                return (w, h)
            i += 2 + seg_len
        return None
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return (w, h)
    if len(payload) >= 26 and payload[:2] == b"BM":
        # BMP: BITMAPINFOHEADER (u32 size ≥ 40 at offset 14) carries
        # little-endian i32 width/height at 18/22; the legacy
        # BITMAPCOREHEADER (size 12) carries u16s at 18/20. Height may
        # be negative (top-down rows) — dims are |height|.
        (hdr_size,) = struct.unpack("<I", payload[14:18])
        if hdr_size >= 40:
            w, h = struct.unpack("<ii", payload[18:26])
            return (w, abs(h))
        if hdr_size == 12 and len(payload) >= 22:
            w, h = struct.unpack("<HH", payload[18:22])
            return (w, h)
        return None
    if len(payload) >= 8 and payload[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: endianness from the byte-order mark, then walk the
        # first IFD's 12-byte entries for tags 256 (ImageWidth) and
        # 257 (ImageLength); SHORT(3)/LONG(4) inline values only —
        # exactly what baseline encoders write (TIFF 6.0 §2).
        bo = "<" if payload[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
        if ifd_off + 2 > len(payload):
            return None
        (n_entries,) = struct.unpack(
            bo + "H", payload[ifd_off:ifd_off + 2])
        dims = {}
        for e in range(n_entries):
            off = ifd_off + 2 + 12 * e
            if off + 12 > len(payload):
                return None
            tag, typ = struct.unpack(bo + "HH", payload[off:off + 4])
            if tag in (256, 257):
                if typ == 3:        # SHORT: value in the first 2 bytes
                    (v,) = struct.unpack(
                        bo + "H", payload[off + 8:off + 10])
                elif typ == 4:      # LONG
                    (v,) = struct.unpack(
                        bo + "I", payload[off + 8:off + 12])
                else:
                    return None
                dims[tag] = v
        if 256 in dims and 257 in dims:
            return (dims[256], dims[257])
        return None
    return None


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("byte_len", T.LongType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("bits_per_sample", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])


def _decode_flac_streaminfo(payload: bytes) \
        -> tuple[int, int, int, int] | None:
    """REAL stdlib header parse for FLAC: the mandatory first metadata
    block is STREAMINFO (type 0) — sample rate (20 bits), channels−1
    (3), bits−1 (5), total samples (36) packed big-endian at byte 10 of
    the block body (FLAC format spec §METADATA_BLOCK_STREAMINFO).
    Returns the same tuple shape as the WAV parse."""
    if len(payload) < 4 + 4 + 34 or payload[:4] != b"fLaC":
        return None
    # block header: 1 byte last-flag|type, 3 bytes big-endian length
    btype = payload[4] & 0x7F
    blen = int.from_bytes(payload[5:8], "big")
    if btype != 0 or blen < 34:
        return None
    body = payload[8:8 + 34]
    packed = int.from_bytes(body[10:18], "big")  # rate|ch|bits|samples
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total_samples = packed & ((1 << 36) - 1)
    if not rate:
        return None
    return (rate, channels, bits, total_samples * 1000 // rate)


def _decode_bmff_audio_meta(payload: bytes) \
        -> tuple[int, int, int, int] | None:
    """ISO-BMFF (M4A/MOV) audio metadata from the moov walk ALONE —
    no sample ever decodes (r11, the audio twin of
    ``decode_video_meta``): the first ``trak`` whose ``minf`` carries
    an ``smhd`` (the sound-media header that marks an audio track,
    ISO/IEC 14496-12 §8.4.5.3) answers from its ``mdhd``
    (timescale and duration — ``_bmff_timing``)
    and the first ``stsd`` SoundDescription's v0 fixed fields
    (channelcount u16, samplesize u16 at entry offset 24 — §12.2.3).
    Returns (sample_rate, n_channels, bits_per_sample, duration_ms)
    with the rate from mdhd's timescale (the authoritative tick rate;
    the entry's 16.16 field mirrors it), or None when no audio track
    exists — a video-only MP4 is not corrupt, it just has no audio
    metadata."""
    for btype, b0, b1 in _iter_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ityp, i0, i1 in _iter_boxes(payload, b0, b1):
            if ityp != b"trak":
                continue
            mdhd_ts = mdhd_dur = None
            is_audio = False
            chans = bits = None
            for mtyp, m0, m1 in _iter_boxes(payload, i0, i1):
                if mtyp != b"mdia":
                    continue
                for dtyp, d0, d1 in _iter_boxes(payload, m0, m1):
                    if dtyp == b"mdhd":
                        ts, dur = _bmff_timing(payload, d0, d1)
                        if dur is not None:
                            mdhd_ts, mdhd_dur = ts, dur
                    elif dtyp == b"minf":
                        for ntyp, n0, n1 in _iter_boxes(payload, d0, d1):
                            if ntyp == b"smhd":
                                is_audio = True
                            elif ntyp == b"stbl":
                                for styp, s0, s1 in _iter_boxes(
                                        payload, n0, n1):
                                    # stsd: fullbox header (4) +
                                    # entry_count (4) + first entry:
                                    # size/fourcc (8) + reserved/
                                    # data_ref (8) + ver/rev/vendor
                                    # (8) -> channels u16, bits u16
                                    if styp == b"stsd" and s1 - s0 >= 36:
                                        e0 = s0 + 8
                                        chans = int.from_bytes(
                                            payload[e0 + 24:e0 + 26],
                                            "big")
                                        bits = int.from_bytes(
                                            payload[e0 + 26:e0 + 28],
                                            "big")
            if is_audio and mdhd_ts and mdhd_dur is not None \
                    and chans:
                return (mdhd_ts, chans, bits or 0,
                        mdhd_dur * 1000 // mdhd_ts)
    return None


def decode_audio_meta(payload: bytes) \
        -> tuple[int, int, int, int] | None:
    """REAL stdlib header parse for audio payloads — RIFF/WAVE (walk
    the chunk list for ``fmt `` and ``data``, per the WAVE spec: RIFF
    registration, multimedia programming interface §4) and FLAC
    (STREAMINFO — see ``_decode_flac_streaminfo``). Returns
    (sample_rate, n_channels, bits_per_sample, duration_ms), or None
    for other codecs — callers treat those as opaque."""
    wav = _wav_chunks(payload)
    if wav is None:
        if _is_bmff(payload):
            return _decode_bmff_audio_meta(payload)
        return _decode_flac_streaminfo(payload)
    _tag, channels, rate, block_align, bits, _spb, _fact, _at, data_len \
        = wav
    # the DECLARED data length: a header-only probe still has a duration
    if not rate or not channels or data_len is None or not block_align:
        return None
    n_frames = data_len // block_align
    return (rate, channels, bits or 0, n_frames * 1000 // rate)


def _wav_chunks(payload: bytes):
    """The one RIFF/WAVE chunk walk (WAVE spec: RIFF registration,
    multimedia programming interface §4): (format tag, channels, rate,
    block_align, bits, samples per block, fact body, data offset,
    declared data length) from the ``fmt `` (and its extension),
    ``fact`` and ``data`` chunks, the last of each winning; a field is
    None when its chunk is absent. None for non-WAVE payloads; never
    raises."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    tag = rate = channels = bits = block_align = spb = None
    fact = data_at = data_len = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4:i + 8])
        if cid == b"fmt " and clen >= 16 and i + 24 <= len(payload):
            tag, channels, rate = struct.unpack(
                "<HHI", payload[i + 8:i + 16])
            block_align, bits = struct.unpack("<HH", payload[i + 20:i + 24])
            if clen >= 20 and i + 28 <= len(payload):
                (spb,) = struct.unpack("<H", payload[i + 26:i + 28])
        elif cid == b"fact" and clen >= 4 and i + 12 <= len(payload):
            fact = payload[i + 8:i + 12]
        elif cid == b"data":
            data_at, data_len = i + 8, clen
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    return (tag, channels, rate, block_align, bits, spb, fact, data_at,
            data_len)


def _wav_riff(fmt: bytes, data: bytes, fact: int | None = None) -> bytes:
    """The one RIFF/WAVE writer: the ``fmt `` chunk, an optional
    ``fact`` chunk holding the total sample count, and the ``data``
    chunk with its odd-length pad byte outside the declared length."""
    import struct

    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    chunks += (b"data" + struct.pack("<I", len(data)) + data
               + b"\x00" * (len(data) & 1))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def extract_audio_meta(media: DataFrame) -> DataFrame:
    """Audio metadata extraction via the same Arrow-batched mapInPandas
    shape as ``decode_media``: WAV chunk lists, FLAC STREAMINFO and
    (r11) ISO-BMFF moov walks all parse for real (stdlib, no sample
    decode); other codecs (mp3 — no libraries here) yield NULL
    metadata rather than fakes."""
    return _meta_pass(media, decode_audio_meta, AUDIO_META_SCHEMA)


def _meta_pass(media: DataFrame, decode, schema: T.StructType) -> DataFrame:
    """The one metadata pass: an Arrow-batched mapInPandas writing
    ``media_id``, ``byte_len`` and then, in ``schema`` order, the
    fields of ``decode(content)`` — all NULL where it returns None."""
    import pandas as pd

    fields = schema.names[2:]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            meta = pdf["content"].map(
                lambda b: decode(bytes(b)) if b is not None else None)
            out = {"media_id": pdf["media_id"],
                   "byte_len": pdf["content"].map(
                       lambda b: len(b) if b is not None else 0
                   ).astype("int64")}
            for k, name in enumerate(fields):
                out[name] = meta.map(lambda m, k=k: m[k] if m else None)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=schema)


VIDEO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("byte_len", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("timescale", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def _iter_boxes(buf: bytes, start: int, end: int):
    """(type, body_start, body_end) over ISO-BMFF boxes in buf[start:end]
    — u32 big-endian size + fourcc, size 1 = 64-bit largesize follows
    (ISO/IEC 14496-12 §4.2)."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(buf[i:i + 4], "big")
        btype = buf[i + 4:i + 8]
        body = i + 8
        if size == 1:
            if i + 16 > end:
                return
            size = int.from_bytes(buf[i + 8:i + 16], "big")
            body = i + 16
        elif size == 0:
            size = end - i  # box extends to end of enclosing scope
        if size < 8 or i + size > end:
            return
        yield btype, body, i + size
        i += size


def _bmff_timing(payload: bytes, b0: int, b1: int) \
        -> tuple[int | None, int | None]:
    """(timescale, duration) of the mvhd or mdhd body ``payload[b0:b1]``
    — the one version-dependent read (ISO/IEC 14496-12 §8.2.2,
    §8.4.2): version 1 widens creation/modification time and duration
    to u64, moving timescale from offset 12 to 20. Each field is None
    when the box is too short to hold it, so a torn box never reads
    past its end, and a v1 box is never read with the v0 offsets,
    which hold half a timestamp."""
    ts_at, dur_len = (20, 8) if b1 > b0 and payload[b0] == 1 else (12, 4)
    dur_at = ts_at + 4
    ts = (int.from_bytes(payload[b0 + ts_at:b0 + dur_at], "big")
          if b1 - b0 >= dur_at else None)
    dur = (int.from_bytes(payload[b0 + dur_at:b0 + dur_at + dur_len], "big")
           if b1 - b0 >= dur_at + dur_len else None)
    return ts, dur


def decode_video_meta(payload: bytes) \
        -> tuple[int, int, int | None, int | None] | None:
    """REAL stdlib header parse for ISO-BMFF (MP4/MOV) video: walk the
    top-level boxes for ``moov``, read ``mvhd`` (timescale u32 +
    duration u32/u64, version-dependent offsets) and the first
    ``trak``/``tkhd`` carrying a nonzero 16.16 fixed-point
    width/height (ISO/IEC 14496-12 §8.2.2, §8.3.2). Returns
    (duration_ms, timescale, width, height) or None for
    non-ISO-BMFF payloads."""
    if not _is_bmff(payload):
        return None
    duration_ms = timescale = width = height = None
    for btype, b0, b1 in _iter_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ityp, i0, i1 in _iter_boxes(payload, b0, b1):
            if ityp == b"mvhd":
                ts, dur = _bmff_timing(payload, i0, i1)
                if dur is None:
                    continue  # a torn box yields NULL, not a guess
                timescale = ts
                if timescale:
                    duration_ms = dur * 1000 // timescale
            elif ityp == b"trak" and width is None:
                for ttyp, t0, t1 in _iter_boxes(payload, i0, i1):
                    if ttyp == b"tkhd" and t1 - t0 >= 8:
                        # width/height are the LAST 8 bytes, 16.16 fixed
                        w = int.from_bytes(payload[t1 - 8:t1 - 4], "big") >> 16
                        h = int.from_bytes(payload[t1 - 4:t1], "big") >> 16
                        if w and h:
                            width, height = w, h
    if duration_ms is None:
        return None
    return (duration_ms, timescale, width, height)


def extract_video_meta(media: DataFrame) -> DataFrame:
    """Video metadata extraction — same Arrow-batched mapInPandas shape
    as ``extract_audio_meta``: ISO-BMFF containers parse for real
    (stdlib box walk), Motion-JPEG AVIs demux for real (r8 —
    duration from frame count / rate, ``timescale`` carries the fps),
    and animated GIFs (≥2 image blocks) report duration/fps/dims from
    the no-LZW header walk (r9, ``gif_anim_meta`` — metadata must
    never pay pixel decode; single-frame GIFs are images and yield
    NULL here); other containers yield NULL metadata rather than
    fakes."""
    def one(b: bytes):
        m = decode_video_meta(b)
        if m is not None:
            return m
        try:
            avi = decode_avi_mjpeg(b)
        except NotImplementedError:
            return None  # gated codec: metadata-null, not an abort
        if avi is None:
            anim = gif_anim_meta(b)
            if anim is None or anim[3] < 2:
                return None
            w, h, fps, n = anim
            return (n * 1000 // fps, fps, w, h)
        w, h, fps, frames = avi
        return (len(frames) * 1000 // fps, fps, w, h)

    return _meta_pass(media, one, VIDEO_META_SCHEMA)


def decode_media(media: DataFrame, real_codec: bool = False) -> DataFrame:
    """Feature extraction over media batches via mapInPandas.

    Width/height come from a REAL stdlib header parse (PNG IHDR / JPEG
    SOFn / GIF LSD — ``decode_dims``) whenever the payload matches a
    known codec; unrecognized payloads fall back to the deterministic
    stub so the plumbing stays testable on synthetic media.

    ``real_codec=True`` demands FULL pixel decode: PNG, JPEG
    (baseline + progressive), GIF, BMP and TIFF go through the real
    stdlib decoders (dims read back from the decoded pixel buffer —
    r6 PNG, r8 the rest), and Motion-JPEG AVI video demuxes for real
    (dims cross-checked against the first frame's decoded pixels —
    r8; per-frame work belongs to ``video_frame_stats``); any other
    payload raises ``NotImplementedError`` inside the task — narrowed
    to exactly the formats whose decode still needs a codec library
    (non-MJPEG video, WebP). Plug PIL/ffmpeg at this branch on a
    cluster that has them."""
    import hashlib

    import pandas as pd

    def _dims(payload: bytes) -> tuple[int, int]:
        if real_codec:
            dec = decode_png_pixels(payload)
            if dec is None:
                dec = decode_jpeg_pixels(payload)
            if dec is None:
                dec = decode_gif_pixels(payload)
            if dec is None:
                dec = decode_bmp_pixels(payload)
            if dec is None:
                dec = decode_tiff_pixels(payload)
            if dec is None:
                avi = decode_avi_mjpeg(payload)
                if avi is not None:
                    w, h, _fps, frames = avi
                    if not frames:
                        raise ValueError("AVI with no frames")
                    fw, fh, ch, px = decode_jpeg_pixels(frames[0]) \
                        or (None, None, None, None)
                    if px is None or (fw, fh) != (w, h):
                        raise ValueError(
                            "AVI first frame does not decode to the "
                            "container dimensions")
                    assert len(px) == fw * fh * ch
                    return (w, h)
                raise NotImplementedError(
                    "full decode of non-raster media needs a codec "
                    "library (non-MJPEG video / WebP); plug "
                    "PIL/ffmpeg here")
            w, h, ch, px = dec
            assert len(px) == w * h * ch  # decoded buffer is the source
            return (w, h)
        return decode_dims(payload) or _decode_dims_stub(payload)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf["content"].map(
                lambda b: _dims(bytes(b) if b is not None else b""))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "byte_len": pdf["content"].map(
                    lambda b: len(b) if b is not None else 0).astype("int64"),
                "digest": pdf["content"].map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    if b is not None else None),
                "width": dims.map(lambda d: d[0]).astype("int32"),
                "height": dims.map(lambda d: d[1]).astype("int32"),
            })

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' over the opaque payload: emit one row per sampled
    offset (for video this is the keyframe extraction shape — explode on
    the Spark side, decode per frame in the UDF). Pure-expression
    implementation: offsets via sequence+explode, sample byte via
    substring on binary."""
    n_frames = F.greatest(
        F.floor(F.length("content") / every_n_bytes).cast("int"), F.lit(1))
    return (
        media.select(
            "media_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_no"),
            F.length("content").alias("byte_len"),
        )
        .withColumn("offset", F.col("frame_no") * every_n_bytes)
    )


def _g711_ulaw_table() -> "np.ndarray":
    """256-entry μ-law → linear int16 expansion (ITU-T G.711 /
    the public-domain Sun `ulaw2linear` formulation: complement,
    bias 0x84, 3-bit segment shift). Bijective onto its 256-value
    range; anchors ±32124 / 0 are pinned in tests independently of
    this formula."""
    out = np.empty(256, np.int16)
    for i in range(256):
        b = ~i & 0xFF
        t = (((b & 0x0F) << 3) + 0x84) << ((b & 0x70) >> 4)
        out[i] = (0x84 - t) if (b & 0x80) else (t - 0x84)
    return out


def _g711_alaw_table() -> "np.ndarray":
    """256-entry A-law → linear int16 expansion (ITU-T G.711 / Sun
    `alaw2linear`: XOR 0x55, 4-bit mantissa, segment-dependent bias
    and shift). Anchors ±8 / ±32256 pinned in tests."""
    out = np.empty(256, np.int16)
    for i in range(256):
        a = i ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[i] = t if (a & 0x80) else -t
    return out


_G711_TABLES: dict[int, "np.ndarray"] = {}  # fmt tag -> lazy table


#: IMA/DVI ADPCM quantizer tables (IMA "Recommended Practices for
#: Enhancing Digital Audio Compatibility", rev 3.00 §6 — public spec;
#: also RFC 3551 §4.5.1). 89 step sizes, index deltas keyed by the
#: low 3 bits of the 4-bit code (the sign bit never moves the index).
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)
_IMA_INDEX_DELTA = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_step(pred: int, idx: int, code: int) -> tuple[int, int]:
    """One IMA ADPCM state transition — the shared reference both the
    WAV decoder and the device mux run (and the q249 oracle re-derives
    in SQL): diff = step/8 (+step if bit2, +step/2 if bit1, +step/4 if
    bit0), sign bit subtracts, predictor clamps to int16, index moves
    by the low-3-bit delta and clamps to [0, 88]."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if code & 4:
        diff += step
    if code & 2:
        diff += step >> 1
    if code & 1:
        diff += step >> 2
    pred = pred - diff if code & 8 else pred + diff
    pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
    idx += _IMA_INDEX_DELTA[code & 7]
    return pred, (0 if idx < 0 else (88 if idx > 88 else idx))


def _ima_adpcm_decode_block(data: bytes, n_samples: int) -> list[int]:
    """Decode ONE IMA ADPCM block (4-byte header + packed nibbles,
    low nibble first) to ``n_samples`` int16 values; the header
    predictor IS the block's first sample. Torn headers and
    out-of-range step indexes raise ValueError (corruption taxonomy,
    not silence)."""
    import struct

    if len(data) < 4:
        raise ValueError("torn IMA ADPCM block: header needs 4 bytes")
    (pred,) = struct.unpack("<h", data[:2])
    idx = data[2]
    if idx > 88:
        raise ValueError(f"IMA ADPCM step index {idx} out of range")
    out = [pred]
    body = data[4:]
    k = 0
    while len(out) < n_samples:
        byte_i, half = divmod(k, 2)
        if byte_i >= len(body):
            raise ValueError("torn IMA ADPCM block: nibbles exhausted "
                             f"at sample {len(out)}/{n_samples}")
        code = (body[byte_i] >> (4 * half)) & 0xF
        pred, idx = _ima_adpcm_step(pred, idx, code)
        out.append(pred)
        k += 1
    return out


def encode_wav_ima_adpcm(codes: "np.ndarray", rate: int = 8000) -> bytes:
    """Mono IMA ADPCM WAV mux driven by 4-bit CODES (the device-side
    twin of the tag-0x11 branch in ``_wav_pcm16_data``): the state
    machine starts at (predictor 0, step index 0) — sample 0 is the
    header predictor, each code yields one more sample — and the
    whole stream is ONE block (``wSamplesPerBlock`` = len(codes)+1),
    so an oracle can re-simulate the exact decode from the code
    sequence with no block-boundary bookkeeping. fmt tag 0x11 with
    the standard cbSize=2 extension carrying samples-per-block, plus
    a ``fact`` chunk with the total sample count."""
    import struct

    arr = np.asarray(codes, dtype=np.int64)
    if arr.size == 0:
        raise ValueError("at least one code required")
    if rate <= 0:
        raise ValueError("rate must be positive")
    if arr.min() < 0 or arr.max() > 15:
        raise ValueError("codes must be 4-bit (0..15)")
    if arr.size % 2:
        raise ValueError("code count must be even (whole packed bytes)")
    n_samples = arr.size + 1
    nyb = arr.astype(np.uint8)
    packed = (nyb[0::2] | (nyb[1::2] << 4)).tobytes()
    block = struct.pack("<hBB", 0, 0, 0) + packed
    block_align = len(block)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate,
                      rate * block_align // n_samples or 1,
                      block_align, 4, 2, n_samples)
    return _wav_riff(fmt, block, fact=n_samples)


def _wav_pcm16_data(payload: bytes) -> tuple[int, int, bytes] | None:
    """(sample_rate, n_channels, PCM16-LE data bytes) for a RIFF/WAVE
    payload, from the chunk walk ``decode_audio_meta`` shares
    (``_wav_chunks``).
    Handles format tag 1 (16-bit linear PCM, returned as stored), the
    G.711 companded telephony codecs — tag 7 (μ-law) and tag 6
    (A-law), 8 bits per sample, expanded to linear int16 through the
    REAL ITU-T tables — and (r11) tag 0x11 mono IMA/DVI ADPCM,
    decompressed block-by-block through the real quantizer state
    machine (``_ima_adpcm_decode_block``), so every downstream
    consumer sees one uniform PCM16 contract. Stereo ADPCM raises
    NotImplementedError (honest codec gate); torn ADPCM blocks raise
    ValueError. None for anything else (24-bit PCM, float, …) —
    callers treat those as opaque, the degrade path."""
    import struct

    wav = _wav_chunks(payload)
    if wav is None:
        return None
    tag, channels, rate, block_align, bits, spb, fact, data_at, data_len \
        = wav
    fact_total = None if fact is None else struct.unpack("<I", fact)[0]
    if not rate or not channels or data_at is None:
        return None
    data = payload[data_at:data_at + data_len]
    if tag == 1 and bits == 16:
        return rate, channels, data
    if tag in (6, 7) and bits == 8:
        if tag not in _G711_TABLES:
            _G711_TABLES[tag] = (_g711_alaw_table() if tag == 6
                                 else _g711_ulaw_table())
        lin = _G711_TABLES[tag][np.frombuffer(data, np.uint8)]
        return rate, channels, lin.astype("<i2").tobytes()
    if tag == 0x11 and bits == 4:
        if channels != 1:
            raise NotImplementedError(
                "IMA ADPCM: only mono decodes (stereo interleaves "
                "nibbles per 8-sample channel run — gated)")
        if not block_align or not spb:
            raise ValueError("IMA ADPCM fmt missing block_align / "
                             "samples-per-block")
        remaining = fact_total if fact_total is not None else (
            (len(data) // block_align) * spb)
        samples: list[int] = []
        for b0 in range(0, len(data), block_align):
            if remaining <= 0:
                break
            n = min(spb, remaining)
            samples.extend(_ima_adpcm_decode_block(
                data[b0:b0 + block_align], n))
            remaining -= n
        return rate, 1, np.asarray(samples, "<i2").tobytes()
    return None


def pcm_frame_energy(media: DataFrame, frame_ms: int = 20,
                     decimate: int = 1,
                     corrupt: str = "raise") -> DataFrame:
    """REAL audio feature extraction — per-frame RMS energy over 16-bit
    PCM audio: RIFF/WAVE (linear PCM or G.711 μ/A-law expanded through
    the ITU tables) and FLAC (full frame-layer decode — see
    ``decode_flac_pcm16``): the first step of voice-activity detection
    / silence trimming in an audio-training-data pipeline. Payloads in
    neither container — and well-formed-but-gated codec variants
    (non-16-bit FLAC; decorrelated stereo decodes for real since
    r8) — yield no rows (opaque degrade, like the raster decoders);
    genuinely corrupt streams abort under the default
    ``corrupt="raise"``, or yield no rows under ``corrupt="null"`` —
    the QUARANTINE mode an unattended streaming ingest gate needs,
    where one poisoned payload must never wedge exactly-once replay
    (review finding r9; batch queries keep the loud default).

    Returns (media_id, frame_no, n_samples, rms): frames are
    ``frame_ms`` windows of mono-mixed samples (channel mean), RMS is
    sqrt of the mean square. ``decimate=M`` first collapses each run
    of M samples to its floor-mean (integer box downsample — the
    cheap resample an audio pipeline applies before feature
    extraction; the effective rate shrinks by M so frames stay
    ``frame_ms`` wide). All accumulation is int64 (samples are
    int16, squares ≤ 2³⁰ · frame length — exact), so the one sqrt per
    frame is the only float op and is IEEE-identical everywhere; the
    golden test pins values against a pure-Python reference.

    Scale shape: Arrow-batched mapInPandas over the payload column —
    each task decodes only its own rows with numpy (vectorized,
    ~memory-bandwidth bound); output is frame-grain, bounded by audio
    duration, with no shuffle at all."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if corrupt not in ("raise", "null"):
        raise ValueError("corrupt must be 'raise' or 'null'")

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ])

    def batches(it):
        for pdf in it:
            ids, frames, counts, rmss = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(payload)
                try:
                    parsed = _wav_pcm16_data(raw)
                    if parsed is None:
                        parsed = decode_flac_pcm16(raw)
                    if parsed is None:  # ISO-BMFF PCM audio (r10)
                        parsed = decode_mp4_pcm16(raw)
                except NotImplementedError:
                    parsed = None  # gated variant: degrade, not abort
                except ValueError:
                    if corrupt == "raise":
                        raise
                    parsed = None  # quarantine mode: yield no rows
                if parsed is None:
                    continue
                rate, channels, data = parsed
                usable = len(data) - (len(data) % (2 * channels))
                if usable <= 0:
                    continue
                pcm = (np.frombuffer(data[:usable], dtype="<i2")
                       .reshape(-1, channels).astype("int64"))
                # mono mix as an exact integer: floor of the channel
                # mean (sum div channels keeps everything in int64)
                mono = pcm.sum(axis=1) // channels
                if decimate > 1:
                    # integer box decimation: consecutive groups of
                    # ``decimate`` samples collapse to their floor
                    # mean (int64-exact; the incomplete tail group is
                    # dropped, and the effective rate shrinks with it
                    # so frame geometry stays frame_ms wide)
                    usable = len(mono) - (len(mono) % decimate)
                    if usable == 0:
                        continue
                    mono = (mono[:usable].reshape(-1, decimate)
                            .sum(axis=1) // decimate)
                spf = max(1, rate // decimate * frame_ms // 1000)
                n_frames = (len(mono) + spf - 1) // spf
                for fi in range(n_frames):
                    w = mono[fi * spf:(fi + 1) * spf]
                    ids.append(mid)
                    frames.append(fi)
                    counts.append(len(w))
                    rmss.append(float(np.sqrt((w * w).sum() / len(w))))
            yield pd.DataFrame({"media_id": ids, "frame_no": frames,
                                "n_samples": counts, "rms": rmss})

    return media.select("media_id", "content").mapInPandas(
        batches, schema=out_schema)


def image_dhash(media: DataFrame,
                corrupt: str = "raise") -> DataFrame:
    """Perceptual difference hash (dHash) over REAL decoded pixels —
    the standard near-duplicate-image key (8×9 box-downsample,
    compare horizontally adjacent cells, 64 bits): the image member
    of the dedup family, used to fold resized/re-encoded copies of
    the same picture before training. Routes through the same
    five-codec decode as ``image_pixel_stats``.

    Exactness contract (what makes a cross-engine oracle possible):
    the luminance of a cell is its integer channel-sum; cell
    boundaries are the floor grid ``r*8//h`` / ``c*9//w``; and the
    brightness comparison is the integer cross-multiplication
    ``sum_a·n_b < sum_b·n_a`` — no float mean ever materializes, so
    the 64 bits are integer-exact. The hash ships as 16 lowercase hex
    chars (8 row bytes, MSB = leftmost comparison) rather than a
    BIGINT so bit 63 needs no sign gymnastics in either engine.

    Images smaller than the 8×9 grid (or undecodable/gated payloads)
    yield a null hash. Corrupt streams (a recognized magic whose body
    fails decode) abort under the default ``corrupt="raise"``, or
    yield a null hash under ``corrupt="null"`` — the quarantine mode
    the streaming ingest gate uses so one poisoned payload cannot
    wedge exactly-once replay (review finding r9). Scale shape: one
    Arrow-batched pass, no shuffle — grouping equal hashes afterwards
    is a census over 16-byte keys, never pixels."""
    import pandas as pd

    if corrupt not in ("raise", "null"):
        raise ValueError("corrupt must be 'raise' or 'null'")

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("dhash", T.StringType(), True),
    ])

    def one(raw: bytes):
        dec = None
        try:
            dec = decode_png_pixels(raw)
            if dec is None:
                dec = decode_jpeg_pixels(raw)
            if dec is None:
                dec = decode_gif_pixels(raw)
            if dec is None:
                dec = decode_bmp_pixels(raw)
            if dec is None:
                dec = decode_tiff_pixels(raw)
        except NotImplementedError:
            dec = None
        except ValueError:
            if corrupt == "raise":
                raise
            dec = None  # quarantine mode: null hash
        if dec is None:
            return (None, None, None)
        w, h, ch, px = dec
        if h < 8 or w < 9:
            return (w, h, None)
        lum = (np.frombuffer(px, np.uint8).reshape(h, w, ch)
               .sum(axis=2, dtype=np.int64))
        re = np.array([r * 8 // h for r in range(h)])
        ce = np.array([c * 9 // w for c in range(w)])
        r_starts = np.searchsorted(re, np.arange(8), side="left")
        c_starts = np.searchsorted(ce, np.arange(9), side="left")
        s = np.add.reduceat(np.add.reduceat(lum, r_starts, axis=0),
                            c_starts, axis=1)
        rn = np.diff(np.append(r_starts, h))
        cn = np.diff(np.append(c_starts, w))
        n = np.outer(rn, cn)
        # bit (r,c) = 1 iff cell (r,c) is darker than (r,c+1), by
        # integer cross-multiplication
        bits = (s[:, :8] * n[:, 1:]) < (s[:, 1:] * n[:, :8])
        weights = (1 << np.arange(7, -1, -1)).astype(np.int64)
        rowbytes = (bits.astype(np.int64) * weights).sum(axis=1)
        return (w, h, "".join(f"{b:02x}" for b in rowbytes))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = [one(bytes(b)) if b is not None else
                   (None, None, None) for b in pdf["content"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": pd.array([r[0] for r in res], dtype="Int32"),
                "height": pd.array([r[1] for r in res], dtype="Int32"),
                "dhash": [r[2] for r in res],
            })

    return media.select("media_id", "content").mapInPandas(
        batches, schema=out_schema)


def dhash_hamming_pairs(hashes: DataFrame, id_col: str = "media_id",
                        hash_col: str = "dhash",
                        max_hamming: int = 10) -> DataFrame:
    """Near-duplicate image PAIRS from dHash keys — the banded
    Hamming join that makes perceptual dedup scale (the pigeonhole
    device SimHash uses, operators/dedup.py:simhash_pairs): split the
    64-bit hash into four 16-bit bands — by pigeonhole, hashes within
    Hamming distance 3 ALWAYS share an intact band, and real near-dup
    perturbations flip bits in a localized cell region so intact
    bands abound well past that bound — candidates come from ONE
    equi-join on (band_index, band_value), never an all-pairs scan,
    and each candidate is verified with an exact popcount on the XOR
    of the two 32-bit halves. Candidate recall above distance 3 is
    the banding S-curve tradeoff every LSH family makes (q203); the
    verify step keeps precision exact.

    Input: (id, 16-hex-char dhash) rows (``image_dhash`` output).
    Returns (id_a, id_b, hamming) with id_a < id_b, distinct.

    Scale shape: band keys are a JVM projection; the self-join
    shuffles (band, value) 4× corpus rows; verification is a
    per-candidate popcount — bounded by collision-group width like
    every banded family here."""
    h = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_hx"),
        F.conv(F.substring(hash_col, 1, 8), 16, 10)
        .cast("bigint").alias("_hi"),
        F.conv(F.substring(hash_col, 9, 8), 16, 10)
        .cast("bigint").alias("_lo"))
    bands = h.select(
        "_id", "_hi", "_lo",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("b"),
                     F.conv(F.substring("_hx", 1 + 4 * i, 4), 16, 10)
                     .cast("bigint").alias("v"))
            for i in range(4)])).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, on=[F.col("a.bk.b") == F.col("b.bk.b"),
                          F.col("a.bk.v") == F.col("b.bk.v"),
                          F.col("a._id") < F.col("b._id")])
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    (F.bit_count(F.col("a._hi").bitwiseXOR(
                        F.col("b._hi")))
                     + F.bit_count(F.col("a._lo").bitwiseXOR(
                         F.col("b._lo")))).alias("hamming"))
            .distinct())
    return cand.filter(F.col("hamming") <= max_hamming)


def vad_segments(media: DataFrame, frame_ms: int = 20,
                 threshold: float = 5000.0) -> DataFrame:
    """Energy-gate voice-activity segments — the silence-trim step an
    audio-training-data pipeline runs right after ``pcm_frame_energy``
    (same role as ExactSubstr's islands for text): frames whose RMS
    clears ``threshold`` merge into maximal contiguous segments via
    gaps-and-islands over the frame index. Works on anything the
    frame-energy pass decodes (PCM/G.711 WAV, FLAC).

    Returns (media_id, seg_start, n_frames, n_samples, peak_rms) at
    segment grain. The RMS values are IEEE-identical cross-engine
    (see ``pcm_frame_energy``), so a float threshold compare is
    deterministic; the peak is reported at the same 4dp round the
    frame queries use.

    Scale shape: frame rows are already media-grain; the island
    window partitions by media_id — bounded by audio duration, no
    corpus-wide state."""
    frames = pcm_frame_energy(media, frame_ms=frame_ms)
    active = frames.filter(F.col("rms") >= F.lit(threshold))
    byf = Window.partitionBy("media_id").orderBy("frame_no")
    return (
        active.withColumn(
            "_g", F.col("frame_no") - F.row_number().over(byf))
        .groupBy("media_id", "_g")
        .agg(F.min("frame_no").cast("bigint").alias("seg_start"),
             F.count("*").cast("bigint").alias("n_frames"),
             F.sum("n_samples").cast("bigint").alias("n_samples"),
             F.round(F.max("rms"), 4).alias("peak_rms"))
        .drop("_g")
    )


# --------------------------------------------------------------- PNG pixels
# Full stdlib PNG decode (r6, closes the r5 verdict's "real pixel decode"
# gap for the one format whose compression IS the stdlib): IDAT is zlib
# (RFC 1950/51), so signature→chunk walk→inflate→per-row unfilter→pixel
# samples needs no codec library. JPEG/video stay honestly gated behind
# NotImplementedError — their entropy coders are genuinely codec-
# dependent (see ``decode_media(real_codec=True)``).

#: samples per pixel by PNG color type (RFC 2083 §4.1.1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: Adam7 pass geometry (x_start, y_start, x_step, y_step) — RFC 2083
#: §2.6: seven sub-images, each filtered independently like a
#: full image (prior row resets per pass)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate a + b − c, ties left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_row(row: bytes, prior: bytes, f: int, bpp: int = 1) -> bytes:
    """Apply PNG row filter ``f`` to one grayscale scanline. ``bpp`` is
    the filter's byte offset to the 'left' sample (RFC 2083 §6.2) —
    1 for 8-bit grayscale, 2 for 16-bit (filters always operate on
    BYTES, so a 16-bit sample's two bytes are filtered against the
    matching bytes of the previous sample)."""
    width = len(row)
    if f == 0:
        return bytes(row)
    if f == 1:      # Sub
        return bytes((row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                     for i in range(width))
    if f == 2:      # Up
        return bytes((row[i] - prior[i]) & 0xFF for i in range(width))
    if f == 3:      # Average
        return bytes((row[i] - (((row[i - bpp] if i >= bpp else 0)
                                 + prior[i]) >> 1)) & 0xFF
                     for i in range(width))
    return bytes((row[i] - _paeth(row[i - bpp] if i >= bpp else 0,
                                  prior[i],
                                  prior[i - bpp] if i >= bpp else 0)) & 0xFF
                 for i in range(width))  # Paeth


def encode_png_gray(pixels, width: int,
                    filter_choice: str = "cycle",
                    interlace: bool = False,
                    depth: int = 8) -> bytes:
    """Grayscale PNG encoder, stdlib-only, depths 1/2/4/8/16.
    ``filter_choice``: ``"none"`` writes filter 0 rows; ``"cycle"``
    rotates through all five row filters (None/Sub/Up/Average/Paeth)
    so a decode of the result exercises every unfilter path — the
    property q186 rides: encode(text bytes) → decode → stats must
    equal stats computed straight from the bytes. ``interlace=True``
    writes the Adam7 layout (seven independently-filtered sub-images,
    RFC 2083 §2.6) — the q210 twin device for the interlaced decode
    path. Sub-byte depths pack samples MSB-first per scanline (final
    byte zero-padded) and filter the PACKED bytes, per spec; 16-bit
    samples (r10 — the q241 twin) write big-endian byte pairs and
    filter the packed bytes with the 2-byte 'left' offset, per spec.
    ``pixels`` is one value per SAMPLE (bytes or any int sequence for
    16-bit); every value must be < 2**depth."""
    import struct
    import zlib

    if width <= 0 or len(pixels) % width:
        raise ValueError("pixels must be height x width samples")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError("depth must be 1/2/4/8/16")
    if depth < 8 and any(p >= (1 << depth) for p in pixels):
        raise ValueError(f"sample value out of range for {depth}-bit")
    if depth == 16 and any(not 0 <= int(p) < 65536 for p in pixels):
        raise ValueError("sample value out of range for 16-bit")
    height = len(pixels) // width
    bpp = 2 if depth == 16 else 1

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    def pack(row) -> bytes:
        if depth == 8:
            return bytes(row)
        if depth == 16:
            return np.asarray(list(row), dtype=">u2").tobytes()
        bits = np.unpackbits(np.frombuffer(bytes(row), np.uint8)
                             .reshape(-1, 1), axis=1)[:, -depth:]
        return np.packbits(bits.reshape(-1)).tobytes()

    raw = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass: NO scanlines at all
            prior = bytes((pw * depth + 7) // 8)
            for j in range(ph):
                base = (y0 + j * dy) * width + x0
                row = pack([pixels[base + i * dx]
                            for i in range(pw)])
                f = (j % 5) if filter_choice == "cycle" else 0
                raw.append(f)
                raw += _filter_row(row, prior, f, bpp)
                prior = row
    else:
        prior = bytes((width * depth + 7) // 8)
        for j in range(height):
            row = pack(pixels[j * width:(j + 1) * width])
            f = (j % 5) if filter_choice == "cycle" else 0
            raw.append(f)
            raw += _filter_row(row, prior, f, bpp)
            prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 0, 0, 0,
                       1 if interlace else 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def _unfilter_rows(raw: bytes, off: int, n_rows: int, stride: int,
                   ch: int) -> tuple[bytearray, int]:
    """Invert the five PNG row filters over ``n_rows`` scanlines of
    ``stride`` bytes starting at ``raw[off]`` (each preceded by its
    filter byte); the prior row starts as zeros — which is exactly the
    per-pass reset Adam7 needs, so both the sequential image and each
    interlace sub-image route through this ONE implementation. Returns
    (pixels, offset-after-the-last-scanline)."""
    end = off + n_rows * (stride + 1)
    if end > len(raw):
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(n_rows * stride)
    prior = bytes(stride)
    for j in range(n_rows):
        f = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        off += stride + 1
        if f == 1:      # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:    # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif f == 3:    # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif f == 4:    # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prior[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prior[i], ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter type {f}")
        out[j * stride:(j + 1) * stride] = line
        prior = bytes(line)
    return out, off


def _unpack_samples(rows: bytes, n_rows: int, stride: int, depth: int,
                    spr: int) -> bytes:
    """Unpack ``depth``-bit (1/2/4) samples from byte-packed scanlines
    (MSB-first within each byte, RFC 2083 §2.3), dropping the padding
    bits of each row's final byte: one output byte per SAMPLE."""
    a = np.frombuffer(bytes(rows), np.uint8).reshape(n_rows, stride)
    bits = np.unpackbits(a, axis=1).reshape(n_rows, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2).astype(np.uint8)[:, :spr] \
        .tobytes()


def decode_png_samples(payload: bytes) \
        -> tuple[int, int, int, int, "np.ndarray"] | None:
    """(width, height, channels, bit_depth, samples) for a
    1/2/4/8/16-bit PNG, sequential or Adam7-interlaced — REAL pixel
    decode, stdlib-only: chunk walk, zlib-inflate the concatenated
    IDAT stream, invert the five row filters (byte-grain, per spec, so
    sub-byte and 16-bit depths reuse the same unfilter with the right
    'left' byte offset), unpack packed sample bits, expand palette
    indices through PLTE. ``samples`` is a 1-D row-major,
    channel-interleaved numpy array at NATIVE sample grain: uint8 for
    depths ≤ 8 (sub-byte grayscale reports the RAW stored level, not a
    scaled rendering — stats are over stored values), uint16 for
    16-bit (big-endian pairs decoded to native ints, r10).
    ``bit_depth`` is the bits per RETURNED sample: the declared IHDR
    depth, except palette images (always 8 — the expanded PLTE entries
    are 8-bit regardless of index width).

    Returns None for non-PNG payloads (callers fall back to metadata-
    only handling) and raises ``ValueError`` for corrupt streams —
    silent wrong pixels must never reach a stats aggregate."""
    import struct
    import zlib

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, plte, idat = 8, None, None, bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack(">I", payload[pos:pos + 4])
        typ = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"PLTE":
            plte = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + clen  # len + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad PNG bit depth {depth}")
    if depth < 8 and color not in (0, 3):
        raise ValueError(f"{depth}-bit PNG with color type {color} "
                         "(spec allows sub-byte only for grayscale/"
                         "palette)")
    if depth == 16 and color == 3:
        raise ValueError("16-bit palette PNG is not legal")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color}")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    ch = _PNG_CHANNELS[color]
    # the filters' 'left' offset is in BYTES: 2·ch for 16-bit samples
    bpp = ch * (2 if depth == 16 else 1)
    dt = ">u2" if depth == 16 else np.uint8
    raw = zlib.decompress(bytes(idat))

    def row_bytes(n_samples: int) -> int:
        return (n_samples * depth + 7) // 8  # packed scanline width

    if interlace:
        arr = np.zeros((height, width, ch),
                       np.uint16 if depth == 16 else np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass carries NO scanlines
            stride = row_bytes(pw * ch)
            sub, off = _unfilter_rows(raw, off, ph, stride, bpp)
            if depth < 8:
                sub = _unpack_samples(sub, ph, stride, depth, pw * ch)
            arr[y0::dy, x0::dx] = (np.frombuffer(bytes(sub), dt)
                                   .reshape(ph, pw, ch))
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
        samples = arr.reshape(-1)
    else:
        stride = row_bytes(width * ch)
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        out, _ = _unfilter_rows(raw, 0, height, stride, bpp)
        if depth < 8:
            out = bytearray(_unpack_samples(out, height, stride,
                                            depth, width * ch))
        samples = np.frombuffer(bytes(out), dt)
    if depth == 16:
        samples = samples.astype(np.uint16)  # native-endian view
    if color == 3:      # palette: expand indices to RGB triples
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        idx = samples.astype(np.int64)
        if idx.size and int(idx.max()) * 3 + 3 > len(plte):
            raise ValueError("palette index out of range")
        pal = np.frombuffer(plte, np.uint8)
        rgb = pal[(idx[:, None] * 3
                   + np.arange(3)).reshape(-1)]
        return (width, height, 3, 8, rgb)
    return (width, height, ch, depth, samples)


def decode_png_pixels(payload: bytes) \
        -> tuple[int, int, int, bytes] | None:
    """(width, height, channels, samples) for a 1/2/4/8-bit PNG — the
    byte-grain API every consumer whose math is defined over 8-bit
    levels (dHash, thumbnails, the cross-format dedup funnels) reads;
    ``samples`` is ONE BYTE PER SAMPLE. 16-bit PNGs stay gated HERE
    with ``NotImplementedError`` — byte-truncating 65535-level samples
    would silently change the consumers' meaning — while the
    native-grain path (``decode_png_samples``, r10) serves them to
    ``image_pixel_stats`` with a typed ``bit_depth`` column. Returns
    None for non-PNG payloads; ``ValueError`` for corrupt streams."""
    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    # gate on the IHDR depth byte BEFORE paying inflate + the Python
    # unfilter loop: the byte-grain consumers (dHash, the funnels, the
    # streaming keyer) discard 16-bit payloads as a gated variant, so
    # decoding first would be O(pixels) of pure waste per such image
    # (IHDR is the mandatory first chunk; depth sits at offset 24)
    if len(payload) >= 25 and payload[12:16] == b"IHDR" \
            and payload[24] == 16:
        raise NotImplementedError("16-bit PNG (8-bit only)")
    dec = decode_png_samples(payload)
    if dec is None:
        return None
    width, height, ch, depth, samples = dec
    if depth == 16:  # backstop for a non-leading IHDR
        raise NotImplementedError("16-bit PNG (8-bit only)")
    return (width, height, ch, samples.astype(np.uint8).tobytes())


# --------------------------------------------------------------- GIF pixels
# Real GIF decode (r8): LZW is fully specified and needs no codec
# library — variable-width LSB-first codes, dict growth to 12 bits,
# clear/EOI, the KwKwK (code == next_code) corner — plus the 4-pass
# row interlace and palette expansion. First image block only (an
# animated GIF's later frames need disposal/compositing state — out
# of scope for pixel STATS; documented).

#: GIF interlace passes: (row start, row step) — GIF89a spec appendix E
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_lzw_decode(data: bytes, min_code: int) -> bytes:
    """LZW decompression for GIF image data (LSB-first bit packing,
    variable code width min_code+1 .. 12, clear/EOI codes, KwKwK)."""
    if not 2 <= min_code <= 8:
        raise ValueError("bad LZW minimum code size")
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    big = int.from_bytes(data, "little")
    nbits = len(data) * 8
    bpos = 0
    size = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while bpos + size <= nbits:
        code = (big >> bpos) & ((1 << size) - 1)
        bpos += size
        if code == clear:
            table = table[:eoi + 1]
            size = min_code + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("bad LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            # the table freezes at the 12-bit cap (deferred-clear
            # GIFs keep emitting codes without CLEAR): inserting past
            # it would grow unreachable entries without bound — an
            # adversarial multi-MB frame becomes an OOM (review
            # finding r8)
            table.append(prev + entry[:1])
            if len(table) == (1 << size) and size < 12:
                size += 1
        prev = entry
    raise ValueError("LZW stream ended without EOI")


def _gif_interlace_rows(height: int) -> list[int]:
    """Display rows in the order an interlaced image stores them:
    stored row k is display row ``rows[k]``."""
    return [r for start, step in _GIF_PASSES
            for r in range(start, height, step)]


def _gif_palette(payload: bytes, pos: int, flags: int, scope: str):
    """(color table or None, position after it) for the table that
    ``flags`` (a screen or image descriptor's packed byte) declares at
    ``pos``; a torn table raises ValueError."""
    if not flags & 0x80:
        return None, pos
    n = 3 * (2 << (flags & 0x07))
    table = payload[pos:pos + n]
    if len(table) != n:
        raise ValueError(f"truncated GIF {scope} color table")
    return table, pos + n


def _gif_sub_blocks(payload: bytes, pos: int) -> tuple[list[bytes], int]:
    """(chunks, position after the terminator) of the sub-block chain
    at ``pos``; a torn sub-block raises ValueError."""
    chunks = []
    while pos < len(payload) and payload[pos]:
        ln = payload[pos]
        chunk = payload[pos + 1:pos + 1 + ln]
        if len(chunk) != ln:
            raise ValueError("truncated GIF data sub-block")
        chunks.append(chunk)
        pos += 1 + ln
    return chunks, pos + 1


def _gif_screen(payload: bytes):
    """(width, height, background index, global palette or None,
    position of the first block) from a GIF87a/89a header and logical
    screen descriptor; None for non-GIF payloads."""
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h, packed, bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    gct, pos = _gif_palette(payload, 13, packed, "global")
    return w, h, bg, gct, pos


def _gif_blocks(payload: bytes, pos: int, gct: bytes | None):
    """The one GIF block walker, from ``pos`` to the trailer: yields
    ``(label, sub_blocks)`` per extension and ``(None, (left, top,
    indexes, rgb))`` per image — ``indexes`` the (ih, iw) palette
    indexes after LZW decode and interlace reorder, ``rgb`` the
    (ih, iw, 3) expansion through the local palette, else ``gct``.
    Bad block ids, torn tables, sub-blocks or descriptors, an image
    without a palette or pixels, and out-of-range indexes raise
    ValueError; where the image sits on the screen is the caller's
    business."""
    import struct

    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            return
        if b0 == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos + 1]
            blocks, pos = _gif_sub_blocks(payload, pos + 2)
            yield label, blocks
            continue
        if b0 != 0x2C:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, iw, ih, ip = struct.unpack("<HHHHB",
                                              payload[pos + 1:pos + 10])
        local, pos = _gif_palette(payload, pos + 10, ip, "local")
        pal = local if ip & 0x80 else gct
        if pal is None:
            raise ValueError("GIF image without a color table")
        if not iw or not ih:
            raise ValueError("empty GIF image descriptor")
        if pos >= len(payload):
            raise ValueError("GIF truncated before LZW data")
        min_code = payload[pos]
        data, pos = _gif_sub_blocks(payload, pos + 1)
        idx = _gif_lzw_decode(b"".join(data), min_code)
        if len(idx) < iw * ih:
            raise ValueError("GIF pixel data short")
        arr = np.frombuffer(idx, np.uint8, iw * ih).reshape(ih, iw)
        if ip & 0x40:  # interlaced: rows arrive in 4 passes
            shown = np.empty_like(arr)
            shown[_gif_interlace_rows(ih)] = arr
            arr = shown
        if int(arr.max()) * 3 + 3 > len(pal):
            raise ValueError("GIF palette index out of range")
        rgb = np.frombuffer(pal, np.uint8).reshape(-1, 3)[arr]
        yield None, (left, top, arr, rgb)


def decode_gif_pixels(payload: bytes) \
        -> tuple[int, int, int, bytes] | None:
    """(width, height, 3, rgb_samples) for a GIF87a/89a payload — REAL
    pixel decode, stdlib-only: logical screen descriptor, global/local
    palette, extension-block skip, LZW decompression of the FIRST
    image block, 4-pass interlace reorder, palette→RGB expansion.
    Frames after the first need disposal/compositing state and are out
    of scope for pixel stats (the first frame IS the poster frame).
    Transparency is ignored — stats run over stored palette colors.

    Returns None for non-GIF payloads; ValueError for corrupt
    streams (same taxonomy as the PNG/JPEG decoders)."""
    screen = _gif_screen(payload)
    if screen is None:
        return None
    _w, _h, _bg, gct, pos = screen
    for label, image in _gif_blocks(payload, pos, gct):
        if label is None:
            # dims are the IMAGE descriptor's (the common whole-screen
            # frame); a sub-rectangle frame reports its own dims —
            # stats still cover exactly the stored pixels
            _left, _top, arr, rgb = image
            return (arr.shape[1], arr.shape[0], 3, rgb.tobytes())
    raise ValueError("GIF without an image block")


def _gif_gray_head(width: int, height: int) -> bytearray:
    """GIF89a header, logical screen and the identity 256-gray global
    palette that both gray encoders write."""
    import struct

    if width > 0xFFFF or height > 0xFFFF:
        raise ValueError("GIF dimensions must fit 16 bits")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # GCT 256
    out += bytes(v for i in range(256) for v in (i, i, i))
    return out


def _gif_gray_image(pixels: bytes, width: int, height: int,
                    interlace: bool = False) -> bytes:
    """One whole-screen image block in the 'uncompressed GIF' LZW form:
    the descriptor, then 9-bit literal codes with a CLEAR every 254
    symbols (so the decoder's table never forces a width bump) and EOI,
    cut into 255-byte sub-blocks and terminated."""
    import struct

    out = bytearray(b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0x00))
    if interlace:
        pixels = b"".join(pixels[r * width:(r + 1) * width]
                          for r in _gif_interlace_rows(height))
    out += b"\x08"  # LZW minimum code size (256 literals)
    acc = nb = 0
    codes = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nb
        acc |= code << nb
        nb += 9
        while nb >= 8:
            codes.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    put(256)  # CLEAR
    for i, px in enumerate(pixels):
        if i and i % 254 == 0:
            put(256)  # re-CLEAR before the decoder's table fills
        put(px)
    put(257)  # EOI
    if nb:
        codes.append(acc & 0xFF)
    for i in range(0, len(codes), 255):
        blk = codes[i:i + 255]
        out += bytes([len(blk)]) + blk
    return bytes(out + b"\x00")


def encode_gif_gray(pixels: bytes, width: int,
                    interlace: bool = False) -> bytes:
    """Grayscale GIF encoder (identity 256-entry palette, the
    'uncompressed GIF' LZW form: 9-bit literal codes with a CLEAR
    every 254 symbols so the decoder's table never forces a width
    bump) — the q212 device twin: decode(encode(bytes)) returns each
    source byte as an (v,v,v) RGB pixel, so the oracle computes stats
    straight from the characters. Real compressed streams'
    dict-growth/KwKwK decode paths are pinned separately by
    handcrafted-bitstream tests."""
    if width <= 0 or len(pixels) % width:
        raise ValueError("pixels must be height x width bytes")
    height = len(pixels) // width
    out = _gif_gray_head(width, height)
    out += _gif_gray_image(pixels, width, height, interlace)
    return bytes(out + b"\x3b")


def decode_gif_frames(payload: bytes) \
        -> tuple[int, int, int, list[bytes]] | None:
    """(width, height, fps, frames) for an animated GIF — REAL
    multi-frame decode with disposal/compositing state (the r8 poster
    frame decoder only read the first image block): walks every image
    descriptor, applies each frame's Graphic Control Extension —
    transparency masks during the draw, disposal methods 0/1 (leave),
    2 (restore rect to background) and 3 (restore to previous canvas)
    between frames — and snapshots the FULL logical-screen RGB canvas
    after each draw, so ``frames`` are renderer-visible composites,
    not stored sub-rectangles.

    The canvas starts as the global palette's background color (black
    when there is no GCT — the common renderer convention for a
    transparent start). ``fps`` is 100/delay rounded half-up from the
    first GCE's delay in centiseconds; GIFs with no GCE delay (or
    delay 0) report the 10 fps renderers substitute for the ~100 ms
    default tick; slower-than-1-fps slideshows clamp to 1 so duration
    math never divides by zero.

    Returns None for non-GIF payloads; ValueError for corrupt streams
    (bad block ids, truncated tables/sub-blocks, out-of-bounds frame
    rects or palette indexes) — the decode_gif_pixels taxonomy."""
    import struct

    screen = _gif_screen(payload)
    if screen is None:
        return None
    w, h, bg, gct, pos = screen
    if not w or not h:
        raise ValueError("empty GIF logical screen")
    if gct is not None and bg * 3 + 3 <= len(gct):
        bg_rgb = tuple(gct[bg * 3:bg * 3 + 3])
    else:
        bg_rgb = (0, 0, 0)
    canvas = np.empty((h, w, 3), np.uint8)
    canvas[:] = bg_rgb
    frames = []
    fps = None
    pend = None  # (disposal, transparent_index_or_None, delay_cs)
    for label, item in _gif_blocks(payload, pos, gct):
        if label == 0xF9:  # Graphic Control Extension
            if not item or len(item[0]) < 4:
                raise ValueError("short GIF graphic control block")
            gp, delay, tidx = struct.unpack("<BHB", item[0][:4])
            pend = ((gp >> 2) & 0x07,
                    tidx if gp & 0x01 else None, delay)
            if fps is None and delay:
                # clamp to >=1: a slideshow GIF with a >2 s tick
                # is well-formed and must not round to fps=0
                # (review finding r9, second pass)
                fps = max(1, (200 + delay) // (2 * delay))
            continue
        if label is not None:
            continue  # other extensions carry nothing drawn
        left, top, arr, rgb = item
        ih, iw = arr.shape
        if left + iw > w or top + ih > h:
            raise ValueError("GIF frame rect outside logical screen")
        disposal, tidx, _delay = pend or (0, None, 0)
        prev = canvas.copy() if disposal == 3 else None
        rect = canvas[top:top + ih, left:left + iw]
        if tidx is None:
            rect[:] = rgb
        else:
            mask = arr != tidx
            rect[mask] = rgb[mask]
        frames.append(canvas.tobytes())
        if disposal == 2:
            canvas[top:top + ih, left:left + iw] = bg_rgb
        elif disposal == 3:
            canvas = prev
        pend = None
    if not frames:
        raise ValueError("GIF without an image block")
    return (w, h, fps if fps is not None else 10, frames)


def gif_anim_meta(payload: bytes) \
        -> tuple[int, int, int, int] | None:
    """(width, height, fps, n_frames) for a GIF — the cheap
    metadata/routing walk that never pays LZW decode: hop palettes,
    extension sub-block chains and data sub-block chains by their
    declared lengths, counting 0x2C image descriptors and reading the
    first Graphic Control Extension's delay for the frame rate (the
    same half-up rational + 10 fps default-tick convention as
    ``decode_gif_frames``). Returns None for non-GIF payloads. This
    is deliberately LOOSE on validation (it never inflates pixels) —
    it may return counts for a payload whose full decode would raise,
    and the decoder that receives the routed payload stays the loud
    authority on corruption."""
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    count = 0
    fps = None
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            label = payload[pos + 1] if pos + 1 < len(payload) else 0
            pos += 2
            first = True
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                if (first and label == 0xF9 and fps is None
                        and ln >= 4 and pos + 4 <= len(payload)):
                    (delay,) = struct.unpack(
                        "<H", payload[pos + 2:pos + 4])
                    if delay:
                        fps = max(1, (200 + delay) // (2 * delay))
                first = False
                pos += 1 + ln
            pos += 1
            continue
        if b0 != 0x2C:
            break  # corrupt — leave the verdict to the decoder
        if pos + 10 > len(payload):
            break
        ip = struct.unpack("<B", payload[pos + 9:pos + 10])[0]
        pos += 10
        if ip & 0x80:
            pos += 3 * (2 << (ip & 0x07))
        pos += 1  # LZW min code size
        while pos < len(payload) and payload[pos]:
            pos += 1 + payload[pos]
        pos += 1
        count += 1
    return (w, h, fps if fps is not None else 10, count)


def gif_frame_count(payload: bytes) -> int | None:
    """Number of image blocks in a GIF — the routing probe that
    decides image-vs-video for a GIF (see ``gif_anim_meta`` for the
    walk's contract). Returns None for non-GIF payloads."""
    meta = gif_anim_meta(payload)
    return None if meta is None else meta[3]


def encode_gif_animation(frames: list[bytes], width: int,
                         delay_cs: int = 5) -> bytes:
    """Animated grayscale GIF encoder (the decode-test twin of
    ``decode_gif_frames``): every frame is a full-logical-screen
    image block under the identity 256-entry palette, preceded by a
    Graphic Control Extension carrying ``delay_cs`` and disposal 1
    (do not dispose), with a NETSCAPE2.0 loop block up front — the
    layout ubiquitous real animations ship. decode(encode(frames))
    returns each source byte as a (v,v,v) RGB sample. Sub-rectangle
    frames, transparency and disposal 2/3 are pinned by handcrafted
    bitstreams in tests (this encoder stays the simple device)."""
    import struct

    if not frames:
        raise ValueError("need at least one frame")
    if width <= 0 or any(len(f) % width for f in frames):
        raise ValueError("frames must be height x width bytes")
    height = len(frames[0]) // width
    if any(len(f) != width * height for f in frames):
        raise ValueError("all frames must share dimensions")
    out = _gif_gray_head(width, height)
    # NETSCAPE2.0 application extension: loop forever
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        out += b"\x21\xf9\x04" + struct.pack(
            "<BHB", 0x04, delay_cs, 0) + b"\x00"  # disposal 1
        out += _gif_gray_image(fr, width, height)
    return bytes(out + b"\x3b")


# --------------------------------------------------------------- BMP pixels
def _decode_bmp_rle(data: bytes, w: int, h: int, bpp: int):
    """BI_RLE8 / BI_RLE4 run-length decode (MS-WMF 2.1.1.7 escape
    codes) to an ``h x w`` uint8 palette-index array in TOP-DOWN row
    order. Storage is bottom-up (row 0 = bottom); pixels the stream
    never writes (delta skips, early end-of-line/bitmap) default to
    palette index 0, the long-standing renderer convention. Runs or
    absolute packets that would overflow their row, deltas that land
    outside the bitmap, and truncation all raise ValueError — an RLE
    stream is self-delimiting, so any cursor escape is corruption,
    never a gated variant."""
    out = np.zeros((h, w), np.uint8)
    x = y = 0  # y counts storage rows, bottom-up
    i, n = 0, len(data)
    while True:
        if i + 2 > n:
            raise ValueError("BMP RLE stream truncated (no EOB)")
        c0, c1 = data[i], data[i + 1]
        i += 2
        if c0 > 0:  # encoded run: c0 pixels of c1
            if y >= h or x + c0 > w:
                raise ValueError("BMP RLE run overflows row")
            if bpp == 8:
                out[y, x:x + c0] = c1
            else:  # RLE4 runs alternate the two nibbles of c1
                run = np.empty(c0, np.uint8)
                run[0::2] = c1 >> 4
                run[1::2] = c1 & 0xF
                out[y, x:x + c0] = run
            x += c0
            continue
        if c1 == 0:  # escape: end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("BMP RLE line past bitmap")
        elif c1 == 1:  # escape: end of bitmap
            break
        elif c1 == 2:  # escape: delta (unwritten pixels stay 0)
            if i + 2 > n:
                raise ValueError("BMP RLE delta truncated")
            x, y = x + data[i], y + data[i + 1]
            i += 2
            if x > w or y > h:  # writes re-check; past-end delta+EOB
                raise ValueError("BMP RLE delta out of bounds")
        else:  # escape: absolute packet of c1 literal pixels
            if y >= h or x + c1 > w:
                raise ValueError("BMP RLE absolute overflows row")
            if bpp == 8:
                nbytes = (c1 + 1) & ~1  # literals pad to a word
                if i + nbytes > n:
                    raise ValueError("BMP RLE absolute truncated")
                out[y, x:x + c1] = np.frombuffer(
                    data[i:i + c1], np.uint8)
            else:
                nbytes = ((c1 + 3) // 4) * 2  # nibbles pad to a word
                if i + nbytes > n:
                    raise ValueError("BMP RLE absolute truncated")
                b = np.frombuffer(data[i:i + nbytes], np.uint8)
                nib = np.empty(b.size * 2, np.uint8)
                nib[0::2] = b >> 4
                nib[1::2] = b & 0xF
                out[y, x:x + c1] = nib[:c1]
            i += nbytes
            x += c1
    return out[::-1]  # bottom-up storage -> top-down rows


def decode_bmp_pixels(payload: bytes) \
        -> tuple[int, int, int, bytes] | None:
    """(width, height, channels, samples) for a BITMAPINFOHEADER BMP —
    REAL pixel decode, stdlib+numpy only: 1/4/8-bit palette (BGRA
    quads → RGB, bit-packed rows unpacked MSB-first), 24-bit BGR and
    32-bit BGRA/BGRX (alpha dropped — stats are over color samples),
    BI_RLE8 / BI_RLE4 run-length compression (runs, absolute packets,
    end-of-line/bitmap and delta escapes), rows stored bottom-up
    (positive height) or top-down (negative; invalid for RLE per the
    format, so it raises), each uncompressed row padded to a 4-byte
    boundary, and (r8) 16/32-bit BI_BITFIELDS with ANY contiguous
    non-overlapping masks — 565, 555 (also the 16-bpp comp-0 default)
    and 8888 alike, reporting RAW stored channel levels (a 5-bit red
    is 0..31; stats are over stored values, the sub-byte-PNG policy).
    Non-contiguous/overlapping masks, embedded JPEG/PNG (methods 4/5)
    and the legacy CORE header raise NotImplementedError; corrupt
    streams ValueError — the shared taxonomy.

    BMPs are rare in crawls but trivial to serve: with PNG, JPEG and
    GIF real since r8, this closes the raster formats the sniffer
    recognizes — including, since the RLE/low-depth extension, every
    palette BMP a legacy exporter actually writes.

    The 2-byte magic is WEAK (any text starting 'BM…' matches), so the
    decoder commits to "this is a BMP" only after the structural
    prefix also checks out — a known info-header size AND planes == 1
    (six constrained bytes at fixed offsets). Before that point any
    oddity returns None (not-a-BMP, degrade path); after it, gated
    variants raise NotImplementedError and genuine corruption
    ValueError, the shared taxonomy (review finding r8: the first cut
    raised on ≥54-byte 'BM…' text, aborting whole stats batches)."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    w, h_raw, planes, bpp, comp = struct.unpack(
        "<iiHHI", payload[18:34])
    if hdr_size not in (40, 52, 56, 108, 124) or planes != 1:
        return None  # weak magic: not structurally a BMP
    masks = None
    if comp == 3:
        # BI_BITFIELDS (r8: generalized from standard-BGRA-only):
        # any CONTIGUOUS non-overlapping RGB masks decode at 16/32 bpp
        # — 565, 555, 8888 and friends; non-contiguous or overlapping
        # masks stay gated (extraction would silently misweight)
        if bpp not in (16, 32) or len(payload) < 66:
            raise NotImplementedError(
                f"BI_BITFIELDS BMP at {bpp} bpp")
        masks = struct.unpack("<III", payload[54:66])
        for a in range(3):
            m = masks[a]
            if m == 0 or m >= (1 << bpp):
                raise NotImplementedError(
                    "BI_BITFIELDS BMP with empty/oversized mask")
            t = m >> (m & -m).bit_length() - 1
            if t & (t + 1):
                raise NotImplementedError(
                    "BI_BITFIELDS BMP with non-contiguous mask")
            for b in range(a + 1, 3):
                if m & masks[b]:
                    raise NotImplementedError(
                        "BI_BITFIELDS BMP with overlapping masks")
    elif comp in (1, 2):
        # BI_RLE8 / BI_RLE4: the depth is part of the method's
        # definition, so a mismatch is corruption, not a gated variant
        if bpp != (8 if comp == 1 else 4):
            raise ValueError(f"BMP RLE{8 if comp == 1 else 4} "
                             f"with {bpp}-bit pixels")
        if h_raw < 0:
            raise ValueError("top-down RLE BMP (format forbids it)")
    elif comp != 0:
        raise NotImplementedError(f"compressed BMP (method {comp})")
    if bpp == 16 and comp == 0:
        masks = (0x7C00, 0x03E0, 0x001F)  # the spec's default 555
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP")
    if w <= 0 or h_raw == 0:
        raise ValueError("bad BMP dimensions")
    (clr_used,) = struct.unpack("<I", payload[46:50])
    n_pal = clr_used or ((1 << bpp) if bpp <= 8 else 0)
    pal_end = 14 + hdr_size + 4 * n_pal
    if data_off < pal_end or data_off > len(payload):
        # a pixel offset inside the header/palette would decode header
        # bytes as pixels — silent wrong stats (review finding r8)
        raise ValueError("BMP pixel data offset inside header")
    top_down = h_raw < 0
    h = abs(h_raw)

    def palette() -> "np.ndarray":
        # biClrUsed BGRA quads right after the info header (0 = the
        # full 2^bpp set) — NOT inferred from the data gap, which may
        # contain alignment slack (review finding r8)
        pal_raw = payload[14 + hdr_size:pal_end]
        if n_pal == 0 or len(pal_raw) != 4 * n_pal:
            raise ValueError("BMP palette truncated")
        return (np.frombuffer(pal_raw, np.uint8)
                .reshape(-1, 4)[:, [2, 1, 0]])  # BGRA -> RGB

    def map_palette(idx: "np.ndarray") -> tuple:
        pal = palette()
        if int(idx.max()) >= n_pal:
            raise ValueError("BMP palette index out of range")
        return (w, h, 3, pal[idx].astype(np.uint8).tobytes())

    if comp in (1, 2):  # RLE stream is self-delimiting (EOB escape)
        return map_palette(
            _decode_bmp_rle(payload[data_off:], w, h, bpp))

    stride = ((w * bpp + 31) // 32) * 4  # rows pad to 4 bytes
    data = payload[data_off:data_off + stride * h]
    if len(data) != stride * h:
        raise ValueError("BMP pixel data short")
    rows = np.frombuffer(data, np.uint8).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp < 8:  # bit-packed palette rows, MSB-first like PNG's
        bits = np.unpackbits(rows, axis=1)
        if bpp == 1:
            idx = bits[:, :w]
        else:  # 4-bit: regroup each nibble's bits
            idx = (bits[:, :w * 4].reshape(h, w, 4)
                   * np.array([8, 4, 2, 1], np.uint8)).sum(
                       axis=2, dtype=np.uint8)
        return map_palette(idx)
    if bpp == 8:
        return map_palette(rows[:, :w])
    nb = bpp // 8
    if masks is not None:
        # bitfield extraction: RAW stored levels (a 5-bit red reports
        # 0..31 — stats are over stored values, the sub-byte-PNG
        # policy), channel order R,G,B per the mask order
        dt = "<u2" if bpp == 16 else "<u4"
        px = np.ascontiguousarray(rows[:, :w * nb]).view(dt) \
            .reshape(h, w).astype(np.int64)
        out = np.empty((h, w, 3), np.uint8)
        for ci, m in enumerate(masks):
            shift = (m & -m).bit_length() - 1
            width_bits = (m >> shift).bit_length()
            if width_bits > 8:
                raise NotImplementedError(
                    "BI_BITFIELDS channel wider than 8 bits")
            out[:, :, ci] = (px >> shift) & ((1 << width_bits) - 1)
        return (w, h, 3, out.tobytes())
    px = rows[:, :w * nb].reshape(h, w, nb)
    rgb = px[:, :, [2, 1, 0]]  # BGR(A) -> RGB, alpha dropped
    return (w, h, 3, np.ascontiguousarray(rgb).tobytes())


def encode_bmp_gray(pixels: bytes, width: int,
                    top_down: bool = False) -> bytes:
    """8-bit identity-palette BMP encoder (the decode-test twin):
    bottom-up by default, padded rows, 256 BGRA quads."""
    import struct

    if width <= 0 or len(pixels) % width:
        raise ValueError("pixels must be height x width bytes")
    height = len(pixels) // width
    stride = (width + 3) & ~3
    pal = bytes(v for i in range(256) for v in (i, i, i, 0))
    rows = [pixels[r * width:(r + 1) * width].ljust(stride, b"\x00")
            for r in range(height)]
    if not top_down:
        rows = rows[::-1]
    data = b"".join(rows)
    off = 14 + 40 + len(pal)
    hdr = (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, width,
                         -height if top_down else height,
                         1, 8, 0, len(data), 2835, 2835, 256, 0))
    return hdr + pal + data


def encode_bmp_rle8_gray(pixels: bytes, width: int) -> bytes:
    """8-bit identity-palette BI_RLE8 BMP encoder (the decode-test
    twin for the compressed path): per row, repeats of >= 4 become
    encoded runs (255-capped) and everything between them ships as
    word-padded absolute packets (1-2 byte stragglers as length-1
    runs), with an end-of-line escape per row and end-of-bitmap at
    the close — so a round trip exercises runs, absolute packets AND
    both escapes. Run boundaries come from one numpy diff pass per
    row, not a per-pixel loop (the first cut was ~9 s cold at sf0.1
    for the q213 device — r8 measurement). Delta escapes are never
    emitted (they encode skips over default-0 pixels); the
    handcrafted-stream tests pin that path."""
    import struct

    if width <= 0 or len(pixels) % width:
        raise ValueError("pixels must be height x width bytes")
    height = len(pixels) // width
    px = np.frombuffer(pixels, np.uint8).reshape(height, width)
    out = bytearray()

    def absolute(seg: "np.ndarray") -> None:
        pos = 0
        while len(seg) - pos >= 3:
            n = min(255, len(seg) - pos)
            if len(seg) - pos - n in (1, 2):
                n -= 3  # keep the remainder >= 3 for one more packet
            out.append(0)
            out.append(n)
            out.extend(seg[pos:pos + n].tobytes())
            if n & 1:
                out.append(0)  # absolute packets pad to a word
            pos += n
        for b in seg[pos:]:  # 0-2 stragglers as length-1 runs
            out.append(1)
            out.append(int(b))

    for r in range(height - 1, -1, -1):  # storage is bottom-up
        row = px[r]
        cuts = np.flatnonzero(np.diff(row)) + 1
        starts = np.concatenate(([0], cuts))
        lens = np.diff(np.concatenate((starts, [width])))
        pos = 0
        for s0, ln in zip(starts[lens >= 4], lens[lens >= 4]):
            absolute(row[pos:s0])
            v, left = int(row[s0]), int(ln)
            while left:
                c = min(255, left)
                out.append(c)
                out.append(v)
                left -= c
            pos = int(s0) + int(ln)
        absolute(row[pos:])
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    pal = bytes(v for i in range(256) for v in (i, i, i, 0))
    off = 14 + 40 + len(pal)
    hdr = (b"BM" + struct.pack("<IHHI", off + len(out), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, width, height,
                         1, 8, 1, len(out), 2835, 2835, 256, 0))
    return hdr + pal + bytes(out)


PIXEL_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("sum_val", T.LongType(), True),
    T.StructField("min_val", T.IntegerType(), True),
    T.StructField("max_val", T.IntegerType(), True),
    # bits per stored sample (r10): 16-bit PNGs report native-grain
    # stats (values 0..65535), and this column is what makes that safe
    # — downstream normalization divides by (2^bit_depth − 1), never
    # assumes 255. 8 for every non-PNG raster decoder in this module.
    T.StructField("bit_depth", T.IntegerType(), True),
])


def encode_bmp_bitfields(chan: "np.ndarray",
                         masks: tuple = (0xF800, 0x07E0, 0x001F),
                         bpp: int = 16,
                         explicit: bool = True) -> bytes:
    """16/32-bit bitfield BMP encoder (the decode-test twin): packs
    RAW channel levels ``chan`` (h×w×3, each value < its mask width)
    under the given contiguous masks — BI_BITFIELDS with an explicit
    mask table when ``explicit``, else the bare 16-bpp comp-0 form
    whose 555 masks are the format default. Bottom-up rows padded to
    4 bytes, like every other BMP this module writes."""
    import struct

    if bpp not in (16, 32):
        raise ValueError("bitfield BMPs are 16 or 32 bpp")
    if not explicit and (bpp != 16 or masks != (0x7C00, 0x03E0,
                                                0x001F)):
        raise ValueError("comp-0 16-bpp implies the default 555 masks")
    h, w, _ = chan.shape
    px = np.zeros((h, w), np.int64)
    for ci, m in enumerate(masks):
        shift = (m & -m).bit_length() - 1
        width_bits = (m >> shift).bit_length()
        if int(chan[:, :, ci].max()) >= (1 << width_bits):
            raise ValueError("channel level exceeds its mask width")
        px |= chan[:, :, ci].astype(np.int64) << shift
    nb = bpp // 8
    stride = ((w * bpp + 31) // 32) * 4
    dt = "<u2" if bpp == 16 else "<u4"
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = px[r].astype(dt).tobytes()
        body += row + b"\x00" * (stride - len(row))
    mask_tbl = struct.pack("<III", *masks) if explicit else b""
    data_off = 14 + 40 + len(mask_tbl)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp,
                       3 if explicit else 0, len(body), 0, 0, 0, 0)
    hdr = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                               data_off))
    return hdr + info + mask_tbl + bytes(body)


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """Per-image pixel statistics from REAL pixel decode (PNG, JPEG,
    GIF, BMP and TIFF, routed by magic bytes through their
    ``decode_*_pixels`` decoders), Arrow-batched. Emits exact-integer
    (sum, min, max, count) over all channel samples so downstream
    means can use the half-up integer device — float means would break
    cross-engine parity. Payloads in neither format yield all-null
    stats (metadata-only rows), and so do well-formed-but-gated codec
    variants (extended-sequential or arithmetic-coded JPEG, …): a real
    crawl batch is mixed, and one gated-variant image
    must degrade like a WebP or video payload does, not abort the
    whole aggregate job (review finding r7; progressive JPEG, Adam7
    PNG and GIF left the degrade list in r8, 16-bit PNG in r10 — all
    decode for real now, so only their CORRUPT streams abort). Only
    genuinely CORRUPT streams raise (ValueError): silent wrong pixels
    must never reach a stats aggregate, but "we honestly don't decode
    this yet" is a null, not a crash. Since r10 every row carries
    ``bit_depth`` (bits per stored sample) and PNGs route through the
    NATIVE-grain decoder: a 16-bit PNG reports stats over 0..65535
    values with ``bit_depth=16`` — consumers normalize by
    (2^bit_depth − 1), never an assumed 255.

    Scale shape: one mapInPandas pass, no shuffle — stats land at media
    grain and any corpus-level aggregate shuffles only the tiny stats
    rows, never pixels."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                a = depth = None
                if payload is not None:
                    try:
                        raw = bytes(payload)
                        # PNG routes through the NATIVE-grain decoder
                        # (r10): 16-bit samples keep their 0..65535
                        # values and report bit_depth=16
                        dec = decode_png_samples(raw)
                        if dec is not None:
                            w, h, ch, depth, a = dec
                        else:
                            dec = decode_jpeg_pixels(raw)
                            if dec is None:
                                dec = decode_gif_pixels(raw)
                            if dec is None:
                                dec = decode_bmp_pixels(raw)
                            if dec is None:
                                dec = decode_tiff_pixels(raw)
                            if dec is not None:
                                w, h, ch, px = dec
                                depth = 8
                                a = np.frombuffer(px, np.uint8)
                    except NotImplementedError:
                        a = depth = None  # gated variant: degrade
                if a is None:
                    rows.append((mid, None, None, None, None, None,
                                 None, None, None))
                    continue
                rows.append((mid, w, h, ch, int(a.size),
                             int(a.sum(dtype=np.int64)),
                             int(a.min()) if a.size else None,
                             int(a.max()) if a.size else None,
                             depth))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "channels", "n_samples",
                "sum_val", "min_val", "max_val", "bit_depth"])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=PIXEL_STATS_SCHEMA)


def sniff_media_type(payload: bytes) -> str:
    """MIME type from magic bytes — the single source of truth for the
    format signatures this module's decoders understand (PNG/JPEG/GIF/
    BMP/TIFF dims, RIFF/WAVE and fLaC audio, ISO-BMFF and RIFF/AVI
    video); anything
    else is application/octet-stream. Used by the media_dir DataSource
    and available to callers routing payloads to decoders."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "image/png"
    if payload[:2] == b"\xff\xd8":
        return "image/jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "image/gif"
    if payload[:2] == b"BM":
        return "image/bmp"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "image/tiff"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio/wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "video/avi"
    if payload[:4] == b"fLaC":
        return "audio/flac"
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        # audio-branded ISO-BMFF (M4A/M4B) sniffs audio — the r10 PCM
        # demux serves it; other brands stay video/mp4 (the common
        # case, and brandless fragments can't be told apart by magic)
        if payload[8:12] in (b"M4A ", b"M4B "):
            return "audio/mp4"
        return "video/mp4"
    return "application/octet-stream"


# -------------------------------------------------------------- JPEG pixels
# Baseline sequential-DCT JPEG (SOF0), stdlib+numpy only (r7, closes
# the r6 verdict's "JPEG is the dominant web-image format" gap): the
# entropy layer — canonical huffman tables from DHT, byte unstuffing,
# restart markers, DC prediction, AC run-lengths — is LOSSLESS and
# fully implemented, so quantized coefficients are recovered exactly;
# dequantization and the IDCT ride one numpy matrix pair per image.
# r8 adds the interleaved multi-component scan with chroma
# subsampling (4:2:0 / 4:2:2 / 4:4:0 — sampling factors 1..2) AND the
# progressive (SOF2) mode — multi-scan coefficient accumulation,
# spectral selection, successive approximation — which together cover
# what a real crawl's images actually use; upsampling is sample
# replication (nearest), documented and pinned by the golden tests.
# Arithmetic coding (SOF9+), lossless JPEG and sampling factors >2
# stay honestly gated behind NotImplementedError — wrong pixels must
# never silently reach a stats aggregate.

#: zigzag scan position -> natural (row-major) coefficient index
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

#: SOF markers this decoder refuses, by reason (baseline SOF0 and —
#: since r8 — progressive SOF2 decode for real)
_JPEG_SOF_GATED = {
    0xC1: "extended sequential JPEG (SOF1)",
    0xC3: "lossless JPEG (SOF3)",
    0xC5: "differential sequential JPEG (SOF5)",
    0xC6: "differential progressive JPEG (SOF6)",
    0xC7: "differential lossless JPEG (SOF7)",
    0xC9: "arithmetic-coded JPEG (SOF9)",
    0xCA: "arithmetic-coded progressive JPEG (SOF10)",
    0xCB: "arithmetic-coded lossless JPEG (SOF11)",
    0xCD: "differential arithmetic JPEG (SOF13)",
    0xCE: "differential arithmetic progressive JPEG (SOF14)",
    0xCF: "differential arithmetic lossless JPEG (SOF15)",
}


def _idct_matrix() -> "np.ndarray":
    """The 8×8 DCT-II basis A[u,x] = ½·c(u)·cos((2x+1)uπ/16); forward
    is F = A f Aᵀ, inverse f = Aᵀ F A. For a DC-only block the inverse
    is exact in float64 (F00·(1/(2√2))² errs ~1e-16 relative), which
    is what makes the q201 round-trip oracle-exact."""
    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_IDCT_A = None  # built lazily; numpy import is module-level already


class _BitWriter:
    """MSB-first bit sink with JPEG 0xFF byte stuffing. Bits land in
    GROUPS (one shift per code, bytes drained as they fill) — the
    per-bit loop made q201's encode the dominant cold cost at sf0.1
    (r7 measurement)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-padding per spec
        return bytes(self.out)


def _canonical_codes(symbols: list[int], length: int) \
        -> tuple[bytes, dict[int, tuple[int, int]]]:
    """A fixed-length canonical huffman table over ``symbols``: DHT
    'bits' payload + {symbol: (code, length)}. Valid JPEG needs the
    all-ones code unused, so len(symbols) < 2**length must hold."""
    if len(symbols) >= (1 << length):
        raise ValueError("too many symbols for code length")
    bits = bytearray(16)
    bits[length - 1] = len(symbols)
    return (bytes(bits) + bytes(symbols),
            {s: (i, length) for i, s in enumerate(symbols)})


def _bit_category(v: int) -> int:
    """JPEG magnitude category: smallest n with |v| < 2**n."""
    return abs(v).bit_length()


def encode_jpeg_components(comps: list[tuple["np.ndarray", int, int]],
                           mcus_per_row: int,
                           width: int | None = None,
                           height: int | None = None,
                           restart_interval: int = 0) -> bytes:
    """Baseline JPEG from QUANTIZED coefficient blocks, general
    interleaved-MCU form (r8): ``comps`` is a list of
    ``(blocks, h_samp, v_samp)`` — component ci contributes
    ``h_samp×v_samp`` data units per MCU, its ``blocks`` array is
    (n_mcus·h·v, 64) in that component's block-grid raster order,
    natural (row-major) coefficient order, quant table all ones. The
    entropy layer is lossless, so a decode recovers the given
    coefficients bit-exactly — the device the q201/q209 oracles and
    the codec tests ride. One shared DC + AC huffman table pair over
    every component's emitted symbols (components may legally share
    tables). Not a general encoder: no quantization choice, no
    optimization — the DECODER is the product, this is its test/ingest
    harness (like ``encode_png_gray``). ``restart_interval`` counts
    MCUs, per spec."""
    import struct

    nc = len(comps)
    if not 1 <= nc <= 3:
        raise ValueError("1..3 components")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    n_mcus = len(comps[0][0]) // (comps[0][1] * comps[0][2])
    for blocks, hs, vs in comps:
        if len(blocks) != n_mcus * hs * vs:
            raise ValueError("component block counts disagree on MCUs")
    if n_mcus % mcus_per_row:
        raise ValueError("blocks must tile whole MCU rows")
    w = width if width is not None else mcus_per_row * 8 * hmax
    h = height if height is not None \
        else (n_mcus // mcus_per_row) * 8 * vmax

    # one pass to collect emitted symbols; second pass to encode.
    # zigzag reorder + last-nonzero are ONE vectorized numpy pass, not
    # 64 Python element reads per block (r7: the per-block list
    # comprehension dominated q201's cold encode at sf0.1)
    zz_lists, last_alls = [], []
    for blocks, _hs, _vs in comps:
        arr = np.asarray(blocks, dtype=np.int64)
        zz_all = arr[:, list(_JPEG_ZIGZAG)]
        nz = zz_all[:, 1:] != 0
        last_alls.append(np.where(nz.any(axis=1),
                                  63 - nz[:, ::-1].argmax(axis=1), 0))
        zz_lists.append(zz_all.tolist())
    # (ci, per-MCU block index offsets) in interleaved emission order
    unit_order = [(ci, v, hh)
                  for ci in range(nc)
                  for v in range(comps[ci][2])
                  for hh in range(comps[ci][1])]
    dc_syms, ac_syms = set(), set()

    def walk(emit, on_restart=None) -> None:
        preds = [0] * nc
        for mcu in range(n_mcus):
            my, mx = divmod(mcu, mcus_per_row)
            for ci, v, hh in unit_order:
                hs, vs = comps[ci][1], comps[ci][2]
                bi = (my * vs + v) * (mcus_per_row * hs) + mx * hs + hh
                zz = zz_lists[ci][bi]
                diff = zz[0] - preds[ci]
                preds[ci] = zz[0]
                emit(True, _bit_category(diff), diff)
                k, run = 1, 0
                last = int(last_alls[ci][bi])
                while k <= last:
                    if zz[k] == 0:
                        run += 1
                        if run == 16:
                            emit(False, 0xF0, 0)  # ZRL
                            run = 0
                    else:
                        emit(False, (run << 4) | _bit_category(zz[k]),
                             zz[k])
                        run = 0
                    k += 1
                if last < 63:
                    emit(False, 0x00, 0)  # EOB
            if restart_interval and (mcu + 1) % restart_interval == 0 \
                    and mcu + 1 < n_mcus:
                preds = [0] * nc  # RSTn resets every DC predictor
                if on_restart is not None:
                    on_restart((mcu + 1) // restart_interval - 1)

    walk(lambda is_dc, sym, _v:
         (dc_syms if is_dc else ac_syms).add(sym))
    dc_payload, dc_codes = _canonical_codes(sorted(dc_syms), 5)
    ac_payload, ac_codes = _canonical_codes(sorted(ac_syms), 8)

    bw = _BitWriter()

    def emit(is_dc: bool, sym: int, v: int) -> None:
        code, ln = (dc_codes if is_dc else ac_codes)[sym]
        bw.put(code, ln)
        size = sym & 0x0F if not is_dc else sym
        if size:
            bw.put(v if v > 0 else v + (1 << size) - 1, size)

    def on_restart(idx: int) -> None:
        # pad to a byte boundary and drop RSTn between intervals
        if bw.nbits:
            pad = 8 - bw.nbits
            bw.put((1 << pad) - 1, pad)
        bw.out += bytes([0xFF, 0xD0 + idx % 8])

    walk(emit, on_restart)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt = seg(0xFFDB, b"\x00" + bytes([1] * 64))  # table 0, all ones
    sof_comps = b"".join(
        bytes([ci + 1, (hs << 4) | vs, 0])
        for ci, (_b, hs, vs) in enumerate(comps))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)
    dht = seg(0xFFC4, b"\x00" + dc_payload) \
        + seg(0xFFC4, b"\x10" + ac_payload)
    sos_comps = b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
    sos = seg(0xFFDA, bytes([nc]) + sos_comps + b"\x00\x3f\x00")
    dri = seg(0xFFDD, struct.pack(">H", restart_interval)) \
        if restart_interval else b""
    return (b"\xff\xd8" + qt + sof + dri + dht + sos + bw.flush()
            + b"\xff\xd9")


def encode_jpeg_coeff_blocks(blocks: "np.ndarray",
                             blocks_per_row: int,
                             width: int | None = None,
                             height: int | None = None,
                             restart_interval: int = 0) -> bytes:
    """Grayscale baseline JPEG from QUANTIZED coefficient blocks
    (shape (n, 64), natural order, quant table all ones) — the 1×1
    single-component corner of ``encode_jpeg_components`` (MCU = one
    block, so ``restart_interval`` counts blocks exactly as in r7)."""
    return encode_jpeg_components([(blocks, 1, 1)], blocks_per_row,
                                  width, height, restart_interval)


def encode_jpeg_progressive(comps: list[tuple["np.ndarray", int, int]],
                            mcus_per_row: int,
                            width: int | None = None,
                            height: int | None = None,
                            al: int = 1) -> bytes:
    """Progressive (SOF2) JPEG from QUANTIZED coefficient blocks — the
    test/ingest harness for ``decode_jpeg_pixels``' progressive path
    (r8), mirroring the scan script real encoders emit: an interleaved
    DC-first scan at successive-approximation ``Al=al``, per-component
    AC-first scans over TWO spectral bands (1..5, 6..63 — exercising
    spectral selection), then one DC-refinement and per-band
    AC-refinement scan per approximation bit. Same quant-1/no-choices
    philosophy as ``encode_jpeg_components``: the entropy layers are
    exact, so a decode recovers the given coefficients bit-for-bit and
    the progressive pixels equal the baseline pixels for the same
    blocks (the cross-check the golden tests ride).

    Per T.81 G.1: DC point transform is an ARITHMETIC shift, AC is
    magnitude truncation toward zero; AC scans are single-component
    non-interleaved over the component's own ceil block grid (padding
    blocks of the MCU grid carry no AC — harmless, they are cropped)."""
    import struct

    nc = len(comps)
    if not 1 <= nc <= 3:
        raise ValueError("1..3 components")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    n_mcus = len(comps[0][0]) // (comps[0][1] * comps[0][2])
    for blocks, hs, vs in comps:
        if len(blocks) != n_mcus * hs * vs:
            raise ValueError("component block counts disagree on MCUs")
    if n_mcus % mcus_per_row:
        raise ValueError("blocks must tile whole MCU rows")
    mcus_x = mcus_per_row
    mcus_y = n_mcus // mcus_per_row
    w = width if width is not None else mcus_x * 8 * hmax
    h = height if height is not None else mcus_y * 8 * vmax
    zz = list(_JPEG_ZIGZAG)
    bands = ((1, 5), (6, 63))

    # interleaved MCU-order DC block list: (ci, flat index)
    dc_order = []
    for mcu in range(n_mcus):
        my, mx = divmod(mcu, mcus_x)
        for ci, (_b, hs, vs) in enumerate(comps):
            bpr = mcus_x * hs
            dc_order += [(ci, (my * vs + v) * bpr + mx * hs + hh)
                         for v in range(vs) for hh in range(hs)]

    def comp_grid(ci):
        """The component's non-interleaved block indexes (A.2.2)."""
        _b, hs, vs = comps[ci]
        cw = (w * hs + hmax - 1) // hmax
        ch_ = (h * vs + vmax - 1) // vmax
        stride = mcus_x * hs
        return [r * stride + c
                for r in range((ch_ + 7) // 8)
                for c in range((cw + 7) // 8)]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def sos(scan_comps: list[int], ss, se, ah, al_) -> bytes:
        body = bytes([len(scan_comps)]) + b"".join(
            bytes([ci + 1, 0x00]) for ci in scan_comps) \
            + bytes([ss, se, (ah << 4) | al_])
        return seg(0xFFDA, body)

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, b"\x00" + bytes([1] * 64))  # quant 0, all ones
    sof_comps = b"".join(bytes([ci + 1, (hs << 4) | vs, 0])
                         for ci, (_b, hs, vs) in enumerate(comps))
    out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)

    def scan_payload(emit_fn, cls: int) -> tuple[bytes, bytes]:
        """Two-pass: collect symbols → canonical table → (DHT segment,
        entropy bits) — returned apart so callers interleave the SOS
        header between them without re-parsing segment lengths."""
        syms: set[int] = set()
        emit_fn(lambda s, v=0, n=0: syms.add(s), None)
        payload, codes = _canonical_codes(sorted(syms),
                                          5 if cls == 0 else 8)
        dht = seg(0xFFC4, bytes([(cls << 4)]) + payload)
        bw = _BitWriter()

        def emit(sym, extra=0, nb=0):
            code, ln = codes[sym]
            bw.put(code, ln)
            if nb:
                bw.put(extra, nb)

        emit_fn(emit, bw)
        return dht, bw.flush()

    # ---- scan 1: interleaved DC first (Ah=0, Al=al) ----------------
    def dc_first(emit, bw):
        preds = [0] * nc
        for ci, bi in dc_order:
            v = int(comps[ci][0][bi][0]) >> al  # arithmetic shift
            diff = v - preds[ci]
            preds[ci] = v
            size = _bit_category(diff)
            emit(size, diff if diff > 0 else diff + (1 << size) - 1,
                 size)

    dht, bits = scan_payload(dc_first, 0)
    out += dht + sos(list(range(nc)), 0, 0, 0, al) + bits

    # ---- AC first scans per component per band (Al=al) -------------
    def make_ac_first(ci, ss, se):
        grid = comp_grid(ci)
        blocks = comps[ci][0]

        def run(emit, bw):
            eobrun = 0

            def flush():
                nonlocal eobrun
                if not eobrun:
                    return
                r = eobrun.bit_length() - 1
                emit(r << 4, eobrun - (1 << r), r)
                eobrun = 0

            for bi in grid:
                blk = blocks[bi]
                r = 0
                emitted = False
                for k in range(ss, se + 1):
                    v = int(blk[zz[k]])
                    tv = (abs(v) >> al) * (1 if v >= 0 else -1)
                    if tv == 0:
                        r += 1
                        continue
                    flush()
                    while r > 15:
                        emit(0xF0, 0, 0)  # ZRL
                        r -= 16
                    size = _bit_category(tv)
                    emit((r << 4) | size,
                         tv if tv > 0 else tv + (1 << size) - 1, size)
                    r = 0
                    emitted = True
                if r or not emitted:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush()
            flush()

        return run

    # careful: a block whose band is all-zero AFTER point transform
    # must join the EOB run even when it emitted nothing — handled by
    # `r or not emitted` above (r==0 happens when the band ends on a
    # just-emitted coefficient)
    for ci in range(nc):
        for ss, se in bands:
            dht, bits = scan_payload(make_ac_first(ci, ss, se), 1)
            out += dht + sos([ci], ss, se, 0, al) + bits

    # ---- refinement passes, one approximation bit at a time --------
    for a in range(al, 0, -1):
        # DC refinement: raw bits, no huffman, no DHT
        bw = _BitWriter()
        for ci, bi in dc_order:
            bw.put((int(comps[ci][0][bi][0]) >> (a - 1)) & 1, 1)
        out += sos(list(range(nc)), 0, 0, a, a - 1) + bw.flush()

        for ci in range(nc):
            for ss, se in bands:
                dht, bits = scan_payload(
                    _make_ac_refine(comps[ci][0], comp_grid(ci), zz,
                                    ss, se, a), 1)
                out += dht + sos([ci], ss, se, a, a - 1) + bits

    return bytes(out + b"\xff\xd9")


def _make_ac_refine(blocks, grid, zz, ss, se, a):
    """AC refinement scan emitter (T.81 G.1.2.3 encode side, the
    libjpeg encode_mcu_AC_refine shape): correction bits buffer after
    the symbol that flushes them; EOB runs buffer their blocks'
    correction bits until the run itself flushes."""
    al_ = a - 1

    def run(emit, bw):
        eobrun = 0
        be: list[int] = []  # correction bits pending with the EOB run

        def put_bits(bits):
            if bw is not None:
                for b in bits:
                    bw.put(b, 1)

        def flush():
            nonlocal eobrun, be
            if not eobrun:
                return
            r = eobrun.bit_length() - 1
            emit(r << 4, eobrun - (1 << r), r)
            put_bits(be)
            eobrun = 0
            be = []

        for bi in grid:
            blk = blocks[bi]
            vals = [int(blk[zz[k]]) for k in range(ss, se + 1)]
            ts = [abs(v) >> al_ for v in vals]
            # last newly-nonzero position; trailing zeros/corrections
            # past it fold into the EOB run (G.7: no dangling ZRLs)
            eob_at = max((i for i, t in enumerate(ts) if t == 1),
                         default=-1)
            r = 0
            br: list[int] = []
            emitted = False
            for i, t in enumerate(ts):
                if t == 0:
                    r += 1
                    continue
                # flush ZRLs at ANY nonzero coefficient (libjpeg
                # encode_mcu_AC_refine): this keeps each ZRL's
                # buffered correction bits inside its own 16-zero
                # window — deferring the flush to the newly-nonzero
                # coefficient attached bits for coefficients the
                # decoder only passes in LATER symbols (the r8 desync
                # this rewrite fixed)
                while r > 15 and i <= eob_at:
                    flush()
                    emit(0xF0, 0, 0)
                    r -= 16
                    put_bits(br)
                    br = []
                if t > 1:  # history-nonzero: one correction bit
                    br.append(t & 1)
                    continue
                flush()
                emit((r << 4) | 1, 1 if vals[i] >= 0 else 0, 1)
                put_bits(br)
                br = []
                r = 0
                emitted = True
            if r or br or not emitted:
                eobrun += 1
                be.extend(br)
                if eobrun == 0x7FFF:
                    flush()
        flush()

    return run


def encode_jpeg_color_dc_mcus(y_vals: bytes, cb_vals: bytes,
                              cr_vals: bytes, mcus_per_row: int,
                              samp: tuple[int, int] = (2, 2)) -> bytes:
    """DC-only COLOR baseline JPEG with subsampled chroma: MCU i is a
    uniform patch — its ``samp``-many Y blocks all carry ``y_vals[i]``
    and its single Cb/Cr blocks carry ``cb_vals[i]``/``cr_vals[i]``
    (chroma sampling 1×1 against Y at ``samp``, so (2,2) is 4:2:0 and
    (2,1) is 4:2:2). Uniform blocks are the lossless corner: pure-DC
    coefficients store exactly, the IDCT is float64-exact, and
    replication upsampling of a uniform chroma block is the identity —
    so the decoded 16×16 (or 16×8) patch is EXACTLY the YCbCr→RGB of
    the three stored bytes, computable by an oracle that never sees a
    JPEG (the q209 device, extending q201's grayscale form)."""
    return encode_jpeg_components(
        _color_dc_components(y_vals, cb_vals, cr_vals, mcus_per_row,
                             samp), mcus_per_row)


def encode_jpeg_color_dc_progressive(y_vals: bytes, cb_vals: bytes,
                                     cr_vals: bytes, mcus_per_row: int,
                                     samp: tuple[int, int] = (2, 2),
                                     ) -> bytes:
    """The ``encode_jpeg_color_dc_mcus`` device through the PROGRESSIVE
    (SOF2) scan script — interleaved subsampled DC first + refinement
    scans carry all the information, the spectral AC scans are pure
    EOB runs — so the q211 oracle can verify the progressive decode
    path with the same never-sees-a-JPEG character arithmetic."""
    return encode_jpeg_progressive(
        _color_dc_components(y_vals, cb_vals, cr_vals, mcus_per_row,
                             samp), mcus_per_row)


def _color_dc_components(y_vals, cb_vals, cr_vals, mcus_per_row, samp):
    hs, vs = samp
    n = len(y_vals)
    if not n or len(cb_vals) != n or len(cr_vals) != n:
        raise ValueError("per-MCU value arrays must be equal nonzero "
                         "length")
    if n % mcus_per_row:
        raise ValueError("vals must tile whole MCU rows")
    mcu_rows = n // mcus_per_row
    yv = np.frombuffer(y_vals, np.uint8).astype(np.int64)
    # expand each MCU's Y value onto its vs×hs block-grid positions
    grid = np.repeat(np.repeat(yv.reshape(mcu_rows, mcus_per_row),
                               vs, axis=0), hs, axis=1)
    yb = np.zeros((n * hs * vs, 64), np.int64)
    yb[:, 0] = 8 * (grid.reshape(-1) - 128)
    chroma = []
    for vals in (cb_vals, cr_vals):
        cb = np.zeros((n, 64), np.int64)
        cb[:, 0] = 8 * (np.frombuffer(vals, np.uint8)
                        .astype(np.int64) - 128)
        chroma.append(cb)
    return [(yb, hs, vs), (chroma[0], 1, 1), (chroma[1], 1, 1)]


def encode_jpeg_gray_blocks(vals: bytes, blocks_per_row: int) -> bytes:
    """DC-only baseline JPEG: byte value v becomes one UNIFORM 8×8
    block (DCT of a constant block is pure DC = 8·(v−128); quant 1
    stores it exactly; the IDCT of a DC-only block is exact in
    float64), so the decoded image reproduces each source byte as 64
    identical pixels — the lossless-by-construction corner of a lossy
    format that lets the q201 oracle compute pixel stats straight from
    the characters, never seeing a JPEG (the q186 PNG device)."""
    if blocks_per_row <= 0 or len(vals) % blocks_per_row:
        raise ValueError("vals must tile whole block rows")
    blocks = np.zeros((len(vals), 64), dtype=np.int64)
    blocks[:, 0] = 8 * (np.frombuffer(vals, np.uint8).astype(np.int64)
                        - 128)
    return encode_jpeg_coeff_blocks(blocks, blocks_per_row)


def _scan_segments(payload: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy-coded data into its restart segments:
    scan for real markers (skipping stuffed 0xFF00 and 0xFF fill
    bytes), cut at every RSTn, stop at the first non-RST marker (EOI
    or the next scan's header). Returns the RAW (still-stuffed)
    segments plus the offset of the terminating marker's 0xFF — the
    multi-scan progressive walk resumes parsing there (r8).

    A marker may be preceded by a RUN of 0xFF fill bytes (B.1.1.2);
    the cut lands at the FIRST fill of the run, not at the marker's
    own 0xFF, so no fill byte leaks into a segment as phantom trailing
    1-bits (review finding r7 — benign while MCU counts bound reads,
    but it quietly widened the torn-stream check)."""
    segs = []
    start = i = pos
    fill_start = None  # first 0xFF of the current contiguous fill run
    while True:
        j = payload.find(b"\xff", i)
        if j < 0 or j + 1 >= len(payload):
            raise ValueError("entropy data ended early")
        m = payload[j + 1]
        if m == 0x00:
            i = j + 2
            fill_start = None  # that 0xFF was stuffed data, not fill
            continue
        if m == 0xFF:  # fill byte inside the scan
            if fill_start is None:
                fill_start = j
            i = j + 1  # next find() returns j+1 (it is 0xFF): a run
            continue   # stays contiguous by construction
        segs.append(payload[start:j if fill_start is None else fill_start])
        fill_start = None
        if 0xD0 <= m <= 0xD7:
            start = i = j + 2
            continue
        return segs, j


def _entropy_segments(payload: bytes, pos: int) -> list[bytes]:
    """Single-scan view of ``_scan_segments`` (the baseline path never
    needs the end offset)."""
    return _scan_segments(payload, pos)[0]


def _extend(v: int, size: int) -> int:
    """Sign-extend a JPEG magnitude-category value (F.12)."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _htab(htabs, cls: int, tid: int):
    """Huffman table lookup that keeps a malformed stream inside the
    documented corrupt-stream taxonomy: a scan naming a table no DHT
    defined is a ValueError, not a KeyError — progressive streams
    deliver tables incrementally between scans, so the miss is a
    realistic corruption (review finding r8)."""
    try:
        return htabs[(cls, tid)]
    except KeyError:
        raise ValueError(
            f"scan references undefined huffman table "
            f"(class {cls}, id {tid})") from None


def decode_jpeg_pixels(payload: bytes) \
        -> tuple[int, int, int, bytes] | None:
    """(width, height, channels, samples) for a baseline sequential
    (SOF0) or progressive (SOF2) huffman JPEG — REAL pixel decode,
    stdlib+numpy only: segment walk, canonical huffman from DHT, DC
    prediction + AC run-lengths with byte unstuffing and restart
    markers, interleaved MCUs with chroma subsampling (sampling
    factors 1..2: 4:4:4, 4:2:2, 4:2:0, 4:4:0), progressive multi-scan
    accumulation (spectral selection + successive approximation,
    ``_prog_scan``), dequantize, one vectorized IDCT over all blocks,
    replication (nearest) chroma upsampling, YCbCr→RGB for
    3-component images. ``samples`` is row-major, channel-interleaved,
    like ``decode_png_pixels``.

    Returns None for non-JPEG payloads; NotImplementedError for the
    honestly-gated variants (arithmetic/lossless/extended — see
    ``_JPEG_SOF_GATED`` — plus sampling factors >2 and multi-scan
    baseline); ValueError for corrupt streams. Scale note: entropy
    decode is big-int Python at image grain inside Arrow batches (the
    PNG unfilter trade-off); dequant+IDCT+upsample+color convert are
    numpy over all blocks at once."""
    import struct

    global _IDCT_A
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    restart = 0
    progressive = False
    coeffs = None  # progressive: accumulated across scans
    geom = None    # (mcus_x, mcus_y)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        # spec B.1.1.2: any number of 0xFF FILL bytes may precede a
        # marker — skip them or a legal stream misparses as corrupt
        # (review finding r7)
        while payload[pos + 1] == 0xFF and pos + 4 <= len(payload):
            pos += 1
        marker = payload[pos + 1]
        if marker in _JPEG_SOF_GATED:
            raise NotImplementedError(_JPEG_SOF_GATED[marker])
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + ln]
        if marker == 0xC2:  # SOF2 progressive: same header as SOF0
            progressive = True
            marker = 0xC0
        if marker == 0xDB:  # DQT: one or more tables
            o = 0
            while o < len(body):
                prec, tid = body[o] >> 4, body[o] & 0x0F
                o += 1
                if prec:
                    vals = struct.unpack(f">{64}H", body[o:o + 128])
                    o += 128
                else:
                    vals = body[o:o + 64]
                    o += 64
                q = np.zeros(64, np.int64)
                for k in range(64):
                    q[_JPEG_ZIGZAG[k]] = vals[k]
                qtabs[tid] = q
        elif marker == 0xC4:  # DHT: one or more tables
            o = 0
            while o < len(body):
                cls, tid = body[o] >> 4, body[o] & 0x0F
                counts = body[o + 1:o + 17]
                o += 17
                table: dict[tuple[int, int], int] = {}
                code = 0
                for bit_ln in range(1, 17):
                    for _ in range(counts[bit_ln - 1]):
                        table[(bit_ln, code)] = body[o]
                        code += 1
                        o += 1
                    code <<= 1
                htabs[(cls, tid)] = table
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                hs, vs = samp >> 4, samp & 0x0F
                if ncomp == 1:
                    # a single-component frame decodes as a plain
                    # ceil(w/8)×ceil(h/8) block grid whatever the
                    # declared factors (T.81 A.2.2: Hi/Hmax = 1)
                    hs = vs = 1
                elif not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise NotImplementedError(
                        f"sampling factors {hs}x{vs} (1..2 only — "
                        "4:4:4/4:2:2/4:2:0/4:4:0)")
                comps.append((cid, hs, vs, tq))
            sof = (w, h, comps)
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: entropy data follows
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []  # (component index, dc table id, ac table id)
            for si in range(ns):
                cs, tt = body[1 + 2 * si], body[2 + 2 * si]
                idx = next(i for i, c in enumerate(sof[2])
                           if c[0] == cs)
                scan.append((idx, tt >> 4, tt & 0x0F))
            if not progressive:
                if ns != len(sof[2]):
                    raise NotImplementedError(
                        "multi-scan baseline JPEG (one interleaved "
                        "scan covering every frame component only)")
                pos = pos + 2 + ln
                return _decode_scan(payload, pos, sof, scan, qtabs,
                                    htabs, restart)
            # progressive: accumulate this scan into the coefficient
            # arrays and keep walking — the image finishes at EOI
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if coeffs is None:
                w, h, comps = sof
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                geom = ((w + 8 * hmax - 1) // (8 * hmax),
                        (h + 8 * vmax - 1) // (8 * vmax))
                coeffs = [np.zeros(
                    (geom[1] * vs * geom[0] * hs, 64), np.int64)
                    for _, hs, vs, _ in comps]
            pos = _prog_scan(coeffs, payload, pos + 2 + ln, sof, scan,
                             htabs, restart, ss, se,
                             ahal >> 4, ahal & 0x0F, *geom)
            continue
        pos += 2 + ln
    if progressive and coeffs is not None:
        return _finish_jpeg(coeffs, sof, qtabs, *geom)
    raise ValueError("JPEG without SOS scan")


def _decode_scan(payload, pos, sof, scan, qtabs, htabs, restart):
    """Entropy-decode the single interleaved SOF0 scan (general
    sampling factors 1..2) and finish the pipeline (dequant → IDCT →
    crop → replication-upsample → interleave → color convert).

    MCU geometry (T.81 A.2.3): the image tiles into
    ceil(w/8Hmax) × ceil(h/8Vmax) MCUs; each MCU carries Hi×Vi data
    units per component in raster order, so component ci's block grid
    is (mcus_y·Vi) × (mcus_x·Hi) with right/bottom padding blocks
    cropped after the IDCT. The degenerate all-1x1 case reduces to the
    r7 grayscale/4:4:4 path (one block per component per MCU)."""
    global _IDCT_A
    w, h, comps = sof
    ncomp = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    nmcu = mcus_x * mcus_y
    # per-component coefficient planes, indexed [block_row, block_col]
    coeffs = [np.zeros((mcus_y * vs * mcus_x * hs, 64), np.int64)
              for _, hs, vs, _ in comps]
    # (ci, per-MCU block row, per-MCU block col) in emission order —
    # precomputed once so the hot loop does one add per block index
    unit_order = [(ci, v, hh, dct, act)
                  for ci, dct, act in scan
                  for v in range(comps[ci][2])
                  for hh in range(comps[ci][1])]
    # Big-int bit reads over unstuffed restart segments — the per-bit
    # reader class made q201's decode the dominant cold cost at sf0.1
    # (121 s → seconds, r7 measurement). Each segment becomes one
    # Python int; a huffman symbol costs ~code-length dict probes on a
    # 16-bit peek and magnitude bits cost one shift.
    zz = _JPEG_ZIGZAG
    mcu = 0
    for seg in _entropy_segments(payload, pos):
        raw = seg.replace(b"\xff\x00", b"\xff")
        data_bits = len(raw) * 8
        big = int.from_bytes(raw + b"\x00\x00", "big")
        nbits = data_bits + 16
        bpos = 0
        preds = [0] * ncomp
        end = min(nmcu, mcu + restart) if restart else nmcu
        while mcu < end:
            my, mx = divmod(mcu, mcus_x)
            for ci, v, hh, dct, act in unit_order:
                hs, vs = comps[ci][1], comps[ci][2]
                bpr = mcus_x * hs
                blk = coeffs[ci][(my * vs + v) * bpr + mx * hs + hh]
                for phase in (0, 1):
                    table = _htab(htabs, phase,
                                  dct if phase == 0 else act)
                    if phase == 0:
                        peek = (big >> (nbits - bpos - 16)) & 0xFFFF
                        for ln in range(1, 17):
                            size = table.get((ln, peek >> (16 - ln)))
                            if size is not None:
                                bpos += ln
                                break
                        else:
                            raise ValueError("bad huffman code")
                        if size:
                            v2 = (big >> (nbits - bpos - size)) \
                                & ((1 << size) - 1)
                            bpos += size
                            preds[ci] += _extend(v2, size)
                        blk[0] = preds[ci]
                        continue
                    k = 1
                    while k < 64:
                        peek = (big >> (nbits - bpos - 16)) & 0xFFFF
                        for ln in range(1, 17):
                            sym = table.get((ln, peek >> (16 - ln)))
                            if sym is not None:
                                bpos += ln
                                break
                        else:
                            raise ValueError("bad huffman code")
                        if sym == 0x00:  # EOB
                            break
                        run, sz = sym >> 4, sym & 0x0F
                        if sz == 0:
                            if run != 15:
                                raise ValueError("bad AC symbol")
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        v2 = (big >> (nbits - bpos - sz)) \
                            & ((1 << sz) - 1)
                        bpos += sz
                        blk[zz[k]] = _extend(v2, sz)
                        k += 1
            mcu += 1
            if bpos > data_bits:  # read into the zero padding
                raise ValueError("entropy data ended early")
        if mcu >= nmcu:
            break
    if mcu < nmcu:
        raise ValueError("entropy data ended early")
    return _finish_jpeg(coeffs, sof, qtabs, mcus_x, mcus_y)


def _prog_scan(coeffs, payload, pos, sof, scan, htabs, restart,
               ss, se, ah, al, mcus_x, mcus_y) -> int:
    """Decode ONE progressive scan (T.81 G.1.2) into the accumulated
    coefficient arrays and return the offset of the terminating
    marker. Four cases: DC first (diff-coded at reduced precision,
    stored << Al), DC refinement (one raw bit ORed in at Al — exact
    for negatives because Python ints are two's complement), AC first
    (run-lengths + EOBRUN over the Ss..Se band, values << Al), AC
    refinement (correction bits for history-nonzero coefficients,
    ±1<<Al insertions for newly-nonzero ones, EOBRUN blocks still
    carrying correction sweeps). DC scans may interleave several
    components (MCU order); AC scans cover ONE component in its own
    non-interleaved block grid (G.1.2 requirement, enforced).
    Restart segments reset DC predictors and the EOB run."""
    w, h, comps = sof
    zz = _JPEG_ZIGZAG
    dc = ss == 0
    if dc and se != 0:
        raise ValueError("progressive DC scan with Se != 0")
    if not dc and len(scan) != 1:
        raise ValueError("progressive AC scan must cover exactly one "
                         "component")
    if not dc and not 1 <= ss <= se <= 63:
        raise ValueError("bad progressive spectral band")

    # unit = the restart-counted element: an MCU for an interleaved
    # scan, a single block for a non-interleaved one. Each unit lists
    # (component index, flat block index, dc table, ac table).
    units: list[list[tuple[int, int, int, int]]] = []
    if len(scan) > 1:  # interleaved (DC) scan: MCU order
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            unit = []
            for ci, dct, act in scan:
                hs, vs = comps[ci][1], comps[ci][2]
                bpr = mcus_x * hs
                unit += [(ci, (my * vs + v) * bpr + mx * hs + hh,
                          dct, act)
                         for v in range(vs) for hh in range(hs)]
            units.append(unit)
    else:  # non-interleaved: the component's OWN ceil grid (A.2.2)
        ci, dct, act = scan[0]
        hs, vs = comps[ci][1], comps[ci][2]
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        cw = (w * hs + hmax - 1) // hmax
        ch_ = (h * vs + vmax - 1) // vmax
        cbw, cbh = (cw + 7) // 8, (ch_ + 7) // 8
        stride = mcus_x * hs
        units = [[(ci, r * stride + c, dct, act)]
                 for r in range(cbh) for c in range(cbw)]

    n_units = len(units)
    p1, m1 = 1 << al, -1 << al
    unit = 0
    segs, end = _scan_segments(payload, pos)
    for seg in segs:
        raw = seg.replace(b"\xff\x00", b"\xff")
        data_bits = len(raw) * 8
        big = int.from_bytes(raw + b"\x00\x00", "big")
        nbits = data_bits + 16
        bpos = 0
        preds = [0] * len(comps)
        eobrun = 0

        def huff(table):
            nonlocal bpos
            peek = (big >> (nbits - bpos - 16)) & 0xFFFF
            for ln_ in range(1, 17):
                sym = table.get((ln_, peek >> (16 - ln_)))
                if sym is not None:
                    bpos += ln_
                    return sym
            raise ValueError("bad huffman code")

        def receive(nb):
            nonlocal bpos
            v = (big >> (nbits - bpos - nb)) & ((1 << nb) - 1)
            bpos += nb
            return v

        stop = min(n_units, unit + restart) if restart else n_units
        while unit < stop:
            for ci, bi, dct, act in units[unit]:
                blk = coeffs[ci][bi]
                if dc and ah == 0:      # DC first
                    size = huff(_htab(htabs, 0, dct))
                    if size:
                        preds[ci] += _extend(receive(size), size)
                    blk[0] = preds[ci] << al
                elif dc:                # DC refinement: one raw bit
                    if receive(1):
                        blk[0] = int(blk[0]) | p1
                elif ah == 0:           # AC first
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = huff(_htab(htabs, 1, act))
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += receive(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("AC run past band end")
                        blk[zz[k]] = _extend(receive(s), s) << al
                        k += 1
                else:                   # AC refinement (G.1.2.3)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = huff(_htab(htabs, 1, act))
                            r, s = sym >> 4, sym & 0x0F
                            if s == 0:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += receive(r)
                                    break  # -> EOB correction sweep
                                val = 0    # ZRL: 16 zero-history skips
                            elif s == 1:
                                val = p1 if receive(1) else m1
                            else:
                                raise ValueError(
                                    "bad AC refinement symbol")
                            while k <= se:
                                c = int(blk[zz[k]])
                                if c:
                                    if receive(1) and not c & p1:
                                        blk[zz[k]] = \
                                            c + (p1 if c >= 0 else m1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if val and k <= se:
                                blk[zz[k]] = val
                            k += 1
                    if eobrun:
                        # EOB block: correction bits only, for every
                        # remaining history-nonzero coefficient
                        while k <= se:
                            c = int(blk[zz[k]])
                            if c and receive(1) and not c & p1:
                                blk[zz[k]] = c + (p1 if c >= 0 else m1)
                            k += 1
                        eobrun -= 1
            unit += 1
            if bpos > data_bits:
                raise ValueError("entropy data ended early")
        if unit >= n_units:
            break
    if unit < n_units:
        raise ValueError("entropy data ended early")
    return end


def _finish_jpeg(coeffs, sof, qtabs, mcus_x, mcus_y):
    """Shared back half of the decode (baseline AND progressive, r8):
    dequant → one-GEMM IDCT → component-dim crop → replication
    upsample → crop to (h, w) → YCbCr→RGB."""
    global _IDCT_A
    w, h, comps = sof
    ncomp = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if _IDCT_A is None:
        _IDCT_A = _idct_matrix()
    a = _IDCT_A
    # one (n,64)x(64,64) GEMM instead of a per-image einsum: M[uv,xy] =
    # a[u,x]*a[v,y], so deq_flat @ M is the full 2-D IDCT of every
    # block at once (the einsum was the second cold hotspot after the
    # per-bit reader, r7 profile). DC-only exactness is unchanged: the
    # DC pixel is the single product F00*M[0,xy] either way.
    m = np.einsum("ux,vy->uvxy", a, a).reshape(64, 64)
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtabs:
            raise ValueError(f"missing quant table {tq}")
        bx, by = mcus_x * hs, mcus_y * vs
        deq = (coeffs[ci] * qtabs[tq][None, :]).astype(np.float64)
        px = (deq @ m).reshape(-1, 8, 8)
        px = np.clip(np.floor(px + 0.5) + 128, 0, 255).astype(np.uint8)
        # blocks back to raster, crop to the COMPONENT's dims
        # ceil(w·Hi/Hmax) × ceil(h·Vi/Vmax) (A.1.1), then upsample by
        # sample replication to full resolution and crop to (h, w)
        cw = (w * hs + hmax - 1) // hmax
        ch_ = (h * vs + vmax - 1) // vmax
        plane = (px.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(by * 8, bx * 8)[:ch_, :cw])
        if hs != hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs != vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:h, :w].astype(np.int64))
    if ncomp == 1:
        return (w, h, 1, planes[0].astype(np.uint8).tobytes())
    if ncomp == 3:  # JFIF YCbCr -> RGB
        # floor(x+0.5), NOT np.round: half-to-even vs half-away drift
        # on exact-.5 values would break the cross-engine oracle device
        # (q209) — floor(+0.5) is expressible identically in SQL, and
        # for the clip-to-[0,255] range it matches round-half-up
        y, cb, cr = planes
        r = np.clip(np.floor(y + 1.402 * (cr - 128) + 0.5), 0, 255)
        g = np.clip(np.floor(y - 0.344136 * (cb - 128)
                             - 0.714136 * (cr - 128) + 0.5), 0, 255)
        b = np.clip(np.floor(y + 1.772 * (cb - 128) + 0.5), 0, 255)
        out = np.stack([r, g, b], axis=-1).astype(np.uint8)
        return (w, h, 3, out.tobytes())
    raise NotImplementedError(f"{ncomp}-component JPEG")


def encode_wav_pcm16(samples: "np.ndarray", rate: int = 8000,
                     channels: int = 1) -> bytes:
    """Minimal RIFF/WAVE PCM-16 encoder (stdlib struct only): the
    audio twin of ``encode_png_gray``/``encode_jpeg_gray_blocks`` —
    PCM is lossless, so a decode recovers the given int16 samples
    bit-exactly, which is what lets the q207 oracle compute frame
    energies straight from the source characters."""
    import struct

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    return _wav_riff(struct.pack("<HHIIHH", 1, channels, rate,
                                 rate * channels * 2, channels * 2, 16),
                     pcm)


def encode_wav_g711(codes: bytes, law: str = "ulaw",
                    rate: int = 8000, channels: int = 1) -> bytes:
    """Minimal RIFF/WAVE G.711 container (format tag 7 = μ-law,
    6 = A-law, 8 bits/sample): wraps already-companded code bytes, so
    a decode through ``_wav_pcm16_data`` recovers exactly the table
    expansion of each byte — what lets the q214 oracle compute frame
    energies from an inline 256-entry lookup. 8-bit data can be odd
    length, so the RIFF odd-chunk pad byte IS reachable here (unlike
    the PCM16 encoder) and is emitted outside the declared length."""
    import struct

    if law not in ("ulaw", "alaw"):
        raise ValueError("law must be 'ulaw' or 'alaw'")
    tag = 7 if law == "ulaw" else 6
    return _wav_riff(struct.pack("<HHIIHH", tag, channels, rate,
                                 rate * channels, channels, 8), codes)


# -------------------------------------------------------------- FLAC frames
# REAL FLAC audio decode (r8 — the third real audio path after linear
# PCM and G.711): the frame layer per RFC 9639 — sync + CRC-8 header,
# CONSTANT / VERBATIM / FIXED / LPC subframes, Rice-coded residual
# partitions with the raw-bitwidth escape, wasted-bits shift, CRC-16
# frame footer, and (r8) the three stereo-decorrelation modes —
# left/side, side/right, mid/side, with the 17-bit SIDE channel and
# exact integer reconstruction. Non-16-bit sample sizes stay
# honestly gated behind NotImplementedError; CRC or structure
# violations are ValueError — the shared taxonomy. The encoder twin
# emits fixed-order predictors, genuine Rice partitions and real
# decorrelated stereo frames, so round trips exercise the real
# entropy layer, and an LPC mode (coef [1], shift 0 ≡ fixed order 1)
# pins the LPC arithmetic with bit-exact expectations.

def _crc_table(poly: int, width: int) -> list[int]:
    """Byte-indexed CRC table for an MSB-first CRC of ``width`` bits —
    the classic 256-entry device (8× fewer inner ops than the bit
    loop; the whole-frame CRC-16 dominated FLAC encode+decode cost
    before this, r8)."""
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top \
                else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_FLAC_TABLE: list[int] | None = None
_CRC16_FLAC_TABLE: list[int] | None = None


def _crc8_flac(data: bytes) -> int:
    """CRC-8, polynomial x⁸+x²+x+1 (0x07), init 0 — FLAC frame-header
    checksum (RFC 9639 §9.1.1)."""
    global _CRC8_FLAC_TABLE
    if _CRC8_FLAC_TABLE is None:
        _CRC8_FLAC_TABLE = _crc_table(0x07, 8)
    t = _CRC8_FLAC_TABLE
    crc = 0
    for b in data:
        crc = t[crc ^ b]
    return crc


def _crc16_flac(data: bytes) -> int:
    """CRC-16, polynomial 0x8005, init 0 — FLAC whole-frame checksum."""
    global _CRC16_FLAC_TABLE
    if _CRC16_FLAC_TABLE is None:
        _CRC16_FLAC_TABLE = _crc_table(0x8005, 16)
    t = _CRC16_FLAC_TABLE
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ t[(crc >> 8) ^ b]
    return crc


class _FlacBits:
    """MSB-first bit reader over a byte buffer: fixed-width reads via
    a cached power-vector dot product on an unpacked bit array; unary
    reads (Rice quotients) via searchsorted into the precomputed
    one-bit index — O(log n) instead of a per-bit Python loop."""

    _PW = {n: (1 << np.arange(n - 1, -1, -1)).astype("int64")
           for n in range(1, 33)}  # shared: identical for every stream

    def __init__(self, data: bytes, start_byte: int = 0) -> None:
        """``start_byte`` positions the cursor without slicing —
        unpackbits runs ONCE over the whole buffer, so a multi-frame
        decode is linear in stream size (r8: the per-frame
        ``payload[i:]`` slice made decode quadratic in frames)."""
        self.bits = np.unpackbits(np.frombuffer(data, np.uint8))
        self.ones = np.flatnonzero(self.bits)
        self.pos = start_byte * 8
        self._pw = self._PW

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > len(self.bits):
            raise ValueError("FLAC bitstream truncated")
        v = int(self.bits[self.pos:self.pos + n] @ self._pw[n]) \
            if n <= 32 else int("".join(
                self.bits[self.pos:self.pos + n].astype(str)), 2)
        self.pos += n
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        """Count of 0 bits before the next 1 bit (consumes the 1)."""
        i = int(np.searchsorted(self.ones, self.pos))
        if i >= len(self.ones):
            raise ValueError("FLAC bitstream truncated in unary")
        q = int(self.ones[i]) - self.pos
        self.pos = int(self.ones[i]) + 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


#: frame-header sample-rate codes 0b0001..0b1011 (RFC 9639 table)
_FLAC_RATES = (88200, 176400, 192000, 8000, 16000, 22050, 24000,
               32000, 44100, 48000, 96000)

#: fixed-predictor coefficients by order: s[t] = Σ c_i·s[t-1-i] + e
_FLAC_FIXED = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _flac_coded_number(br: "_FlacBits") -> int:
    """The UTF-8-style frame/sample number (RFC 9639 §9.1.5)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n_extra = 0
    mask = 0x40
    while b0 & mask:
        n_extra += 1
        mask >>= 1
    if n_extra < 1 or n_extra > 6:
        raise ValueError("FLAC coded number malformed")
    v = b0 & (mask - 1)
    for _ in range(n_extra):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC coded number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_residual(br: "_FlacBits", blocksize: int, order: int) \
        -> list[int]:
    """One coded-residual section: Rice method (4- or 5-bit params),
    partition order, escape-coded raw partitions."""
    method = br.read(2)
    if method > 1:
        raise ValueError("FLAC reserved residual method")
    pbits = 4 + method
    esc = (1 << pbits) - 1
    p_order = br.read(4)
    n_part = 1 << p_order
    if blocksize % n_part:
        raise ValueError("FLAC partition order does not divide block")
    out: list[int] = []
    for p in range(n_part):
        cnt = (blocksize >> p_order) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC warmup exceeds first partition")
        k = br.read(pbits)
        if k == esc:
            w = br.read(5)
            out.extend(br.read_signed(w) if w else 0
                       for _ in range(cnt))
        else:
            for _ in range(cnt):
                q = br.unary()
                u = (q << k) | br.read(k)
                out.append((u >> 1) ^ -(u & 1))  # zigzag unfold
    return out


def _flac_subframe(br: "_FlacBits", blocksize: int, bps: int) \
        -> list[int]:
    """One subframe: header, wasted bits, payload by type."""
    if br.read(1):
        raise ValueError("FLAC subframe pad bit set")
    ty = br.read(6)
    wasted = 0
    if br.read(1):  # wasted-bits flag: unary count - 1 follows
        wasted = br.unary() + 1
    eff = bps - wasted
    if ty == 0:  # CONSTANT
        out = [br.read_signed(eff)] * blocksize
    elif ty == 1:  # VERBATIM
        out = [br.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= ty <= 12:  # FIXED, order ty-8
        order = ty - 8
        if order > blocksize:
            raise ValueError("FLAC fixed order exceeds block")
        out = [br.read_signed(eff) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        coefs = _FLAC_FIXED[order]
        for e in res:
            pred = sum(c * out[-1 - i] for i, c in enumerate(coefs))
            out.append(pred + e)
    elif ty >= 32:  # LPC, order ty-31
        order = ty - 31
        if order > blocksize:
            raise ValueError("FLAC LPC order exceeds block")
        out = [br.read_signed(eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 15:
            raise ValueError("FLAC LPC precision code invalid")
        prec += 1
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC negative LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        for e in res:
            acc = sum(c * out[-1 - i] for i, c in enumerate(coefs))
            out.append((acc >> shift) + e)
    else:
        raise ValueError(f"FLAC reserved subframe type {ty}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac_pcm16(payload: bytes) -> tuple[int, int, bytes] | None:
    """(sample_rate, n_channels, interleaved PCM16-LE bytes) for a
    16-bit FLAC stream — REAL frame-layer decode (stdlib+numpy):
    metadata walk, per-frame sync + CRC-8 header check, subframe
    reconstruction (constant / verbatim / fixed orders 0-4 / LPC to
    order 32, Rice partitions incl. the raw escape, wasted bits),
    stereo decorrelation (left/side, side/right, mid/side — the
    17-bit SIDE channel and exact integer reconstruction, r8) and
    the CRC-16 footer check. Returns None for non-FLAC payloads;
    NotImplementedError for the one honest gate left (non-16-bit
    depths); ValueError for corruption — the shared taxonomy."""
    meta = _decode_flac_streaminfo(payload)
    if meta is None:
        return None
    rate, channels, bits, _dur = meta
    if bits != 16:
        raise NotImplementedError(f"{bits}-bit FLAC (16-bit only)")
    # walk metadata blocks to the first audio frame
    i = 4
    while True:
        if i + 4 > len(payload):
            raise ValueError("FLAC metadata truncated")
        last = payload[i] & 0x80
        blen = int.from_bytes(payload[i + 1:i + 4], "big")
        i += 4 + blen
        if last:
            break
    chans: list[list[int]] = [[] for _ in range(channels)]
    br = _FlacBits(payload, start_byte=i)  # ONE unpack for all frames
    while i < len(payload):
        br.pos = i * 8
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC frame sync lost")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        _flac_coded_number(br)
        if bs_code == 0:
            raise ValueError("FLAC reserved blocksize code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 0:
            pass  # streaminfo rate
        elif sr_code <= 11:
            if _FLAC_RATES[sr_code - 1] != rate:
                raise ValueError("FLAC frame rate contradicts streaminfo")
        elif sr_code == 12:
            br.read(8)
        elif sr_code <= 14:
            br.read(16)
        else:
            raise ValueError("FLAC invalid sample-rate code")
        if ch_code > 10:
            raise ValueError("FLAC reserved channel assignment")
        if ch_code >= 8:
            if channels != 2:
                raise ValueError(
                    "FLAC frame channels contradict streaminfo")
        elif ch_code + 1 != channels:
            raise ValueError("FLAC frame channels contradict streaminfo")
        if ss_code not in (0, 4):  # 0b100 = 16 bit
            raise NotImplementedError("non-16-bit FLAC frame")
        hdr_len = br.pos // 8 - i  # header fields are byte-aligned here
        if _crc8_flac(payload[i:i + hdr_len]) != br.read(8):
            raise ValueError("FLAC header CRC-8 mismatch")
        if ch_code >= 8:
            # stereo decorrelation (RFC 9639 §9.1.3): the SIDE channel
            # (l − r) carries one extra bit; reconstruction is exact
            # integer arithmetic, so the round trip stays lossless
            s0 = _flac_subframe(br, blocksize,
                                17 if ch_code == 9 else 16)
            s1 = _flac_subframe(br, blocksize,
                                16 if ch_code == 9 else 17)
            if ch_code == 8:    # left/side
                left, right = s0, [a - b for a, b in zip(s0, s1)]
            elif ch_code == 9:  # side/right
                left, right = [a + b for a, b in zip(s0, s1)], s1
            else:               # mid/side: mid stored as (l+r)>>1
                left, right = [], []
                for m, s in zip(s0, s1):
                    x = (m << 1) | (s & 1)
                    left.append((x + s) >> 1)
                    right.append((x - s) >> 1)
            chans[0].extend(left)
            chans[1].extend(right)
        else:
            for c in range(channels):
                chans[c].extend(_flac_subframe(br, blocksize, 16))
        br.align()
        frame_len = br.pos // 8 - i
        crc = br.read(16)
        if _crc16_flac(payload[i:i + frame_len]) != crc:
            raise ValueError("FLAC frame CRC-16 mismatch")
        i += frame_len + 2
    n = min(len(c) for c in chans)
    pcm = np.empty((n, channels), dtype="<i2")
    for c in range(channels):
        arr = np.asarray(chans[c][:n], dtype="int64")
        if arr.size and (arr.max() > 32767 or arr.min() < -32768):
            raise ValueError("FLAC sample out of 16-bit range")
        pcm[:, c] = arr.astype("<i2")
    return rate, channels, pcm.tobytes()


class _FlacWriter:
    """MSB-first bit sink for the encoder twin (no byte stuffing —
    FLAC has none; groups like _BitWriter)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.put(0, 8 - self.nbits)

    def put_bits(self, bits: "np.ndarray") -> None:
        """Append a 0/1 uint8 bit ARRAY in bulk via numpy packbits,
        folding the current sub-byte remainder in front and keeping
        the new tail — the vectorized fast path the Rice residual
        writer uses (r8: the per-sample ``put`` loop dominated the
        FLAC device queries' cold time)."""
        if self.nbits:
            head = ((self.acc >> np.arange(self.nbits - 1, -1, -1))
                    & 1).astype(np.uint8)
            bits = np.concatenate([head, bits])
            self.acc = self.nbits = 0
        n_full = (bits.size // 8) * 8
        if n_full:
            self.out += np.packbits(bits[:n_full]).tobytes()
        tail = bits[n_full:]
        self.nbits = int(tail.size)
        acc = 0
        for b in tail.tolist():
            acc = (acc << 1) | int(b)
        self.acc = acc


def _rice_cost_k(folded: "np.ndarray", pbits: int) -> int:
    """Best Rice parameter for a partition of zigzag-folded values
    (exhaustive over the legal range — the twin is small)."""
    best_k, best = 0, None
    for k in range((1 << pbits) - 1):
        cost = int((folded >> k).sum()) + len(folded) * (k + 1)
        if best is None or cost < best:
            best_k, best = k, cost
    return best_k


def _flac_write_subframe(w: "_FlacWriter", blk: "np.ndarray", bps: int,
                         lpc: bool, p_order: int) -> None:
    """One subframe onto the bit sink: CONSTANT when the block is
    flat, else FIXED order 1 (or the bit-identical LPC [1]/shift-0
    form) with genuine Rice partitions and the raw escape. ``bps``
    is the channel's bit depth — 17 for a decorrelated SIDE
    channel, which is what makes the stereo round trip exact."""
    bs = blk.size
    mask = (1 << bps) - 1
    if (blk == blk[0]).all():
        w.put(0, 1); w.put(0, 6); w.put(0, 1)  # CONSTANT
        w.put(int(blk[0]) & mask, bps)
        return
    w.put(0, 1)
    if lpc:
        w.put(32, 6)  # LPC order 1 (type 100000 + order-1)
    else:
        w.put(9, 6)   # FIXED order 1
    w.put(0, 1)       # no wasted bits
    w.put(int(blk[0]) & mask, bps)  # warmup
    if lpc:
        w.put(1, 4)   # precision - 1 = 1 -> 2 bits
        w.put(0, 5)   # shift 0
        w.put(1, 2)   # coefficient [1]
    res = np.diff(blk)
    folded = np.where(res >= 0, 2 * res, -2 * res - 1) \
        .astype(np.int64)
    # partition order: only when it divides the block and the
    # first partition still fits the warmup (RFC rules)
    po = p_order if (bs % (1 << p_order) == 0
                     and (bs >> p_order) > 1) else 0
    w.put(0, 2)       # 4-bit Rice params
    w.put(po, 4)
    step = bs >> po
    off = 0
    for p in range(1 << po):
        cnt = step - (1 if p == 0 else 0)
        part, pres = folded[off:off + cnt], res[off:off + cnt]
        off += cnt
        k = _rice_cost_k(part, 4) if part.size else 0
        raw_w = int(max(int(part.max()).bit_length() + 1, 2)) \
            if part.size else 2
        rice_cost = int((part >> k).sum()) \
            + part.size * (k + 1) + 4
        if raw_w <= 31 and part.size * raw_w + 9 < rice_cost:
            w.put(15, 4)      # escape
            w.put(raw_w, 5)
            # raw_w-bit two's-complement rows, MSB-first (arithmetic
            # shift keeps the low bits identical to the masked form)
            raw = ((pres.astype(np.int64)[:, None]
                    >> np.arange(raw_w - 1, -1, -1)) & 1) \
                .astype(np.uint8)
            w.put_bits(raw.reshape(-1))
        else:
            w.put(k, 4)
            # one codeword per sample: q zeros, a 1, then the k-bit
            # remainder — scatter-assembled as a single bit array
            q = (part >> k).astype(np.int64)
            widths = q + 1 + k
            starts = np.zeros(len(widths), np.int64)
            np.cumsum(widths[:-1], out=starts[1:])
            bits = np.zeros(int(widths.sum()), np.uint8)
            bits[starts + q] = 1
            if k:
                rem = ((part[:, None]
                        >> np.arange(k - 1, -1, -1)) & 1) \
                    .astype(np.uint8)
                idx = (starts + q + 1)[:, None] + np.arange(k)
                bits[idx.reshape(-1)] = rem.reshape(-1)
            w.put_bits(bits)


#: stereo channel-assignment codes (RFC 9639 table 4)
_FLAC_MODES = {"left_side": 8, "right_side": 9, "mid_side": 10,
               "indep": 1}


def encode_flac_pcm16(samples: "np.ndarray", rate: int = 8000,
                      blocksize: int = 256,
                      lpc: bool = False,
                      p_order: int = 0,
                      channel_mode: str = "mono") -> bytes:
    """Minimal 16-bit FLAC encoder (the decode-test twin, like
    ``encode_wav_pcm16``): STREAMINFO + fixed-blocksize frames, each
    subframe CONSTANT when the block is flat, else FIXED order 1 —
    or, with ``lpc=True``, an LPC subframe with coefficient [1] and
    shift 0 (bit-identical predictor to fixed order 1, which is what
    lets the LPC arithmetic be pinned by a lossless round trip) —
    with genuine Rice partitions (``p_order`` splits the block into
    2^p partitions, each with its own best-k search and the raw
    escape when cheaper). Mono by default; ``(n, 2)`` input with
    ``channel_mode`` in {indep, left_side, right_side, mid_side}
    writes REAL stereo frames — the decorrelated modes store the
    transformed channels (side = l − r at 17 bits, mid = (l+r)>>1)
    exactly as RFC 9639 §9.1.3 lays them out. Lossless in every
    mode: a decode recovers the int16 samples exactly, the q216/q228
    oracle device."""
    smp = np.asarray(samples, dtype=np.int64)
    if channel_mode == "mono":
        if smp.ndim != 1:
            raise ValueError("mono mode takes 1-D samples")
        channels = 1
    else:
        if channel_mode not in _FLAC_MODES:
            raise ValueError(f"unknown channel_mode {channel_mode!r}")
        if smp.ndim != 2 or smp.shape[1] != 2:
            raise ValueError("stereo modes take (n, 2) samples")
        channels = 2
    if smp.size == 0:
        raise ValueError("empty stream")
    total = smp.shape[0]
    info = _FlacWriter()
    info.put(blocksize, 16)  # min blocksize
    info.put(blocksize, 16)  # max blocksize
    info.put(0, 24)          # min framesize unknown
    info.put(0, 24)          # max framesize unknown
    info.put(rate, 20)
    info.put(channels - 1, 3)
    info.put(15, 5)          # bits - 1
    info.put(total, 36)
    body = bytes(info.out) + b"\x00" * 16  # md5 unknown
    out = bytearray(b"fLaC" + b"\x80" + len(body).to_bytes(3, "big")
                    + body)
    ch_code = 0 if channels == 1 else _FLAC_MODES[channel_mode]
    for fi, start in enumerate(range(0, total, blocksize)):
        blk = smp[start:start + blocksize]
        bs = blk.shape[0]
        w = _FlacWriter()
        w.put(0x3FFE, 14)
        w.put(0, 1)   # reserved
        w.put(0, 1)   # fixed blocksize strategy
        w.put(7, 4)   # blocksize: 16-bit value follows
        w.put(0, 4)   # rate: streaminfo
        w.put(ch_code, 4)
        w.put(4, 3)   # 16-bit samples
        w.put(0, 1)   # reserved
        # coded frame number (UTF-8 style)
        if fi < 0x80:
            w.put(fi, 8)
        elif fi < 0x800:
            w.put(0xC0 | (fi >> 6), 8)
            w.put(0x80 | (fi & 0x3F), 8)
        else:
            w.put(0xE0 | (fi >> 12), 8)
            w.put(0x80 | ((fi >> 6) & 0x3F), 8)
            w.put(0x80 | (fi & 0x3F), 8)
        w.put(bs - 1, 16)
        w.align()
        w.put(_crc8_flac(bytes(w.out)), 8)
        if channels == 1:
            _flac_write_subframe(w, blk, 16, lpc, p_order)
        elif channel_mode == "indep":
            _flac_write_subframe(w, blk[:, 0], 16, lpc, p_order)
            _flac_write_subframe(w, blk[:, 1], 16, lpc, p_order)
        else:
            side = blk[:, 0] - blk[:, 1]
            if channel_mode == "left_side":
                pair = ((blk[:, 0], 16), (side, 17))
            elif channel_mode == "right_side":
                pair = ((side, 17), (blk[:, 1], 16))
            else:  # mid_side: mid stored as the floor average
                pair = (((blk[:, 0] + blk[:, 1]) >> 1, 16), (side, 17))
            for ch, bps in pair:
                _flac_write_subframe(w, ch, bps, lpc, p_order)
        w.align()
        frame = bytes(w.out)
        out += frame + _crc16_flac(frame).to_bytes(2, "big")
    return bytes(out)


# -------------------------------------------------------------- TIFF pixels
def _tiff_ifd_values(payload: bytes, bo: str, off: int) \
        -> tuple[int, int, list[int]]:
    """One IFD entry at ``off`` → (tag, type, values): BYTE(1),
    SHORT(3) and LONG(4) arrays, inline when they fit the 4-byte
    value slot, external otherwise (TIFF 6.0 §2)."""
    import struct

    tag, typ, cnt = struct.unpack(bo + "HHI", payload[off:off + 8])
    size = {1: 1, 3: 2, 4: 4}.get(typ)
    if size is None:
        return tag, typ, []  # caller decides if the tag matters
    total = size * cnt
    if total <= 4:
        src = off + 8
    else:
        (src,) = struct.unpack(bo + "I", payload[off + 8:off + 12])
    if src + total > len(payload):
        raise ValueError("TIFF IFD value outside payload")
    fmt = {1: "B", 3: "H", 4: "I"}[typ]
    return tag, typ, list(struct.unpack(
        bo + fmt * cnt, payload[src:src + total]))


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9): literal runs (0..127 → n+1 bytes),
    replicate runs (-1..-127 → next byte 1-n times), -128 noop.
    Exactly ``expected`` bytes must come out — over- or underrun is
    corruption."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i] - 256 if data[i] >= 128 else data[i]
        i += 1
        if n >= 0:
            if i + n + 1 > len(data):
                raise ValueError("TIFF PackBits literal truncated")
            out += data[i:i + n + 1]
            i += n + 1
        elif n != -128:
            if i >= len(data):
                raise ValueError("TIFF PackBits replicate truncated")
            out += bytes([data[i]]) * (1 - n)
            i += 1
    if len(out) != expected:
        raise ValueError("TIFF PackBits length mismatch")
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): MSB-first variable-width codes
    9→12 bits, Clear (256) / EOI (257), and the EarlyChange width
    schedule — the DECODER widens one entry before the naive point
    (at table sizes 510/1022/2046), compensating for its one-entry
    lag behind the encoder. Handles the KwKwK corner (code ==
    next_code). ``expected`` bounds the output; violations and
    out-of-range codes raise ValueError (shared taxonomy)."""
    out = bytearray()
    acc = nbits = i = 0
    width = 9

    def read() -> int | None:
        nonlocal acc, nbits, i
        while nbits < width:
            if i >= len(data):
                return None
            acc = (acc << 8) | data[i]
            i += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1
        return code

    table: list[bytes] = [bytes([k]) for k in range(256)] + [b"", b""]
    next_code = 258
    prev: bytes | None = None
    while True:
        code = read()
        if code is None:
            raise ValueError("TIFF LZW stream ended without EOI")
        if code == 257:  # EOI
            break
        if code == 256:  # Clear
            del table[258:]
            width, next_code, prev = 9, 258, None
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("TIFF LZW code out of range")
        out += entry
        if len(out) > expected:
            raise ValueError("TIFF LZW output exceeds strip size")
        if prev is not None:
            if next_code > 4093:
                raise ValueError("TIFF LZW table overflow (no Clear)")
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) - 2 and width < 12:
                width += 1  # EarlyChange: 510 / 1022 / 2046
        prev = entry
    if len(out) != expected:
        raise ValueError("TIFF LZW output shorter than strip size")
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """The encode twin of ``_tiff_lzw_decode``: greedy longest-match
    LZW with the encoder-side EarlyChange schedule (widen at
    511/1023/2047) and a Clear emitted before the 12-bit table can
    overflow — mirrors what libtiff writes."""
    w = _FlacWriter()  # MSB-first bit sink (shared with FLAC)
    table: dict[bytes, int] = {bytes([k]): k for k in range(256)}
    next_code, width = 258, 9
    w.put(256, width)  # leading Clear, per spec
    s = b""
    for ch in data:
        t = s + bytes([ch])
        if t in table:
            s = t
            continue
        w.put(table[s], width)
        table[t] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1  # encoder widens at 511 / 1023 / 2047
        if next_code == 4094:
            w.put(256, width)
            table = {bytes([k]): k for k in range(256)}
            next_code, width = 258, 9
        s = bytes([ch])
    if s:
        w.put(table[s], width)
    w.put(257, width)  # EOI
    w.align()
    return bytes(w.out)


def _tiff_undiff(strip: bytes, rows: int, w: int, spp: int) -> bytes:
    """Invert TIFF Predictor 2 (horizontal differencing, tag 317):
    per row, per channel, each sample is stored as the delta from its
    left neighbour — the cumulative sum modulo 256 restores it."""
    a = np.frombuffer(strip, np.uint8).reshape(rows, w, spp)
    return a.astype(np.uint32).cumsum(axis=1).astype(np.uint8).tobytes()


def decode_tiff_pixels(payload: bytes) \
        -> tuple[int, int, int, bytes] | None:
    """(width, height, channels, samples) for a baseline TIFF — REAL
    pixel decode, stdlib+numpy only: 8-bit grayscale (both
    PhotometricInterpretation polarities — WhiteIsZero inverts) and
    8-bit chunky RGB, strip layout (RowsPerStrip / StripOffsets /
    StripByteCounts), Compression 1 (none), 5 (REAL TIFF LZW with the
    EarlyChange width schedule, r8), 8/32946 (Deflate — stdlib zlib)
    and 32773 (PackBits), Predictor 2 horizontal differencing, both
    byte orders. Planar configuration 2, tiled layout, palette
    TIFFs, JPEG-in-TIFF, the float predictor and non-8-bit depths
    raise NotImplementedError;
    structural violations ValueError — the shared taxonomy. Returns
    None when the byte-order mark/magic doesn't commit to TIFF."""
    import struct

    if len(payload) < 8 or payload[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    bo = "<" if payload[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset outside payload")
    (n_entries,) = struct.unpack(
        bo + "H", payload[ifd_off:ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for e in range(n_entries):
        off = ifd_off + 2 + 12 * e
        if off + 12 > len(payload):
            raise ValueError("TIFF IFD truncated")
        tag, _typ, vals = _tiff_ifd_values(payload, bo, off)
        if vals:
            tags[tag] = vals
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF")
    if tags.get(284, [1])[0] != 1:
        raise NotImplementedError("planar (non-chunky) TIFF")
    comp = tags.get(259, [1])[0]
    if comp not in (1, 5, 8, 32946, 32773):
        raise NotImplementedError(f"TIFF compression {comp}")
    pred = tags.get(317, [1])[0]
    if pred == 3:
        raise NotImplementedError("TIFF floating-point predictor")
    if pred not in (1, 2):
        raise ValueError(f"bad TIFF predictor {pred}")
    photo = tags.get(262, [1])[0]
    if photo not in (0, 1, 2):
        raise NotImplementedError(f"TIFF photometric {photo}")
    if 256 not in tags or 257 not in tags:
        raise ValueError("TIFF missing dimensions")
    w, h = tags[256][0], tags[257][0]
    spp = tags.get(277, [1])[0]
    if (photo == 2) != (spp == 3) or spp not in (1, 3):
        raise NotImplementedError(
            f"TIFF photometric {photo} with {spp} samples")
    if any(b != 8 for b in tags.get(258, [8] * spp)):
        raise NotImplementedError("non-8-bit TIFF")
    if w <= 0 or h <= 0:
        raise ValueError("bad TIFF dimensions")
    offs = tags.get(273)
    cnts = tags.get(279)
    if not offs or not cnts or len(offs) != len(cnts):
        raise ValueError("TIFF strip tables missing or mismatched")
    rps = tags.get(278, [h])[0]
    if rps == 0 or rps == 0xFFFFFFFF:
        rps = h
    if len(offs) != (h + rps - 1) // rps:
        raise ValueError("TIFF strip count contradicts RowsPerStrip")
    out = bytearray()
    for si, (o, c) in enumerate(zip(offs, cnts)):
        if o + c > len(payload):
            raise ValueError("TIFF strip outside payload")
        rows = min(rps, h - si * rps)
        expected = rows * w * spp
        strip = payload[o:o + c]
        if comp == 32773:
            strip = _packbits_decode(strip, expected)
        elif comp == 5:
            strip = _tiff_lzw_decode(strip, expected)
        elif comp in (8, 32946):  # Adobe / legacy Deflate: zlib streams
            import zlib
            try:
                # cap inflation at the size the decoder already knows
                # — an unbounded decompress would let a tiny declared
                # strip balloon to gigabytes before the length check
                # (review finding r8)
                d = zlib.decompressobj()
                strip = d.decompress(strip, expected + 1)
            except zlib.error as exc:
                raise ValueError(f"TIFF deflate strip corrupt: {exc}") \
                    from None
            if (len(strip) != expected or d.unconsumed_tail
                    or d.unused_data):
                # unused_data: the zlib stream ended early and trailing
                # garbage pads the declared StripByteCounts — as loud
                # as the other strip-length taxonomies (review
                # finding r9)
                raise ValueError("TIFF deflate strip length mismatch")
        elif len(strip) != expected:
            raise ValueError("TIFF strip length mismatch")
        if pred == 2:
            strip = _tiff_undiff(strip, rows, w, spp)
        out += strip
    arr = np.frombuffer(bytes(out), np.uint8)
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero scale
        arr = 255 - arr
    return (w, h, spp, arr.tobytes())


def encode_tiff_gray(pixels: bytes, width: int,
                     packbits: bool = False,
                     big_endian: bool = False,
                     white_is_zero: bool = False,
                     rows_per_strip: int = 4,
                     lzw: bool = False,
                     deflate: bool = False,
                     predictor: bool = False) -> bytes:
    """8-bit grayscale baseline TIFF encoder (the decode-test twin):
    strip layout with real multi-strip geometry, optional REAL
    PackBits, LZW or Deflate compression (``lzw=True`` writes
    Compression 5 streams with the encoder-side EarlyChange schedule,
    ``deflate=True`` Compression 8 zlib streams; optionally
    Predictor 2 horizontal differencing on top — the combination real
    scanned TIFFs ship), either byte order, and either photometric
    polarity (``white_is_zero`` stores inverted samples under
    PhotometricInterpretation 0, so a decode recovers the given
    pixels — pinning the inversion path)."""
    import struct

    if width <= 0 or len(pixels) % width:
        raise ValueError("pixels must be height x width bytes")
    if packbits + lzw + deflate > 1:
        raise ValueError("choose one compression")
    height = len(pixels) // width
    bo = ">" if big_endian else "<"
    data = bytes(255 - b for b in pixels) if white_is_zero else pixels

    def diff_rows(rows: bytes) -> bytes:
        a = np.frombuffer(rows, np.uint8).reshape(-1, width) \
            .astype(np.int16)
        a[:, 1:] = a[:, 1:] - a[:, :-1]
        return (a & 0xFF).astype(np.uint8).tobytes()

    def pack_strip(rows: bytes) -> bytes:
        if predictor:
            rows = diff_rows(rows)
        if lzw:
            return _tiff_lzw_encode(rows)
        if deflate:
            import zlib
            return zlib.compress(rows)
        if not packbits:
            return rows
        out = bytearray()
        i = 0
        while i < len(rows):
            run = 1
            while (i + run < len(rows) and run < 128
                   and rows[i + run] == rows[i]):
                run += 1
            if run >= 2:
                out += bytes(((257 - run) & 0xFF, rows[i]))
                i += run
                continue
            lit = i
            while i < len(rows) and i - lit < 128:
                run = 1
                while (i + run < len(rows) and run < 128
                       and rows[i + run] == rows[i]):
                    run += 1
                if run >= 3:
                    break
                i += run
            out += bytes([i - lit - 1]) + rows[lit:i]
        return bytes(out)

    strips = [pack_strip(data[r * width:min(r + rows_per_strip,
                                            height) * width])
              for r in range(0, height, rows_per_strip)]
    n = len(strips)
    # layout: 8-byte header | strip data | IFD | external arrays
    pos = 8
    offs, cnts = [], []
    for s in strips:
        offs.append(pos)
        cnts.append(len(s))
        pos += len(s)
    ifd_off = pos
    entries = []  # (tag, type, count, value-or-None-for-array, array)

    def short_or_array(vals: list[int]) -> tuple[int, list[int]]:
        return (vals[0] if len(vals) == 1 else None, vals)

    photo = 0 if white_is_zero else 1
    comp = 5 if lzw else (8 if deflate else (32773 if packbits else 1))
    tag_list = [
        (256, 4, 1, width, None),
        (257, 4, 1, height, None),
        (258, 3, 1, 8, None),
        (259, 3, 1, comp, None),
        (262, 3, 1, photo, None),
        (273, 4, n, offs[0] if n == 1 else None, offs),
        (277, 3, 1, 1, None),
        (278, 4, 1, rows_per_strip, None),
        (279, 4, n, cnts[0] if n == 1 else None, cnts),
    ]
    if predictor:
        tag_list.append((317, 3, 1, 2, None))
    ext_off = ifd_off + 2 + 12 * len(tag_list) + 4
    ext = bytearray()
    for tag, typ, cnt, inline, arr in tag_list:
        if inline is not None:
            if typ == 3:
                val = struct.pack(bo + "HH", inline, 0)
            else:
                val = struct.pack(bo + "I", inline)
        else:
            val = struct.pack(bo + "I", ext_off + len(ext))
            ext += struct.pack(bo + "I" * cnt, *arr)
        entries.append(struct.pack(bo + "HHI", tag, typ, cnt) + val)
    hdr = (b"II*\x00" if not big_endian else b"MM\x00*") \
        + struct.pack(bo + "I", ifd_off)
    ifd = (struct.pack(bo + "H", len(tag_list)) + b"".join(entries)
           + struct.pack(bo + "I", 0))
    return hdr + b"".join(strips) + ifd + bytes(ext)


# ------------------------------------------------------------- EXIF segment
def decode_exif_orientation(payload: bytes) -> int | None:
    """EXIF orientation (tag 274) from a JPEG's APP1 segment — the
    embedded payload is a genuine TIFF structure (EXIF 2.3 §4.5.2),
    so the walk reuses ``_tiff_ifd_values``: marker scan from SOI to
    the first APP1 carrying the "Exif\\0\\0" signature, then the
    embedded byte-order mark, first IFD and the SHORT value. Returns
    None when no EXIF/orientation is present (most crawl images);
    malformed embedded TIFF raises ValueError — the shared taxonomy.
    A pipeline needs this BEFORE pixel stats: orientations 5-8
    transpose width/height semantics."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            return None  # marker stream lost before any APP1
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # SOS: no APP1 will follow
            return None
        (seg_len,) = struct.unpack(">H", payload[i + 2:i + 4])
        body = payload[i + 4:i + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            if len(tiff) < 8 or tiff[:4] not in (b"II*\x00", b"MM\x00*"):
                raise ValueError("EXIF embedded TIFF header malformed")
            bo = "<" if tiff[:2] == b"II" else ">"
            (ifd_off,) = struct.unpack(bo + "I", tiff[4:8])
            if ifd_off + 2 > len(tiff):
                raise ValueError("EXIF IFD offset outside segment")
            (n_entries,) = struct.unpack(
                bo + "H", tiff[ifd_off:ifd_off + 2])
            for e in range(n_entries):
                off = ifd_off + 2 + 12 * e
                if off + 12 > len(tiff):
                    raise ValueError("EXIF IFD truncated")
                tag, _typ, vals = _tiff_ifd_values(tiff, bo, off)
                if tag == 274 and vals:
                    if not 1 <= vals[0] <= 8:
                        raise ValueError("EXIF orientation out of range")
                    return vals[0]
            return None
        i += 2 + seg_len
    return None


def insert_exif_orientation(jpeg: bytes, orientation: int) -> bytes:
    """The decode-test twin: splice a minimal APP1/EXIF segment (one
    little-endian IFD entry, tag 274) right after SOI of an existing
    JPEG. Decoders must skip unknown APPn segments, so pixel decode
    is unaffected — which the tests assert."""
    import struct

    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    if not 1 <= orientation <= 8:
        raise ValueError("orientation must be 1..8")
    tiff = (b"II*\x00" + struct.pack("<I", 8)
            + struct.pack("<H", 1)
            + struct.pack("<HHIHH", 274, 3, 1, orientation, 0)
            + struct.pack("<I", 0))
    body = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    return jpeg[:2] + seg + jpeg[2:]


def image_exif_meta(media: DataFrame) -> DataFrame:
    """(media_id, orientation) via ``decode_exif_orientation`` —
    Arrow-batched, media grain, no shuffle; non-JPEG or EXIF-less
    payloads yield null."""
    import pandas as pd

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("orientation", T.IntegerType(), True),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "orientation": pd.array(
                    [decode_exif_orientation(bytes(b))
                     if b is not None else None
                     for b in pdf["content"]], dtype="Int32"),
            })

    return media.select("media_id", "content").mapInPandas(
        batches, schema=out_schema)


# ---------------------------------------------------------------- AVI video
# REAL video frame decode (r8 — closes the last "missing" row of the
# r7 verdict, where video was metadata-only): Motion-JPEG in the
# classic RIFF/AVI container. The container layer (the Microsoft
# AVI 1.0 RIFF form: LIST hdrl carrying avih/strh/strf, LIST movi
# with 00dc frame chunks — optionally grouped in LIST 'rec ' — and
# the idx1 index; the same RIFF chunk grammar the WAVE path walks)
# is fully implemented, and every frame is a complete JPEG decoded
# by THIS module's real entropy+IDCT pipeline (baseline, chroma-
# subsampled color AND progressive alike), so video frame sampling
# is honest end to end, stdlib+numpy only. Non-MJPG stream handlers
# (cinepak, DV, raw '00db' DIB frames, …) raise NotImplementedError
# — the shared gated-codec taxonomy — and structure violations
# (truncated chunks, index/frame-count mismatches, a non-JPEG body
# inside a 00dc chunk) are ValueError: wrong pixels must never
# silently reach a stats aggregate.
#
# Reference parity note: the reference dashboard has no media
# handling; this family is the driver-mandated multimodal extension
# (SURVEY.md §7.4) — frame-sample was previously the byte-offset
# stub ``frame_sample``, which stays for schema-plumbing tests.

#: AVIF_HASINDEX — the only main-header flag the muxer sets
_AVIF_HASINDEX = 0x10
#: AVIIF_KEYFRAME — every MJPEG frame is independently decodable
_AVIIF_KEYFRAME = 0x10


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int,
                     fps: int = 10) -> bytes:
    """Minimal RIFF/AVI Motion-JPEG muxer (stdlib struct only) — the
    video twin of ``encode_wav_pcm16``: each element of ``frames`` is
    a complete JPEG payload stored verbatim in a ``00dc`` chunk, so a
    demux recovers the exact frame bytes and a decode through the real
    JPEG pipeline recovers the exact pixels the frame encoder
    guarantees — what lets a video-query oracle compute frame stats
    straight from the source characters. Writes the full AVI 1.0
    structure: avih/strh/strf headers (dwScale=1, dwRate=``fps``),
    even-padded frame chunks, and an idx1 index with movi-relative
    offsets."""
    import struct

    if not frames:
        raise ValueError("at least one frame required")
    if fps <= 0 or width <= 0 or height <= 0:
        raise ValueError("fps/width/height must be positive")

    def chunk(cid: bytes, data: bytes) -> bytes:
        return (cid + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) & 1 else b""))

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(data)) + fourcc + data

    bufsize = max(len(f) for f in frames)
    avih = struct.pack(
        "<10I", 1_000_000 // fps, bufsize * fps, 0, _AVIF_HASINDEX,
        len(frames), 0, 1, bufsize, width, height) + bytes(16)
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps, 0, len(frames), bufsize, 0, 0, 0, 0, width, height)
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi_body = bytearray()
    idx = bytearray()
    for f in frames:
        # idx1 offsets are movi-relative: measured from the first byte
        # of the 'movi' fourcc, so the first chunk sits at offset 4
        idx += struct.pack("<4sIII", b"00dc", _AVIIF_KEYFRAME,
                           4 + len(movi_body), len(f))
        movi_body += chunk(b"00dc", f)
    body = hdrl + lst(b"movi", bytes(movi_body)) + chunk(b"idx1",
                                                         bytes(idx))
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def _riff_chunks(payload: bytes, pos: int, end: int):
    """Iterate RIFF sub-chunks in ``payload[pos:end]`` as
    (fourcc, body_start, body_len) — LIST chunks yield their list type
    as the fourcc and their INNER span, so callers recurse naturally.
    Truncation raises ValueError (shared taxonomy)."""
    import struct

    while pos + 8 <= end:
        cid = payload[pos:pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        if pos + 8 + clen > end:
            raise ValueError("truncated RIFF chunk")
        if cid == b"LIST":
            if clen < 4:
                raise ValueError("LIST chunk too short for a type")
            yield (payload[pos + 8:pos + 12], pos + 12, clen - 4)
        else:
            yield (cid, pos + 8, clen)
        pos += 8 + clen + (clen & 1)


def decode_avi_mjpeg(payload: bytes) \
        -> tuple[int, int, int, list[bytes]] | None:
    """(width, height, fps, frames) for a Motion-JPEG AVI — REAL
    container demux (``fps`` is dwRate/dwScale rounded half-up, so
    NTSC-rate 30000/1001 streams decode as 30 fps instead of
    aborting): walk the RIFF form, read avih/strh/strf, collect
    the video stream's ``00dc`` chunks from LIST movi (recursing into
    'rec ' interleave groups), and cross-check every redundant count
    the container carries — avih dwTotalFrames, strh dwLength, and
    (when present) each idx1 entry's chunk length and offset (both
    movi-relative and absolute-file offset conventions accepted, as
    players do). ``frames`` are the raw per-frame JPEG payloads; the
    caller decodes them with ``decode_jpeg_pixels``.

    Returns None for non-AVI payloads (a RIFF/WAVE lands here too —
    callers degrade); raises NotImplementedError for AVIs whose video
    stream uses a codec other than MJPG (the honest gate — plug
    ffmpeg there on a cluster that has it) and ValueError for corrupt
    structure: torn chunks, a missing video stream, or any
    count/offset cross-check failure."""
    import struct

    if (len(payload) < 12 or payload[:4] != b"RIFF"
            or payload[8:12] != b"AVI "):
        return None
    (riff_len,) = struct.unpack("<I", payload[4:8])
    if 8 + riff_len > len(payload):
        raise ValueError("truncated RIFF form")
    total_frames = width = height = None
    fps = handler = compression = None
    stream_no = -1
    vid_stream = None
    frames: list[bytes] = []
    frame_pos: list[tuple[int, int]] = []  # (abs chunk-id offset, len)
    movi_start = None
    idx1 = None

    def walk_movi(pos: int, end: int) -> None:
        for cid, b0, blen in _riff_chunks(payload, pos, end):
            if cid == b"rec ":
                walk_movi(b0, b0 + blen)
            elif cid == bytes(f"{vid_stream:02d}", "ascii") + b"dc":
                frames.append(payload[b0:b0 + blen])
                frame_pos.append((b0 - 8, blen))
            elif cid == bytes(f"{vid_stream:02d}", "ascii") + b"db":
                raise NotImplementedError(
                    "uncompressed DIB frames in AVI")

    for cid, b0, blen in _riff_chunks(payload, 12, 8 + riff_len):
        if cid == b"hdrl":
            for hid, h0, hlen in _riff_chunks(payload, b0, b0 + blen):
                if hid == b"avih":
                    if hlen < 40:
                        raise ValueError("avih header too short")
                    vals = struct.unpack("<10I", payload[h0:h0 + 40])
                    total_frames, width, height = (vals[4], vals[8],
                                                   vals[9])
                elif hid == b"strl":
                    stream_no += 1
                    for sid, s0, slen in _riff_chunks(
                            payload, h0, h0 + hlen):
                        if sid == b"strh":
                            if slen < 48:
                                raise ValueError("strh too short")
                            (ftype, fcc, _fl, _pr, _la, _ini, scale,
                             rate, _st, dlen) = struct.unpack(
                                "<4s4sIHHIIIII", payload[s0:s0 + 36])
                            if ftype == b"vids" and vid_stream is None:
                                vid_stream = stream_no
                                handler = fcc
                                # rate 0 would yield fps=0 and poison
                                # every downstream division (review
                                # finding r8); non-integral rationals
                                # (NTSC 30000/1001) are well-formed —
                                # round half-up, don't classify as
                                # corrupt (review finding r9). Clamp
                                # to >=1: a sub-0.5 fps timelapse
                                # (dwRate/dwScale = 1/3) is also
                                # well-formed, and a rounded fps of 0
                                # would re-poison the duration math
                                # (review finding r9, second pass)
                                if scale <= 0 or rate <= 0:
                                    raise ValueError(
                                        "non-positive AVI frame rate")
                                fps = max(
                                    1, (2 * rate + scale)
                                    // (2 * scale))
                                if total_frames is not None \
                                        and dlen != total_frames:
                                    raise ValueError(
                                        "strh/avih frame counts differ")
                        elif sid == b"strf" and vid_stream == stream_no:
                            if slen < 40:
                                # a skipped torn strf would leave
                                # compression unchecked (review
                                # finding r8)
                                raise ValueError(
                                    "AVI video strf too short")
                            (_sz, bw, bh, _pl, _bc, comp) = \
                                struct.unpack("<IiiHH4s",
                                              payload[s0:s0 + 20])
                            compression = comp
                            if (width, height) != (bw, abs(bh)):
                                raise ValueError(
                                    "strf/avih dimensions differ")
        elif cid == b"movi":
            movi_start = b0 - 4  # first byte of the 'movi' fourcc
            if vid_stream is None:
                raise ValueError("AVI movi before any video stream")
            if compression is None:
                # a strl that carried strh but never a strf skipped the
                # codec gate and the dimension cross-check entirely
                # (review finding r9) — the mandatory stream-format
                # chunk missing is corruption, same as a torn one
                raise ValueError("AVI video stream without strf")
            if handler not in (b"MJPG", b"mjpg") \
                    or compression not in (b"MJPG", b"mjpg"):
                gated = (handler or b"?").decode("latin1")
                raise NotImplementedError(f"AVI video codec {gated!r}")
            walk_movi(b0, b0 + blen)
        elif cid == b"idx1":
            idx1 = (b0, blen)

    if vid_stream is None or movi_start is None:
        raise ValueError("AVI without a video stream")
    if total_frames is not None and len(frames) != total_frames:
        raise ValueError("frame count does not match headers")
    if idx1 is not None:
        i0, ilen = idx1
        if ilen % 16:
            raise ValueError("idx1 length not a multiple of 16")
        entries = [struct.unpack("<4sIII", payload[i0 + k:i0 + k + 16])
                   for k in range(0, ilen, 16)]
        vid = [(off, ln) for ck, _fl, off, ln in entries
               if ck == bytes(f"{vid_stream:02d}", "ascii") + b"dc"]
        if len(vid) != len(frames):
            raise ValueError("idx1/movi frame counts differ")
        for (off, ln), (abs_off, blen) in zip(vid, frame_pos):
            rel = abs_off - movi_start
            if ln != blen or off not in (rel, abs_off):
                raise ValueError("idx1 entry does not match its chunk")
    return (width, height, fps, frames)


def encode_mp4_mjpeg(frames: list[bytes], width: int, height: int,
                     fps: int = 10) -> bytes:
    """Minimal ISO-BMFF (MP4/QuickTime) Motion-JPEG muxer (stdlib
    struct only) — the second container twin of ``encode_avi_mjpeg``
    (r10): each element of ``frames`` is a complete JPEG payload
    stored verbatim as one sample in ``mdat``, one sample per chunk,
    declared by a ``jpeg`` sample entry in ``stsd`` with the full
    ``stts``/``stsc``/``stsz``/``stco`` sample tables (ISO/IEC
    14496-12 §8.5-8.7), so a demux recovers the exact frame bytes.
    Layout is ftyp + mdat + moov — moov last, so the absolute ``stco``
    chunk offsets are computable in one pass. Timescale = ``fps``,
    one tick per frame."""
    import struct

    if not frames:
        raise ValueError("at least one frame required")
    if fps <= 0 or width <= 0 or height <= 0:
        raise ValueError("fps/width/height must be positive")

    offs, o = [], 0  # sample offsets from the first mdat byte
    for f in frames:
        offs.append(o)
        o += len(f)
    entry = (struct.pack(">I", 86) + b"jpeg" + bytes(6)
             + struct.pack(">H", 1) + bytes(16)
             + struct.pack(">HHIIIH", width, height,
                           0x480000, 0x480000, 0, 1)
             + bytes(32) + struct.pack(">Hh", 24, -1))
    return _mp4_mux(
        b"isom" + struct.pack(">I", 0x200) + b"isom" + b"iso2",
        b"".join(frames), fps, b"vide", b"MJPEG\x00",
        (b"vmhd", 1, bytes(8)), entry, [(1, 1, 1)],
        [len(f) for f in frames], offs, dims=(width, height))


def _mp4_mux(brands: bytes, media: bytes, timescale: int, handler: bytes,
             name: bytes, mhd: tuple[bytes, int, bytes], entry: bytes,
             stsc: list[tuple[int, int, int]], sizes: int | list[int],
             offs: list[int], volume: int = 0,
             dims: tuple[int, int] = (0, 0)) -> bytes:
    """The one single-track ISO-BMFF writer both muxers share: ftyp
    (``brands``: major, minor version, compatibles) + mdat (``media``)
    + moov, moov last so the absolute ``stco`` offsets are known in one
    pass. One tick per table sample at ``timescale``; ``handler``/
    ``name`` fill hdlr, ``mhd`` is the media-header box (type, flags,
    body), ``entry`` the one stsd sample entry, ``stsc`` the
    (first chunk, samples per chunk, entry) runs, ``sizes`` one size
    for every sample or a size per sample, ``offs`` each chunk's
    offset from the first mdat byte; ``volume`` and ``dims`` go to
    tkhd."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + typ + body

    def full(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
        return box(typ, bytes([version]) + flags.to_bytes(3, "big") + body)

    ftyp = box(b"ftyp", brands)
    mdat = box(b"mdat", media)
    if isinstance(sizes, int):
        n, size_list = len(media) // sizes, []
    else:
        n, size_list = len(sizes), sizes
    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0,
                         0, 0, 0x40000000)
    mvhd = full(b"mvhd", 0, 0, struct.pack(
        ">IIIIiH", 0, 0, timescale, n, 0x10000, 0x100)
        + bytes(10) + matrix + bytes(24) + struct.pack(">I", 2))
    tkhd = full(b"tkhd", 0, 3, struct.pack(
        ">IIIII", 0, 0, 1, 0, n) + bytes(8)
        + struct.pack(">hhhH", 0, 0, volume, 0) + matrix
        + struct.pack(">II", dims[0] << 16, dims[1] << 16))
    mdhd = full(b"mdhd", 0, 0, struct.pack(
        ">IIIIHH", 0, 0, timescale, n, 0x55C4, 0))
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I", 0) + handler
                + bytes(12) + name)
    stbl = box(b"stbl", full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
               + full(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
               + full(b"stsc", 0, 0, struct.pack(">I", len(stsc))
                      + b"".join(struct.pack(">III", *r) for r in stsc))
               + full(b"stsz", 0, 0, struct.pack(
                   ">II", 0 if size_list else sizes, n)
                   + b"".join(struct.pack(">I", x) for x in size_list))
               + full(b"stco", 0, 0, struct.pack(">I", len(offs))
                      + b"".join(struct.pack(">I", len(ftyp) + 8 + x)
                                 for x in offs)))
    dinf = box(b"dinf", full(b"dref", 0, 0, struct.pack(">I", 1)
                             + full(b"url ", 0, 1, b"")))
    minf = box(b"minf", full(mhd[0], 0, mhd[1], mhd[2]) + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def _mp4_sample_tables(payload: bytes, s0: int, s1: int):
    """Parse one ``stbl`` box: returns (fourcc, width, height, stts
    entries, stsc entries, sizes, chunk offsets, stsd body bytes).
    The raw stsd body rides along so format-specific callers (the
    audio decoder reads channels/samplesize/samplerate from the
    SoundDescription fields) can parse their own entry layout.
    Missing mandatory tables raise ValueError — a media trak without
    its sample map is corrupt, not gated."""
    import struct

    fourcc = width = height = None
    stts = stsc = sizes = offs = None
    sd_body = b""
    for btyp, b0, b1 in _iter_boxes(payload, s0, s1):
        body = payload[b0 + 4:b1]  # skip version+flags of full boxes
        # every handled table starts with at least one u32 after the
        # version/flags — a shorter box is torn, and it must be a
        # ValueError (the quarantine contract), never a struct.error
        if btyp in (b"stsd", b"stts", b"stsc", b"stsz", b"co64",
                    b"stco") and len(body) < 4:
            raise ValueError("torn MP4 sample-table box")
        if btyp == b"stsd":
            (cnt,) = struct.unpack(">I", body[:4])
            if cnt < 1 or len(body) < 4 + 16:
                raise ValueError("empty stsd")
            sd_body = body
            fourcc = body[8:12]
            # sample entry: 8 header + 6 reserved + 2 dref + 16
            # pre_defined/reserved, then u16 width / u16 height
            if len(body) >= 4 + 36:
                width, height = struct.unpack(">HH", body[36:40])
        elif btyp == b"stts":
            (cnt,) = struct.unpack(">I", body[:4])
            if len(body) < 4 + 8 * cnt:
                raise ValueError("torn stts")
            stts = [struct.unpack(">II", body[4 + 8 * k:12 + 8 * k])
                    for k in range(cnt)]
        elif btyp == b"stsc":
            (cnt,) = struct.unpack(">I", body[:4])
            if len(body) < 4 + 12 * cnt:
                raise ValueError("torn stsc")
            stsc = [struct.unpack(">III", body[4 + 12 * k:16 + 12 * k])
                    for k in range(cnt)]
        elif btyp == b"stsz":
            if len(body) < 8:
                raise ValueError("torn stsz")
            uniform, cnt = struct.unpack(">II", body[:8])
            if uniform:
                # bounds check BEFORE materializing cnt list entries:
                # no container can hold more samples than bytes, and a
                # corrupt cnt=0xFFFFFFFF would otherwise allocate tens
                # of GB ahead of the consistency checks
                if cnt > len(payload) or uniform > len(payload):
                    raise ValueError("stsz exceeds container size")
                sizes = [uniform] * cnt
            else:
                if len(body) < 8 + 4 * cnt:
                    raise ValueError("torn stsz")
                sizes = list(struct.unpack(f">{cnt}I",
                                           body[8:8 + 4 * cnt]))
        elif btyp in (b"stco", b"co64"):
            (cnt,) = struct.unpack(">I", body[:4])
            w = 4 if btyp == b"stco" else 8
            if len(body) < 4 + w * cnt:
                raise ValueError("torn chunk-offset table")
            fmt = ">I" if btyp == b"stco" else ">Q"
            offs = [struct.unpack(fmt, body[4 + w * k:4 + w * (k + 1)])[0]
                    for k in range(cnt)]
    if fourcc is None or stts is None or stsc is None \
            or sizes is None or offs is None:
        raise ValueError("MP4 media trak missing sample tables")
    return fourcc, width, height, stts, stsc, sizes, offs, sd_body


def decode_mp4_mjpeg(payload: bytes) \
        -> tuple[int, int, int, list[bytes]] | None:
    """(width, height, fps, frames) for a Motion-JPEG ISO-BMFF
    (MP4/QuickTime) container — REAL stdlib demux (r10): walk moov →
    trak, take the first track whose ``hdlr`` is ``vide``, gate on the
    ``stsd`` sample-entry fourcc (``jpeg`` decodes; anything else —
    avc1, hvc1, mp4v — raises NotImplementedError: the honest codec
    gate, same taxonomy as the AVI handler check), then walk the
    ``stsc``/``stsz``/``stco`` sample map to slice each JPEG sample
    out of ``mdat`` — frames then ride the module's existing JPEG
    pixel pipeline, so MP4 footage joins the AVI/GIF cross-container
    dedup story with zero new pixel math.

    Returns None for non-ISO-BMFF payloads and for containers with no
    video track (audio-only MP4s are not corrupt); raises ValueError
    for torn sample tables or out-of-range samples."""
    if not _is_bmff(payload):
        return None
    for handler, timescale, tables in _mp4_tracks(payload):
        if handler != b"vide":
            continue  # audio/hint track: keep looking
        if tables is None or not timescale:
            raise ValueError("MP4 video trak missing stbl/mdhd")
        fourcc, w, h, stts, stsc, sizes, offs, _sd = \
            _mp4_sample_tables(payload, *tables)
        if fourcc not in (b"jpeg", b"mjpa", b"mjpb", b"MJPG"):
            raise NotImplementedError(
                f"MP4 video codec {fourcc.decode('latin1')!r}")
        if fourcc in (b"mjpa", b"mjpb"):
            # QuickTime field-split Motion-JPEG variants carry
            # per-field headers the baseline pipeline can't split
            raise NotImplementedError(
                f"QuickTime {fourcc.decode('latin1')} field-split "
                "Motion-JPEG")
        if not w or not h:
            raise ValueError("MP4 jpeg sample entry without dims")
        fps = _mp4_rate(stts, timescale)
        frames = _mp4_collect_samples(payload, stts, stsc, sizes, offs)
        return (w, h, fps, frames)
    return None


def _is_bmff(payload: bytes) -> bool:
    """Cheap ISO-BMFF sniff: a known top-level box type at offset 4."""
    return len(payload) >= 16 and payload[4:8] in (
        b"ftyp", b"moov", b"mdat", b"free", b"wide")


def _mp4_tracks(payload: bytes):
    """Yield (handler fourcc, mdhd timescale, stbl (start, end)) per
    trak of an ISO-BMFF payload — the shared moov walk of the video
    and audio demuxers (mdhd read by ``_bmff_timing``)."""
    for btype, b0, b1 in _iter_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ttyp, t0, t1 in _iter_boxes(payload, b0, b1):
            if ttyp != b"trak":
                continue
            timescale = handler = None
            tables = None
            for mtyp, m0, m1 in _iter_boxes(payload, t0, t1):
                if mtyp != b"mdia":
                    continue
                for ityp, i0, i1 in _iter_boxes(payload, m0, m1):
                    if ityp == b"mdhd":
                        ts, _dur = _bmff_timing(payload, i0, i1)
                        if ts is not None:
                            timescale = ts
                    elif ityp == b"hdlr" and i1 - i0 >= 12:
                        handler = payload[i0 + 8:i0 + 12]
                    elif ityp == b"minf":
                        for styp, s0, s1 in _iter_boxes(payload,
                                                        i0, i1):
                            if styp == b"stbl":
                                tables = (s0, s1)
            yield handler, timescale, tables


def _mp4_rate(stts, timescale: int) -> int:
    """Half-up timescale/delta of the first stts run (the constant-
    rate case every real mux writes), clamped ≥ 1 like the AVI path so
    timelapse rates can't yield 0 and poison duration math."""
    if not stts:
        raise ValueError("empty stts")
    delta = stts[0][1]
    if delta <= 0:
        raise ValueError("non-positive MP4 sample delta")
    return max(1, (2 * timescale + delta) // (2 * delta))


def _mp4_collect_samples(payload: bytes, stts, stsc, sizes,
                         offs) -> list[bytes]:
    """Slice every sample out of mdat by expanding the stsc runs over
    the chunk offsets — shared by the video (frames) and audio (PCM
    runs) demuxers. Strict: counts must agree across stts/stsz and
    the map must cover every sample, offsets in bounds."""
    n = len(sizes)
    if sum(c for c, _d in stts) != n:
        raise ValueError("stts/stsz sample counts differ")
    # stsc runs must start at chunk 1 and be strictly increasing by
    # first_chunk — the per-chunk scan below assumes it, and an
    # unsorted table would silently misassign counts otherwise
    if not stsc or stsc[0][0] != 1 \
            or any(stsc[k][0] >= stsc[k + 1][0]
                   for k in range(len(stsc) - 1)):
        raise ValueError("unsorted or gapped stsc runs")
    out: list[bytes] = []
    si = 0
    for ci, off in enumerate(offs, start=1):
        spc = 0
        for first, per_chunk, _sdi in stsc:
            if first <= ci:
                spc = per_chunk
        for _ in range(spc):
            if si >= n:
                break
            size = sizes[si]
            if off + size > len(payload):
                raise ValueError("MP4 sample out of range")
            out.append(payload[off:off + size])
            off += size
            si += 1
    if si != n:
        raise ValueError("stsc/stco cover fewer samples "
                         "than stsz declares")
    return out


def encode_mp4_pcm16(samples: "np.ndarray", rate: int = 8000,
                     channels: int = 1,
                     big_endian: bool = False) -> bytes:
    """Minimal ISO-BMFF PCM-16 audio muxer (the M4A twin of
    ``encode_wav_pcm16``, r10): uncompressed int16 samples in mdat
    under a ``sowt`` (little-endian) or ``twos`` (big-endian)
    SoundDescription, one PCM frame per table sample, ~100 ms of
    frames per chunk — so the demux walks a REAL multi-sample-per-
    chunk stsc map (the video muxer's one-sample chunks never
    exercise that path). PCM is lossless: a decode recovers the given
    samples bit-exactly, which is what lets an oracle compute frame
    energies straight from the source characters."""
    import struct

    arr = np.asarray(samples, dtype=np.int64)
    if arr.size == 0 or arr.size % channels:
        raise ValueError("samples must be a nonzero multiple of "
                         "channels")
    if rate <= 0 or channels <= 0:
        raise ValueError("rate/channels must be positive")
    if arr.max(initial=0) > 32767 or arr.min(initial=0) < -32768:
        raise ValueError("sample out of int16 range")
    dt = ">i2" if big_endian else "<i2"
    pcm = arr.astype(dt).tobytes()
    n = arr.size // channels          # PCM frames (table samples)
    bpf = 2 * channels                # bytes per PCM frame
    spc = max(1, rate // 10)          # ~100 ms of frames per chunk

    n_chunks = (n + spc - 1) // spc
    entry = (struct.pack(">I", 36)
             + (b"twos" if big_endian else b"sowt") + bytes(6)
             + struct.pack(">H", 1)          # data_ref_index
             + bytes(8)                      # version/revision/vendor
             + struct.pack(">HHHHI", channels, 16, 0, 0, rate << 16))
    # stsc: every chunk holds spc frames, the LAST may be shorter —
    # the standard two-run form
    last = n - spc * (n_chunks - 1)
    stsc_runs = [(1, spc, 1)]
    if n_chunks > 1 and last != spc:
        stsc_runs.append((n_chunks, last, 1))
    elif n_chunks == 1:
        stsc_runs = [(1, n, 1)]
    return _mp4_mux(
        b"M4A " + struct.pack(">I", 0) + b"M4A " + b"isom", pcm, rate,
        b"soun", b"PCM\x00", (b"smhd", 0, bytes(4)), entry, stsc_runs,
        bpf, [ci * spc * bpf for ci in range(n_chunks)], volume=0x100)


def decode_mp4_pcm16(payload: bytes) \
        -> tuple[int, int, bytes] | None:
    """(sample_rate, n_channels, PCM16-LE data bytes) for an ISO-BMFF
    audio container (M4A/MOV) carrying uncompressed 16-bit PCM — the
    fourth audio container (r10, after WAV, G.711-in-WAV and FLAC),
    sharing every downstream consumer through the ONE uniform PCM16
    contract of ``_wav_pcm16_data``. ``sowt`` (little-endian) and
    ``twos`` (big-endian, byte-swapped here) decode; compressed
    SoundDescriptions (``mp4a`` AAC, ``alac``, …) and non-16-bit PCM
    raise NotImplementedError — the honest codec gate; torn sample
    tables raise ValueError. None for non-ISO-BMFF payloads and for
    containers with no audio track (a video-only MP4 is not
    corrupt)."""
    import struct

    if not _is_bmff(payload):
        return None
    for handler, timescale, tables in _mp4_tracks(payload):
        if handler != b"soun":
            continue  # video/hint track: keep looking
        if tables is None or not timescale:
            raise ValueError("MP4 audio trak missing stbl/mdhd")
        fourcc, _w, _h, stts, stsc, sizes, offs, sd_body = \
            _mp4_sample_tables(payload, *tables)
        if fourcc not in (b"sowt", b"twos"):
            raise NotImplementedError(
                f"MP4 audio codec {fourcc.decode('latin1')!r}")
        # SoundDescription v0 fields (QTFF): channels u16 / samplesize
        # u16 at entry offsets 24/26, samplerate 16.16 u32 at 32 —
        # stsd body offsets 28/30 and 36 (4 count + 8 entry header)
        if len(sd_body) < 40:
            raise ValueError("torn MP4 SoundDescription")
        channels, samplesize = struct.unpack(">HH", sd_body[28:32])
        (rate_fx,) = struct.unpack(">I", sd_body[36:40])
        rate = rate_fx >> 16
        if samplesize != 16:
            raise NotImplementedError(
                f"{samplesize}-bit MP4 PCM (16-bit only)")
        if not channels or not rate:
            raise ValueError("MP4 PCM entry without channels/rate")
        runs = _mp4_collect_samples(payload, stts, stsc, sizes, offs)
        data = b"".join(runs)
        if len(data) % (2 * channels):
            raise ValueError("MP4 PCM data not frame-aligned")
        if fourcc == b"twos":  # big-endian: swap to the LE contract
            data = (np.frombuffer(data, ">i2").astype("<i2")
                    .tobytes())
        return (rate, channels, data)
    return None


def video_frame_stats(media: DataFrame, every_n: int = 1,
                      corrupt: str = "raise") -> DataFrame:
    """Sampled-frame pixel statistics over REAL video decode — the
    keyframe-extraction step of a video-training-data pipeline: demux
    the Motion-JPEG AVI container, keep frames with
    ``frame_no % every_n == 0`` (temporal sampling BEFORE any pixel
    work, so the skipped frames' entropy decode is never paid), and
    run each kept frame through the module's full JPEG pixel pipeline.
    Animated GIFs (≥2 image blocks) are the second container (r9):
    frames are the composited full-canvas RGB snapshots from
    ``decode_gif_frames`` — there the sampler only bounds the OUTPUT,
    because GIF compositing is a sequential disposal chain and every
    frame must decode regardless (the honesty note the AVI cost lever
    doesn't need). Single-frame GIFs stay images (the poster frame
    belongs to ``image_pixel_stats``) and yield no video rows.
    Emits exact-integer (sum, min, max, count) per frame — the same
    half-up-mean contract as ``image_pixel_stats`` — plus the
    container's frame rate, so downstream can convert frame_no to a
    timestamp.

    Degrade taxonomy (shared with the raster/audio paths): non-video
    payloads and honestly-gated codecs (non-MJPG handlers, gated JPEG
    variants inside a frame) yield NO rows for that media; corrupt
    containers or a non-JPEG body inside a 00dc chunk raise under the
    default ``corrupt="raise"``, or yield NO rows under
    ``corrupt="null"`` — the streaming gate's quarantine mode (review
    finding r9).

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle —
    stats land at (media, frame) grain and pixels never leave the
    task that decoded them; output is bounded by frames/every_n."""
    import pandas as pd

    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    if corrupt not in ("raise", "null"):
        raise ValueError("corrupt must be 'raise' or 'null'")

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.LongType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_val", T.LongType()),
        T.StructField("min_val", T.IntegerType()),
        T.StructField("max_val", T.IntegerType()),
    ])

    def one_media(mid, raw: bytes) -> list:
        # Motion-JPEG containers first (RIFF/AVI, then ISO-BMFF — r10):
        # both demuxers hand back verbatim JPEG samples, so the frames
        # share one pixel pipeline regardless of container
        dec = decode_avi_mjpeg(raw)
        if dec is None:
            dec = decode_mp4_mjpeg(raw)
        media_rows = []
        if dec is not None:
            _w, _h, fps, frames = dec
            for fno in range(0, len(frames), every_n):
                f = decode_jpeg_pixels(frames[fno])
                if f is None:
                    raise ValueError(
                        "video sample does not contain a JPEG")
                fw, fh, ch, px = f
                a = np.frombuffer(px, np.uint8)
                media_rows.append(
                    (mid, fno, fps, fw, fh, len(px),
                     int(a.sum(dtype=np.int64)),
                     int(a.min()) if a.size else None,
                     int(a.max()) if a.size else None))
        else:
            # route with the no-LZW walk first: a poster-frame
            # GIF is an image and must not pay the full
            # LZW+compositing decode just to be discarded
            # (review finding r9, second pass); the full
            # decoder stays the loud authority for anything
            # the probe routes here
            nfr = gif_frame_count(raw)
            if nfr is None or nfr < 2:
                return []  # not a video container / poster frame
            anim = decode_gif_frames(raw)
            if anim is None or len(anim[3]) < 2:
                return []  # authoritative recount disagrees
            gw, gh, fps, gframes = anim
            for fno in range(0, len(gframes), every_n):
                a = np.frombuffer(gframes[fno], np.uint8)
                media_rows.append(
                    (mid, fno, fps, gw, gh, a.size,
                     int(a.sum(dtype=np.int64)),
                     int(a.min()) if a.size else None,
                     int(a.max()) if a.size else None))
        return media_rows

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                if payload is None:
                    continue
                try:
                    media_rows = one_media(mid, bytes(payload))
                except NotImplementedError:
                    continue  # gated codec/variant: degrade, not abort
                except ValueError:
                    if corrupt == "raise":
                        raise
                    continue  # quarantine mode: yield no rows
                rows.extend(media_rows)
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_no", "fps", "width", "height",
                "n_samples", "sum_val", "min_val", "max_val"])

    return media.select("media_id", "content").mapInPandas(
        batches, schema=out_schema)


def shot_boundaries(frame_stats: DataFrame,
                    threshold_milli: int = 3000) -> DataFrame:
    """Shot-cut detection over ``video_frame_stats`` output — the
    scene-segmentation step that decides WHICH sampled frames a
    training pipeline keeps (one per shot beats one per second on
    redundant footage): a cut is a jump in mean frame brightness
    between consecutive SAMPLED frames. The mean is carried as an
    exact integer in milli-units (``1000·sum div n``), so the
    threshold compare is deterministic cross-engine — no float mean
    ever materializes (the image_dhash discipline).

    Returns (media_id, frame_no, prev_frame_no, delta_milli) for
    frames whose jump meets ``threshold_milli``. Pure JVM window over
    the frame rows — no extra Python after the decode pass; the
    window partitions by media, bounded by frames per video."""
    mean_milli = F.expr("(1000 * sum_val) div n_samples")
    byf = Window.partitionBy("media_id").orderBy("frame_no")
    cur = frame_stats.withColumn("_m", mean_milli)
    return (
        cur.withColumn("_pm", F.lag("_m").over(byf))
        .withColumn("_pf", F.lag("frame_no").over(byf))
        .filter(F.col("_pm").isNotNull())
        .withColumn("delta_milli", F.abs(F.col("_m") - F.col("_pm")))
        .filter(F.col("delta_milli") >= F.lit(threshold_milli))
        .select("media_id", "frame_no",
                F.col("_pf").alias("prev_frame_no"), "delta_milli")
    )


def video_fingerprint(frame_stats: DataFrame,
                      id_col: str = "media_id") -> DataFrame:
    """Frame-sequence fingerprint over ``video_frame_stats`` output —
    the video member of the dedup-key family (dHash for images, the
    energy-delta hash for audio): bit i = 1 iff frame i's integer
    milli-mean brightness is lower than frame i+1's, packed MSB-first
    into hex bytes. Because frame means are exact integers
    (1000·sum div n), the same footage re-muxed at a different frame
    RATE or with a different JPEG MODE (baseline vs progressive — the
    pixels are bit-identical by the codec contract) folds to ONE key.
    Assumes the dense every_n=1 frame stream (bit positions are frame
    numbers). Pure JVM window + aggregate after the decode pass.

    Returns (id_col, fp) for media with ≥2 frames; single-frame media
    carry no delta signal and yield no row (callers route them like
    null dHashes — ungated)."""
    return delta_sign_fingerprint(
        frame_stats.withColumn(
            "_m", F.expr("(1000 * sum_val) div n_samples")),
        id_col, "frame_no", "_m")


def delta_sign_fingerprint(frames: DataFrame, id_col: str,
                           order_col: str, val_col: str) -> DataFrame:
    """(id, fp) — the SHARED delta-sign fingerprint fold (one recipe,
    one implementation — review finding r9): bit i = 1 iff frame i's
    value < frame i+1's (ordered by ``order_col``, which must be the
    dense 0-based position so bit indexes land right), packed
    MSB-first into hex bytes. ``video_fingerprint`` feeds it integer
    frame milli-means; the audio member (q223's device,
    plans.curate_media) feeds it per-frame RMS — exact-int energy
    sums + one sqrt keep the float compare cross-engine-deterministic.
    Pure JVM window + aggregate; rows with <2 frames yield no row."""
    byf = Window.partitionBy(id_col).orderBy(order_col)
    return (
        frames
        .withColumn("_nxt", F.lead(val_col).over(byf))
        .filter(F.col("_nxt").isNotNull())
        .withColumn("_b", F.when(F.col(val_col) < F.col("_nxt"), 1)
                    .otherwise(0))
        .withColumn("_bi", (F.col(order_col) / 8).cast("bigint"))
        .groupBy(id_col, "_bi")
        .agg(F.sum(F.expr(
            f"_b * shiftleft(1L, CAST(7 - {order_col} % 8 AS INT))"))
            .alias("_byte"))
        .groupBy(id_col)
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_bi", "_byte"))),
                lambda s: F.format_string("%02x", s["_byte"])),
            "").alias("fp"))
    )
