"""Media-column queries over REAL codec paths (r6).

The testdata ships no image files, so q186 manufactures them
deterministically: each document's printable-ASCII bytes become the
pixels of a genuine 8-bit grayscale PNG (row filters cycling through
all five types), Spark DECODES those PNGs back with the stdlib decoder
(operators/multimodal.py ``decode_png_pixels``) and aggregates pixel
statistics — while the DuckDB oracle computes the same statistics
straight from the characters. A decoder bug (wrong unfilter, palette
mix-up, off-by-one stride) breaks the hash match, so the oracle gate
genuinely verifies the decode, not just the plumbing.

Every query here is built from one round-trip harness: ``_ascii_docs``
(the printable-ASCII device rows) → ``_encode`` (the one encode pass,
or a query's own closure when its media rows carry extra columns) →
the codec's decoder → ``_pixel_stats`` / ``_frame_energy`` (the shared
exact-integer tails); ``_ascii_sql`` is the oracle's twin of the
device rows. A query writes only its codec-specific lines.

Reference parity note: the reference dashboard has no media handling
at all; this family is the driver-mandated multimodal extension
(SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sunat_rree_demo_spark.queries.base import register, t

#: the payload schema of every single-file-per-row encode pass
_MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("content", T.BinaryType()),
])


def _ascii_docs(spark, sf_dir, width=1, min_len=None, cap=None):
    """The device rows every media query encodes: ``(media_id, s)``
    with ``s`` a document's printable-ASCII characters. Documents with
    fewer than ``min_len`` (default ``width``) such characters drop;
    the rest are cut to their first ``cap`` characters (when given) and
    down to whole ``width``-character rows. The length filter runs
    before the cut, as in ``_ascii_sql``, so the two agree for any
    arguments."""
    docs = (
        t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"),
                F.regexp_replace("text", "[^ -~]", "").alias("s"))
        .filter(F.length("s") >= (width if min_len is None else min_len))
    )
    # width 1 needs no whole-row cut: a plain prefix reads s once, so
    # Catalyst folds it into the prelude's projection
    if width == 1:
        if cap is None:
            return docs
        return docs.withColumn("s", F.expr(f"substring(s, 1, {cap})"))
    n = "length(s)" if cap is None else f"least(length(s), {cap})"
    return docs.withColumn(
        "s", F.expr(f"substring(s, 1, ({n} div {width}) * {width})"))


def _ascii_sql(width=1, min_len=None, cap=None):
    """The oracle twin of ``_ascii_docs`` as WITH-list text (callers
    write ``WITH {_ascii_sql(...)}, ...``, or ``WITH RECURSIVE``):
    ``a`` (doc_id, s) holds the printable-ASCII characters, ``c``
    (doc_id, s) the kept and cut device rows, and ``v`` one row per
    character of ``c``: (doc_id, n = the row's length, pos = 0-based
    offset, val = the character code)."""
    if width == 1:
        cut = "s" if cap is None else f"substr(s, 1, {cap})"
    else:
        n = "length(s)" if cap is None else f"least(length(s), {cap})"
        cut = f"substr(s, 1, ({n} // {width}) * {width})"
    return f"""a AS (
      SELECT doc_id,
             regexp_replace(text, '[^ -~]', '', 'g') AS s
      FROM documents
    ),
    c AS (
      SELECT doc_id, {cut} AS s
      FROM a WHERE length(s) >= {width if min_len is None else min_len}
    ),
    v AS (
      SELECT doc_id, length(s) AS n,
             unnest(range(0, length(s))) AS pos,
             unnest(list_transform(range(1, length(s) + 1),
                                   i -> ascii(substr(s, i, 1)))) AS val
      FROM c
    )"""


def _encode(src, mk):
    """The one encode pass: ``mk(media_id, s) -> bytes`` builds each
    device row's file, in one Arrow-batched mapInPandas from
    ``(media_id, s)`` to ``(media_id, content)``; payloads never leave
    the task that built them."""
    def encode(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "content": [mk(int(m), s) for m, s in
                            zip(pdf["media_id"], pdf["s"])],
            })

    return src.mapInPandas(encode, schema=_MEDIA_SCHEMA)


def _pixel_stats(stats, n_col, *cols, mean_col="mean_val"):
    """The stats projection every pixel round trip ends in:
    ``doc_id``, the pass-through ``cols``, the sample count as BIGINT
    ``n_col``, the 4dp mean as ``mean_col`` and ``min_val``/``max_val``.
    The mean uses the half-up integer device, ``(2·sum·10⁴ + n) div
    2n``: no float mean ever materializes, so both engines agree bit
    for bit."""
    return stats.select(
        F.col("media_id").alias("doc_id"), *cols,
        F.col("n_samples").cast("bigint").alias(n_col),
        (F.expr("(2 * sum_val * 10000 + n_samples) "
                "div (2 * n_samples)").cast("double") / 10000.0)
        .alias(mean_col),
        "min_val", "max_val",
    )


def _frame_energy(media, frame_ms, decimate=1):
    """The audio tail: per-frame RMS energy of the decoded PCM
    (``pcm_frame_energy``, box-decimated by ``decimate``) at 4dp, in
    (doc_id, frame_no) order. ``_FRAME_ENERGY_SQL`` is its oracle."""
    from sunat_rree_demo_spark.operators.multimodal import pcm_frame_energy

    return (
        pcm_frame_energy(media, frame_ms=frame_ms, decimate=decimate)
        .select(F.col("media_id").alias("doc_id"),
                "frame_no", "n_samples",
                F.round("rms", 4).alias("rms_4dp"))
        .orderBy("doc_id", "frame_no")
    )


def _survivor_census(media, keys, by, key="fp"):
    """The dedup funnels' census: every ``media`` row joined to its
    ``keys`` row (``media_id``, ``key``) on media_id, each ``key``
    elects its min media_id as the survivor, and per ``by`` group the
    BIGINT ``n_items`` and ``n_survivors`` come out in ``by`` order."""
    from pyspark.sql import Window

    elected = (
        media.select("media_id", by)
        .join(keys, "media_id")
        .withColumn("_keep", F.min("media_id").over(
            Window.partitionBy(key)))
    )
    return (
        elected.groupBy(by)
        .agg(F.count("*").cast("bigint").alias("n_items"),
             F.sum(F.when(F.col("media_id") == F.col("_keep"), 1)
                   .otherwise(0)).cast("bigint").alias("n_survivors"))
        .orderBy(by)
    )


#: pixels per PNG row for the manufactured images
_PNG_W = 16


@register(
    "q186_png_pixel_stats",
    oracle=f"""
    WITH {_ascii_sql(_PNG_W)}
    SELECT doc_id,
           CAST({_PNG_W} AS INT) AS width,
           CAST(n // {_PNG_W} AS INT) AS height,
           CAST(n AS BIGINT) AS n_pixels,
           CAST((2 * sum(val) * 10000 + n) // (2 * n) AS DOUBLE)
             / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q186_png_pixel_stats(spark, sf_dir):
    """Pixel statistics through a REAL PNG encode→decode round trip:
    documents' printable-ASCII bytes (truncated to whole {w}-pixel
    rows) are encoded as genuine grayscale PNGs with row filters
    cycling None/Sub/Up/Average/Paeth, decoded back via the stdlib
    zlib-inflate + unfilter path, and reduced to exact-integer pixel
    stats; the mean uses the half-up integer device at 4dp. The oracle
    never sees a PNG — it computes the identical stats from the
    characters, so the hash match proves the decoder reproduces the
    source bytes through every filter type.

    Scale shape: two Arrow-batched mapInPandas passes (encode, then
    decode+stats) at document grain, no shuffle until the final
    doc-grain sort; pixels never leave the task that decoded them."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_png_gray,
        image_pixel_stats,
    )

    media = _encode(_ascii_docs(spark, sf_dir, _PNG_W),
                    lambda mid, s: encode_png_gray(s.encode("ascii"),
                                                   _PNG_W))
    return _pixel_stats(image_pixel_stats(media), "n_pixels",
                        "width", "height").orderBy("doc_id")


#: q210 interlaced-PNG width — deliberately NOT a multiple of 8 so
#: every Adam7 pass has a ragged edge (partial pass widths exercise
#: the per-pass ceil geometry)
_PNG7_W = 21


@register(
    "q210_adam7_png_stats",
    oracle=f"""
    WITH {_ascii_sql(_PNG7_W)}
    SELECT doc_id,
           CAST({_PNG7_W} AS INT) AS width,
           CAST(n // {_PNG7_W} AS INT) AS height,
           CAST(n AS BIGINT) AS n_pixels,
           CAST((2 * sum(val) * 10000 + n) // (2 * n) AS DOUBLE)
             / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q210_adam7_png_stats(spark, sf_dir):
    """Pixel statistics through a REAL **Adam7-interlaced** PNG
    encode→decode round trip (r8 — closes the last structural PNG
    gate): documents' printable-ASCII bytes become genuine interlaced
    grayscale PNGs (seven independently-filtered sub-images, filters
    still cycling all five types within each pass), Spark inverts the
    interlace — per-pass unfilter with per-pass prior-row reset, then
    the scatter back onto the pass grid — and reduces to exact-integer
    pixel stats. The oracle computes the identical stats straight from
    the characters, so a pass-geometry slip (wrong origin/step, a
    phantom scanline for an empty pass, prior-row leakage across
    passes) breaks the hash. Width {_PNG7_W} is deliberately not a
    multiple of 8: every pass has ragged-edge partial rows.

    Scale shape: identical to q186 — two Arrow-batched mapInPandas
    passes at document grain, no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_png_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _PNG7_W)),
                    lambda mid, s: encode_png_gray(s.encode("ascii"),
                                                   _PNG7_W,
                                                   interlace=True))
    return _pixel_stats(image_pixel_stats(media), "n_pixels",
                        "width", "height").orderBy("doc_id")


#: 8×8 blocks per JPEG block-row (one block per character) → width 128
_JPEG_BPR = 16


@register(
    "q201_jpeg_pixel_stats",
    oracle=f"""
    WITH {_ascii_sql(_JPEG_BPR)}
    SELECT doc_id,
           CAST({_JPEG_BPR} * 8 AS INT) AS width,
           CAST((n // {_JPEG_BPR}) * 8 AS INT) AS height,
           CAST(64 * n AS BIGINT) AS n_pixels,
           CAST((2 * 64 * sum(val) * 10000 + 64 * n)
                // (2 * 64 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q201_jpeg_pixel_stats(spark, sf_dir):
    """Pixel statistics through a REAL baseline-JPEG encode→decode
    round trip (the q186 device, pointed at the lossy format's
    lossless-by-construction corner): each document's printable-ASCII
    byte becomes one UNIFORM 8×8 block — a constant block's DCT is
    pure DC, quant 1 stores it exactly, and the IDCT of a DC-only
    block is float64-exact — so Spark's huffman + dequant + IDCT
    pipeline must reproduce every source byte as 64 identical pixels.
    The oracle never sees a JPEG: it computes the identical stats from
    the characters at 64× pixel weight (the scale factor cancels in
    the half-up integer mean). A huffman mis-decode, DC-prediction
    slip or IDCT normalization error breaks the hash.

    Scale shape: two Arrow-batched mapInPandas passes (encode, then
    decode+stats) at document grain, no shuffle before the doc-grain
    output sort; pixels never leave the task that decoded them."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_gray_blocks,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    # the codec passes are CPU-bound Python over a SMALL parquet input
    # (one split) — without the fan_out every encode+decode serializes
    # on one core (r7: 54s -> ~3s cold at sf0.1 on local[32])
    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _JPEG_BPR)),
                    lambda mid, s: encode_jpeg_gray_blocks(
                        s.encode("ascii"), _JPEG_BPR))
    return _pixel_stats(image_pixel_stats(media), "n_pixels",
                        "width", "height").orderBy("doc_id")


#: q209 color construction: 16×16 MCUs (4:2:0) per character → 8 MCUs
#: per row = 128 px wide; chroma derived from the same byte so the
#: oracle can recompute everything from the characters. Docs cap at
#: _MCU_CAP chars: one char costs SIX coefficient blocks (4 Y + Cb +
#: Cr), so uncapped sf0.1 encode was 11.6 s cold (120-cap still 6.7) for zero extra
#: verification power — the decode path is equally exercised per MCU
_MCU_PR = 8
_MCU_CAP = 32

#: the q209/q211 color device's per-character r/g/b, from ``v``: the
#: decoder's floor(x+0.5) YCbCr→RGB of (Y, Cb, Cr) = (val, 255−val,
#: val+64)
_RGB_SQL = """rgb AS (
      SELECT doc_id, n,
             CAST(least(greatest(floor(
               val + 1.402 * (val + 64 - 128) + 0.5), 0), 255)
               AS BIGINT) AS r,
             CAST(least(greatest(floor(
               val - 0.344136 * (255 - val - 128)
                   - 0.714136 * (val + 64 - 128) + 0.5), 0), 255)
               AS BIGINT) AS g,
             CAST(least(greatest(floor(
               val + 1.772 * (255 - val - 128) + 0.5), 0), 255)
               AS BIGINT) AS b
      FROM v
    )"""


@register(
    "q209_jpeg_color_stats",
    oracle=f"""
    WITH {_ascii_sql(_MCU_PR, cap=_MCU_CAP)},
    {_RGB_SQL}
    SELECT doc_id,
           CAST({_MCU_PR} * 16 AS INT) AS width,
           CAST((n // {_MCU_PR}) * 16 AS INT) AS height,
           CAST(768 * n AS BIGINT) AS n_samples,
           CAST((2 * 256 * sum(r + g + b) * 10000 + 768 * n)
                // (2 * 768 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(least(r, g, b)) AS INT) AS min_val,
           CAST(max(greatest(r, g, b)) AS INT) AS max_val
    FROM rgb GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q209_jpeg_color_stats(spark, sf_dir):
    """Pixel statistics through a REAL 4:2:0 COLOR baseline-JPEG
    encode→decode round trip — the r8 extension of the q201 device to
    the encoding real crawl images actually use (interleaved MCUs,
    subsampled chroma, YCbCr→RGB): each document's printable-ASCII
    byte becomes one uniform 16×16 MCU (four DC-only Y blocks carrying
    the byte, one Cb block = 255−byte, one Cr block = byte+64), so the
    decoded RGB patch is EXACTLY the floor(x+0.5) color conversion of
    those three values — uniform blocks store losslessly, the IDCT is
    float64-exact, and replication upsampling of a uniform chroma
    block is the identity. The oracle never sees a JPEG: it recomputes
    r/g/b per character with the same IEEE-double expressions (the
    decoder uses floor(x+0.5) rather than round() precisely so both
    engines share the rounding rule) and aggregates at 256× pixel
    weight. An interleave-order slip, chroma-upsample bug, DC
    predictor mix-up across components or color-matrix error breaks
    the hash.

    Scale shape: fan_out → one Arrow-batched encode pass → one decode
    + stats pass at document grain; pixels never leave the task that
    decoded them (no shuffle before the doc-grain output sort)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_color_dc_mcus,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(mid: int, s: str) -> bytes:
        y = s.encode("ascii")
        arr = np.frombuffer(y, np.uint8).astype(np.int64)
        cb = (255 - arr).astype(np.uint8).tobytes()
        cr = (arr + 64).astype(np.uint8).tobytes()
        return encode_jpeg_color_dc_mcus(y, cb, cr, _MCU_PR,
                                         samp=(2, 2))

    media = _encode(
        fan_out(_ascii_docs(spark, sf_dir, _MCU_PR, cap=_MCU_CAP)), mk)
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q212 GIF width — a prime, so interlace pass boundaries never align
#: with byte boundaries and every row is a distinct slice
_GIF_W = 13


@register(
    "q212_gif_pixel_stats",
    oracle=f"""
    WITH {_ascii_sql(_GIF_W)}
    SELECT doc_id,
           CAST({_GIF_W} AS INT) AS width,
           CAST(n // {_GIF_W} AS INT) AS height,
           CAST(3 * n AS BIGINT) AS n_samples,
           CAST((2 * 3 * sum(val) * 10000 + 3 * n)
                // (2 * 3 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q212_gif_pixel_stats(spark, sf_dir):
    """Pixel statistics through a REAL **interlaced GIF**
    encode→decode round trip (r8 — the third real raster codec, after
    PNG and JPEG): each document's printable-ASCII byte becomes one
    pixel of a genuine GIF89a — identity grayscale palette, LZW-coded
    image data, 4-pass row interlace — and Spark decodes it back
    through the stdlib LZW decompressor, interlace reorder and
    palette expansion. Identity palette makes each stored byte an
    (v,v,v) RGB pixel, so the oracle computes the same stats from the
    characters at 3× sample weight; an LZW mis-decode, interlace-pass
    slip or palette indexing bug breaks the hash. (The handcrafted-
    bitstream tests pin the compressed-dictionary decode paths the
    uncompressed-form encoder doesn't emit.)

    Scale shape: identical to q186 — two Arrow-batched mapInPandas
    passes at document grain, no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_gif_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _GIF_W)),
                    lambda mid, s: encode_gif_gray(s.encode("ascii"),
                                                   _GIF_W,
                                                   interlace=True))
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q213 BMP width — a prime distinct from q186 (16), q210 (21) and
#: q212 (13), so a raster-routing mix-up can never hash-match
_BMP_W = 11


@register(
    "q213_bmp_rle_stats",
    oracle=f"""
    WITH {_ascii_sql(_BMP_W)}
    SELECT doc_id,
           CAST({_BMP_W} AS INT) AS width,
           CAST(n // {_BMP_W} AS INT) AS height,
           CAST(3 * n AS BIGINT) AS n_samples,
           CAST((2 * 3 * sum(val) * 10000 + 3 * n)
                // (2 * 3 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q213_bmp_rle_stats(spark, sf_dir):
    """Pixel statistics through a REAL **run-length-compressed BMP**
    (BI_RLE8) encode→decode round trip (r8 — with PNG, JPEG and GIF
    real, this pins the last compressed raster the sniffer routes):
    each document's printable-ASCII byte becomes one pixel of an
    8-bit identity-palette RLE8 BMP — greedy runs, absolute packets,
    end-of-line/bitmap escapes, bottom-up rows — and Spark decodes it
    back through the RLE cursor machine and palette expansion.
    Identity palette makes each stored byte a (v,v,v) RGB pixel, so
    the oracle computes the same stats from the characters at 3×
    sample weight; a run-length slip, absolute-packet padding bug,
    row-order flip or palette indexing error breaks the hash. (The
    handcrafted-stream tests pin the delta-skip escape the encoder
    never emits.)

    Scale shape: identical to q212 — two Arrow-batched mapInPandas
    passes at document grain, no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_bmp_rle8_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _BMP_W)),
                    lambda mid, s: encode_bmp_rle8_gray(
                        s.encode("ascii"), _BMP_W))
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q211 progressive construction: 7 MCUs/row (width 112 — distinct
#: from q209's 128 so a routing mix-up cannot hash-match), 28-char cap
#: over a 1-in-5 doc sample — the progressive scan script costs ~14
#: Python passes per image (8 scans, two-pass encode), so the uncapped
#: device was 12.6 s cold at sf0.1 for no extra verification power
_PROG_PR = 7
_PROG_CAP = 28


@register(
    "q211_progressive_jpeg_stats",
    oracle=f"""
    WITH {_ascii_sql(_PROG_PR, cap=_PROG_CAP)},
    {_RGB_SQL}
    SELECT doc_id,
           CAST({_PROG_PR} * 16 AS INT) AS width,
           CAST((n // {_PROG_PR}) * 16 AS INT) AS height,
           CAST(768 * n AS BIGINT) AS n_samples,
           CAST((2 * 256 * sum(r + g + b) * 10000 + 768 * n)
                // (2 * 768 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(least(r, g, b)) AS INT) AS min_val,
           CAST(max(greatest(r, g, b)) AS INT) AS max_val
    FROM rgb WHERE doc_id % 5 = 0
    GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q211_progressive_jpeg_stats(spark, sf_dir):
    """Pixel statistics through a REAL **progressive (SOF2)** 4:2:0
    color JPEG encode→decode round trip — r8's second codec extension,
    closing the last major gap the r7 verdict named (progressive is
    the common web encoding): the q209 uniform-MCU device rides the
    full progressive scan script — interleaved subsampled DC-first at
    successive approximation, per-component spectral AC scans (pure
    EOB runs for DC-only content), then DC and AC refinement passes —
    so a successive-approximation slip, EOBRUN mis-count, refinement
    correction-bit desync or scan-accumulation bug breaks the hash.
    The oracle is q209's character arithmetic at width 112.

    Scale shape: identical to q209 — fan_out → Arrow-batched encode →
    one decode+stats pass, no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_color_dc_progressive,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(mid: int, s: str) -> bytes:
        y = s.encode("ascii")
        arr = np.frombuffer(y, np.uint8).astype(np.int64)
        cb = (255 - arr).astype(np.uint8).tobytes()
        cr = (arr + 64).astype(np.uint8).tobytes()
        return encode_jpeg_color_dc_progressive(y, cb, cr, _PROG_PR)

    docs = _ascii_docs(spark, sf_dir, _PROG_PR, cap=_PROG_CAP)
    media = _encode(fan_out(docs.filter(F.col("media_id") % 5 == 0)), mk)
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q207 audio construction: sample rate / frame window give 160
#: samples per 20 ms frame; each printable char becomes ONE int16
#: sample, (ascii − 79) << 8 — symmetric around 0, |s| ≤ 12032
_WAV_RATE = 8000
_WAV_FRAME_MS = 20
_WAV_SPF = _WAV_RATE * _WAV_FRAME_MS // 1000

#: the oracle twin of ``_frame_energy``: the WITH-list tail and query
#: over a caller's ``p`` (doc_id, pos, smp) per-sample CTE
_FRAME_ENERGY_SQL = f"""f AS (
      SELECT doc_id,
             CAST(pos // {_WAV_SPF} AS BIGINT) AS frame_no,
             CAST(count(*) AS BIGINT) AS n_samples,
             sum(CAST(smp AS BIGINT) * smp) AS ssq
      FROM p GROUP BY 1, 2
    )
    SELECT doc_id, frame_no, n_samples,
           round(sqrt(CAST(ssq AS DOUBLE) / n_samples), 4) AS rms_4dp
    FROM f ORDER BY doc_id, frame_no"""


@register(
    "q207_wav_frame_energy",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 79) * 256 AS smp FROM v),
    {_FRAME_ENERGY_SQL}
    """,
    tags=("media", "multimodal", "codec", "audio"),
)
def q207_wav_frame_energy(spark, sf_dir):
    """Per-frame RMS energy through a REAL WAV encode→decode round
    trip — the audio member of the q186/q201 device family (the
    multimodal plumbing now has an oracle-verified REAL decode in all
    three served modalities: PNG, baseline JPEG, PCM WAV): each
    document's printable chars become int16 PCM samples in a genuine
    RIFF/WAVE container, Spark walks the chunk list back with
    ``pcm_frame_energy`` (20 ms frames at 8 kHz = 160 samples), and
    the oracle computes the identical energies straight from the
    characters. Exactness: PCM is lossless, the energy sum is int64,
    and the only float ops (int→double divide, sqrt) are IEEE
    correctly-rounded — bit-identical in both engines before the 4dp
    round.

    Scale shape: fan_out → one Arrow-batched encode pass → one decode
    + frame-energy pass; output is frame grain with no shuffle before
    the output sort (silence-trim/VAD pipelines consume it there)."""
    from sunat_rree_demo_spark.operators.multimodal import encode_wav_pcm16
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)),
                    lambda mid, s: encode_wav_pcm16(
                        (np.frombuffer(s.encode("ascii"), np.uint8)
                         .astype(np.int64) - 79) * 256,
                        rate=_WAV_RATE))
    return _frame_energy(media, _WAV_FRAME_MS)


# --------------------------------------------------------------- q214 G.711
def _g711_luts() -> tuple[str, str]:
    """The two 95-entry printable-ASCII→linear lookup lists as SQL
    literals (codes 32..126 of the REAL ITU tables). Built from the
    same tables the decoder uses — the q212 shared-palette device:
    the query pins the container walk, companded expansion wiring and
    framing; the independently-pinned anchor tests (±32124/±32256,
    the two μ-law zeros) pin the tables themselves."""
    from sunat_rree_demo_spark.operators.multimodal import (
        _g711_alaw_table,
        _g711_ulaw_table,
    )

    u, a = _g711_ulaw_table(), _g711_alaw_table()
    return (", ".join(str(int(v)) for v in u[32:127]),
            ", ".join(str(int(v)) for v in a[32:127]))


_ULAW_SQL, _ALAW_SQL = _g711_luts()


@register(
    "q214_g711_frame_energy",
    oracle=f"""
    WITH {_ascii_sql()},
    lut AS (
      SELECT unnest(range(32, 127)) AS code,
             unnest([{_ULAW_SQL}]) AS u,
             unnest([{_ALAW_SQL}]) AS a
    ),
    p AS (
      SELECT doc_id, pos,
             CASE WHEN doc_id % 2 = 0 THEN u ELSE lut.a END AS smp
      FROM v JOIN lut ON lut.code = v.val
    ),
    {_FRAME_ENERGY_SQL}
    """,
    tags=("media", "multimodal", "codec", "audio"),
)
def q214_g711_frame_energy(spark, sf_dir):
    """Per-frame RMS energy through a REAL **G.711 telephony WAV**
    round trip (r8 — the second real audio codec after q207's linear
    PCM): each document's printable chars become companded 8-bit
    code bytes in a genuine RIFF/WAVE container — μ-law (format tag
    7) for even doc_ids, A-law (tag 6) for odd, so one query pins
    BOTH expansion tables and the tag routing — and Spark expands
    them back to linear int16 through the ITU-T tables inside the
    shared chunk walker before the usual integer-exact frame-energy
    pass. A table slip, tag mix-up, or odd-chunk pad-byte leak into
    the sample stream breaks the hash. Exactness: the expansion is a
    table lookup (lossless), energies are int64, and the only float
    ops are IEEE correctly-rounded — identical in both engines before
    the 4dp round.

    Scale shape: identical to q207 — fan_out → Arrow-batched encode →
    one decode+energy pass, frame-grain output, no shuffle before the
    output sort."""
    from sunat_rree_demo_spark.operators.multimodal import encode_wav_g711
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)),
                    lambda mid, s: encode_wav_g711(
                        s.encode("ascii"),
                        law="ulaw" if mid % 2 == 0 else "alaw",
                        rate=_WAV_RATE))
    return _frame_energy(media, _WAV_FRAME_MS)


#: q216 sample mapping: a different scale than q207's <<8 so a
#: container-routing mix-up can never hash-match (|s| ≤ 47*181 = 8507)
_FLAC_SCALE = 181


@register(
    "q216_flac_frame_energy",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 79) * {_FLAC_SCALE} AS smp FROM v),
    {_FRAME_ENERGY_SQL}
    """,
    tags=("media", "multimodal", "codec", "audio"),
)
def q216_flac_frame_energy(spark, sf_dir):
    """Per-frame RMS energy through a REAL **FLAC** encode→decode
    round trip (r8 — the third real audio path after linear PCM and
    G.711): each document's printable chars become int16 samples
    inside a genuine FLAC stream — fixed-predictor subframes with
    Rice-coded residual partitions, CONSTANT blocks where the text is
    flat, CRC-8/CRC-16 protected frames; encode parameters vary by
    doc (LPC-form subframes for odd doc_ids, partition order 2 when
    doc_id % 3 == 0) so one query exercises the decoder's subframe
    and partition breadth — and Spark decodes them back through the
    full frame layer before the usual integer-exact energy pass. A
    Rice mis-read, predictor slip, partition-boundary bug or CRC
    bypass breaks the hash. FLAC is lossless, so the oracle computes
    the identical energies straight from the characters.

    Scale shape: identical to q207 — fan_out → Arrow-batched encode →
    one decode+energy pass, frame-grain output, no shuffle before the
    output sort."""
    from sunat_rree_demo_spark.operators.multimodal import encode_flac_pcm16
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(mid: int, s: str) -> bytes:
        smp = (np.frombuffer(s.encode("ascii"), np.uint8)
               .astype(np.int64) - 79) * _FLAC_SCALE
        return encode_flac_pcm16(
            smp, rate=_WAV_RATE, blocksize=256,
            lpc=bool(mid % 2),
            p_order=2 if mid % 3 == 0 else 0)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)), mk)
    return _frame_energy(media, _WAV_FRAME_MS)


#: q217 TIFF width — a prime distinct from every other raster device
#: (16/21/13/11), so a routing mix-up can never hash-match
_TIFF_W = 23


@register(
    "q217_tiff_pixel_stats",
    oracle=f"""
    WITH {_ascii_sql(_TIFF_W)}
    SELECT doc_id,
           CAST({_TIFF_W} AS INT) AS width,
           CAST(n // {_TIFF_W} AS INT) AS height,
           CAST(n AS BIGINT) AS n_samples,
           CAST((2 * sum(val) * 10000 + n) // (2 * n) AS DOUBLE)
             / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q217_tiff_pixel_stats(spark, sf_dir):
    """Pixel statistics through a REAL **baseline TIFF** encode→decode
    round trip (r8 — the fifth real raster codec: every image format
    the sniffer recognizes now decodes for real): each document's
    printable-ASCII byte becomes one pixel of a genuine strip-layout
    TIFF, with the encode parameters varying per doc — PackBits
    compression for even doc_ids, big-endian byte order when
    doc_id % 3 == 0, WhiteIsZero photometric inversion when
    doc_id % 5 == 0 — so one query exercises the IFD walk, both byte
    orders, multi-strip geometry, the PackBits coder and the
    polarity inversion. The oracle computes the same stats from the
    characters; a strip-boundary slip, endianness bug, PackBits
    run-length error or polarity miss breaks the hash.

    Scale shape: identical to q186 — two Arrow-batched mapInPandas
    passes at document grain, no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_tiff_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _TIFF_W)),
                    lambda mid, s: encode_tiff_gray(
                        s.encode("ascii"), _TIFF_W,
                        packbits=(mid % 2 == 0),
                        big_endian=(mid % 3 == 0),
                        white_is_zero=(mid % 5 == 0)))
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q219 VAD threshold: chars map to (ascii−79)·256, so a 20 ms frame
#: of "loud" characters (far from 'O' = 79) clears 5000 easily while
#: mid-alphabet text sits under it — both segment shapes occur
_VAD_T = 5000.0


@register(
    "q219_vad_segments",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 79) * 256 AS smp FROM v),
    f AS (
      SELECT doc_id,
             CAST(pos // {_WAV_SPF} AS BIGINT) AS frame_no,
             CAST(count(*) AS BIGINT) AS n_samples,
             sum(CAST(smp AS BIGINT) * smp) AS ssq
      FROM p GROUP BY 1, 2
    ),
    act AS (
      SELECT doc_id, frame_no, n_samples,
             sqrt(CAST(ssq AS DOUBLE) / n_samples) AS rms
      FROM f
      WHERE sqrt(CAST(ssq AS DOUBLE) / n_samples) >= {_VAD_T}
    ),
    isl AS (
      SELECT doc_id, frame_no, n_samples, rms,
             frame_no - row_number()
               OVER (PARTITION BY doc_id ORDER BY frame_no) AS g
      FROM act
    )
    SELECT doc_id,
           CAST(min(frame_no) AS BIGINT) AS seg_start,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(n_samples) AS BIGINT) AS n_samples,
           round(max(rms), 4) AS peak_rms
    FROM isl GROUP BY doc_id, g
    ORDER BY doc_id, seg_start
    """,
    tags=("media", "multimodal", "audio", "vad"),
)
def q219_vad_segments(spark, sf_dir):
    """Voice-activity segments through the REAL WAV round trip — the
    silence-trim step after q207's frame energies (an audio pipeline's
    ExactSubstr-islands analogue): frames whose RMS clears the gate
    merge into maximal contiguous segments via gaps-and-islands, and
    each segment reports its start frame, length, sample mass and 4dp
    peak. RMS values are IEEE-identical cross-engine (int64 energy
    sums, one correctly-rounded sqrt), so the float threshold compare
    is deterministic; the oracle recomputes frames, the gate and the
    island merge straight from the characters. (Operator:
    operators.multimodal.vad_segments.)

    Scale shape: q207's two Arrow-batched passes, then a media-grain
    island window — bounded by audio duration, no corpus-wide state."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_wav_pcm16,
        vad_segments,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)),
                    lambda mid, s: encode_wav_pcm16(
                        (np.frombuffer(s.encode("ascii"), np.uint8)
                         .astype(np.int64) - 79) * 256,
                        rate=_WAV_RATE))
    return (
        vad_segments(media, frame_ms=_WAV_FRAME_MS, threshold=_VAD_T)
        .select(F.col("media_id").alias("doc_id"),
                "seg_start", "n_frames", "n_samples", "peak_rms")
        .orderBy("doc_id", "seg_start")
    )


#: q220 dHash device width — prime, ≥ the 9-column grid, distinct
#: from every stats-device width
_DH_W = 29


@register(
    "q220_image_dhash_census",
    oracle=f"""
    WITH {_ascii_sql(_DH_W, min_len=_DH_W * 8)},
    cells AS (
      SELECT doc_id, ((pos // {_DH_W}) * 8) // (n // {_DH_W}) AS cr,
             ((pos % {_DH_W}) * 9) // {_DH_W} AS cl,
             sum(CAST(val AS BIGINT)) AS s, count(*) AS k
      FROM v GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT l.doc_id, l.cr, l.cl,
             CASE WHEN l.s * r2.k < r2.s * l.k THEN 1 ELSE 0 END AS b
      FROM cells l JOIN cells r2
        ON l.doc_id = r2.doc_id AND l.cr = r2.cr
       AND r2.cl = l.cl + 1
    ),
    rowb AS (
      SELECT doc_id, cr,
             sum(b * (1 << (7 - cl))) AS byte
      FROM bits GROUP BY 1, 2
    ),
    hsh AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY cr) AS dhash
      FROM rowb GROUP BY 1
    )
    SELECT doc_id, dhash,
           CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT)
             AS n_same_hash
    FROM hsh ORDER BY doc_id
    """,
    tags=("media", "multimodal", "dedup", "similarity"),
)
def q220_image_dhash_census(spark, sf_dir):
    """Perceptual-hash near-duplicate census over REAL decoded
    pixels: each document becomes a genuine grayscale PNG, Spark
    decodes it back and computes the standard dHash (8×9 floor-grid
    box downsample, integer cross-multiplied brightness comparisons,
    64 bits as 16 hex chars — see ``image_dhash`` for the exactness
    contract), then counts how many images share each hash — the key
    an image-dedup pass buckets on before training. The oracle
    rebuilds the grid, the comparisons and the hex packing straight
    from the characters, so a cell-boundary slip, comparison-polarity
    flip or byte-order bug breaks the hash census bit-for-bit.

    Scale shape: one Arrow-batched decode+hash pass; the census
    shuffles 16-byte keys, never pixels."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_png_gray,
        image_dhash,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out
    from pyspark.sql import Window as W

    media = _encode(
        fan_out(_ascii_docs(spark, sf_dir, _DH_W, min_len=_DH_W * 8)),
        lambda mid, s: encode_png_gray(s.encode("ascii"), _DH_W))
    return (
        image_dhash(media)
        .filter(F.col("dhash").isNotNull())
        .select(F.col("media_id").alias("doc_id"), "dhash",
                F.count("*").over(W.partitionBy("dhash"))
                .cast("bigint").alias("n_same_hash"))
        .orderBy("doc_id")
    )


@register(
    "q221_dhash_hamming_pairs",
    oracle=f"""
    WITH {_ascii_sql(_DH_W, min_len=_DH_W * 8)},
    m AS (
      SELECT doc_id AS mid, n, pos, val FROM v
      UNION ALL
      SELECT doc_id + 10000000, n, pos,
             CASE WHEN pos < {_DH_W} THEN ascii('z') ELSE val END
      FROM v
    ),
    cells AS (
      SELECT mid, ((pos // {_DH_W}) * 8) // (n // {_DH_W}) AS cr,
             ((pos % {_DH_W}) * 9) // {_DH_W} AS cl,
             sum(CAST(val AS BIGINT)) AS s, count(*) AS k
      FROM m GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT l.mid, l.cr, l.cl,
             CASE WHEN l.s * r2.k < r2.s * l.k THEN 1 ELSE 0 END AS b
      FROM cells l JOIN cells r2
        ON l.mid = r2.mid AND l.cr = r2.cr AND r2.cl = l.cl + 1
    ),
    rowb AS (
      SELECT mid, cr, sum(b * (1 << (7 - cl))) AS byte
      FROM bits GROUP BY 1, 2
    ),
    hsh AS (
      SELECT mid,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY cr) AS dhash
      FROM rowb GROUP BY 1
    ),
    hl AS (
      SELECT mid,
             ('0x' || substr(dhash, 1, 8))::BIGINT AS hi,
             ('0x' || substr(dhash, 9, 8))::BIGINT AS lo,
             dhash
      FROM hsh
    ),
    bandv AS (
      SELECT mid, unnest([0, 1, 2, 3]) AS b,
             unnest(list_transform([0, 1, 2, 3], i ->
               ('0x' || substr(dhash, 1 + 4 * i, 4))::BIGINT)) AS v
      FROM hl
    ),
    cand AS (
      SELECT DISTINCT l.mid AS id_a, r.mid AS id_b
      FROM bandv l JOIN bandv r ON l.b = r.b AND l.v = r.v
       AND l.mid < r.mid
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(x.hi, y.hi))
                + bit_count(xor(x.lo, y.lo)) AS BIGINT) AS hamming
    FROM cand c JOIN hl x ON x.mid = c.id_a
                JOIN hl y ON y.mid = c.id_b
    WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
          <= 10
    ORDER BY id_a, id_b
    """,
    tags=("media", "multimodal", "dedup", "similarity"),
)
def q221_dhash_hamming_pairs(spark, sf_dir):
    """Near-duplicate image PAIRS via the banded Hamming join over
    REAL decoded pixels — the scale path for perceptual image dedup
    (q220 buckets exact hash equality; this finds hashes within
    Hamming distance 10): each qualifying document yields TWO genuine
    PNGs — the original and a copy whose first pixel row is blanked
    to 'z's, a localized perturbation that flips only row-0 hash bits
    — so every doc plants one true near-dup pair at distance ≤ 8,
    recoverable through the band pigeonhole (rows 2-7's bands are
    untouched) without any all-pairs scan. Candidates come from one
    (band, value) equi-join, verification is an exact popcount; the
    oracle rebuilds hashes, bands, the candidate join and the
    popcount verify in SQL, so banding slips, hex-parsing bugs and
    XOR/popcount errors all break the hash. (Operator:
    operators.multimodal.dhash_hamming_pairs.)

    Scale shape: band keys are a JVM projection over 16-hex-char
    rows; the self-join shuffles (band, value) pairs — 4 rows per
    image, never pixels; verification is bounded by collision-group
    width like every banded family here."""
    from sunat_rree_demo_spark.operators.multimodal import (
        dhash_hamming_pairs,
        encode_png_gray,
        image_dhash,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    src = _ascii_docs(spark, sf_dir, _DH_W, min_len=_DH_W * 8)
    both = fan_out(src.unionByName(src.select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.concat(F.lit("z" * _DH_W),
                 F.expr(f"substring(s, {_DH_W} + 1)")).alias("s"))))
    media = _encode(both, lambda mid, s: encode_png_gray(
        s.encode("ascii"), _DH_W))
    return (
        dhash_hamming_pairs(image_dhash(media), max_hamming=10)
        .select(F.col("id_a"), F.col("id_b"),
                F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


#: q222 decimation factor: samples are multiples of 256, so the
#: 2-sample floor mean is EXACT (the sum is even) — floor-vs-truncate
#: division semantics can never diverge cross-engine
_DEC_M = 2
_DEC_SPF = (_WAV_RATE // _DEC_M) * _WAV_FRAME_MS // 1000


@register(
    "q222_decimated_frame_energy",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 79) * 256 AS smp FROM v),
    dec AS (
      SELECT doc_id, pos // {_DEC_M} AS q,
             sum(CAST(smp AS BIGINT)) // {_DEC_M} AS d
      FROM p GROUP BY 1, 2 HAVING count(*) = {_DEC_M}
    ),
    f AS (
      SELECT doc_id,
             CAST(q // {_DEC_SPF} AS BIGINT) AS frame_no,
             CAST(count(*) AS BIGINT) AS n_samples,
             sum(d * d) AS ssq
      FROM dec GROUP BY 1, 2
    )
    SELECT doc_id, frame_no, n_samples,
           round(sqrt(CAST(ssq AS DOUBLE) / n_samples), 4) AS rms_4dp
    FROM f ORDER BY doc_id, frame_no
    """,
    tags=("media", "multimodal", "audio", "resample"),
)
def q222_decimated_frame_energy(spark, sf_dir):
    """Frame energies after integer box DECIMATION — the cheap
    resample step (48 kHz crawl audio → 16 kHz model rate) an audio
    pipeline runs between decode and feature extraction: the q207 WAV
    device decoded back, every 2 samples collapsed to their floor
    mean (exact here — the device's samples are multiples of 256, so
    the 2-sum is even and floor == truncate), then the usual
    integer-exact RMS frames at the halved effective rate. The oracle
    rebuilds pair-grouping (dropping the odd tail like the operator),
    the floor mean and the frame geometry from the characters; a
    group-alignment slip, tail mishandling or rate-geometry bug
    breaks the hash. (Operator: pcm_frame_energy(decimate=2).)

    Scale shape: identical to q207 — the decimation is a reshape+sum
    inside the same Arrow batch, no extra pass, no shuffle."""
    from sunat_rree_demo_spark.operators.multimodal import encode_wav_pcm16
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)),
                    lambda mid, s: encode_wav_pcm16(
                        (np.frombuffer(s.encode("ascii"), np.uint8)
                         .astype(np.int64) - 79) * 256,
                        rate=_WAV_RATE))
    return _frame_energy(media, _WAV_FRAME_MS, decimate=_DEC_M)


@register(
    "q223_audio_fingerprint",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 79) * 256 AS smp FROM v),
    f AS (
      SELECT doc_id,
             CAST(pos // {_WAV_SPF} AS BIGINT) AS frame_no,
             sqrt(CAST(sum(CAST(smp AS BIGINT) * smp) AS DOUBLE)
                  / count(*)) AS rms
      FROM p GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, frame_no,
             CASE WHEN rms < lead(rms) OVER
               (PARTITION BY doc_id ORDER BY frame_no)
             THEN 1 ELSE 0 END AS b,
             lead(rms) OVER (PARTITION BY doc_id ORDER BY frame_no)
               AS nxt
      FROM f
    ),
    bits AS (SELECT doc_id, frame_no AS i, b FROM d
             WHERE nxt IS NOT NULL),
    byt AS (
      SELECT doc_id, i // 8 AS bi,
             sum(b * (1 << CAST(7 - i % 8 AS INT))) AS byte
      FROM bits GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) * 8 AS BIGINT) AS n_bits_padded,
           string_agg(printf('%02x', CAST(byte AS BIGINT)),
                      '' ORDER BY bi) AS fp
    FROM byt GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("media", "multimodal", "audio", "fingerprint"),
)
def q223_audio_fingerprint(spark, sf_dir):
    """Energy-delta audio fingerprint — the audio analogue of q220's
    dHash (the sign of successive frame-energy deltas is the classic
    cheap robust fingerprint for duplicate-recording detection):
    frames come from the REAL WAV round trip, bit i = 1 iff frame i
    is quieter than frame i+1 (IEEE-identical RMS doubles make the
    comparison deterministic cross-engine), bits pack MSB-first into
    hex bytes. Everything after the frame pass is pure JVM window +
    aggregate — no extra Python. The oracle rebuilds frames, the
    lead() comparison and the byte packing; a frame-order slip,
    bit-position error or padding bug breaks the hash.

    Scale shape: the q207 passes, then one media-grain window and one
    media-grain aggregate; fingerprints shuffle as short hex strings."""
    from sunat_rree_demo_spark.operators.multimodal import (
        delta_sign_fingerprint,
        encode_wav_pcm16,
        pcm_frame_energy,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)),
                    lambda mid, s: encode_wav_pcm16(
                        (np.frombuffer(s.encode("ascii"), np.uint8)
                         .astype(np.int64) - 79) * 256,
                        rate=_WAV_RATE))
    # one fp byte per 8 padded bits: 4 bits per hex digit
    return (
        delta_sign_fingerprint(
            pcm_frame_energy(media, frame_ms=_WAV_FRAME_MS),
            "media_id", "frame_no", "rms")
        .select(F.col("media_id").alias("doc_id"),
                (4 * F.length("fp")).cast("bigint").alias("n_bits_padded"),
                "fp")
        .orderBy("doc_id")
    )


@register(
    "q224_exif_orientation",
    oracle=f"""
    WITH {_ascii_sql(min_len=4, cap=4)}
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                ELSE CAST(doc_id % 8 + 1 AS INT) END AS orientation
    FROM c
    ORDER BY doc_id
    """,
    tags=("media", "multimodal", "metadata"),
)
def q224_exif_orientation(spark, sf_dir):
    """EXIF orientation extraction through REAL JPEG containers: each
    document becomes a genuine baseline JPEG; docs with
    ``doc_id % 5 != 0`` get a spliced APP1/EXIF segment carrying
    orientation ``doc_id % 8 + 1`` (an embedded little-endian TIFF
    IFD — the walk reuses the TIFF machinery), the rest carry no EXIF
    and must yield null, not a crash or a default. The oracle knows
    the planted values in closed form, so the hash verifies the
    marker scan, the Exif signature gate, the embedded-TIFF parse and
    the null path together. Orientation matters upstream of pixel
    stats: values 5-8 transpose width/height semantics. (Operators:
    multimodal.decode_exif_orientation / insert_exif_orientation /
    image_exif_meta; tests pin that pixel decode skips APP1.)

    Scale shape: one Arrow-batched metadata pass at media grain, no
    shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_gray_blocks,
        image_exif_meta,
        insert_exif_orientation,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    def mk(mid: int, s: str) -> bytes:
        j = encode_jpeg_gray_blocks(s.encode("ascii"), 2)
        if mid % 5 == 0:
            return j
        return insert_exif_orientation(j, mid % 8 + 1)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, min_len=4, cap=4)),
                    mk)
    return (
        image_exif_meta(media)
        .select(F.col("media_id").alias("doc_id"), "orientation")
        .orderBy("doc_id")
    )


#: q225 mixed-corpus device: 8 chars per doc, one payload FORMAT per
#: doc_id % 7 cohort — the routing/degrade matrix in one query
_MIX_W = 8


@register(
    "q225_media_type_census",
    oracle=f"""
    WITH {_ascii_sql(min_len=_MIX_W, cap=_MIX_W)},
    k AS (
      SELECT doc_id % 7 AS m, sum(val) AS sv
      FROM v GROUP BY doc_id
    ),
    w AS (
      SELECT CASE m
               WHEN 0 THEN 'image/png'  WHEN 1 THEN 'image/jpeg'
               WHEN 2 THEN 'image/gif'  WHEN 3 THEN 'image/bmp'
               WHEN 4 THEN 'image/tiff' WHEN 5 THEN 'audio/wav'
               ELSE 'application/octet-stream' END AS media_type,
             CASE m WHEN 0 THEN {_MIX_W} WHEN 1 THEN {_MIX_W} * 64
                    WHEN 2 THEN {_MIX_W} * 3 WHEN 3 THEN {_MIX_W} * 3
                    WHEN 4 THEN {_MIX_W} END AS ns,
             CASE m WHEN 0 THEN sv WHEN 1 THEN 64 * sv
                    WHEN 2 THEN 3 * sv WHEN 3 THEN 3 * sv
                    WHEN 4 THEN sv END AS sm
      FROM k
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(ns) AS BIGINT) AS n_decoded,
           CAST(coalesce(sum(ns), 0) AS BIGINT) AS total_samples,
           CAST(coalesce(sum(sm), 0) AS BIGINT) AS total_sum
    FROM w GROUP BY 1 ORDER BY media_type
    """,
    tags=("media", "multimodal", "routing"),
)
def q225_media_type_census(spark, sf_dir):
    """The mixed-corpus ROUTING matrix in one query — what a real
    crawl batch looks like to the media layer: each document ships as
    a different genuine container by cohort (PNG, uniform-block JPEG,
    GIF, RLE8-BMP, TIFF, PCM WAV, or deliberate octet-stream junk),
    the type comes from a REAL magic-byte sniff of the produced
    payload, pixel stats decode what's an image and degrade to null
    for audio/junk — and the per-type census (count, decoded count,
    sample mass, value mass) must match the oracle's closed-form
    cohort arithmetic, including each format's sample weight (JPEG
    uniform blocks 64×, palette RGB 3×, gray 1×). One query that
    breaks if ANY router edge, sniffer signature or degrade path
    regresses. (Device widths: every cohort uses the same 8-char
    slice, so a cross-format routing mix-up changes the weights and
    the hash.)

    Scale shape: one Arrow-batched encode+sniff pass, one decode
    pass, a media-grain join, then a 7-row aggregate."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_bmp_rle8_gray,
        encode_gif_gray,
        encode_jpeg_gray_blocks,
        encode_png_gray,
        encode_tiff_gray,
        encode_wav_pcm16,
        image_pixel_stats,
        sniff_media_type,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    src = fan_out(_ascii_docs(spark, sf_dir, min_len=_MIX_W, cap=_MIX_W))

    def encode(it):
        import pandas as pd

        def mk(mid: int, s: str) -> bytes:
            b = s.encode("ascii")
            m = mid % 7
            if m == 0:
                return encode_png_gray(b, _MIX_W)
            if m == 1:
                return encode_jpeg_gray_blocks(b, _MIX_W)
            if m == 2:
                return encode_gif_gray(b, _MIX_W)
            if m == 3:
                return encode_bmp_rle8_gray(b, _MIX_W)
            if m == 4:
                return encode_tiff_gray(b, _MIX_W)
            if m == 5:
                return encode_wav_pcm16(
                    np.frombuffer(b, np.uint8).astype(np.int64),
                    rate=8000)
            return b"\x00junk" + b  # never matches a magic

        for pdf in it:
            payloads = [mk(int(m), s) for m, s in
                        zip(pdf["media_id"], pdf["s"])]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "content": payloads,
                "media_type": [sniff_media_type(p) for p in payloads],
            })

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    stats = image_pixel_stats(media.select("media_id", "content"))
    return (
        media.select("media_id", "media_type")
        .join(stats, "media_id", "left")
        .groupBy("media_type")
        .agg(F.count("*").cast("bigint").alias("n_items"),
             F.count("sum_val").cast("bigint").alias("n_decoded"),
             F.coalesce(F.sum("n_samples"), F.lit(0)).cast("bigint")
             .alias("total_samples"),
             F.coalesce(F.sum("sum_val"), F.lit(0)).cast("bigint")
             .alias("total_sum"))
        .orderBy("media_type")
    )


#: q226/q227 video device: 12 uniform blocks per frame (width 96 —
#: distinct from every other raster device width), ≤24 frames per doc
_VID_BPR = 12
_VID_NF = 24
#: q227 shot-cut threshold in milli brightness units
_CUT_T = 3000


def _video_media(spark, sf_dir):
    """Shared q226/q227 device: each document's printable chars become
    a REAL Motion-JPEG AVI — every 12-char slice is one video frame
    (a block-row JPEG of uniform 8×8 blocks, the q201 lossless-by-
    construction corner), muxed into a genuine RIFF/AVI container
    whose frame rate varies per doc (5 + doc_id % 7) so the header
    round trip is load-bearing."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_gray_blocks,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    def mk(mid: int, s: str) -> bytes:
        b = s.encode("ascii")
        frames = [
            encode_jpeg_gray_blocks(b[k:k + _VID_BPR], _VID_BPR)
            for k in range(0, len(b), _VID_BPR)]
        return encode_avi_mjpeg(frames, _VID_BPR * 8, 8,
                                fps=5 + mid % 7)

    return _encode(fan_out(_ascii_docs(spark, sf_dir, _VID_BPR,
                                       cap=_VID_NF * _VID_BPR)), mk)


@register(
    "q226_video_frame_stats",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, cap=_VID_NF * _VID_BPR)},
    fv AS (SELECT doc_id, pos // {_VID_BPR} AS f, val FROM v)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST(5 + doc_id % 7 AS INT) AS fps,
           CAST({_VID_BPR} * 8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(64 * {_VID_BPR} AS BIGINT) AS n_pixels,
           CAST((2 * 64 * sum(val) * 10000 + 64 * {_VID_BPR})
                // (2 * 64 * {_VID_BPR}) AS DOUBLE) / 10000.0
             AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM fv WHERE f % 3 = 0
    GROUP BY doc_id, f ORDER BY doc_id, frame_no
    """,
    tags=("media", "multimodal", "codec", "video"),
)
def q226_video_frame_stats(spark, sf_dir):
    """Sampled-frame pixel statistics through a REAL Motion-JPEG AVI
    mux→demux→decode round trip (r8 — video was the last metadata-only
    media family; now the container walk, the idx1 cross-checks, the
    per-frame JPEG entropy decode and the temporal sampler are all
    load-bearing): every third frame of each document's AVI is decoded
    through the full JPEG pipeline and aggregated, and the container's
    frame rate (which varies per doc) rides along. The oracle never
    sees a container: it slices the same characters into frames and
    computes the stats at 64× pixel weight. A demux offset slip, a
    frame-count/index mismatch, a sampling off-by-one or any JPEG
    regression breaks the hash.

    Scale shape: one Arrow-batched encode pass and one demux+decode
    pass at media grain — sampled-out frames never reach the entropy
    decoder; pixels never leave their task; output is (media, frame)
    grain, bounded by frames/3."""
    from sunat_rree_demo_spark.operators.multimodal import (
        video_frame_stats,
    )

    fs = video_frame_stats(_video_media(spark, sf_dir), every_n=3)
    return _pixel_stats(
        fs, "n_pixels",
        F.col("frame_no").cast("bigint").alias("frame_no"),
        "fps", "width", "height",
    ).orderBy("doc_id", "frame_no")


@register(
    "q227_video_shot_cuts",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, cap=_VID_NF * _VID_BPR)},
    g AS (
      SELECT doc_id, pos // {_VID_BPR} AS f,
             (1000 * 64 * sum(val)) // (64 * {_VID_BPR}) AS m
      FROM v GROUP BY 1, 2
    ),
    l AS (
      SELECT doc_id, f, m,
             lag(f) OVER w AS pf, lag(m) OVER w AS pm
      FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST(pf AS BIGINT) AS prev_frame_no,
           CAST(abs(m - pm) AS BIGINT) AS delta_milli
    FROM l WHERE pm IS NOT NULL AND abs(m - pm) >= {_CUT_T}
    ORDER BY doc_id, frame_no
    """,
    tags=("media", "multimodal", "video", "window"),
)
def q227_video_shot_cuts(spark, sf_dir):
    """Shot-boundary detection over the decoded video frames — the
    scene-segmentation step that picks WHICH frames a training
    pipeline keeps (one per shot beats one per second on redundant
    footage): consecutive frames whose mean brightness jumps by at
    least {_CUT_T} milli-units are cut points. The per-frame mean is
    carried as an exact integer (1000·sum div n — no float mean ever
    materializes), so the threshold compare is deterministic
    cross-engine; the oracle recomputes frame means from the character
    slices and applies the same lag/threshold. Unlike q226 this
    decodes EVERY frame (every_n=1), so the two queries together pin
    both sampler settings.

    Scale shape: the decode pass, then a pure-JVM lag window
    partitioned by media — bounded by frames per video, no
    corpus-wide state."""
    from sunat_rree_demo_spark.operators.multimodal import (
        shot_boundaries,
        video_frame_stats,
    )

    fs = video_frame_stats(_video_media(spark, sf_dir), every_n=1)
    return (
        shot_boundaries(fs, threshold_milli=_CUT_T)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("frame_no").cast("bigint").alias("frame_no"),
            F.col("prev_frame_no").cast("bigint").alias("prev_frame_no"),
            F.col("delta_milli").cast("bigint").alias("delta_milli"),
        )
        .orderBy("doc_id", "frame_no")
    )


#: q228 stereo mapping: left = (a−79)·512, right = (90−a)·256 — the
#: channel SUM is always 256·(a−68), so the operator's integer mono
#: mix ((l+r) div 2 = 128·(a−68)) has a closed form with no floor
#: ambiguity, while the side channel (l−r = 768a−63488) GENUINELY
#: overflows int16: every char below '(' (the space in virtually any
#: doc) drives it under −32768, and '~' pushes it past +32767 — so
#: the 17-bit side subframes carry real 17-bit VALUES, not just the
#: wider bit layout (review finding r8: the first cut's ±16640 range
#: fit int16, weakening the claim to layout-only)
_ST_L, _ST_R = 512, 256


@register(
    "q228_stereo_flac_energy",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 68) * 128 AS smp FROM v),
    {_FRAME_ENERGY_SQL}
    """,
    tags=("media", "multimodal", "codec", "audio"),
)
def q228_stereo_flac_energy(spark, sf_dir):
    """Frame energy through REAL **stereo-decorrelated FLAC** (r8 —
    closes the decoder's stereo gate): each document's chars become a
    genuine two-channel stream (left = (a−79)·``_ST_L``, right =
    (90−a)·``_ST_R``, i.e. ·512 and ·256), and the channel ASSIGNMENT varies per doc —
    independent, left/side, side/right, mid/side by doc_id % 4 — so
    one query exercises all three decorrelation reconstructions plus
    the 17-bit SIDE-channel subframes with genuinely >int16 values
    (side = 768a − 63488: any char below '(' — the space in virtually
    every doc — lands under −32768, '~' past +32767). The decoded
    stereo is mono-mixed by the operator's exact integer mean, whose
    closed form (128·(a−68), the channel sum is always even) the
    oracle computes
    straight from the characters: a side-channel bit-depth slip, a
    swapped reconstruction or a mid rounding bug breaks the hash.
    LPC-form subframes (odd doc_ids) and Rice partition order 2
    (doc_id % 5 == 0) ride along as in q216.

    Scale shape: identical to q216 — fan_out → Arrow-batched encode →
    one decode+energy pass, frame-grain output, no shuffle before the
    output sort."""
    from sunat_rree_demo_spark.operators.multimodal import encode_flac_pcm16
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    _modes = ("indep", "left_side", "right_side", "mid_side")

    def mk(mid: int, s: str) -> bytes:
        a = np.frombuffer(s.encode("ascii"), np.uint8) \
            .astype(np.int64)
        st = np.stack([(a - 79) * _ST_L, (90 - a) * _ST_R], axis=1)
        return encode_flac_pcm16(
            st, rate=_WAV_RATE, blocksize=256,
            lpc=bool(mid % 2),
            p_order=2 if mid % 5 == 0 else 0,
            channel_mode=_modes[mid % 4])

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)), mk)
    return _frame_energy(media, _WAV_FRAME_MS)


#: q229 TIFF-LZW width — prime, distinct from q217's 23 and every
#: other raster device so a routing mix-up can never hash-match
_TIFF_LZW_W = 19


@register(
    "q229_tiff_lzw_stats",
    oracle=f"""
    WITH {_ascii_sql(_TIFF_LZW_W)}
    SELECT doc_id,
           CAST({_TIFF_LZW_W} AS INT) AS width,
           CAST(n // {_TIFF_LZW_W} AS INT) AS height,
           CAST(n AS BIGINT) AS n_samples,
           CAST((2 * sum(val) * 10000 + n) // (2 * n) AS DOUBLE)
             / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q229_tiff_lzw_stats(spark, sf_dir):
    """Pixel statistics through a REAL **LZW-compressed TIFF**
    encode→decode round trip (r8 — closes the TIFF decoder's LZW
    gate, the compression real scanned TIFFs actually ship): each
    document becomes a Compression-5 TIFF with MSB-first
    variable-width LZW codes and the EarlyChange width schedule, with
    Predictor 2 horizontal differencing for even doc_ids and
    big-endian byte order when doc_id % 3 == 0 — so one query
    exercises the code-width ladder, the predictor inversion and both
    IFD byte orders through the same strip walk as q217. The oracle
    computes the stats from the characters; an EarlyChange slip, a
    KwKwK mis-handle or a differencing bug breaks the hash.

    Scale shape: identical to q186/q217 — two Arrow-batched
    mapInPandas passes at document grain, no shuffle before the
    doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_tiff_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _TIFF_LZW_W)),
                    lambda mid, s: encode_tiff_gray(
                        s.encode("ascii"), _TIFF_LZW_W,
                        lzw=True,
                        predictor=(mid % 2 == 0),
                        big_endian=(mid % 3 == 0)))
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q230 grid: 9×8 chars — the smallest grid dHash accepts, so every
#: cell is ONE character and the oracle's hash is adjacent-char
#:  comparisons; five formats re-encode the same picture
_DD_W, _DD_H = 9, 8


@register(
    "q230_media_dedup_funnel",
    oracle=f"""
    WITH {_ascii_sql(min_len=_DD_W * _DD_H, cap=_DD_W * _DD_H)},
    d AS (
      SELECT doc_id, s,
             array_to_string(list_transform(range(0, {_DD_H}), r ->
               printf('%02x', CAST(list_sum(list_transform(
                 range(0, {_DD_W} - 1), c ->
                 CASE WHEN ascii(substr(s, r * {_DD_W} + c + 1, 1))
                           < ascii(substr(s, r * {_DD_W} + c + 2, 1))
                      THEN 128 // (2 ** c) ELSE 0 END)) AS INT))), '')
               AS dhash
      FROM c
    ),
    g AS (
      SELECT dhash, min(doc_id) AS keep_doc FROM d GROUP BY dhash
    ),
    m AS (
      SELECT doc_id, dhash, k,
             CASE ((doc_id % 5) + k) % 5
               WHEN 0 THEN 'image/png'  WHEN 1 THEN 'image/jpeg'
               WHEN 2 THEN 'image/gif'  WHEN 3 THEN 'image/bmp'
               ELSE 'image/tiff' END AS media_type
      FROM d, (SELECT unnest(range(0, 2)) AS k)
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN k = 0 AND doc_id = g.keep_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM m JOIN g USING (dhash)
    GROUP BY media_type ORDER BY media_type
    """,
    tags=("media", "multimodal", "dedup", "funnel"),
)
def q230_media_dedup_funnel(spark, sf_dir):
    """The END-TO-END multimodal dedup funnel in one hash — the image
    analogue of q204's text funnel: every document's 9×8 character
    grid ships TWICE, re-encoded in two DIFFERENT genuine formats
    (PNG/JPEG/GIF/BMP/TIFF rotating by doc and copy — the JPEG copy is
    even a different RESOLUTION, 72×64 uniform blocks), Spark decodes
    all five codecs for real, perceptual-dHashes the pixels, folds
    duplicates by hash with a min-id election, and reports the
    per-format survivor census. The device rides dHash's exactness
    contract: integer channel-sum luminance and cross-multiplied
    comparisons make the hash IDENTICAL across gray-vs-RGB expansion
    (GIF/BMP 3×) and block upscaling (JPEG 64×/spatial 8×), so the
    oracle's hash is simply the adjacent-character comparison bits —
    any decoder, luminance, grid or election slip breaks the census.
    Cross-doc hash collisions are handled identically on both sides
    (global min election), not assumed away.

    Scale shape: one Arrow-batched encode pass (two rows per doc), one
    decode+hash pass, then a census over 16-byte keys — pixels never
    shuffle; the election shuffles hash-grain rows only."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_bmp_gray,
        encode_gif_gray,
        encode_jpeg_gray_blocks,
        encode_png_gray,
        encode_tiff_gray,
        image_dhash,
        sniff_media_type,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    n = _DD_W * _DD_H
    src = fan_out(_ascii_docs(spark, sf_dir, min_len=n, cap=n))

    _enc = (
        lambda b: encode_png_gray(b, _DD_W),
        lambda b: encode_jpeg_gray_blocks(b, _DD_W),
        lambda b: encode_gif_gray(b, _DD_W),
        lambda b: encode_bmp_gray(b, _DD_W),
        lambda b: encode_tiff_gray(b, _DD_W),
    )

    def encode(it):
        import pandas as pd

        for pdf in it:
            ids, docs, copies, types, payloads = [], [], [], [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                b = s.encode("ascii")
                for k in (0, 1):
                    p = _enc[(int(did) % 5 + k) % 5](b)
                    ids.append(int(did) * 2 + k)
                    docs.append(int(did))
                    copies.append(k)
                    types.append(sniff_media_type(p))
                    payloads.append(p)
            yield pd.DataFrame({
                "media_id": ids, "doc_id": docs, "copy_k": copies,
                "media_type": types, "content": payloads})

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("copy_k", T.IntegerType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    hashes = image_dhash(media.select("media_id", "content"))
    return _survivor_census(media, hashes.select("media_id", "dhash"),
                            "media_type", key="dhash")


#: q231 variants: the same signal in three genuine containers; the
#: rotation by (doc_id + k) spreads survivorship across variants
_AF_VARIANTS = ("wav", "flac", "flac_ms")


@register(
    "q231_audio_dedup_funnel",
    oracle=f"""
    WITH {_ascii_sql(min_len=_WAV_SPF + 1)},
    p AS (SELECT doc_id, pos, (val - 79) * 256 AS smp FROM v),
    f AS (
      SELECT doc_id,
             CAST(pos // {_WAV_SPF} AS BIGINT) AS frame_no,
             sqrt(CAST(sum(CAST(smp AS BIGINT) * smp) AS DOUBLE)
                  / count(*)) AS rms
      FROM p GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, frame_no,
             CASE WHEN rms < lead(rms) OVER w THEN 1 ELSE 0 END AS b,
             lead(rms) OVER w AS nxt
      FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)
    ),
    byt AS (
      SELECT doc_id, frame_no // 8 AS bi,
             sum(b * (1 << CAST(7 - frame_no % 8 AS INT))) AS byte
      FROM d WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY bi) AS fp
      FROM byt GROUP BY doc_id
    ),
    g AS (SELECT fp.fp, min(doc_id) AS keep_doc FROM fp GROUP BY 1),
    m AS (
      SELECT doc_id, fp, k,
             CASE (doc_id + k) % 3
               WHEN 0 THEN 'wav' WHEN 1 THEN 'flac'
               ELSE 'flac_ms' END AS variant
      FROM fp, (SELECT unnest(range(0, 3)) AS k)
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN k = 0 AND doc_id = g.keep_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM m JOIN g USING (fp)
    GROUP BY variant ORDER BY variant
    """,
    tags=("media", "multimodal", "audio", "dedup", "funnel"),
)
def q231_audio_dedup_funnel(spark, sf_dir):
    """The cross-CONTAINER audio dedup funnel — q230's audio twin and
    the duplicate-recording story end to end: every document's signal
    ships THREE times (PCM WAV, mono FLAC, and a dup-channel mid/side
    STEREO FLAC whose exact integer mono mix reproduces the same
    samples), Spark decodes all three for real, fingerprints the
    frame-energy delta signs (q223's device), folds duplicates by
    fingerprint with a min-id election, and reports the per-variant
    survivor census. Lossless decode is the load-bearing claim: one
    RMS double differing anywhere in any container breaks the fold.
    The copy-variant rotation by (doc_id + k) % 3 spreads
    survivorship across variants; cross-doc fingerprint collisions
    (common for short clips) are elected identically on both sides.

    Scale shape: one encode pass (three rows per doc), one
    decode+energy pass, a media-grain fingerprint window/aggregate,
    then a census over short hex keys — samples never shuffle."""
    from sunat_rree_demo_spark.operators.multimodal import (
        delta_sign_fingerprint,
        encode_flac_pcm16,
        encode_wav_pcm16,
        pcm_frame_energy,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    src = fan_out(_ascii_docs(spark, sf_dir, min_len=_WAV_SPF + 1))

    def encode(it):
        import pandas as pd

        def mk(did: int, s: str, k: int) -> bytes:
            smp = (np.frombuffer(s.encode("ascii"), np.uint8)
                   .astype(np.int64) - 79) * 256
            variant = _AF_VARIANTS[(did + k) % 3]
            if variant == "wav":
                return encode_wav_pcm16(smp, rate=_WAV_RATE)
            if variant == "flac":
                return encode_flac_pcm16(smp, rate=_WAV_RATE)
            return encode_flac_pcm16(
                np.stack([smp, smp], axis=1), rate=_WAV_RATE,
                channel_mode="mid_side")

        for pdf in it:
            ids, docs, variants, payloads = [], [], [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                for k in (0, 1, 2):
                    ids.append(int(did) * 3 + k)
                    docs.append(int(did))
                    variants.append(_AF_VARIANTS[(int(did) + k) % 3])
                    payloads.append(mk(int(did), s, k))
            yield pd.DataFrame({
                "media_id": ids, "doc_id": docs,
                "variant": variants, "content": payloads})

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    fps = delta_sign_fingerprint(
        pcm_frame_energy(media.select("media_id", "content"),
                         frame_ms=_WAV_FRAME_MS),
        "media_id", "frame_no", "rms")
    return _survivor_census(media, fps, "variant")


#: q232 grid: 13 blocks per row (width 104 — distinct from every
#: other JPEG device), 26-char cap → at most a 2-block-row image
_OR_BPR = 13


@register(
    "q232_oriented_dims",
    oracle=f"""
    WITH {_ascii_sql(_OR_BPR, cap=_OR_BPR * 2)},
    g AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  ELSE CAST(doc_id % 8 + 1 AS INT) END AS orientation,
             CAST({_OR_BPR} * 8 AS INT) AS raw_w,
             CAST((n // {_OR_BPR}) * 8 AS INT) AS raw_h,
             CAST(64 * n AS BIGINT) AS n_pixels,
             CAST(min(val) AS INT) AS min_val,
             CAST(max(val) AS INT) AS max_val
      FROM v GROUP BY doc_id, n
    )
    SELECT doc_id, orientation, raw_w, raw_h,
           CASE WHEN orientation >= 5 THEN raw_h ELSE raw_w END
             AS disp_w,
           CASE WHEN orientation >= 5 THEN raw_w ELSE raw_h END
             AS disp_h,
           n_pixels, min_val, max_val
    FROM g ORDER BY doc_id
    """,
    tags=("media", "multimodal", "metadata", "codec"),
)
def q232_oriented_dims(spark, sf_dir):
    """Orientation-corrected display dimensions — the metadata×pixels
    COMPOSITION a real image pipeline runs (EXIF orientations 5-8
    mean the stored pixel grid is TRANSPOSED relative to the display;
    resize/crop logic that ignores this trains on sideways images):
    each document's JPEG carries a planted APP1/EXIF orientation
    (none for doc_id % 5 == 0 — the common EXIF-less cohort), and the
    query joins the real pixel decode's raw dimensions with the real
    EXIF walk's orientation to emit both raw and display dims. NULL
    orientation keeps raw dims (SQL's NULL >= 5 is false on both
    engines by the same three-valued logic). A marker-scan slip, a
    transpose-direction bug or an EXIF-skip regression in the pixel
    path breaks the hash.

    Scale shape: ONE encode pass feeds both Arrow-batched extractors;
    the join is media-grain; no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_gray_blocks,
        image_exif_meta,
        image_pixel_stats,
        insert_exif_orientation,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    def mk(mid: int, s: str) -> bytes:
        j = encode_jpeg_gray_blocks(s.encode("ascii"), _OR_BPR)
        if mid % 5 == 0:
            return j
        return insert_exif_orientation(j, mid % 8 + 1)

    # no cache: the 26-char encode is cheaper than a persisted
    # intermediate (the q225 pattern — both extractors re-run it)
    media = _encode(
        fan_out(_ascii_docs(spark, sf_dir, _OR_BPR, cap=_OR_BPR * 2)), mk)
    stats = image_pixel_stats(media)
    exif = image_exif_meta(media)
    joined = stats.join(exif, "media_id")
    swap = F.col("orientation") >= 5
    return (
        joined.select(
            F.col("media_id").alias("doc_id"),
            "orientation",
            F.col("width").alias("raw_w"),
            F.col("height").alias("raw_h"),
            F.when(swap, F.col("height")).otherwise(F.col("width"))
            .alias("disp_w"),
            F.when(swap, F.col("width")).otherwise(F.col("height"))
            .alias("disp_h"),
            F.col("n_samples").cast("bigint").alias("n_pixels"),
            "min_val", "max_val",
        )
        .orderBy("doc_id")
    )


#: q233 width — 11, distinct from every other raster device width
_BF_W = 11


@register(
    "q233_bmp_bitfields_stats",
    oracle=f"""
    WITH {_ascii_sql(_BF_W)},
    ch AS (
      SELECT doc_id, n,
             CASE doc_id % 3 WHEN 2 THEN val ELSE val // 8 END AS r,
             CASE doc_id % 3 WHEN 0 THEN val // 2 WHEN 1 THEN val // 4
                    ELSE 255 - val END AS g,
             CASE doc_id % 3 WHEN 2 THEN val // 2
                    ELSE (127 - val) // 4 END AS b
      FROM v
    )
    SELECT doc_id,
           CAST({_BF_W} AS INT) AS width,
           CAST(n // {_BF_W} AS INT) AS height,
           CAST(3 * n AS BIGINT) AS n_samples,
           CAST((2 * sum(r + g + b) * 10000 + 3 * n)
                // (2 * 3 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(least(r, g, b)) AS INT) AS min_val,
           CAST(max(greatest(r, g, b)) AS INT) AS max_val
    FROM ch GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q233_bmp_bitfields_stats(spark, sf_dir):
    """Pixel statistics through REAL **bitfield BMP** decode (r8 —
    closes the BMP decoder's 16-bit gate): each document becomes a
    16/32-bit BI_BITFIELDS bitmap whose mask layout varies by cohort —
    565 with an explicit mask table, 555 through the bare comp-0
    16-bpp default (no table in the file), and 32-bit 8888 — with
    per-channel levels derived from the characters in closed form
    (r = a div 8, g = a div 2 …, by mode). The decoder reports RAW
    stored levels (a 5-bit red is 0..31 — the sub-byte-PNG policy),
    so the oracle computes the same stats straight from the
    characters; a mask-shift slip, a default-555 mix-up or a stride
    bug breaks the hash.

    Scale shape: identical to q186/q213 — two Arrow-batched
    mapInPandas passes at document grain, no shuffle before the
    doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_bmp_bitfields,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(mid: int, s: str) -> bytes:
        a = (np.frombuffer(s.encode("ascii"), np.uint8)
             .astype(np.int64).reshape(-1, _BF_W))
        m = mid % 3
        if m == 0:
            ch = np.stack([a // 8, a // 2, (127 - a) // 4], axis=2)
            return encode_bmp_bitfields(
                ch, (0xF800, 0x07E0, 0x001F), 16, explicit=True)
        if m == 1:
            ch = np.stack([a // 8, a // 4, (127 - a) // 4], axis=2)
            return encode_bmp_bitfields(
                ch, (0x7C00, 0x03E0, 0x001F), 16, explicit=False)
        ch = np.stack([a, 255 - a, a // 2], axis=2)
        return encode_bmp_bitfields(
            ch, (0xFF0000, 0x00FF00, 0x0000FF), 32, explicit=True)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _BF_W)), mk)
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height").orderBy("doc_id")


#: q234 geometry: 17 blocks/row (width 136, distinct from every other
#: JPEG device); restart every 1..5 blocks by doc cohort
_RST_BPR = 17


@register(
    "q234_jpeg_restart_stats",
    oracle=f"""
    WITH {_ascii_sql(_RST_BPR)}
    SELECT doc_id,
           CAST({_RST_BPR} * 8 AS INT) AS width,
           CAST((n // {_RST_BPR}) * 8 AS INT) AS height,
           CAST(64 * n AS BIGINT) AS n_pixels,
           CAST((2 * 64 * sum(val) * 10000 + 64 * n)
                // (2 * 64 * n) AS DOUBLE) / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM v GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec"),
)
def q234_jpeg_restart_stats(spark, sf_dir):
    """Pixel statistics through baseline JPEGs segmented by RESTART
    MARKERS (r8 — the decoder's RSTn machinery was unit-tested but
    had no oracle-checked query): the q201 uniform-block device with
    a DRI of 1..5 blocks varying by doc cohort, so every stream is
    cut into many entropy segments and the DC predictor resets at
    each RSTn boundary. DC prediction is what makes restarts
    load-bearing here: a decoder that failed to reset predictors (or
    mis-cut a segment at a fill byte) would reconstruct wrong block
    values after every marker, and the per-character oracle breaks
    the hash. Restart interval 1 is the pathological
    marker-after-every-MCU stream — real encoders emit it for error
    resilience on noisy channels.

    Scale shape: identical to q201 — two Arrow-batched mapInPandas
    passes at document grain, no shuffle before the doc-grain sort."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_coeff_blocks,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(mid: int, s: str) -> bytes:
        vals = np.frombuffer(s.encode("ascii"), np.uint8)
        blocks = np.zeros((len(vals), 64), dtype=np.int64)
        blocks[:, 0] = 8 * (vals.astype(np.int64) - 128)
        return encode_jpeg_coeff_blocks(
            blocks, _RST_BPR, restart_interval=1 + mid % 5)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _RST_BPR)), mk)
    return _pixel_stats(image_pixel_stats(media), "n_pixels",
                        "width", "height").orderBy("doc_id")


#: q235 variants: the same footage re-muxed at a different frame rate
#: AND a different JPEG mode per copy; rotation spreads survivorship
_VF_VARIANTS = ("mjpeg_base", "mjpeg_prog")


@register(
    "q235_video_dedup_funnel",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, min_len=2 * _VID_BPR,
                     cap=_VID_NF * _VID_BPR)},
    g0 AS (
      SELECT doc_id, pos // {_VID_BPR} AS f,
             (1000 * 64 * sum(val)) // (64 * {_VID_BPR}) AS m
      FROM v GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, f,
             CASE WHEN m < lead(m) OVER w THEN 1 ELSE 0 END AS b,
             lead(m) OVER w AS nxt
      FROM g0 WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    byt AS (
      SELECT doc_id, f // 8 AS bi,
             sum(b * (1 << CAST(7 - f % 8 AS INT))) AS byte
      FROM d WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY bi) AS fp
      FROM byt GROUP BY doc_id
    ),
    g AS (SELECT fp.fp, min(doc_id) AS keep_doc FROM fp GROUP BY 1),
    m AS (
      SELECT doc_id, fp, k,
             CASE (doc_id + k) % 2 WHEN 0 THEN 'mjpeg_base'
                  ELSE 'mjpeg_prog' END AS variant
      FROM fp, (SELECT unnest(range(0, 2)) AS k)
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN k = 0 AND doc_id = g.keep_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM m JOIN g USING (fp)
    GROUP BY variant ORDER BY variant
    """,
    tags=("media", "multimodal", "video", "dedup", "funnel"),
)
def q235_video_dedup_funnel(spark, sf_dir):
    """The VIDEO near-dup funnel — the fourth modality's dedup story,
    completing text (q204), image (q230) and audio (q231): every
    document's footage ships TWICE as a genuine Motion-JPEG AVI with
    BOTH the container and the codec varied per copy — different frame
    rates (6 vs 9 fps) and different JPEG modes (baseline SOF0 vs
    progressive SOF2 frames, bit-identical pixels by the codec
    contract) — Spark demuxes and decodes every frame for real,
    fingerprints the frame-brightness delta signs
    (operators.multimodal.video_fingerprint), folds duplicates by
    fingerprint with a min-id election, and reports the per-variant
    survivor census. One decoded pixel differing between the baseline
    and progressive paths, anywhere in any frame, changes a frame
    mean and breaks the fold. Cross-doc fingerprint collisions
    (short clips) are elected identically on both sides.

    Scale shape: one encode pass (two rows per doc), one demux+decode
    pass, a media-grain fingerprint window, then a census over short
    hex keys — pixels never shuffle."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_gray_blocks,
        encode_jpeg_progressive,
        video_fingerprint,
        video_frame_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    src = fan_out(_ascii_docs(spark, sf_dir, _VID_BPR,
                              min_len=2 * _VID_BPR,
                              cap=_VID_NF * _VID_BPR))

    def encode(it):
        import pandas as pd

        def frames_of(b: bytes, prog: bool) -> list:
            out = []
            for k in range(0, len(b), _VID_BPR):
                seg = b[k:k + _VID_BPR]
                if prog:
                    blocks = np.zeros((len(seg), 64), np.int64)
                    blocks[:, 0] = 8 * (np.frombuffer(seg, np.uint8)
                                        .astype(np.int64) - 128)
                    out.append(encode_jpeg_progressive(
                        [(blocks, 1, 1)], _VID_BPR))
                else:
                    out.append(encode_jpeg_gray_blocks(seg, _VID_BPR))
            return out

        for pdf in it:
            ids, docs, variants, payloads = [], [], [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                b = s.encode("ascii")
                for k in (0, 1):
                    prog = (int(did) + k) % 2 == 1
                    ids.append(int(did) * 2 + k)
                    docs.append(int(did))
                    variants.append(_VF_VARIANTS[(int(did) + k) % 2])
                    payloads.append(encode_avi_mjpeg(
                        frames_of(b, prog), _VID_BPR * 8, 8,
                        fps=6 if k == 0 else 9))
            yield pd.DataFrame({
                "media_id": ids, "doc_id": docs,
                "variant": variants, "content": payloads})

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    fps = video_fingerprint(
        video_frame_stats(media.select("media_id", "content"),
                          every_n=1))
    return _survivor_census(media, fps, "variant")


#: q236 GIF-animation device: 22 chars per frame on an 11x2 canvas
#: (width 11 — distinct from every other raster device), <=20 frames,
#: per-doc GCE delay 4..8 cs so the fps rational round trip varies
_GIFA_W = 11
_GIFA_SPF = 22
_GIFA_NF = 20


@register(
    "q236_gif_animation_stats",
    oracle=f"""
    WITH {_ascii_sql(_GIFA_SPF, min_len=2 * _GIFA_SPF,
                     cap=_GIFA_NF * _GIFA_SPF)},
    fv AS (SELECT doc_id, pos // {_GIFA_SPF} AS f, val FROM v)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST((200 + 4 + doc_id % 5)
                // (2 * (4 + doc_id % 5)) AS INT) AS fps,
           CAST({_GIFA_W} AS INT) AS width,
           CAST(2 AS INT) AS height,
           CAST(3 * {_GIFA_SPF} AS BIGINT) AS n_samples,
           CAST((2 * 3 * sum(val) * 10000 + 3 * {_GIFA_SPF})
                // (2 * 3 * {_GIFA_SPF}) AS DOUBLE) / 10000.0
             AS mean_4dp,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM fv WHERE f % 2 = 0
    GROUP BY doc_id, f ORDER BY doc_id, frame_no
    """,
    tags=("media", "multimodal", "codec", "video", "gif"),
)
def q236_gif_animation_stats(spark, sf_dir):
    """Sampled-frame pixel statistics through a REAL animated-GIF
    encode→decode round trip (r9 — the last stdlib-feasible codec gap:
    the r8 GIF decoder stopped at the poster frame; now every image
    block decodes, composites under its Graphic Control Extension and
    snapshots the full canvas): every second frame of each document's
    animation is aggregated over its composited RGB samples, and the
    fps recovered from the per-doc GCE delay (4–8 cs, a half-up
    rational) rides along. The oracle computes the same stats straight
    from the character slices at 3× sample weight (each gray char
    becomes an (v,v,v) RGB pixel). An LZW slip, a disposal/compositing
    bug, a delay→fps rounding error or a sampling off-by-one breaks
    the hash.

    Scale shape: one Arrow-batched encode pass and one decode pass at
    media grain — GIF compositing is a sequential disposal chain, so
    (unlike the AVI path) sampling bounds only the OUTPUT rows, not
    the entropy decode; pixels never leave their task.

    Reference parity: the reference has no media handling; this is
    the multimodal extension surface (SURVEY.md §7.4)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_gif_animation,
        video_frame_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    def mk(mid: int, s: str) -> bytes:
        b = s.encode("ascii")
        frames = [b[k:k + _GIFA_SPF]
                  for k in range(0, len(b), _GIFA_SPF)]
        return encode_gif_animation(frames, _GIFA_W,
                                    delay_cs=4 + mid % 5)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _GIFA_SPF,
                                        min_len=2 * _GIFA_SPF,
                                        cap=_GIFA_NF * _GIFA_SPF)), mk)
    fs = video_frame_stats(media, every_n=2)
    return _pixel_stats(
        fs, "n_samples",
        F.col("frame_no").cast("bigint").alias("frame_no"),
        "fps", "width", "height", mean_col="mean_4dp",
    ).orderBy("doc_id", "frame_no")


@register(
    "q238_gif_video_dedup",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, min_len=2 * _VID_BPR,
                     cap=_VID_NF * _VID_BPR)},
    g0 AS (
      SELECT doc_id, pos // {_VID_BPR} AS f,
             (1000 * sum(val)) // {_VID_BPR} AS m
      FROM v GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, f,
             CASE WHEN m < lead(m) OVER w THEN 1 ELSE 0 END AS b,
             lead(m) OVER w AS nxt
      FROM g0 WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    byt AS (
      SELECT doc_id, f // 8 AS bi,
             sum(b * (1 << CAST(7 - f % 8 AS INT))) AS byte
      FROM d WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY bi) AS fp
      FROM byt GROUP BY doc_id
    ),
    g AS (SELECT fp.fp, min(doc_id) AS keep_doc FROM fp GROUP BY 1),
    m AS (
      SELECT doc_id, fp, k,
             CASE k WHEN 0 THEN 'avi' ELSE 'gif' END AS variant
      FROM fp, (SELECT unnest(range(0, 2)) AS k)
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN k = 0 AND doc_id = g.keep_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM m JOIN g USING (fp)
    GROUP BY variant ORDER BY variant
    """,
    tags=("media", "multimodal", "video", "gif", "dedup", "funnel"),
)
def q238_gif_video_dedup(spark, sf_dir):
    """Cross-CONTAINER video dedup (r9): every document's footage
    ships once as a Motion-JPEG AVI (5 fps, JPEG frames at 64×
    sample weight) and once as an animated GIF (7 cs ticks, composited
    RGB frames at 3× weight) — different container, different codec,
    different frame rate, different color model. The frame-sequence
    fingerprint (operators.multimodal.video_fingerprint) is invariant
    to ALL of that by construction: the exact-integer milli-mean
    (1000·sum div n) cancels both sample weights, and the delta-sign
    bits ignore rate, so both muxes of a doc fold to ONE key, the
    min-id election keeps the AVI, and the per-variant survivor
    census is the proof. The oracle never sees a container: it
    computes the fingerprint hex straight from the character slices.
    One decoded pixel differing between the JPEG and the
    LZW/compositing path anywhere breaks the fold.

    Scale shape: one encode pass (two rows per doc), one demux+decode
    pass, a media-grain fingerprint window, then a census over short
    hex keys — pixels never shuffle (the q235 shape with the second
    container swapped in)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_gif_animation,
        encode_jpeg_gray_blocks,
        video_fingerprint,
        video_frame_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    src = fan_out(_ascii_docs(spark, sf_dir, _VID_BPR,
                              min_len=2 * _VID_BPR,
                              cap=_VID_NF * _VID_BPR))

    def encode(it):
        import pandas as pd

        for pdf in it:
            ids, variants, payloads = [], [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                b = s.encode("ascii")
                chunks = [b[k:k + _VID_BPR]
                          for k in range(0, len(b), _VID_BPR)]
                ids.append(int(did) * 2)
                variants.append("avi")
                payloads.append(encode_avi_mjpeg(
                    [encode_jpeg_gray_blocks(ch, _VID_BPR)
                     for ch in chunks], _VID_BPR * 8, 8, fps=5))
                ids.append(int(did) * 2 + 1)
                variants.append("gif")
                payloads.append(encode_gif_animation(
                    chunks, _VID_BPR, delay_cs=7))
            yield pd.DataFrame({
                "media_id": ids, "variant": variants,
                "content": payloads})

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    fps = video_fingerprint(
        video_frame_stats(media.select("media_id", "content"),
                          every_n=1))
    return _survivor_census(media, fps, "variant")


#: q237 mixed-corpus device: 72 printable chars per doc; modality by
#: doc_id % 4; audio at rate 250 (SPF 5 -> 15 frames, 14 fp bits);
#: text docs whose chars collide with a container magic are excluded
#: from the device so the raw-bytes copy can never mis-sniff
_MC_LEN = 72
_MC_RATE = 250
_MC_SPF = _MC_RATE * 20 // 1000  # pcm_frame_energy default frame_ms


@register(
    "q237_media_curation_summary",
    oracle=f"""
    WITH {_ascii_sql(min_len=_MC_LEN, cap=_MC_LEN)},
    img AS (
      SELECT doc_id,
             'img:' || array_to_string(list_transform(range(0, 8), r ->
               printf('%02x', CAST(list_sum(list_transform(
                 range(0, 8), c ->
                 CASE WHEN ascii(substr(s, r * 9 + c + 1, 1))
                           < ascii(substr(s, r * 9 + c + 2, 1))
                      THEN 128 // (2 ** c) ELSE 0 END)) AS INT))), '')
               AS dkey
      FROM c WHERE doc_id % 4 = 0
    ),
    av AS (
      SELECT doc_id, pos, (val - 83) * 256 AS smp
      FROM v WHERE doc_id % 4 = 1
    ),
    af AS (
      SELECT doc_id, CAST(pos // {_MC_SPF} AS BIGINT) AS f,
             sqrt(CAST(sum(CAST(smp AS BIGINT) * smp) AS DOUBLE)
                  / count(*)) AS rms
      FROM av GROUP BY 1, 2
    ),
    ad AS (
      SELECT doc_id, f,
             CASE WHEN rms < lead(rms) OVER w THEN 1 ELSE 0 END AS b,
             lead(rms) OVER w AS nxt
      FROM af WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    abyt AS (
      SELECT doc_id, f // 8 AS bi,
             sum(b * (1 << CAST(7 - f % 8 AS INT))) AS byte
      FROM ad WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    afp AS (
      SELECT doc_id,
             'aud:' || string_agg(printf('%02x', CAST(byte AS BIGINT)),
                                  '' ORDER BY bi) AS dkey
      FROM abyt GROUP BY doc_id
    ),
    vg AS (
      SELECT doc_id, CAST(pos // {_VID_BPR} AS BIGINT) AS f,
             (1000 * sum(val)) // {_VID_BPR} AS m
      FROM v WHERE doc_id % 4 = 2 GROUP BY 1, 2
    ),
    vd AS (
      SELECT doc_id, f,
             CASE WHEN m < lead(m) OVER w THEN 1 ELSE 0 END AS b,
             lead(m) OVER w AS nxt
      FROM vg WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    vbyt AS (
      SELECT doc_id, f // 8 AS bi,
             sum(b * (1 << CAST(7 - f % 8 AS INT))) AS byte
      FROM vd WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    vfp AS (
      SELECT doc_id,
             'vid:' || string_agg(printf('%02x', CAST(byte AS BIGINT)),
                                  '' ORDER BY bi) AS dkey
      FROM vbyt GROUP BY doc_id
    ),
    txt AS (
      SELECT doc_id, 'txt:' || sha256(s) AS dkey
      FROM c
      WHERE doc_id % 4 = 3
        AND NOT (s LIKE 'BM%' OR s LIKE 'GIF8%' OR s LIKE 'fLaC%'
                 OR s LIKE 'RIFF%' OR substr(s, 5, 4) = 'ftyp')
    ),
    keys AS (
      SELECT * FROM img UNION ALL SELECT * FROM afp
      UNION ALL SELECT * FROM vfp UNION ALL SELECT * FROM txt
    ),
    m AS (
      SELECT doc_id * 2 + k AS media_id, dkey,
             CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  WHEN 2 THEN 'video' ELSE 'text' END AS modality
      FROM keys, (SELECT unnest(range(0, 2)) AS k)
    ),
    g AS (SELECT dkey, min(media_id) AS keep FROM m GROUP BY 1)
    SELECT modality,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN media_id = g.keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_survivors,
           CAST(0 AS BIGINT) AS n_unkeyed
    FROM m JOIN g USING (dkey)
    GROUP BY modality ORDER BY modality
    """,
    tags=("media", "multimodal", "curation", "dedup", "end-to-end"),
)
def q237_media_curation_summary(spark, sf_dir):
    """THE composed multimodal curation job (r9 — the media analogue
    of q204's text funnel, closing the r8 verdict's top integration
    gap): a MIXED corpus where every document ships two genuine copies
    in one modality family — PNG+BMP images, WAV+FLAC audio (rate 250,
    so the energy fingerprint carries 14 bits over 15 frames),
    MJPEG-AVI + animated-GIF footage, or raw text bytes — flows
    through ``plans.curate_media``: magic-byte routing (with the
    animated-GIF-is-video probe), four REAL per-modality dedup keyers
    (dHash / energy-delta fp / frame-brightness fp / sha-256), one
    unified min-id election, and the per-modality survivor census.
    The oracle recomputes every key straight from the characters and
    never sees a container; a routing slip, any decoder regression in
    any of the seven codecs involved, or an election drift breaks the
    hash. Text docs whose characters begin with a container magic
    ('BM', 'GIF8', 'RIFF', 'fLaC', 'ftyp' at offset 4) are excluded
    by the DEVICE on both sides — raw bytes that sniff as media would
    (correctly) route to a decoder and abort as corrupt, which is the
    plan's honest taxonomy, not this census's subject.

    Scale shape: one routing pass and four keyer passes, all
    Arrow-batched at media grain with no payload shuffle; the
    election shuffles (id, short key) rows; the census is a 4-group
    rollup. Composition analog of reference run_pipeline.py:64."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_bmp_gray,
        encode_flac_pcm16,
        encode_gif_animation,
        encode_jpeg_gray_blocks,
        encode_png_gray,
        encode_wav_pcm16,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out
    from sunat_rree_demo_spark.plans.curate_media import (
        curate_media,
        curate_media_summary,
    )

    import numpy as np

    src = fan_out(
        _ascii_docs(spark, sf_dir, min_len=_MC_LEN, cap=_MC_LEN)
        .filter((F.col("media_id") % 4 != 3)
                | ~(F.col("s").startswith("BM")
                    | F.col("s").startswith("GIF8")
                    | F.col("s").startswith("fLaC")
                    | F.col("s").startswith("RIFF")
                    | (F.substring("s", 5, 4) == "ftyp")))
    )

    def encode(it):
        import pandas as pd

        def mk(did: int, s: str) -> list:
            b = s.encode("ascii")
            m = did % 4
            if m == 0:
                return [encode_png_gray(b, 9), encode_bmp_gray(b, 9)]
            if m == 1:
                smp = (np.frombuffer(b, np.uint8)
                       .astype(np.int64) - 83) * 256
                return [encode_wav_pcm16(smp, rate=_MC_RATE),
                        encode_flac_pcm16(smp, rate=_MC_RATE)]
            if m == 2:
                chunks = [b[k:k + _VID_BPR]
                          for k in range(0, len(b), _VID_BPR)]
                return [
                    encode_avi_mjpeg(
                        [encode_jpeg_gray_blocks(c, _VID_BPR)
                         for c in chunks], _VID_BPR * 8, 8, fps=5),
                    encode_gif_animation(chunks, _VID_BPR,
                                         delay_cs=7)]
            return [b, b]

        for pdf in it:
            ids, payloads = [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                for k, p in enumerate(mk(int(did), s)):
                    ids.append(int(did) * 2 + k)
                    payloads.append(p)
            yield pd.DataFrame({"media_id": ids, "content": payloads})

    media = src.mapInPandas(encode, schema=_MEDIA_SCHEMA)
    return curate_media_summary(curate_media(media))


#: q239 video-metadata device: up to 18 frames of 12 chars; container
#: by doc_id % 3 (AVI at 4..9 fps / animated GIF at 3..8 cs ticks /
#: raw junk -> NULL row); the census verifies the CONTAINER headers —
#: frame counts, the AVI rate and the GIF delay->fps rational — via
#: the decode-free metadata walks
_VM_NF = 18


@register(
    "q239_video_meta_census",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, min_len=2 * _VID_BPR,
                     cap=_VM_NF * _VID_BPR)},
    k AS (
      SELECT doc_id,
             length(s) // {_VID_BPR} AS nf,
             4 + doc_id % 6 AS afps,
             (200 + 3 + doc_id % 6)
               // (2 * (3 + doc_id % 6)) AS gfps
      FROM c
      WHERE NOT (doc_id % 3 = 2
                 AND (s LIKE 'GIF8%' OR s LIKE 'RIFF%'
                      OR substr(s, 5, 4) = 'ftyp'))
    )
    SELECT doc_id,
           CASE doc_id % 3
             WHEN 0 THEN CAST(nf * 1000 // afps AS BIGINT)
             WHEN 1 THEN CAST(nf * 1000 // gfps AS BIGINT)
             ELSE NULL END AS duration_ms,
           CASE doc_id % 3
             WHEN 0 THEN CAST(afps AS INT)
             WHEN 1 THEN CAST(gfps AS INT)
             ELSE NULL END AS timescale,
           CASE doc_id % 3
             WHEN 0 THEN CAST({_VID_BPR} * 8 AS INT)
             WHEN 1 THEN CAST({_VID_BPR} AS INT)
             ELSE NULL END AS width,
           CASE doc_id % 3
             WHEN 0 THEN CAST(8 AS INT)
             WHEN 1 THEN CAST(1 AS INT)
             ELSE NULL END AS height
    FROM k ORDER BY doc_id
    """,
    tags=("media", "multimodal", "video", "metadata"),
)
def q239_video_meta_census(spark, sf_dir):
    """Video-metadata census over a mixed-container corpus (r9 —
    drives the decode-free metadata surface through the oracle):
    every third doc muxes as a Motion-JPEG AVI (frame rate varying
    4–9 fps), every third as an animated GIF (GCE ticks varying
    3–8 cs, so the delay→fps half-up rational is load-bearing), and
    every third ships raw bytes that must yield a NULL metadata row
    (the degrade taxonomy, driver-checked). ``extract_video_meta``
    reads duration/fps/dims from the CONTAINER HEADERS alone — the
    AVI demux walk and the no-LZW GIF walk (``gif_anim_meta``) — so
    a frame-count/rate/dimension slip in either mux or walk breaks
    the hash; no pixel ever decodes (the front-door scale shape:
    metadata passes must not pay entropy decode). Junk-cohort docs
    whose characters begin with a video-container magic ('GIF8',
    'RIFF', 'ftyp' at offset 4) are excluded by the DEVICE on both
    sides — raw bytes that sniff as a container would be walked, not
    NULLed, which is the extractor's honest behavior but not this
    census's subject (the q237 exclusion rationale).

    Scale shape: one Arrow-batched encode pass, one header-walk pass,
    both at media grain with no shuffle; output is one row per doc."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_gif_animation,
        encode_jpeg_gray_blocks,
        extract_video_meta,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    src = fan_out(
        _ascii_docs(spark, sf_dir, _VID_BPR, min_len=2 * _VID_BPR,
                    cap=_VM_NF * _VID_BPR)
        .filter(~((F.col("media_id") % 3 == 2)
                  & (F.col("s").startswith("GIF8")
                     | F.col("s").startswith("RIFF")
                     | (F.substring("s", 5, 4) == "ftyp"))))
    )

    def encode(it):
        import pandas as pd

        def mk(did: int, s: str) -> bytes:
            b = s.encode("ascii")
            m = did % 3
            if m == 2:
                return b  # raw bytes: NULL metadata row
            chunks = [b[k:k + _VID_BPR]
                      for k in range(0, len(b), _VID_BPR)]
            if m == 0:
                return encode_avi_mjpeg(
                    [encode_jpeg_gray_blocks(c, _VID_BPR)
                     for c in chunks], _VID_BPR * 8, 8,
                    fps=4 + did % 6)
            return encode_gif_animation(chunks, _VID_BPR,
                                        delay_cs=3 + did % 6)

        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": ["?"] * len(pdf),
                "content": [mk(int(m), s) for m, s in
                            zip(pdf["media_id"], pdf["s"])],
            })

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    return (
        extract_video_meta(media)
        .select(F.col("media_id").alias("doc_id"),
                F.col("duration_ms").cast("bigint").alias("duration_ms"),
                "timescale", "width", "height")
        .orderBy("doc_id")
    )


#: q241 16-bit PNG device: width 15 (unique among the raster devices)
#: and FULL-RANGE samples — each printable char becomes the 16-bit
#: level ascii·257 (the classic 8→16-bit replication 0xAB→0xABAB), so
#: a byte-truncating decode or a missed high byte shifts every stat
_P16_W = 15


@register(
    "q241_png16_stats",
    oracle=f"""
    WITH {_ascii_sql(_P16_W)},
    w AS (SELECT doc_id, n, val * 257 AS val FROM v)
    SELECT doc_id,
           CAST({_P16_W} AS INT) AS width,
           CAST(n // {_P16_W} AS INT) AS height,
           CAST(16 AS INT) AS bit_depth,
           CAST(n AS BIGINT) AS n_samples,
           CAST((2 * sum(val) * 10000 + n) // (2 * n) AS DOUBLE)
             / 10000.0 AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM w GROUP BY doc_id, n ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec", "png", "16-bit"),
)
def q241_png16_stats(spark, sf_dir):
    """Pixel statistics through a REAL 16-bit grayscale PNG
    encode→decode round trip (r10 — the last documented image-decode
    gap): each document's printable chars become full-range 16-bit
    samples (ascii·257), written big-endian with the row filters
    cycling through all five types and half the corpus Adam7-
    interlaced, decoded at NATIVE grain by ``decode_png_samples`` and
    aggregated with the typed ``bit_depth`` column that makes 16-bit
    stats safe downstream. The oracle computes the same stats straight
    from the characters at 257× weight — a single byte-order, filter
    offset (bpp=2), interlace-geometry or truncation slip breaks the
    hash.

    Scale shape: one Arrow-batched encode pass + the stats decode pass
    at media grain — no pixel ever shuffles (q186's shape at twice the
    sample width)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_png_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _P16_W)),
                    lambda mid, s: encode_png_gray(
                        [ord(ch) * 257 for ch in s], _P16_W, "cycle",
                        interlace=(mid % 2 == 0), depth=16))
    return _pixel_stats(image_pixel_stats(media), "n_samples",
                        "width", "height", "bit_depth").orderBy("doc_id")


#: q242 MP4 device: 10 uniform blocks per frame (width 80 — unique
#: among the video devices), ≤20 frames, fps 3 + doc % 5
_MP4_BPR = 10
_MP4_NF = 20


@register(
    "q242_mp4_frame_stats",
    oracle=f"""
    WITH {_ascii_sql(_MP4_BPR, cap=_MP4_NF * _MP4_BPR)},
    fv AS (SELECT doc_id, pos // {_MP4_BPR} AS f, val FROM v)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST(3 + doc_id % 5 AS INT) AS fps,
           CAST({_MP4_BPR} * 8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(64 * {_MP4_BPR} AS BIGINT) AS n_pixels,
           CAST((2 * 64 * sum(val) * 10000 + 64 * {_MP4_BPR})
                // (2 * 64 * {_MP4_BPR}) AS DOUBLE) / 10000.0
             AS mean_val,
           CAST(min(val) AS INT) AS min_val,
           CAST(max(val) AS INT) AS max_val
    FROM fv WHERE f % 2 = 0
    GROUP BY doc_id, f ORDER BY doc_id, frame_no
    """,
    tags=("media", "multimodal", "codec", "video", "mp4"),
)
def q242_mp4_frame_stats(spark, sf_dir):
    """q226's sampled-frame statistics through the OTHER container: a
    REAL ISO-BMFF (MP4) Motion-JPEG mux→demux→decode round trip (r10 —
    MP4 is what an actual crawl contains; AVI was the only demuxed
    container before). Every second frame of each document's MP4 is
    located through the stsc/stsz/stco sample map, decoded through the
    full JPEG pipeline and aggregated; the stts-derived frame rate
    (varying per doc) rides along, so the mdhd timescale round trip is
    load-bearing. The oracle never sees a container: it slices the
    same characters into frames at 64× pixel weight. A box-walk slip,
    a chunk-offset error, a sampling off-by-one or any JPEG regression
    breaks the hash.

    Scale shape: identical to q226 — one encode pass, one demux+decode
    pass at media grain, sampled-out frames never reach the entropy
    decoder, output bounded by frames/2."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_gray_blocks,
        encode_mp4_mjpeg,
        video_frame_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    def mk(mid: int, s: str) -> bytes:
        b = s.encode("ascii")
        frames = [
            encode_jpeg_gray_blocks(b[k:k + _MP4_BPR], _MP4_BPR)
            for k in range(0, len(b), _MP4_BPR)]
        return encode_mp4_mjpeg(frames, _MP4_BPR * 8, 8,
                                fps=3 + mid % 5)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _MP4_BPR,
                                        cap=_MP4_NF * _MP4_BPR)), mk)
    fs = video_frame_stats(media, every_n=2)
    return _pixel_stats(
        fs, "n_pixels",
        F.col("frame_no").cast("bigint").alias("frame_no"),
        "fps", "width", "height",
    ).orderBy("doc_id", "frame_no")


@register(
    "q243_video_dedup_cross_container",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, min_len=2 * _VID_BPR,
                     cap=_VID_NF * _VID_BPR)},
    g0 AS (
      SELECT doc_id, pos // {_VID_BPR} AS f,
             (1000 * sum(val)) // {_VID_BPR} AS m
      FROM v GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, f,
             CASE WHEN m < lead(m) OVER w THEN 1 ELSE 0 END AS b,
             lead(m) OVER w AS nxt
      FROM g0 WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    byt AS (
      SELECT doc_id, f // 8 AS bi,
             sum(b * (1 << CAST(7 - f % 8 AS INT))) AS byte
      FROM d WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY bi) AS fp
      FROM byt GROUP BY doc_id
    ),
    g AS (SELECT fp.fp, min(doc_id) AS keep_doc FROM fp GROUP BY 1),
    m AS (
      SELECT doc_id, fp, k,
             CASE k WHEN 0 THEN 'avi' WHEN 1 THEN 'gif'
                    ELSE 'mp4' END AS variant
      FROM fp, (SELECT unnest(range(0, 3)) AS k)
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN k = 0 AND doc_id = g.keep_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM m JOIN g USING (fp)
    GROUP BY variant ORDER BY variant
    """,
    tags=("media", "multimodal", "video", "mp4", "dedup", "funnel"),
)
def q243_video_dedup_cross_container(spark, sf_dir):
    """q238's cross-container video dedup widened to the THREE
    containers a real crawl mixes (r10): every document's footage
    ships as a Motion-JPEG AVI (5 fps, 64× JPEG weight), an animated
    GIF (7 cs ticks, 3× composited-RGB weight) AND a Motion-JPEG MP4
    (9 fps, 64× weight through the ISO-BMFF sample map). The
    frame-sequence fingerprint is invariant to container, codec, frame
    rate and color model by construction — the exact-integer
    milli-mean cancels every weight — so all three muxes of a doc fold
    to ONE key and the min-id election keeps the AVI. The per-variant
    survivor census is the proof; the oracle computes the fingerprint
    hex straight from the character slices. One decoded pixel
    differing between the JPEG path (shared by AVI and MP4) and the
    LZW/compositing path, or one demuxed frame out of order in ANY
    container, breaks the fold.

    Scale shape: one encode pass (three rows per doc), one
    demux+decode pass, a media-grain fingerprint window, then a census
    over short hex keys — pixels never shuffle."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_gif_animation,
        encode_jpeg_gray_blocks,
        encode_mp4_mjpeg,
        video_fingerprint,
        video_frame_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    src = fan_out(_ascii_docs(spark, sf_dir, _VID_BPR,
                              min_len=2 * _VID_BPR,
                              cap=_VID_NF * _VID_BPR))

    def encode(it):
        import pandas as pd

        for pdf in it:
            ids, variants, payloads = [], [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                b = s.encode("ascii")
                chunks = [b[k:k + _VID_BPR]
                          for k in range(0, len(b), _VID_BPR)]
                jpegs = [encode_jpeg_gray_blocks(ch, _VID_BPR)
                         for ch in chunks]
                ids.append(int(did) * 3)
                variants.append("avi")
                payloads.append(encode_avi_mjpeg(
                    jpegs, _VID_BPR * 8, 8, fps=5))
                ids.append(int(did) * 3 + 1)
                variants.append("gif")
                payloads.append(encode_gif_animation(
                    chunks, _VID_BPR, delay_cs=7))
                ids.append(int(did) * 3 + 2)
                variants.append("mp4")
                payloads.append(encode_mp4_mjpeg(
                    jpegs, _VID_BPR * 8, 8, fps=9))
            yield pd.DataFrame({
                "media_id": ids, "variant": variants,
                "content": payloads})

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    fps = video_fingerprint(
        video_frame_stats(media.select("media_id", "content"),
                          every_n=1))
    return _survivor_census(media, fps, "variant")


#: q244 mixed-depth device: width 18; even docs encode 8-bit
#: (val=ascii), odd docs 16-bit (val=ascii·257). Because
#: 65535 = 257·255, the NORMALIZED level of a char is identical in
#: both cohorts — the invariant that makes a missed bit_depth
#: normalization (dividing 16-bit sums by 255) instantly visible.
_MXD_W = 18


@register(
    "q244_mixed_depth_census",
    oracle=f"""
    WITH {_ascii_sql(_MXD_W)},
    per AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bit_depth,
             count(DISTINCT doc_id) AS n_images,
             CAST(sum(1) AS BIGINT) AS n_samples,
             sum(CAST(val AS BIGINT)
                 * CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 257 END)
               AS sum_val
      FROM v GROUP BY 1
    )
    SELECT CAST(bit_depth AS INT) AS bit_depth,
           CAST(n_images AS BIGINT) AS n_images,
           n_samples,
           CAST((2 * 1000000 * sum_val
                 + n_samples * ((1 << bit_depth) - 1))
                // (2 * n_samples * ((1 << bit_depth) - 1))
                AS DOUBLE) / 1000000.0 AS norm_mean_6dp
    FROM per ORDER BY bit_depth
    """,
    tags=("media", "multimodal", "png", "16-bit", "census"),
)
def q244_mixed_depth_census(spark, sf_dir):
    """The query the ``bit_depth`` column exists FOR: a mixed-depth
    image corpus (even docs 8-bit PNGs, odd docs full-range 16-bit
    PNGs of the same characters) rolled up per depth with the
    normalized mean level — sum/(n·(2^bit_depth−1)) as a half-up 6dp
    integer division. The device makes normalization load-bearing:
    ascii·257 over 65535 equals ascii over 255, so the two cohorts'
    normalized means sit in the same narrow band, and dividing the
    16-bit cohort by an assumed 255 would be ~257× off — the silent
    bug the typed column prevents. A real pipeline runs exactly this
    census before thresholding brightness/contrast filters across a
    crawl's mixed bit depths.

    Scale shape: one encode pass, one stats decode pass at media
    grain, then a 2-row census — only (depth, count, sums) shuffle."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_png_gray,
        image_pixel_stats,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    def mk(mid: int, s: str) -> bytes:
        if mid % 2 == 0:
            return encode_png_gray(s.encode("ascii"), _MXD_W)
        return encode_png_gray([ord(ch) * 257 for ch in s],
                               _MXD_W, depth=16)

    media = _encode(fan_out(_ascii_docs(spark, sf_dir, _MXD_W)), mk)
    stats = image_pixel_stats(media)
    den = "n_samples * ((1 << bit_depth) - 1)"
    return (
        stats.groupBy(F.col("bit_depth").cast("int").alias("bit_depth"))
        .agg(F.count("*").cast("bigint").alias("n_images"),
             F.sum("n_samples").alias("n_samples"),
             F.sum("sum_val").alias("sum_val"))
        .select("bit_depth", "n_images", "n_samples",
                (F.expr(f"(2 * 1000000 * sum_val + {den}) "
                        f"div (2 * {den})").cast("double")
                 / 1000000.0).alias("norm_mean_6dp"))
        .orderBy("bit_depth")
    )


@register(
    "q245_m4a_frame_energy",
    oracle=f"""
    WITH {_ascii_sql()},
    p AS (SELECT doc_id, pos, (val - 85) * 256 AS smp FROM v),
    {_FRAME_ENERGY_SQL}
    """,
    tags=("media", "multimodal", "codec", "audio", "mp4"),
)
def q245_m4a_frame_energy(spark, sf_dir):
    """q207's per-frame RMS energies through the FOURTH audio
    container (r10): each document's chars become int16 PCM inside a
    genuine ISO-BMFF (M4A) file — even docs little-endian ``sowt``,
    odd docs big-endian ``twos``, so the byte-order swap is
    load-bearing — demuxed through the stsc/stsz/stco sample map
    (multi-sample chunks, unlike the video mux) into the same uniform
    PCM16 contract WAV/G.711/FLAC already share. The oracle computes
    the energies straight from the characters at 256× weight; a chunk
    slip, an endianness miss or a SoundDescription misparse breaks
    the hash.

    Scale shape: identical to q207 — one encode pass, one
    demux+energy pass at media grain, frame-grain output, no
    shuffle before the output sort."""
    from sunat_rree_demo_spark.operators.multimodal import encode_mp4_pcm16
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(mid: int, s: str) -> bytes:
        smp = (np.frombuffer(s.encode("ascii"), np.uint8)
               .astype(np.int64) - 85) * 256
        return encode_mp4_pcm16(smp, rate=_WAV_RATE,
                                big_endian=(mid % 2 == 1))

    media = _encode(fan_out(_ascii_docs(spark, sf_dir)), mk)
    return _frame_energy(media, _WAV_FRAME_MS)


@register(
    "q246_audio_dedup_cross_container",
    oracle=f"""
    WITH {_ascii_sql(min_len=_WAV_SPF + 1)},
    p AS (SELECT doc_id, pos, (val - 79) * 256 AS smp FROM v),
    f AS (
      SELECT doc_id,
             CAST(pos // {_WAV_SPF} AS BIGINT) AS frame_no,
             sqrt(CAST(sum(CAST(smp AS BIGINT) * smp) AS DOUBLE)
                  / count(*)) AS rms
      FROM p GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, frame_no,
             CASE WHEN rms < lead(rms) OVER w THEN 1 ELSE 0 END AS b,
             lead(rms) OVER w AS nxt
      FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)
    ),
    byt AS (
      SELECT doc_id, frame_no // 8 AS bi,
             sum(b * (1 << CAST(7 - frame_no % 8 AS INT))) AS byte
      FROM d WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(byte AS BIGINT)),
                        '' ORDER BY bi) AS fp
      FROM byt GROUP BY doc_id
    ),
    g AS (SELECT fp.fp, min(doc_id) AS keep_doc FROM fp GROUP BY 1),
    m AS (
      SELECT doc_id, fp, k,
             CASE k WHEN 0 THEN 'm4a' ELSE 'wav' END AS variant
      FROM fp, (SELECT unnest(range(0, 2)) AS k)
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN k = 0 AND doc_id = g.keep_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM m JOIN g USING (fp)
    GROUP BY variant ORDER BY variant
    """,
    tags=("media", "multimodal", "audio", "mp4", "dedup", "funnel"),
)
def q246_audio_dedup_cross_container(spark, sf_dir):
    """The recording-level dedup story across the WAV↔M4A container
    boundary (r10): every document's signal ships once as an ISO-BMFF
    PCM file (``sowt``/``twos`` rotating by doc parity) and once as a
    RIFF/WAVE file — both lossless, so the frame-energy delta-sign
    fingerprint folds the two muxes to ONE key, the min-id election
    keeps the M4A copy (it carries the smaller media_id), and the
    per-variant survivor census is the proof. One PCM byte differing
    between the chunk-map demux and the RIFF walk anywhere breaks the
    fold. The oracle computes the fingerprint hex straight from the
    characters and never sees a container.

    Scale shape: one encode pass (two rows per doc), one decode+energy
    pass, a media-grain fingerprint window, then a census over short
    hex keys — samples never shuffle (q231's shape with the fourth
    container swapped in)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        delta_sign_fingerprint,
        encode_mp4_pcm16,
        encode_wav_pcm16,
        pcm_frame_energy,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    src = fan_out(_ascii_docs(spark, sf_dir, min_len=_WAV_SPF + 1))

    def encode(it):
        import pandas as pd

        for pdf in it:
            ids, variants, payloads = [], [], []
            for did, s in zip(pdf["media_id"], pdf["s"]):
                smp = (np.frombuffer(s.encode("ascii"), np.uint8)
                       .astype(np.int64) - 79) * 256
                ids.append(int(did) * 2)
                variants.append("m4a")
                payloads.append(encode_mp4_pcm16(
                    smp, rate=_WAV_RATE,
                    big_endian=(int(did) % 2 == 1)))
                ids.append(int(did) * 2 + 1)
                variants.append("wav")
                payloads.append(encode_wav_pcm16(smp, rate=_WAV_RATE))
            yield pd.DataFrame({
                "media_id": ids, "variant": variants,
                "content": payloads})

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    fps = delta_sign_fingerprint(
        pcm_frame_energy(media.select("media_id", "content"),
                         frame_ms=_WAV_FRAME_MS),
        "media_id", "frame_no", "rms")
    return _survivor_census(media, fps, "variant")


# --------------------------------------------------------------------- q247
@register(
    "q247_mp4_meta_census",
    oracle=f"""
    WITH {_ascii_sql(_VID_BPR, min_len=2 * _VID_BPR,
                     cap=_VM_NF * _VID_BPR)},
    k AS (
      SELECT doc_id,
             length(s) // {_VID_BPR} AS nf,
             4 + doc_id % 6 AS fps
      FROM c
      WHERE NOT (doc_id % 2 = 1
                 AND (s LIKE 'GIF8%' OR s LIKE 'RIFF%'
                      OR substr(s, 5, 4) IN
                         ('ftyp', 'moov', 'mdat', 'free', 'wide')))
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(nf * 1000 // fps AS BIGINT) END AS duration_ms,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(fps AS INT) END AS timescale,
           CASE WHEN doc_id % 2 = 0
                THEN CAST({_VID_BPR} * 8 AS INT) END AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS INT) END AS height
    FROM k ORDER BY doc_id
    """,
    tags=("media", "multimodal", "video", "metadata", "mp4"),
)
def q247_mp4_meta_census(spark, sf_dir):
    """MP4 metadata census — q239's decode-free census device pointed
    at the THIRD video container (r11, VERDICT r10 #4): every even doc
    muxes its printable characters as a Motion-JPEG MP4
    (``encode_mp4_mjpeg``: mvhd timescale = the 4–9 fps device value,
    duration = one tick per frame, tkhd 16.16 dims), every odd doc
    ships raw bytes that must yield a NULL metadata row.
    ``extract_video_meta`` answers from the ISO-BMFF box walk ALONE
    (``decode_video_meta`` — ISO/IEC 14496-12 §8.2.2/§8.3.2 mvhd+tkhd
    offsets); the closed-form oracle recomputes duration/timescale/
    dims from the device arithmetic, so a tick-rate, version-offset or
    fixed-point slip in either mux or walk breaks the hash — and no
    sample ever decodes (metadata passes must not pay entropy decode).
    Junk docs whose characters sniff as a walkable container ('GIF8',
    'RIFF', or an ISO-BMFF top-level fourcc at offset 4) are excluded
    by the device on both sides, exactly q239's exclusion rationale.

    Scale shape: one Arrow-batched encode pass, one header-walk pass,
    both at media grain with no shuffle; one row per doc."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_jpeg_gray_blocks,
        encode_mp4_mjpeg,
        extract_video_meta,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    src = fan_out(
        _ascii_docs(spark, sf_dir, _VID_BPR, min_len=2 * _VID_BPR,
                    cap=_VM_NF * _VID_BPR)
        .filter(~((F.col("media_id") % 2 == 1)
                  & (F.col("s").startswith("GIF8")
                     | F.col("s").startswith("RIFF")
                     | F.substring("s", 5, 4).isin(
                         "ftyp", "moov", "mdat", "free", "wide"))))
    )

    def encode(it):
        import pandas as pd

        def mk(did: int, s: str) -> bytes:
            b = s.encode("ascii")
            if did % 2 == 1:
                return b  # raw bytes: NULL metadata row
            chunks = [b[k:k + _VID_BPR]
                      for k in range(0, len(b), _VID_BPR)]
            return encode_mp4_mjpeg(
                [encode_jpeg_gray_blocks(c, _VID_BPR) for c in chunks],
                _VID_BPR * 8, 8, fps=4 + did % 6)

        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": ["?"] * len(pdf),
                "content": [mk(int(m), s) for m, s in
                            zip(pdf["media_id"], pdf["s"])],
            })

    media_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ])
    media = src.mapInPandas(encode, schema=media_schema)
    return (
        extract_video_meta(media)
        .select(F.col("media_id").alias("doc_id"),
                F.col("duration_ms").cast("bigint").alias("duration_ms"),
                "timescale", "width", "height")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- q250
#: q250 M4A audio-metadata device: caps the sample count so the mux
#: stays cheap; rate cycles 8000/11025/16000 and channels 1/2 by
#: doc_id, so the census covers the full v0 SoundDescription grid
_AM_CAP = 400


@register(
    "q250_m4a_meta_census",
    oracle=f"""
    WITH {_ascii_sql(2, min_len=4, cap=_AM_CAP)},
    k AS (
      SELECT doc_id,
             length(s) AS ns,
             CASE (doc_id // 2) % 3 WHEN 0 THEN 8000
                  WHEN 1 THEN 11025 ELSE 16000 END AS rate,
             1 + (doc_id // 2) % 2 AS ch
      FROM c
      WHERE NOT (doc_id % 2 = 1
                 AND (s LIKE 'RIFF%' OR s LIKE 'fLaC%'
                      OR substr(s, 5, 4) IN
                         ('ftyp', 'moov', 'mdat', 'free', 'wide')))
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(rate AS INT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(ch AS INT) END AS n_channels,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(16 AS INT) END AS bits_per_sample,
           CASE WHEN doc_id % 2 = 0
                THEN CAST((ns // ch) * 1000 // rate AS BIGINT)
                END AS duration_ms
    FROM k ORDER BY doc_id
    """,
    tags=("media", "multimodal", "audio", "metadata", "mp4"),
)
def q250_m4a_meta_census(spark, sf_dir):
    """M4A audio-metadata census — the audio twin of q247 (r11):
    every even doc muxes its printable characters as PCM-in-MP4
    (``encode_mp4_pcm16``, rate cycling 8000/11025/16000 Hz and
    channel count 1/2 by doc), every odd doc ships raw bytes that
    must yield a NULL metadata row. ``extract_audio_meta`` answers
    from the NEW ISO-BMFF moov walk alone (``_decode_bmff_audio_meta``
    — smhd marks the audio trak, mdhd carries timescale/duration,
    the v0 SoundDescription carries channels/bits; ISO/IEC 14496-12
    §8.4, §12.2.3): before r11 the ISO-BMFF audio branch existed only
    inside the sample decoder, so metadata cost a full PCM demux.
    The closed-form oracle recomputes rate/channels/bits/duration
    from the device arithmetic — a version-offset, fixed-point or
    frames-vs-samples slip in mux or walk breaks the hash; no sample
    ever decodes. Junk docs sniffing as a walkable audio container
    ('RIFF', 'fLaC', or an ISO-BMFF fourcc at offset 4) are excluded
    by the device on both sides (q239's exclusion rationale).

    Scale shape: one Arrow-batched encode pass, one header-walk pass,
    media grain, no shuffle; one row per doc."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_mp4_pcm16,
        extract_audio_meta,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    def mk(did: int, s: str) -> bytes:
        b = s.encode("ascii")
        if did % 2 == 1:
            return b  # raw bytes: NULL metadata row
        smp = (np.frombuffer(b, np.uint8).astype(np.int64)
               - 79) * 256
        rate = (8000, 11025, 16000)[(did // 2) % 3]
        return encode_mp4_pcm16(smp, rate=rate,
                                channels=1 + (did // 2) % 2)

    src = fan_out(
        _ascii_docs(spark, sf_dir, 2, min_len=4, cap=_AM_CAP)
        .filter(~((F.col("media_id") % 2 == 1)
                  & (F.col("s").startswith("RIFF")
                     | F.col("s").startswith("fLaC")
                     | F.substring("s", 5, 4).isin(
                         "ftyp", "moov", "mdat", "free", "wide"))))
    )
    return (
        extract_audio_meta(_encode(src, mk))
        .select(F.col("media_id").alias("doc_id"),
                "sample_rate", "n_channels", "bits_per_sample",
                F.col("duration_ms").cast("bigint").alias("duration_ms"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------- q249
#: q249 ADPCM device: cap the code stream so the oracle's recursive
#: state-machine depth is bounded; one code per printable char (low 4
#: bits), even count = whole packed bytes
_ADPCM_CAP = 160


def _ima_tables_sql() -> str:
    from sunat_rree_demo_spark.operators.multimodal import _IMA_STEPS

    return "[" + ", ".join(map(str, _IMA_STEPS)) + "]"


@register(
    "q249_adpcm_decode_census",
    oracle=f"""
    WITH RECURSIVE {_ascii_sql(2, cap=_ADPCM_CAP)},
    st AS (SELECT {_ima_tables_sql()} AS tbl),
    sim AS (
      SELECT doc_id, s, 0 AS k, 0 AS pred, 0 AS idx FROM c
      UNION ALL
      SELECT q.doc_id, q.s, q.k + 1,
        greatest(-32768, least(32767,
          q.pred + CASE WHEN q.code >= 8 THEN -1 ELSE 1 END * (
            q.step // 8
            + CASE WHEN (q.code // 4) % 2 = 1 THEN q.step ELSE 0 END
            + CASE WHEN (q.code // 2) % 2 = 1 THEN q.step // 2
                   ELSE 0 END
            + CASE WHEN q.code % 2 = 1 THEN q.step // 4 ELSE 0 END))),
        greatest(0, least(88, q.idx +
          CASE WHEN q.code % 8 < 4 THEN -1
               ELSE 2 * (q.code % 8 - 3) END))
      FROM (
        SELECT s.*, ascii(substr(s.s, s.k + 1, 1)) % 16 AS code,
               st.tbl[s.idx + 1] AS step
        FROM sim s, st WHERE s.k < length(s.s)
      ) q
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(pred) AS BIGINT) AS sum_amp,
           CAST(sum(CAST(pred AS BIGINT) * pred) AS BIGINT) AS sum_sq
    FROM sim GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("media", "multimodal", "codec", "audio", "adpcm"),
)
def q249_adpcm_decode_census(spark, sf_dir):
    """IMA/DVI ADPCM decode census — the one stdlib-feasible
    COMPRESSED audio codec a web crawl actually contains (r11,
    VERDICT r10 optional item; format tag 0x11, the DVI/IMA quantizer
    of the IMA Digital Audio Compatibility spec rev 3.00 §6 / RFC
    3551 §4.5.1): each document's printable chars become 4-bit ADPCM
    CODES muxed into a real mono tag-0x11 WAV
    (``encode_wav_ima_adpcm``), and the census decodes them through
    the SHARED WAV sample map — ``_wav_pcm16_data``'s new ADPCM
    branch, the same uniform-PCM16 contract every energy/fingerprint
    consumer reads — accumulating int64-exact per-doc n/sum/sum² of
    the decompressed samples. The oracle re-simulates the quantizer
    state machine in pure SQL: a WITH RECURSIVE walk carrying
    (predictor, step index) per document step-by-step over the SAME
    89-entry step table the decoder uses (rendered into the SQL from
    the one Python constant), so a clamp, sign-bit, index-delta or
    table slip on either side breaks the hash. Everything integer —
    no float discipline needed anywhere.

    Scale shape: one Arrow-batched encode pass and one decode+reduce
    pass, both media-grain with no shuffle; the sequential quantizer
    recursion stays INSIDE each task's Arrow batch (state machines
    don't distribute — the parallel grain is documents, exactly how a
    100 TB audio ingest decodes: one file per task, vectorized across
    files)."""
    from sunat_rree_demo_spark.operators.multimodal import (
        _wav_pcm16_data,
        encode_wav_ima_adpcm,
    )
    from sunat_rree_demo_spark.operators.skew import fan_out

    import numpy as np

    src = fan_out(_ascii_docs(spark, sf_dir, 2, cap=_ADPCM_CAP))

    def decode_census(it):
        import pandas as pd

        def one(did: int, s: str):
            codes = np.frombuffer(s.encode("ascii"), np.uint8) % 16
            wav = encode_wav_ima_adpcm(codes.astype(np.int64),
                                       rate=8000)
            _rate, _ch, pcm = _wav_pcm16_data(wav)
            smp = np.frombuffer(pcm, "<i2").astype(np.int64)
            return (did, smp.size, int(smp.sum()),
                    int((smp * smp).sum()))

        for pdf in it:
            rows = [one(int(i), s) for i, s in
                    zip(pdf["media_id"], pdf["s"])]
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_samples", "sum_amp", "sum_sq"])

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_amp", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ])
    return src.mapInPandas(decode_census, schema=out_schema) \
        .orderBy("doc_id")
