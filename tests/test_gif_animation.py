"""Animated-GIF multi-frame decode (r9 — the last stdlib-feasible
codec gap): round trips through the animation encoder, disposal
methods 0/2/3, transparency compositing, sub-rectangle frames,
poster-frame parity with decode_gif_pixels, corruption taxonomy, and
the video_frame_stats routing rule (≥2 frames = video, 1 = image)."""

import struct

import numpy as np
import pytest

from sunat_rree_demo_spark.operators.multimodal import (
    decode_gif_frames,
    decode_gif_pixels,
    encode_gif_animation,
    encode_gif_gray,
    video_frame_stats,
)


def _expand(gray: bytes) -> bytes:
    return bytes(v for b in gray for v in (b, b, b))


def test_animation_round_trip_recovers_every_frame():
    fr = [b"hello, world", b"HELLO, WORLD", b"0123456789ab"]
    g = encode_gif_animation(fr, 12, delay_cs=5)
    w, h, fps, out = decode_gif_frames(g)
    assert (w, h, fps) == (12, 1, 20)  # 5 cs -> 20 fps
    assert out == [_expand(f) for f in fr]


def test_fps_is_half_up_rational_of_delay():
    fr = [b"ab", b"cd"]
    # 4 cs -> 25 fps; 3 cs -> 33 (100/3 = 33.33); 6 cs -> 17 (16.67
    # rounds up); 0 cs -> renderer default tick 10 fps
    for delay, fps in ((4, 25), (3, 33), (6, 17), (0, 10)):
        g = encode_gif_animation(fr, 2, delay_cs=delay)
        assert decode_gif_frames(g)[2] == fps


def test_single_frame_matches_poster_decoder():
    g1 = encode_gif_gray(b"abcdabcd", 4)
    w, h, fps, fr = decode_gif_frames(g1)
    assert fps == 10  # no GCE at all
    assert len(fr) == 1
    assert fr[0] == decode_gif_pixels(g1)[3]
    # interlaced single frame composites identically
    g2 = encode_gif_gray(bytes(range(32, 112)), 8, interlace=True)
    assert decode_gif_frames(g2)[3][0] == decode_gif_pixels(g2)[3]


def test_non_gif_payloads_return_none():
    assert decode_gif_frames(b"") is None
    assert decode_gif_frames(b"junk data") is None


# ---- handcrafted 2x2 bitstreams: palette K/R/G/B, 3-bit LZW codes
_PAL = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
_HDR = b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0) + _PAL


def _img(left, top, iw, ih, indices):
    o = b"\x2c" + struct.pack("<HHHHB", left, top, iw, ih, 0)
    o += b"\x02"  # min code size 2: literals 0-3, CLEAR 4, EOI 5
    acc = nb = 0
    codes = bytearray()

    def put(code):
        nonlocal acc, nb
        acc |= code << nb
        nb += 3
        while nb >= 8:
            codes.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    put(4)
    for i, px in enumerate(indices):
        if i and i % 2 == 0:
            put(4)  # re-CLEAR before the 3-bit code space fills
        put(px)
    put(5)
    if nb:
        codes.append(acc & 0xFF)
    return o + bytes([len(codes)]) + bytes(codes) + b"\x00"


def _gce(disposal, tidx=None, delay=4):
    gp = (disposal << 2) | (1 if tidx is not None else 0)
    return b"\x21\xf9\x04" + struct.pack(
        "<BHB", gp, delay, tidx or 0) + b"\x00"


def _grid(frame):
    return np.frombuffer(frame, np.uint8).reshape(2, 2, 3)


def test_disposal_2_restores_background_then_subrect_draws():
    g = (_HDR + _gce(2) + _img(0, 0, 2, 2, [1, 2, 3, 0])
         + _gce(0) + _img(1, 1, 1, 1, [2]) + b"\x3b")
    w, h, fps, fr = decode_gif_frames(g)
    assert (w, h, fps, len(fr)) == (2, 2, 25, 2)
    f1, f2 = _grid(fr[0]), _grid(fr[1])
    assert tuple(f1[0, 0]) == (255, 0, 0)  # R
    assert tuple(f1[1, 0]) == (0, 0, 255)  # B
    # disposal 2 wiped frame 1 to background (palette 0 = black);
    # frame 2's 1x1 sub-rect drew green at (1,1)
    assert tuple(f2[0, 0]) == (0, 0, 0)
    assert tuple(f2[1, 1]) == (0, 255, 0)


def test_disposal_3_restores_previous_and_transparency_masks():
    g = (_HDR + _gce(0) + _img(0, 0, 2, 2, [1, 1, 1, 1])
         + _gce(3) + _img(0, 0, 2, 2, [2, 2, 2, 2])
         + _gce(0, tidx=3) + _img(0, 0, 2, 2, [3, 3, 3, 0]) + b"\x3b")
    _, _, _, fr = decode_gif_frames(g)
    a = [_grid(f) for f in fr]
    assert tuple(a[0][0, 0]) == (255, 0, 0)  # all red
    assert tuple(a[1][0, 0]) == (0, 255, 0)  # all green
    # frame 2's disposal 3 restored the red canvas; frame 3's index 3
    # is TRANSPARENT, so the first three pixels keep restored red and
    # only the last draws palette 0 (black)
    assert tuple(a[2][0, 0]) == (255, 0, 0)
    assert tuple(a[2][1, 1]) == (0, 0, 0)


def test_corruption_taxonomy():
    # frame rect outside the logical screen
    g = _HDR + _gce(0) + _img(1, 1, 2, 2, [1, 2, 3, 0]) + b"\x3b"
    with pytest.raises(ValueError, match="outside"):
        decode_gif_frames(g)
    # truncated GCE
    g = _HDR + b"\x21\xf9\x02" + struct.pack("<H", 0) + b"\x00" \
        + _img(0, 0, 2, 2, [0, 0, 0, 0]) + b"\x3b"
    with pytest.raises(ValueError, match="graphic control"):
        decode_gif_frames(g)
    # trailer with no image block at all
    with pytest.raises(ValueError, match="image block"):
        decode_gif_frames(_HDR + b"\x3b")
    # palette index out of range (local 2-entry palette, index 2)
    small = (b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x00, 0, 0)
             + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 1, 0x80)
             + bytes([9, 9, 9, 200, 200, 200]))
    body = bytearray(small)
    body += b"\x02"
    # codes: CLEAR(4) 2 2 EOI(5), 3-bit packed
    acc = nb = 0
    codes = bytearray()
    for code in (4, 2, 2, 5):
        acc |= code << nb
        nb += 3
        while nb >= 8:
            codes.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
    if nb:
        codes.append(acc & 0xFF)
    body += bytes([len(codes)]) + bytes(codes) + b"\x00\x3b"
    with pytest.raises(ValueError, match="palette index"):
        decode_gif_frames(bytes(body))


def test_encoder_validations():
    with pytest.raises(ValueError, match="at least one"):
        encode_gif_animation([], 4)
    with pytest.raises(ValueError, match="height x width"):
        encode_gif_animation([b"abc"], 2)
    with pytest.raises(ValueError, match="share dimensions"):
        encode_gif_animation([b"abcd", b"ab"], 2)


def test_video_frame_stats_routes_animated_gif(spark):
    anim = encode_gif_animation(
        [b"hello, world", b"HELLO, WORLD", b"0123456789ab"], 12,
        delay_cs=4)
    poster = encode_gif_gray(b"abcdabcd", 4)  # 1 frame -> image
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(poster)), (3, None)],
        "media_id long, content binary")
    rows = {(r["media_id"], r["frame_no"]): r
            for r in video_frame_stats(df, every_n=2).collect()}
    assert set(rows) == {(1, 0), (1, 2)}  # sampled; poster/null degrade
    r = rows[(1, 0)]
    assert (r["fps"], r["width"], r["height"]) == (25, 12, 1)
    assert r["n_samples"] == 36  # 12 px x RGB
    assert r["sum_val"] == 3 * sum(b"hello, world")
    assert r["min_val"] == min(b"hello, world")
    assert r["max_val"] == max(b"hello, world")


def test_gif_and_avi_fingerprints_fold_to_one_key(spark):
    """The video dedup key is container-invariant by construction:
    the same frame content muxed as MJPEG-AVI and as an animated GIF
    yields the same exact-integer milli-mean sequence (1000·sum div n
    cancels the JPEG 64x and GIF 3x sample weights), hence one
    fingerprint."""
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_gray_blocks,
        video_fingerprint,
    )

    texts = [b"hello, world", b"HELLO, WORLD", b"0123456789ab"]
    avi = encode_avi_mjpeg(
        [encode_jpeg_gray_blocks(t, 12) for t in texts], 96, 8, fps=5)
    gif = encode_gif_animation(texts, 12, delay_cs=7)
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(gif))],
        "media_id long, content binary")
    fps = video_fingerprint(video_frame_stats(df, every_n=1)).collect()
    assert len(fps) == 2
    assert fps[0]["fp"] == fps[1]["fp"]


def test_gif_anim_meta_walks_without_decode():
    from sunat_rree_demo_spark.operators.multimodal import (
        gif_anim_meta,
    )

    anim = encode_gif_animation([b"abcd" * 3, b"efgh" * 3], 12,
                                delay_cs=4)
    assert gif_anim_meta(anim) == (12, 1, 25, 2)
    poster = encode_gif_gray(b"abcdabcd", 4)
    assert gif_anim_meta(poster) == (4, 2, 10, 1)  # no GCE: 10 fps
    assert gif_anim_meta(b"junk") is None
    # delay 0 -> default renderer tick
    z = encode_gif_animation([b"ab", b"cd"], 2, delay_cs=0)
    assert gif_anim_meta(z)[2] == 10


def test_extract_video_meta_covers_animated_gif(spark):
    from sunat_rree_demo_spark.operators.multimodal import (
        extract_video_meta,
    )

    anim = encode_gif_animation([b"x" * 12] * 6, 12, delay_cs=5)
    poster = encode_gif_gray(b"abcdabcd", 4)
    df = spark.createDataFrame(
        [(1, "image/gif", bytearray(anim)),
         (2, "image/gif", bytearray(poster))],
        "media_id long, media_type string, content binary")
    rows = {r.media_id: r for r in extract_video_meta(df).collect()}
    # 6 frames at 20 fps (5 cs) = 300 ms
    assert (rows[1].duration_ms, rows[1].timescale,
            rows[1].width, rows[1].height) == (300, 20, 12, 1)
    assert rows[2].duration_ms is None  # single frame = image


def test_slow_slideshow_delay_clamps_to_one_fps():
    """Review finding r9 (second pass): GCE delays above 200 cs (a
    3 s-per-slide show is well-formed; u16 allows up to 655 s) must
    clamp to 1 fps, not round to 0 and crash duration math."""
    from sunat_rree_demo_spark.operators.multimodal import (
        gif_anim_meta,
    )

    g = encode_gif_animation([b"ab", b"cd"], 2, delay_cs=300)
    assert decode_gif_frames(g)[2] == 1
    assert gif_anim_meta(g)[2] == 1
    # and extract_video_meta survives it end to end
    assert gif_anim_meta(g)[3] * 1000 // gif_anim_meta(g)[2] == 2000


#: a 2x2 R/G/B/K image as decode_gif_pixels returns it
_RGBK = (2, 2, 3, bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0]))


@pytest.mark.parametrize("payload, pixels, frames_error, meta", [
    # truncated extension header before any image
    (_HDR + b"\x21", None, "truncated GIF extension", (2, 2, 10, 0)),
    # truncated extension header after the first image
    (_HDR + _img(0, 0, 2, 2, [1, 2, 3, 0]) + b"\x21", _RGBK,
     "truncated GIF extension", (2, 2, 10, 1)),
    # truncated extension sub-block after the first image
    (_HDR + _img(0, 0, 2, 2, [1, 2, 3, 0]) + b"\x21\xfe\x05ab", _RGBK,
     "truncated GIF data sub-block", (2, 2, 10, 1)),
    # zero logical screen
    (b"GIF89a" + struct.pack("<HHBBB", 0, 0, 0x81, 0, 0) + _PAL
     + _img(0, 0, 2, 2, [1, 2, 3, 0]) + b"\x3b", _RGBK,
     "empty GIF logical screen", (0, 0, 10, 1)),
    # frame rectangle outside the logical screen
    (_HDR + _img(1, 1, 2, 2, [1, 2, 3, 0]) + b"\x3b", _RGBK,
     "outside logical screen", (2, 2, 10, 1)),
    # graphic control block shorter than its 4 fields
    (_HDR + b"\x21\xf9\x02\x00\x00\x00" + _img(0, 0, 2, 2, [1, 2, 3, 0])
     + b"\x3b", _RGBK, "short GIF graphic control", (2, 2, 10, 1)),
])
def test_where_the_gif_walkers_disagree(payload, pixels, frames_error,
                                        meta):
    """The checks only one GIF reader makes stay with that reader:
    decode_gif_frames rejects each of these, decode_gif_pixels returns
    the first image when it comes before the fault (else ValueError),
    and gif_anim_meta counts what it can hop over."""
    from sunat_rree_demo_spark.operators.multimodal import gif_anim_meta

    if pixels is None:
        with pytest.raises(ValueError):
            decode_gif_pixels(payload)
    else:
        assert decode_gif_pixels(payload) == pixels
    with pytest.raises(ValueError, match=frames_error):
        decode_gif_frames(payload)
    assert gif_anim_meta(payload) == meta
