"""A RIFF/WAVE payload cut off inside its ``fact`` chunk reads as
not-audio: the chunk walk (``multimodal._wav_chunks``) takes a chunk's
body only when all of it is present, so no decoder sees a short
``fact`` and nothing outside the ValueError/NotImplementedError
taxonomy escapes."""

from __future__ import annotations

import numpy as np
import pytest

#: cut points, in bytes after the ``fact`` chunk id: 4-7 end inside
#: its length field, 8-11 inside its 4-byte body, 12 right after it
_CUTS = range(4, 13)


def _cut_payloads() -> list[bytes]:
    from sunat_rree_demo_spark.operators.multimodal import (
        encode_wav_ima_adpcm,
    )

    wav = encode_wav_ima_adpcm(np.arange(64, dtype=np.int64) % 16, 8000)
    at = wav.index(b"fact")
    return [wav[:at + cut] for cut in _CUTS]


@pytest.mark.parametrize("cut", _CUTS)
def test_cut_fact_chunk_reads_as_not_audio(cut):
    from sunat_rree_demo_spark.operators.multimodal import (
        _wav_pcm16_data,
        decode_audio_meta,
    )

    payload = _cut_payloads()[cut - _CUTS.start]
    assert _wav_pcm16_data(payload) is None
    assert decode_audio_meta(payload) is None


def test_cut_fact_chunks_yield_no_frames_even_when_loud(spark):
    """``corrupt="raise"`` aborts on a genuinely corrupt stream; a
    payload cut before its ``data`` chunk is not audio, so it yields
    no rows instead."""
    from sunat_rree_demo_spark.operators.multimodal import pcm_frame_energy

    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(_cut_payloads())],
        "media_id long, content binary")
    assert pcm_frame_energy(media, corrupt="raise").count() == 0
