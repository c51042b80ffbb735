"""Byte-exact pins for every public ``encode_*`` function in
``operators/multimodal.py``: the SHA-256 of each encoder's output on a
small fixed input, one case per variant the media queries use
(interlaced GIF, animation, G.711 μ-law and A-law, IMA ADPCM, ``sowt``
and ``twos`` M4A, Motion-JPEG AVI and MP4, every FLAC channel mode)
plus the other encoder options.

The round-trip tests only prove decode(encode(x)) == x, so an encoder
could change its bytes and still pass them; a container refactor must
leave every digest here unchanged. PNG and TIFF-deflate digests also
pin the output of the zlib the interpreter links.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from sunat_rree_demo_spark.operators import multimodal as mm

_TEXT = b"The quick brown fox jumps over the lazy dog 0123456789!"
_GRAY = bytes(range(0, 256, 5))[:48]          # 48 bytes: 8x6 / 12x4
_SMP = (np.frombuffer(_TEXT, np.uint8).astype(np.int64) - 79) * 256


def _coeff_blocks(n: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    b = rng.randint(-40, 41, size=(n, 64)).astype(np.int64)
    b[rng.rand(n, 64) < 0.7] = 0
    b[:, 0] = rng.randint(-300, 301, n)
    return b


def _jpeg_frames(n: int) -> list[bytes]:
    return [mm.encode_jpeg_gray_blocks(_TEXT[k:k + 4], 4)
            for k in range(0, 4 * n, 4)]


def _bitfield_chan() -> np.ndarray:
    return (np.arange(3 * 4 * 3, dtype=np.int64).reshape(3, 4, 3) % 31)


#: case name -> zero-argument call of one public encoder
CASES = {
    # ---- GIF
    "gif_gray": lambda: mm.encode_gif_gray(_GRAY, 8),
    "gif_gray_interlaced": lambda: mm.encode_gif_gray(
        _TEXT[:51], 3, interlace=True),
    "gif_gray_multi_clear": lambda: mm.encode_gif_gray(
        bytes(range(256)) * 3, 32),
    "gif_animation": lambda: mm.encode_gif_animation(
        [_GRAY[:24], _GRAY[24:], _GRAY[12:36]], 6, delay_cs=4),
    "gif_animation_long_frames": lambda: mm.encode_gif_animation(
        [bytes(range(256)) * 2, bytes(range(255, -1, -1)) * 2], 64),
    # ---- WAV (PCM16, G.711, IMA ADPCM)
    "wav_pcm16": lambda: mm.encode_wav_pcm16(_SMP, rate=8000),
    "wav_pcm16_stereo": lambda: mm.encode_wav_pcm16(
        np.stack([_SMP, -_SMP], axis=1), rate=22050, channels=2),
    "wav_g711_ulaw": lambda: mm.encode_wav_g711(_TEXT, law="ulaw"),
    "wav_g711_alaw_odd": lambda: mm.encode_wav_g711(
        _TEXT[:-2], law="alaw", rate=16000),
    "wav_g711_alaw_stereo": lambda: mm.encode_wav_g711(
        _TEXT[:54], law="alaw", channels=2),
    "wav_ima_adpcm": lambda: mm.encode_wav_ima_adpcm(
        np.frombuffer(_TEXT[:54], np.uint8) % 16, rate=8000),
    "wav_ima_adpcm_odd_block": lambda: mm.encode_wav_ima_adpcm(
        np.frombuffer(_TEXT[:10], np.uint8) % 16, rate=11025),
    # ---- ISO-BMFF (MJPEG MP4, PCM-in-M4A)
    "mp4_mjpeg": lambda: mm.encode_mp4_mjpeg(_jpeg_frames(3), 32, 8,
                                             fps=12),
    "m4a_sowt": lambda: mm.encode_mp4_pcm16(_SMP, rate=100),
    "m4a_twos": lambda: mm.encode_mp4_pcm16(_SMP, rate=100,
                                            big_endian=True),
    "m4a_sowt_stereo_one_chunk": lambda: mm.encode_mp4_pcm16(
        np.stack([_SMP, _SMP // 2], axis=1).ravel(), rate=8000,
        channels=2),
    "m4a_twos_even_chunks": lambda: mm.encode_mp4_pcm16(
        _SMP[:50], rate=50, big_endian=True),
    # ---- AVI
    "avi_mjpeg": lambda: mm.encode_avi_mjpeg(_jpeg_frames(3), 32, 8,
                                             fps=12),
    # ---- FLAC
    "flac_mono": lambda: mm.encode_flac_pcm16(_SMP, rate=8000,
                                              blocksize=16),
    "flac_mono_lpc_partitions": lambda: mm.encode_flac_pcm16(
        _SMP, rate=8000, blocksize=32, lpc=True, p_order=2),
    "flac_flat_block": lambda: mm.encode_flac_pcm16(
        np.full(40, 1234), rate=8000, blocksize=16),
    **{f"flac_{mode}": (lambda mode=mode: mm.encode_flac_pcm16(
        np.stack([_SMP, _SMP[::-1]], axis=1), rate=8000, blocksize=16,
        channel_mode=mode))
       for mode in ("indep", "left_side", "right_side", "mid_side")},
    # ---- PNG
    "png_cycle": lambda: mm.encode_png_gray(_GRAY, 8),
    "png_none": lambda: mm.encode_png_gray(_GRAY, 8, filter_choice="none"),
    "png_interlace": lambda: mm.encode_png_gray(_TEXT[:50], 10,
                                                interlace=True),
    "png_depth1": lambda: mm.encode_png_gray(
        [b & 1 for b in _TEXT[:40]], 10, depth=1),
    "png_depth16": lambda: mm.encode_png_gray(
        [b * 257 for b in _TEXT[:40]], 8, depth=16),
    # ---- BMP
    "bmp_gray": lambda: mm.encode_bmp_gray(_TEXT[:50], 10),
    "bmp_gray_top_down": lambda: mm.encode_bmp_gray(_TEXT[:50], 10,
                                                    top_down=True),
    "bmp_rle8": lambda: mm.encode_bmp_rle8_gray(
        b"aaaaaab" + bytes(9) + _TEXT[:16], 8),
    "bmp_bitfields_565": lambda: mm.encode_bmp_bitfields(_bitfield_chan()),
    "bmp_bitfields_555_implicit": lambda: mm.encode_bmp_bitfields(
        _bitfield_chan(), (0x7C00, 0x03E0, 0x001F), 16, explicit=False),
    "bmp_bitfields_32": lambda: mm.encode_bmp_bitfields(
        _bitfield_chan(), (0x000000FF, 0x0000FF00, 0x00FF0000), 32),
    # ---- JPEG
    "jpeg_gray_blocks": lambda: mm.encode_jpeg_gray_blocks(_TEXT[:12], 4),
    "jpeg_coeff_blocks_restart": lambda: mm.encode_jpeg_coeff_blocks(
        _coeff_blocks(6, 1), 3, width=21, height=13, restart_interval=2),
    "jpeg_components_420": lambda: mm.encode_jpeg_components(
        [(_coeff_blocks(8, 2), 2, 2), (_coeff_blocks(2, 3), 1, 1),
         (_coeff_blocks(2, 4), 1, 1)], 2, width=29, height=14),
    "jpeg_progressive": lambda: mm.encode_jpeg_progressive(
        [(_coeff_blocks(6, 5), 1, 1)], 3),
    "jpeg_progressive_al2": lambda: mm.encode_jpeg_progressive(
        [(_coeff_blocks(6, 6), 1, 1)], 3, width=20, height=15, al=2),
    "jpeg_color_dc_420": lambda: mm.encode_jpeg_color_dc_mcus(
        _TEXT[:4], _TEXT[4:8], _TEXT[8:12], 2),
    "jpeg_color_dc_422": lambda: mm.encode_jpeg_color_dc_mcus(
        _TEXT[:4], _TEXT[4:8], _TEXT[8:12], 2, samp=(2, 1)),
    "jpeg_color_dc_progressive": lambda:
        mm.encode_jpeg_color_dc_progressive(
            _TEXT[:4], _TEXT[4:8], _TEXT[8:12], 2),
    # ---- TIFF
    "tiff_gray": lambda: mm.encode_tiff_gray(_GRAY, 12),
    "tiff_packbits_be": lambda: mm.encode_tiff_gray(
        bytes(20) + _GRAY[:28], 12, packbits=True, big_endian=True),
    "tiff_white_is_zero": lambda: mm.encode_tiff_gray(
        _GRAY, 12, white_is_zero=True, rows_per_strip=1),
    "tiff_lzw_predictor": lambda: mm.encode_tiff_gray(
        _TEXT[:48], 12, lzw=True, predictor=True),
    "tiff_deflate": lambda: mm.encode_tiff_gray(_TEXT[:48], 12,
                                                deflate=True),
}

#: SHA-256 of each case's output, recorded from the encoders as shipped
DIGESTS = {
    "avi_mjpeg":
        "7267e39282f6253a9e3d051c12567a8a918f0ec97b82ae5d81933fa9171ff763",
    "bmp_bitfields_32":
        "8a031e4cfe9c6f29d634f021b343cd27ce511a50cc70c5bc42402a2a1c88c24e",
    "bmp_bitfields_555_implicit":
        "c1006f13a6af0be2fe47f890598acf146ddefec4c0d20398830c751242bb690e",
    "bmp_bitfields_565":
        "9d9542c1872ef0a47a2eafaa99373b554edb9b55c15c03a951e158b03aaa1da3",
    "bmp_gray":
        "4e29595159ef7cee40c14f800f7fb997cb8ea35492d8a71a9564b438376f39cf",
    "bmp_gray_top_down":
        "0f76efc4191c9a93c99e6f8fb7432bbf9ab0c69c9fba0371e520788f9ace3c76",
    "bmp_rle8":
        "ef8accad683a7dbb0435beba8069751404cb724fdf2ea4b04ef5bb9b74c89de7",
    "flac_flat_block":
        "1d987100b880fcb43724768a1cc42411460fbedd9cc1566f251edea686249c9d",
    "flac_indep":
        "19b98f070bc638c8d7fd38ac82b302ddbdd11c527b534221ee1aac37d6a258aa",
    "flac_left_side":
        "5571ae819c89a8199359a43d054db46ed23d5128b461d53b00189852b37dd7ec",
    "flac_mid_side":
        "12653c9bdc97e9bf4f973c2245e0c1ac0c1bb1693beaa6401a650dbf95240e50",
    "flac_mono":
        "4b8710ea06af88f271e3d325a56a486427d858fd1f2c5268615099a7088024ad",
    "flac_mono_lpc_partitions":
        "39c70c35d670a23c4fd79c4b206cfe377f6bf5027511ce8f2f47c14acafce6c7",
    "flac_right_side":
        "f5d639494a14c39ccc51720c273d38a3c59503d5720cf567a862a99e07ae7190",
    "gif_animation":
        "5879754263c2f16825cdb748d4218abd8c2c0aed73d099509bf6181f10688909",
    "gif_animation_long_frames":
        "3afa482137fcf225f84a04266eaaab93fd36b145df4697e26cc1b929bcdd3902",
    "gif_gray":
        "3ad2f306ae61080946072ae4de390721450a1e38f322dfd8c6aa5d646eae1831",
    "gif_gray_interlaced":
        "55d47d3c39c83431f772f879f459bd124a77c8fbdfc7a88999f4f159e0b9ef67",
    "gif_gray_multi_clear":
        "a6d56c13ff565ddeb506237ff154561d6d2b3ec57b7bad9a36bbb77f5b78a208",
    "jpeg_coeff_blocks_restart":
        "51a5691bf9fed8f6eab038f74672b553ffad52ce312ce265f813623677299d67",
    "jpeg_color_dc_420":
        "2a3154c9a3071b73e2558d23fecb89390588d682d51d90a8effca1d8b1240fd0",
    "jpeg_color_dc_422":
        "a35ebb7eed3b1e7faa0370f925ca0e2b80914c5e9e324c4692cefcbeeb0bb930",
    "jpeg_color_dc_progressive":
        "d1c1c6ef4d32eed8bb285f595ad291000c2e10cf46b9d6db2ead448d66cf4efe",
    "jpeg_components_420":
        "d366a49a126080e050d470fa7f686917966ca11e4364ded7c8317e5fa171e175",
    "jpeg_gray_blocks":
        "2872a5317d53867d297836043a4a5afd3bde8d94710319fe0f1a7f34a610dd78",
    "jpeg_progressive":
        "2fadfeb5c7d8814c29b6b423c9f5e2049c8c180132424b248b14a5973a71a402",
    "jpeg_progressive_al2":
        "38ce1f2334dbe658325d81a961b2d107af48ffe6aa1e8ba7488310dfead90623",
    "m4a_sowt":
        "8cc52062685c7f6fff6832c58c1cc3549a00b039c194239fc123fd00a637a5da",
    "m4a_sowt_stereo_one_chunk":
        "6b25997ee98798a353d423883978c5bc343ec8efae4ab953a90becb692c05757",
    "m4a_twos":
        "de4a0538c9d24233fa17bbeb4a82e0ccbb1e83d250482cf70a3463d10c6a33d3",
    "m4a_twos_even_chunks":
        "86c81a6efa9af3a32eac080204a2aa2948bf039c58e63e94181e8a9850a1eb7f",
    "mp4_mjpeg":
        "b7500066c50edb91ae106ccade1ead6d3bb248a92d4be44afeb537ab4041332e",
    "png_cycle":
        "8c27bda392fda6a3f8842d02145a03ef571d6321ad66294929862acb16f0c3d6",
    "png_depth1":
        "eb6d39e2ab37b751f11f416dc11000eaaa8fbabcfae995272a7238838c7e7753",
    "png_depth16":
        "3772143ca36ea2ae8f385a3958d793cf338db3f8fc29ef60ae04492aee9fae68",
    "png_interlace":
        "e5c5e212b3736a5aa391c272dc821ae7fa8967886d77ada295620df6921e7c8d",
    "png_none":
        "fc6970f5b74a72106973ced537daba8772174de5f70739f2ddedb43b1ea4646e",
    "tiff_deflate":
        "7e205516bfdafa349229066607cad88f6808d5cd980dc1f2876685def423c158",
    "tiff_gray":
        "49f377ecd29cb79eb77dc3abb28b503753603351402ac271a830852a298598f9",
    "tiff_lzw_predictor":
        "b65fc95f3f6c9aada1a8fd265b87029b59ecc5637ee9c7b6dfd4682ba52dbfab",
    "tiff_packbits_be":
        "e0d018f6b9d63093ecfd077a1a63d06b964bfa71a8febe7145ed3fd69a311c28",
    "tiff_white_is_zero":
        "b3d7d4af9167ec728bb0c280563d6836f5b4d99004f286aeb492b5a80d79352b",
    "wav_g711_alaw_odd":
        "1bc58d1a0728efde30a4f14cbf40e880afb37b7660e4674e1b67cb460169b7fa",
    "wav_g711_alaw_stereo":
        "89575d2da08c4ebf3842606d5a0074c82192e3f45ac4786205934bc275b9f472",
    "wav_g711_ulaw":
        "ceabdee811800f54b4e3db4e93ec1f1da39375c764f8b6b2eaffa81ce16094a9",
    "wav_ima_adpcm":
        "f6c494d0b52d459f0ca1282f75599ffc1b5fba3e7436558433555dca9c844edb",
    "wav_ima_adpcm_odd_block":
        "9593c70faefb0b7a69104664e8c6a3fda9b2c97f5279d4e15a50c7ed4915d579",
    "wav_pcm16":
        "bd427b6235b44d649f3ca642d7b55ab6a243cb9ce3b836c137ed7b323455c734",
    "wav_pcm16_stereo":
        "4484d8b1fcf867c23e20f4515a8a0afd716c5b11bd38b6a369b9ca1fe3d822db",
}


def test_every_public_encoder_is_pinned():
    public = {name for name in dir(mm) if name.startswith("encode_")}
    called = {n for case in CASES.values() for n in case.__code__.co_names}
    assert public <= called, sorted(public - called)
    assert set(CASES) == set(DIGESTS)


@pytest.mark.parametrize("name", sorted(CASES))
def test_encoder_output_is_byte_identical(name):
    assert hashlib.sha256(CASES[name]()).hexdigest() == DIGESTS[name]
