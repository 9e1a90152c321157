"""Unit tests for the stdlib media codecs (operators/media_codecs.py)
and the media generator they invert: hand-built byte layouts with every offset
checked against the public format specs, encoder/decoder roundtrips,
strict rejection of corrupt/unsupported payloads, and the resample
primitives the oracle-checked queries rely on."""

from __future__ import annotations

import struct

import pytest

from dbt_repo_spark.operators import media_codecs as mc
from dbt_repo_spark.operators import multimodal as mm


# ------------------------------------------------------------------ WAV


def test_wav_bytes_layout_by_hand():
    """Encode one stereo frame and check every header byte against the
    RIFF/WAVE spec (44-byte canonical layout)."""
    blob = mc.encode_wav([(100, -200)], sample_rate=8000, channels=2)
    assert blob[:4] == b"RIFF"
    assert struct.unpack_from("<I", blob, 4)[0] == len(blob) - 8
    assert blob[8:12] == b"WAVE"
    assert blob[12:16] == b"fmt " and struct.unpack_from("<I", blob, 16)[0] == 16
    fmt, ch, rate, byte_rate, block_align, bits = struct.unpack_from("<HHIIHH", blob, 20)
    assert (fmt, ch, rate, bits) == (1, 2, 8000, 16)
    assert byte_rate == 8000 * 4 and block_align == 4
    assert blob[36:40] == b"data" and struct.unpack_from("<I", blob, 40)[0] == 4
    assert struct.unpack_from("<hh", blob, 44) == (100, -200)
    assert len(blob) == 48


def test_wav_decode_known_values():
    frames = [(0,), (1000,), (-1000,), (32767,), (-32768,)]
    blob = mc.encode_wav(frames, 16000, 1)
    d = mc.decode_wav(blob)
    assert d["channels"] == 1 and d["sample_rate"] == 16000
    assert d["n_frames"] == 5 and d["n_samples"] == 5
    assert d["duration_ms"] == 5 * 1000 / 16000
    assert d["sample_sum"] == 0 + 1000 - 1000 + 32767 - 32768
    assert d["sample_sumsq"] == 1000**2 * 2 + 32767**2 + 32768**2
    assert d["samples"] == (0, 1000, -1000, 32767, -32768)


def test_wav_decoder_skips_unknown_chunks():
    """A LIST chunk between fmt and data must be walked over, not choke
    the parser — real files carry INFO metadata."""
    blob = mc.encode_wav([(7,)], 8000, 1)
    # splice a LIST chunk before 'data' (data starts at offset 36)
    listed = blob[:36] + b"LIST" + struct.pack("<I", 4) + b"INFO" + blob[36:]
    patched = b"RIFF" + struct.pack("<I", len(listed) - 8) + listed[8:]
    d = mc.decode_wav(patched)
    assert d["n_frames"] == 1 and d["samples"] == (7,)


@pytest.mark.parametrize(
    "blob",
    [
        b"",
        b"RIFF\x00\x00\x00\x00WAV!",
        b"RIFF\x04\x00\x00\x00WAVE",  # no chunks at all
        # data present but fmt missing
        b"RIFF" + struct.pack("<I", 12) + b"WAVE" + b"data" + struct.pack("<I", 0),
    ],
)
def test_wav_strict_errors(blob):
    with pytest.raises(ValueError):
        mc.decode_wav(blob)


def test_wav_rejects_non_pcm():
    blob = bytearray(mc.encode_wav([(1,)], 8000, 1))
    struct.pack_into("<H", blob, 20, 3)  # IEEE-float format tag
    with pytest.raises(ValueError, match="PCM16"):
        mc.decode_wav(bytes(blob))


# ------------------------------------------------------------------ BMP


def test_bmp_bytes_layout_by_hand():
    """2x2 image: check header fields, bottom-up row order, BGR byte
    order, and 4-byte row padding (2 px * 3 B = 6 -> padded to 8)."""
    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
    blob = mc.encode_bmp(px)
    assert blob[:2] == b"BM"
    assert struct.unpack_from("<I", blob, 2)[0] == len(blob) == 54 + 2 * 8
    assert struct.unpack_from("<I", blob, 10)[0] == 54  # pixel offset
    hdr, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", blob, 14)
    assert (hdr, w, h, planes, bpp, comp) == (40, 2, 2, 1, 24, 0)
    # bottom row first: pixels[1] = [(0,0,255), (10,20,30)] as B,G,R
    assert blob[54:60] == bytes((255, 0, 0, 30, 20, 10))
    assert blob[60:62] == b"\x00\x00"  # padding
    assert blob[62:68] == bytes((0, 0, 255, 0, 255, 0))


def test_bmp_roundtrip_and_sums():
    px = [[(1, 2, 3), (4, 5, 6), (7, 8, 9)], [(10, 11, 12), (13, 14, 15), (16, 17, 18)]]
    d = mc.decode_bmp(mc.encode_bmp(px))
    assert d["width"] == 3 and d["height"] == 2 and d["n_pixels"] == 6
    assert d["pixels"] == px
    assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (51, 57, 63)


def test_bmp_strict_errors():
    with pytest.raises(ValueError):
        mc.decode_bmp(b"XX" + b"\x00" * 60)
    blob = bytearray(mc.encode_bmp([[(0, 0, 0)]]))
    struct.pack_into("<H", blob, 28, 8)  # 8bpp palette image
    with pytest.raises(ValueError, match="24bpp"):
        mc.decode_bmp(bytes(blob))
    with pytest.raises(ValueError, match="truncated"):
        mc.decode_bmp(bytes(mc.encode_bmp([[(0, 0, 0)]])[:-2]))


# ------------------------------------------------------------------ PPM


def test_ppm_bytes_layout_and_roundtrip():
    px = [[(9, 8, 7)], [(6, 5, 4)]]
    blob = mc.encode_ppm(px)
    assert blob == b"P6\n1 2\n255\n" + bytes((9, 8, 7, 6, 5, 4))
    d = mc.decode_ppm(blob)
    assert d["width"] == 1 and d["height"] == 2 and d["pixels"] == px


def test_ppm_strict_errors():
    with pytest.raises(ValueError):
        mc.decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="maxval"):
        mc.decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00")
    with pytest.raises(ValueError, match="truncated"):
        mc.decode_ppm(b"P6\n2 2\n255\n\x00\x00\x00")


# ------------------------------------------------- dispatch / transforms


def test_sniff_and_decode_any():
    assert mc.sniff_format(mc.encode_wav([(0,)], 8000, 1)) == "wav"
    assert mc.sniff_format(mc.encode_bmp([[(0, 0, 0)]])) == "bmp"
    assert mc.sniff_format(mc.encode_ppm([[(0, 0, 0)]])) == "ppm"
    with pytest.raises(ValueError, match="unrecognized"):
        mc.sniff_format(b"\x89PNG\r\n")  # a real format we do NOT fake


def test_resize_nearest_floor_mapping():
    """4x2 -> 2x2: target (x,y) must read source (x*4//2, y*2//2)."""
    px = [[(i, i, i) for i in range(4)], [(10 + i, 0, 0) for i in range(4)]]
    out = mc.resize_nearest(px, 2, 2)
    assert out == [[(0, 0, 0), (2, 2, 2)], [(10, 0, 0), (12, 0, 0)]]
    # upscale repeats source pixels, never interpolates
    up = mc.resize_nearest([[(5, 5, 5)]], 3, 2)
    assert up == [[(5, 5, 5)] * 3] * 2


def test_decimate_frames_keeps_channel_alignment():
    samples = (0, 1, 10, 11, 20, 21, 30, 31, 40, 41)  # 5 stereo frames
    kept = mc.decimate_frames(samples, 2, 2)
    assert kept == [(0, 1), (20, 21), (40, 41)]


# ------------------------------------------- generator <-> codec inversion


def test_real_decode_matches_generator_params():
    """Generator -> bytes -> ``decode_any`` inverts exactly for all three
    formats (the property the oracle-checked media queries scale up)."""
    for did in range(9):
        p = mm.media_params(did)
        mtype, blob = mm.generate_media_blob(did)
        d = mc.decode_any(blob)
        assert d["format"] == p["format"]
        if p["format"] == "wav":
            assert mtype == "audio"
            assert d["sample_rate"] == p["rate"]
            assert d["n_frames"] == p["n_frames"]
            assert d["channels"] == p["channels"]
            assert d["sample_sum"] == sum(
                mm.synth_sample(did, i, c)
                for i in range(p["n_frames"])
                for c in range(p["channels"])
            )
        else:
            assert mtype == "image"
            assert d["width"] == p["w"] and d["height"] == p["h"]
            assert d["n_pixels"] == p["w"] * p["h"]
            assert d["sum_r"] == sum(
                mm.synth_pixel(did, x, y, 0)
                for x in range(p["w"])
                for y in range(p["h"])
            )


def test_real_decode_raises_on_garbage():
    with pytest.raises(ValueError):
        mc.decode_any(b"not a media file")
