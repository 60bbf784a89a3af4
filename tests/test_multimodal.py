"""Multimodal plumbing tests: media header decode, features, decoders."""

import struct

from apollo_service_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_media_meta,
    extract_features,
)


def _png(width, height):
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", width, height)
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 8
    )


def _jpeg(width, height):
    """Minimal JPEG: SOI, APP0, DQT (skipped), SOF0 frame header, SOS."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xda" + b"\x00" * 8


def _wav(byte_rate, data_bytes):
    fmt = (
        b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, byte_rate, byte_rate, 1, 8)
    )
    data = b"data" + struct.pack("<I", data_bytes) + b"\x00" * data_bytes
    body = b"WAVE" + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _media_df(spark):
    rows = [
        (1, "image", bytearray(_png(640, 480)), "image/png"),
        (2, "image", bytearray(_jpeg(321, 123)), "image/jpeg"),
        (3, "image", bytearray(b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 16), "image/gif"),
        (4, "video", bytearray(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 1_000_000), "video/mp4"),
        (5, "audio", bytearray(_wav(8000, 16000)), "audio/wav"),
        (6, "image", None, "image/png"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_media_meta(spark):
    meta = {r["media_id"]: r for r in decode_media_meta(_media_df(spark)).collect()}
    assert meta[1]["format"] == "png" and meta[1]["width"] == 640 and meta[1]["height"] == 480
    assert meta[2]["format"] == "jpeg" and meta[2]["width"] == 321 and meta[2]["height"] == 123
    assert meta[3]["format"] == "gif" and meta[3]["width"] == 12
    assert meta[4]["format"] == "mp4"
    assert meta[5]["format"] == "wav" and meta[5]["duration_ms"] == 2000
    assert meta[6]["format"] == "unknown" and meta[6]["n_bytes"] == 0


def test_extract_features_deterministic(spark):
    df = _media_df(spark)
    a = {r["media_id"]: list(r["feature"]) for r in extract_features(df, dim=16).collect()}
    b = {r["media_id"]: list(r["feature"]) for r in extract_features(df, dim=16).collect()}
    assert a == b
    assert all(len(v) == 16 for v in a.values())
    norm = sum(x * x for x in a[1]) ** 0.5
    assert abs(norm - 1.0) < 1e-3


def test_decoder_roundtrip_fuzz():
    """Pure-Python decoders invert the sample encoders for arbitrary sizes,
    colors, and amplitudes (incl. BMP row padding and WAV chunk padding)."""
    import random

    import numpy as np

    from apollo_service_spark.operators import multimodal as mm

    rng = random.Random(7)
    for _ in range(25):
        w, h = rng.randint(1, 23), rng.randint(1, 17)
        rgb = tuple(rng.randrange(256) for _ in range(3))
        px = mm._bmp_decode(mm.make_bmp(w, h, rgb))
        assert px.shape == (h, w, 3) and (px == np.array(rgb)).all(), (w, h, rgb)
        px = mm._ppm_decode(mm.make_ppm(w, h, rgb))
        assert px.shape == (h, w, 3) and (px == np.array(rgb)).all(), (w, h, rgb)
    for _ in range(25):
        n = rng.randint(1, 5000)
        amp = rng.randint(-32768, 32767)
        s = mm._wav_pcm_samples(mm.make_wav(n, amp))
        assert s is not None and len(s) == n and (s == amp).all(), (n, amp)
    # rejects: truncated, wrong magic, non-PCM
    assert mm._bmp_decode(b"BM\x00") is None
    assert mm._ppm_decode(b"P3\n1 1\n255\n...") is None
    assert mm._wav_pcm_samples(b"RIFFxxxxWAVE") is None
    assert mm._bmp_decode(mm.make_bmp(4, 4, (1, 2, 3))[:-8]) is None
