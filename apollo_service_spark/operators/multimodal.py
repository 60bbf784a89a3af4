"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

Real Spark plumbing — schemas, partition-aware batch iteration, Arrow batch
shapes — with REAL pure-Python decoders for the uncompressed formats this
container can handle and a stub only where a codec library would be needed:

* **decoded for real**: BMP (24-bit uncompressed pixels), PPM P6 (binary
  RGB raster), WAV (16-bit PCM samples); header metadata additionally for
  PNG/GIF/JPEG (dimensions from IHDR / screen descriptor / SOF walk).
* **real features**: ``extract_features`` computes a 16-bin-per-channel
  color histogram + channel means for decodable images and RMS/peak/
  zero-crossing energy stats for PCM audio — actual content-derived
  vectors, not hashes.
* **stub retained** (clearly marked, ``_fake_feature``): pixel data of
  COMPRESSED formats (PNG/JPEG/GIF inflate/DCT) and mp4 demuxing — the
  codec libs aren't in this container. Swapping in a real decoder changes
  one inner function; the distributed shape (mapInPandas over binary
  columns, bounded batch memory) is identical either way.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, mime string"
)

META_SCHEMA = (
    "media_id bigint, kind string, mime string, n_bytes bigint, "
    "format string, width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id bigint, feature array<float>, feature_dim int"


def _jpeg_dims(payload: bytes) -> tuple:
    """Walk JPEG segment markers to the first SOFn frame header (pure
    stdlib — the dimensions live at a variable offset, unlike PNG/GIF)."""
    i, n = 2, len(payload)
    while i + 9 < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # start of scan: no frame header found
            break
        seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        # SOF0-15 except DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            height, width = struct.unpack(">HH", payload[i + 5 : i + 9])
            return int(width), int(height)
        i += 2 + seg_len
    return -1, -1


def _wav_duration_ms(payload: bytes) -> int:
    """RIFF/WAVE fmt-chunk walk: duration = data bytes / byte rate."""
    i, n = 12, len(payload)
    byte_rate, data_size = None, None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 20 <= n:
            byte_rate = struct.unpack("<I", payload[i + 16 : i + 20])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)
    if byte_rate and data_size is not None:
        return int(data_size * 1000 / byte_rate)
    return -1


def _bmp_decode(payload: bytes):
    """24-bit uncompressed BMP → (H, W, 3) uint8 RGB array, or None.

    Pure stdlib/numpy: BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER,
    4-byte-aligned bottom-up rows, BGR byte order."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        return None
    w, h = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    comp = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    flip, h = h > 0, abs(h)
    row_size = (w * 3 + 3) // 4 * 4
    if data_off + row_size * h > len(payload):
        return None
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_off
    ).reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if flip:
        arr = arr[::-1]
    return arr[..., ::-1]  # BGR → RGB


def _ppm_decode(payload: bytes):
    """Binary PPM (P6, maxval ≤ 255) → (H, W, 3) uint8 RGB array, or None."""
    if payload is None or payload[:2] != b"P6":
        return None
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    # (comment lines starting '#' allowed between tokens)
    i, tokens = 2, []
    n = len(payload)
    while len(tokens) < 3 and i < n:
        c = payload[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":
            while i < n and payload[i : i + 1] != b"\n":
                i += 1
        else:
            j = i
            while j < n and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3:
        return None
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    i += 1  # single whitespace after maxval
    if maxval > 255 or w <= 0 or h <= 0 or i + w * h * 3 > n:
        return None
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i).reshape(
        h, w, 3
    )


def _wav_pcm_samples(payload: bytes):
    """16-bit PCM WAV → int16 sample array (all channels interleaved), or
    None for non-PCM/other bit depths."""
    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF":
        return None
    i, n = 12, len(payload)
    fmt_ok = False
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= n:
            audio_fmt, _ch = struct.unpack("<HH", payload[i + 8 : i + 12])
            bits = struct.unpack("<H", payload[i + 22 : i + 24])[0]
            fmt_ok = audio_fmt == 1 and bits == 16
        elif cid == b"data" and fmt_ok:
            count = min(size, n - i - 8) // 2
            return np.frombuffer(
                payload, dtype="<i2", count=count, offset=i + 8
            )
        i += 8 + size + (size & 1)
    return None


def _sniff_format(payload: bytes) -> tuple:
    """(format, width, height) from container headers; (-1,-1) when unknown.

    PNG (IHDR), GIF (logical screen descriptor) and JPEG (SOF marker walk)
    dimensions are parsed for real from the bytes; mp4/wav record the
    container format (a real demuxer would fill in dims/streams).
    """
    if payload is None or len(payload) < 12:
        return "unknown", -1, -1
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) >= 24 and payload[12:16] == b"IHDR":
            width, height = struct.unpack(">II", payload[16:24])
            return "png", int(width), int(height)
        return "png", -1, -1
    if payload[:3] == b"\xff\xd8\xff":
        width, height = _jpeg_dims(payload)
        return "jpeg", width, height
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        width, height = struct.unpack("<HH", payload[6:10])
        return "gif", int(width), int(height)
    if payload[4:8] == b"ftyp":
        return "mp4", -1, -1
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav", -1, -1
    if payload[:2] == b"BM":
        px = _bmp_decode(payload)
        if px is not None:
            return "bmp", int(px.shape[1]), int(px.shape[0])
        return "bmp", -1, -1
    if payload[:2] == b"P6":
        px = _ppm_decode(payload)
        if px is not None:
            return "ppm", int(px.shape[1]), int(px.shape[0])
        return "ppm", -1, -1
    return "unknown", -1, -1


def decode_media_meta(media: DataFrame) -> DataFrame:
    """mapInPandas: binary payload → typed metadata rows (1:1)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, widths, heights, sizes, durs = [], [], [], [], []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else None
                fmt, w, h = _sniff_format(raw)
                fmts.append(fmt)
                widths.append(w)
                heights.append(h)
                sizes.append(len(raw) if raw is not None else 0)
                durs.append(_wav_duration_ms(raw) if fmt == "wav" else -1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "mime": pdf["mime"],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "format": pd.Series(fmts, dtype=object),
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": pd.Series(durs, dtype="int32"),
                }
            )

    return media.mapInPandas(decode, schema=META_SCHEMA)


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic unit-norm vector derived from a payload digest — the
    STUB for a model embedding over COMPRESSED formats (PNG/JPEG/GIF pixel
    data, mp4 streams) whose codecs aren't in this container. Raise
    NotImplementedError here if you want hard failure instead of a fake when
    wiring a real encoder."""
    digest = hashlib.sha256(payload or b"").digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    vec = rng.standard_normal(dim).astype(np.float32)
    return vec / (np.linalg.norm(vec) + 1e-9)


def _image_feature(px: np.ndarray, dim: int) -> np.ndarray:
    """Real content features from decoded RGB pixels: per-channel 16-bin
    histogram (normalized fractions, dims [c*16, c*16+16)) + per-channel
    mean/255 at dims 48..50."""
    vec = np.zeros(dim, dtype=np.float32)
    flat = px.reshape(-1, 3)
    n = len(flat)
    for c in range(3):
        hist = np.bincount(flat[:, c] >> 4, minlength=16).astype(np.float32)
        lo = c * 16
        if lo >= dim:
            break
        vec[lo : lo + 16] = (hist / max(n, 1))[: max(0, min(16, dim - lo))]
    for c in range(3):
        if 48 + c < dim:
            vec[48 + c] = float(flat[:, c].mean()) / 255.0 if n else 0.0
    return vec


def _audio_feature(samples: np.ndarray, dim: int) -> np.ndarray:
    """Real energy features from PCM samples: dim0 RMS/32768, dim1
    peak/32768, dim2 zero-crossing rate."""
    vec = np.zeros(dim, dtype=np.float32)
    if len(samples) == 0:
        return vec
    x = samples.astype(np.float64)
    if dim > 0:
        vec[0] = np.sqrt(np.mean(x * x)) / 32768.0
    if dim > 1:
        vec[1] = np.abs(x).max() / 32768.0
    if dim > 2:
        vec[2] = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
    return vec


def extract_features(media: DataFrame, dim: int = 64) -> DataFrame:
    """mapInPandas: payload → feature vector.

    REAL content features for the formats decoded in pure Python (BMP / PPM
    pixels → color histogram + channel means; WAV PCM → RMS/peak/
    zero-crossings); the hash-derived ``_fake_feature`` stub ONLY for
    compressed payloads a codec library would be needed for."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                raw = bytes(p) if p is not None else b""
                px = _bmp_decode(raw)
                if px is None:
                    px = _ppm_decode(raw)
                if px is not None:
                    feats.append(_image_feature(px, dim).tolist())
                    continue
                samples = _wav_pcm_samples(raw)
                if samples is not None:
                    feats.append(_audio_feature(samples, dim).tolist())
                    continue
                feats.append(_fake_feature(raw, dim).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": pd.Series(feats, dtype=object),
                    "feature_dim": pd.Series([dim] * len(pdf), dtype="int32"),
                }
            )

    return media.mapInPandas(featurize, schema=FEATURE_SCHEMA)


# -- deterministic sample encoders (test fixtures + oracle-checkable query) --


def make_bmp(width: int, height: int, rgb: tuple) -> bytes:
    """Solid-color 24-bit uncompressed BMP (4-byte-aligned rows, bottom-up)."""
    row = (bytes(rgb[::-1]) * width) + b"\x00" * ((-(width * 3)) % 4)
    raster = row * height
    header = b"BM" + struct.pack(
        "<IHHI", 14 + 40 + len(raster), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return header + raster


def make_ppm(width: int, height: int, rgb: tuple) -> bytes:
    """Solid-color binary PPM (P6, maxval 255)."""
    return (f"P6\n{width} {height}\n255\n").encode() + bytes(rgb) * (
        width * height
    )


def make_wav(n_samples: int, amplitude: int, sample_rate: int = 8000) -> bytes:
    """Constant-amplitude 16-bit mono PCM WAV."""
    data = struct.pack("<h", amplitude) * n_samples
    byte_rate = sample_rate * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
