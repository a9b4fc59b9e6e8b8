"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through Arrow-batched mapInPandas.

The Spark-side machinery (schemas, partitioning by kind, UDF signatures,
batch shapes, byte budgets) is real and tested for every kind. The
codec step is real for images via `media_decoder`: pure-numpy PPM P6/P3
+ uncompressed 24/32-bit BMP + COMPRESSED PNG via stdlib zlib. Other
image formats (JPEG/WebP/...) decode through the import-guarded
OPTIONAL public library Pillow when installed (exercised by a
skip-marked test where it is absent); without it, and for audio and
video payloads, `strict_decoder` raises its documented
NotImplementedError — the `decoder=` seam of `extract_features` is where
an audio or video codec plugs in. `deterministic_fake_decoder` derives
features from payload bytes (pure function of content) for plumbing
tests.

Scale notes: assets are processed in bounded Arrow batches
(`spark.sql.execution.arrow.maxRecordsPerBatch` caps rows per batch, and
`payload` bytes dominate — at 100 TB you partition by kind + size-bucket
so a batch of 4K images and a batch of 10s audio clips both fit executor
memory), and features are written columnar so downstream similarity
search reads vectors without touching payloads.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

ASSET_SCHEMA = (
    "asset_id long, kind string, payload binary, "
    "width int, height int, sample_rate int, n_frames int"
)

FEATURE_SCHEMA = (
    "asset_id long, kind string, n_bytes long, feature array<double>"
)

FEATURE_DIM = 16


def deterministic_fake_decoder(payload: bytes, kind: str) -> np.ndarray:
    """STUB decode: a deterministic FEATURE_DIM-dim feature from payload
    bytes (chunked means, scaled). Stands in for decode->resize->embed."""
    b = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if b.size == 0:
        return np.zeros(FEATURE_DIM)
    chunks = np.array_split(b, FEATURE_DIM)
    return np.array([c.mean() if c.size else 0.0 for c in chunks]) / 255.0


def strict_decoder(payload: bytes, kind: str) -> np.ndarray:
    raise NotImplementedError(
        f"real {kind} decode for this payload requires a codec library "
        "that is not installed: media_decoder handles PPM/BMP/PNG images "
        "with pure numpy/zlib and decodes other image formats through "
        "the import-guarded optional dep Pillow when present; pass an "
        "audio or video codec as extract_features(decoder=...)"
    )


# --------------------------------------------------------------------------
# real image codec: PPM (P6 binary / P3 ascii) + uncompressed 24/32-bit BMP
# — pure numpy, no external library, so the decode step is no longer a stub
# for these formats
# --------------------------------------------------------------------------

def encode_ppm(arr: np.ndarray, ascii_mode: bool = False) -> bytes:
    """(h, w, 3) uint8 -> PPM bytes (P6 binary, or P3 ascii)."""
    h, w, _ = arr.shape
    if ascii_mode:
        body = " ".join(map(str, arr.astype(np.uint8).ravel()))
        return f"P3\n{w} {h}\n255\n{body}\n".encode()
    return f"P6\n{w} {h}\n255\n".encode() + arr.astype(np.uint8).tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> uncompressed 24-bit bottom-up BMP bytes."""
    h, w, _ = arr.shape
    row = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    img = np.zeros((h, row), dtype=np.uint8)
    img[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = img.tobytes()
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")          # BI_RGB
        + len(data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2   # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    return header + data


def decode_ppm(payload: bytes) -> np.ndarray:
    """PPM P6/P3 -> (h, w, 3) uint8. Handles '#' comments and arbitrary
    header whitespace per the netpbm spec; maxval <= 255 only."""
    magic = payload[:2]
    if magic not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    if magic == b"P6":
        i += 1  # exactly one whitespace byte after maxval
        return (
            np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
            .reshape(h, w, 3)
            .copy()
        )
    vals = np.array(payload[i:].split()[: w * h * 3], dtype=np.int64)
    return vals.reshape(h, w, 3).astype(np.uint8)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP -> (h, w, 3) uint8 (RGB)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if comp != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up, h = h > 0, abs(h)
    nb = bpp // 8
    row = (w * nb + 3) & ~3
    buf = np.frombuffer(
        payload, dtype=np.uint8, offset=off, count=row * h
    ).reshape(h, row)
    px = buf[:, : w * nb].reshape(h, w, nb)[:, :, :3][:, :, ::-1]  # BGR->RGB
    return (px[::-1] if bottom_up else px).copy()


# --------------------------------------------------------------------------
# real COMPRESSED image codec: PNG (W3C spec / RFC 2083) via stdlib zlib —
# no external library. 8-bit greyscale (0), truecolor (2), grey+alpha (4)
# and RGBA (6), all five scanline filters, multi-IDAT, CRC-checked.
# JPEG/WebP (non-DEFLATE codecs) remain the Pillow plug point.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(tag + body) & 0xFFFFFFFF
    return len(body).to_bytes(4, "big") + tag + body + crc.to_bytes(4, "big")


def _png_filter_row(ft: int, cur: np.ndarray, prev: np.ndarray,
                    bpp: int) -> np.ndarray:
    """Forward-filter one ORIGINAL scanline (encoder side; all five types
    vectorize because left/up neighbours are original, not reconstructed)."""
    c = cur.astype(np.int64)
    left = np.concatenate([np.zeros(bpp, np.int64), c[:-bpp]])
    up = prev.astype(np.int64)
    upleft = np.concatenate([np.zeros(bpp, np.int64), up[:-bpp]])
    if ft == 0:
        out = c
    elif ft == 1:
        out = c - left
    elif ft == 2:
        out = c - up
    elif ft == 3:
        out = c - (left + up) // 2
    elif ft == 4:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
        out = c - pred
    else:
        raise ValueError(f"bad PNG filter type {ft}")
    return (out & 0xFF).astype(np.uint8)


def encode_png(arr: np.ndarray, filter_type: int = 0, level: int = 6) -> bytes:
    """(h, w) or (h, w, {1,2,3,4}) uint8 -> PNG bytes (8-bit, no
    interlace). ``filter_type`` applies one filter to every scanline
    (0=None default; 1-4 exercise the decoder's unfilter paths)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, ct, 0, 0, 0]))
    flat = a.reshape(h, w * ch)
    prev = np.zeros(w * ch, dtype=np.uint8)
    lines = []
    for y in range(h):
        lines.append(bytes([filter_type]))
        lines.append(_png_filter_row(filter_type, flat[y], prev, ch).tobytes())
        prev = flat[y]
    idat = zlib.compress(b"".join(lines), level)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB, stdlib zlib only. Walks the chunk list
    (CRC-checked, unknown ancillary chunks skipped, IDAT concatenated),
    inflates, unfilters all five scanline types, maps grey->replicate /
    alpha->dropped. 8-bit non-interlaced, no palette (those payloads get
    a ValueError so callers can fall through to the optional Pillow path)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i, ihdr, idat = 8, None, []
    while i + 8 <= len(payload):
        ln = int.from_bytes(payload[i : i + 4], "big")
        tag = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + ln]
        crc = int.from_bytes(payload[i + 8 + ln : i + 12 + ln], "big")
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        i += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ct, comp, filt, interlace = ihdr[8:13]
    if depth != 8 or ct not in _PNG_CHANNELS or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={ct}, interlace={interlace})"
        )
    ch = _PNG_CHANNELS[ct]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG inflated size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        cur = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:
            rec = cur
        elif ft == 1:  # Sub: per-lane cumulative sum mod 256
            rec = np.cumsum(cur.reshape(w, ch), axis=0).reshape(stride)
        elif ft == 2:
            rec = cur + prev
        elif ft in (3, 4):  # left neighbour is reconstructed -> sequential
            rec = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = rec[x - ch] if x >= ch else 0
                up = prev[x]
                if ft == 3:
                    # mask as we go: the average/Paeth predictors are
                    # non-linear, so neighbours must already be mod-256
                    rec[x] = (cur[x] + (left + up) // 2) & 0xFF
                else:
                    upleft = prev[x - ch] if x >= ch else 0
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = (left if pa <= pb and pa <= pc
                            else up if pb <= pc else upleft)
                    rec[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        rec &= 0xFF
        out[y] = rec
        prev = rec
    px = out.reshape(h, w, ch)
    if ct == 0:
        return np.repeat(px, 3, axis=2)
    if ct == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()


def decode_image_bytes(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch -> (h, w, 3) uint8 RGB."""
    if payload[:2] in (b"P6", b"P3"):
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    raise ValueError("unrecognized image payload (PPM/BMP/PNG supported)")


def image_features(arr: np.ndarray) -> np.ndarray:
    """(h, w, 3) pixels -> FEATURE_DIM deterministic features: channel
    means (3) + stds (3), 2x2 luminance grid means (4), 4-bin luminance
    histogram (4), aspect ratio + log-area (2)."""
    a = arr.astype(np.float64) / 255.0
    h, w, _ = a.shape
    luma = a @ np.array([0.299, 0.587, 0.114])
    hs = np.array_split(np.arange(h), 2)
    ws = np.array_split(np.arange(w), 2)
    grid = [
        luma[np.ix_(hi, wi)].mean() if hi.size and wi.size else luma.mean()
        for hi in hs for wi in ws
    ]
    hist = np.histogram(luma, bins=4, range=(0.0, 1.0))[0] / luma.size
    return np.concatenate([
        a.mean(axis=(0, 1)), a.std(axis=(0, 1)), grid, hist,
        [w / h, np.log1p(h * w) / 20.0],
    ])


def image_decoder(payload: bytes, kind: str) -> np.ndarray:
    """REAL decoder for the image kind (PPM/BMP/PNG, pure numpy/zlib):
    decode pixels, then featurize. Non-image kinds go through
    media_decoder's dispatch rules (they raise without a codec)."""
    if kind != "image":
        return media_decoder(payload, kind)
    return image_features(decode_image_bytes(payload))


def _optional_image_decode(payload: bytes) -> np.ndarray | None:
    """Compressed-image decode (JPEG/WebP/palette-or-16-bit PNG/...) via Pillow WHEN
    INSTALLED — import-guarded optional dependency (public library, not
    present in every deployment). Returns (h, w, 3) uint8, or None when
    Pillow is absent (callers fall through to strict_decoder)."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    arr = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    return arr.astype(np.uint8)


def media_decoder(payload: bytes, kind: str) -> np.ndarray:
    """REAL decoder for the image kind (PPM/BMP + compressed PNG via
    stdlib zlib), no external library. Other image formats (JPEG/WebP/
    ...) decode through the import-guarded OPTIONAL Pillow when present;
    without it, and for every other kind, they fall through to
    strict_decoder's documented NotImplementedError — strict_decoder is
    unreachable for images when the optional dependency exists."""
    if kind == "image":
        try:
            return image_features(decode_image_bytes(payload))
        except ValueError:
            arr = _optional_image_decode(payload)
            if arr is not None:
                return image_features(arr)
    return strict_decoder(payload, kind)


def synth_image_assets(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic REAL image assets: random pixels encoded as PPM-P6 /
    PPM-P3 / BMP / PNG round-robin, with true width/height metadata."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        enc = (encode_ppm, lambda a: encode_ppm(a, ascii_mode=True),
               encode_bmp, encode_png)[i % 4]
        rows.append({
            "asset_id": i, "kind": "image", "payload": enc(arr),
            "width": w, "height": h, "sample_rate": None, "n_frames": None,
        })
    return pd.DataFrame(rows)


def synth_assets(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic fake binary assets (images/audio/video rows)."""
    rng = np.random.default_rng(seed)
    kinds = np.array(["image", "audio", "video"])[rng.integers(0, 3, n)]
    rows = []
    for i in range(n):
        k = kinds[i]
        size = int(rng.integers(64, 2048))
        payload = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        rows.append(
            {
                "asset_id": i,
                "kind": str(k),
                "payload": payload,
                "width": int(rng.integers(16, 512)) if k == "image" else None,
                "height": int(rng.integers(16, 512)) if k == "image" else None,
                "sample_rate": 16000 if k == "audio" else None,
                "n_frames": int(rng.integers(1, 300)) if k == "video" else None,
            }
        )
    return pd.DataFrame(rows)


def extract_features(assets: DataFrame, decoder=deterministic_fake_decoder) -> DataFrame:
    """Decode + featurize every asset via mapInPandas (one Arrow batch at
    a time; payload column never leaves the executor)."""

    def run(batches):
        for pdf in batches:
            feats = [
                decoder(bytes(p), k).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": feats,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)
