"""Multimodal (binary) column plumbing: decode / feature-extract / resize
over opaque binary payloads with typed metadata.

The Spark-side plumbing (schemas, partitioning, mapInPandas batch shape,
metadata propagation) is real and tested. Pixel decoding:

* **image/bmp — REAL**: a pure stdlib+numpy decoder/encoder for 24-bit
  uncompressed BMP (no codec libraries needed);
* **image/png — REAL**: a pure stdlib(zlib)+numpy codec — 8-bit
  gray/RGB/palette/gray-alpha/RGBA decode with all five scanline filters,
  8-bit RGB encode;
* **image/jpeg — REAL**: a pure numpy JPEG codec (functions/jpeg.py) —
  baseline SOF0/1 AND progressive SOF2 decode (spectral selection +
  successive approximation per T.81 Annex G — full parity with sharp's
  JPEG intake, which accepts both; gray + YCbCr, any 1-2 sampling factors
  incl. 4:2:0, restart markers, multi-table DQT/DHT, non-interleaved
  scans) and quality-scaled 4:4:4 / 4:2:0 baseline + progressive encode.
  Together these power genuine decode, dimension verification,
  channel-mean features, nearest-neighbor resize and the >5 MB
  compression pass (compress_images) for all three reference formats;
* remaining payloads (audio and video, arithmetic-coded/hierarchical
  JPEG) are environment-gated: `decode_features` raises
  NotImplementedError for them unless `fake=True`, which substitutes a
  deterministic synthetic decoder so the pipeline shape can still be
  exercised end-to-end.

Reference parity: the reference validates/compresses images with sharp and
renders PDFs with pdftoppm (/root/reference/src/services/image.service.js:186-240,
src/services/pdf.service.js:17-109); here those are per-batch Arrow operators.

Image dedup: `average_hash` / `image_hashes` / `image_near_pairs` tie the
real codecs into the dedup family — a 64-bit perceptual signature per
image (the decode is the only Python stage and 8 bytes/signature leave
it), then the shared dedup.banded_hamming_pairs 4x16-bit pigeonhole band
join + bit_count(xor) verification, all JVM-side.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),        # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),      # opaque bytes
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("feat", T.ArrayType(T.FloatType())),  # fixed 16-dim
        T.StructField("valid", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)

# validation gates — reference constants.js:12-19 (min 200x200, max 4000x4000,
# compress > 5 MB)
MIN_DIM, MAX_DIM, MAX_BYTES = 200, 4000, 5 * 1024 * 1024


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for pixel decoding: 16 features from the digest."""
    d = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in d[:16]]


# ---------------------------------------------------------------------------
# Real pixel path: 24-bit uncompressed BMP (pure stdlib + numpy — BMP is a
# plain header + raster, so no codec library is required)
# ---------------------------------------------------------------------------

def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """-> (width, height, HxWx3 uint8 RGB array). 24-bit BI_RGB only."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit uncompressed BMP (got bpp={bpp} comp={comp})")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h <= 0:
        raise ValueError("empty image")
    stride = (w * 3 + 3) // 4 * 4
    need = pix_off + stride * h
    if len(payload) < need:
        raise ValueError("truncated BMP raster")
    raster = np.frombuffer(payload, np.uint8, count=stride * h, offset=pix_off)
    arr = raster.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        arr = arr[::-1]
    return w, h, arr[..., ::-1].copy()  # BGR -> RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> 24-bit bottom-up BI_RGB BMP bytes."""
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = arr[..., ::-1].reshape(h, w * 3)  # RGB -> BGR
    px = rows[::-1].tobytes()  # bottom-up
    off = 14 + 40
    return (
        b"BM"
        + struct.pack("<IHHI", off + len(px), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
        + px
    )


# ---------------------------------------------------------------------------
# Real pixel path #2: PNG (pure stdlib zlib + numpy — no codec library).
# Decoder: 8-bit depth, color types 0/2/3/4/6, all five scanline filters,
# non-interlaced (the overwhelmingly common case; Adam7 rejected loudly).
# Encoder: 8-bit RGB, filter 0, one IDAT. The reference validates/compresses
# PNG/JPEG via sharp (src/services/image.service.js:186-240).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering -> (h, stride) uint8 of raw samples.

    Filters 0 (None) and 2 (Up) are pure vector ops; 1 (Sub) is a cumsum
    over bpp-strided lanes (mod-256 addition distributes over cumsum); 3/4
    (Average/Paeth) have an intra-row left dependency -> per-pixel loop of
    bpp-wide vector ops (w iterations, not w*bpp)."""
    rows = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint16)
    for y in range(h):
        f = rows[y, 0]
        cur = rows[y, 1:].astype(np.uint16)
        if f == 0:
            pass
        elif f == 1:  # Sub
            npix = stride // bpp
            lanes = cur[: npix * bpp].reshape(npix, bpp)
            cur[: npix * bpp] = (np.cumsum(lanes, axis=0, dtype=np.uint64) % 256).reshape(-1)
        elif f == 2:  # Up
            cur = (cur + prev) % 256
        elif f == 3:  # Average
            for x in range(0, stride, bpp):
                left = cur[x - bpp : x] if x >= bpp else np.zeros(bpp, np.uint16)
                cur[x : x + bpp] = (
                    cur[x : x + bpp] + (left + prev[x : x + bpp]) // 2
                ) % 256
        elif f == 4:  # Paeth
            for x in range(0, stride, bpp):
                a = cur[x - bpp : x].astype(np.int32) if x >= bpp else np.zeros(bpp, np.int32)
                b = prev[x : x + bpp].astype(np.int32)
                c = (
                    prev[x - bpp : x].astype(np.int32)
                    if x >= bpp
                    else np.zeros(bpp, np.int32)
                )
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                cur[x : x + bpp] = (cur[x : x + bpp] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """-> (width, height, HxWx3 uint8 RGB). 8-bit, non-interlaced; gray and
    palette expanded to RGB, alpha dropped (features/validation path)."""
    import zlib

    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat, plte = [], None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8:
                raise ValueError(f"only 8-bit PNG supported (depth={depth})")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"bad PNG color type {color}")
            if comp != 0 or filt != 0:
                raise ValueError("bad PNG compression/filter method")
            if interlace != 0:
                raise ValueError("interlaced (Adam7) PNG not supported")
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if w <= 0 or h <= 0:
        raise ValueError("empty image")
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    samples = _png_unfilter(raw, h, stride, ch).reshape(h, w, ch)
    if color == 2:
        rgb = samples
    elif color == 6:
        rgb = samples[..., :3]
    elif color == 0:
        rgb = np.repeat(samples, 3, axis=2)
    elif color == 4:
        rgb = np.repeat(samples[..., :1], 3, axis=2)
    else:  # palette
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        idx = samples[..., 0]
        if idx.max(initial=0) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
    return w, h, np.ascontiguousarray(rgb)


def encode_png(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> 8-bit truecolor PNG (filter 0, one IDAT)."""
    import zlib

    h, w = arr.shape[:2]
    raw = np.zeros((h, w * 3 + 1), np.uint8)
    raw[:, 1:] = arr.reshape(h, w * 3)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(arr: np.ndarray, tw: int, th: int) -> np.ndarray:
    h, w = arr.shape[:2]
    yi = np.arange(th) * h // th
    xi = np.arange(tw) * w // tw
    return arr[yi][:, xi]


# mime -> (decoder, encoder) for the formats with REAL pure-stdlib codecs
from ..functions.jpeg import decode_jpeg, encode_jpeg  # noqa: E402

REAL_DECODERS = {
    "image/bmp": decode_bmp,
    "image/png": decode_png,
    "image/jpeg": decode_jpeg,
}
REAL_ENCODERS = {
    "image/bmp": encode_bmp,
    "image/png": encode_png,
    "image/jpeg": encode_jpeg,
}


def _raster_features(
    payload: bytes, meta_w, meta_h, decoder
) -> tuple[list[float], bool, str | None]:
    """Real decode: features = [w, h scaled] + per-channel means + row-band
    means (16 dims total); validity from the DECODED dimensions, plus a
    metadata-consistency check (declared width/height must match pixels)."""
    w, h, arr = decoder(payload)
    if (meta_w is not None and meta_w != w) or (meta_h is not None and meta_h != h):
        return [], False, "METADATA_DIMENSION_MISMATCH"
    ok = MIN_DIM <= w <= MAX_DIM and MIN_DIM <= h <= MAX_DIM and len(payload) <= MAX_BYTES
    ch = arr.reshape(-1, 3).mean(axis=0) / 255.0
    bands = [
        float(b.mean()) / 255.0
        for b in np.array_split(arr.mean(axis=(1, 2)), 11)
    ]
    feat = [min(w / MAX_DIM, 1.0), min(h / MAX_DIM, 1.0), *map(float, ch), *bands]
    return feat[:16], ok, None if ok else "DIMENSION_OR_SIZE"


def decode_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas over binary payloads -> per-media feature rows.

    Arrow-batched; the batch iterator shape (multiple pdf.DataFrames per
    partition) is the real production contract. Images whose mime is in
    REAL_DECODERS (bmp, png, jpeg) are decoded for REAL; every other
    payload needs codec libraries not present here — fake=True
    substitutes the deterministic synthetic decoder for them, otherwise
    they raise."""
    native = ", ".join(REAL_DECODERS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = r.payload if r.payload is not None else b""
                base = {
                    "media_id": r.media_id,
                    "kind": r.kind,
                    "n_bytes": len(payload),
                    "sha256": hashlib.sha256(payload).hexdigest(),
                }
                if r.kind == "image" and r.mime in REAL_DECODERS:
                    try:
                        feat, valid, err = _raster_features(
                            payload, r.width, r.height, REAL_DECODERS[r.mime]
                        )
                    except Exception as exc:  # zlib.error, ValueError, ...
                        feat, valid, err = [], False, f"DECODE_ERROR: {exc}"
                    rows.append({**base, "feat": feat, "valid": valid, "error": err})
                    continue
                if not fake:
                    raise NotImplementedError(
                        f"decoding {r.mime!r} requires codec libraries not "
                        f"present in this environment ({native} images are "
                        "supported natively); pass fake=True for the "
                        "deterministic synthetic decoder"
                    )
                valid = (
                    r.kind != "image"
                    or (
                        r.width is not None
                        and r.height is not None
                        and MIN_DIM <= r.width <= MAX_DIM
                        and MIN_DIM <= r.height <= MAX_DIM
                        and len(payload) <= MAX_BYTES
                    )
                )
                rows.append(
                    {
                        **base,
                        "feat": _fake_decode(payload),
                        "valid": bool(valid),
                        "error": None if valid else "DIMENSION_OR_SIZE",
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in FEATURES_SCHEMA.fields],
            )

    cols = ["media_id", "kind", "mime", "payload", "width", "height", "duration_ms"]
    return media.select(*cols).mapInPandas(run, schema=FEATURES_SCHEMA)


def compress_images(media: DataFrame, max_bytes: int = MAX_BYTES) -> DataFrame:
    """D2 compression pass (image.service.js:203-226 analogue): bmp/png
    images over `max_bytes` are nearest-neighbor halved until they fit (or
    hit MIN_DIM); payload, width and height are rewritten, other rows pass
    through untouched. Real pixels, real re-encode — mapInPandas batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            for i, r in enumerate(pdf.itertuples(index=False)):
                if r.kind != "image" or r.mime not in REAL_DECODERS or r.payload is None:
                    continue
                if len(r.payload) <= max_bytes:
                    continue
                try:
                    w, h, arr = REAL_DECODERS[r.mime](bytes(r.payload))
                except Exception:  # undecodable -> pass through untouched
                    continue
                encode = REAL_ENCODERS[r.mime]
                payload = bytes(r.payload)
                while len(payload) > max_bytes and min(w, h) // 2 >= MIN_DIM:
                    w, h = w // 2, h // 2
                    arr = resize_nearest(arr, w, h)
                    payload = encode(arr)
                out.iloc[i, out.columns.get_loc("payload")] = payload
                out.iloc[i, out.columns.get_loc("width")] = w
                out.iloc[i, out.columns.get_loc("height")] = h
            yield out

    return media.mapInPandas(run, schema=media.schema)


# ---------------------------------------------------------------------------
# Perceptual image hashing + image near-dup pairs (multimodal dedup)
# ---------------------------------------------------------------------------

def average_hash(arr: np.ndarray, hash_size: int = 8) -> int:
    """64-bit perceptual aHash of an RGB uint8 raster: integer BT.601
    grayscale -> nearest-neighbor resize to hash_size x hash_size ->
    threshold at the mean. Bit (r * hash_size + c), LSB-first, is 1 iff the
    cell is strictly brighter than the mean. Pure integer/numpy — no codec
    libraries, deterministic across hosts."""
    a = arr.astype(np.int64)
    gray = (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000
    small = resize_nearest(gray, hash_size, hash_size)
    bits = (small > small.mean()).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v


def image_hashes(media: DataFrame) -> DataFrame:
    """(media_id, mime, ahash) for every decodable image row — the
    signature half of multimodal near-dup detection. The decode is the one
    legitimately-Python stage (Arrow-batched mapInPandas over the REAL
    bmp/png/jpeg codecs); everything downstream of it ships an 8-byte
    signature per image, never pixels. Undecodable or non-image rows are
    dropped (dedup must not pair rows whose content it could not see).

    The uint64 hash is emitted in Spark's signed-long bit pattern so the
    JVM-side hamming math (bit_count(a XOR b), shiftrightunsigned band
    extraction) operates on the identical 64 bits."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.kind != "image" or r.mime not in REAL_DECODERS or r.payload is None:
                    continue
                try:
                    _, _, arr = REAL_DECODERS[r.mime](bytes(r.payload))
                except Exception:
                    continue
                h = average_hash(arr)
                if h >= 1 << 63:  # two's-complement into LongType
                    h -= 1 << 64
                rows.append({"media_id": r.media_id, "mime": r.mime, "ahash": h})
            yield pd.DataFrame(rows, columns=["media_id", "mime", "ahash"])

    return media.select("media_id", "kind", "mime", "payload").mapInPandas(
        run, schema="media_id string, mime string, ahash long"
    )


def image_near_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Image near-dup pairs: hamming(aHash) <= max_hamming (default 3 —
    robust to re-encoding, quality changes and small retouches; exact
    re-encodes land at distance 0). The pixel stage emits one 64-bit
    signature per image; pairing is the SimHash blocking plan re-used on
    image signatures: split the 64-bit hash into 4 x 16-bit bands — by
    pigeonhole any pair within hamming 3 agrees on at least one full band —
    join on (band_idx, band_value), then verify with bit_count(xor). All
    JVM-side; the band join ships (band, id, sig) only.

    max_hamming must stay <= 3 for the 4-band blocking to be lossless; a
    larger radius needs more/narrower bands (k+1 bands for radius k).
    """
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        image_hashes(media),
        id_col="media_id",
        sig_col="ahash",
        n_bands=4,
        band_bits=16,
        max_hamming=max_hamming,
    )


def gradient_bmp(w: int, h: int, seed: int = 0) -> bytes:
    """Deterministic real BMP: RGB gradient varied by seed."""
    y, x = np.mgrid[0:h, 0:w]
    arr = np.stack(
        [
            ((x * (seed % 5 + 1)) % 256),
            ((y * (seed % 7 + 1)) % 256),
            ((x + y + seed) % 256),
        ],
        axis=-1,
    ).astype(np.uint8)
    return encode_bmp(arr)


def gradient_png(w: int, h: int, seed: int = 0) -> bytes:
    """Deterministic real PNG: RGB gradient varied by seed."""
    y, x = np.mgrid[0:h, 0:w]
    arr = np.stack(
        [
            ((x * (seed % 5 + 1)) % 256),
            ((y * (seed % 7 + 1)) % 256),
            ((x + y + seed) % 256),
        ],
        axis=-1,
    ).astype(np.uint8)
    return encode_png(arr)


def gradient_jpeg(w: int, h: int, seed: int = 0) -> bytes:
    """Deterministic real JPEG: RGB gradient varied by seed, rotating the
    stream shape by seed % 5 — baseline 4:2:0, baseline 4:4:4, progressive
    (SOF2), Adobe CMYK (4-component APP14) and 12-bit precision — so every
    sharp-intake decode path stays hot in the Spark-side tests."""
    from ..functions.jpeg import encode_jpeg_12bit, encode_jpeg_cmyk
    from ..functions.jpeg import encode_jpeg_progressive

    y, x = np.mgrid[0:h, 0:w]
    arr = np.stack(
        [
            ((x * (seed % 5 + 1)) % 256),
            ((y * (seed % 7 + 1)) % 256),
            ((x + y + seed) % 256),
        ],
        axis=-1,
    ).astype(np.uint8)
    flavor = seed % 5
    if flavor == 2:
        return encode_jpeg_progressive(arr, quality=90)
    if flavor == 3:
        # derive smooth ink planes from the gradient (K mid-range)
        cmyk = np.concatenate(
            [255 - arr, (64 + arr[..., :1] // 4).astype(np.uint8)], axis=-1
        )
        return encode_jpeg_cmyk(cmyk, quality=90, transform=seed % 2 * 2)
    if flavor == 4:
        return encode_jpeg_12bit(arr.astype(np.uint16) * 16, quality=90)
    return encode_jpeg(arr, quality=90, subsample=flavor == 0)


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic binary media table for tests. Image rows
    rotate REAL 24-bit BMP, REAL PNG and REAL baseline JPEG payloads
    (decodable, resizable); some PNGs are deliberately under MIN_DIM so the
    dimension gate fires. Audio and video rows keep opaque bytes under
    environment-gated mimes."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            fmt = (i // 3) % 3
            if fmt == 0:
                w, h = 200 + (i % 5) * 40, 200 + (i % 4) * 50
                rows.append(
                    (f"m{i:05d}", "image", "image/bmp", gradient_bmp(w, h, i), w, h, None)
                )
            elif fmt == 1:
                # every other PNG is under the 200px gate -> valid=False rows
                w = (120 if (i // 9) % 2 == 0 else 220) + (i % 5) * 8
                h = (110 if (i // 9) % 2 == 0 else 210) + (i % 4) * 9
                rows.append(
                    (f"m{i:05d}", "image", "image/png", gradient_png(w, h, i), w, h, None)
                )
            else:
                w, h = 208 + (i % 4) * 24, 200 + (i % 3) * 40
                rows.append(
                    (f"m{i:05d}", "image", "image/jpeg", gradient_jpeg(w, h, i), w, h, None)
                )
            continue
        payload = hashlib.sha256(f"media{i}".encode()).digest() * (i % 7 + 1)
        rows.append(
            (
                f"m{i:05d}",
                kind,
                "audio/mpeg" if kind == "audio" else "video/mp4",
                payload,
                None,
                None,
                1000 * (i + 1),
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
