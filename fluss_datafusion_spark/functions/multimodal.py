"""Multimodal column handling: image/audio/video as opaque ``binary``
payloads plus a typed metadata struct.

The Spark-side plumbing (schema, partition-parallel mapInPandas, Arrow
batch shape) is real and tested.  Decoding has two tiers:

- **Header decode (REAL)**: ``parse_image_header`` /
  ``probe_image_meta`` parse format + dimensions from the payload's
  magic bytes for PNG, GIF, BMP and JPEG — the published container
  layouts (PNG IHDR chunk, GIF logical screen descriptor, BMP
  BITMAPINFOHEADER, JPEG SOFn marker scan), pure Python, no external
  libs.  This is exactly what production metadata probes do: read
  headers, never decompress pixels.
- **Pixel decode (REAL for BMP, PNG and baseline JPEG)**:
  ``decode_bmp_pixels`` / ``bmp_pixel_stats`` fully decode uncompressed
  24-bit BI_RGB BMP payloads (stride padding + bottom-up rows handled);
  ``decode_png_pixels`` / ``png_pixel_stats`` decode non-interlaced
  8-bit PNG via stdlib zlib + spec unfiltering (all five scanline
  filter types); ``decode_jpeg_pixels`` / ``jpeg_pixel_stats`` decode
  baseline sequential JPEG (SOF0, 4:4:4/grayscale) — marker walk,
  DHT Huffman entropy decode, dequantize, float64 IDCT, YCbCr→RGB —
  three complete lib-free decode paths from the published specs
  (T.81 for JPEG).  Baseline, progressive (SOF2), subsampled chroma,
  progressive+subsampled combined, and restart markers all decode;
  12-bit precision and arithmetic coding return None (graceful skip,
  the production posture for genuinely exotic variants);
  ``extract_features(fake=False)`` runs these real decoders and pools
  pixels into a feature vector, yielding null/decoded_ok=false for
  payloads no decoder accepts (``fake=True`` keeps the deterministic
  payload-derived fake for plumbing tests).
- **Audio decode (REAL for PCM WAV)**: ``parse_wav_header`` walks the
  RIFF chunk layout (fmt/data, word-aligned); ``decode_wav_pcm`` /
  ``wav_pcm_stats`` decode 16-bit PCM sample bytes to amplitude stats —
  the audio twin of the BMP path.  Compressed codecs stay stubbed.
- **Video decode (REAL for uncompressed AVI)**: ``parse_avi_header``
  (RIFF hdrl/avih walk) + ``decode_avi_frames`` / ``avi_frame_stats``
  decode 24-bit DIB '00db' frames with frame SAMPLING applied before
  any pixel work (``every=k``) — the production video-feature pattern.
  Compressed video codecs stay out of scope (graceful skip).

Design for 100 TB: payloads never leave the executors, batches flow
through Arrow (mapInPandas), and metadata-only queries never touch the
binary column at all (parquet column pruning).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as a fake media payload so the
    binary-column plumbing is exercised end-to-end on the test corpus."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("application/octet-stream").alias("content_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ).alias("meta"),
    )


def payload_stats(media: DataFrame) -> DataFrame:
    """Metadata-only pass: size + content hash, no decode.  Stays fully
    JVM-side (length/sha2 are built-ins) — this is the query shape that
    should never pay for decoding."""
    return media.select(
        "media_id",
        "content_type",
        F.octet_length("payload").alias("payload_bytes"),
        F.sha2("payload", 256).alias("payload_sha256"),
    )


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def extract_features(media: DataFrame, fake: bool = True, dim: int = 8) -> DataFrame:
    """Decode + feature-extract via Arrow-batched mapInPandas.

    With fake=True a deterministic per-payload feature is computed from
    the raw bytes (byte histogram moments).  With fake=False the REAL
    decoders run: BMP/PNG/baseline-JPEG payloads decode to pixels and
    yield a 2x2 pooled per-channel-mean feature (padded/truncated to
    ``dim``); payloads no decoder accepts yield a null feature with
    decoded_ok=false — the graceful-skip posture a production pipeline
    needs, since a corpus always contains undecodable blobs.  Batch
    shape, schema, and partitioning are the production ones either way.
    """

    def _real_decode(payload) -> list:
        import numpy as np

        for decoder in (decode_png_pixels, decode_bmp_pixels,
                        decode_jpeg_pixels):
            try:
                px = decoder(payload)
            except Exception:
                px = None
            if px is None:
                continue
            px = np.asarray(px, dtype=np.float64)
            if px.ndim == 2:
                px = px[..., None]
            h, w, c = px.shape
            # 2x2 spatial pooling x channel means: a real, deterministic
            # image feature (downsampled brightness layout)
            out = []
            for qy in range(2):
                for qx in range(2):
                    q = px[qy * ((h + 1) // 2):(h if qy else (h + 1) // 2),
                           qx * ((w + 1) // 2):(w if qx else (w + 1) // 2)]
                    out.append(float(q.mean()) / 255.0 if q.size else 0.0)
            out.extend(float(px[..., i % c].mean()) / 255.0 for i in range(dim - 4))
            return out[:dim]
        return None

    def _decode(payload: bytes) -> list:
        if payload is None:
            return None
        if not fake:
            return _real_decode(payload)
        # Deterministic fake: moments of the byte distribution, fixed dim.
        n = len(payload) or 1
        out = []
        for i in range(dim):
            s = sum(payload[j] for j in range(i, len(payload), dim)) if payload else 0
            out.append(float(s % 1000) / 1000.0 + float(n % 97) / 97.0)
        return out

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "decoded_ok": feats.notna(),
                }
            )

    return media.select("media_id", "payload").mapInPandas(_map, _FEATURE_SCHEMA)


def parse_image_header(payload) -> Tuple[Optional[str], Optional[int], Optional[int]]:
    """(format, width, height) parsed from a payload's header bytes, or
    (None, None, None) if no known image signature matches.

    Published container layouts only: PNG signature + IHDR big-endian
    dims; GIF87a/89a logical screen descriptor (little-endian u16);
    BMP BITMAPINFOHEADER (little-endian i32, height may be negative for
    top-down rows); JPEG marker scan to the first SOFn frame header
    (big-endian u16 height then width).  No pixel data is touched.
    """
    if not payload:
        return (None, None, None)
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h)
    if b[:2] == b"BM" and len(b) >= 26 and struct.unpack("<I", b[14:18])[0] >= 40:
        w, h = struct.unpack("<ii", b[18:26])
        return ("bmp", w, abs(h))
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(b) and b[i] == 0xFF:
            marker = b[i + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone markers carry no length
                continue
            (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
            # SOF0..SOF15 except DHT/JPG/DAC hold the frame dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(b):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return ("jpeg", w, h)
                break
            i += 2 + seg_len
        return ("jpeg", None, None)
    return (None, None, None)


_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def probe_image_meta(media: DataFrame) -> DataFrame:
    """REAL header decode over the binary column: Arrow-batched
    mapInPandas applying ``parse_image_header`` per payload.  Scale
    shape: embarrassingly parallel per partition, output is 3 scalar
    columns per row — the payload bytes stay on the executors."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_image_header(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [p[0] for p in parsed],
                    "width": pd.array([p[1] for p in parsed], dtype="Int32"),
                    "height": pd.array([p[2] for p in parsed], dtype="Int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(_map, _PROBE_SCHEMA)


def synthesize_image_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test/bench fixture: build a VALID image header payload per row
    (format cycling png/gif/bmp/jpeg by id, dimensions derived
    arithmetically from the id) so the real header parser can be
    exercised — and oracled — without binary image columns in the
    testdata.  width = id % 512 + 1, height = (id * 7) % 512 + 1."""

    def _payload(i: int) -> bytes:
        w = int(i % 512) + 1
        h = int((i * 7) % 512) + 1
        kind = i % 4
        if kind == 0:  # PNG: signature + IHDR (crc unchecked by probes)
            return (
                b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", 13)
                + b"IHDR"
                + struct.pack(">II", w, h)
                + b"\x08\x06\x00\x00\x00"
                + struct.pack(">I", 0)
            )
        if kind == 1:  # GIF89a logical screen descriptor
            return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"
        if kind == 2:  # BMP: file header + BITMAPINFOHEADER prefix
            return (
                b"BM"
                + struct.pack("<I", 66)
                + b"\x00\x00\x00\x00"
                + struct.pack("<I", 54)
                + struct.pack("<I", 40)
                + struct.pack("<ii", w, h)
            )
        # JPEG: SOI + APP0(JFIF) + SOF0 frame header
        return (
            b"\xff\xd8"
            + b"\xff\xe0"
            + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HH", 1, 1)
            + b"\x00\x00"
            + b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x01\x01\x11\x00"
        )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_payload(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


def decode_bmp_pixels(payload):
    """REAL pixel decode for uncompressed 24-bit BI_RGB BMP payloads —
    pure Python/numpy over the published BITMAPINFOHEADER layout, no
    imaging libs.  Returns an (H, W, 3) uint8 RGB array, or None if the
    payload is not an uncompressed 24-bit BMP.

    Handles the two layout subtleties that a naive reader gets wrong:
    4-byte row-stride padding, and bottom-up row order (positive height)
    vs top-down (negative height).  Pixel bytes are stored BGR.
    """
    import numpy as np

    if not payload:
        return None
    b = bytes(payload)
    if len(b) < 54 or b[:2] != b"BM":
        return None
    (data_off,) = struct.unpack("<I", b[10:14])
    (hdr_size,) = struct.unpack("<I", b[14:18])
    if hdr_size < 40:
        return None
    w, h = struct.unpack("<ii", b[18:26])
    _planes, bpp = struct.unpack("<HH", b[26:30])
    (compression,) = struct.unpack("<I", b[30:34])
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down, height = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    if len(b) < data_off + stride * height:
        return None
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)
    px = rows[:, : w * 3].reshape(height, w, 3)
    if not top_down:
        px = px[::-1]
    return px[..., ::-1]  # BGR -> RGB


_BMP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """Full-pixel decode over the binary column: per-channel means from
    the decoded RGB array.  Arrow-batched mapInPandas; payloads stay on
    the executors, output is 6 scalars per row.  Non-BMP payloads yield
    decoded_ok=false with null stats (schema-stable)."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = {k: [] for k in
                ("media_id", "width", "height", "mean_r", "mean_g", "mean_b", "ok")}
        for pdf in batches:
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_bmp_pixels(payload)
                rows["media_id"].append(mid)
                if px is None:
                    for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
                        rows[k].append(None)
                    rows["ok"].append(False)
                else:
                    h, w, _ = px.shape
                    means = px.reshape(-1, 3).mean(axis=0)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_r"].append(float(means[0]))
                    rows["mean_g"].append(float(means[1]))
                    rows["mean_b"].append(float(means[2]))
                    rows["ok"].append(True)
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "width": pd.array(rows["width"], dtype="Int32"),
                    "height": pd.array(rows["height"], dtype="Int32"),
                    "mean_r": pd.array(rows["mean_r"], dtype="float64"),
                    "mean_g": pd.array(rows["mean_g"], dtype="float64"),
                    "mean_b": pd.array(rows["mean_b"], dtype="float64"),
                    "decoded_ok": rows["ok"],
                }
            )
            rows = {k: [] for k in rows}

    return media.select("media_id", "payload").mapInPandas(_map, _BMP_STATS_SCHEMA)


_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def _pack_bits_64(bits) -> int:
    """Row-major bit sequence (MSB first) -> signed 64-bit int."""
    import numpy as np

    raw = int.from_bytes(np.packbits(bits.astype(np.uint8)).tobytes(), "big")
    return raw - (1 << 64) if raw >= (1 << 63) else raw


def image_dhash_stats(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """Perceptual image hashes over the binary column — the multimodal
    near-duplicate signal (Krawetz's dHash/aHash, the standard cheap
    perceptual fingerprints): decode (PNG or BMP, sniffed), integer
    grayscale ``(r+g+b) // 3``, nearest-resize with the documented
    scale-floor mapping (resize_pixels — exactly replayable), then

    - ``dhash``: horizontal-gradient bits over a (hash_size,
      hash_size+1) thumbnail — bit(i,j) = gray[i,j] < gray[i,j+1],
      packed row-major MSB-first into a signed 64-bit value;
    - ``ahash``: mean-threshold bits over a (hash_size, hash_size)
      thumbnail — bit = pixel*N > sum (exact integer compare, no
      float mean).

    Hashes of near-identical images differ in few bits, so Hamming
    distance is the dedup metric (operators/dedup.hamming_near_dup_
    pairs buckets them without an all-pairs join).  Arrow-batched
    mapInPandas; payloads never leave the executors; output is scalars.
    hash_size must be 8 for the 64-bit packing."""
    import numpy as np

    if hash_size != 8:
        raise ValueError("64-bit packing requires hash_size=8")

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_png_pixels(payload)
                if px is None:
                    px = decode_bmp_pixels(payload)
                if px is None:
                    rows.append((mid, None, None, None, None, False))
                    continue
                h, w, c = px.shape
                if c >= 3:
                    gray = px[..., :3].astype(np.int64).sum(axis=-1) // 3
                else:
                    gray = px[..., 0].astype(np.int64)
                d = resize_pixels(
                    gray[:, :, None], hash_size, hash_size + 1, "nearest"
                )[..., 0]
                dh = _pack_bits_64((d[:, :-1] < d[:, 1:]).ravel())
                a = resize_pixels(
                    gray[:, :, None], hash_size, hash_size, "nearest"
                )[..., 0]
                n = hash_size * hash_size
                ah = _pack_bits_64((a * n > a.sum()).ravel())
                rows.append((mid, w, h, dh, ah, True))
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "dhash", "ahash",
                    "decoded_ok",
                ],
            )
            out["width"] = pd.array(out["width"], dtype="Int32")
            out["height"] = pd.array(out["height"], dtype="Int32")
            out["dhash"] = pd.array(out["dhash"], dtype="Int64")
            out["ahash"] = pd.array(out["ahash"], dtype="Int64")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _DHASH_SCHEMA
    )


def synthesize_gradient_bmp_media(
    df: DataFrame,
    id_col: str = "doc_id",
    cluster_mod: int = 50,
    perturb_at: int = 100,
    size: int = 16,
) -> DataFrame:
    """Fixture for perceptual-hash dedup: a 24-bit grayscale-gradient
    BMP per row with CONTROLLED near-duplicate structure.

    - image content depends only on ``cluster = id % cluster_mod``:
      gray(x, y) = (5x²(cluster+1) + y(7+3*cluster) + 13x) % 251 —
      ids in one cluster
            are pixel-identical copies, and distinct clusters land > 2 dHash
      bits apart (test-pinned: min cross-cluster Hamming 15);
    - rows with ``id >= perturb_at`` flip pixel (0, 0) to 255 — exactly
      ONE dHash bit changes by construction (pixel (0,0) is sampled
      only at thumbnail position (0,0); the base comparison
      gray(0,0) = 0 < gray(1,0) holds for every cluster and 255 beats
      any base value), so
      perturbed-vs-unperturbed Hamming distance is exactly 1 and
      identical-perturbation pairs stay at 0.

    Gives the dedup oracle a closed form: pair (a, b) in one cluster
    has dhash Hamming = 0 if (a < perturb_at) == (b < perturb_at)
    else 1."""

    def _bmp(i: int) -> bytes:
        c = int(i % cluster_mod)
        w = h = size
        stride = (w * 3 + 3) & ~3
        pad = b"\x00" * (stride - 3 * w)
        rows = []
        for y_store in range(h):  # bottom-up storage
            y = h - 1 - y_store
            row = bytearray()
            for x in range(w):
                g = (5 * x * x * (c + 1) + y * (7 + 3 * c) + 13 * x) % 251
                if i >= perturb_at and x == 0 and y == 0:
                    g = 255
                row += bytes([g, g, g])
            rows.append(bytes(row) + pad)
        data = b"".join(rows)
        header = (
            b"BM"
            + struct.pack("<I", 54 + len(data))
            + b"\x00" * 4
            + struct.pack("<I", 54)
        )
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
        )
        return header + info + data

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_bmp(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


def synthesize_bmp_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture: a COMPLETE uncompressed 24-bit BMP per row — header plus
    a real pixel array (constant color derived from the id, dims
    ``w = id%16+1, h = (id*7)%16+1``).  Constant color makes the channel
    means exactly oracle-able (mean_r = id%256 …) while still proving the
    decoder handles row-stride padding: most widths here make
    ``w*3 % 4 != 0``, so a reader that ingests padding bytes corrupts the
    means and fails the oracle."""

    def _bmp(i: int) -> bytes:
        w, h = int(i % 16) + 1, int((i * 7) % 16) + 1
        r, g, b = int(i % 256), int((i * 7) % 256), int((i * 13) % 256)
        stride = (w * 3 + 3) & ~3
        row = bytes([b, g, r]) * w + b"\x00" * (stride - 3 * w)
        data = row * h
        header = b"BM" + struct.pack("<I", 54 + len(data)) + b"\x00" * 4 + struct.pack("<I", 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
        )
        return header + info + data

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_bmp(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


#: Adam7 pass origins/steps: (x_start, y_start, x_step, y_step) — the
#: published interlace grid (PNG spec §8.2)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_unfilter(raw, offset, width, height, channels, bps=1):
    """Reconstruct one independently-filtered scanline block (a whole
    non-interlaced image, or one Adam7 pass): returns the (height,
    width*channels*bps) uint8 array and the bytes consumed, or None on
    an unknown filter type / truncation.  Filter types per the spec:
    0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth — exact byte arithmetic
    mod 256.  ``bps`` is bytes per sample (2 for 16-bit depth — the
    spec's filters ALWAYS work on bytes, with the left/upper-left
    neighbor one whole pixel = channels*bps bytes back).  Up and None
    vectorize; Sub/Average/Paeth recur along the row, so those run a
    per-pixel loop over numpy int16 — correct first, and plenty for
    metadata-scale probes."""
    import numpy as np

    stride = width * channels * bps
    if len(raw) - offset < (stride + 1) * height:
        return None
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels * bps
    for y in range(height):
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride + 1, offset=offset + y * (stride + 1)
        )
        ftype, filt = line[0], line[1:].astype(np.int16)
        prev = out[y - 1].astype(np.int16) if y > 0 else np.zeros(stride, np.int16)
        if ftype == 0:
            recon = filt
        elif ftype == 2:
            recon = (filt + prev) & 0xFF
        else:
            recon = np.zeros(stride, np.int16)
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) >> 1
                elif ftype == 4:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                else:
                    return None
                recon[x] = (filt[x] + pred) & 0xFF
        out[y] = recon.astype(np.uint8)
    return out, (stride + 1) * height


def decode_png_pixels(payload):
    """REAL pixel decode for 8- and 16-bit PNG (pure stdlib zlib +
    per-scanline unfiltering from the published PNG spec — no imaging
    libs).  Supports color types 0 (gray), 2 (RGB), 4 (gray+alpha) and
    6 (RGBA) at bit depths 8 and 16 (r6 — samples are big-endian byte
    pairs; the filters still operate on BYTES with the pixel width
    doubled), interlace 0 (sequential) AND interlace 1 (Adam7 — seven
    independently-filtered passes scattered onto the 8x8 grid, PNG spec
    §8.2; empty passes contribute zero bytes).  Returns an (H, W, C)
    uint8 array (depth 8) or uint16 array (depth 16), or None if the
    payload is not a supported PNG.

    Layout walked: 8-byte signature, IHDR (dims/depth/color/interlace),
    concatenated IDAT chunks -> one zlib stream, IEND.
    """
    import zlib

    import numpy as np

    if not payload:
        return None
    b = bytes(payload)
    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    i = 8
    width = height = None
    channels = 0
    interlace = 0
    depth = 8
    idat = bytearray()
    while i + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[i : i + 4])
        ctype = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + clen]
        if len(data) < clen:
            return None
        if ctype == b"IHDR":
            width, height = struct.unpack(">II", data[:8])
            depth, color, _comp, _filt, interlace = data[8:13]
            if depth not in (8, 16) or interlace not in (0, 1):
                return None
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
            if channels is None:
                return None
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + clen  # length + type + data + crc
    if not width or not height or not channels or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    bps = depth // 8

    def _samples(block_bytes, ph, pw):
        # byte block -> sample array: big-endian pairs for depth 16
        if bps == 1:
            return block_bytes.reshape(ph, pw, channels)
        wide = block_bytes.reshape(ph, pw, channels, 2).astype(np.uint16)
        return (wide[..., 0] << 8) | wide[..., 1]

    if interlace == 0:
        block = _png_unfilter(raw, 0, width, height, channels, bps)
        if block is None:
            return None
        return _samples(block[0], height, width)
    # Adam7: each pass is its own filtered sub-image; scatter into place
    out = np.zeros(
        (height, width, channels), dtype=np.uint8 if bps == 1 else np.uint16
    )
    offset = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        block = _png_unfilter(raw, offset, pw, ph, channels, bps)
        if block is None:
            return None
        sub, consumed = block
        offset += consumed
        out[y0::dy, x0::dx, :] = _samples(sub, ph, pw)
    return out


def resize_pixels(px, out_h: int, out_w: int, method: str = "nearest"):
    """Resize a decoded (H, W, C) pixel array — the multimodal-pipeline
    step between decode and feature extraction (thumbnailing for vision
    encoders).  Pure numpy, deterministic, documented conventions:

    - ``nearest``: source index = ``min(floor(i * in / out), in - 1)``
      (the simple scale-floor mapping — trivially replayable in SQL,
      which is what makes the oracle entry exact);
    - ``bilinear``: half-pixel centers (align_corners=False, the
      OpenCV/PIL default), edge-clamped, rounded back to the input
      dtype.  Bilinear of a linear ramp reproduces the ramp exactly in
      the interior (test-pinned).
    """
    import numpy as np

    if out_h < 1 or out_w < 1:
        raise ValueError("resize target must be at least 1x1")
    h, w = px.shape[0], px.shape[1]
    if method == "nearest":
        ys = np.minimum(np.arange(out_h) * h // out_h, h - 1)
        xs = np.minimum(np.arange(out_w) * w // out_w, w - 1)
        return px[ys][:, xs]
    if method != "bilinear":
        raise ValueError(f"unknown resize method {method!r}")
    fy = np.clip((np.arange(out_h) + 0.5) * h / out_h - 0.5, 0, h - 1)
    fx = np.clip((np.arange(out_w) + 0.5) * w / out_w - 0.5, 0, w - 1)
    y0 = np.floor(fy).astype(int)
    x0 = np.floor(fx).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (fy - y0)[:, None, None]
    wx = (fx - x0)[None, :, None]
    p = px.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    info = np.iinfo(px.dtype)
    return np.clip(np.rint(out), info.min, info.max).astype(px.dtype)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def image_resize_stats(
    media: DataFrame, out_h: int, out_w: int, method: str = "nearest"
) -> DataFrame:
    """Decode (PNG or BMP, sniffed), RESIZE to (out_h, out_w), and emit
    per-channel means of the RESIZED pixels — the decode → resize →
    featurize pipeline shape, Arrow-batched end to end; payloads never
    leave the executors.  Means are rounded to 4 (cross-engine float
    tolerance)."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_png_pixels(payload)
                if px is None:
                    px = decode_bmp_pixels(payload)
                if px is None:
                    rows.append(
                        (mid, None, None, None, None, None, None, None, False)
                    )
                    continue
                h, w, c = px.shape
                rs = resize_pixels(px, out_h, out_w, method=method)
                color = rs[..., :3] if c >= 3 else rs[..., :1]
                means = color.reshape(-1, color.shape[-1]).astype(
                    "float64"
                ).mean(axis=0)
                mr = round(float(means[0]), 4)
                mg = round(float(means[1]), 4) if len(means) > 1 else mr
                mb = round(float(means[2]), 4) if len(means) > 2 else mr
                rows.append((mid, w, h, out_w, out_h, mr, mg, mb, True))
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "src_width", "src_height", "out_width",
                    "out_height", "mean_r", "mean_g", "mean_b", "decoded_ok",
                ],
            )
            for col in ("src_width", "src_height", "out_width", "out_height"):
                out[col] = pd.array(out[col], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _RESIZE_SCHEMA
    )


_PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def png_pixel_stats(media: DataFrame) -> DataFrame:
    """Full-pixel PNG decode over the binary column: per-channel means
    from the reconstructed array (gray images report the gray mean in
    all three channels; alpha is excluded from means).  Arrow-batched
    mapInPandas, payloads never leave the executors — the PNG twin of
    ``bmp_pixel_stats``."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_png_pixels(payload)
                if px is None:
                    rows.append((mid, None, None, None, None, None, None, False))
                else:
                    h, w, c = px.shape
                    color = px[..., :3] if c >= 3 else px[..., :1]
                    means = color.reshape(-1, color.shape[-1]).mean(axis=0)
                    mr = float(means[0])
                    mg = float(means[1]) if len(means) > 1 else mr
                    mb = float(means[2]) if len(means) > 2 else mr
                    rows.append((mid, w, h, c, mr, mg, mb, True))
            out = pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "channels",
                         "mean_r", "mean_g", "mean_b", "decoded_ok"],
            )
            for c in ("width", "height", "channels"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(_map, _PNG_STATS_SCHEMA)


def synthesize_png_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture: a COMPLETE valid RGB PNG per row — real zlib stream, real
    CRCs, dims ``w = id%16+1, h = (id*7)%16+1``, and scanline filters
    CYCLING through all five types (y % 5) so decoding exercises None/
    Sub/Up/Average/Paeth reconstruction, not just the trivial path.
    Every 3rd payload is Adam7 INTERLACED (seven independently-filtered
    passes), so the decode oracle covers both layouts; the per-channel
    means the oracle derives are encoding-independent.
    Pixels are constant per row (r=(31y+id)%256, g=(31y+7id)%256,
    b=(31y+13id)%256), so the per-channel image mean is an exact
    arithmetic function of (id, h) that a SQL oracle reproduces with a
    range() aggregate — byte-exact round-trip proof with no image
    library anywhere."""
    import zlib

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def _paeth(a: int, bb: int, cc: int) -> int:
        p = a + bb - cc
        pa, pb, pc = abs(p - a), abs(p - bb), abs(p - cc)
        return a if pa <= pb and pa <= pc else (bb if pb <= pc else cc)

    def _filter_rows(rows, w: int) -> bytearray:
        """Filter one independently-filtered block (whole image or one
        Adam7 pass), cycling all five filter types."""
        bpp = 3
        raw = bytearray()
        prev = [0] * (w * bpp)
        for y, line in enumerate(rows):
            ftype = y % 5
            raw.append(ftype)
            for x in range(w * bpp):
                left = line[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = left
                elif ftype == 2:
                    pred = up
                elif ftype == 3:
                    pred = (left + up) >> 1
                else:
                    pred = _paeth(left, up, ul)
                raw.append((line[x] - pred) & 0xFF)
            prev = line
        return raw

    def _png(i: int) -> bytes:
        w, h = int(i % 16) + 1, int((i * 7) % 16) + 1
        grid = []
        for y in range(h):
            r, g, bl = (31 * y + i) % 256, (31 * y + 7 * i) % 256, (31 * y + 13 * i) % 256
            grid.append([r, g, bl] * w)
        interlaced = i % 3 == 2  # every 3rd payload is Adam7
        if not interlaced:
            raw = _filter_rows(grid, w)
        else:
            raw = bytearray()
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                sub = [
                    [
                        v
                        for x in range(x0, w, dx)
                        for v in grid[y][x * 3 : x * 3 + 3]
                    ]
                    for y in range(y0, h, dy)
                ]
                raw += _filter_rows(sub, pw)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlaced else 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_png(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


def parse_wav_header(payload):
    """(sample_rate, channels, bits_per_sample, n_frames) parsed from a
    RIFF/WAVE payload's chunk headers, or (None,)*4 if the payload is not
    a PCM WAV.  Published container layout only: RIFF magic, fmt chunk
    (PCM audio format 1, little-endian u16/u32 fields), data chunk size;
    frames = data bytes / block align.  No sample data is touched."""
    if not payload:
        return (None, None, None, None)
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return (None, None, None, None)
    i = 12
    fmt = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"fmt " and i + 8 + 16 <= len(b):
            audio_fmt, channels, rate = struct.unpack("<HHI", b[i + 8 : i + 16])
            bits = struct.unpack("<H", b[i + 22 : i + 24])[0]
            if audio_fmt not in (1, 3):  # PCM or IEEE-float only
                return (None, None, None, None)
            fmt = (rate, channels, bits)
        elif cid == b"data" and fmt is not None:
            rate, channels, bits = fmt
            block = channels * bits // 8
            return (rate, channels, bits, size // block if block else None)
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return (None, None, None, None)


def decode_wav_pcm(payload):
    """REAL sample decode for WAV audio: numpy array shaped
    (frames, channels) — int16 for 16-bit PCM (format 1), float32 for
    32-bit IEEE float (format 3) — or None for anything else."""
    import numpy as np

    rate, channels, bits, n_frames = parse_wav_header(payload)
    if rate is None or bits not in (16, 32):
        return None
    b = bytes(payload)
    dtype = "<i2" if bits == 16 else "<f4"
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"fmt " and i + 8 + 16 <= len(b):
            audio_fmt = struct.unpack("<H", b[i + 8 : i + 10])[0]
            if (bits == 16) != (audio_fmt == 1):
                return None  # PCM must be 16-bit, IEEE float 32-bit
        elif cid == b"data":
            data = b[i + 8 : i + 8 + size]
            if len(data) < size:
                return None
            return (
                np.frombuffer(data, dtype=dtype)
                .reshape(-1, channels)
            )
        i += 8 + size + (size & 1)
    return None


_WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def wav_pcm_stats(media: DataFrame) -> DataFrame:
    """Full-sample decode over the binary column: duration from header
    fields, mean amplitude and RMS from the decoded PCM16 samples.
    Arrow-batched mapInPandas; payload bytes never leave the executors."""
    import numpy as np

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, channels, bits, n_frames = parse_wav_header(payload)
                px = decode_wav_pcm(payload)
                if px is None:
                    rows.append((mid, None, None, None, None, None, None, False))
                else:
                    s = px.astype(np.float64)
                    rows.append(
                        (
                            mid, rate, channels, n_frames,
                            n_frames * 1000.0 / rate,
                            float(s.mean()),
                            float(np.sqrt((s * s).mean())),
                            True,
                        )
                    )
            out = pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "channels", "n_frames",
                         "duration_ms", "mean_amp", "rms", "decoded_ok"],
            )
            for c, dt in (("sample_rate", "Int32"), ("channels", "Int32"),
                          ("n_frames", "Int32")):
                out[c] = pd.array(out[c], dtype=dt)
            yield out

    return media.select("media_id", "payload").mapInPandas(_map, _WAV_STATS_SCHEMA)


def resample_pcm(samples, in_rate: int, out_rate: int, method: str = "linear"):
    """Resample a decoded (frames, channels) PCM array to ``out_rate``
    — the audio analog of :func:`resize_pixels` (speech encoders want
    16 kHz regardless of source rate).  Documented conventions:

    - output length = ``max(1, round(n * out_rate / in_rate))``;
    - sample positions ``t_j = j * in_rate / out_rate`` (start-aligned),
      edge-clamped;
    - ``nearest`` rounds the position; ``linear`` interpolates between
      the neighbors and rounds back to the input dtype (linear-in-time
      signals resample exactly — test-pinned).

    No anti-aliasing filter: this is the plumbing-level kernel (the
    imaging/audio libs are stubbed in this environment by design); a
    production pipeline would band-limit before heavy downsampling.
    """
    import numpy as np

    if in_rate < 1 or out_rate < 1:
        raise ValueError("rates must be positive")
    if method not in ("nearest", "linear"):
        raise ValueError(f"unknown resample method {method!r}")
    n = samples.shape[0]
    out_n = max(1, int(round(n * out_rate / in_rate)))
    t = np.arange(out_n) * (in_rate / out_rate)
    if method == "nearest":
        idx = np.minimum(np.rint(t).astype(int), n - 1)
        return samples[idx]
    t = np.clip(t, 0, n - 1)
    i0 = np.floor(t).astype(int)
    i1 = np.minimum(i0 + 1, n - 1)
    w = (t - i0)[:, None]
    s = samples.astype(np.float64)
    out = s[i0] * (1 - w) + s[i1] * w
    if np.issubdtype(samples.dtype, np.integer):
        info = np.iinfo(samples.dtype)
        return np.clip(np.rint(out), info.min, info.max).astype(samples.dtype)
    return out.astype(samples.dtype)


_RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("rate_in", T.IntegerType()),
        T.StructField("rate_out", T.IntegerType()),
        T.StructField("frames_in", T.IntegerType()),
        T.StructField("frames_out", T.IntegerType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def wav_resample_stats(
    media: DataFrame, out_rate: int, method: str = "linear"
) -> DataFrame:
    """Decode → RESAMPLE to ``out_rate`` → featurize (mean amplitude +
    RMS of the resampled signal, rounded to 4) — the audio twin of
    ``image_resize_stats``.  Arrow-batched; payloads never leave the
    executors."""
    import numpy as np

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                hdr = parse_wav_header(payload)
                px = decode_wav_pcm(payload)
                if hdr is None or px is None:
                    rows.append(
                        (mid, None, None, None, None, None, None, False)
                    )
                    continue
                rate, _channels, _bits, n_frames = hdr
                rs = resample_pcm(px, rate, out_rate, method=method)
                s = rs.astype(np.float64)
                rows.append(
                    (
                        mid, rate, out_rate, n_frames, rs.shape[0],
                        round(float(s.mean()), 4),
                        round(float(np.sqrt((s ** 2).mean())), 4),
                        True,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["media_id", "rate_in", "rate_out", "frames_in",
                         "frames_out", "mean_amp", "rms", "decoded_ok"],
            )
            for c in ("rate_in", "rate_out", "frames_in", "frames_out"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _RESAMPLE_SCHEMA
    )


def synthesize_wav_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture: a COMPLETE 16-bit PCM WAV per row — RIFF/fmt/data chunks
    plus a real constant-amplitude sample array, all fields derived
    arithmetically from the id (rate = 8000 + id%4*4000, channels =
    id%2+1, frames = id%100+1, amplitude = id%2000 - 1000).  Constant
    amplitude makes mean exactly amp and RMS exactly |amp|, so byte-level
    sample decoding is oracle-able with no audio library anywhere."""

    def _wav(i: int) -> bytes:
        rate = 8000 + (int(i) % 4) * 4000
        channels = int(i) % 2 + 1
        n_frames = int(i) % 100 + 1
        amp = int(i) % 2000 - 1000
        data = struct.pack("<h", amp) * (n_frames * channels)
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
        )
        body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_wav(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


def synthesize_tone_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture: a 32-bit IEEE-float WAV (format 3) of a PURE SINE TONE
    per row, bin-aligned to a 64-sample analysis window — frequency bin
    k = 1 + id % 20 (so exactly k cycles fit one window), amplitude
    0.5 + (id % 400)/1000, frames = 64 * (2 + id % 6), mono, 8000 Hz.
    Bin alignment + float samples make the 64-point DFT magnitude
    concentrate in bin k alone (every other bin is float32 rounding
    noise, ~1e-7 of the peak — below the round-4 threshold the feature
    kernel emits), so the REAL FFT pipeline has a FULLY closed-form
    oracle: dominant_bin = k, dominant_hz = 125k, and the band-energy
    shares are exactly 1/0 per third.  (A PCM16 tone leaves ~1e-4
    quantization shares in the off bands — the r4 reason only the
    dominant columns were oracle-hashed.)"""
    import math

    def _wav(i: int) -> bytes:
        rate, n_fft = 8000, 64
        k = 1 + int(i) % 20
        amp = 0.5 + (int(i) % 400) / 1000.0
        n_frames = n_fft * (2 + int(i) % 6)
        samples = b"".join(
            struct.pack("<f", amp * math.sin(2 * math.pi * k * t / n_fft))
            for t in range(n_frames)
        )
        fmt = struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
        body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(samples)) + samples
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_wav(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


_SPECTRAL_SCHEMA = (
    "media_id long, sample_rate int, n_windows int, dominant_bin int, "
    "dominant_hz double, band_low double, band_mid double, "
    "band_high double, decoded_ok boolean"
)


def audio_spectral_features(media: DataFrame, n_fft: int = 64) -> DataFrame:
    """REAL frequency-domain feature extraction over the binary audio
    column: decode PCM16, average channels to mono, frame into
    non-overlapping ``n_fft`` windows, numpy rfft per window, average
    the magnitude spectra, and emit the dominant non-DC bin, its
    frequency in Hz, and low/mid/high third band-energy shares (rounded
    4 — the repo's cross-engine float discipline).  The feature set a
    training pipeline filters on (tone vs noise vs silence) before any
    model sees the audio.

    Arrow-batched mapInPandas; payload bytes never leave the executors;
    O(frames log n_fft) per clip.  Clips shorter than one window (or
    non-PCM16 payloads) come back decoded_ok = false.
    """
    import numpy as np

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, _ch, _bits, _nf = parse_wav_header(payload)
                px = decode_wav_pcm(payload)
                if px is None or px.shape[0] < n_fft:
                    rows.append(
                        (mid, None, None, None, None, None, None, None, False)
                    )
                    continue
                mono = px.astype(np.float64).mean(axis=1)
                n_win = mono.shape[0] // n_fft
                frames = mono[: n_win * n_fft].reshape(n_win, n_fft)
                mag = np.abs(np.fft.rfft(frames, axis=1)).mean(axis=0)
                spec = mag[1:]  # drop DC for dominance/banding
                dom = int(np.argmax(spec)) + 1
                total = float(spec.sum()) or 1.0
                third = len(spec) // 3
                bands = [
                    float(spec[:third].sum()) / total,
                    float(spec[third : 2 * third].sum()) / total,
                    float(spec[2 * third :].sum()) / total,
                ]
                rows.append(
                    (
                        mid, rate, n_win, dom,
                        round(dom * rate / n_fft, 2),
                        round(bands[0], 4), round(bands[1], 4),
                        round(bands[2], 4), True,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_windows",
                         "dominant_bin", "dominant_hz", "band_low",
                         "band_mid", "band_high", "decoded_ok"],
            )
            for c in ("sample_rate", "n_windows", "dominant_bin"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _SPECTRAL_SCHEMA
    )


# --------------------------------------------------------------------------
# JPEG: baseline sequential DCT codec (ITU T.81), pure stdlib + numpy
# --------------------------------------------------------------------------

# Zigzag scan order: index i of the stream maps to (row, col) in the block.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    """Orthonormal 8x8 DCT-II matrix C: F = C @ B @ C.T, B = C.T @ F @ C."""
    import math

    import numpy as np

    c = np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            c[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return c


class _BitWriter:
    """MSB-first bit stream with JPEG 0xFF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits  # pad with 0s (1s also legal)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)

    def restart_marker(self, n: int) -> None:
        """Byte-align and emit RSTn (markers sit OUTSIDE the entropy
        bit stream, unstuffed — T.81 B.2.1.2)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


class _BitReader:
    """MSB-first reader over entropy-coded data, un-stuffing FF00."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise EOFError
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise EOFError  # a real marker: data exhausted
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Consume an RSTn marker: discard pad bits to the byte
        boundary, then the two marker bytes.  Raises if absent."""
        self.nbits = 0
        if not (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


def _huff_decode_table(counts, symbols):
    """(code, length) -> symbol map from a DHT definition, canonical
    assignment per T.81 (code=0 grows left-to-right per length)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_read(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _magnitude_bits(v: int):
    """(category, value-bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _extend(bits: int, s: int) -> int:
    """Inverse of _magnitude_bits (T.81 EXTEND)."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


# Simple valid Huffman specs (Kraft-incomplete, no all-ones code): DC —
# the 12 categories at 5 bits; AC — all 256 run/size symbols, 2 at 8
# bits + 254 at 9 (a DHT count byte caps one length at 255 symbols).
# Any conforming decoder (including ours) reads the tables from DHT, so
# the encoder need not ship the Annex K defaults.
_ENC_DC_COUNTS = [0, 0, 0, 0, 12] + [0] * 11
_ENC_DC_SYMBOLS = list(range(12))
_ENC_AC_COUNTS = [0] * 7 + [2, 254] + [0] * 7
_ENC_AC_SYMBOLS = list(range(256))
# 12-bit extended sequential (SOF1) needs DC categories up to 15
# (T.81 table F.1 extends the 8-bit 0-11 range); the flat AC table
# above already spans all 256 (run, size) symbols incl. size 14.
_ENC12_DC_COUNTS = [0, 0, 0, 0, 16] + [0] * 11
_ENC12_DC_SYMBOLS = list(range(16))


def _huff_encode_table(counts, symbols):
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def encode_jpeg_baseline(px, restart_interval: int = 0) -> bytes:
    """Encode an (H, W) grayscale or (H, W, 3) RGB uint8 array as a
    baseline sequential JPEG (SOF0), 4:4:4, all-ones quantization tables
    (maximum fidelity: the only loss is FDCT/IDCT and color-transform
    rounding).  Layout per T.81: SOI, DQT, SOF0, DHT x2, SOS, entropy
    data with byte stuffing, EOI.  ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker (cycling n = 0..7) every that many MCUs,
    resetting the DC predictors — the resynchronization structure real
    encoders emit for error resilience (r5)."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        comps = [px.astype(np.float64) - 128.0]
    else:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [
            np.round(c).clip(0, 255) - 128.0 for c in (y, cb, cr)
        ]

    C = _dct_matrix()
    dc_tab = _huff_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_tab = _huff_encode_table(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)
    bw = _BitWriter()
    pred = [0] * len(comps)
    bh, bwid = (h + 7) // 8, (w + 7) // 8
    mcu_index = 0
    for by in range(bh):
        for bx in range(bwid):
            if (
                restart_interval
                and mcu_index
                and mcu_index % restart_interval == 0
            ):
                bw.restart_marker(mcu_index // restart_interval - 1)
                pred = [0] * len(comps)
            mcu_index += 1
            for ci, comp in enumerate(comps):
                # edge-replicated 8x8 block
                ys = np.minimum(np.arange(by * 8, by * 8 + 8), h - 1)
                xs = np.minimum(np.arange(bx * 8, bx * 8 + 8), w - 1)
                block = comp[np.ix_(ys, xs)]
                coef = np.round(C @ block @ C.T).astype(np.int64)
                zz = coef.flat[_JPEG_ZIGZAG]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                s, bits = _magnitude_bits(diff)
                code, length = dc_tab[s]
                bw.put(code, length)
                if s:
                    bw.put(bits, s)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_tab[0xF0]  # ZRL
                        bw.put(code, length)
                        run -= 16
                    s, bits = _magnitude_bits(v)
                    code, length = ac_tab[(run << 4) | s]
                    bw.put(code, length)
                    bw.put(bits, s)
                    run = 0
                if run:
                    code, length = ac_tab[0x00]  # EOB
                    bw.put(code, length)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    ncomp = len(comps)
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))  # DQT id 0, all 1s
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0])  # 1x1 sampling, quant table 0
    out += seg(0xFFC0, sof)
    out += seg(
        0xFFC4,
        bytes([0x00]) + bytes(_ENC_DC_COUNTS) + bytes(_ENC_DC_SYMBOLS),
    )
    out += seg(
        0xFFC4,
        bytes([0x10]) + bytes(_ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS),
    )
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_12bit(px) -> bytes:
    """Encode an (H, W) GRAYSCALE uint16 array (values 0..4095) as a
    12-bit-precision EXTENDED SEQUENTIAL JPEG (SOF1 — T.81 restricts
    baseline SOF0 to 8 bits): level shift 2048, all-ones quantization,
    a DC Huffman table extended to categories 0-15 (the flat AC table
    already spans every (run, size) symbol).  The medical/scientific
    imaging precision variant — DICOM's classic 12-bit JPEG.
    """
    import numpy as np

    px = np.asarray(px)
    if px.ndim != 2:
        raise ValueError("12-bit encoding supports grayscale (H, W) only")
    if px.dtype != np.uint16 or (px.size and int(px.max()) > 4095):
        raise ValueError("12-bit encoding needs uint16 samples in 0..4095")
    h, w = px.shape
    comp = px.astype(np.float64) - 2048.0

    C = _dct_matrix()
    dc_tab = _huff_encode_table(_ENC12_DC_COUNTS, _ENC12_DC_SYMBOLS)
    ac_tab = _huff_encode_table(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)
    bw = _BitWriter()
    pred = 0
    bh, bwid = (h + 7) // 8, (w + 7) // 8
    for by in range(bh):
        for bx in range(bwid):
            ys = np.minimum(np.arange(by * 8, by * 8 + 8), h - 1)
            xs = np.minimum(np.arange(bx * 8, bx * 8 + 8), w - 1)
            block = comp[np.ix_(ys, xs)]
            coef = np.round(C @ block @ C.T).astype(np.int64)
            zz = coef.flat[_JPEG_ZIGZAG]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            s_, bits = _magnitude_bits(diff)
            code, length = dc_tab[s_]
            bw.put(code, length)
            if s_:
                bw.put(bits, s_)
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_tab[0xF0]
                    bw.put(code, length)
                    run -= 16
                s_, bits = _magnitude_bits(v)
                code, length = ac_tab[(run << 4) | s_]
                bw.put(code, length)
                bw.put(bits, s_)
                run = 0
            if run:
                code, length = ac_tab[0x00]
                bw.put(code, length)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xFFC1, struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xFFC4,
        bytes([0x00]) + bytes(_ENC12_DC_COUNTS) + bytes(_ENC12_DC_SYMBOLS),
    )
    out += seg(
        0xFFC4, bytes([0x10]) + bytes(_ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS)
    )
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_pixels(payload):
    """REAL pixel decode for JPEG: baseline sequential (SOF0) inline —
    including SUBSAMPLED chroma (4:2:0 / 4:2:2 MCU interleaving with
    replication upsampling, r5) — and PROGRESSIVE (SOF2 — spectral
    selection + successive approximation, r5) via
    _decode_jpeg_progressive.  8-bit, sampling factors 1-2, no restart
    intervals; marker walk, DHT/DQT tables, Huffman + run-length
    entropy decode, dequantize, float64 IDCT, level shift, YCbCr->RGB.
    Progressive+subsampled COMBINED decodes too (r5: interleaved-MCU
    DC scans over per-component ceil-block AC extents).  Returns
    (H, W, C) uint8 (C = 1 or 3) or None for unsupported/invalid
    payloads (12-bit, arithmetic coding).  Pure stdlib+numpy — the
    published T.81 layout, no libjpeg."""
    import numpy as np

    if not payload:
        return None
    b = bytes(payload)
    if b[:2] != b"\xff\xd8":
        return None
    i = 2
    qt = {}
    dc_tables = {}
    ac_tables = {}
    h = w = None
    comps = []  # (id, qt_id)
    scan = None
    scan_comps = []
    dri = 0
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
        body = b[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0xF
                if pq != 0:
                    return None  # 16-bit tables: not baseline-8
                qt[tq] = np.array(list(body[j + 1 : j + 65]), dtype=np.int64)
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0xF
                counts = list(body[j + 1 : j + 17])
                n = sum(counts)
                symbols = list(body[j + 17 : j + 17 + n])
                tbl = _huff_decode_table(counts, symbols)
                (dc_tables if tc == 0 else ac_tables)[th] = tbl
                j += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            # SOF0 is 8-bit by definition; SOF1 additionally allows the
            # 12-bit precision (T.81 table B.2)
            if prec != 8 and not (marker == 0xC1 and prec == 12):
                return None
            for k in range(nc):
                cid, samp, tq = body[6 + 3 * k : 9 + 3 * k]
                hi, vi = samp >> 4, samp & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    return None  # sampling factors 1-2 (4:4:4/4:2:2/4:2:0)
                comps.append((cid, tq, hi, vi))
        elif marker == 0xC2:  # progressive: dedicated multi-scan path
            return _decode_jpeg_progressive(b)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # other non-baseline frame types
        elif marker == 0xDD:  # DRI: restart every `dri` MCUs (r5)
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            for k in range(ns):
                cid, tabs = body[1 + 2 * k : 3 + 2 * k]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            scan = b[i + 2 + seglen :]
            break
        i += 2 + seglen
    if scan is None or h is None or not comps:
        return None
    if len(scan_comps) != len(comps):
        return None

    C = _dct_matrix()
    reader = _BitReader(scan)
    # MCU geometry (T.81 A.2.3): interleaved scans emit vi*hi blocks
    # per component per MCU; 4:4:4 degenerates to one block each.
    hmax = max(hi for _cid, _tq, hi, _vi in comps)
    vmax = max(vi for _cid, _tq, _hi, vi in comps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcy * vi * 8, mcx * hi * 8))
        for _cid, _tq, hi, vi in comps
    ]
    pred = [0] * len(comps)
    meta = {cid: (ci, tq, hi, vi) for ci, (cid, tq, hi, vi) in enumerate(comps)}
    mcu_index = 0
    try:
        for my in range(mcy):
            for mx in range(mcx):
                if dri and mcu_index and mcu_index % dri == 0:
                    # byte-align, swallow RSTn, reset every DC predictor
                    reader.restart()
                    pred = [0] * len(comps)
                mcu_index += 1
                for cid, dct, act in scan_comps:
                    ci, tq, hi, vi = meta[cid]
                    for bv in range(vi):
                        for bhh in range(hi):
                            zz = np.zeros(64, dtype=np.int64)
                            s = _huff_read(reader, dc_tables[dct])
                            diff = _extend(reader.bits(s), s) if s else 0
                            pred[ci] += diff
                            zz[0] = pred[ci]
                            k = 1
                            while k < 64:
                                sym = _huff_read(reader, ac_tables[act])
                                if sym == 0x00:  # EOB
                                    break
                                if sym == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += sym >> 4
                                size = sym & 0xF
                                if k > 63:
                                    return None
                                zz[k] = _extend(reader.bits(size), size)
                                k += 1
                            coef = np.zeros(64, dtype=np.float64)
                            coef[_JPEG_ZIGZAG] = zz * qt[tq]
                            block = C.T @ coef.reshape(8, 8) @ C
                            py = (my * vi + bv) * 8
                            pxx = (mx * hi + bhh) * 8
                            planes[ci][py : py + 8, pxx : pxx + 8] = block
    except (EOFError, KeyError, ValueError):
        return None
    # upsample subsampled planes by pixel replication, then crop
    half = float(1 << (prec - 1))
    maxv = (1 << prec) - 1
    up = []
    for plane, (_cid, _tq, hi, vi) in zip(planes, comps):
        if hi < hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        if vi < vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        up.append(plane[:h, :w] + half)
    planes = up
    if len(planes) == 1:
        out = (
            np.round(planes[0]).clip(0, maxv)
            .astype(np.uint8 if prec == 8 else np.uint16)
        )
        return out.reshape(h, w, 1)
    if prec != 8:
        return None  # 12-bit color: out of scope (grayscale only)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bch = y + 1.772 * (cb - 128.0)
    out = np.stack(
        [np.round(c).clip(0, 255).astype(np.uint8) for c in (r, g, bch)],
        axis=-1,
    )
    return out


def encode_jpeg_subsampled(px, factors=((2, 2), (1, 1), (1, 1))) -> bytes:
    """Encode an (H, W, 3) RGB uint8 array as baseline JPEG with
    SUBSAMPLED chroma — default 4:2:0 (Y at 2x2, Cb/Cr at 1x1), pass
    ((2, 1), (1, 1), (1, 1)) for 4:2:2.  Chroma planes are box-averaged
    down (the decoder upsamples by replication, so 2x2-uniform chroma —
    e.g. any R=G=B image, where chroma is the constant 128 — round-trips
    exactly like 4:4:4).  MCU-interleaved entropy coding per T.81
    A.2.3, all-ones quantization, same DHT tables as the other
    encoders."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("subsampled encoding needs an (H, W, 3) array")
    h, w = px.shape[:2]
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    full = [np.round(c).clip(0, 255) for c in (y, cb, cr)]

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)

    planes = []
    for (hi, vi), plane in zip(factors, full):
        fx, fy = hmax // hi, vmax // vi
        if fx > 1 or fy > 1:
            # box-average downsample (edge-replicate to even dims first)
            ph = (plane.shape[0] + fy - 1) // fy * fy
            pw = (plane.shape[1] + fx - 1) // fx * fx
            padded = np.pad(
                plane,
                ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                mode="edge",
            )
            plane = padded.reshape(ph // fy, fy, pw // fx, fx).mean(
                axis=(1, 3)
            )
            plane = np.round(plane)
        # pad to the MCU grid with edge replication
        th, tw = mcy * vi * 8, mcx * hi * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        planes.append(plane - 128.0)

    C = _dct_matrix()
    dc_tab = _huff_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_tab = _huff_encode_table(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)
    bw = _BitWriter()
    pred = [0, 0, 0]
    for my in range(mcy):
        for mx in range(mcx):
            for ci, ((hi, vi), plane) in enumerate(zip(factors, planes)):
                for bv in range(vi):
                    for bhh in range(hi):
                        py = (my * vi + bv) * 8
                        pxx = (mx * hi + bhh) * 8
                        block = plane[py : py + 8, pxx : pxx + 8]
                        coef = np.round(C @ block @ C.T).astype(np.int64)
                        zz = coef.flat[_JPEG_ZIGZAG]
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s, bits = _magnitude_bits(diff)
                        code, length = dc_tab[s]
                        bw.put(code, length)
                        if s:
                            bw.put(bits, s)
                        run = 0
                        for k in range(1, 64):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, length = ac_tab[0xF0]
                                bw.put(code, length)
                                run -= 16
                            s, bits = _magnitude_bits(v)
                            code, length = ac_tab[(run << 4) | s]
                            bw.put(code, length)
                            bw.put(bits, s)
                            run = 0
                        if run:
                            code, length = ac_tab[0x00]
                            bw.put(code, length)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (hi, vi) in zip((1, 2, 3), factors):
        sof += bytes([cid, (hi << 4) | vi, 0])
    out += seg(0xFFC0, sof)
    out += seg(
        0xFFC4, bytes([0x00]) + bytes(_ENC_DC_COUNTS) + bytes(_ENC_DC_SYMBOLS)
    )
    out += seg(
        0xFFC4, bytes([0x10]) + bytes(_ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS)
    )
    sos = bytes([3])
    for cid in (1, 2, 3):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_block_coefficients(px):
    """Shared front half of both JPEG encoders: color transform, 8x8
    blocking with edge replication, FDCT, all-ones quantization.
    Returns (h, w, list of (bh, bw, 64) zigzag-ordered int arrays)."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        comps = [px.astype(np.float64) - 128.0]
    else:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [np.round(c).clip(0, 255) - 128.0 for c in (y, cb, cr)]
    C = _dct_matrix()
    bh, bwid = (h + 7) // 8, (w + 7) // 8
    out = []
    for comp in comps:
        zz = np.zeros((bh, bwid, 64), dtype=np.int64)
        for by in range(bh):
            ys = np.minimum(np.arange(by * 8, by * 8 + 8), h - 1)
            for bx in range(bwid):
                xs = np.minimum(np.arange(bx * 8, bx * 8 + 8), w - 1)
                coef = np.round(C @ comp[np.ix_(ys, xs)] @ C.T).astype(
                    np.int64
                )
                zz[by, bx] = coef.flat[_JPEG_ZIGZAG]
        out.append(zz)
    return h, w, out


def _trunc_shift(v: int, al: int) -> int:
    """AC point transform: integer divide by 2^Al truncating toward
    zero (T.81 G.1.2.1 — DC uses a plain arithmetic shift instead)."""
    return -((-v) >> al) if v < 0 else v >> al


class _RefineWriter:
    """AC-refinement emission (T.81 G.1.2.3).  The decoder consumes
    correction bits POSITIONALLY while advancing through a symbol's
    run, and the corrections of EOB-covered blocks right after the
    EOBn symbol — so the two kinds must be buffered separately: bits
    belonging to the pending EOB run drain with its flush; bits
    belonging to the current symbol's run drain after that symbol."""

    def __init__(self, bw, ac_tab):
        self.bw = bw
        self.ac_tab = ac_tab
        self.eobrun = 0
        self.eob_bits = []  # corrections of the EOB-covered blocks

    def _flush_eobrun(self):
        while self.eobrun > 0:
            n = min(self.eobrun, 32767)
            r = n.bit_length() - 1
            code, length = self.ac_tab[r << 4]
            self.bw.put(code, length)
            if r:
                self.bw.put(n - (1 << r), r)
            for bit in self.eob_bits:
                self.bw.put(bit, 1)
            self.eob_bits = []
            self.eobrun -= n

    def symbol(self, rs: int, sign_bit, run_bits):
        self._flush_eobrun()
        code, length = self.ac_tab[rs]
        self.bw.put(code, length)
        if sign_bit is not None:
            self.bw.put(sign_bit, 1)
        for bit in run_bits:
            self.bw.put(bit, 1)

    def block_end(self, tail_bits):
        self.eob_bits.extend(tail_bits)
        self.eobrun += 1

    def end(self):
        self._flush_eobrun()


def _subsampled_block_coefficients(px, factors):
    """Per-component zigzag DCT coefficient grids for SUBSAMPLED RGB
    input: returns (h, w, comps, ac_dims, mcu_dims) where comps[ci] is
    an (mcy*vi, mcx*hi, 64) int64 array padded to the MCU grid,
    ac_dims[ci] = (cbh, cbw) is the block extent NON-interleaved scans
    cover (T.81 A.2.2: ceil over the component's own sample dims — the
    MCU grid may hold extra padding blocks whose AC is never coded),
    and mcu_dims = (mcy, mcx)."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("subsampled encoding needs an (H, W, 3) array")
    h, w = px.shape[:2]
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    full = [np.round(c).clip(0, 255) for c in (y, cb, cr)]

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    C = _dct_matrix()
    comps, ac_dims = [], []
    for (hi, vi), plane in zip(factors, full):
        fx, fy = hmax // hi, vmax // vi
        if fx > 1 or fy > 1:
            ph = (plane.shape[0] + fy - 1) // fy * fy
            pw = (plane.shape[1] + fx - 1) // fx * fx
            padded = np.pad(
                plane,
                ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                mode="edge",
            )
            plane = np.round(
                padded.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
            )
        cw = (w * hi + hmax - 1) // hmax
        ch = (h * vi + vmax - 1) // vmax
        ac_dims.append(((ch + 7) // 8, (cw + 7) // 8))
        th, tw = mcy * vi * 8, mcx * hi * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        ) - 128.0
        grid = np.zeros((mcy * vi, mcx * hi, 64), dtype=np.int64)
        for by in range(mcy * vi):
            for bx in range(mcx * hi):
                block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coefb = np.round(C @ block @ C.T).astype(np.int64)
                grid[by, bx] = coefb.flat[_JPEG_ZIGZAG]
        comps.append(grid)
    return h, w, comps, ac_dims, (mcy, mcx)


def encode_jpeg_progressive(px, factors=None) -> bytes:
    """Encode uint8 grayscale (H, W) or RGB (H, W, 3) as a PROGRESSIVE
    JPEG (SOF2) exercising BOTH progressive dimensions: spectral
    selection (separate DC and AC scans) and successive approximation
    (first scans at Al=1, then refinement scans at Al=0 — DC refine as
    raw bits, AC refine with EOB runs + correction bits).  Same
    all-ones quantization as encode_jpeg_baseline, so the quantized
    coefficients — and therefore the decoded pixels — are IDENTICAL to
    the baseline encoding of the same array (the cross-codec oracle
    tests/test_properties.py pins).

    ``factors`` (e.g. ``((2, 2), (1, 1), (1, 1))`` = 4:2:0) combines
    BOTH exotic dimensions — progressive scans over subsampled chroma:
    DC scans walk the interleaved MCU grid (per-component hi x vi
    blocks per MCU, T.81 A.2.3), while each AC scan walks only its own
    component's ceil-block extent (A.2.2 — the MCU grid's padding
    blocks carry DC but never AC).  Quantized coefficients match
    ``encode_jpeg_subsampled`` with the same factors exactly."""
    if factors is None:
        h, w, comps = _jpeg_block_coefficients(px)
        ncomp = len(comps)
        bh, bwid = comps[0].shape[:2]
        factors = [(1, 1)] * ncomp
        ac_dims = [(bh, bwid)] * ncomp
        mcu_order = [
            (ci, by, bx)
            for by in range(bh)
            for bx in range(bwid)
            for ci in range(ncomp)
        ]
    else:
        h, w, comps, ac_dims, (mcy, mcx) = _subsampled_block_coefficients(
            px, factors
        )
        ncomp = len(comps)
        mcu_order = [
            (ci, my * vi + bv, mx * hi + bhh)
            for my in range(mcy)
            for mx in range(mcx)
            for ci, (hi, vi) in enumerate(factors)
            for bv in range(vi)
            for bhh in range(hi)
        ]
    dc_tab = _huff_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_tab = _huff_encode_table(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)

    scans = []  # (sos_body, entropy_bytes)

    def sos(comp_ids, tables, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid, tab in zip(comp_ids, tables):
            body += bytes([cid, tab])
        return body + bytes([ss, se, (ah << 4) | al])

    # scan 1: DC first (interleaved, Al=1) — diff-coded arithmetic shift
    bw = _BitWriter()
    pred = [0] * ncomp
    for ci, by, bx in mcu_order:
        v = int(comps[ci][by, bx, 0]) >> 1
        diff = v - pred[ci]
        pred[ci] = v
        s, bits = _magnitude_bits(diff)
        code, length = dc_tab[s]
        bw.put(code, length)
        if s:
            bw.put(bits, s)
    scans.append(
        (sos(list(range(1, ncomp + 1)), [0x00] * ncomp, 0, 0, 0, 1),
         bw.flush())
    )

    # scan 2: DC refinement (Al=0) — one raw bit per block, MCU order
    bw = _BitWriter()
    for ci, by, bx in mcu_order:
        bw.put(int(comps[ci][by, bx, 0]) & 1, 1)
    scans.append(
        (sos(list(range(1, ncomp + 1)), [0x00] * ncomp, 0, 0, 1, 0),
         bw.flush())
    )

    for ci in range(ncomp):
        # AC first (Ss=1..63, Al=1) with EOB-run coding
        bw = _BitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            while eobrun > 0:
                n = min(eobrun, 32767)
                r = n.bit_length() - 1
                code, length = ac_tab[r << 4]
                bw.put(code, length)
                if r:
                    bw.put(n - (1 << r), r)
                eobrun -= n

        cbh, cbw = ac_dims[ci]
        for by in range(cbh):
            for bx in range(cbw):
                zz = comps[ci][by, bx]
                vals = [_trunc_shift(int(zz[k]), 1) for k in range(64)]
                last = 0
                for k in range(63, 0, -1):
                    if vals[k]:
                        last = k
                        break
                if last == 0:
                    eobrun += 1
                    continue
                flush_eob()
                run = 0
                for k in range(1, last + 1):
                    v = vals[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_tab[0xF0]
                        bw.put(code, length)
                        run -= 16
                    s, bits = _magnitude_bits(v)
                    code, length = ac_tab[(run << 4) | s]
                    bw.put(code, length)
                    bw.put(bits, s)
                    run = 0
                if last < 63:
                    eobrun += 1
        flush_eob()
        scans.append((sos([ci + 1], [0x00], 1, 63, 0, 1), bw.flush()))

    for ci in range(ncomp):
        # AC refinement (Al=0): newly-nonzero (|v| == 1) coded with
        # s=1 + sign; previously-nonzero append correction bits (their
        # low bit); runs count zero-history positions only
        bw = _BitWriter()
        rw = _RefineWriter(bw, ac_tab)
        cbh, cbw = ac_dims[ci]
        for by in range(cbh):
            for bx in range(cbw):
                zz = comps[ci][by, bx]
                last = 0
                for k in range(63, 0, -1):
                    if abs(int(zz[k])) == 1:  # newly visible at Al=0
                        last = k
                        break
                # events since the last emitted symbol, in POSITION
                # order: None = zero-history slot, int = correction bit
                # of a previously-nonzero coefficient
                events = []
                for k in range(1, last + 1):
                    v = int(zz[k])
                    if v == 0:
                        events.append(None)
                        continue
                    if abs(v) > 1:
                        events.append(abs(v) & 1)
                        continue
                    # newly nonzero: first burn full ZRLs (each covers
                    # 16 zero-history slots + the corrections met there)
                    while sum(e is None for e in events) > 15:
                        zseen, cut = 0, 0
                        zrl_bits = []
                        for idx, ev in enumerate(events):
                            if ev is None:
                                zseen += 1
                                if zseen == 16:
                                    cut = idx + 1
                                    break
                            else:
                                zrl_bits.append(ev)
                        rw.symbol(0xF0, None, zrl_bits)
                        events = events[cut:]
                    r = sum(e is None for e in events)
                    rw.symbol(
                        (r << 4) | 1,
                        1 if v > 0 else 0,
                        [e for e in events if e is not None],
                    )
                    events = []
                # tail: past the last newly-nonzero, corrections join
                # the EOB run (events is empty here by construction).
                # A block coded through Se (last == 63) is COMPLETE —
                # the decoder reads no EOB for it, so it must not join
                # the run (the exact off-by-one the first-scan encoder
                # guards with `last < 63`).
                if last < 63:
                    rw.block_end(
                        [
                            abs(int(zz[k])) & 1
                            for k in range(last + 1, 64)
                            if abs(int(zz[k])) > 1
                        ]
                    )
        rw.end()
        scans.append((sos([ci + 1], [0x00], 1, 63, 1, 0), bw.flush()))

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, (hi, vi) in zip(range(1, ncomp + 1), factors):
        sof += bytes([cid, (hi << 4) | vi, 0])
    out += seg(0xFFC2, sof)  # SOF2: progressive
    out += seg(
        0xFFC4, bytes([0x00]) + bytes(_ENC_DC_COUNTS) + bytes(_ENC_DC_SYMBOLS)
    )
    out += seg(
        0xFFC4, bytes([0x10]) + bytes(_ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS)
    )
    for sos_body, entropy in scans:
        out += seg(0xFFDA, sos_body)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _decode_jpeg_progressive(b: bytes):
    """Progressive JPEG (SOF2) decode: accumulate coefficients across
    every scan — DC first/refine, AC first with EOB runs, AC refine
    with correction bits (T.81 Annex G; 8-bit, 4:4:4/gray, no restart
    markers) — then dequantize + IDCT + color like the baseline path."""
    import numpy as np

    i = 2
    qt = {}
    dc_tables = {}
    ac_tables = {}
    h = w = None
    comps = []  # (cid, tq)
    coef = {}   # ci -> (bh, bw, 64) int64 zigzag coefficients
    eobrun = 0

    def scan_end(j):
        while j + 1 < len(b):
            if b[j] == 0xFF and b[j + 1] != 0x00 and not (
                0xD0 <= b[j + 1] <= 0xD7
            ):
                return j
            j += 1
        return len(b)

    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
        body = b[i + 4 : i + 2 + seglen]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0xF
                if pq != 0:
                    return None
                qt[tq] = np.array(list(body[j + 1 : j + 65]), dtype=np.int64)
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0xF
                counts = list(body[j + 1 : j + 17])
                n = sum(counts)
                symbols = list(body[j + 17 : j + 17 + n])
                (dc_tables if tc == 0 else ac_tables)[th] = (
                    _huff_decode_table(counts, symbols)
                )
                j += 17 + n
        elif marker == 0xC2:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                return None
            for k in range(nc):
                cid, samp, tq = body[6 + 3 * k : 9 + 3 * k]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    return None
                comps.append((cid, tq, hi, vi))
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            mcx = (w + 8 * hmax - 1) // (8 * hmax)
            mcy = (h + 8 * vmax - 1) // (8 * vmax)
            ac_dims = []
            for ci, (cid, tq, hi, vi) in enumerate(comps):
                # interleaved (MCU) grid holds every coded block; AC
                # scans only ever cover the component's own ceil-block
                # extent (T.81 A.2.2 vs A.2.3)
                coef[ci] = np.zeros((mcy * vi, mcx * hi, 64), dtype=np.int64)
                cw = (w * hi + hmax - 1) // hmax
                ch = (h * vi + vmax - 1) // vmax
                ac_dims.append(((ch + 7) // 8, (cw + 7) // 8))
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", body[:2])
            if dri != 0:
                return None
        elif marker == 0xDA:
            if h is None:
                return None
            ns = body[0]
            sc = []
            for k in range(ns):
                cid, tabs = body[1 + 2 * k : 3 + 2 * k]
                ci = next(
                    (n for n, c in enumerate(comps) if c[0] == cid), None
                )
                if ci is None:
                    return None
                sc.append((ci, tabs >> 4, tabs & 0xF))
            ss, se, aa = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = aa >> 4, aa & 0xF
            end = scan_end(i + 2 + seglen)
            reader = _BitReader(b[i + 2 + seglen : end])
            eobrun = 0
            try:
                if ss == 0:  # DC scan
                    pred = [0] * len(sc)
                    if len(sc) > 1:  # interleaved: MCU order, hi x vi
                        # blocks per component per MCU (T.81 A.2.3)
                        targets = [
                            (si, ci, dct, my * comps[ci][3] + bv,
                             mx * comps[ci][2] + bhh)
                            for my in range(mcy)
                            for mx in range(mcx)
                            for si, (ci, dct, _act) in enumerate(sc)
                            for bv in range(comps[ci][3])
                            for bhh in range(comps[ci][2])
                        ]
                    else:  # non-interleaved: the component's own extent
                        ci0, dct0, _act0 = sc[0]
                        cbh, cbw = ac_dims[ci0]
                        targets = [
                            (0, ci0, dct0, by, bx)
                            for by in range(cbh)
                            for bx in range(cbw)
                        ]
                    for si, ci, dct, by, bx in targets:
                        if ah == 0:
                            s = _huff_read(reader, dc_tables[dct])
                            diff = (
                                _extend(reader.bits(s), s) if s else 0
                            )
                            pred[si] += diff
                            coef[ci][by, bx, 0] = pred[si] << al
                        else:  # refinement: one raw bit
                            coef[ci][by, bx, 0] += reader.bit() << al
                else:  # AC scan: single component, non-interleaved
                    if len(sc) != 1 or se > 63 or ss > se:
                        return None
                    ci, _dct, act = sc[0]
                    table = ac_tables[act]
                    cbh, cbw = ac_dims[ci]
                    for by in range(cbh):
                        for bx in range(cbw):
                            zz = coef[ci][by, bx]
                            if ah == 0:  # first scan
                                if eobrun > 0:
                                    eobrun -= 1
                                    continue
                                k = ss
                                while k <= se:
                                    sym = _huff_read(reader, table)
                                    r, s = sym >> 4, sym & 0xF
                                    if s == 0:
                                        if r < 15:
                                            eobrun = (1 << r) - 1
                                            if r:
                                                eobrun += reader.bits(r)
                                            break
                                        k += 16  # ZRL
                                        continue
                                    k += r
                                    if k > se:
                                        return None
                                    zz[k] = (
                                        _extend(reader.bits(s), s) << al
                                    )
                                    k += 1
                            else:  # refinement scan
                                p1, m1 = 1 << al, -1 << al

                                def correct(kk):
                                    if reader.bit():
                                        if zz[kk] > 0 and not (
                                            zz[kk] & p1
                                        ):
                                            zz[kk] += p1
                                        elif zz[kk] < 0 and not (
                                            zz[kk] & p1
                                        ):
                                            zz[kk] += m1
                                if eobrun > 0:
                                    for kk in range(ss, se + 1):
                                        if zz[kk]:
                                            correct(kk)
                                    eobrun -= 1
                                    continue
                                k = ss
                                while k <= se:
                                    sym = _huff_read(reader, table)
                                    r, s = sym >> 4, sym & 0xF
                                    newval = 0
                                    if s == 0:
                                        if r < 15:  # EOBn
                                            eobrun = (1 << r)
                                            if r:
                                                eobrun += reader.bits(r)
                                            break
                                        # ZRL: skip 16 zero-history slots
                                    elif s == 1:
                                        newval = p1 if reader.bit() else m1
                                    else:
                                        return None
                                    while k <= se:
                                        if zz[k]:
                                            correct(k)
                                        else:
                                            if r == 0:
                                                break
                                            r -= 1
                                        k += 1
                                    if newval and k <= se:
                                        zz[k] = newval
                                    k += 1
                                if eobrun > 0:
                                    # EOBn covers the REST of this block
                                    for kk in range(k, se + 1):
                                        if zz[kk]:
                                            correct(kk)
                                    eobrun -= 1
            except (EOFError, KeyError, ValueError):
                return None
            i = end
            continue
        i += 2 + seglen
    if h is None or not comps:
        return None

    C = _dct_matrix()
    planes = []
    for ci, (cid, tq, hi, vi) in enumerate(comps):
        gh, gw = coef[ci].shape[:2]
        plane = np.zeros((gh * 8, gw * 8))
        q = qt.get(tq)
        if q is None:
            return None
        for by in range(gh):
            for bx in range(gw):
                dq = np.zeros(64, dtype=np.float64)
                dq[_JPEG_ZIGZAG] = coef[ci][by, bx] * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    C.T @ dq.reshape(8, 8) @ C
                )
        # upsample subsampled planes by pixel replication, then crop
        fx, fy = hmax // hi, vmax // vi
        if fx > 1 or fy > 1:
            plane = np.kron(plane, np.ones((fy, fx)))
        planes.append(plane[:h, :w] + 128.0)
    if len(planes) == 1:
        return (
            np.round(planes[0]).clip(0, 255).astype(np.uint8).reshape(h, w, 1)
        )
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bch = y + 1.772 * (cb - 128.0)
    return np.stack(
        [np.round(c).clip(0, 255).astype(np.uint8) for c in (r, g, bch)],
        axis=-1,
    )


def jpeg_pixel_stats(media: DataFrame) -> DataFrame:
    """Full-pixel JPEG decode over the binary column (baseline SOF0):
    per-channel means from the reconstructed array — the JPEG twin of
    ``png_pixel_stats``.  Arrow-batched mapInPandas; payloads never
    leave the executors."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_jpeg_pixels(payload)
                if px is None:
                    rows.append((mid, None, None, None, None, None, None, False))
                else:
                    h, w, c = px.shape
                    means = px.reshape(-1, c).mean(axis=0)
                    mr = float(means[0])
                    mg = float(means[1]) if c > 1 else mr
                    mb = float(means[2]) if c > 2 else mr
                    rows.append((mid, w, h, c, mr, mg, mb, True))
            out = pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "channels",
                         "mean_r", "mean_g", "mean_b", "decoded_ok"],
            )
            for c in ("width", "height", "channels"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(_map, _PNG_STATS_SCHEMA)


def synthesize_jpeg_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One complete JPEG per id: a flat image of value (37*id+11)%256
    at (id%16+1) x ((5*id)%16+1), cycling through FOUR codings so the
    decode oracle exercises every entropy layout: id%6==0 PROGRESSIVE
    + SUBSAMPLED 4:2:0 RGB (the combined case, r5), other id%3==0
    progressive grayscale, id%6==2 baseline subsampled RGB, the rest
    baseline grayscale.  A constant image's blocks quantize to a
    single DC coefficient, and with all-ones quant tables the decode
    reproduces the value EXACTLY for every coding — R=G=B content has
    chroma exactly 128, so 4:2:0 box-average/replication is lossless
    too — making per-channel means SQL-predictable to the last bit."""

    def _jpg(i: int) -> bytes:
        import numpy as np

        w = i % 16 + 1
        h = (5 * i) % 16 + 1
        v = (37 * i + 11) % 256
        f420 = ((2, 2), (1, 1), (1, 1))
        if i % 6 == 0:
            rgb = np.full((h, w, 3), v, dtype=np.uint8)
            return encode_jpeg_progressive(rgb, factors=f420)
        if i % 3 == 0:
            return encode_jpeg_progressive(np.full((h, w), v, dtype=np.uint8))
        if i % 6 == 2:
            rgb = np.full((h, w, 3), v, dtype=np.uint8)
            return encode_jpeg_subsampled(rgb, factors=f420)
        return encode_jpeg_baseline(np.full((h, w), v, dtype=np.uint8))

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_jpg(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


# --------------------------------------------------------------------------
# AVI: uncompressed-video container (RIFF, public layout) — the video
# leg of the multimodal triad (images: BMP/PNG/JPEG; audio: WAV)
# --------------------------------------------------------------------------


def parse_avi_header(payload):
    """(width, height, fps, n_frames) from an AVI's avih main header
    (RIFF 'AVI ' -> LIST hdrl -> avih), or None if not an AVI.  Walks
    the published RIFF chunk layout; no frame data is touched."""
    if not payload:
        return None
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (clen,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"LIST" and b[i + 8 : i + 12] == b"hdrl":
            j = i + 12
            while j + 8 <= i + 8 + clen:
                sid = b[j : j + 4]
                (slen,) = struct.unpack("<I", b[j + 4 : j + 8])
                if sid == b"avih" and slen >= 40:
                    h = struct.unpack("<10I", b[j + 8 : j + 48])
                    usec_pf, n_frames, width, height = h[0], h[4], h[8], h[9]
                    fps = round(1_000_000 / usec_pf, 3) if usec_pf else None
                    return (width, height, fps, n_frames)
                j += 8 + slen + (slen & 1)
        i += 8 + clen + (clen & 1)
    return None


def decode_avi_frames(payload, every: int = 1):
    """REAL frame decode for uncompressed 24-bit AVI ('00db' DIB
    chunks, bottom-up rows, 4-byte stride padding — the BMP pixel
    layout inside the RIFF movi list).  Yields (frame_index, (H, W, 3)
    uint8 RGB array) for every ``every``-th frame — frame SAMPLING
    happens before any pixel work, the production pattern for video
    feature extraction.  Returns None if the payload is not a
    supported AVI."""
    import numpy as np

    hdr = parse_avi_header(payload)
    if hdr is None:
        return None
    width, height, _fps, _n = hdr
    if not width or not height:
        return None
    b = bytes(payload)
    stride = (width * 3 + 3) & ~3
    frames = []
    idx = 0
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (clen,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"LIST" and b[i + 8 : i + 12] == b"movi":
            j = i + 12
            while j + 8 <= i + 8 + clen:
                sid = b[j : j + 4]
                (slen,) = struct.unpack("<I", b[j + 4 : j + 8])
                if sid == b"00db":
                    if idx % every == 0 and slen >= stride * height:
                        raw = np.frombuffer(
                            b, dtype=np.uint8, count=stride * height, offset=j + 8
                        ).reshape(height, stride)
                        bgr = raw[:, : width * 3].reshape(height, width, 3)
                        rgb = bgr[::-1, :, ::-1]  # bottom-up rows, BGR order
                        frames.append((idx, rgb.copy()))
                    idx += 1
                j += 8 + slen + (slen & 1)
        i += 8 + clen + (clen & 1)
    return frames


_AVI_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def avi_frame_stats(media: DataFrame, every: int = 1) -> DataFrame:
    """Frame-sampled video decode over the binary column: one row per
    sampled frame with per-channel means — the video twin of
    ``png_pixel_stats``/``wav_pcm_stats``.  Arrow-batched mapInPandas;
    payloads never leave the executors; undecodable payloads yield no
    rows (graceful skip)."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_avi_frames(payload, every=every)
                if not frames:
                    continue
                for idx, px in frames:
                    h, w, _ = px.shape
                    means = px.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (mid, idx, w, h,
                         float(means[0]), float(means[1]), float(means[2]))
                    )
            out = pd.DataFrame(
                rows,
                columns=["media_id", "frame_index", "width", "height",
                         "mean_r", "mean_g", "mean_b"],
            )
            for c in ("frame_index", "width", "height"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(_map, _AVI_STATS_SCHEMA)


def video_thumbnail_stats(
    media: DataFrame,
    out_h: int,
    out_w: int,
    every: int = 1,
    method: str = "nearest",
) -> DataFrame:
    """Frame-sample → RESIZE → featurize for video (r6): every
    ``every``-th AVI frame is resized to (out_h, out_w) and its
    per-channel means emitted — the video twin of
    ``image_resize_stats``, composing the two production patterns
    (sample frames BEFORE pixel work; thumbnail before the encoder).
    Arrow-batched; payloads never leave the executors."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_avi_frames(payload, every=every)
                if not frames:
                    continue
                for idx, px in frames:
                    rs = resize_pixels(px, out_h, out_w, method=method)
                    means = rs.reshape(-1, 3).astype("float64").mean(axis=0)
                    rows.append(
                        (mid, idx, out_w, out_h,
                         round(float(means[0]), 4),
                         round(float(means[1]), 4),
                         round(float(means[2]), 4))
                    )
            out = pd.DataFrame(
                rows,
                columns=["media_id", "frame_index", "width", "height",
                         "mean_r", "mean_g", "mean_b"],
            )
            for c in ("frame_index", "width", "height"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _AVI_STATS_SCHEMA
    )


def synthesize_avi_media(
    df: DataFrame, id_col: str = "doc_id", n_frames: int = 6
) -> DataFrame:
    """One complete uncompressed AVI per id: ``n_frames`` flat-color
    24-bit DIB frames at (id%8+2) x ((3*id)%8+2), frame f colored
    ((11*id+29*f)%256, (13*id+31*f)%256, (17*id+37*f)%256) — means are
    SQL-predictable exactly, like the PNG/BMP/WAV synthesizers."""

    def _avi(i: int) -> bytes:
        w = i % 8 + 2
        h = (3 * i) % 8 + 2
        stride = (w * 3 + 3) & ~3
        frames = bytearray()
        for f in range(n_frames):
            r = (11 * i + 29 * f) % 256
            g = (13 * i + 31 * f) % 256
            bl = (17 * i + 37 * f) % 256
            row = (bytes([bl, g, r]) * w) + b"\x00" * (stride - 3 * w)
            dib = row * h
            frames += b"00db" + struct.pack("<I", len(dib)) + dib
            if len(dib) & 1:
                frames += b"\x00"
        avih = struct.pack(
            "<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0, w, h
        ) + b"\x00" * 16
        strh = (
            b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25,
                                            0, n_frames, 0, 0, 0, 0)
            + struct.pack("<4h", 0, 0, w, h)
        )
        strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                           2835, 2835, 0, 0)
        strl = (
            b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf))
            + b"strl"
            + b"strh" + struct.pack("<I", len(strh)) + strh
            + b"strf" + struct.pack("<I", len(strf)) + strf
        )
        hdrl = (
            b"LIST" + struct.pack("<I", 4 + 8 + 56 + len(strl)) + b"hdrl"
            + b"avih" + struct.pack("<I", 56) + avih
            + strl
        )
        movi = b"LIST" + struct.pack("<I", 4 + len(frames)) + b"movi" + bytes(frames)
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_avi(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


_SCENE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("cut_frame", T.IntegerType()),
        T.StructField("diff", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def avi_scene_cuts(media: DataFrame, threshold: float = 10.0) -> DataFrame:
    """Scene-cut detection over uncompressed AVI payloads — the video
    curation step that segments footage before per-scene sampling
    (shot-boundary detection by frame differencing, the classic
    baseline): decode frames, compute the mean absolute pixel
    difference between consecutive frames, and emit one row per
    boundary whose difference exceeds ``threshold``.

    Returns (media_id, cut_frame, diff, n_frames): ``cut_frame`` is the
    index of the FIRST frame of the new scene, ``diff`` the mean |Δ|
    over all pixels/channels (rounded to 4).  Arrow-batched
    mapInPandas, payloads never leave the executors; output is
    boundary-sized, not frame-sized."""
    import numpy as np

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_avi_frames(payload)
                if frames is None:
                    rows.append((mid, None, None, None))
                    continue
                frames = list(frames)
                prev = None
                for idx, px in frames:
                    if prev is not None:
                        d = float(
                            np.abs(
                                px.astype(np.float64)
                                - prev.astype(np.float64)
                            ).mean()
                        )
                        if d > threshold:
                            rows.append(
                                (mid, idx, round(d, 4), len(frames))
                            )
                    prev = px
            out = pd.DataFrame(
                rows, columns=["media_id", "cut_frame", "diff", "n_frames"]
            )
            out["cut_frame"] = pd.array(out["cut_frame"], dtype="Int32")
            out["n_frames"] = pd.array(out["n_frames"], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _SCENE_SCHEMA
    )


def synthesize_scene_avi_media(
    df: DataFrame, id_col: str = "doc_id", n_frames: int = 8
) -> DataFrame:
    """Scene-structured AVI fixture: two constant-color scenes per
    video with ONE cut at frame ``id % 3 + 3`` and a per-channel jump
    of exactly 40 gray levels — so the scene-cut oracle is closed-form:
    one boundary per id, diff exactly 40.0, every other consecutive
    pair identical (diff 0)."""

    def _avi(i: int) -> bytes:
        w = i % 8 + 2
        h = (3 * i) % 8 + 2
        cut = i % 3 + 3
        a = (7 * i) % 200
        stride = (w * 3 + 3) & ~3
        frames = bytearray()
        for f in range(n_frames):
            g = a if f < cut else a + 40
            row = (bytes([g, g, g]) * w) + b"\x00" * (stride - 3 * w)
            dib = row * h
            frames += b"00db" + struct.pack("<I", len(dib)) + dib
            if len(dib) & 1:
                frames += b"\x00"
        avih = struct.pack(
            "<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0, w, h
        ) + b"\x00" * 16
        strh = (
            b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1,
                                            25, 0, n_frames, 0, 0, 0, 0)
            + struct.pack("<4h", 0, 0, w, h)
        )
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
        )

        def lst(tag: bytes, four: bytes, payload: bytes) -> bytes:
            body = four + payload
            return tag + struct.pack("<I", len(body)) + body

        def chunk(four: bytes, payload: bytes) -> bytes:
            pad = b"\x00" if len(payload) & 1 else b""
            return four + struct.pack("<I", len(payload)) + payload + pad

        strl = lst(b"LIST", b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
        hdrl = lst(b"LIST", b"hdrl", chunk(b"avih", avih) + strl)
        movi = lst(b"LIST", b"movi", bytes(frames))
        riff_body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_avi(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


def synthesize_chord_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture for AUDIO fingerprint dedup: a float32 WAV "chord" per
    row — three bin-aligned sine components at frequency bins
    3c+1, 3c+2, 3c+3 of a 128-point window, c = id % 20, so distinct
    clusters occupy DISJOINT bin triples (cross-cluster fingerprint
    Hamming exactly 6) while ids in one cluster differ only by an
    overall gain g = 0.8 + (id % 5)/10 — which the mean-threshold
    fingerprint cancels exactly (every magnitude scales by g).  Frames
    = 128 * (2 + id % 3); every window is identical (integer cycles per
    window), mono, 8000 Hz."""
    import math

    def _wav(i: int) -> bytes:
        rate, n_fft = 8000, 128
        c = int(i) % 20
        gain = 0.8 + (int(i) % 5) / 10.0
        comps = [(3 * c + 1, 0.30), (3 * c + 2, 0.25), (3 * c + 3, 0.20)]
        n_frames = n_fft * (2 + int(i) % 3)
        samples = b"".join(
            struct.pack(
                "<f",
                gain
                * sum(
                    a * math.sin(2 * math.pi * k * t / n_fft)
                    for k, a in comps
                ),
            )
            for t in range(n_frames)
        )
        fmt = struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
        body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(samples)) + samples
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_wav(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


_AFP_SCHEMA = (
    "media_id long, afp long, n_windows int, decoded_ok boolean"
)


def audio_fingerprint(media: DataFrame, n_fft: int = 128) -> DataFrame:
    """Perceptual AUDIO fingerprint over the binary column — the
    acoustic twin of image_dhash_stats, completing the text/image/audio
    dedup triad: decode PCM/float WAV, average channels to mono, frame
    into non-overlapping ``n_fft`` windows, REAL rfft per window,
    average the magnitude spectra, then pack 64 MEAN-THRESHOLD bits —
    bit_j = S[j] · 64 > Σ S  over the 64 non-DC bins — MSB-first into a
    signed 64-bit value (spectral-shape bits in the Haitsma–Kalker
    2002 family; the mean threshold makes the fingerprint exactly
    GAIN-INVARIANT, so re-encoded/volume-normalized copies collide).

    Near-duplicate pairing is ``dedup.hamming_near_dup_pairs`` /
    ``incremental.incremental_hamming_pairs`` on the ``afp`` column —
    the same banded Hamming LSH and persisted-index paths images use.

    Arrow-batched mapInPandas; payloads never leave the executors.
    ``n_fft`` must be 128 for the 64-bit packing; clips shorter than
    one window (or undecodable) come back decoded_ok = false."""
    import numpy as np

    if n_fft != 128:
        raise ValueError("64-bit packing requires n_fft=128")

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_wav_pcm(payload)
                if px is None or px.shape[0] < n_fft:
                    rows.append((mid, None, None, False))
                    continue
                mono = px.astype(np.float64).mean(axis=1)
                n_win = mono.shape[0] // n_fft
                frames = mono[: n_win * n_fft].reshape(n_win, n_fft)
                mag = np.abs(np.fft.rfft(frames, axis=1)).mean(axis=0)
                spec = mag[1:65]  # 64 non-DC bins
                bits = spec * 64.0 > spec.sum()
                rows.append((mid, _pack_bits_64(bits), n_win, True))
            out = pd.DataFrame(
                rows, columns=["media_id", "afp", "n_windows", "decoded_ok"]
            )
            out["afp"] = pd.array(out["afp"], dtype="Int64")
            out["n_windows"] = pd.array(out["n_windows"], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _AFP_SCHEMA
    )


def synthesize_gradient_avi_media(
    df: DataFrame,
    id_col: str = "doc_id",
    cluster_mod: int = 50,
    perturb_at: int = 100,
    size: int = 16,
    n_frames: int = 4,
) -> DataFrame:
    """Fixture for VIDEO fingerprint dedup: an uncompressed AVI whose
    frames are the gradient-BMP pixel formula (synthesize_gradient_bmp_
    media — cluster = id % cluster_mod, one-pixel perturbation for
    id >= perturb_at) with a per-frame +frame_idx brightness offset.
    Adding a constant to every pixel preserves ALL horizontal-gradient
    comparisons (base values are <= 250 and offsets <= n_frames - 1,
    so nothing wraps), so every frame's dHash — and therefore the
    majority-vote video fingerprint — equals the STILL image's dhash
    bit for bit: the ns_multimodal_image_phash closed form is the
    video oracle too."""

    def _frame(i: int, f: int) -> bytes:
        c = int(i) % cluster_mod
        w = h = size
        stride = (w * 3 + 3) & ~3
        pad = b"\x00" * (stride - 3 * w)
        rows = []
        for y_store in range(h):
            y = h - 1 - y_store
            row = bytearray()
            for x in range(w):
                g = (5 * x * x * (c + 1) + y * (7 + 3 * c) + 13 * x) % 251
                if i >= perturb_at and x == 0 and y == 0:
                    g = 255 - (n_frames - 1)
                row += bytes([g + f, g + f, g + f])
            rows.append(bytes(row) + pad)
        return b"".join(rows)

    def _avi(i: int) -> bytes:
        w = h = size
        stride = (w * 3 + 3) & ~3
        frames = bytearray()
        for f in range(n_frames):
            dib = _frame(i, f)
            frames += b"00db" + struct.pack("<I", len(dib)) + dib
            if len(dib) & 1:
                frames += b"\x00"
        avih = struct.pack(
            "<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0, w, h
        ) + b"\x00" * 16
        strh = (
            b"vids" + b"DIB " + struct.pack(
                "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n_frames,
                0, 0, 0, 0,
            )
            + struct.pack("<4h", 0, 0, w, h)
        )
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835,
            0, 0,
        )

        def lst(tag, four, payload):
            body = four + payload
            return tag + struct.pack("<I", len(body)) + body

        def chunk(four, payload):
            pad = b"\x00" if len(payload) & 1 else b""
            return four + struct.pack("<I", len(payload)) + payload + pad

        strl = lst(
            b"LIST", b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
        )
        hdrl = lst(b"LIST", b"hdrl", chunk(b"avih", avih) + strl)
        movi = lst(b"LIST", b"movi", bytes(frames))
        riff_body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_avi(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


_VFP_SCHEMA = (
    "media_id long, vfp long, n_frames int, decoded_ok boolean"
)


def video_fingerprint(
    media: DataFrame, hash_size: int = 8, every: int = 1
) -> DataFrame:
    """Perceptual VIDEO fingerprint — the temporal member of the
    fingerprint family (image dHash ✓, audio spectral bits ✓): decode
    the AVI's frames (every ``every``-th), compute each frame's 64
    dHash gradient bits (the image kernel: grayscale, nearest-resize to
    8x9, horizontal comparisons), then MAJORITY-VOTE each bit across
    frames (ties round to 1) and pack MSB-first — the TMK-style
    temporal aggregation: robust to a few edited/corrupt frames,
    invariant to global brightness shifts (constant offsets preserve
    gradient comparisons).  Near-dup pairing and the persisted
    incremental index are the SAME banded-Hamming paths
    (dedup.hamming_near_dup_pairs, incremental.*_hamming_*,
    media_ingest_sink with fingerprint=video_fingerprint,
    hash_col='vfp').

    Arrow-batched mapInPandas; payloads never leave the executors;
    undecodable or frameless payloads come back decoded_ok = false."""
    import numpy as np

    if hash_size != 8:
        raise ValueError("64-bit packing requires hash_size=8")

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    frames = decode_avi_frames(payload, every=every)
                except Exception:
                    frames = None
                if not frames:
                    rows.append((mid, None, None, False))
                    continue
                votes = np.zeros(64, dtype=np.int64)
                for _fidx, px in frames:
                    votes += _frame_dhash_bits(px, hash_size)
                bits = votes * 2 >= len(frames)
                rows.append((mid, _pack_bits_64(bits), len(frames), True))
            out = pd.DataFrame(
                rows,
                columns=["media_id", "vfp", "n_frames", "decoded_ok"],
            )
            out["vfp"] = pd.array(out["vfp"], dtype="Int64")
            out["n_frames"] = pd.array(out["n_frames"], dtype="Int32")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _VFP_SCHEMA
    )


def _frame_dhash_bits(px, hash_size: int = 8):
    """64 dHash gradient bits of one decoded (H, W, C) frame — the
    image kernel shared by video_fingerprint and
    video_scene_fingerprints: grayscale (integer channel mean),
    nearest-resize to hash_size x (hash_size+1), horizontal
    comparisons.  Returns a flat bool array of hash_size² bits."""
    import numpy as np

    h, w, c = px.shape
    if c >= 3:
        gray = px[..., :3].astype(np.int64).sum(-1) // 3
    else:
        gray = px[..., 0].astype(np.int64)
    d = resize_pixels(gray[:, :, None], hash_size, hash_size + 1,
                      "nearest")[..., 0]
    return (d[:, :-1] < d[:, 1:]).ravel()


_SCENE_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("video_id", T.LongType()),
        T.StructField("scene_idx", T.IntegerType()),
        T.StructField("start_frame", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sfp", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def video_scene_fingerprints(
    media: DataFrame,
    threshold: float = 10.0,
    hash_size: int = 8,
    max_scenes: int = 64,
) -> DataFrame:
    """Per-SCENE perceptual video fingerprints — the clip-reuse dedup
    primitive (whole-video fingerprints miss a stock clip spliced into
    otherwise-new footage; scene-level fingerprints catch it): ONE
    Arrow pass per payload decodes the AVI frames, segments at
    frame-difference boundaries (mean |Δ| > ``threshold``, the
    avi_scene_cuts rule), and majority-votes each scene's frames' 64
    dHash gradient bits (ties round to 1 — the video_fingerprint
    temporal aggregation, per scene).

    Output is one row per scene: ``media_id`` is the PACKED scene uid
    ``video_id * max_scenes + scene_idx`` (globally unique, so the
    generic banded-Hamming machinery — dedup.hamming_near_dup_pairs,
    incremental.incremental_hamming_pairs, media_ingest_sink with
    ``fingerprint=video_scene_fingerprints, hash_col='sfp'`` — runs
    unchanged on scenes), plus (video_id, scene_idx, start_frame,
    n_frames, sfp, decoded_ok).  Undecodable payloads and videos with
    more than ``max_scenes`` scenes yield a single decoded_ok = false
    row (they reach neither tables nor indexes downstream).

    Payload bytes never leave the executors; output is scene-sized,
    not frame-sized."""
    import numpy as np

    if hash_size != 8:
        raise ValueError("64-bit packing requires hash_size=8")

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = int(mid)
                try:
                    frames = decode_avi_frames(payload)
                except Exception:
                    frames = None
                if not frames:
                    rows.append(
                        (mid * max_scenes, mid, None, None, None, None,
                         False)
                    )
                    continue
                # scene boundaries: first frame + every cut
                starts = [0]
                prev = None
                for pos, (_idx, px) in enumerate(frames):
                    if prev is not None:
                        d = float(
                            np.abs(
                                px.astype(np.float64)
                                - prev.astype(np.float64)
                            ).mean()
                        )
                        if d > threshold:
                            starts.append(pos)
                    prev = px
                if len(starts) > max_scenes:
                    rows.append(
                        (mid * max_scenes, mid, None, None, None, None,
                         False)
                    )
                    continue
                bounds = starts + [len(frames)]
                for s in range(len(starts)):
                    lo, hi = bounds[s], bounds[s + 1]
                    votes = np.zeros(
                        hash_size * hash_size, dtype=np.int64
                    )
                    for _fidx, px in frames[lo:hi]:
                        votes += _frame_dhash_bits(px, hash_size)
                    bits = votes * 2 >= (hi - lo)
                    rows.append(
                        (
                            mid * max_scenes + s,
                            mid,
                            s,
                            frames[lo][0],
                            hi - lo,
                            _pack_bits_64(bits),
                            True,
                        )
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "video_id", "scene_idx", "start_frame",
                    "n_frames", "sfp", "decoded_ok",
                ],
            )
            for col in ("scene_idx", "start_frame", "n_frames"):
                out[col] = pd.array(out[col], dtype="Int32")
            out["sfp"] = pd.array(out["sfp"], dtype="Int64")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _SCENE_FP_SCHEMA
    )


def synthesize_multiscene_avi_media(
    df: DataFrame,
    id_col: str = "doc_id",
    cluster_mod: int = 50,
    scene_shift: int = 17,
    scene_len: int = 3,
    size: int = 16,
) -> DataFrame:
    """Fixture for SCENE-level video dedup: an uncompressed AVI per
    row with 2 + (id % 2) scenes of ``scene_len`` identical frames
    each, scene ``s`` rendered as the gradient-BMP cluster pattern
    (synthesize_gradient_bmp_media's pixel formula) for cluster
    ``c = (id + scene_shift*s) % cluster_mod`` — so every derived fact
    is closed-form in SQL:

    - scene boundaries sit exactly at frame s*scene_len (within-scene
      frame diffs are 0; adjacent scenes differ by scene_shift mod
      cluster_mod ≠ 0, and distinct clusters' mean |Δ| is test-pinned
      far above the cut threshold);
    - each scene's majority-vote dHash equals the cluster's still-image
      dHash (identical frames), i.e. the exact bit formula DuckDB
      already replays for ns_multimodal_image_phash;
    - two scenes (i, s) and (j, t) are perceptual duplicates iff
      (i + scene_shift*s) ≡ (j + scene_shift*t) (mod cluster_mod) —
      the clip-reuse oracle is pure id arithmetic."""

    def _avi(i: int) -> bytes:
        w = h = size
        n_scenes = 2 + i % 2
        stride = (w * 3 + 3) & ~3
        pad = b"\x00" * (stride - 3 * w)
        frames = bytearray()
        for s in range(n_scenes):
            c = (i + scene_shift * s) % cluster_mod
            rows = []
            for y_store in range(h):  # bottom-up storage
                y = h - 1 - y_store
                row = bytearray()
                for x in range(w):
                    g = (
                        5 * x * x * (c + 1) + y * (7 + 3 * c) + 13 * x
                    ) % 251
                    row += bytes([g, g, g])
                rows.append(bytes(row) + pad)
            dib = b"".join(rows)
            for _f in range(scene_len):
                frames += b"00db" + struct.pack("<I", len(dib)) + dib
                if len(dib) & 1:
                    frames += b"\x00"
        n_frames = n_scenes * scene_len
        avih = struct.pack(
            "<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0, w, h
        ) + b"\x00" * 16
        strh = (
            b"vids" + b"DIB "
            + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25, 0,
                          n_frames, 0, 0, 0, 0)
            + struct.pack("<4h", 0, 0, w, h)
        )
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835,
            0, 0,
        )
        strl = (
            b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf))
            + b"strl"
            + b"strh" + struct.pack("<I", len(strh)) + strh
            + b"strf" + struct.pack("<I", len(strf)) + strf
        )
        hdrl = (
            b"LIST" + struct.pack("<I", 4 + 8 + 56 + len(strl)) + b"hdrl"
            + b"avih" + struct.pack("<I", 56) + avih
            + strl
        )
        movi = (
            b"LIST" + struct.pack("<I", 4 + len(frames)) + b"movi"
            + bytes(frames)
        )
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_avi(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )


_ASEG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("audio_id", T.LongType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("start_window", T.IntegerType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("afp", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
    ]
)


def audio_segment_fingerprints(
    media: DataFrame,
    n_fft: int = 128,
    seg_windows: int = 4,
    max_segments: int = 64,
) -> DataFrame:
    """Per-SEGMENT audio fingerprints — the clip-reuse detector for
    audio (whole-clip fingerprints miss a jingle spliced into a longer
    recording), the acoustic twin of video_scene_fingerprints: decode
    the WAV once, cut the mono signal into FIXED-length segments of
    ``seg_windows`` x ``n_fft`` frames (time-based segmentation is the
    audio-fingerprinting convention — Haitsma-Kalker granules — unlike
    video, where content cuts segment), and pack each segment's 64
    gain-invariant mean-threshold spectral bits (the audio_fingerprint
    kernel per segment).  A trailing partial segment is dropped
    (sub-granule audio carries too few windows to fingerprint stably).

    One row per segment, ``media_id`` = packed uid ``audio_id *
    max_segments + seg_idx`` — so hamming_near_dup_pairs,
    incremental_hamming_pairs and media_ingest_sink (with
    ``fingerprint=audio_segment_fingerprints, hash_col='afp'``) run
    unchanged on segments.  Undecodable / shorter-than-one-segment /
    over-long payloads yield one decoded_ok=false row.  Arrow-batched
    mapInPandas; payloads never leave the executors."""
    import numpy as np

    if n_fft != 128:
        raise ValueError("64-bit packing requires n_fft=128")
    if seg_windows < 1:
        raise ValueError("seg_windows must be at least 1")

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = int(mid)
                px = decode_wav_pcm(payload)
                seg_len = seg_windows * n_fft
                if px is None or px.shape[0] < seg_len:
                    rows.append(
                        (mid * max_segments, mid, None, None, None, None,
                         False)
                    )
                    continue
                mono = px.astype(np.float64).mean(axis=1)
                n_seg = mono.shape[0] // seg_len
                if n_seg > max_segments:
                    rows.append(
                        (mid * max_segments, mid, None, None, None, None,
                         False)
                    )
                    continue
                frames = mono[: n_seg * seg_len].reshape(
                    n_seg, seg_windows, n_fft
                )
                for s in range(n_seg):
                    mag = np.abs(np.fft.rfft(frames[s], axis=1)).mean(
                        axis=0
                    )
                    spec = mag[1:65]
                    bits = spec * 64.0 > spec.sum()
                    rows.append(
                        (
                            mid * max_segments + s,
                            mid,
                            s,
                            s * seg_windows,
                            seg_windows,
                            _pack_bits_64(bits),
                            True,
                        )
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "audio_id", "seg_idx", "start_window",
                    "n_windows", "afp", "decoded_ok",
                ],
            )
            for col in ("seg_idx", "start_window", "n_windows"):
                out[col] = pd.array(out[col], dtype="Int32")
            out["afp"] = pd.array(out["afp"], dtype="Int64")
            yield out

    return media.select("media_id", "payload").mapInPandas(
        _map, _ASEG_SCHEMA
    )


def synthesize_segment_chord_media(
    df: DataFrame,
    id_col: str = "doc_id",
    cluster_mod: int = 20,
    seg_shift: int = 17,
    seg_windows: int = 4,
) -> DataFrame:
    """Fixture for SEGMENT-level audio dedup: a float32 WAV per row
    with 2 + (id % 2) segments of ``seg_windows`` x 128 frames, segment
    ``s`` playing the chord of cluster ``c = (id + seg_shift*s) %
    cluster_mod`` (synthesize_chord_media's bin-aligned triple at bins
    3c+1..3c+3, amplitudes 0.30/0.25/0.20, whole-clip gain
    0.8 + (id % 5)/10 which the mean-threshold bits cancel) — so each
    segment's fingerprint is the cluster's 3-bit closed form and two
    segments are perceptual duplicates iff their clusters agree:
    clip-reuse structure is pure id arithmetic, exactly like the
    multiscene AVI fixture."""
    import math

    def _wav(i: int) -> bytes:
        rate, n_fft = 8000, 128
        n_segs = 2 + int(i) % 2
        gain = 0.8 + (int(i) % 5) / 10.0
        samples = bytearray()
        for s in range(n_segs):
            c = (int(i) + seg_shift * s) % cluster_mod
            comps = [(3 * c + 1, 0.30), (3 * c + 2, 0.25), (3 * c + 3, 0.20)]
            for t in range(seg_windows * n_fft):
                samples += struct.pack(
                    "<f",
                    gain
                    * sum(
                        a * math.sin(2 * math.pi * k * t / n_fft)
                        for k, a in comps
                    ),
                )
        fmt = struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
        body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(samples)) + bytes(samples)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_wav(int(i)) for i in pdf["media_id"]],
                }
            )

    return (
        df.select(F.col(id_col).alias("media_id"))
        .mapInPandas(_map, "media_id long, payload binary")
    )
