"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §2.9).

The pattern for 100 TB multimodal corpora: media lives as a
``binary`` column (or object-store URI) beside typed metadata; decode /
feature-extraction runs as Arrow-batched pandas iterators
(``mapInPandas``) so the Python boundary is crossed once per batch, not
per row, and the output schema is declared up front. Every extractor
and synthetic-asset generator here goes through the one crossing,
:func:`_map_payloads`.

Decode support is tiered by what a pure-Python environment can honestly
do:

- **Real decoders** for the two header+raster formats that need no
  codec library: binary PPM (netpbm P6) and uncompressed 24-bit BMP —
  :func:`decode_image` parses actual bytes (dimensions + pixel stats)
  and is exercised end-to-end by the oracle-checked
  ``multimodal_decode`` registry query and a hand-built BMP fixture in
  pytest (row padding, top-down negative height).
- **Compressed formats** (JPEG/PNG/MP3/H.264…) require codec libraries
  absent here: :func:`decode_image` and :func:`decode_wav` refuse them
  with ``ValueError``, and :func:`parse_image_header` reads their
  dimensions from the container header without decoding pixels.
  :func:`extract_features` derives its width/height from a
  deterministic hash of the payload (:func:`_fake_decode`), so the
  Spark-side plumbing (schema, Arrow batching, partitioning) stays
  fully tested without a codec.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import spread_small_scan

#: declared output schema of the feature extractor (DDL form).
FEATURE_SCHEMA = (
    "asset_id long, kind string, n_bytes long, content_sha string, "
    "width int, height int"
)


def _map_payloads(
    assets: DataFrame,
    fn: Callable[[bytes], tuple | list[tuple]],
    schema: str,
    keep: tuple[str, ...] = ("asset_id",),
) -> DataFrame:
    """The module's one Python crossing: run ``fn`` over every
    ``payload`` of ``assets`` in Arrow batches (``mapInPandas``).

    ``fn`` returns one tuple (1→1) or a list of tuples (1→N, e.g. the
    kept frames of a video). Each output row is the ``keep`` columns
    of its input row followed by ``fn``'s tuple, named in order by the
    DDL ``schema``; a batch that yields no rows still yields a frame
    with the schema's columns."""
    names = [c.split()[0] for c in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for *kept, payload in zip(*(pdf[c] for c in keep), pdf["payload"]):
                out = fn(bytes(payload))
                for r in out if isinstance(out, list) else [out]:
                    rows.append((*kept, *r))
            yield pd.DataFrame(rows, columns=names)

    return assets.mapInPandas(run, schema=schema)


def _synthetic_assets(docs: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """(asset_id, payload) with payload = ``make(doc_id)``: a closed-form
    asset per document, built on the spread ``doc_id`` scan. Each
    doc_id enters the crossing as its decimal text in ``payload``."""
    ids = spread_small_scan(docs.select("doc_id")).select(
        F.col("doc_id").alias("asset_id"),
        F.col("doc_id").cast("string").cast("binary").alias("payload"),
    )
    return _map_payloads(
        ids, lambda p: (make(int(p)),), "asset_id long, payload binary"
    )


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build a multimodal asset table of kind 'image' from ``documents``:
    the utf-8 bytes of ``text`` stand in for an encoded media payload. At
    production scale this column would come from ``spark.read.format(
    'binaryFile')`` or a parquet/iceberg table with a binary column."""
    return spread_small_scan(docs).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an image decode: derive fake
    dimensions from the payload hash. Replace with a real codec
    (PIL/ffmpeg) in environments that have one."""
    h = hashlib.sha256(payload).digest()
    return 16 + h[0] % 64, 16 + h[1] % 64


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: byte
    length, sha256 and the deterministic :func:`_fake_decode`
    dimensions per (asset_id, kind)."""
    return _map_payloads(
        assets,
        lambda p: (len(p), hashlib.sha256(p).hexdigest(), *_fake_decode(p)),
        FEATURE_SCHEMA,
        keep=("asset_id", "kind"),
    )


# ---------------------------------------------------------------------------
# Real pure-Python decoders: binary PPM (P6) and uncompressed 24-bit BMP
# ---------------------------------------------------------------------------

# no ^ anchor: Pattern.match(payload, off) anchors at ``off`` itself
_PPM_HEADER = re.compile(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def _ppm_frame(payload: bytes, off: int = 0) -> tuple[int, int, bytes, int]:
    """Read the P6 frame whose header starts at ``off``: (width,
    height, w*h*3 RGB pixel bytes, offset just past the pixels)."""
    m = _PPM_HEADER.match(payload, off)
    if not m:
        raise ValueError("not a binary PPM (P6) payload")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    end = m.end() + w * h * 3
    pix = payload[m.end() : end]
    if len(pix) != w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return w, h, pix, end


def _bmp_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Read an uncompressed 24-bit BMP: (width, |height|, RGB pixel
    bytes in top-down row order). Rows are stored bottom-up for a
    positive height and top-down for a negative one, each padded to a
    4-byte boundary; the padding is dropped."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    height = abs(h)
    row_bytes = w * 3
    stride = (row_bytes + 3) & ~3
    rows = []
    for y in range(height):
        r = height - 1 - y if h > 0 else y
        row = payload[off + r * stride : off + r * stride + row_bytes]
        if len(row) != row_bytes:
            raise ValueError("truncated BMP pixel data")
        rows.append(row)
    return w, height, b"".join(rows)


def _rgb_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Sniff the magic bytes: (width, height, top-down RGB bytes) of a
    PPM or BMP payload."""
    if payload[:2] == b"P6":
        return _ppm_frame(payload)[:3]
    if payload[:2] == b"BM":
        return _bmp_raster(payload)
    raise ValueError("unsupported image format (only P6 PPM / 24-bit BMP)")


def _mean_byte(pix: bytes) -> float:
    """Integer byte sum over integer count, so the double is exact to
    one rounding in every engine."""
    return sum(pix) / len(pix) if pix else 0.0


def decode_image(payload: bytes) -> tuple[int, int, float]:
    """Sniff the magic bytes and decode a binary PPM (P6) or an
    uncompressed 24-bit BMP: (width, height, mean pixel byte over the
    RGB triples, BMP row padding excluded). Other formats need a codec
    library → ValueError."""
    w, h, pix = _rgb_raster(payload)
    return w, h, _mean_byte(pix)


IMAGE_FEATURE_SCHEMA = (
    "asset_id long, width int, height int, mean_pixel double, n_bytes long"
)


def extract_image_features(assets: DataFrame) -> DataFrame:
    """REAL decode path: parse each binary payload with
    :func:`decode_image` (Arrow-batched, one Python crossing per batch)
    and emit decoded dimensions + pixel statistics."""
    return _map_payloads(
        assets, lambda p: (*decode_image(p), len(p)), IMAGE_FEATURE_SCHEMA
    )


def synthetic_ppm_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL PPM images derived from doc_id (width
    4 + id%13, height 3 + id%7, constant pixel byte id%256), so the
    decoded output is predictable arithmetic a SQL oracle states in
    closed form while the decoder still parses genuine image bytes."""

    def make(did: int) -> bytes:
        w, h = 4 + did % 13, 3 + did % 7
        return b"P6\n%d %d\n255\n" % (w, h) + bytes([did % 256]) * (3 * w * h)

    return _synthetic_assets(docs, make)


# ---------------------------------------------------------------------------
# Real pure-Python audio decoder: PCM WAV (RIFF) header + sample stats
# ---------------------------------------------------------------------------


def decode_wav(payload: bytes) -> tuple[int, int, int, float, float]:
    """Parse an uncompressed PCM WAV (RIFF) file: returns
    (n_channels, sample_rate, bits_per_sample, duration_sec, mean_abs)
    where mean_abs is the mean absolute sample amplitude normalized to
    [0, 1] — the loudness proxy an audio curation pipeline buckets on.

    Walks the RIFF chunk list (fmt may precede data with LIST/INFO
    chunks between), supports 8-bit unsigned and 16-bit signed PCM,
    and raises ValueError on compressed formats — same honesty rule as
    the image side: real parsing for the formats a pure-Python decoder
    can own, explicit refusal for codec formats (MP3/AAC/FLAC need
    libraries absent from this environment).
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if pos + 8 + size > len(payload):
            # a declared chunk size past the end of the payload is a
            # truncated download — refuse rather than silently compute
            # duration/loudness from partial data
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    if audio_format != 1:
        raise ValueError("only uncompressed PCM WAV supported")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    import numpy as np

    if bits == 16:
        samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
        n = len(samples)
        # abs in int32: |−32768| overflows int16
        mean_abs = (
            float(np.abs(samples.astype(np.int32)).mean()) / 32768.0 if n else 0.0
        )
        n_frames = n // max(1, n_channels)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8)
        n = len(samples)
        mean_abs = (
            float(np.abs(samples.astype(np.int16) - 128).mean()) / 128.0
            if n
            else 0.0
        )
        n_frames = n // max(1, n_channels)
    else:
        raise ValueError("only 8/16-bit PCM supported")
    duration = n_frames / sample_rate if sample_rate else 0.0
    return n_channels, sample_rate, bits, duration, mean_abs


def make_wav(n_channels: int = 1, samples: list[int] | None = None) -> bytes:
    """Build a minimal 8 kHz 16-bit PCM WAV payload (the synthetic-asset
    generator for tests — the audio counterpart of synthetic_ppm)."""
    samples = samples if samples is not None else []
    data = b"".join(
        int(s).to_bytes(2, "little", signed=True) for s in samples
    )
    fmt = (
        (1).to_bytes(2, "little")
        + n_channels.to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (8000 * n_channels * 2).to_bytes(4, "little")
        + (n_channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks


AUDIO_FEATURE_SCHEMA = (
    "asset_id long, n_channels int, sample_rate int, bits int, "
    "duration_sec double, mean_abs double, n_bytes long"
)


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched WAV feature extraction over (asset_id, payload) —
    same one-Python-crossing-per-batch shape as the image path."""
    return _map_payloads(
        assets, lambda p: (*decode_wav(p), len(p)), AUDIO_FEATURE_SCHEMA
    )


def synthetic_wav_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL WAV clips derived from doc_id (mono 8 kHz
    16-bit, 400 + 4*(id%100) samples of constant amplitude
    (id*7)%20000 - 10000) — like synthetic_ppm_assets, the decoded
    output is closed-form arithmetic a SQL oracle can state while the
    decoder still parses genuine RIFF bytes."""

    def make(did: int) -> bytes:
        n = 400 + 4 * (did % 100)
        amp = (did * 7) % 20000 - 10000
        return make_wav(1, [amp] * n)

    return _synthetic_assets(docs, make)


# ---------------------------------------------------------------------------
# Header-only image metadata: PNG IHDR / JPEG SOF / GIF logical screen
# ---------------------------------------------------------------------------
#
# Real multimodal curation rarely decodes pixels just to filter: the
# standard first pass reads dimensions/bit depth straight from the
# container header (PIL's lazy .size does the same). These parsers walk
# genuine byte structures — PNG chunk layout, the JPEG marker stream,
# the GIF logical screen descriptor — WITHOUT any codec, so they are
# honest pure-Python implementations, not stubs, and they cover exactly
# the compressed formats decode_image must refuse.

PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: PNG color type → channel count (spec section 11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> tuple[str, int, int, int, int]:
    """Header-only metadata: (format, width, height, bit_depth,
    n_channels) from the first kilobyte-ish of a PNG / JPEG / GIF
    payload — no pixel decode, no codec library.

    - PNG: the IHDR chunk is REQUIRED to be first (PNG spec 11.2.2);
      width/height are big-endian u32 at fixed offsets behind the
      8-byte signature.
    - JPEG: walk the marker stream (each segment is 0xFF <marker>
      <u16 big-endian length>) past APPn/DQT/COM to the first SOF
      frame header (C0-CF except DHT C4 / JPG C8 / DAC CC), which
      carries precision, height, width, component count. Standalone
      markers (TEM, RSTn) have no length field and are skipped as
      bare pairs.
    - GIF: width/height are LITTLE-endian u16 at offset 6 of the
      logical screen descriptor; bit depth is the color-resolution
      field + 1.

    Raises ValueError on anything else (or a truncated/malformed
    header) — same refuse-loudly rule as the decoders above.
    """
    if payload[:8] == PNG_SIG:
        if len(payload) < 26 or payload[12:16] != b"IHDR":
            raise ValueError("malformed PNG: IHDR not first chunk")
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        bit_depth, color_type = payload[24], payload[25]
        if color_type not in _PNG_CHANNELS:
            raise ValueError(f"invalid PNG color type {color_type}")
        return "png", w, h, bit_depth, _PNG_CHANNELS[color_type]
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("malformed JPEG marker stream")
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RSTn
                pos += 2
                continue
            if pos + 4 > len(payload):
                raise ValueError("truncated JPEG segment")
            size = int.from_bytes(payload[pos + 2 : pos + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if pos + 10 > len(payload):
                    raise ValueError("truncated JPEG SOF")
                precision = payload[pos + 4]
                h = int.from_bytes(payload[pos + 5 : pos + 7], "big")
                w = int.from_bytes(payload[pos + 7 : pos + 9], "big")
                ncomp = payload[pos + 9]
                return "jpeg", w, h, precision, ncomp
            if marker == 0xDA:  # SOS before any SOF: malformed
                break
            pos += 2 + size
        raise ValueError("no SOF frame header before SOS/EOI")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 13:
            raise ValueError("truncated GIF header")
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        bit_depth = ((payload[10] >> 4) & 0x7) + 1
        return "gif", w, h, bit_depth, 3
    raise ValueError("unsupported image header (PNG/JPEG/GIF only)")


IMAGE_HEADER_SCHEMA = (
    "asset_id long, format string, width int, height int, "
    "bit_depth int, n_channels int"
)


def extract_image_headers(assets: DataFrame) -> DataFrame:
    """Arrow-batched header-only metadata extraction — the cheap first
    pass of an image curation pipeline (filter by dimensions/depth
    before paying for any real decode)."""
    return _map_payloads(assets, parse_image_header, IMAGE_HEADER_SCHEMA)


def make_png(width: int, height: int, bit_depth: int = 8) -> bytes:
    """Build a COMPLETE valid truecolor PNG (signature, CRC-correct
    IHDR, zlib IDAT of zero scanlines, IEND) in pure stdlib — a real
    file any viewer opens, used as the synthetic asset generator."""
    import struct
    import zlib

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, 2, 0, 0, 0)
    raw = (b"\x00" + b"\x00" * (width * 3)) * height  # filter byte + RGB row
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_jpeg_header(width: int, height: int) -> bytes:
    """Build a structurally valid JPEG marker stream through SOF0
    (SOI, JFIF APP0, a minimal DQT, the SOF0 frame header, EOI). Not a
    decodable image (no entropy-coded scan — that needs a real
    encoder); it exercises exactly what a header walk reads, which is
    the honest scope of a codec-less environment."""
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + b"\x10" * 64
    sof0 = (
        struct.pack(">BHHB", 8, height, width, 3)
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    out = b"\xff\xd8"
    for marker, body in ((b"\xff\xe0", app0), (b"\xff\xdb", dqt), (b"\xff\xc0", sof0)):
        out += marker + struct.pack(">H", len(body) + 2) + body
    return out + b"\xff\xd9"


def make_gif(width: int, height: int) -> bytes:
    """Minimal GIF89a: header + logical screen descriptor (color
    resolution 8) + trailer."""
    return (
        b"GIF89a"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + b"\x70\x00\x00"
        + b"\x3b"
    )


def synthetic_image_header_assets(docs: DataFrame) -> DataFrame:
    """Deterministic real-header image payloads cycling PNG/JPEG/GIF by
    doc_id % 3, dimensions 16+id%50 x 9+id%40 — closed-form metadata a
    SQL oracle states exactly while the parser walks genuine bytes."""

    def make(did: int) -> bytes:
        maker = (make_png, make_jpeg_header, make_gif)[did % 3]
        return maker(16 + did % 50, 9 + did % 40)

    return _synthetic_assets(docs, make)


# ---------------------------------------------------------------------------
# Real multi-frame container decode: concatenated-P6 PPM streams
# (the netpbm video stream format — e.g. `ffmpeg -f image2pipe -c:v ppm`)
# ---------------------------------------------------------------------------

VIDEO_FRAME_SCHEMA = (
    "asset_id long, frame_index int, width int, height int, mean_pixel double"
)


def decode_ppm_stream(payload: bytes) -> list[tuple[int, int, int, float]]:
    """Walk a concatenated-P6 stream frame by frame: each frame is a
    full P6 image (ASCII header + w*h*3 raw RGB bytes) immediately
    followed by the next. Returns [(frame_index, width, height,
    mean_pixel byte)]. Raises ValueError on a malformed or truncated
    frame — real parse errors surface, nothing is faked."""
    frames = []
    off = 0
    while off < len(payload):
        idx = len(frames)
        try:
            w, h, pix, end = _ppm_frame(payload, off)
        except ValueError as e:
            raise ValueError(f"frame {idx}: {e} at offset {off}") from None
        frames.append((idx, w, h, _mean_byte(pix)))
        off = end
    return frames


def sample_video_frames(assets: DataFrame) -> DataFrame:
    """Decode every frame of each concatenated-PPM payload and keep
    the even-indexed ones (the video curation primitive: train on a
    frame subsample, not 30 fps). One Arrow-batched crossing
    (:func:`_map_payloads`) with the declared 1→N VIDEO_FRAME_SCHEMA — decode
    parallelism is the asset partitioning, per-task memory is one
    batch of payloads, and the kept-frame stream is immediately
    columnar for downstream relational ops."""
    return _map_payloads(
        assets,
        lambda p: [f for f in decode_ppm_stream(p) if f[0] % 2 == 0],
        VIDEO_FRAME_SCHEMA,
    )


def synthetic_ppm_stream_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL multi-frame PPM streams per doc_id:
    2 + id%4 frames, each (3 + id%5) x 2 with constant pixel byte
    (id*11 + 17*frame) % 256 — every decoded field is closed-form
    arithmetic a SQL oracle can state, while the decoder still walks
    genuine concatenated P6 bytes."""

    def make(did: int) -> bytes:
        w, h = 3 + did % 5, 2
        return b"".join(
            b"P6\n%d %d\n255\n" % (w, h)
            + bytes([(did * 11 + 17 * f) % 256]) * (3 * w * h)
            for f in range(2 + did % 4)
        )

    return _synthetic_assets(docs, make)


# ---------------------------------------------------------------------------
# Perceptual image fingerprint: average hash (aHash) over the decoded raster
# ---------------------------------------------------------------------------


def _gray_raster(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode PPM (P6) or uncompressed 24-bit BMP into (width, height,
    per-pixel gray sums r+g+b in image row order, top-down). BMP rows
    are stored bottom-up for positive heights — re-ordered here so the
    same image hashes identically across containers."""
    w, h, pix = _rgb_raster(payload)
    return w, h, [pix[i] + pix[i + 1] + pix[i + 2] for i in range(0, len(pix), 3)]


def ahash_image(payload: bytes, grid: int = 8) -> str:
    """Average hash (aHash): downsample the grayscale raster to
    ``grid``x``grid`` block means by integer box binning, threshold
    each block against the global mean, and pack the grid row-major
    into a ``grid**2``-bit fingerprint (hex string, zero-padded).

    The standard perceptual-dedup fingerprint (pHash family): identical
    for re-encodes of the same picture across containers (PPM vs BMP,
    pytest-asserted) and stable under uniform brightness shifts, unlike
    the byte-level content_sha. Pure integer block sums; the only
    floats are the final per-block/global mean comparisons."""
    w, h, gray = _gray_raster(payload)
    if not gray:
        raise ValueError("empty raster")
    sums = [[0] * grid for _ in range(grid)]
    cnts = [[0] * grid for _ in range(grid)]
    for y in range(h):
        by = y * grid // h
        row_base = y * w
        for x in range(w):
            sums[by][x * grid // w] += gray[row_base + x]
            cnts[by][x * grid // w] += 1
    total = sum(gray) / (3.0 * len(gray))
    bits = 0
    for by in range(grid):
        for bx in range(grid):
            if cnts[by][bx] and sums[by][bx] / (3.0 * cnts[by][bx]) > total:
                bits |= 1 << (by * grid + bx)
    # ceil(grid^2 / 4) hex chars: keeps the fingerprint fixed-width for
    # odd grids too (grid=5 -> 25 bits -> 7 chars), which the fixed-
    # offset hi/lo band split in ahash_hamming_matrix relies on
    return format(bits, "0%dx" % ((grid * grid + 3) // 4))


AHASH_SCHEMA = "asset_id long, ahash string"


def image_ahash(assets: DataFrame) -> DataFrame:
    """Per-asset 8x8 perceptual fingerprint via :func:`ahash_image` through
    the standard Arrow-batched crossing. Downstream exact-group dedup
    is a plain hash groupBy on the 64-bit fingerprint; hamming-
    tolerant near-dup search reuses the banded-LSH shape from
    operators/dedup.py (split the 64 bits into 4x16-bit bands, bucket
    join per band) — the fingerprint is deliberately band-splittable."""
    return _map_payloads(assets, lambda p: (ahash_image(p),), AHASH_SCHEMA)


def synthetic_pattern_ppm_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL two-tone PPM images whose aHash is known in
    closed form: pattern doc_id%4 picks which half of a 16x16 canvas is
    bright (0 left / 1 top / 2 diagonal quadrants / 3 right), while the
    actual byte values vary per image (dark = id%30, bright =
    200 + id%56) — so byte-identical dedup (content_sha) sees every
    image as unique but the perceptual hash collapses each pattern
    class to one fingerprint the SQL oracle states as a literal."""
    side = 16
    half = side // 2

    def make(did: int) -> bytes:
        pat, dark, bright = did % 4, did % 30, 200 + did % 56
        buf = bytearray(b"P6\n%d %d\n255\n" % (side, side))
        for y in range(side):
            for x in range(side):
                if pat == 0:
                    lit = x < half
                elif pat == 1:
                    lit = y < half
                elif pat == 2:
                    lit = (x < half) == (y < half)
                else:
                    lit = x >= half
                buf += bytes([bright if lit else dark]) * 3
        return bytes(buf)

    return _synthetic_assets(docs, make)
