"""Unit tests for the multimodal binary-column plumbing."""

from __future__ import annotations

import hashlib

import pytest

from etl_challenge_localiza_spark.operators.multimodal import (
    assets_from_documents,
    extract_features,
)

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _assets(spark):
    docs = spark.createDataFrame([(1, "héllo wörld", "en", "s", 11)], DOC_COLS)
    return assets_from_documents(docs)


def test_payload_is_binary(spark):
    df = _assets(spark)
    assert dict(df.dtypes)["payload"] == "binary"
    assert bytes(df.first()["payload"]) == "héllo wörld".encode()


def test_extract_features_deterministic(spark):
    r = extract_features(_assets(spark)).first()
    raw = "héllo wörld".encode()
    assert r["n_bytes"] == len(raw)
    assert r["content_sha"] == hashlib.sha256(raw).hexdigest()
    assert 16 <= r["width"] < 80 and 16 <= r["height"] < 80
    # deterministic across runs
    r2 = extract_features(_assets(spark)).first()
    assert (r["width"], r["height"]) == (r2["width"], r2["height"])


@pytest.mark.parametrize(
    "extractor, schema",
    [
        ("extract_features", "FEATURE_SCHEMA"),
        ("extract_image_features", "IMAGE_FEATURE_SCHEMA"),
        ("extract_audio_features", "AUDIO_FEATURE_SCHEMA"),
        ("extract_image_headers", "IMAGE_HEADER_SCHEMA"),
        ("sample_video_frames", "VIDEO_FRAME_SCHEMA"),
        ("image_ahash", "AHASH_SCHEMA"),
    ],
)
def test_extractors_on_empty_assets_keep_declared_schema(spark, extractor, schema):
    from etl_challenge_localiza_spark.operators import multimodal

    empty = spark.createDataFrame([], "asset_id long, kind string, payload binary")
    out = getattr(multimodal, extractor)(empty)
    assert out.collect() == []
    assert out.schema == spark.createDataFrame([], getattr(multimodal, schema)).schema


# ---------------------------------------------------------------------------
# Real decoders (PPM / BMP)
# ---------------------------------------------------------------------------

def _bmp_24(width, height, rows, top_down=False):
    """Hand-assemble an uncompressed 24-bit BMP: ``rows`` is a list of
    height pixel rows, each width*3 bytes, in BOTTOM-UP order (the BMP
    default); top_down stores a negative height and natural row order."""
    stride = (width * 3 + 3) & ~3
    raster = b"".join(r + b"\0" * (stride - len(r)) for r in rows)
    size = 54 + len(raster)
    h = height if not top_down else -height
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
        + b"\0" * 16
    )
    return header + raster


def test_decode_ppm_parses_real_bytes():
    from etl_challenge_localiza_spark.operators.multimodal import decode_image

    payload = b"P6\n3 2\n255\n" + bytes(range(18))
    w, h, mean = decode_image(payload)
    assert (w, h) == (3, 2)
    assert mean == sum(range(18)) / 18


def test_decode_bmp_row_padding_and_top_down():
    from etl_challenge_localiza_spark.operators.multimodal import decode_image

    # width 3 -> 9-byte rows pad to 12: padding must NOT enter the mean
    rows = [bytes([10] * 9), bytes([30] * 9)]
    w, h, mean = decode_image(_bmp_24(3, 2, rows))
    assert (w, h, mean) == (3, 2, 20.0)

    w, h, mean = decode_image(_bmp_24(3, 2, rows, top_down=True))
    assert (w, h, mean) == (3, 2, 20.0)


def test_decode_rejects_unknown_and_truncated():
    from etl_challenge_localiza_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        decode_image(b"P6\n4 4\n255\n" + b"\0" * 5)  # truncated raster


def test_multimodal_decode_end_to_end(spark, sf0001):
    """The registry query decodes genuine PPM bytes; spot-check one row
    against values computed directly from the payload."""
    from etl_challenge_localiza_spark.operators.multimodal import (
        decode_image,
        extract_image_features,
        synthetic_ppm_assets,
    )
    from etl_challenge_localiza_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents").limit(5)
    assets = synthetic_ppm_assets(docs)
    raw = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    out = {r["asset_id"]: r for r in extract_image_features(assets).collect()}
    assert set(out) == set(raw)
    for aid, payload in raw.items():
        w, h, mean = decode_image(payload)
        r = out[aid]
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_pixel"] == mean
        assert r["n_bytes"] == len(payload)
        assert (w, h) == (4 + aid % 13, 3 + aid % 7)


def test_binary_file_ingest_feeds_decoder(spark, tmp_path):
    """The production multimodal ingest path: a directory of real image
    files read via the binaryFile source, normalized to
    (asset_id, payload), and decoded by the Arrow-batched pipeline —
    dimensions and mean intensity come back per file."""
    from etl_challenge_localiza_spark.operators.multimodal import (
        extract_image_features,
    )
    from etl_challenge_localiza_spark.sources.readers import read_binary_assets

    from pyspark.sql import functions as F

    d = tmp_path / "assets"
    d.mkdir()
    want = {}
    for i, (w, h, px) in enumerate([(4, 3, 7), (6, 2, 200), (5, 5, 0)]):
        (d / f"img{i}.ppm").write_bytes(
            b"P6\n%d %d\n255\n" % (w, h) + bytes([px]) * (3 * w * h)
        )
        want[i] = (w, h, float(px))
    (d / "notes.txt").write_text("not an image")  # pruned by the glob

    assets = read_binary_assets(spark, str(d), glob="*.ppm")
    rows = assets.collect()
    assert {r["asset_id"] for r in rows} == {f"img{i}" for i in want}
    assert all(r["n_bytes"] == len(r["payload"]) for r in rows)

    # the feature extractor keys assets by numeric id — map the
    # filename stem to one (the normal ingest-join step)
    numbered = assets.select(
        F.regexp_extract("asset_id", r"(\d+)$", 1).cast("long").alias("asset_id"),
        "payload",
    )
    feats = {
        r["asset_id"]: (r["width"], r["height"], r["mean_pixel"])
        for r in extract_image_features(numbered).collect()
    }
    assert feats == want


def test_wav_decode_and_audio_features(spark, tmp_path):
    """Real PCM WAV parsing through binaryFile ingest + the Arrow
    pipeline: channels/rate/bits/duration/amplitude all come back in
    closed form; compressed formats refuse loudly."""
    import math

    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.multimodal import (
        decode_wav,
        extract_audio_features,
        make_wav,
    )
    from etl_challenge_localiza_spark.sources.readers import read_binary_assets

    # closed-form check: 8000 Hz mono, 4000 samples of a square wave
    sq = [16384 if i % 2 else -16384 for i in range(4000)]
    ch, rate, bits, dur, amp = decode_wav(make_wav(1, 8000, sq))
    assert (ch, rate, bits) == (1, 8000, 16)
    assert dur == pytest.approx(0.5)
    assert amp == pytest.approx(16384 / 32768.0)

    # stereo frame counting: 2 channels halve the duration
    ch, rate, bits, dur, _ = decode_wav(make_wav(2, 8000, sq))
    assert (ch, dur) == (2, pytest.approx(0.25))

    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunk")
    with pytest.raises(ValueError):
        decode_wav(b"ID3\x03mp3-ish")

    d = tmp_path / "audio"
    d.mkdir()
    want = {}
    for i, n in enumerate([800, 1600, 2400]):
        tone = [int(10000 * math.sin(i + j / 5)) for j in range(n)]
        (d / f"clip{i}.wav").write_bytes(make_wav(1, 8000, tone))
        want[i] = n / 8000
    assets = read_binary_assets(spark, str(d), glob="*.wav").select(
        F.regexp_extract("asset_id", r"(\d+)$", 1).cast("long").alias("asset_id"),
        "payload",
    )
    out = {
        r["asset_id"]: r for r in extract_audio_features(assets).collect()
    }
    assert set(out) == set(want)
    for i, dur in want.items():
        assert out[i]["duration_sec"] == pytest.approx(dur)
        assert out[i]["sample_rate"] == 8000 and out[i]["bits"] == 16
        assert 0.0 < out[i]["mean_abs"] < 1.0


def test_wav_truncated_chunk_refuses():
    """A data chunk whose declared size runs past the payload end is a
    truncated download — loud ValueError, never silent partial stats."""
    from etl_challenge_localiza_spark.operators.multimodal import (
        decode_wav,
        make_wav,
    )

    full = make_wav(1, 8000, [1000] * 100)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(full[:-10])
    # min-int16 samples must not overflow the abs computation
    _, _, _, _, amp = decode_wav(make_wav(1, 8000, [-32768] * 10))
    assert amp == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# round 6: header-only image metadata (PNG IHDR / JPEG SOF / GIF)
# ---------------------------------------------------------------------------


def test_parse_image_header_roundtrips():
    from etl_challenge_localiza_spark.operators.multimodal import (
        make_gif,
        make_jpeg_header,
        make_png,
        parse_image_header,
    )

    assert parse_image_header(make_png(33, 21)) == ("png", 33, 21, 8, 3)
    assert parse_image_header(make_png(1, 1, bit_depth=16)) == ("png", 1, 1, 16, 3)
    assert parse_image_header(make_jpeg_header(640, 480)) == ("jpeg", 640, 480, 8, 3)
    assert parse_image_header(make_gif(17, 13)) == ("gif", 17, 13, 8, 3)


def test_parse_image_header_jpeg_marker_walk_edges():
    import struct

    from etl_challenge_localiza_spark.operators.multimodal import (
        make_jpeg_header,
        parse_image_header,
    )

    # SOF behind extra APPn/COM segments and a standalone RST marker
    jpg = make_jpeg_header(99, 44)
    soi, rest = jpg[:2], jpg[2:]
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    padded = soi + com + b"\xff\xd0" + rest  # COM + standalone RST0
    assert parse_image_header(padded) == ("jpeg", 99, 44, 8, 3)

    # progressive SOF2 is a frame header too
    sof2 = jpg.replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_image_header(sof2)[0] == "jpeg"

    # DHT (C4) must NOT be mistaken for a frame header: a stream whose
    # only Cx marker is C4 has no SOF
    import pytest as _pytest

    dht_only = jpg.replace(b"\xff\xc0", b"\xff\xc4")
    with _pytest.raises(ValueError, match="no SOF"):
        parse_image_header(dht_only)


def test_parse_image_header_refuses_malformed():
    import pytest as _pytest

    from etl_challenge_localiza_spark.operators.multimodal import (
        PNG_SIG,
        make_png,
        parse_image_header,
    )

    with _pytest.raises(ValueError, match="unsupported"):
        parse_image_header(b"\x00\x01\x02\x03garbage")
    # PNG whose first chunk is not IHDR
    bad = PNG_SIG + make_png(5, 5)[8:].replace(b"IHDR", b"sRGB", 1)
    with _pytest.raises(ValueError, match="IHDR"):
        parse_image_header(bad)
    # truncated JPEG: SOI then a cut-off segment
    with _pytest.raises(ValueError):
        parse_image_header(b"\xff\xd8\xff\xe0\x00")
    # truncated GIF
    with _pytest.raises(ValueError, match="truncated GIF"):
        parse_image_header(b"GIF89a\x10\x00")


def test_extract_image_headers_distributed(spark):
    from etl_challenge_localiza_spark.operators.multimodal import (
        extract_image_headers,
        synthetic_image_header_assets,
    )

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    out = {r["asset_id"]: r for r in
           extract_image_headers(synthetic_image_header_assets(docs)).collect()}
    assert len(out) == 30
    for i in range(30):
        r = out[i]
        assert r["format"] == ("png", "jpeg", "gif")[i % 3]
        assert (r["width"], r["height"]) == (16 + i % 50, 9 + i % 40)
        assert (r["bit_depth"], r["n_channels"]) == (8, 3)


def test_decode_ppm_stream_walks_frames_and_refuses_truncation():
    from etl_challenge_localiza_spark.operators.multimodal import decode_ppm_stream

    f0 = b"P6\n2 2\n255\n" + bytes([10]) * 12
    f1 = b"P6\n3 1\n255\n" + bytes([200]) * 9
    frames = decode_ppm_stream(f0 + f1)
    assert frames == [(0, 2, 2, 10.0), (1, 3, 1, 200.0)]
    # truncated second frame → loud refusal naming the frame
    with pytest.raises(ValueError, match="frame 1"):
        decode_ppm_stream(f0 + f1[:-1])
    # garbage between frames → refusal, not silent resync
    with pytest.raises(ValueError, match="frame 1"):
        decode_ppm_stream(f0 + b"JUNK" + f1)


def test_sample_video_frames_stride(spark):
    from etl_challenge_localiza_spark.operators.multimodal import (
        sample_video_frames,
        synthetic_ppm_stream_assets,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = sample_video_frames(synthetic_ppm_stream_assets(docs), stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["asset_id"], []).append(r["frame_index"])
    for did, idxs in by_doc.items():
        n_frames = 2 + did % 4
        assert sorted(idxs) == [f for f in range(n_frames) if f % 2 == 0]
    # closed-form mean pixel
    for r in out:
        assert r["mean_pixel"] == float((r["asset_id"] * 11 + 17 * r["frame_index"]) % 256)


# ---------------------------------------------------------------------------
# Perceptual average hash (aHash)
# ---------------------------------------------------------------------------

def _two_tone_ppm(side, dark, bright, lit):
    buf = bytearray(b"P6\n%d %d\n255\n" % (side, side))
    for y in range(side):
        for x in range(side):
            buf += bytes([bright if lit(x, y) else dark]) * 3
    return bytes(buf)


def test_ahash_brightness_invariant_but_bytes_differ():
    from etl_challenge_localiza_spark.operators.multimodal import ahash_image

    a = _two_tone_ppm(16, 5, 201, lambda x, y: x < 8)
    b = _two_tone_ppm(16, 29, 255, lambda x, y: x < 8)
    assert a != b  # byte-level dedup would keep both
    assert ahash_image(a) == ahash_image(b) == "0f0f0f0f0f0f0f0f"
    assert ahash_image(_two_tone_ppm(16, 0, 200, lambda x, y: y < 8)) == (
        "00000000ffffffff"
    )


def test_ahash_same_image_across_containers():
    from etl_challenge_localiza_spark.operators.multimodal import ahash_image

    # same 8x8 picture as PPM and as bottom-up BMP must hash identically
    side, dark, bright = 8, 10, 240
    lit = lambda x, y: (x < 4) == (y < 4)  # noqa: E731
    ppm = _two_tone_ppm(side, dark, bright, lit)
    bmp_rows = [
        b"".join(
            bytes([bright if lit(x, y) else dark]) * 3 for x in range(side)
        )
        for y in reversed(range(side))  # bottom-up row order
    ]
    bmp = _bmp_24(side, side, bmp_rows)
    assert ahash_image(ppm) == ahash_image(bmp) == "f0f0f0f00f0f0f0f"


def test_ahash_non_divisible_dims_and_refusals():
    import pytest as _pytest

    from etl_challenge_localiza_spark.operators.multimodal import ahash_image

    # 10x10 raster box-bins into 8x8 without error and stays two-tone
    assert ahash_image(_two_tone_ppm(10, 0, 250, lambda x, y: x < 5)) == (
        "0f0f0f0f0f0f0f0f"
    )
    with _pytest.raises(ValueError):
        ahash_image(b"GIF89a not a raster we decode")
    with _pytest.raises(ValueError):
        ahash_image(b"P6\n4 4\n255\n\x00\x01")  # truncated

    # odd grids stay fixed-width (ADVICE r6): ceil(grid^2/4) hex chars,
    # so the fixed-offset hi/lo band split downstream never misaligns
    for grid in (3, 5, 7, 8):
        fp = ahash_image(_two_tone_ppm(16, 0, 250, lambda x, y: x < 8), grid=grid)
        assert len(fp) == (grid * grid + 3) // 4, grid


def test_image_ahash_dedup_collapses_pattern_classes(spark):
    from etl_challenge_localiza_spark.operators.multimodal import (
        image_ahash,
        synthetic_pattern_ppm_assets,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    rows = image_ahash(synthetic_pattern_ppm_assets(docs)).collect()
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["ahash"], []).append(r["asset_id"])
    assert len(by_hash) == 4
    for ids in by_hash.values():
        pats = {i % 4 for i in ids}
        assert len(pats) == 1 and len(ids) == 3


def test_ahash_hamming_matrix_pins_pattern_distances(spark):
    import tempfile, os

    from etl_challenge_localiza_spark.registry import QUERIES

    docs = spark.createDataFrame([(i, "t", "en", "s", 1) for i in range(8)],
                                 ["doc_id", "text", "lang", "source", "n_chars"])
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        rows = QUERIES["ahash_hamming_matrix"].fn(spark, d).collect()
    dist = {(r["hash_a"], r["hash_b"]): r["hamming"] for r in rows}
    assert len(dist) == 6  # C(4,2) distinct-group pairs
    # left-half vs right-half bright are exact complements: 64 bits apart
    assert dist[("0f0f0f0f0f0f0f0f", "f0f0f0f0f0f0f0f0")] == 64
    assert all(h in (32, 64) for h in dist.values())
