"""Multimodal operator tests: codec round-trips and rejects (BMP, WAV,
PNG, GIF, JPEG, G.711 mu-law, MJPEG), the synthesize -> decode pipelines,
frame sampling, perceptual hashing, and NULL/foreign payload handling of
every decoder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cartography_spark.operators import multimodal as mm
from cartography_spark.sources.parquet import load_table


def test_bmp_codec_roundtrip_exact():
    """bmp_encode -> bmp_decode is lossless, including stride padding."""
    import numpy as np

    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (3, 5), (4, 8), (7, 2)]:  # w=3,7 exercise padding
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        out = mm.bmp_decode(mm.bmp_encode(px))
        assert out is not None and (out == px).all()
    assert mm.bmp_decode(b"JUNKJUNKJUNK" * 10) is None


def test_wav_codec_roundtrip_exact():
    import numpy as np

    s = (np.arange(-5, 37) * 911).astype(np.int16)
    dec = mm.wav_decode(mm.wav_encode(s, rate=8000))
    assert dec is not None
    rate, out = dec
    assert rate == 8000 and (out == s).all()
    assert mm.wav_decode(b"RIFFxxxxNOPE") is None


def test_png_roundtrip_all_filters():
    """PNG encode/decode round-trips across every scanline filter type and
    rejects corrupted CRCs and foreign bytes."""
    import numpy as np

    from cartography_spark.operators.multimodal import png_decode, png_encode

    rng = np.random.RandomState(7)
    for _ in range(8):
        h, w = int(rng.randint(1, 16)), int(rng.randint(1, 16))
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        for filters in (None, np.zeros(h, dtype=int), np.full(h, 4), rng.randint(0, 5, h)):
            dec = png_decode(png_encode(px, filters))
            assert dec is not None and (dec == px).all()
    blob = bytearray(png_encode(np.arange(64, dtype=np.uint8).reshape(8, 8)))
    blob[-5] ^= 0xFF
    assert png_decode(bytes(blob)) is None
    assert png_decode(b"notapng") is None
    assert png_decode(None) is None


def test_gif_lzw_roundtrip():
    """Exact round-trip across the LZW regimes: width growth past the
    9->10->11->12-bit boundaries, the 4096 dictionary reset (64x80 random
    = 5120 symbols > 4096-258 entries), the cScSc repeated-run case, and
    corruption -> None."""
    import numpy as np

    from cartography_spark.operators.multimodal import gif_decode, gif_encode

    rng = np.random.RandomState(7)
    for shape in [(1, 1), (7, 13), (16, 8), (64, 80)]:
        px = rng.randint(0, 256, shape).astype(np.uint8)
        dec = gif_decode(gif_encode(px))
        assert dec is not None and (dec == px).all(), shape
    runs = np.zeros((64, 80), np.uint8)  # constant image: cScSc-heavy
    dec = gif_decode(gif_encode(runs))
    assert dec is not None and (dec == runs).all()
    blob = gif_encode(rng.randint(0, 256, (8, 8)).astype(np.uint8))
    assert gif_decode(b"GIF89a") is None
    assert gif_decode(blob[:40]) is None
    assert gif_decode(None) is None
    # flip one LZW data byte: decode must fail closed, never mis-decode
    # silently into a wrong-size index stream
    corrupt = bytearray(blob)
    corrupt[-10] ^= 0x55
    out = gif_decode(bytes(corrupt))
    assert out is None or out.shape == (8, 8)


def test_jpeg_coefficient_roundtrip_property():
    """Full JPEG entropy-coder property: arbitrary quantized coefficient
    blocks (random AC patterns — runs, ZRL, EOB, every magnitude
    category, negatives) survive encode -> marker walk -> Huffman decode
    exactly."""
    import numpy as np

    from cartography_spark.operators.multimodal import (
        _jpeg_decode_scan,
        jpeg_encode_blocks,
    )

    rng = np.random.RandomState(42)
    for trial in range(100):
        blocks = []
        for _ in range(rng.randint(1, 5)):
            blk = np.zeros((8, 8), dtype=np.int64)
            for _ in range(rng.randint(0, 16)):
                blk[rng.randint(8), rng.randint(8)] = rng.randint(-1023, 1024)
            blocks.append(blk)
        w, h = 8, 8 * len(blocks)
        parsed = _jpeg_decode_scan(jpeg_encode_blocks(blocks, w, h))
        assert parsed is not None, trial
        got, gw, gh = parsed
        assert (gw, gh, len(got)) == (w, h, len(blocks))
        for a, b in zip(blocks, got):
            assert (a == b).all()


def test_jpeg_pixel_roundtrip_and_rejects():
    """Block-constant grayscale images round-trip losslessly through the
    full lossy pipeline; corrupt markers and foreign bytes are rejected."""
    import numpy as np

    from cartography_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.RandomState(3)
    for _ in range(20):
        hh = 8 * rng.randint(1, 4)
        px = np.zeros((hh, 16), dtype=np.uint8)
        for by in range(hh // 8):
            for bx in range(2):
                px[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = rng.randint(0, 256)
        enc = jpeg_encode(px)
        dec = jpeg_decode(enc)
        assert dec is not None and (dec == px).all()
    assert jpeg_decode(b"not a jpeg") is None
    assert jpeg_decode(b"\xff\xd8\xff\xd9") is None
    broken = bytearray(jpeg_encode(np.full((8, 8), 7, dtype=np.uint8)))
    broken[3] = 0xC2  # pretend progressive
    assert jpeg_decode(bytes(broken)) is None


def test_ulaw_g711_properties():
    """G.711 companding: decode(encode(x)) is idempotent under recompand,
    error is bounded by the segment step, sign-symmetric, zero-exact."""
    import numpy as np

    from cartography_spark.operators.multimodal import (
        ulaw_decode,
        ulaw_encode,
        wav_ulaw_decode,
        wav_ulaw_encode,
    )

    rng = np.random.RandomState(11)
    x = rng.randint(-32768, 32768, 4096).astype(np.int16)
    d = ulaw_decode(ulaw_encode(x))
    assert (ulaw_decode(ulaw_encode(d)) == d).all()  # codewords are fixed points
    err = np.abs(x.astype(np.int64) - d.astype(np.int64))
    assert err.max() <= 1024 + 132  # half top-segment step + clip bias
    assert ulaw_decode(ulaw_encode(np.array([0], dtype=np.int16)))[0] == 0
    neg = ulaw_decode(ulaw_encode(-x))
    assert (neg == -d.astype(np.int32)).all()
    rate, smp = wav_ulaw_decode(wav_ulaw_encode(x))
    assert rate == 8000 and (smp == d).all()
    assert wav_ulaw_decode(b"junk") is None


def test_mjpeg_split_and_frame_sampling():
    """MJPEG stream splitting is exact (EOI cannot occur inside
    entropy-coded data thanks to byte stuffing), frames round-trip
    individually, and the stride-sampled stats match a full decode."""
    import numpy as np

    from cartography_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
        mjpeg_split,
    )

    rng = np.random.RandomState(7)
    frames_px = [
        (rng.randint(0, 256, (16, 16)) // 16 * 16).astype(np.uint8) for _ in range(5)
    ]
    # block-constant frames (the synthesized shape) decode exactly
    for px in frames_px:
        for by in range(0, 16, 8):
            for bx in range(0, 16, 8):
                px[by : by + 8, bx : bx + 8] = px[by, bx]
    clip = b"".join(jpeg_encode(px) for px in frames_px)
    frames = mjpeg_split(clip)
    assert frames is not None and len(frames) == 5
    for raw, px in zip(frames, frames_px):
        dec = jpeg_decode(raw)
        assert dec is not None and (dec == px).all()
    # stride-2 sampling touches exactly frames 0, 2, 4
    sampled = [jpeg_decode(frames[f]).sum(dtype=np.int64) for f in range(0, 5, 2)]
    assert len(sampled) == 3
    # malformed streams are rejected, not mis-split
    assert mjpeg_split(b"") is None
    assert mjpeg_split(b"\x00\x01") is None
    assert mjpeg_split(clip + b"\xff\xd8\xff") is None  # trailing truncated frame


def test_multimodal_roundtrip(spark, sf_dir):
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    images = mm.synthesize_image_column(docs)
    meta = mm.decode_image_meta(images)
    rows = meta.collect()
    assert rows and all(
        r.valid and r.width == 4 and r.height % 4 == 0 and r.channels == 3
        and r.n_bytes == 54 + 12 * r.height
        for r in rows
    )
    # spot-check decoded stats against the digest closed form
    texts = {r.doc_id: r.text for r in docs.limit(5).collect()}
    by_id = {r.doc_id: r for r in rows}
    for doc_id, text in texts.items():
        dig = hashlib.md5(text.encode()).digest()
        assert by_id[doc_id].mean_pixel == sum(dig) / 16
    # corrupt payloads are flagged invalid, not crashed
    bad = images.withColumn("image", F.lit(b"JUNK"))
    assert all(not r.valid for r in mm.decode_image_meta(bad).collect())


def test_audio_features_real_wav(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    feats = mm.extract_audio_features(mm.synthesize_audio_column(docs)).collect()
    assert feats and all(
        r.sample_rate == 16000 and r.n_samples in (16, 32, 48, 64)
        and abs(r.duration_ms - r.n_samples / 16.0) < 1e-12
        and r.rms >= r.mean_amplitude  # Cauchy-Schwarz
        for r in feats
    )


def test_ahash_identical_and_inverted_images(spark, sf_dir):
    """An exact image copy pairs at Hamming 0; an inverted image (255-px)
    flips every hash bit and must NOT pair at max_hamming=2. Invalid
    payloads hash to valid=false."""
    from cartography_spark.operators import multimodal as mm
    from cartography_spark.sources.parquet import load_table
    import pyspark.sql.functions as SF

    docs = load_table(spark, sf_dir, "documents").limit(20)
    images = mm.synthesize_image_column(docs)
    twin = images.filter(SF.col("doc_id") == 0).select(
        (SF.col("doc_id") + 1000000).alias("doc_id"), "image"
    )
    hashes = mm.image_ahash(images.unionByName(twin))
    assert hashes.filter(~SF.col("valid")).count() == 0
    pairs = {
        (r.a, r.b): r.hamming
        for r in mm.ahash_near_dup_pairs(hashes).collect()
    }
    assert pairs[(0, 1000000)] == 0
    bad = mm.image_ahash(
        spark.createDataFrame([(5, bytearray(b"notabmp"))], "doc_id long, image binary")
    ).collect()[0]
    assert not bad.valid and bad.ahash == 0


@pytest.mark.parametrize(
    "decoder, bin_col",
    [
        ("decode_image_meta", "image"),
        ("decode_png_meta", "image"),
        ("decode_gif_meta", "image"),
        ("decode_jpeg_meta", "image"),
        ("extract_audio_features", "audio"),
        ("decode_ulaw_meta", "audio"),
        ("mjpeg_frame_stats", "video"),
        ("image_ahash", "image"),
    ],
)
def test_decoder_null_and_junk_payloads(spark, decoder, bin_col):
    """A NULL or foreign payload yields one all-zero row (``valid`` false
    where the schema has it; ``n_bytes`` is the payload length), never a
    failed task."""
    payloads = {1: None, 2: b"junk"}
    frame = spark.createDataFrame(
        [(k, None if v is None else bytearray(v)) for k, v in payloads.items()],
        f"doc_id long, {bin_col} binary",
    )
    rows = sorted(getattr(mm, decoder)(frame).collect())
    assert [r.doc_id for r in rows] == [1, 2]
    for r in rows:
        fields = r.asDict()
        fields.pop("doc_id")
        assert fields.pop("valid", False) is False
        if "n_bytes" in fields:
            assert fields.pop("n_bytes") == len(payloads[r.doc_id] or b"")
        assert all(v == 0 for v in fields.values()), fields
