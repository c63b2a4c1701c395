"""Multimodal plumbing tests: schema/batch shapes are real even where the
codec is a deterministic fake (per task brief)."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from neontology_spark.images import generate_images
from neontology_spark.multimodal import (
    audio_features,
    decode_video,
    encode_video,
    generate_videos,
    image_features,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, n_rows=200, n_parts=4).cache()
    df.count()
    yield df
    df.unpersist()


def test_image_features(images):
    feats = image_features(images)
    rows = feats.collect()
    assert len(rows) == 200
    ok = [r for r in rows if r["decode_ok"]]
    assert len(ok) == 200  # all blobs structurally valid
    for r in ok[:20]:
        assert 0 <= r["mean_luma"] <= 255
        assert r["w"] >= 32 and r["h"] >= 32
        assert 0.0 <= r["edge_density"] <= 1.0
        # uniform-random pixels: mean near 127, high edge density
        assert 90 < r["mean_luma"] < 165
        assert r["edge_density"] > 0.5


def test_image_features_bad_blob(spark):
    df = spark.createDataFrame(
        [Row(image_id="x1", bytes=b"not an image")],
        "image_id string, bytes binary",
    )
    r = image_features(df).collect()[0]
    assert r["decode_ok"] is False


def test_resize(images):
    out = resize_images(images, 16, 16)
    rows = out.collect()
    assert len(rows) == 200
    assert all(r["w"] == 16 and r["h"] == 16 for r in rows)
    # round-trip: resized payload decodes to 16x16
    from neontology_spark.images import _decode

    px = _decode(rows[0]["bytes"])
    assert px is not None and px.shape == (16, 16)


def test_video_roundtrip_and_frame_sampling(spark):
    vids = generate_videos(spark, n_videos=10, n_frames=12)
    assert vids.count() == 10
    frames = sample_frames(vids, every_k=4)
    rows = frames.collect()
    # 12 frames, every 4th -> indices 0,4,8 per video
    assert len(rows) == 30
    assert sorted({r["frame_idx"] for r in rows}) == [0, 4, 8]
    from neontology_spark.images import _decode

    px = _decode(rows[0]["bytes"])
    assert px is not None and px.shape == (24, 32)


def test_video_codec_pure():
    frames = np.arange(2 * 3 * 4, dtype=np.uint8).reshape(2, 3, 4)
    assert np.array_equal(decode_video(encode_video(frames)), frames)
    assert decode_video(b"garbage") is None


def test_audio_stub_degrades(spark):
    df = spark.createDataFrame(
        [Row(audio_id="a1", bytes=b"RIFF....")], "audio_id string, bytes binary"
    )
    r = audio_features(df).collect()[0]
    assert r["decode_ok"] is False  # truncated RIFF -> degraded row, no crash


def test_audio_wav_decode(spark):
    """Real WAV/PCM decode (VERDICT r2 #6): stdlib wave + numpy — sample
    rate, channels, duration, and RMS all recovered; non-WAV rows degrade."""
    from neontology_spark.multimodal import encode_wav

    sr = 8_000
    t = np.arange(sr, dtype=np.float64) / sr  # 1 second
    mono = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    stereo = np.stack([mono, 0.25 * mono], axis=1)
    df = spark.createDataFrame(
        [
            Row(audio_id="mono", bytes=encode_wav(mono, sr)),
            Row(audio_id="stereo", bytes=encode_wav(stereo, sr)),
            Row(audio_id="junk", bytes=b"\x00" * 64),
        ],
        "audio_id string, bytes binary",
    )
    rows = {r["audio_id"]: r for r in audio_features(df).collect()}
    m = rows["mono"]
    assert m["decode_ok"] and m["sample_rate"] == sr and m["channels"] == 1
    assert abs(m["duration_sec"] - 1.0) < 1e-6
    # RMS of a 0.5-amplitude sine is 0.5/sqrt(2) ~ 0.3536 (16-bit quantized)
    assert abs(m["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    s = rows["stereo"]
    assert s["decode_ok"] and s["channels"] == 2
    assert rows["junk"]["decode_ok"] is False


def test_feature_kernel_prunes_payload_inputs(images, spark, tmp_path_factory):
    """Only (id, bytes) cross the Arrow boundary: the kernel input schema
    must not include w/h/fmt/caption/phash."""
    path = str(tmp_path_factory.mktemp("mm") / "img.parquet")
    images.write.parquet(path)
    stored = spark.read.parquet(path)
    feats = image_features(stored)
    import re

    plan = feats._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    assert schemas and all("caption" not in s and "phash" not in s for s in schemas)


def test_phash_consistency_detects_mismatches(spark):
    """Recompute-from-pixels vs stored phash: clean lossless rows are
    hamming 0; lossy quantization moves at most a few near-tie bits; a
    planted wrong phash and a corrupted blob are flagged. The kernel is
    golden-tested against a pure-python dhash recomputation."""
    import numpy as np
    import pandas as pd

    from neontology_spark.images import _encode, _pixels
    from neontology_spark.multimodal import (
        dhash64,
        phash_consistency,
        phash_violations,
        signed64,
    )

    rows = []
    for i in range(8):
        w, h = 40 + i, 36 + 2 * i
        px = _pixels(i, w, h)
        fmt = "png" if i % 2 == 0 else "jpeg"  # jpeg = lossy //3 quantize
        blob = _encode(px, fmt)
        # store the hash of the DECODED pixels for lossless, of the
        # ORIGINAL for lossy (the realistic ingest: hash-before-encode)
        stored = signed64(dhash64(px))
        if i == 5:
            stored = signed64(dhash64(px) ^ 0x00FF00FF00FF00FF)  # planted lie
        if i == 7:
            blob = b"garbage-not-an-image"
        rows.append((f"img_{i}", blob, stored, fmt))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "phash", "fmt"])
    )

    rep = {r["image_id"]: r for r in phash_consistency(df).collect()}
    assert len(rep) == 8
    assert not rep["img_7"]["decode_ok"]
    assert rep["img_7"]["hamming"] is None
    for i in (0, 2, 4, 6):  # lossless: exact
        assert rep[f"img_{i}"]["hamming"] == 0
    for i in (1, 3):  # lossy: only near-tie bits may flip
        assert rep[f"img_{i}"]["hamming"] <= 4
    assert rep["img_5"]["hamming"] >= 20  # 16 planted byte-flips × 2 runs

    vio = {r["image_id"] for r in phash_violations(df, max_hamming=4).collect()}
    assert vio == {"img_5", "img_7"}

    # golden parity: kernel's recomputed hash == driver-side dhash64
    px0 = _pixels(0, 40, 36)
    assert rep["img_0"]["recomputed_phash"] == signed64(dhash64(px0))


def test_dhash_properties():
    """dhash64 invariances: deterministic, sensitive to content, stable
    under 2x nearest upscale (same block means ordering), None below the
    grid size."""
    import numpy as np

    from neontology_spark.images import _pixels
    from neontology_spark.multimodal import dhash64

    px = _pixels(42, 45, 33)
    assert dhash64(px) == dhash64(px)
    other = _pixels(43, 45, 33)
    assert dhash64(px) != dhash64(other)
    up = np.kron(px, np.ones((2, 2), dtype=np.uint8))
    h1, h2 = dhash64(px), dhash64(up)
    assert bin(h1 ^ h2).count("1") <= 6  # block-mean ties may flip a few
    assert dhash64(np.zeros((4, 4), dtype=np.uint8)) is None


def test_image_near_duplicates(spark):
    """Image near-dup via dHash + the pigeonhole chunk-join: an exact
    re-encode and a lossy re-encode of the same pixels pair up within
    the hamming bound; distinct images don't; undecodable blobs drop
    out. Verified against a brute-force hamming matrix."""
    import numpy as np
    import pandas as pd

    from neontology_spark.images import _encode, _pixels
    from neontology_spark.multimodal import (
        dhash64,
        image_near_duplicates,
        perceptual_hashes,
    )

    rows = []
    for i in range(12):
        px = _pixels(i, 48, 40)
        rows.append((f"img_{i}", _encode(px, "png")))
    # near-dup plants: lossy re-encode of img_0, exact copy of img_1
    rows.append(("dup_lossy_0", _encode(_pixels(0, 48, 40), "jpeg")))
    rows.append(("dup_exact_1", _encode(_pixels(1, 48, 40), "png")))
    rows.append(("broken", b"not an image"))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes"])
    )

    H = 4
    got = {
        tuple(sorted((r["id_a"], r["id_b"]))): r["hamming"]
        for r in image_near_duplicates(df, max_hamming=H).collect()
    }
    # brute-force ground truth over the decodable rows
    hashes = {
        r["image_id"]: r["dhash"]
        for r in perceptual_hashes(df).collect()
        if r["decode_ok"]
    }
    assert "broken" not in hashes
    expected = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1")
            if d <= H:
                expected[tuple(sorted((a, b)))] = d
    assert got == expected
    assert ("dup_exact_1", "img_1") in got and got[("dup_exact_1", "img_1")] == 0
    assert ("dup_lossy_0", "img_0") in got


def test_phash_consistency_null_stored_hash_flagged_not_crashed(spark):
    """ADVICE r5: a NULL stored phash is the dirty input the checker
    exists for — it must surface as a violation row (NULL stored/hamming)
    instead of aborting the whole job in the int64 conversion."""
    import pandas as pd

    from neontology_spark.images import _encode, _pixels
    from neontology_spark.multimodal import (
        dhash64,
        phash_consistency,
        phash_violations,
        signed64,
    )

    rows = []
    for i in range(4):
        px = _pixels(i, 40, 36)
        stored = None if i in (1, 3) else signed64(dhash64(px))
        rows.append((f"img_{i}", bytearray(_encode(px, "png")), stored))
    # explicit schema: a pandas round-trip would coerce the nullable
    # int column to float64 and silently corrupt the 64-bit hashes
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, phash long"
    )

    rep = {r["image_id"]: r for r in phash_consistency(df).collect()}
    assert len(rep) == 4
    for i in (1, 3):  # NULL stored: decoded fine, but nothing to match
        assert rep[f"img_{i}"]["decode_ok"]
        assert rep[f"img_{i}"]["stored_phash"] is None
        assert rep[f"img_{i}"]["hamming"] is None
        assert rep[f"img_{i}"]["recomputed_phash"] is not None
    for i in (0, 2):  # clean rows unaffected by the NULL neighbors
        assert rep[f"img_{i}"]["hamming"] == 0

    vio = {r["image_id"] for r in phash_violations(df, max_hamming=0).collect()}
    assert vio == {"img_1", "img_3"}


def test_phash_consistency_int64_exact_beside_null_in_one_batch(spark):
    """A NULL stored phash must not cost its batch neighbours their 64-bit
    precision: pandas would carry the nullable column as float64 and round
    a hash above 2**53. One partition, so both rows share one batch."""
    from neontology_spark.images import _encode, _pixels
    from neontology_spark.multimodal import (
        dhash64,
        phash_consistency,
        phash_violations,
        signed64,
    )

    big = 9223372036854775797  # 2**63 - 11: not representable as float64
    blobs = [bytearray(_encode(_pixels(i, 40, 36), "png")) for i in range(2)]
    df = spark.createDataFrame(
        [("img_null", blobs[0], None), ("img_big", blobs[1], big)],
        "image_id string, bytes binary, phash long",
    ).coalesce(1)

    rep = {r["image_id"]: r for r in phash_consistency(df).collect()}
    assert rep["img_null"]["decode_ok"]
    assert rep["img_null"]["stored_phash"] is None
    assert rep["img_null"]["hamming"] is None
    assert rep["img_big"]["stored_phash"] == big
    recomputed = signed64(dhash64(_pixels(1, 40, 36)))
    assert rep["img_big"]["recomputed_phash"] == recomputed
    assert rep["img_big"]["hamming"] == bin((big ^ recomputed) & (2**64 - 1)).count("1")

    # the same stored hash, when true, is consistent beside a NULL
    df_ok = spark.createDataFrame(
        [("img_null", blobs[0], None), ("img_ok", blobs[1], recomputed)],
        "image_id string, bytes binary, phash long",
    ).coalesce(1)
    vio = {r["image_id"] for r in phash_violations(df_ok, max_hamming=0).collect()}
    assert vio == {"img_null"}
