"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched kernels
(``mapInPandas``) — decode, feature-extract, resize, frame-sample.

The container has no imaging/audio codec libraries, so the image/video
*codecs* are deterministic fakes (the same self-describing format as
images.py for stills, a multi-frame variant for video); audio decode is
REAL for uncompressed WAV/PCM (stdlib ``wave`` + numpy — no codec library
needed), with NotImplementedError only for compressed formats. Per the
task brief the Spark-side plumbing (schemas, partitioning, UDF
signatures, Arrow batch shapes, column pruning) is the real deliverable
and is fully tested. Swapping a real decoder in changes one private
function per modality, never a plan.

Scale notes:
* every kernel projects to exactly (id cols + the binary col) BEFORE
  mapInPandas so Arrow ships the minimum bytes; output schemas carry no
  payload unless the op's purpose is a new payload (resize).
* per-batch work is numpy-vectorized; the per-row python is only the
  variable-length buffer split (unavoidable for binary blobs).
* frame sampling is an expansion (1 video row → k frame rows): done in
  the kernel by yielding a longer DataFrame — Spark's mapInPandas is the
  UDTF surface; no explode of materialized frame arrays through a shuffle.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .images import MAGIC, _decode, _encode

VIDEO_MAGIC = b"VID1"

# ---------------------------------------------------------------------------
# fake video codec: VID1 + n_frames + w + h + concatenated luma planes
# ---------------------------------------------------------------------------


def encode_video(frames: np.ndarray) -> bytes:
    """frames: (n, h, w) uint8."""
    n, h, w = frames.shape
    return VIDEO_MAGIC + struct.pack("<III", n, w, h) + frames.tobytes()


def decode_video(b: bytes):
    if b is None or len(b) < 16 or b[:4] != VIDEO_MAGIC:
        return None
    n, w, h = struct.unpack("<III", b[4:16])
    body = np.frombuffer(b, dtype=np.uint8, offset=16)
    if body.size != n * w * h:
        return None
    return body.reshape(n, h, w)


def encode_wav(pcm: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Encode float32 PCM in [-1, 1) — shape (n_samples,) or
    (n_samples, channels) — as 16-bit PCM WAV bytes (stdlib ``wave``)."""
    import io
    import wave

    if pcm.ndim == 1:
        pcm = pcm[:, None]
    i16 = np.clip(pcm * 32768.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(pcm.shape[1])
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(i16.tobytes())
    return buf.getvalue()


def _decode_audio(b: bytes):
    """WAV/PCM decode via stdlib ``wave`` + numpy (VERDICT r2 #6 — no
    codec library needed for uncompressed WAV). Returns
    (sample_rate:int, channels:int, pcm float32 (n_samples, channels) in
    [-1, 1)). Compressed formats (mp3/ogg/flac/non-PCM WAV) still raise
    NotImplementedError — those genuinely need codec libraries absent
    from this container."""
    import io
    import wave

    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError(
            "only uncompressed RIFF/WAVE is decodable with the stdlib; "
            "compressed audio needs a codec library not in this container"
        )
    try:
        with wave.open(io.BytesIO(bytes(b)), "rb") as w:
            sr = w.getframerate()
            ch = w.getnchannels()
            sw = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except wave.Error as e:  # non-PCM WAV (compressed payload in a RIFF box)
        raise NotImplementedError(f"non-PCM WAV: {e}") from e
    if sw == 2:
        pcm = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 1:  # 8-bit WAV is unsigned
        pcm = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif sw == 4:
        pcm = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width {sw}")
    return sr, ch, pcm.reshape(-1, ch)


# ---------------------------------------------------------------------------
# image ops
# ---------------------------------------------------------------------------

FEATURES_DDL = (
    "image_id string, decode_ok boolean, w int, h int, mean_luma double, "
    "std_luma double, edge_density double"
)


def image_features(df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Per-image features from the decoded pixel plane: brightness stats +
    gradient edge density. One Arrow round-trip, numpy per image."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            out = {
                "image_id": pdf[id_col].astype(str),
                "decode_ok": np.zeros(n, dtype=bool),
                "w": np.zeros(n, dtype=np.int32),
                "h": np.zeros(n, dtype=np.int32),
                "mean_luma": np.full(n, np.nan),
                "std_luma": np.full(n, np.nan),
                "edge_density": np.full(n, np.nan),
            }
            for k in range(n):
                px = _decode(pdf[bytes_col].iloc[k])
                if px is None:
                    continue
                out["decode_ok"][k] = True
                out["h"][k], out["w"][k] = px.shape
                fpx = px.astype(np.float64)
                out["mean_luma"][k] = fpx.mean()
                out["std_luma"][k] = fpx.std()
                gy, gx = np.gradient(fpx)
                out["edge_density"][k] = float(
                    (np.abs(gx) + np.abs(gy) > 32).mean()
                )
            yield pd.DataFrame(out)

    return df.select(id_col, bytes_col).mapInPandas(kernel, schema=FEATURES_DDL)


RESIZE_DDL = "image_id string, bytes binary, w int, h int"


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Nearest-neighbor resize, re-encoded with the row's own format.
    Rows that fail decode are dropped (a filter on decode_ok upstream is
    the checked path; this op is the transform path)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for k in range(len(pdf)):
                px = _decode(pdf[bytes_col].iloc[k])
                if px is None:
                    continue
                h, w = px.shape
                yi = (np.arange(target_h) * h // target_h).clip(0, h - 1)
                xi = (np.arange(target_w) * w // target_w).clip(0, w - 1)
                resized = px[np.ix_(yi, xi)]
                fmt = pdf[fmt_col].iloc[k] if fmt_col in pdf else "png"
                blobs.append(_encode(resized, fmt if fmt in ("png", "jpeg", "webp") else "png"))
                ids.append(str(pdf[id_col].iloc[k]))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "bytes": blobs,
                    "w": np.full(len(ids), target_w, dtype=np.int32),
                    "h": np.full(len(ids), target_h, dtype=np.int32),
                }
            )

    cols = [id_col, bytes_col] + ([fmt_col] if fmt_col in df.columns else [])
    return df.select(*cols).mapInPandas(kernel, schema=RESIZE_DDL)


# ---------------------------------------------------------------------------
# video ops
# ---------------------------------------------------------------------------


def generate_videos(spark, n_videos: int = 100, n_frames: int = 12, w: int = 32, h: int = 24) -> DataFrame:
    """Deterministic synthetic video table (video_id, bytes, n_frames, w, h)
    — distributed generation, same philosophy as images.py."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                g = np.random.Generator(np.random.Philox(key=7, counter=[i, 0, 0, 0]))
                frames = g.integers(0, 256, size=(n_frames, h, w), dtype=np.uint8)
                ids.append(f"vid_{i:08d}")
                blobs.append(encode_video(frames))
            yield pd.DataFrame(
                {
                    "video_id": ids,
                    "bytes": blobs,
                    "n_frames": np.full(len(ids), n_frames, dtype=np.int32),
                    "w": np.full(len(ids), w, dtype=np.int32),
                    "h": np.full(len(ids), h, dtype=np.int32),
                }
            )

    return spark.range(0, n_videos, 1, numPartitions=8).mapInPandas(
        gen, schema="video_id string, bytes binary, n_frames int, w int, h int"
    )


FRAME_DDL = "video_id string, frame_idx int, bytes binary, w int, h int"


def sample_frames(
    df: DataFrame,
    every_k: int = 4,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """1 video row → ⌈n/k⌉ frame rows (frames re-encoded as stills).
    The expansion happens inside the kernel — mapInPandas as UDTF."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, blobs, ws, hs = [], [], [], [], []
            for k in range(len(pdf)):
                frames = decode_video(pdf[bytes_col].iloc[k])
                if frames is None:
                    continue
                vid = str(pdf[id_col].iloc[k])
                for fi in range(0, frames.shape[0], every_k):
                    ids.append(vid)
                    idxs.append(fi)
                    blobs.append(_encode(frames[fi], "png"))
                    hs.append(frames.shape[1])
                    ws.append(frames.shape[2])
            yield pd.DataFrame(
                {
                    "video_id": ids,
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "bytes": blobs,
                    "w": np.array(ws, dtype=np.int32),
                    "h": np.array(hs, dtype=np.int32),
                }
            )

    return df.select(id_col, bytes_col).mapInPandas(kernel, schema=FRAME_DDL)


# ---------------------------------------------------------------------------
# audio (stubbed decode, real plumbing)
# ---------------------------------------------------------------------------

AUDIO_FEATURES_DDL = (
    "audio_id string, decode_ok boolean, sample_rate int, channels int, "
    "duration_sec double, rms double"
)


def audio_features(df: DataFrame, id_col: str = "audio_id", bytes_col: str = "bytes") -> DataFrame:
    """Audio feature extraction over WAV/PCM blobs: sample rate, channel
    count, duration, RMS level. Decode is real for uncompressed WAV
    (stdlib ``wave`` + numpy); compressed formats surface as
    decode_ok=False rows so a pipeline over mixed media degrades instead
    of failing."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            out = {
                "audio_id": pdf[id_col].astype(str),
                "decode_ok": np.zeros(n, dtype=bool),
                "sample_rate": np.zeros(n, dtype=np.int32),
                "channels": np.zeros(n, dtype=np.int32),
                "duration_sec": np.full(n, np.nan),
                "rms": np.full(n, np.nan),
            }
            for k in range(n):
                try:
                    sr, ch, pcm = _decode_audio(pdf[bytes_col].iloc[k])
                except NotImplementedError:
                    continue  # decode_ok stays False
                out["decode_ok"][k] = True
                out["sample_rate"][k] = sr
                out["channels"][k] = ch
                out["duration_sec"][k] = pcm.shape[0] / sr if sr else np.nan
                out["rms"][k] = float(np.sqrt(np.mean(np.square(pcm, dtype=np.float64)))) if pcm.size else 0.0
            yield pd.DataFrame(out)

    return df.select(id_col, bytes_col).mapInPandas(kernel, schema=AUDIO_FEATURES_DDL)


# ---------------------------------------------------------------------------
# perceptual hash (dHash) + stored-phash consistency — the payload-side
# complement of the metadata uniqueness check on ``phash``: recompute the
# hash FROM THE PIXELS and compare against the stored column, so a row
# whose bytes were swapped/corrupted without updating its phash (or vice
# versa) surfaces even though both halves look individually valid.
# ---------------------------------------------------------------------------


def dhash64(px: np.ndarray) -> Optional[int]:
    """64-bit difference hash of a luma plane: block-average to an 8×9
    grid (integral-image block means — exact for ANY input size ≥ 8×9),
    then bit k = grid[r, c+1] > grid[r, c] row-major. Returns the
    UNSIGNED value (0..2^64-1); None for inputs too small to grid.
    Fully vectorized; invariant to resolution by construction, tolerant
    to small luma shifts (quantization moves a bit only where adjacent
    block means nearly tie)."""
    h, w = px.shape
    if h < 8 or w < 9:
        return None
    ys = (np.arange(9, dtype=np.int64) * h) // 8
    xs = (np.arange(10, dtype=np.int64) * w) // 9
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = px.astype(np.int64).cumsum(0).cumsum(1)
    sums = (
        ii[ys[1:, None], xs[None, 1:]]
        - ii[ys[:-1, None], xs[None, 1:]]
        - ii[ys[1:, None], xs[None, :-1]]
        + ii[ys[:-1, None], xs[None, :-1]]
    )
    areas = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    grid = sums / areas
    bits = (grid[:, 1:] > grid[:, :-1]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(64, dtype=np.uint64)).sum())


def signed64(u: int) -> int:
    """Reinterpret an unsigned 64-bit hash as the int64 the storage
    column carries (two's complement)."""
    return u - (1 << 64) if u >= (1 << 63) else u


PHASH_CONSISTENCY_DDL = (
    "image_id string, decode_ok boolean, stored_phash long, "
    "recomputed_phash long, hamming int"
)


def phash_consistency(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
) -> DataFrame:
    """Per row: decode the blob, recompute ``dhash64``, and report the
    hamming distance to the stored int64 phash (bit-reinterpreted).
    decode failures / too-small images report decode_ok=False with NULL
    hamming. Input is projected to (id, bytes, phash) before the Arrow
    boundary; output carries no payload. Threshold downstream:
    ``hamming = 0`` for lossless codecs, a small tolerance for lossy
    ones (quantization flips a bit only where adjacent block means
    nearly tie)."""

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            # the stored hash is read through Arrow, never pandas: a
            # nullable int64 column becomes float64 in pandas, which rounds
            # every hash above 2**53 in a batch holding a NULL. A NULL
            # stored phash is exactly the dirty input a consistency checker
            # must FLAG, not crash on: such rows surface with
            # NULL stored/hamming — the violation filter treats them as
            # inconsistent.
            stored_arr = batch.column(phash_col).cast(pa.int64())
            null_mask = stored_arr.is_null().to_numpy(zero_copy_only=False)
            stored = stored_arr.fill_null(0).to_numpy(zero_copy_only=False).view(np.uint64)
            blobs = batch.column(bytes_col).to_pylist()
            decode_ok = np.zeros(n, dtype=bool)
            recomputed = np.zeros(n, dtype=np.uint64)
            hamming = np.zeros(n, dtype=np.int32)
            for k in range(n):
                px = _decode(blobs[k])
                u = dhash64(px) if px is not None else None
                if u is None:
                    continue
                decode_ok[k] = True
                recomputed[k] = u
                hamming[k] = bin(int(stored[k]) ^ u).count("1")
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(batch.column(id_col), pa.string()),
                    pa.array(decode_ok),
                    pa.array(stored.view(np.int64), mask=null_mask),
                    pa.array(recomputed.view(np.int64)),
                    # NULL where there is nothing to compare
                    pa.array(hamming, mask=~decode_ok | null_mask),
                ],
                names=["image_id", "decode_ok", "stored_phash", "recomputed_phash", "hamming"],
            )

    return df.select(id_col, bytes_col, phash_col).mapInArrow(
        kernel, schema=PHASH_CONSISTENCY_DDL
    )


def phash_violations(
    df: DataFrame,
    max_hamming: int = 0,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
) -> DataFrame:
    """Rows whose stored phash disagrees with the pixels beyond
    ``max_hamming`` (or that fail to decode) — the violation stream for
    the phash-consistency invariant."""
    rep = phash_consistency(df, id_col, bytes_col, phash_col)
    return rep.filter(
        (~F.col("decode_ok"))
        | (F.col("hamming") > max_hamming)
        # a missing stored hash can never be consistent with the pixels
        | F.col("stored_phash").isNull()
    )


PERCEPTUAL_HASH_DDL = "image_id string, dhash long, decode_ok boolean"


def perceptual_hashes(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(image_id, dhash int64, decode_ok) — the dHash of each blob's
    pixels, int64 bit-reinterpreted for storage/joins. Arrow kernel over
    a (id, bytes) projection; undecodable/too-small rows report
    decode_ok=False with NULL dhash."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            hashes = np.zeros(n, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            for k in range(n):
                px = _decode(pdf[bytes_col].iloc[k])
                u = dhash64(px) if px is not None else None
                if u is None:
                    continue
                ok[k] = True
                hashes[k] = np.uint64(u).astype(np.int64)
            res = pd.DataFrame(
                {
                    "image_id": pdf[id_col].astype(str),
                    "dhash": pd.array(hashes, dtype="Int64"),
                    "decode_ok": ok,
                }
            )
            res.loc[~res["decode_ok"], "dhash"] = pd.NA
            yield res

    return df.select(id_col, bytes_col).mapInPandas(
        kernel, schema=PERCEPTUAL_HASH_DDL
    )


def image_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Near-duplicate IMAGE pairs: (id_a, id_b, hamming) with
    hamming(dhash_a, dhash_b) ≤ max_hamming — re-encodes, mild
    quantization, and small luma shifts collide; distinct content
    doesn't. One Arrow decode pass per image, then the same pigeonhole
    chunk-join as text SimHash (``dedup.hamming_pairs_64``): candidates
    come from per-chunk equi-joins, never an all-pairs product — the
    image-dedup shape that survives 10^12 rows. Undecodable rows drop
    out (they can never be near-duplicates of anything)."""
    from .dedup import hamming_pairs_64

    hashes = perceptual_hashes(df, id_col, bytes_col).filter(
        F.col("decode_ok")
    )
    return hamming_pairs_64(hashes, "dhash", "image_id", max_hamming)
