"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media lives in the engine as opaque ``binary`` columns plus a typed
metadata struct — the layout that keeps Parquet scans prunable (metadata
reads never touch the blob pages) and lets Spark shuffle/partition media
rows like any other row.

Codec layering (the ``pipeline/sinks.py`` frictionless pattern), in
dispatch order inside the same Arrow-batched ``mapInPandas`` bodies:

1. **PPM (P6) images, BASELINE JPEG, 8-bit PNG and GIF (r9 —
   operators/jpeg.py: the pure-numpy ITU-T T.81 subset — SOF0/SOF1
   Huffman, any sampling factors, restart markers — an RFC-2083 PNG
   decoder over stdlib zlib (all color types at depth 8), and a
   GIF87a/89a first-frame LZW decoder incl. interlace), PCM WAV audio,
   and Y4M video** — REAL codecs, always available. PPM/WAV/Y4M are uncompressed (header +
   raw samples); JPEG adds the entropy+DCT pipeline a real crawl's
   images actually arrive in. Decode, ITU-R 601-2 luma,
   nearest-neighbor downscale for features and perceptual hashes,
   BT.601 YUV->RGB frame decode, and RMS/zero-crossing audio features
   are numpy array ops with no media library at all. ``decode_stub=False``
   genuinely decodes in any environment for these formats. Baseline
   and progressive JPEG (r10) decode through the BUILT-IN codec even
   when Pillow is importable, so hashes/features are
   environment-independent; out-of-scope variants (arithmetic/12-bit
   JPEG, interlaced/16-bit PNG) fall through to Pillow when present
   and otherwise QUARANTINE to NULL per the E1 contract.
2. **Pillow** — layered in for every other image format when importable.
3. Neither applies → ``decode_stub=False`` raises NotImplementedError at
   the batch level; ``decode_stub=True`` produces deterministic fake
   features derived from the bytes.

The Spark-side plumbing — schema, Arrow batch shapes, ``mapInPandas``
signatures, partition sizing — is identical on every path, so the plan
never depends on which kernel ran.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferc_xbrl_extractor_spark.operators.jpeg import (
    decode_gif,
    decode_jpeg_baseline,
    decode_png,
)

try:  # image codec for non-PPM/JPEG formats, layered in when available
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - sandbox has no Pillow
    _PILImage = None


_BUILTIN_IMAGE_MAGIC = (b"P6", b"\xff\xd8", b"\x89PNG", b"GIF8")


def _is_builtin_image(b: bytes) -> bool:
    return any(b[: len(m)] == m for m in _BUILTIN_IMAGE_MAGIC)


def _decode_rgb_builtin(b: bytes):
    """(h, w, 3) uint8 via the always-available codecs (PPM, baseline
    JPEG, 8-bit PNG), or None if the bytes are not decodable by them
    (the caller decides between Pillow fallthrough and E1 quarantine).
    Raises ValueError only for malformed PPM (parity with the pre-r9
    paths)."""
    if b[:2] == b"P6":
        return decode_ppm(b)
    if b[:2] == b"\xff\xd8":
        try:
            return decode_jpeg_baseline(b)
        except ValueError:
            return None
    if b[:4] == b"\x89PNG":
        try:
            return decode_png(b)
        except ValueError:
            return None
    if b[:4] == b"GIF8":
        try:
            return decode_gif(b)  # first frame = the poster convention
        except ValueError:
            return None
    return None


def decode_ppm(b: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) into an (h, w, 3) uint8 array — pure
    numpy. Supports the netpbm grammar: '#' comments and arbitrary
    whitespace between header tokens; maxval must fit one byte."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    tokens: list[int] = []
    i = 2
    # every scan is bounds-checked: a truncated/garbage header must
    # raise (quarantinable), not walk past the buffer — the unbounded
    # token scan here used to spin forever on b'' (.isspace() is False)
    while len(tokens) < 3:
        if i >= len(b):
            raise ValueError("truncated PPM header")
        c = b[i : i + 1]
        if c == b"#":
            nl = b.find(b"\n", i)
            if nl < 0:
                raise ValueError("truncated PPM header")
            i = nl + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(b) and not b[j : j + 1].isspace():
                j += 1
            if j == len(b):
                raise ValueError("truncated PPM header")
            try:
                tokens.append(int(b[i:j]))
            except ValueError:
                raise ValueError(
                    f"malformed PPM header token {b[i:j]!r}"
                ) from None
            i = j
    w, h, maxval = tokens
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    i += 1  # single whitespace byte after maxval, per spec
    pix = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    return pix.reshape(h, w, 3).copy()


def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def _nn_resize(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize via index gather (center sampling) —
    deterministic, no interpolation library."""
    h, w = arr.shape[:2]
    rows = np.minimum(
        ((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1
    )
    cols = np.minimum(
        ((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1
    )
    return arr[rows][:, cols]


def _luma(arr: np.ndarray) -> np.ndarray:
    """ITU-R 601-2 integer luma (the PIL 'L' formula): (299R + 587G +
    114B) // 1000 per pixel, uint8."""
    a = arr.astype(np.int64)
    return (
        (a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114) // 1000
    ).astype(np.uint8)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def media_table_from_binary(
    df: DataFrame, id_col: str, content_col: str, media_type: str, mime: str
) -> DataFrame:
    """Normalize any (id, binary) relation into the engine's media layout."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(content_col).cast("binary").alias("content"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_feature(content: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a codec+encoder: md5-seeded floats in
    [-1, 1). Stable across runs/executors — good enough to test the
    pipeline's partitioning, batching, and downstream similarity ops."""
    out: list[float] = []
    counter = 0
    while len(out) < dim:
        h = hashlib.md5(content + counter.to_bytes(4, "little")).digest()
        out.extend((b - 128) / 128.0 for b in h)
        counter += 1
    return out[:dim]


def extract_features(
    media: DataFrame, dim: int = 16, decode_stub: bool = True
) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas`` (Arrow-batched —
    the only sane way to move blobs through Python). Output schema is fixed
    (FEATURE_SCHEMA) so the downstream plan never depends on the stub.

    At scale: blobs dominate batch size, so keep
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` small enough that a
    batch of blobs fits executor memory; the session factory's 10k default
    assumes ~100 KB media — lower it for video.
    """

    def _real_feature(b: bytes) -> list[float] | None:
        # real kernel: decode, ITU-R 601-2 grayscale, downsample to
        # `dim` pixels, map intensities to [-1, 1) — deterministic for a
        # given image. NULL/empty content yields a NULL feature (the
        # stub fabricates one from bytes; a real decoder has nothing to
        # decode). PPM decodes via the pure-numpy codec everywhere;
        # other formats fall through to Pillow when importable.
        if not b:
            return None
        arr = _decode_rgb_builtin(b)
        if arr is not None:
            row = _nn_resize(_luma(arr), dim, 1)[0]
            return [float(p) / 128.0 - 1.0 for p in row]
        if _is_builtin_image(b) and _PILImage is None:
            # JPEG/PNG the built-in codecs could not decode (malformed,
            # arithmetic-coded, 12-bit, interlaced, 16-bit): quarantine,
            # don't kill the job (E1)
            return None
        if _PILImage is None:
            raise NotImplementedError(
                "only the built-in PPM (P6) and baseline-JPEG codecs are "
                "available in this environment (Pillow not importable); "
                "re-encode media, run with decode_stub=True, or install "
                "Pillow"
            )
        import io

        img = _PILImage.open(io.BytesIO(b)).convert("L").resize((dim, 1))
        return [p / 128.0 - 1.0 for p in img.getdata()]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kernel = _fake_feature if decode_stub else (
                lambda b, _d=dim: _real_feature(b)
            )
            contents = pdf["content"].apply(lambda b: bytes(b) if b is not None else b"")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": contents.apply(len).astype("int64"),
                    "content_md5": contents.apply(lambda b: hashlib.md5(b).hexdigest()),
                    "feature": contents.apply(lambda b: kernel(b, dim)),
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def _decode_gray(b, width: int, height: int):
    """Shared decode → nearest-neighbor resize → ITU-R 601-2 luma for
    the perceptual-hash family (dHash, pHash): uint8 (height, width)
    grid, or None to quarantine (malformed blob; JPEG beyond the
    baseline codec with no Pillow), or a NotImplementedError raise when
    NO codec applies at all (the documented no-codec path)."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    if _is_builtin_image(b):
        try:
            arr = _decode_rgb_builtin(b)
        except ValueError:
            return None  # malformed PPM
        if arr is not None:
            return _luma(_nn_resize(arr, width, height))
        if _PILImage is None:
            # JPEG/PNG beyond the built-in codecs, no Pillow: E1
            return None
        # e.g. arithmetic-coded JPEG / interlaced PNG falls through to Pillow
    elif _PILImage is None:
        raise NotImplementedError(
            "only the built-in PPM (P6) and baseline-JPEG codecs "
            "are available in this environment (Pillow not "
            "importable); re-encode media or install Pillow"
        )
    import io

    # mirror the PPM path's order and kernel: resize FIRST
    # (nearest-neighbor, like _nn_resize — PIL's default bicubic
    # would hash the same image differently per container format),
    # then the ITU-R 601-2 luma
    try:
        img = (
            _PILImage.open(io.BytesIO(b))
            .resize((width, height), _PILImage.Resampling.NEAREST)
            .convert("L")
        )
    except (ValueError, OSError):
        return None
    return np.asarray(img, dtype=np.uint8)


def _dhash_pack(g: np.ndarray) -> int:
    """Pack a (h, w) luma grid into the signed 64-bit difference hash:
    bit i = L[row, col+1] > L[row, col], i = row*(w-1)+col little-endian,
    two's-complement wrap so the value rides a BIGINT in any engine."""
    bits = g[:, 1:].astype(np.int16) > g[:, :-1].astype(np.int16)
    v = 0
    for i, bit in enumerate(bits.flatten()):
        if bit:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    out_col: str = "dhash",
    width: int = 9,
    height: int = 8,
) -> DataFrame:
    """G69: perceptual image fingerprint — the classic difference hash
    (dHash): decode, ITU-R 601-2 luma, nearest-neighbor resize to
    ``width × height``, one bit per horizontal neighbor pair
    (bit = L[r, c+1] > L[r, c]), (width-1) × height bits packed
    little-endian into a signed 64-bit value (two's-complement wrap, so
    both engines' BIGINT carry it bit-exactly). Re-encoded crops,
    recompressions, and small edits of the same image land within a few
    bits — feed the output to :func:`neardup.hamming_pairs` (or
    :func:`image_dedup_pairs`) for the bucketed pair join; content
    dedup by md5 can't see any of it.

    Decode policy mirrors ``extract_features``: NULL/empty content →
    NULL hash (quarantine, don't crash); PPM (P6) decodes via the
    pure-numpy codec everywhere; other formats ride Pillow when
    importable, else the documented NotImplementedError raise path.
    Arrow-batched ``pandas_udf`` — the decode is per-blob C-speed numpy.
    """
    if (width - 1) * height > 64:
        raise ValueError(
            f"(width-1)*height = {(width - 1) * height} bits exceed the "
            "64-bit fingerprint"
        )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _dh(s: pd.Series) -> pd.Series:
        def one(b):
            # malformed blobs quarantine to NULL like NULL/empty content
            # (one corrupt upload must not kill the corpus-wide job —
            # the shredder's E1 policy); the no-codec raise inside
            # _decode_gray is the documented exception, NOT caught
            g = _decode_gray(b, width, height)
            return None if g is None else _dhash_pack(g)

        return s.apply(one)

    return media.withColumn(out_col, _dh(F.col(content_col)))


def image_dedup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    prefix_bits: int = 8,
    max_hamming: int = 10,
    width: int = 9,
    height: int = 8,
) -> DataFrame:
    """G69: perceptual near-duplicate image pairs — :func:`image_dhash`
    into the generic bucketed Hamming join (``neardup.hamming_pairs``),
    the exact shape SimHash text dedup uses: keyed on the fingerprint's
    top ``prefix_bits``, never all-pairs. Returns (id_a, id_b, hamming),
    id_a < id_b, hamming ≤ ``max_hamming``. NULL-hash rows (undecodable
    blobs) drop before the join."""
    from ferc_xbrl_extractor_spark.operators.neardup import hamming_pairs

    fp = image_dhash(
        media, id_col, content_col, "dhash", width, height
    ).filter(F.col("dhash").isNotNull())
    return hamming_pairs(
        fp,
        id_col,
        "dhash",
        total_bits=64,
        prefix_bits=prefix_bits,
        max_hamming=max_hamming,
    )


_PHASH_SCALE = 1 << 15
# 32-point orthonormal DCT-II basis, SCALED TO INTEGERS: B[x, u] =
# round(2^15 * sqrt(2/32) * c(u) * cos((2x+1)uπ/64)), c(0) = 1/√2.
# Integer scaling is what makes the hash ENGINE-EXACT: the transform
# below is pure int64 arithmetic (no float summation order to drift),
# so a SQL oracle replays it term-for-term from this same constant
# table. Worst-case magnitude check: |B.T @ g| ≤ 32·2^15·255 ≈ 2.7e8,
# then |· @ B| ≤ 32·2.7e8·2^15 ≈ 2.8e14 ≪ 2^63 — no overflow.
_PHASH_BASIS = np.round(
    _PHASH_SCALE
    * np.sqrt(2.0 / 32.0)
    * np.array(
        [
            [
                (1 / np.sqrt(2) if u == 0 else 1.0)
                * np.cos((2 * x + 1) * u * np.pi / 64)
                for u in range(32)
            ]
            for x in range(32)
        ]
    )
).astype(np.int64)


def _phash_pack(g: np.ndarray) -> int:
    """Pack a (32, 32) luma grid into the signed 64-bit DCT perceptual
    hash: integer-scaled 2-D DCT, keep the top-left 8×8 (the lowest
    spatial frequencies), threshold each coefficient against the LOWER
    MEDIAN (32nd smallest of the 64 — an order statistic, so the
    threshold is integer-exact too), bit i = coef_i > median,
    little-endian over the row-major 8×8, two's-complement wrap."""
    b = _PHASH_BASIS
    coef = (b.T @ g.astype(np.int64) @ b)[:8, :8].reshape(64)
    thr = np.sort(coef)[31]
    v = 0
    for i, c in enumerate(coef):
        if c > thr:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def image_phash(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    out_col: str = "phash",
) -> DataFrame:
    """G96: DCT perceptual hash — the classic pHash recipe (resize to
    32×32, 2-D DCT, keep the 8×8 low-frequency block, threshold at the
    median) with one twist: the DCT runs in SCALED INTEGER arithmetic
    (basis = round(2¹⁵·DCT32), threshold = lower median), so the hash
    is bit-identical across engines and partitionings and a SQL oracle
    replays it exactly — no float summation anywhere.

    pHash survives what dHash does not: global brightness/contrast
    moves (only the DC band and the threshold shift — a few bits),
    small blurs and re-encodes (high-frequency loss never reaches the
    kept 8×8 block). Use :func:`image_dhash` for cheap/fast, this for
    robust; both feed the same bucketed Hamming join. Decode dispatch,
    quarantine semantics and the no-codec raise are exactly
    :func:`image_dhash`'s (shared ``_decode_gray``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ph(srs: pd.Series) -> pd.Series:
        return srs.apply(
            lambda b: (
                None
                if (g := _decode_gray(b, 32, 32)) is None
                else _phash_pack(g)
            )
        )

    return media.withColumn(out_col, _ph(F.col(content_col)))


def image_phash_dedup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    prefix_bits: int = 8,
    max_hamming: int = 10,
) -> DataFrame:
    """G96: perceptual near-duplicate pairs on the DCT hash —
    :func:`image_phash` into the generic bucketed Hamming join
    (``neardup.hamming_pairs``), identical shape to the dHash/SimHash
    dedups: keyed on the fingerprint's top ``prefix_bits``, never
    all-pairs. NULL-hash rows (undecodable blobs) drop before the
    join."""
    from ferc_xbrl_extractor_spark.operators.neardup import hamming_pairs

    fp = image_phash(media, id_col, content_col, "phash").filter(
        F.col("phash").isNotNull()
    )
    return hamming_pairs(
        fp,
        id_col,
        "phash",
        total_bits=64,
        prefix_bits=prefix_bits,
        max_hamming=max_hamming,
    )


def audio_fingerprint(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    out_col: str = "afp",
    frames: int = 65,
) -> DataFrame:
    """G70: perceptual audio fingerprint — the dHash idea over the
    energy envelope: decode PCM WAV (pure-numpy RIFF kernel), take
    channel 0, split the samples into ``frames`` equal-by-index frames
    (sample i → frame ``i * frames // n``), per-frame mean absolute
    amplitude with INTEGER floor division, one bit per consecutive
    frame pair (bit k = m[k+1] > m[k]) — (frames-1) ≤ 64 bits packed
    little-endian into a signed 64-bit value, exactly like
    :func:`image_dhash`. Re-encoded, resampled-alike, or
    slightly-gain-shifted copies of the same clip land within a few
    bits; byte-level md5 dedup sees none of it.

    NULL/empty content, or clips with fewer samples than ``frames``
    (nothing to envelope at this resolution), fingerprint to NULL —
    the quarantine policy of the other decode kernels. Every step is
    integer arithmetic, so a formula-built fixture is replayable by a
    SQL oracle without a decoder."""
    if frames < 2 or frames - 1 > 64:
        raise ValueError(f"frames must be in [2, 65], got {frames}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _afp(s: pd.Series) -> pd.Series:
        def one(b):
            if b is None or len(b) == 0:
                return None
            try:
                _rate, samples = decode_wav(bytes(b))
            except ValueError:
                # truncated / non-PCM / non-RIFF blob: quarantine to
                # NULL like the docstring's too-short clips, don't kill
                # the job
                return None
            ch0 = samples[:, 0].astype(np.int64)
            n = len(ch0)
            if n < frames:
                return None
            idx = (np.arange(n) * frames) // n
            absamp = np.abs(ch0)
            # int64 accumulation (bincount's weights path goes through
            # float64 — exact only below 2^53; stay integer outright)
            sums = np.zeros(frames, dtype=np.int64)
            np.add.at(sums, idx, absamp)
            counts = np.bincount(idx, minlength=frames).astype(np.int64)
            means = sums // counts
            v = 0
            for k in range(frames - 1):
                if means[k + 1] > means[k]:
                    v |= 1 << k
            return v - (1 << 64) if v >= (1 << 63) else v

        return s.apply(one)

    return media.withColumn(out_col, _afp(F.col(content_col)))


def audio_dedup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    prefix_bits: int = 8,
    max_hamming: int = 10,
    frames: int = 65,
) -> DataFrame:
    """G70: perceptual near-duplicate audio pairs —
    :func:`audio_fingerprint` into the generic bucketed Hamming join
    (``neardup.hamming_pairs``). Returns (id_a, id_b, hamming),
    id_a < id_b; NULL-fingerprint rows (undecodable or too-short clips)
    drop before the join."""
    from ferc_xbrl_extractor_spark.operators.neardup import hamming_pairs

    fp = audio_fingerprint(
        media, id_col, content_col, "afp", frames
    ).filter(F.col("afp").isNotNull())
    return hamming_pairs(
        fp,
        id_col,
        "afp",
        total_bits=64,
        prefix_bits=prefix_bits,
        max_hamming=max_hamming,
    )


VIDEO_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def video_frame_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    width: int = 9,
    height: int = 8,
    every: int = 1,
) -> DataFrame:
    """G71: per-frame perceptual hashes of a video — decode Y4M (the
    pure-numpy YUV4MPEG2 kernel), take every ``every``-th frame, dHash
    each decoded RGB frame through the SAME luma/resize/pack recipe as
    :func:`image_dhash`. One blob in, many (media_id, frame_idx, dhash)
    rows out via ``mapInPandas`` (the blob explode shape —
    Arrow-batched, per-frame work is C-speed numpy). NULL/empty blobs
    contribute no rows (quarantine)."""
    if (width - 1) * height > 64:
        raise ValueError("(width-1)*height bits exceed the 64-bit hash")
    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            fidx: list[int] = []
            hashes: list[int] = []
            for mid, b in zip(pdf[id_col], pdf[content_col]):
                if b is None or len(b) == 0:
                    continue
                try:
                    _fn, _fd, frames = decode_y4m(bytes(b))
                except ValueError:
                    continue  # malformed clip: quarantine, don't crash
                for fi in range(0, len(frames), every):
                    g = _luma(_nn_resize(frames[fi], width, height))
                    ids.append(int(mid))
                    fidx.append(fi)
                    hashes.append(_dhash_pack(g))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "dhash": pd.Series(hashes, dtype="int64"),
                }
            )

    return media.mapInPandas(run, VIDEO_HASH_SCHEMA)


def video_dedup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    prefix_bits: int = 8,
    max_hamming: int = 10,
    min_matched_frames: int = 2,
    every: int = 1,
) -> DataFrame:
    """G71: perceptual near-duplicate video pairs — per-frame dHashes
    joined TEMPORALLY ALIGNED: frame i of video A pairs with frame i of
    video B when the hashes land in the same top-``prefix_bits`` bucket
    within ``max_hamming`` bits (re-encodes, brightness shifts, chroma
    recompression); a video pair survives when at least
    ``min_matched_frames`` frames match. The join is keyed on
    (frame_idx, bucket) — never all-pairs, and never across time
    offsets (time-shifted dups need a sliding variant; documented out
    of scope, same family as the text operators' positional grams).

    Returns (id_a, id_b, n_matched), id_a < id_b. The frame-hash
    relation is lazily checkpointed for the same hint-breaks-reuse
    reason as ``neardup.hamming_pairs``."""
    mask = (1 << prefix_bits) - 1
    fh = video_frame_hashes(
        media, id_col, content_col, every=every
    ).withColumn(
        "bucket",
        F.shiftright(F.col("dhash"), 64 - prefix_bits)
        .bitwiseAND(F.lit(mask)),
    ).localCheckpoint(eager=False)
    a = fh.select(
        F.col("media_id").alias("id_a"),
        "frame_idx",
        F.col("dhash").alias("fp_a"),
        "bucket",
    )
    b = fh.select(
        F.col("media_id").alias("id_b"),
        "frame_idx",
        F.col("dhash").alias("fp_b"),
        "bucket",
    )
    return (
        a.join(b.hint("shuffle_hash"), ["frame_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
            <= max_hamming
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .filter(F.col("n_matched") >= min_matched_frames)
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: explode per-media sample timestamps
    from metadata (duration), leaving the frame decode itself to the
    stubbed kernel. Emits (media_id, sample_ms) — the join key layout a
    real frame extractor fills in."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("sample_ms"),
    )


def decode_wav(b: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM WAV (RIFF) into (sample_rate, (n, channels) int32
    array) — pure numpy, 8/16/32-bit integer PCM. Walks the RIFF chunk
    list (fmt/data chunks may be preceded by LIST/fact/etc.); rejects
    compressed formats."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b) and (fmt is None or data is None):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise ValueError(f"unsupported WAV format code {audio_format} (PCM only)")
    if channels < 1:
        # a zero channel count would divide by zero below — malformed,
        # same quarantinable class as the other header checks
        raise ValueError(f"malformed WAV channel count {channels}")
    if bits == 8:  # 8-bit WAV is unsigned, offset-128
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.int32)
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    n = len(samples) // channels
    return rate, samples[: n * channels].reshape(n, channels)


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    """Encode an (n, channels) int array as 16-bit PCM WAV."""
    if samples.ndim == 1:
        samples = samples[:, None]
    pcm = np.clip(samples, -32768, 32767).astype("<i2").tobytes()
    channels = samples.shape[1]
    byte_rate = rate * channels * 2
    hdr = (
        b"RIFF" + (36 + len(pcm)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(pcm).to_bytes(4, "little")
    )
    return hdr + pcm


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.ArrayType(T.FloatType())),
        T.StructField("zero_crossings", T.ArrayType(T.IntegerType())),
    ]
)


def extract_audio_features(
    media: DataFrame, windows: int = 8, decode_stub: bool = True
) -> DataFrame:
    """Audio featurization over ``mapInPandas``: per row, sample rate,
    length, and per-window RMS energy + zero-crossing counts (the
    classic cheap speech/music/silence signals) across ``windows`` equal
    slices of the first channel.

    ``decode_stub=False`` decodes PCM WAV for REAL via the pure-numpy
    RIFF codec (no soundfile/ffmpeg needed); other containers raise at
    the batch level. The stub derives deterministic pseudo-features from
    the bytes, keeping schema and batch shapes identical.
    """

    def _real(b: bytes):
        if not b:
            return None
        rate, samples = decode_wav(bytes(b))
        mono = samples[:, 0].astype(np.float64)
        n = len(mono)
        rms, zc = [], []
        for w in range(windows):
            lo, hi = (n * w) // windows, (n * (w + 1)) // windows
            seg = mono[lo:hi]
            if len(seg) == 0:
                rms.append(0.0)
                zc.append(0)
                continue
            rms.append(float(np.sqrt(np.mean(seg * seg))))
            zc.append(int(np.sum((seg[:-1] * seg[1:]) < 0)))
        return rate, n, int(round(n * 1000 / rate)) if rate else 0, rms, zc

    def _stub(b: bytes):
        if not b:
            return None
        f = _fake_feature(bytes(b), windows)
        return (
            16000,
            len(b),
            int(round(len(b) * 1000 / 16000)),
            [abs(x) for x in f],
            [int(abs(x) * 100) for x in f],
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _stub if decode_stub else _real
        for pdf in batches:
            rows = []
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                r = kernel(b)
                if r is None:
                    rows.append((mid, None, None, None, None, None))
                else:
                    rate, n, dur, rms, zc = r
                    rows.append((mid, rate, n, dur, rms, zc))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_samples", "duration_ms",
                    "rms", "zero_crossings",
                ],
            )

    return media.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def decode_y4m(b: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode an uncompressed Y4M (YUV4MPEG2) stream into
    ``(fps_num, fps_den, [(h, w, 3) RGB uint8 frames])`` — pure numpy.
    Supports C420 (2x2-subsampled chroma, the y4m default) and C444;
    YUV -> RGB is BT.601 full-range integer arithmetic (deterministic,
    clipped), the same formula every frame, every engine.
    """
    if b[:9] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    nl = b.index(b"\n")
    w = h = None
    fn, fd, chroma = 25, 1, "420"
    for tok in b[10:nl].split(b" "):
        if not tok:
            continue
        k, v = tok[:1], tok[1:]
        if k == b"W":
            w = int(v)
        elif k == b"H":
            h = int(v)
        elif k == b"F":
            fn, fd = (int(x) for x in v.split(b":"))
        elif k == b"C":
            chroma = v.decode().rstrip()
    if not w or not h:
        raise ValueError("missing W/H in Y4M header")
    if chroma.startswith("420"):
        cw, ch = w // 2, h // 2
    elif chroma == "444":
        cw, ch = w, h
    else:
        raise ValueError(f"unsupported chroma mode C{chroma}")
    fsize = w * h + 2 * cw * ch
    frames = []
    pos = nl + 1
    while pos < len(b):
        fnl = b.index(b"\n", pos)
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        pos = fnl + 1
        y = np.frombuffer(b, np.uint8, w * h, pos).reshape(h, w)
        u = np.frombuffer(b, np.uint8, cw * ch, pos + w * h).reshape(ch, cw)
        v = np.frombuffer(
            b, np.uint8, cw * ch, pos + w * h + cw * ch
        ).reshape(ch, cw)
        if (cw, ch) != (w, h):  # upsample 2x2 chroma by repetition
            u = u.repeat(2, 0).repeat(2, 1)[:h, :w]
            v = v.repeat(2, 0).repeat(2, 1)[:h, :w]
        yy = y.astype(np.int64)
        uu = u.astype(np.int64) - 128
        vv = v.astype(np.int64) - 128
        # BT.601 full-range, scaled integer (x1000), round-half-up
        r = (yy * 1000 + 1402 * vv + 500) // 1000
        g = (yy * 1000 - 344 * uu - 714 * vv + 500) // 1000
        bl = (yy * 1000 + 1772 * uu + 500) // 1000
        rgb = np.stack(
            [np.clip(c, 0, 255) for c in (r, g, bl)], axis=-1
        ).astype(np.uint8)
        frames.append(rgb)
        pos += fsize
    return fn, fd, frames


def encode_y4m(
    frames_yuv: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    fps: tuple[int, int] = (25, 1),
    chroma: str = "444",
) -> bytes:
    """Encode (Y, U, V) plane tuples as a Y4M stream (test/fixture
    helper — real pipelines carry Y4M produced upstream)."""
    h, w = frames_yuv[0][0].shape
    out = [
        b"YUV4MPEG2 W%d H%d F%d:%d C%s\n"
        % (w, h, fps[0], fps[1], chroma.encode())
    ]
    for y, u, v in frames_yuv:
        out.append(b"FRAME\n")
        for plane in (y, u, v):
            out.append(plane.astype(np.uint8).tobytes())
    return b"".join(out)
