"""Multimodal (image) pipeline — the reference's core capability
(``/root/reference/src/preprocessing_pipeline.py``), rebuilt content-in-column
with the §2.2 hazards removed.

Reference behavior re-expressed:

- image read (cv2.imread inside a UDF, ``:39,:113``) → ``binaryFile`` source
  or a deterministic synthetic generator; bytes are a first-class
  ``BinaryType`` column with typed (width, height) metadata.
- normalize (histogram equalization, ``:33-61``) → a *pure* Arrow pandas UDF
  bytes→bytes; no filesystem side effects inside the expression.
- augment (9 variants: 3 rotations + 3 shifts + 3 noise draws, ``:65-134``)
  → a pure pandas UDF returning ``array<binary>`` + ``explode``. The
  reference seeds ``np.random`` globally, so every lazy recomputation
  produces *different* images under the same paths (§2.2.1); here every
  variant is seeded by a per-row content-derived key, so recompute ≡ compute
  (property-tested in tests/test_multimodal.py).
- image write (cv2.imwrite side effect, ``:51,:121``) → an explicit terminal
  sink job (``write_images``), never an expression.

Image model: raw 8-bit grayscale (H×W bytes) between stages, with a REAL
stdlib-only PNG codec (``encode_png``/``decode_png``: zlib + all five
scanline filters) for encoded ingestion — ``read_png_dir`` decodes actual
PNG files from a ``binaryFile`` scan and ``png_decode_stats`` exercises
every filter branch in-query. JPEG is equally real: ``jpeg_codec.py`` is a
from-scratch baseline-sequential JFIF codec (DCT + Annex-K Huffman), and
``jpeg_decode_stats`` runs encode→decode→stats at four quality levels.

Scale design: images travel *in the column* through Arrow batches
(maxRecordsPerBatch bounds executor memory: 10k rows × 1 KiB ≈ 10 MiB per
batch; at real image sizes you lower the batch size, not the design). The
9× fan-out happens AFTER the per-image UDFs, so normalize/augment run once
per source image, and the pipeline is cache-safe because it is
deterministic.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from big_data_medical_analysis_spark.operators.common import (
    checkpoint_pinned,
    fan_out,
    per_user_tmpdir,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

IMG_SIDE = 32  # synthetic images are 32×32 grayscale
N_VARIANTS = 9  # reference fan-out: 3 rotations + 3 shifts + 3 noise draws


# ---------------------------------------------------------------------------
# Pure image kernels (numpy only; each is a function of (bytes, ints) alone)
# ---------------------------------------------------------------------------


def decode_gray(content: bytes, height: int, width: int) -> np.ndarray:
    """Raw 8-bit grayscale decode: bytes → (H, W) uint8 array."""
    return np.frombuffer(content, dtype=np.uint8).reshape(height, width)


def decode_jpeg(content: bytes) -> np.ndarray:
    """Real baseline JPEG decode (reference: src/preprocessing_pipeline.py:39
    ``cv2.imread``; src/federated_learning_pipeline.py:36-40
    ``tf.io.decode_jpeg``). Delegates to the from-scratch stdlib+numpy
    codec in ``jpeg_codec.py`` — grayscale baseline-sequential JFIF, the
    same discipline as ``decode_png`` below."""
    from big_data_medical_analysis_spark.operators.jpeg_codec import (
        decode_jpeg as _decode,
    )

    return _decode(content)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth_predict(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec 9.4): pick the neighbor
    (left a / up b / up-left c) closest to a+b-c, ties a, then b."""
    a16, b16, c16 = (x.astype(np.int16) for x in (a, b, c))
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    return np.where(
        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
    ).astype(np.uint8)


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Stdlib-only PNG encoder: 8-bit grayscale, one IDAT, any scanline
    filter 0-4 (filtering subtracts *raw* neighbors, so it vectorizes).
    Exists so the engine can exercise ``decode_png`` — and every one of its
    five unfilter branches — on real encoded bytes inside a query."""
    import zlib

    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_png expects a 2-D uint8 array")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad filter type {filter_type}")
    h, w = img.shape
    zeros = np.zeros(w, dtype=np.uint8)
    lines = []
    for y in range(h):
        cur = img[y]
        left = np.concatenate(([0], cur[:-1])).astype(np.uint8)
        up = img[y - 1] if y > 0 else zeros
        upleft = (
            np.concatenate(([0], up[:-1])).astype(np.uint8) if y > 0 else zeros
        )
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - up
        elif filter_type == 3:
            filt = cur - (
                (left.astype(np.uint16) + up.astype(np.uint16)) // 2
            ).astype(np.uint8)
        else:
            filt = cur - _paeth_predict(left, up, upleft)
        lines.append(bytes([filter_type]) + filt.astype(np.uint8).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # bit depth 8, grayscale, deflate, adaptive, no interlace
    )
    idat = zlib.compress(b"".join(lines), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_png(content: bytes) -> np.ndarray:
    """Stdlib-only PNG decoder (zlib inflate + scanline unfiltering, PNG
    spec §9): 8-bit non-interlaced grayscale → (H, W) uint8. Handles all
    five filter types and multi-IDAT streams; rejects what it can't decode
    instead of guessing — the reference's decode step
    (src/preprocessing_pipeline.py:39), implemented for real.
    Unfiltering Sub/Average/Paeth is inherently sequential in x
    (each byte needs the *reconstructed* left neighbor), hence the per-byte
    loop; per-image cost is O(pixels) and the outer pipeline parallelizes
    per image, so the sequential inner loop is not a scale hazard."""
    import zlib

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat, w, h = 8, [], None, None
    while pos + 8 <= len(content):
        ln = int.from_bytes(content[pos : pos + 4], "big")
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if ctype == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, interlace = data[8], data[9], data[12]
            if (bit_depth, color_type, interlace) != (8, 0, 0):
                raise ValueError(
                    "decode_png supports 8-bit non-interlaced grayscale only; "
                    f"got depth={bit_depth} color={color_type} interlace={interlace}"
                )
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("malformed PNG (missing IHDR/IDAT)")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("PNG payload size mismatch")
    # Round 17 (guide §4.2): unfiltering is vectorized by RUNS of equal
    # filter type (our encoder filters whole images uniformly, so a run is
    # typically the whole image; the decoder stays general). Types 0/1/2
    # have closed vector forms — None is a copy, Sub is a per-row modular
    # prefix sum (cumsum in a wide dtype truncated to uint8 IS the
    # byte-wise chain of (x + left) & 0xFF), Up is a modular prefix sum
    # DOWN the rows plus the run's entry row. Average and Paeth stay
    # per-byte: each output needs the RECONSTRUCTED left neighbor through
    # a data-dependent predictor, which is spec-sequential in x.
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    ftypes = mat[:, 0]
    lines = mat[:, 1:]
    if ftypes.max(initial=0) > 4:
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"bad PNG filter type {bad}")
    out = np.empty((h, w), dtype=np.uint8)
    y = 0
    while y < h:
        f = int(ftypes[y])
        y2 = y + 1
        while y2 < h and ftypes[y2] == f:
            y2 += 1
        if f == 0:
            out[y:y2] = lines[y:y2]
        elif f == 1:  # Sub: per-row modular prefix sum, rows independent
            out[y:y2] = np.cumsum(lines[y:y2], axis=1, dtype=np.uint64)
        elif f == 2:  # Up: modular prefix sum down the rows + entry row
            acc = np.cumsum(lines[y:y2], axis=0, dtype=np.uint64)
            if y:
                acc += out[y - 1]
            out[y:y2] = acc
        else:
            # Average (3) / Paeth (4): reconstructed-left dependence. Both
            # are live inside queries: png_decode_stats and
            # pkl_png_roundtrip encode with filter type img_id % 5, so
            # two images in five take this per-byte path.
            for yy in range(y, y2):
                line = bytearray(lines[yy].tobytes())
                prev = out[yy - 1].tobytes() if yy else bytes(w)
                if f == 3:
                    for i in range(w):
                        left = line[i - 1] if i else 0
                        line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
                else:
                    for i in range(w):
                        a = line[i - 1] if i else 0
                        b = prev[i]
                        c = prev[i - 1] if i else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = (
                            a
                            if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else c)
                        )
                        line[i] = (line[i] + pred) & 0xFF
                out[yy] = np.frombuffer(bytes(line), np.uint8)
        y = y2
    return out


def equalize_hist(img: np.ndarray) -> np.ndarray:
    """Histogram equalization (cv2.equalizeHist equivalent, pure numpy):
    map each gray level through the normalized cumulative histogram
    (reference: src/preprocessing_pipeline.py:44)."""
    hist = np.bincount(img.ravel(), minlength=256)
    cdf = hist.cumsum()
    nonzero = cdf > 0
    if not nonzero.any():
        return img
    cdf_min = cdf[nonzero][0]
    total = cdf[-1]
    if total == cdf_min:  # constant image: equalization is the identity
        return img
    lut = np.round((cdf - cdf_min) * 255.0 / (total - cdf_min)).clip(0, 255)
    return lut.astype(np.uint8)[img]


def _row_seed(content: bytes, variant: int) -> int:
    """Deterministic per-(row, variant) seed from image content — the fix
    for the reference's global-RNG hazard (§2.2.1)."""
    h = hashlib.md5(content + bytes([variant])).digest()
    return int.from_bytes(h[:4], "little")


# Shared gaussian-noise pool (σ=10): built ONCE per process from a fixed
# seed; each (row, variant) reads a seed-derived slice. Constructing a fresh
# RandomState + 1024 normal draws per variant costs ~100× more than a pool
# slice and adds nothing — the pool offset already varies per row/variant
# deterministically. float32 keeps it cache-resident (256 KiB).
_NOISE_POOL_LEN = 1 << 16
_NOISE_POOL = (
    np.random.RandomState(0x5EED).normal(0.0, 10.0, _NOISE_POOL_LEN)
).astype(np.float32)


def augment_variants(img: np.ndarray, content: bytes) -> list[bytes]:
    """9 deterministic variants of one image (reference :65-134):
    3 rotations, 3 content-seeded circular shifts (the ±3px translate),
    3 content-seeded gaussian-noise adds. Pure function of the input bytes —
    recompute ≡ compute, unlike the reference's global-RNG augment."""
    out: list[bytes] = []
    for k in (1, 2, 3):  # rotations (90/180/270° — codec-free rotation)
        out.append(np.ascontiguousarray(np.rot90(img, k)).tobytes())
    for v in (3, 4, 5):  # shifts: dx, dy ∈ [-3, 3] straight from the digest
        seed = _row_seed(content, v)
        dx = seed % 7 - 3
        dy = (seed >> 8) % 7 - 3
        out.append(np.roll(np.roll(img, dy, axis=0), dx, axis=1).tobytes())
    n = img.size
    for v in (6, 7, 8):  # gaussian noise from a seed-offset pool slice
        off = _row_seed(content, v) % (_NOISE_POOL_LEN - n)
        noise = _NOISE_POOL[off : off + n].reshape(img.shape)
        out.append(
            (img.astype(np.float32) + noise).clip(0, 255).astype(np.uint8).tobytes()
        )
    return out


# ---------------------------------------------------------------------------
# Arrow pandas UDFs (bytes→bytes / bytes→array<bytes>; pure, vectorized)
# ---------------------------------------------------------------------------


@pandas_udf(T.BinaryType())
def normalize_image(content: pd.Series, height: pd.Series, width: pd.Series) -> pd.Series:
    return pd.Series(
        [
            equalize_hist(decode_gray(c, h, w)).tobytes()
            for c, h, w in zip(content, height, width)
        ]
    )


@pandas_udf(T.ArrayType(T.BinaryType()))
def augment_image(content: pd.Series, height: pd.Series, width: pd.Series) -> pd.Series:
    return pd.Series(
        [
            augment_variants(decode_gray(c, h, w), c)
            for c, h, w in zip(content, height, width)
        ]
    )


@pandas_udf(T.StructType([
    T.StructField("p_min", T.IntegerType()),
    T.StructField("p_max", T.IntegerType()),
    T.StructField("p_mean", T.DoubleType()),
]))
def image_stats(content: pd.Series, height: pd.Series, width: pd.Series) -> pd.DataFrame:
    mins, maxs, means = [], [], []
    for c, h, w in zip(content, height, width):
        img = decode_gray(c, h, w)
        mins.append(int(img.min()))
        maxs.append(int(img.max()))
        means.append(round(float(img.mean()), 6))
    return pd.DataFrame({"p_min": mins, "p_max": maxs, "p_mean": means})


# ---------------------------------------------------------------------------
# Synthetic source (deterministic; stands in for binaryFile over a real
# image corpus, which SURVEY §5.2 mandates for tests)
# ---------------------------------------------------------------------------


def _synth_image_array(img_id: int) -> np.ndarray:
    """The deterministic synthetic image recipe, shared by the source UDF
    and the fused one-crossing query kernels (round 16): low-contrast
    values 64..191 so equalization must stretch it; content derives only
    from img_id, so any recompute — or any other engine — reproduces it."""
    rng = np.random.RandomState(int(img_id) % (2**31))
    return rng.randint(64, 192, size=(IMG_SIDE, IMG_SIDE)).astype(np.uint8)


def _synth_label(img_id) -> int:
    """The label recipe of the synthetic corpus — ONE definition shared by
    every fused kernel (ADVICE r16: the recipe was maintained inline in
    several kernels, risking silent drift from synth_images' Spark-side
    projection). Python ``%`` and Spark ``%`` agree only on non-negative
    ids; doc_id >= 0 is the corpus contract, so ``_synth_label_col`` below
    is its value-identical Spark twin."""
    return int(img_id) % 5


def _synth_label_col(img_id):
    """Spark twin of ``_synth_label`` — same recipe, JVM-side expression
    (identical plan shape to the inline form it replaces)."""
    return (img_id % 5).cast("int")


@pandas_udf(T.BinaryType())
def _synth_content(img_id: pd.Series) -> pd.Series:
    return pd.Series([_synth_image_array(int(i)).tobytes() for i in img_id])


def _synth_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fanned-out (img_id) spine of the synthetic corpus — the input of the
    fused one-crossing query kernels (round 16, guide §4.1: only the 8-byte
    id crosses INTO Python; image bytes are born, processed, and reduced to
    stats inside one worker pass instead of transiting synth→JVM→normalize→
    JVM→stats)."""
    docs = read_table(spark, sf_dir, "documents")
    # fan_out BEFORE the Python-heavy stages: the documents parquet is one
    # small file → one scan partition, which would run every downstream
    # pandas UDF single-threaded. The count must be explicit — a bare
    # repartition("img_id") exchange of 8-byte rows gets AQE-coalesced back
    # to one task, re-serializing the UDF chain it was meant to spread.
    return fan_out(docs.select(F.col("doc_id").alias("img_id")), "img_id")


def synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic grayscale corpus keyed off documents.doc_id:
    (img_id, label, width, height, content). Content derives only from
    img_id, so any recompute — or any other engine — reproduces it."""
    return _synth_ids(spark, sf_dir).select(
        "img_id",
        _synth_label_col(F.col("img_id")).alias("label"),
        F.lit(IMG_SIDE).alias("width"),
        F.lit(IMG_SIDE).alias("height"),
        _synth_content(F.col("img_id")).alias("content"),
    )


def normalize_pipeline(images: DataFrame) -> DataFrame:
    """normalize stage: adds ``norm_content`` (pure bytes→bytes)."""
    return images.withColumn(
        "norm_content", normalize_image("content", "height", "width")
    )


def augment_pipeline(images: DataFrame) -> DataFrame:
    """normalize → augment → explode: the reference's intended chain
    (its actual code augments the RAW image by mistake, §2.2.2). 1 row in,
    9 rows out, each tagged with its variant index.

    Fused as ONE ``mapInPandas`` pass on purpose. The composable
    formulation (``normalize_image`` column, then ``augment_image`` column,
    then a JVM-side ``posexplode``) plans as a chain of ArrowEvalPython
    nodes: every image crosses the Arrow boundary once per UDF, and the 9×
    fan-out materializes as an ``array<binary>`` column that transits the
    JVM a third time before exploding — measured 5-7× slower at sf0.1 and
    strictly worse at scale, where it is 3 corpus-sized transfers vs 1.
    Kernel parity with the scalar UDFs is byte-exact (same
    ``equalize_hist``/``augment_variants`` calls — tests/test_multimodal.py).
    """

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "img_id": [], "label": [], "width": [], "height": [],
                "variant": [], "aug_content": [],
            }
            for img_id, label, w, h, content in zip(
                pdf["img_id"], pdf["label"], pdf["width"], pdf["height"],
                pdf["content"],
            ):
                norm = equalize_hist(decode_gray(content, h, w))
                nbytes = norm.tobytes()
                for v, b in enumerate(augment_variants(norm, nbytes)):
                    out["img_id"].append(img_id)
                    out["label"].append(label)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["variant"].append(v)
                    out["aug_content"].append(b)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        _gen,
        "img_id long, label int, width int, height int, "
        "variant int, aug_content binary",
    )


# ---------------------------------------------------------------------------
# Registered queries (rows-only: content derives from numpy RNG, which no
# SQL oracle can express; determinism is property-tested instead)
# ---------------------------------------------------------------------------


@register("image_decode_stats", oracle=None, category="multimodal")
def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + per-image pixel stats (struct-returning pandas UDF), then
    per-label aggregate of normalized-image contrast: histogram equalization
    must stretch every non-constant image to the full [0, 255] range —
    the reference's test_normalization check (utils/preprocessing_testing_
    utils.py:16-26) as an aggregate over the whole corpus instead of a
    driver spot-check of row 1.

    Round 16 (guide §4.1): synth → normalize → stats fused into ONE
    mapInPandas pass over the 8-byte id spine — the composed form
    (``_synth_content`` → ``normalize_image`` → ``image_stats``) shipped
    every image's bytes across the Python boundary five times (out, in,
    out, in, and the struct back); now only ids cross in and stat rows
    cross out. Kernels are the SAME functions (``_synth_image_array``,
    ``equalize_hist``), so values are byte-identical — the
    ``augment_pipeline`` fusion discipline. The composable operators
    (``normalize_pipeline``, ``image_stats``) remain the API surface."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "img_id": [], "label": [],
                "p_min": [], "p_max": [], "p_mean": [],
            }
            for i in pdf["img_id"]:
                norm = equalize_hist(_synth_image_array(int(i)))
                out["img_id"].append(i)
                out["label"].append(_synth_label(i))
                out["p_min"].append(int(norm.min()))
                out["p_max"].append(int(norm.max()))
                out["p_mean"].append(round(float(norm.mean()), 6))
            yield pd.DataFrame(out)

    stats = _synth_ids(spark, sf_dir).mapInPandas(
        _gen, "img_id long, label int, p_min int, p_max int, p_mean double"
    )
    return (
        stats.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("p_min").alias("min_pixel"),
            F.max("p_max").alias("max_pixel"),
            F.round(F.avg("p_mean"), 4).alias("avg_mean_pixel"),
            F.sum((F.col("p_min") == 0).cast("long")).alias("n_full_low"),
            F.sum((F.col("p_max") == 255).cast("long")).alias("n_full_high"),
        )
    )


@register("png_decode_stats", oracle=None, category="multimodal")
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec decode pipeline: every synthetic image is PNG-encoded
    (filter type = img_id % 5, so all five unfilter branches run inside the
    query) then decoded with the stdlib decoder and reduced to pixel stats —
    encode → decode → stats fused into ONE mapInPandas pass, one Arrow
    crossing per image (same discipline as augment_pipeline). Rows-only:
    content is numpy-synthesized; byte-exact encode/decode parity with the
    raw path is property-tested in tests/test_multimodal.py."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "img_id": [], "label": [], "png_bytes": [],
                "p_min": [], "p_max": [], "p_mean": [], "roundtrip_ok": [],
            }
            for img_id in pdf["img_id"]:
                # round 16: synthesized IN the pass (guide §4.1) — only the
                # id crosses in; same _synth_image_array kernel, same values
                img = _synth_image_array(int(img_id))
                png = encode_png(img, int(img_id) % 5)
                back = decode_png(png)
                out["img_id"].append(img_id)
                out["label"].append(_synth_label(img_id))
                out["png_bytes"].append(len(png))
                out["p_min"].append(int(back.min()))
                out["p_max"].append(int(back.max()))
                out["p_mean"].append(round(float(back.mean()), 6))
                out["roundtrip_ok"].append(bool(np.array_equal(img, back)))
            yield pd.DataFrame(out)

    stats = _synth_ids(spark, sf_dir).mapInPandas(
        _gen,
        "img_id long, label int, png_bytes int, "
        "p_min int, p_max int, p_mean double, roundtrip_ok boolean",
    )
    return stats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("roundtrip_ok").cast("long")).alias("n_roundtrip_ok"),
        F.round(F.avg("png_bytes"), 2).alias("avg_png_bytes"),
        F.min("p_min").alias("min_pixel"),
        F.max("p_max").alias("max_pixel"),
        F.round(F.avg("p_mean"), 4).alias("avg_mean_pixel"),
    )


@register("jpeg_decode_stats", oracle=None, category="multimodal")
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec lossy pipeline: every synthetic image is JPEG-encoded
    (quality = [50, 75, 90, 100][img_id % 4], so DC-diff, AC run-length,
    ZRL, EOB and the all-ones q100 table all run in-query) then decoded
    with the from-scratch baseline codec (``jpeg_codec.py``) and reduced
    to error stats — encode → decode → stats fused into ONE mapInPandas
    pass, one Arrow crossing per image (same discipline as
    ``png_decode_stats``). JPEG is lossy, so the invariant is a per-quality
    error BOUND (``within_bound``) rather than byte equality — except
    quality 100, where the quant table collapses to ones and max error ≤ 1.
    Rows-only: content is numpy-synthesized. Closes the reference's last
    format gap (src/federated_learning_pipeline.py:36-40)."""
    from big_data_medical_analysis_spark.operators.jpeg_codec import (
        decode_jpeg as _dec,
        encode_jpeg as _enc,
    )

    qualities = (50, 75, 90, 100)
    bounds = {50: 96, 75: 64, 90: 48, 100: 1}

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "img_id": [], "quality": [], "jpeg_bytes": [],
                "max_err": [], "mean_err": [], "within_bound": [],
            }
            for img_id in pdf["img_id"]:
                # round 16: synthesized IN the pass (guide §4.1) — only the
                # id crosses in; same _synth_image_array kernel, same values
                img = _synth_image_array(int(img_id))
                quality = qualities[int(img_id) % 4]
                blob = _enc(img, quality)
                back = _dec(blob)
                err = np.abs(back.astype(np.int64) - img.astype(np.int64))
                out["img_id"].append(img_id)
                out["quality"].append(quality)
                out["jpeg_bytes"].append(len(blob))
                out["max_err"].append(int(err.max()))
                out["mean_err"].append(round(float(err.mean()), 6))
                out["within_bound"].append(int(err.max()) <= bounds[quality])
            yield pd.DataFrame(out)

    stats = _synth_ids(spark, sf_dir).mapInPandas(
        _gen,
        "img_id long, quality int, jpeg_bytes int, "
        "max_err int, mean_err double, within_bound boolean",
    )
    return stats.groupBy("quality").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("within_bound").cast("long")).alias("n_within_bound"),
        F.round(F.avg("jpeg_bytes"), 2).alias("avg_jpeg_bytes"),
        F.max("max_err").alias("worst_err"),
        F.round(F.avg("mean_err"), 4).alias("avg_mean_err"),
    )


def read_png_dir(spark: SparkSession, path: str, glob: str = "*.png") -> DataFrame:
    """PNG corpus ingestion: ``binaryFile`` scan → stdlib decode → typed
    (path, width, height, content) rows with raw grayscale bytes — the
    engine's equivalent of the reference's cv2.imread-over-a-directory
    (src/preprocessing_pipeline.py:39,:113), with decode as a pure Arrow
    stage instead of a side-effecting UDF."""
    from big_data_medical_analysis_spark.sources.readers import read_binary_dir

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "path": [], "width": [], "height": [], "content": [],
            }
            for p, blob in zip(pdf["path"], pdf["content"]):
                img = decode_png(bytes(blob))
                out["path"].append(p)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["content"].append(img.tobytes())
            yield pd.DataFrame(out)

    return read_binary_dir(spark, path, glob=glob).mapInPandas(
        _gen, "path string, width int, height int, content binary"
    )


@register("image_augment_fanout", oracle=None, category="multimodal")
def image_augment_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full normalize → augment → explode chain, aggregated per variant:
    every variant must appear exactly n_images times (the reference's 9×
    augmentation grid, src/preprocessing_pipeline.py:77-98).

    Round 16 (guide §4.1): synthesized and augmented in ONE mapInPandas
    pass that emits (img_id, variant, aug_bytes) — the augmented BYTES
    never cross the boundary at all (this query only aggregates their
    lengths), where the composed form shipped the raw corpus out of synth
    and all 9 variants' bytes back through augment. Same kernels
    (``_synth_image_array``, ``equalize_hist``, ``augment_variants``), so
    the per-variant counts and byte lengths are identical;
    ``augment_pipeline`` remains the byte-producing API surface."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "img_id": [], "variant": [], "aug_bytes": [],
            }
            for i in pdf["img_id"]:
                norm = equalize_hist(_synth_image_array(int(i)))
                for v, b in enumerate(augment_variants(norm, norm.tobytes())):
                    out["img_id"].append(i)
                    out["variant"].append(v)
                    out["aug_bytes"].append(len(b))
            yield pd.DataFrame(out)

    exploded = _synth_ids(spark, sf_dir).mapInPandas(
        _gen, "img_id long, variant int, aug_bytes int"
    )
    return (
        exploded.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("img_id").alias("n_images"),
            F.avg("aug_bytes").alias("avg_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Sinks / blob ingestion
# ---------------------------------------------------------------------------


def write_images(df: DataFrame, out_dir: str) -> int:
    """Explicit image sink: one file per (img_id, variant) under out_dir.

    The reference writes files as a UDF side effect *inside* the expression
    graph (cv2.imwrite, :51,:121), so every lazy recompute rewrites them.
    Here the write is a terminal ``foreachPartition`` job — executed exactly
    once, distributed, no driver collect. Returns the row count written,
    tallied by an accumulator INSIDE the same job: a trailing ``df.count()``
    would re-run the whole (possibly UDF-heavy) lineage a second time — the
    recompute hazard SURVEY §2.2.1 indicts the reference for. (A retried
    task could over-add the accumulator, but a retry also rewrites the same
    deterministic file names, so the count stays consistent with the sink's
    at-least-once semantics.)
    """
    cols = df.columns
    variant_col = "variant" if "variant" in cols else None
    content_col = "aug_content" if "aug_content" in cols else (
        "norm_content" if "norm_content" in cols else "content"
    )
    written = df.sparkSession.sparkContext.accumulator(0)

    def _write_part(rows):
        import os

        os.makedirs(out_dir, exist_ok=True)
        n = 0
        for r in rows:
            v = r[variant_col] if variant_col else 0
            path = os.path.join(out_dir, f"img_{r['img_id']}_v{v}.gray")
            with open(path, "wb") as f:
                f.write(bytes(r[content_col]))
            n += 1
        written.add(n)

    df.foreachPartition(_write_part)
    return written.value


def read_pickle_blobs(spark: SparkSession, path: str, glob: str = "*.pkl") -> DataFrame:
    """Pickle blob ingestion (reference: utils/pkl_to_png_converter.py:12-23
    unpickles GradCAM dicts driver-side): binaryFile scan + a deserializing
    UDF that surfaces the payload's keys and tensor shape as typed columns.

    SECURITY NOTE: pickle executes code on load; at scale you gate this on
    a trusted-source allowlist. The deserializer is deliberately minimal.
    """
    from big_data_medical_analysis_spark.sources.readers import read_binary_dir

    @pandas_udf(T.StructType([
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("shape", T.ArrayType(T.IntegerType())),
    ]))
    def _unpickle_meta(content: pd.Series) -> pd.DataFrame:
        import pickle

        keys_out, shape_out = [], []
        for blob in content:
            obj = pickle.loads(bytes(blob))
            if isinstance(obj, dict):
                keys = sorted(str(k) for k in obj)
                arr = next(
                    (v for v in obj.values() if hasattr(v, "shape")), None
                )
                shape = [int(d) for d in arr.shape] if arr is not None else []
            else:
                keys, shape = [type(obj).__name__], list(
                    getattr(obj, "shape", [])
                )
            keys_out.append(keys)
            shape_out.append(shape)
        return pd.DataFrame({"keys": keys_out, "shape": shape_out})

    blobs = read_binary_dir(spark, path, glob=glob)
    return blobs.select(
        "path",
        "length",
        _unpickle_meta("content").alias("meta"),
    ).select("path", "length", "meta.keys", "meta.shape")


PKL_N_BLOBS = 200


@register("pkl_png_roundtrip", oracle=None, category="multimodal")
def pkl_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pkl→PNG conversion path as one distributed query
    (utils/pkl_to_png_converter.py:12-31: unpickle a GradCAM dict, take the
    'cxr_img' tensor's first channel, render grayscale, save a PNG):

    1. a deterministic GradCAM-style pickle corpus ({'cxr_img': float32
       (1,H,W), 'task', 'gt'}) is written once per session via
       ``foreachPartition`` (deterministic file names — idempotent under
       task retry, same discipline as ``write_images``);
    2. ``binaryFile`` scan reads the .pkl blobs back (the
       ``read_pickle_blobs`` ingest surface);
    3. ONE fused mapInPandas pass unpickles, min-max renders the tensor to
       uint8 (the plt.imshow(cmap='gray') normalization), PNG-encodes with
       the stdlib codec, decodes back, and checks the roundtrip.

    Rows-only by contract (binary content; PNG bytes are not
    SQL-expressible); the encode→decode identity is asserted in-query
    (``n_roundtrip_ok``) and the rendered range (0..255 for non-constant
    tensors) is property-tested in tests/test_multimodal.py.

    Scale: the writer and converter are pure map stages over fan_out
    partitions — no shuffle until the final tiny per-task aggregate; each
    blob crosses the Arrow boundary exactly once.
    """
    import os

    from big_data_medical_analysis_spark.sources.readers import read_binary_dir

    out_dir = per_user_tmpdir("spark_graft_pkl_blobs")
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("img_id")
    ).filter(F.col("img_id") < PKL_N_BLOBS)
    src = fan_out(docs, "img_id")

    def _write_part(rows):
        import os as _os
        import pickle

        _os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            i = int(r["img_id"])
            rng = np.random.RandomState(i % (2**31))
            payload = {
                "cxr_img": rng.rand(1, IMG_SIDE, IMG_SIDE).astype(np.float32),
                "task": f"task_{i % 4}",
                "gt": i % 2,
            }
            with open(_os.path.join(out_dir, f"map_{i:05d}.pkl"), "wb") as f:
                pickle.dump(payload, f)

    src.foreachPartition(_write_part)

    def _convert(batches):
        import pickle
        import re

        for pdf in batches:
            out: dict[str, list] = {
                "img_id": [], "task": [], "gt": [], "png_bytes": [],
                "p_min": [], "p_max": [], "roundtrip_ok": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"map_(\d+)\.pkl", str(path))
                img_id = int(m.group(1)) if m else -1
                obj = pickle.loads(bytes(content))
                arr = np.asarray(obj["cxr_img"], dtype=np.float64)[0]
                lo, hi = float(arr.min()), float(arr.max())
                if hi > lo:
                    img = np.floor(
                        (arr - lo) / (hi - lo) * 255.0 + 0.5
                    ).astype(np.uint8)
                else:
                    img = np.zeros_like(arr, dtype=np.uint8)
                png = encode_png(img, img_id % 5)
                back = decode_png(png)
                out["img_id"].append(img_id)
                out["task"].append(str(obj["task"]))
                out["gt"].append(int(obj["gt"]))
                out["png_bytes"].append(len(png))
                out["p_min"].append(int(back.min()))
                out["p_max"].append(int(back.max()))
                out["roundtrip_ok"].append(bool(np.array_equal(img, back)))
            yield pd.DataFrame(out)

    stats = read_binary_dir(spark, out_dir, glob="*.pkl").mapInPandas(
        _convert,
        "img_id long, task string, gt int, png_bytes int, "
        "p_min int, p_max int, roundtrip_ok boolean",
    )
    return stats.groupBy("task").agg(
        F.count(F.lit(1)).alias("n_maps"),
        F.sum(F.col("roundtrip_ok").cast("long")).alias("n_roundtrip_ok"),
        F.sum(F.col("gt").cast("long")).alias("n_positive"),
        F.min("p_min").alias("min_pixel"),
        F.max("p_max").alias("max_pixel"),
        F.round(F.avg("png_bytes"), 2).alias("avg_png_bytes"),
    )


# ---------------------------------------------------------------------------
# Resize / frame-sample / audio kernels (brief §multimodal: decode,
# feature-extract, resize, frame-sample — codec-free deterministic forms;
# swap the synth/decode step for a real codec in deployment)
# ---------------------------------------------------------------------------


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pure-numpy bilinear resize (align_corners=False convention, the
    cv2.INTER_LINEAR / tf.image.resize default — reference resizes every
    image to 224×224, src/federated_learning_pipeline.py:40). Deterministic:
    same float64 arithmetic on every engine."""
    h, w = img.shape
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    f = img.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


RESIZE_SIDE = 16


@pandas_udf(T.BinaryType())
def resize_image(
    content: pd.Series, height: pd.Series, width: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            resize_bilinear(
                decode_gray(c, h, w), RESIZE_SIDE, RESIZE_SIDE
            ).tobytes()
            for c, h, w in zip(content, height, width)
        ]
    )


@register("image_resize_stats", oracle=None, category="multimodal")
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → bilinear resize → per-label stats: the reference's
    224×224 resize step as a pure Arrow stage. Rows-only (content is
    numpy-synthesized); mean preservation under resize is property-tested
    in tests/test_multimodal.py.

    Round 16 (guide §4.1): synth → resize → stats fused into ONE
    mapInPandas pass — ids in, stat rows out; the composed form shipped
    raw AND resized bytes across the boundary four times. Same kernels
    (``_synth_image_array``, ``resize_bilinear``), identical values; the
    composable ``resize_image`` UDF remains the API surface."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "label": [], "p_min": [], "p_max": [], "p_mean": [],
            }
            for i in pdf["img_id"]:
                small = resize_bilinear(
                    _synth_image_array(int(i)), RESIZE_SIDE, RESIZE_SIDE
                )
                out["label"].append(_synth_label(i))
                out["p_min"].append(int(small.min()))
                out["p_max"].append(int(small.max()))
                out["p_mean"].append(round(float(small.mean()), 6))
            yield pd.DataFrame(out)

    stats = _synth_ids(spark, sf_dir).mapInPandas(
        _gen, "label int, p_min int, p_max int, p_mean double"
    )
    return stats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.round(F.avg("p_mean"), 4).alias("avg_mean_pixel"),
        F.min("p_min").alias("min_pixel"),
        F.max("p_max").alias("max_pixel"),
    )


# --- video: opaque multi-frame binary + frame sampling ---------------------

N_FRAMES = 12
FRAME_STRIDE = 4


@pandas_udf(T.BinaryType())
def _synth_clip(clip_id: pd.Series) -> pd.Series:
    """Deterministic synthetic 'video': N_FRAMES raw grayscale frames
    concatenated (frame f of clip c = seeded noise keyed by (c, f)) —
    stands in for a real container format; only the decode step changes in
    deployment."""
    side = IMG_SIDE
    out = []
    for c in clip_id:
        frames = []
        for f in range(N_FRAMES):
            rng = np.random.RandomState((int(c) * 131 + f) % (2**31))
            frames.append(
                rng.randint(0, 256, size=(side, side)).astype(np.uint8).tobytes()
            )
        out.append(b"".join(frames))
    return pd.Series(out)


def synth_clips(spark: SparkSession, sf_dir: str, n_clips: int = 200) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    base = fan_out(
        docs.select(F.col("doc_id").alias("clip_id")).filter(
            F.col("clip_id") < n_clips
        ),
        "clip_id",
    )
    return base.select(
        "clip_id",
        F.lit(IMG_SIDE).alias("width"),
        F.lit(IMG_SIDE).alias("height"),
        F.lit(N_FRAMES).alias("n_frames"),
        _synth_clip(F.col("clip_id")).alias("content"),
    )


def sample_frames(clips: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Frame sampling as ONE mapInPandas pass: every ``stride``-th frame of
    each clip becomes a row (clip_id, frame_idx, frame). Same
    boundary-crossing discipline as augment_pipeline — the clip bytes cross
    into Python once; frames are sliced there, never materialized as an
    intermediate array column."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {"clip_id": [], "frame_idx": [], "frame": []}
            for clip_id, w, h, nf, content in zip(
                pdf["clip_id"], pdf["width"], pdf["height"],
                pdf["n_frames"], pdf["content"],
            ):
                fsize = int(w) * int(h)
                for idx in range(0, int(nf), stride):
                    out["clip_id"].append(clip_id)
                    out["frame_idx"].append(idx)
                    out["frame"].append(
                        bytes(content[idx * fsize : (idx + 1) * fsize])
                    )
            yield pd.DataFrame(out)

    return clips.mapInPandas(_gen, "clip_id long, frame_idx int, frame binary")


@register("video_frame_sample", oracle=None, category="multimodal")
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline profile: every clip contributes exactly
    ceil(N_FRAMES/stride) sampled frames of frame-sized bytes. Rows-only;
    exact fan-out is property-tested."""
    frames = sample_frames(synth_clips(spark, sf_dir))
    return frames.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.avg(F.length("frame")).alias("avg_bytes"),
    )


# --- audio: opaque PCM binary + feature extraction -------------------------

AUDIO_SAMPLES = 2048


@pandas_udf(T.BinaryType())
def _synth_pcm(clip_id: pd.Series) -> pd.Series:
    """Deterministic synthetic int16 little-endian PCM keyed by clip_id."""
    out = []
    for c in clip_id:
        rng = np.random.RandomState((int(c) * 977) % (2**31))
        wave = (rng.standard_normal(AUDIO_SAMPLES) * 3000.0).astype("<i2")
        out.append(wave.tobytes())
    return pd.Series(out)


def decode_mp3(content: bytes) -> np.ndarray:
    """STUB — no MP3 codec ships in this container; swap for
    soundfile/librosa decode in deployment. The *real* codec path is
    ``decode_wav``/``encode_wav`` below (stdlib RIFF/WAVE PCM16), so the
    audio decode step is exercised on genuinely encoded bytes too."""
    raise NotImplementedError("no MP3 codec in this environment; see decode_wav")


def encode_wav(pcm: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Stdlib-only WAV encoder: mono 16-bit little-endian PCM in a
    canonical RIFF/WAVE container (fmt + data chunks). Counterpart of
    ``decode_wav`` so queries can exercise the decoder on real files."""
    if pcm.dtype != np.dtype("<i2") or pcm.ndim != 1:
        raise ValueError("encode_wav expects a 1-D little-endian int16 array")
    data = pcm.tobytes()
    fmt = (
        (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits per sample
    )
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """Stdlib-only WAV decoder: RIFF/WAVE chunk walk → (mono int16 PCM,
    sample_rate). Accepts any chunk ordering / extra chunks (LIST, fact, …)
    per the RIFF spec; rejects compressed or non-16-bit/non-mono payloads
    instead of guessing. Replaces the raise-only audio stub with a real
    container parse (reference decodes via TF/librosa in deployment)."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, sample_rate, n_channels, bits, audio_fmt, data = 12, None, None, None, None, None
    while pos + 8 <= len(content):
        ctype = content[pos : pos + 4]
        ln = int.from_bytes(content[pos + 4 : pos + 8], "little")
        payload = content[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if ctype == b"fmt ":
            audio_fmt = int.from_bytes(payload[0:2], "little")
            n_channels = int.from_bytes(payload[2:4], "little")
            sample_rate = int.from_bytes(payload[4:8], "little")
            bits = int.from_bytes(payload[14:16], "little")
        elif ctype == b"data":
            data = payload
    if sample_rate is None or data is None:
        raise ValueError("malformed WAV (missing fmt/data chunk)")
    if (audio_fmt, n_channels, bits) != (1, 1, 16):
        raise ValueError(
            "decode_wav supports uncompressed mono 16-bit PCM only; "
            f"got fmt={audio_fmt} channels={n_channels} bits={bits}"
        )
    return np.frombuffer(data, dtype="<i2"), sample_rate


@pandas_udf(T.StructType([
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.IntegerType()),
]))
def audio_features(content: pd.Series) -> pd.DataFrame:
    """Feature extraction over raw PCM bytes: sample count, RMS amplitude,
    absolute peak — int64-exact sums under the hood."""
    ns, rms, peak = [], [], []
    for blob in content:
        pcm = np.frombuffer(blob, dtype="<i2").astype(np.int64)
        ns.append(int(pcm.size))
        rms.append(round(float(np.sqrt((pcm * pcm).sum() / max(pcm.size, 1))), 6))
        peak.append(int(np.abs(pcm).max()) if pcm.size else 0)
    return pd.DataFrame({"n_samples": ns, "rms": rms, "peak": peak})


def read_wav_dir(spark: SparkSession, path: str, glob: str = "*.wav") -> DataFrame:
    """WAV corpus ingestion: ``binaryFile`` scan → stdlib RIFF decode →
    typed (path, sample_rate, n_samples, pcm) rows with raw int16 bytes —
    the audio twin of ``read_png_dir``."""
    from big_data_medical_analysis_spark.sources.readers import read_binary_dir

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "path": [], "sample_rate": [], "n_samples": [], "pcm": [],
            }
            for p, blob in zip(pdf["path"], pdf["content"]):
                pcm, rate = decode_wav(bytes(blob))
                out["path"].append(p)
                out["sample_rate"].append(rate)
                out["n_samples"].append(int(pcm.size))
                out["pcm"].append(pcm.tobytes())
            yield pd.DataFrame(out)

    return read_binary_dir(spark, path, glob=glob).mapInPandas(
        _gen, "path string, sample_rate int, n_samples int, pcm binary"
    )


@register("wav_decode_stats", oracle=None, category="multimodal")
def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec audio pipeline: synthetic PCM → WAV container encode →
    stdlib decode → features, fused in ONE mapInPandas pass (one Arrow
    crossing per clip). Rows-only (numpy-synthesized waveforms); container
    roundtrip parity is asserted in-query and property-tested in
    tests/test_multimodal.py."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "clip_id": [], "wav_bytes": [], "rms": [],
                "peak": [], "roundtrip_ok": [],
            }
            for clip_id, content in zip(pdf["clip_id"], pdf["content"]):
                pcm = np.frombuffer(content, dtype="<i2")
                wav = encode_wav(pcm, 16_000)
                back, rate = decode_wav(wav)
                sq = back.astype(np.int64)
                out["clip_id"].append(clip_id)
                out["wav_bytes"].append(len(wav))
                out["rms"].append(
                    round(float(np.sqrt((sq * sq).sum() / max(back.size, 1))), 6)
                )
                out["peak"].append(int(np.abs(sq).max()) if back.size else 0)
                out["roundtrip_ok"].append(
                    rate == 16_000 and np.array_equal(pcm, back)
                )
            yield pd.DataFrame(out)

    docs = read_table(spark, sf_dir, "documents")
    clips = fan_out(
        docs.select(F.col("doc_id").alias("clip_id")).filter(
            F.col("clip_id") < 500
        ),
        "clip_id",
    ).select("clip_id", _synth_pcm(F.col("clip_id")).alias("content"))
    stats = clips.mapInPandas(
        _gen,
        "clip_id long, wav_bytes int, rms double, peak int, roundtrip_ok boolean",
    )
    return stats.groupBy((F.col("clip_id") % 4).alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("roundtrip_ok").cast("long")).alias("n_roundtrip_ok"),
        F.min("wav_bytes").alias("min_wav_bytes"),
        F.round(F.avg("rms"), 4).alias("avg_rms"),
        F.max("peak").alias("max_peak"),
    )


@register("audio_clip_stats", oracle=None, category="multimodal")
def audio_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM feature-extraction profile over a deterministic synthetic corpus:
    per (clip_id % 4) cohort, count / avg RMS / max peak. Rows-only."""
    docs = read_table(spark, sf_dir, "documents")
    clips = fan_out(
        docs.select(F.col("doc_id").alias("clip_id")).filter(
            F.col("clip_id") < 500
        ),
        "clip_id",
    ).select("clip_id", _synth_pcm(F.col("clip_id")).alias("content"))
    feats = clips.withColumn("f", audio_features("content")).select(
        (F.col("clip_id") % 4).alias("cohort"),
        "f.n_samples", "f.rms", "f.peak",
    )
    return feats.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg("rms"), 4).alias("avg_rms"),
        F.max("peak").alias("max_peak"),
        F.min("n_samples").alias("min_samples"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-duplicate pairs — round 10
# ---------------------------------------------------------------------------

DHASH_BANDS = 4
DHASH_BAND_BITS = 16
DHASH_MAX_HDIST = 3  # pigeonhole: ≤3 flipped bits ⇒ ≥1 of 4 bands identical
DHASH_TWIN_EVERY = 10


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash: bilinear-resize to 8×9 grayscale, emit one
    bit per horizontally-adjacent pixel pair (left < right). Robust to
    re-encoding, brightness shifts, and small edits — the standard cheap
    perceptual signature for image dedup."""
    small = resize_bilinear(img, 8, 9).astype(np.int16)
    bits = (small[:, :-1] < small[:, 1:]).flatten()
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= (1 << 63) else h


@pandas_udf(T.LongType())
def _dhash_udf(content: pd.Series, height: pd.Series, width: pd.Series) -> pd.Series:
    return pd.Series(
        [
            dhash64(decode_gray(c, int(h), int(w)))
            for c, h, w in zip(content, height, width)
        ]
    )


@pandas_udf(T.BinaryType())
def _bump_pixel(content: pd.Series) -> pd.Series:
    """The planted near-duplicate edit: +1 on one pixel (saturating) — an
    imperceptible change a byte-level hash misses and a perceptual hash
    must survive."""
    out = []
    for c in content:
        a = np.frombuffer(c, dtype=np.uint8).copy()
        a[0] = min(int(a[0]) + 1, 255)
        out.append(a.tobytes())
    return pd.Series(out)


@register("image_dhash_near_dup", oracle=None, category="multimodal")
def image_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual dHash — the dedup pillar
    applied to the MULTIMODAL column (training-image corpora dedup on
    perceptual, not byte, identity: re-encodes and tiny edits must
    collide): every {te}-th image gains a planted one-pixel twin, each
    image gets a 64-bit dHash (bilinear 8×9 resize → adjacent-pixel
    comparisons, pure-numpy Arrow UDF), and candidate pairs come from
    {b}×{bb}-bit band buckets (the ``simhash_near_dup`` pigeonhole:
    hamming ≤ {hd} ⇒ some band equal — GUARANTEED recall at the
    threshold, never all-pairs) verified by exact Hamming distance.

    Rows-only by the codec census class (numpy-RNG image content has no
    DuckDB twin); the property pytest pins planted-twin recall = 100%,
    pair canonicalization, and the Hamming bound. Scale: banding is
    O(N·bands) into an equi-join, the dHash pass is one Arrow crossing.

    Round 16: (a) synth → twin-bump → dHash fused into ONE mapInPandas
    pass (ids in, (img_id, h) out — the composed form chained three
    Python workers and shipped image bytes between them, guide §4.1);
    (b) the banded self-join emits each colliding pair exactly once at
    its FIRST colliding band — both sides carry ``h``, so the first
    collision index is recomputed from the two hashes in the join
    condition and the corpus-pair-sized ``distinct()`` exchange
    disappears (the ``simhash_pairs``/``pmh_banded_buckets`` move; the
    emitted pair set IS the old DISTINCT set). Kernels unchanged
    (``_synth_image_array``, ``dhash64``, the saturating one-pixel
    bump), so values are identical."""

    def _gen(batches):
        for pdf in batches:
            out: dict[str, list] = {"img_id": [], "h": []}
            for i in pdf["img_id"]:
                arr = _synth_image_array(int(i))
                out["img_id"].append(int(i))
                out["h"].append(dhash64(arr))
                if int(i) % DHASH_TWIN_EVERY == 0:
                    bumped = arr.copy()
                    bumped[0, 0] = min(int(arr[0, 0]) + 1, 255)
                    out["img_id"].append(int(i) + 1_000_000)
                    out["h"].append(dhash64(bumped))
            yield pd.DataFrame(out)

    hashed = checkpoint_pinned(
        _synth_ids(spark, sf_dir).mapInPandas(_gen, "img_id long, h long")
    )

    def _band_of(h: Column, b: int) -> Column:
        return F.shiftrightunsigned(h, b * DHASH_BAND_BITS).bitwiseAND(
            F.lit((1 << DHASH_BAND_BITS) - 1)
        )

    bands = hashed.select(
        "img_id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_of(F.col("h"), b).alias("bucket"),
                    )
                    for b in range(DHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("img_id", "h", "bb.band", "bb.bucket")
    # first colliding band, computed from the two carried hashes: band b
    # collides iff the b-th slices are equal; keep the row only at the
    # smallest such b — exactly one emission per colliding pair
    band_eqs = F.array(
        *[
            _band_of(F.col("a.h"), b) == _band_of(F.col("b.h"), b)
            for b in range(DHASH_BANDS)
        ]
    )
    first_collision = F.array_position(band_eqs, F.lit(True)) == (
        F.col("a.band") + F.lit(1)
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.img_id") < F.col("b.img_id"))
            & first_collision,
        )
        .select(
            F.col("a.img_id").alias("img_a"),
            F.col("b.img_id").alias("img_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
    )
    hdist = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int")
    return cand.select("img_a", "img_b", hdist.alias("hdist")).filter(
        F.col("hdist") <= DHASH_MAX_HDIST
    )


image_dhash_near_dup.__doc__ = image_dhash_near_dup.__doc__.format(
    te=DHASH_TWIN_EVERY, b=DHASH_BANDS, bb=DHASH_BAND_BITS, hd=DHASH_MAX_HDIST
)
