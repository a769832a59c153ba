"""Multimodal column plumbing (BASELINE extension X5).

Images/audio/video ride as opaque ``binary`` columns beside a typed
metadata struct. The Spark-side machinery is real — schema, Arrow batch
shape, ``mapInPandas`` signature, partitioning — while the actual media
decode is stubbed (codec libraries are not in this container): the
default extractor is a deterministic fake; a real one drops in with the
same signature.

Scale notes: media blobs make rows wide, so the decode stage uses
``mapInPandas`` (per-partition Arrow batches, no shuffle), and
``spark.sql.files.maxPartitionBytes`` bounds task size. Feature vectors
come back as ``array<float>`` ready for operators/similarity.py.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def bundle_document(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """X5 struct bundling: text + embedding + metadata in one row.

    Join key doc_id = vec_id; embedding side is small relative to media
    payloads, so an AQE broadcast applies at fixture scale while a
    shuffle join takes over at 100 TB (both correct, Catalyst decides).
    """
    e = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding", "label")
    joined = docs.join(e, "doc_id")
    return joined.select(
        "doc_id",
        F.struct(
            F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("document"),
        F.struct(F.col("embedding"), F.col("label")).alias("vector"),
    )


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media column: payload = utf-8 of the text head
    (stands in for encoded bytes), metadata derived from doc fields.
    Type rotates by doc_id (image/audio/video) so every downstream
    stage — resize, frame-sample, feature-extract — has material;
    audio/video get a duration derived from n_chars."""
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    duration = F.when(mt != "image", (F.col("n_chars") % 480 + 1).cast("long") * 100)
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        F.encode(F.substring("text", 1, 64), "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            duration.alias("duration_ms"),
            F.lit("fake/raw").alias("format"),
        ).alias("meta"),
    )


def default_feature_extractor(payload: bytes, media_type: str) -> list[float]:
    """STUB decode/feature-extract. A real implementation would decode
    ``payload`` with PIL/librosa/ffmpeg (not installed here) and emit a
    model feature vector. The fake is deterministic: byte histogram
    folded to 8 dims, so the full pipeline is testable end-to-end.

    No rounding: sums of byte values are exact in float64 and the final
    division is a single IEEE op, so an independent SQL re-derivation
    (the DuckDB oracle) reproduces the values bit-for-bit."""
    if payload is None:
        return [0.0] * 8
    feats = [0.0] * 8
    for i, b in enumerate(payload):
        feats[i % 8] += float(b)
    total = sum(feats) or 1.0
    return [f / total for f in feats]


def extract_features(
    media: DataFrame,
    extractor: Callable[[bytes, str], list[float]] = default_feature_extractor,
    out_dim: int = 8,
) -> DataFrame:
    """Decode/feature-extract stage as mapInPandas (Arrow batches).

    Raising ``NotImplementedError`` inside a real extractor for an
    unsupported codec fails the task, not the plan — wrap per-row if
    partial success is wanted. ``out_dim`` declares the extractor's
    feature length and is VALIDATED per row (a silent length mismatch
    would poison downstream fixed-dim consumers like ANN indexes).
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), True),
            # double, not float: keeps the extractor's float64 values exact
            # end-to-end (oracle parity) at 2x the width of a real model's
            # fp32 embedding — a real extractor can narrow this.
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for p, m in zip(pdf["payload"], pdf["media_type"]):
                f = extractor(p, m)
                if len(f) != out_dim:
                    raise ValueError(
                        f"extractor returned {len(f)} features for a "
                        f"{m} payload; out_dim={out_dim}"
                    )
                feats.append(f)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


# --- Real media decode path ------------------------------------------------
#
# The container has no PIL/ffmpeg, but PNG is fully decodable with the
# stdlib: zlib IS the real DEFLATE codec, and the container format is
# ~40 lines of struct parsing. So the decode stage below is not a fake:
# payloads are genuine PNG files (signature, IHDR, IDAT, CRCs), the
# decoder inflates and unfilters real scanlines, and a PIL-backed path
# is used instead whenever PIL is importable (same outputs, verified by
# tests/test_operators.py). A deterministic pixel formula generates the
# images so the DuckDB oracle can re-derive every channel mean from the
# formula alone — proving the encode->deflate->decode loop round-trips.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def synth_pixel(doc_id: int, x: int, y: int, c: int) -> int:
    """Deterministic RGB pixel formula shared by the encoder and the
    DuckDB oracle: v = (doc_id*31 + x*7 + y*13 + c*101) mod 256."""
    return (doc_id * 31 + x * 7 + y * 13 + c * 101) % 256

def synth_size(doc_id: int) -> tuple[int, int]:
    """Deterministic image size: width 8..16, height 8..14."""
    return 8 + doc_id % 9, 8 + doc_id % 7


def encode_png(doc_id: int) -> bytes:
    """A real 8-bit RGB PNG (color type 2, filter 0 scanlines) of the
    synthetic image for ``doc_id`` — decodable by any PNG reader."""
    import struct
    import zlib

    w, h = synth_size(doc_id)
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type 0 (None) per scanline
        for x in range(w):
            for c in range(3):
                raw.append(synth_pixel(doc_id, x, y, c))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """Minimal real PNG decoder: parse chunks, inflate IDAT, undo
    scanline filters 0 (None), 1 (Sub) and 2 (Up) for 8-bit RGB.
    Returns (width, height, raw RGB bytes row-major). Raises ValueError
    on anything outside that subset — a task failure, not silent junk."""
    import struct
    import zlib

    if data is None or bytes(data[:8]) != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height, idat = 8, 0, 0, bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        body = bytes(data[pos + 8 : pos + 8 + length])
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype != 2:
                raise ValueError(f"unsupported PNG: depth={depth} color_type={ctype}")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    stride, bpp = width * 3, 3
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) % 256
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) % 256
        elif ftype != 0:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out += line
        prev = bytes(line)
    return width, height, bytes(out)


try:  # real decoder upgrade: PIL when the environment provides it
    from PIL import Image as _PILImage  # noqa: N811
except ImportError:  # pragma: no cover - container has no PIL
    _PILImage = None


def png_feature_extractor(payload: bytes, media_type: str):
    """REAL decode + feature extract: PNG bytes -> pixel array ->
    (width, height, per-channel pixel sums). Uses PIL when installed,
    else the stdlib decoder above — identical outputs either way.
    Integer sums, not means: exact in both engines, so the oracle
    compare has no float-rounding tie hazard."""
    if _PILImage is not None:  # pragma: no cover - exercised where PIL exists
        import io

        import numpy as np

        img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
        arr = np.asarray(img, dtype=np.int64)
        w, h = img.size
        sums = arr.reshape(-1, 3).sum(axis=0)
        return w, h, [int(s) for s in sums]
    w, h, rgb = decode_png(payload)
    sums = [0, 0, 0]
    for i, b in enumerate(rgb):
        sums[i % 3] += b
    return w, h, sums


def attach_synthetic_png(docs: DataFrame) -> DataFrame:
    """Media table whose payloads are genuine PNG bytes of the
    deterministic synthetic image for each doc_id (Arrow-batched
    encode; every byte a real PNG reader can consume)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), True),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "image",
                    "payload": [encode_png(int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(batches, schema=out_schema)


def decode_media_features(media: DataFrame) -> DataFrame:
    """Decode stage over PNG payloads: mapInPandas Arrow batches in,
    (doc_id, width, height, sum_r, sum_g, sum_b) out. This is the
    production shape — decode runs executor-side on batch rows, no
    shuffle, task size bounded by maxPartitionBytes."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("sum_r", T.LongType(), True),
            T.StructField("sum_g", T.LongType(), True),
            T.StructField("sum_b", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                png_feature_extractor(p, m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "sum_r": [f[2][0] for f in feats],
                    "sum_g": [f[2][1] for f in feats],
                    "sum_b": [f[2][2] for f in feats],
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


def _nn_resample(rgb: bytes, w: int, h: int, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resample of raw RGB rows: out(x,y) =
    in(floor(x*w/out_w), floor(y*h/out_h)) — the standard NN mapping,
    exactly re-derivable in SQL."""
    out = bytearray()
    for y in range(out_h):
        sy = y * h // out_h
        for x in range(out_w):
            sx = x * w // out_w
            base = (sy * w + sx) * 3
            out += rgb[base : base + 3]
    return bytes(out)


def resize_png(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL image resize: decode the PNG payload, nearest-neighbor
    resample to (out_w, out_h) with the explicit floor mapping above,
    re-encode as PNG. Arrow-batched mapInPandas, no shuffle. PIL (when
    installed) handles the decode only — the resample stays on the
    explicit mapping so the SQL oracle can re-derive every output pixel
    (PIL's NEAREST samples pixel centers, a different convention)."""
    import struct
    import zlib

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), True),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(rgb: bytes) -> bytes:
        raw = bytearray()
        for y in range(out_h):
            raw.append(0)
            raw += rgb[y * out_w * 3 : (y + 1) * out_w * 3]
        ihdr = struct.pack(">IIBBBBB", out_w, out_h, 8, 2, 0, 0, 0)
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + _png_chunk(b"IEND", b"")
        )

    def one(payload: bytes) -> bytes:
        if _PILImage is not None:  # pragma: no cover - container has no PIL
            import io

            import numpy as np

            img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
            w, h = img.size
            rgb = np.asarray(img, dtype=np.uint8).tobytes()
        else:
            w, h, rgb = decode_png(payload)
        return encode(_nn_resample(rgb, w, h, out_w, out_h))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": [one(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


def frame_sample(media: DataFrame, fps: float = 1.0, max_frames: int = 16) -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp.

    The row-explosion plumbing is real — frame count from duration x
    fps (capped), per-frame timestamps, stable (doc_id, frame_idx)
    keys, all Catalyst (sequence + explode, no Python) — while the
    frame DECODE is the stub boundary: ``frame_payload`` marks where a
    real ffmpeg-backed extractor would emit decoded pixels; feed rows
    through ``extract_features`` with such an extractor to complete
    the pipeline. Filter pushes 'video' down to the scan; the explode
    multiplies rows map-side with no shuffle.
    """
    # NULL duration must yield ZERO frames, not max_frames (least()
    # skips NULLs); zero duration likewise must not fabricate frame 0
    # (sequence(0, greatest(-1, 0)) would emit it) — hence the
    # coalesce-0 and the n_frames > 0 gate (review)
    n_frames = F.least(
        F.ceil(
            F.coalesce(F.col("meta.duration_ms"), F.lit(0))
            / F.lit(1000.0)
            * F.lit(fps)
        ).cast("int"),
        F.lit(max_frames),
    )
    return (
        media.filter(F.col("media_type") == "video")
        .withColumn("__nf", n_frames)
        .filter(F.col("__nf") > 0)
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.col("__nf") - 1)))
        .drop("__nf")
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * F.lit(1000.0 / fps)).cast("long").alias("frame_ts_ms"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(None).cast("binary").alias("frame_payload"),  # decode stub
        )
    )


# --- perceptual-hash image near-dup (X2 x X5 composition) -------------------


def perceptual_hash_media(media: DataFrame, grid: int = 8) -> DataFrame:
    """REAL decode -> 64-bit average-hash (aHash) per image.

    The classic perceptual near-dup signature: decode the PNG payload,
    nearest-neighbor resample to a ``grid x grid`` patch (the same
    explicit floor mapping as ``resize_png``) of integer luminance
    values — the exact r+g+b channel sum per sampled pixel, the
    integer-exact stand-in for standard aHash grayscale (a weighted
    0.299/0.587/0.114 luma would put a float between the engines;
    the plain sum keeps the hash bit-reproducible in SQL while still
    reacting to every channel, ADVICE r12) — and set bit ``y*grid +
    x`` iff the patch value is STRICTLY above the patch mean. The
    mean compare stays in integers (``lum * grid^2 > sum``) so no
    float tie can diverge between engines, and the hash ships as two
    non-negative 32-bit halves (``hash_lo`` bits 0-31, ``hash_hi``
    bits 32-63) because a DuckDB oracle can rebuild those with plain
    BIGINT shifts while a packed top-bit-set int64 cannot.

    Scale shape: decode + hash is one Arrow-batched ``mapInPandas``
    stage — map-side, no shuffle, task size bounded by
    maxPartitionBytes; at 100 TB the signature table is ~24 bytes/row
    regardless of media size, which is the whole point of hashing
    before any pairwise stage.
    """
    cells = grid * grid
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("hash_lo", T.LongType(), True),
            T.StructField("hash_hi", T.LongType(), True),
        ]
    )

    def one(payload: bytes) -> tuple[int, int, int, int]:
        if _PILImage is not None:  # pragma: no cover - container has no PIL
            import io

            import numpy as np

            img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
            w, h = img.size
            rgb = np.asarray(img, dtype=np.uint8).tobytes()
        else:
            w, h, rgb = decode_png(payload)
        patch = []
        for y in range(grid):
            sy = y * h // grid
            for x in range(grid):
                sx = x * w // grid
                i3 = (sy * w + sx) * 3
                # integer luminance: exact r+g+b sum (no float luma)
                patch.append(rgb[i3] + rgb[i3 + 1] + rgb[i3 + 2])
        total = sum(patch)
        lo = hi = 0
        for idx, p in enumerate(patch):
            if p * cells > total:
                if idx < 32:
                    lo |= 1 << idx
                else:
                    hi |= 1 << (idx - 32)
        return w, h, lo, hi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [s[0] for s in sigs],
                    "height": [s[1] for s in sigs],
                    "hash_lo": [s[2] for s in sigs],
                    "hash_hi": [s[3] for s in sigs],
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


def _phash_chunks(sigs: DataFrame) -> DataFrame:
    """Explode one signature row into its 8 exact 8-bit pigeonhole
    chunks: (id, width, height, hash_lo, hash_hi, ci, cv). Shared by
    the within-set (``phash_class_pairs``) and cross-set
    (``phash_cross_pairs``) blocked joins so the chunk definition
    cannot drift between them."""
    chunk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("ci"),
                    (
                        F.shiftrightunsigned(
                            F.col("hash_lo" if i < 4 else "hash_hi"),
                            8 * (i % 4),
                        ).bitwiseAND(F.lit(0xFF))
                    ).alias("cv"),
                )
                for i in range(8)
            ]
        )
    )
    return sigs.select(
        F.col("doc_id").alias("id"),
        "width",
        "height",
        "hash_lo",
        "hash_hi",
        chunk.alias("ch"),
    ).select(
        "id", "width", "height", "hash_lo", "hash_hi",
        F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"),
    )


def phash_class_pairs(sigs: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Shape-class-blocked aHash near-dup pairs (hamming <= max_hamming).

    Blocking key one: the (width, height) shape class — two images
    that decode to different native shapes are declared distinct a
    priori (the standard pre-filter before pixel-space comparison).
    Blocking key two, WITHIN a class: the simhash pigeonhole — the 64
    hash bits split into 8 exact 8-bit chunks, so any pair within
    hamming 7 shares at least one chunk and one exploded equi-join on
    (width, height, chunk_idx, chunk_val) finds every such pair with
    no all-pairs scan; the blocked result EQUALS the brute-force
    within-class scan, which is exactly how the oracle re-derives it.
    One shuffle over 8n signature rows; exact hamming verify via
    bit_count(xor) on the two halves after pair dedup.
    """
    if max_hamming >= 8:
        raise ValueError(
            f"8-chunk pigeonhole blocking is exact only for hamming <= 7, "
            f"got max_hamming={max_hamming}"
        )
    chunks = _phash_chunks(sigs)
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.width") == F.col("b.width"))
            & (F.col("a.height") == F.col("b.height"))
            & (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.width").alias("width"),
            F.col("a.height").alias("height"),
            F.col("a.hash_lo").alias("lo_a"),
            F.col("a.hash_hi").alias("hi_a"),
            F.col("b.hash_lo").alias("lo_b"),
            F.col("b.hash_hi").alias("hi_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return cands.select(
        "id_a", "id_b", "width", "height", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def phash_cross_pairs(
    sigs_a: DataFrame, sigs_b: DataFrame, max_hamming: int = 7
) -> DataFrame:
    """CROSS-set variant of :func:`phash_class_pairs`: near-dup pairs
    (hamming <= max_hamming) with one side from ``sigs_a`` and the
    other from ``sigs_b`` — the screen shape of decontamination
    (train images vs a held-out eval set) rather than dedup. Same
    shape-class + 8-bit pigeonhole chunk blocking through the shared
    :func:`_phash_chunks`, so blocked == brute force within class by
    the identical pigeonhole argument. There is NO ``id <``
    orientation: when the sides are disjoint sets every (a, b) pair
    appears exactly once after the chunk dedup, but when the inputs
    OVERLAP (e.g. ``sigs`` vs a filtered subset of ``sigs``, as the
    decon-agreement callers pass) every shared id also emits its
    SELF-pair (id_a == id_b, hamming 0) and both orientations of a
    symmetric pair — callers screening train-vs-eval must exclude
    self-matches downstream (the agreement queries do so via their
    train-universe join; ADVICE r13 made this contract explicit).
    Cites dongchanlim/Finance-Reporting-ETL readme quality-screen
    intent; the operator itself is the 100-TB extension surface."""
    if max_hamming >= 8:
        raise ValueError(
            f"8-chunk pigeonhole blocking is exact only for hamming <= 7, "
            f"got max_hamming={max_hamming}"
        )
    a = _phash_chunks(sigs_a).alias("a")
    b = _phash_chunks(sigs_b).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.width") == F.col("b.width"))
            & (F.col("a.height") == F.col("b.height"))
            & (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.width").alias("width"),
            F.col("a.height").alias("height"),
            F.col("a.hash_lo").alias("lo_a"),
            F.col("a.hash_hi").alias("hi_a"),
            F.col("b.hash_lo").alias("lo_b"),
            F.col("b.hash_hi").alias("hi_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return cands.select(
        "id_a", "id_b", "width", "height", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
