"""Multimodal (binary-column) operators.

Images/audio/video are opaque ``binary`` columns plus typed metadata —
directly echoing the reference's binary (key, value) data model
(`/root/reference/src/lib.rs:7-12`). The image decode step is REAL:
``decode_image`` parses 24-bit BMP payloads via the pure-Python
spec-level codec in ``datafusion_streams_spark.codecs.bmp`` (the
``avro_py`` discipline — public format, no third-party libs), inside
the same Arrow-batched ``mapInPandas`` loops the fake-feature
extractors use; ``multimodal_png_decode`` (r6) does the same with the
full PNG chunk/zlib/filter codec in ``codecs.png``. JPEG remains the
documented swap-in (DCT entropy coding needs a real library; none
ships here); the remaining payload fixtures are deterministic fakes
(document text UTF-8 encoded) standing in for real media bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_streams_spark.catalog import load_documents, table
from datafusion_streams_spark.codecs.bmp import decode_bmp, encode_bmp
from datafusion_streams_spark.codecs.jpeg import decode_jpeg_gray, encode_jpeg_gray
from datafusion_streams_spark.codecs.png import decode_png, encode_png
from datafusion_streams_spark.codecs.wav import decode_wav, encode_wav
from datafusion_streams_spark.operators import query

# The mapInPandas batch loops below are MODULE-LEVEL functions, which
# cloudpickle serializes by reference — executor Python workers would
# then need this package importable, which only holds when the driver
# happens to run from the repo root. By-value registration ships the
# code with the task instead (same rationale as the pluggable
# source/sink registration in sources/pydatasource.py / pysink.py).
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("header", StringType()),
        StructField("digest", StringType()),
        StructField("f0", DoubleType()),
        StructField("f1", DoubleType()),
        StructField("f2", DoubleType()),
        StructField("f3", DoubleType()),
    ]
)


def decode_image(payload: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """REAL image decode: parse a 24-bit BMP payload into (width,
    height, row-major top-down (r, g, b) pixels) via the pure-Python
    spec-level codec (``codecs/bmp.py``). Runs inside the same
    mapInPandas batch loop ``_extract_meta`` uses, so the Spark plan
    (Arrow exchange, partitioning, schema) is the production shape;
    the PNG and baseline-JPEG codecs plug into the same loop (see
    multimodal_png_decode / multimodal_jpeg_decode)."""
    return decode_bmp(bytes(payload))


def _extract_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched metadata extraction over binary payloads.

    Each batch arrives as a pandas DataFrame (columnar, zero-copy from
    Arrow); per-row work is byte inspection + md5 — this is where a
    real decoder (see decode_image) would run. Deterministic fake
    features: first 4 md5 digest bytes scaled to [0, 1].
    """
    for pdf in batches:
        payloads = pdf["payload"]
        digests = [hashlib.md5(bytes(p)).hexdigest() for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(bytes(p)) for p in payloads],
                "header": [bytes(p)[:4].hex() for p in payloads],
                "digest": digests,
                "f0": [int(d[0:2], 16) / 255.0 for d in digests],
                "f1": [int(d[2:4], 16) / 255.0 for d in digests],
                "f2": [int(d[4:6], 16) / 255.0 for d in digests],
                "f3": [int(d[6:8], 16) / 255.0 for d in digests],
            }
        )


def _hexpair_sql(d: str, i: int) -> str:
    """SQL: int value of hex digit pair (2i, 2i+1) of digest string d."""
    hi = f"(strpos('0123456789abcdef', substr({d}, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({d}, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo}) / 255.0"


_MULTIMODAL_ORACLE = f"""
WITH p AS (SELECT doc_id, text, md5(text) AS digest FROM documents)
SELECT
    doc_id,
    CAST(octet_length(encode(text)) AS BIGINT)      AS n_bytes,
    lower(hex(encode(substr(text, 1, 4))))          AS header,
    digest,
    {_hexpair_sql('digest', 0)} AS f0,
    {_hexpair_sql('digest', 1)} AS f1,
    {_hexpair_sql('digest', 2)} AS f2,
    {_hexpair_sql('digest', 3)} AS f3
FROM p
"""


@query("multimodal_binary_meta", oracle=_MULTIMODAL_ORACLE, tags=("multimodal", "pandas-udf"))
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed metadata + fake features via mapInPandas.

    Scale: mapInPandas streams Arrow batches executor-side — no
    collect, no shuffle; partition count follows the input scan. The
    fixture texts are ASCII (verified), so the oracle's char-substr
    equals the byte-substr the pandas side performs.
    """
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return payloads.mapInPandas(_extract_meta, META_SCHEMA)


FRAME_BYTES = 32
FRAME_STRIDE = 4  # sample every 4th frame


def _frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame-sampling plumbing for video-like payloads: fixed-size byte
    frames, every FRAME_STRIDE-th sampled and digested. A real decoder
    would replace the md5 with codec frame extraction — batch shape,
    schema and partitioning are identical."""
    for pdf in batches:
        out = {"doc_id": [], "n_frames": [], "n_sampled": [], "sample_digest": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            frames = [data[i : i + FRAME_BYTES] for i in range(0, len(data), FRAME_BYTES)]
            sampled = frames[::FRAME_STRIDE]
            out["doc_id"].append(doc_id)
            out["n_frames"].append(len(frames))
            out["n_sampled"].append(len(sampled))
            out["sample_digest"].append(hashlib.md5(b"".join(sampled)).hexdigest())
        yield pd.DataFrame(out)


_FRAME_ORACLE = f"""
WITH p AS (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes FROM documents),
frames AS (
    SELECT doc_id,
        CAST(ceil(n_bytes / {FRAME_BYTES}.0) AS BIGINT) AS n_frames,
        -- every {FRAME_STRIDE}th frame = stride of {FRAME_BYTES * FRAME_STRIDE} bytes
        CAST(ceil(n_bytes / {FRAME_BYTES * FRAME_STRIDE}.0) AS BIGINT) AS n_sampled,
        md5(string_agg(substr(text, 1 + (f - 1) * {FRAME_BYTES * FRAME_STRIDE}, {FRAME_BYTES}), '' ORDER BY f)) AS sample_digest
    FROM p, unnest(range(1, CAST(ceil(n_bytes / {FRAME_BYTES * FRAME_STRIDE}.0) AS BIGINT) + 1)) AS t(f)
    GROUP BY doc_id, n_bytes
)
SELECT doc_id, n_frames, n_sampled, sample_digest FROM frames
"""


@query("multimodal_frame_sample", oracle=_FRAME_ORACLE, tags=("multimodal", "pandas-udf"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads via mapInPandas:
    32-byte frames, every 4th sampled, digest over the sampled bytes.
    ASCII fixture text means the oracle can reconstruct the identical
    byte slices with substr."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_frames", LongType()),
            StructField("n_sampled", LongType()),
            StructField("sample_digest", StringType()),
        ]
    )
    return payloads.mapInPandas(_frame_sample, schema)


AUDIO_WIN = 64  # samples per analysis window
AUDIO_HOP = 32  # hop between window starts


def _audio_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio-style windowed feature extraction: payload bytes as 16-bit
    little-endian PCM, overlapping 64-sample windows every 32 samples,
    per-window energy features. Sums are INTEGER (exact under any
    order); rms is one double division + IEEE sqrt, so the oracle
    reproduces it bit-for-bit. A real audio frontend (mel filterbanks,
    VAD) replaces the feature body inside the same batch loop."""
    import math

    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "win_idx": [], "n_samples": [], "sum_abs": [], "rms": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            n2 = len(data) // 2
            smp = np.frombuffer(data[: 2 * n2], dtype="<i2").astype(np.int64)
            for start in range(0, n2, AUDIO_HOP):
                w = smp[start : start + AUDIO_WIN]
                sumsq = int((w * w).sum())
                out["doc_id"].append(doc_id)
                out["win_idx"].append(start // AUDIO_HOP)
                out["n_samples"].append(len(w))
                out["sum_abs"].append(int(np.abs(w).sum()))
                out["rms"].append(math.sqrt(sumsq / len(w)))
        yield pd.DataFrame(out)


# int16 LE from two ASCII bytes: b0 + 256*b1, signed
_SMP_SQL = (
    "CASE WHEN ord(substr(text, 2*i, 1)) >= 128 "
    "THEN ord(substr(text, 2*i-1, 1)) + 256*ord(substr(text, 2*i, 1)) - 65536 "
    "ELSE ord(substr(text, 2*i-1, 1)) + 256*ord(substr(text, 2*i, 1)) END"
)

_AUDIO_ORACLE = f"""
WITH p AS (
    SELECT doc_id, text, octet_length(encode(text)) // 2 AS n_smp FROM documents
    WHERE octet_length(encode(text)) = length(text)
),
s AS (
    SELECT doc_id,
        list_transform(range(1, n_smp + 1), i -> {_SMP_SQL}) AS smp
    FROM p
),
w AS (
    SELECT doc_id, smp,
        unnest(range(1, greatest(len(smp), 0) + 1, {AUDIO_HOP})) AS start
    FROM s
),
win AS (
    SELECT doc_id,
        CAST((start - 1) // {AUDIO_HOP} AS BIGINT) AS win_idx,
        list_slice(smp, start, start + {AUDIO_WIN} - 1) AS wv
    FROM w
)
SELECT doc_id, win_idx,
    CAST(len(wv) AS BIGINT) AS n_samples,
    CAST(list_reduce(list_transform(wv, v -> abs(CAST(v AS BIGINT))), (a, b) -> a + b) AS BIGINT) AS sum_abs,
    sqrt(CAST(list_reduce(list_transform(wv, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT)), (a, b) -> a + b) AS DOUBLE) / len(wv)) AS rms
FROM win
"""


@query("multimodal_audio_windows", oracle=_AUDIO_ORACLE, tags=("multimodal", "pandas-udf", "audio"))
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped windowed features over binary payloads: int16-LE
    samples, overlapping 64-sample windows (hop 32), integer-exact
    energy plus rms per window — the feature-extraction plumbing of an
    audio ingest pipeline with the codec stubbed (see decode_image).

    Scale: mapInPandas over Arrow batches, map-only, output ~n_samples/
    hop rows per payload regardless of cluster size.

    The oracle reconstructs samples from per-CHARACTER code points, so
    byte==char alignment is required; both sides make that explicit by
    keeping only ASCII payloads (octet_length == char length) instead
    of silently assuming the fixture is pure ASCII."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.where(F.octet_length("text") == F.length("text")).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win_idx", LongType()),
            StructField("n_samples", LongType()),
            StructField("sum_abs", LongType()),
            StructField("rms", DoubleType()),
        ]
    )
    return payloads.mapInPandas(_audio_windows, schema)


# ---------------------------------------------------------------------------
# image tiling plumbing (round 4)
# ---------------------------------------------------------------------------

_TILE = 224  # ViT-style crop window

_TILES_ORACLE = f"""
WITH img AS (
    SELECT doc_id,
        256 + (doc_id % 7) * 128 AS w,
        256 + (doc_id % 5) * 96  AS h
    FROM documents
),
grid AS (
    SELECT doc_id, w, h,
        UNNEST(generate_series(0, (w + {_TILE} - 1) // {_TILE} - 1)) AS tile_x
    FROM img
),
tiles AS (
    SELECT doc_id, w, h, tile_x,
        UNNEST(generate_series(0, (h + {_TILE} - 1) // {_TILE} - 1)) AS tile_y
    FROM grid
)
SELECT doc_id,
    CAST(tile_x AS BIGINT) AS tile_x,
    CAST(tile_y AS BIGINT) AS tile_y,
    CAST(tile_x * {_TILE} AS BIGINT) AS x0,
    CAST(tile_y * {_TILE} AS BIGINT) AS y0,
    CAST(least((tile_x + 1) * {_TILE}, w) AS BIGINT) AS x1,
    CAST(least((tile_y + 1) * {_TILE}, h) AS BIGINT) AS y1,
    CAST(least((tile_x + 1) * {_TILE}, w) - tile_x * {_TILE} AS BIGINT) AS tile_w,
    CAST(least((tile_y + 1) * {_TILE}, h) - tile_y * {_TILE} AS BIGINT) AS tile_h
FROM tiles
"""


@query("multimodal_image_tiles", oracle=_TILES_ORACLE, tags=("multimodal", "lateral"))
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tiling plan: explode each image's (width, height) metadata
    into its 224x224 crop grid with edge-clamped rectangles — the
    preprocessing fan-out in front of every patch-based vision encoder
    (one input row becomes tiles_x * tiles_y crop tasks). Dimensions
    here are deterministic fake metadata (real decoded dimensions come
    from decode_image — see multimodal_bmp_decode); the real pipeline
    decodes + crops inside the SAME mapInPandas stage
    multimodal_binary_meta runs, and this operator is the
    grid-planning step that sizes that stage.

    Scale: pure map-side generate+explode — no shuffle, no state; the
    fan-out is bounded by image dims / tile size, so output rows per
    input row are O(1) for any sane resolution ceiling. All rectangle
    arithmetic is integer, trivially engine-identical.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    img = docs.select(
        "doc_id",
        (256 + (F.col("doc_id") % 7) * 128).alias("w"),
        (256 + (F.col("doc_id") % 5) * 96).alias("h"),
    )
    nx = ((F.col("w") + _TILE - 1) / _TILE).cast("long") - 1
    ny = ((F.col("h") + _TILE - 1) / _TILE).cast("long") - 1
    tiles = img.select(
        "doc_id", "w", "h", F.explode(F.sequence(F.lit(0), nx)).alias("tile_x")
    ).select(
        "doc_id", "w", "h", "tile_x",
        F.explode(F.sequence(F.lit(0), ny)).alias("tile_y"),
    )
    x1 = F.least((F.col("tile_x") + 1) * _TILE, F.col("w"))
    y1 = F.least((F.col("tile_y") + 1) * _TILE, F.col("h"))
    return tiles.select(
        "doc_id",
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        (F.col("tile_x") * _TILE).cast("long").alias("x0"),
        (F.col("tile_y") * _TILE).cast("long").alias("y0"),
        x1.cast("long").alias("x1"),
        y1.cast("long").alias("y1"),
        (x1 - F.col("tile_x") * _TILE).cast("long").alias("tile_w"),
        (y1 - F.col("tile_y") * _TILE).cast("long").alias("tile_h"),
    )


# ---------------------------------------------------------------------------
# content-addressable binary dedup
# ---------------------------------------------------------------------------

_PREVIEW_BYTES = 128

_BYTES_DEDUP_ORACLE = f"""
WITH blobs AS (
    SELECT doc_id, substr(text, 1, {_PREVIEW_BYTES})::BLOB AS payload FROM documents
),
hashed AS (
    SELECT doc_id,
           md5(hex(payload)) AS digest,
           octet_length(payload) AS n_bytes
    FROM blobs
)
SELECT digest,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM hashed
GROUP BY digest, n_bytes
HAVING COUNT(*) >= 2
"""


@query(
    "multimodal_dedup_bytes",
    oracle=_BYTES_DEDUP_ORACLE,
    tags=("multimodal", "dedup", "fingerprint"),
)
def multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable dedup of OPAQUE BINARY payloads: group by
    (md5, byte length), keep the lowest doc_id — exact dedup for the
    image/audio/video columns the reference's binary (key,value) model
    carries, where no text normalization applies and identity IS the
    byte string.

    The (digest, n_bytes) compound key is the object-store dedup
    contract: the length guard makes an md5 collision also require
    equal sizes, and n_bytes is the field a CAS ledger needs anyway.
    The hashed payload is the fixed-length PREVIEW slice (thumbnail /
    first-frame analogue: same leading bytes => same preview object) —
    full-blob identity is byte equality of the whole payload, which the
    fixture's suffix-varied near-dups deliberately break.
    Map-side hashing (one md5 + one length per blob, codegen), one
    shuffle keyed on the 16-byte digest — at 100 TB the shuffle carries
    digests and ids only, never payloads. Parity: both engines hash the
    identical uppercase-hex rendering of the bytes (DuckDB's md5 is
    VARCHAR-only, so the hex transcoding is pinned on both sides).
    """
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.encode(F.substring("text", 1, _PREVIEW_BYTES), "UTF-8").alias("payload"),
    )
    hashed = payloads.select(
        "doc_id",
        F.md5(F.encode(F.hex("payload"), "UTF-8")).alias("digest"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )
    return (
        hashed.groupBy("digest", "n_bytes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ---------------------------------------------------------------------------
# byte-level SimHash near-dup (round 4)
# ---------------------------------------------------------------------------

_BSH_BITS = 32
_BSH_BANDS = 4  # 8 bits per band; hamming <= 3 < bands => recall 1.0
_BSH_MAX_HAMMING = 3


def _bsh_bit_sql(j: int) -> str:
    return (
        f"((strpos('0123456789abcdef', substr(m, {j // 4 + 1}, 1)) - 1) >> {j % 4}) & 1"
    )


def _byte_simhash_oracle() -> str:
    votes = ",\n        ".join(
        f"SUM(CASE WHEN ({_bsh_bit_sql(j)}) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_BSH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_BSH_BITS)
    )
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band,"
        f" (simhash >> {b * (_BSH_BITS // _BSH_BANDS)}) & 255 AS bv FROM sig"
        for b in range(_BSH_BANDS)
    )
    return f"""
WITH blobs AS (
    SELECT doc_id, hex(encode(text)) AS hx FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(hx) - 7 + 1, 2),
                              i -> substr(hx, i, 8))) AS g
    FROM blobs WHERE len(hx) >= 8
),
h AS (SELECT doc_id, md5(g) AS m FROM grams),
v AS (
    SELECT doc_id,
        {votes}
    FROM h GROUP BY doc_id
),
sig AS (SELECT doc_id, {combine} AS simhash FROM v),
bands AS (
{band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.a_id, c.b_id,
    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON c.a_id = sa.doc_id
JOIN sig sb ON c.b_id = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_BSH_MAX_HAMMING}
"""


@query(
    "multimodal_simhash_neardup",
    oracle=_byte_simhash_oracle(),
    tags=("multimodal", "dedup", "fingerprint", "lsh"),
)
def multimodal_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup pairs for opaque binary payloads — the perceptual-hash
    pattern for the multimodal columns, where exact CAS dedup
    (`multimodal_dedup_bytes`) misses re-encoded/trailing-byte
    variants: a 32-bit SimHash over distinct byte 4-grams (hex-aligned
    windows over the blob — format-agnostic, no decode), then
    Hamming-distance banding. Pigeonhole exactness at the radius:
    {_BSH_BANDS} disjoint 8-bit bands and max hamming {_BSH_MAX_HAMMING}
    < {_BSH_BANDS} means every qualifying pair shares >= 1 intact band
    — banding recall is 1.0, not probabilistic, so the oracle is the
    full definition, independently derived.

    Scale: gram explode -> 32 SUM votes is one map-side-combined
    shuffle per doc (same shape as `dedup_simhash`); the band
    self-join keys on (band, 8-bit value) — bucketed candidates, no
    all-pairs; the final verify probes the 16-byte signature relation.
    The fixture payload is the deterministic fake blob (UTF-8 text
    bytes); real image/audio bytes flow through the identical plan.
    """
    docs = load_documents(spark, sf_dir)  # spread: the gram HOFs are compute-bound
    blobs = docs.select(
        "doc_id", F.lower(F.hex(F.encode("text", "UTF-8"))).alias("hx")
    ).filter(F.length("hx") >= 8)
    grams = blobs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, length(hx) - 7, 2), i -> substring(hx, i, 8))")
            )
        ).alias("g"),
    ).withColumn(
        # first 8 md5 hex digits decoded ONCE to a long; each vote bit is
        # then an integer shift-and (32 string instr/substring ops per gram
        # were the aggregation hot spot). Bit j below is the oracle's
        # per-digit little-endian bit: digit j//4 (big-endian string
        # position) >> (j%4) & 1 == x >> (4*(7 - j//4) + j%4) & 1.
        "x",
        F.conv(F.substring(F.md5(F.upper("g")), 1, 8), 16, 10).cast("long"),
    )
    vote_exprs = [
        F.sum(
            F.when(
                F.shiftright(F.col("x"), 4 * (7 - j // 4) + (j % 4)).bitwiseAND(
                    F.lit(1)
                )
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(_BSH_BITS)
    ]
    v = grams.groupBy("doc_id").agg(*vote_exprs)
    combine = None
    for j in range(_BSH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        combine = term if combine is None else combine + term
    # six downstream branches (4 band projections + both verify probes)
    # reuse this narrow (doc_id, long) relation — cache it so the gram
    # explode + 32-vote aggregation runs once, not per branch. The
    # cache is intentionally left persisted (the _doc_shingle_arrays
    # precedent): the query contract returns a LAZY DataFrame, so there
    # is no post-action hook to unpersist from, and Spark's
    # CacheManager dedupes by canonical plan — repeated sweeps/bench
    # reps in one session re-hit the same O(|docs| * 16B) entry rather
    # than accumulating new ones (one entry per sf_dir; evictable, and
    # operators.release_shared_caches(spark) between sweeps frees it).
    sig = v.select("doc_id", combine.cast("long").alias("simhash")).cache()

    # band rows CARRY the full signature, so the Hamming verify runs
    # inside the band join itself — no candidate-pair relation is ever
    # materialized or deduplicated (on near-uniform corpora the band
    # buckets collide heavily: this fixture yields 1.2M candidates for
    # 5k docs, and a distinct over them dominated the query).
    width = _BSH_BITS // _BSH_BANDS
    bands = None
    for b in range(_BSH_BANDS):
        part = sig.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width).bitwiseAND(F.lit(255)).alias("bv"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, bnd = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            bnd,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))) <= _BSH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# real image decode: BMP payloads through the pure-Python codec
# ---------------------------------------------------------------------------

# fixture image dimensions / pixel values are closed-form in doc_id so
# the DuckDB oracle can recompute the DECODED ground truth without a
# codec: pixel (x, y) of doc d = ((d + x + y) % 256,
# (3d + 7x) % 256, (5d + 11y) % 256), width = 4 + d % 5 (covering every
# BMP row-padding case: stride pad 0..3 bytes), height = 3 + d % 4.
_BMP_DECODE_ORACLE = """
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
    SELECT doc_id, w, h,
        flatten(list_transform(range(0, h), y ->
            list_transform(range(0, w), x -> [
                (doc_id + x + y) % 256,
                (3 * doc_id + 7 * x) % 256,
                (5 * doc_id + 11 * y) % 256
            ]))) AS pix
    FROM dims
)
SELECT doc_id,
    CAST(w AS BIGINT) AS width,
    CAST(h AS BIGINT) AS height,
    CAST(w * h AS BIGINT) AS n_pixels,
    CAST(list_sum(list_transform(pix, p -> p[1])) AS BIGINT) AS sum_r,
    CAST(list_sum(list_transform(pix, p -> p[2])) AS BIGINT) AS sum_g,
    CAST(list_sum(list_transform(pix, p -> p[3])) AS BIGINT) AS sum_b,
    CAST(list_sum(list_transform(range(1, w * h + 1),
        i -> i * (pix[i][1] + 2 * pix[i][2] + 3 * pix[i][3]))) AS BIGINT)
        AS checksum
FROM px
"""


def _bmp_fixture_pixels(doc_id: int) -> tuple[int, int, list[tuple[int, int, int]]]:
    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    pixels = [
        ((doc_id + x + y) % 256, (3 * doc_id + 7 * x) % 256, (5 * doc_id + 11 * y) % 256)
        for y in range(h)
        for x in range(w)
    ]
    return w, h, pixels


def _bmp_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id -> serialized BMP payload (the ingest side: what a real
    pipeline reads off object storage)."""
    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"].astype("int64"):
            w, h, pixels = _bmp_fixture_pixels(int(d))
            payloads.append(encode_bmp(w, h, pixels))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _bmp_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """binary payload -> decoded stats, via the REAL decoder. All-int
    outputs (channel sums + position-weighted checksum over the decoded
    top-down pixel order) so the hash check is engine-exact and proves
    bytes, padding, and bottom-up row order round-tripped."""
    rows = []
    for pdf in batches:
        for d, payload in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
            w, h, pixels = decode_image(payload)
            sum_r = sum(p[0] for p in pixels)
            sum_g = sum(p[1] for p in pixels)
            sum_b = sum(p[2] for p in pixels)
            checksum = sum(
                (i + 1) * (r + 2 * g + 3 * b)
                for i, (r, g, b) in enumerate(pixels)
            )
            rows.append((int(d), w, h, w * h, sum_r, sum_g, sum_b, checksum))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "n_pixels",
                "sum_r", "sum_g", "sum_b", "checksum",
            ],
        )
        rows = []


_BMP_DECODE_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


@query(
    "multimodal_bmp_decode",
    oracle=_BMP_DECODE_ORACLE,
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: synthesize one 24-bit BMP per
    document (dimensions/pixels closed-form in doc_id, covering every
    row-padding width mod 4), ship the binary column through Arrow,
    and DECODE it with the pure-Python spec-level BMP codec
    (codecs/bmp.py) — emitting decoded dimensions, exact per-channel
    sums, and a position-weighted checksum that pins the top-down
    pixel order. The DuckDB oracle recomputes the ground truth from
    the closed form, so a hash match proves the codec inverted the
    header/stride/bottom-up encoding bit-exactly. This replaces the
    repo's former decode stub; the PNG and baseline-JPEG codecs ride
    the same two-stage mapInPandas pipeline.

    Scale: two chained map-only Arrow stages — no shuffle, no state;
    the repartition spreads the single-file fixture scan the same way
    every mapInPandas pipeline here does. At 100 TB the encode stage
    is the object-store read and the decode stage is identical.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    encoded = docs.repartition(32, "doc_id").mapInPandas(
        _bmp_encode_batch, "doc_id long, payload binary"
    )
    return encoded.mapInPandas(_bmp_decode_batch, _BMP_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# real image decode #2: PNG payloads through the pure-Python codec (r6)
# ---------------------------------------------------------------------------

# closed-form fixture like the BMP one, with height >= 5 so the
# cycling encoder (filter = y % 5) puts ALL FIVE scanline filter types
# (None/Sub/Up/Average/Paeth) inside the driver-checked result:
# pixel (x, y) of doc d = ((2d + 3x + y) % 256, (d + 5x) % 256,
# (7d + 2y) % 256), width = 3 + d % 6, height = 5 + d % 4.
_PNG_DECODE_ORACLE = """
WITH dims AS (
    SELECT doc_id, 3 + doc_id % 6 AS w, 5 + doc_id % 4 AS h FROM documents
),
px AS (
    SELECT doc_id, w, h,
        flatten(list_transform(range(0, h), y ->
            list_transform(range(0, w), x -> [
                (2 * doc_id + 3 * x + y) % 256,
                (doc_id + 5 * x) % 256,
                (7 * doc_id + 2 * y) % 256
            ]))) AS pix
    FROM dims
)
SELECT doc_id,
    CAST(w AS BIGINT) AS width,
    CAST(h AS BIGINT) AS height,
    CAST(w * h AS BIGINT) AS n_pixels,
    CAST(list_sum(list_transform(pix, p -> p[1])) AS BIGINT) AS sum_r,
    CAST(list_sum(list_transform(pix, p -> p[2])) AS BIGINT) AS sum_g,
    CAST(list_sum(list_transform(pix, p -> p[3])) AS BIGINT) AS sum_b,
    CAST(list_sum(list_transform(range(1, w * h + 1),
        i -> i * (pix[i][1] + 2 * pix[i][2] + 3 * pix[i][3]))) AS BIGINT)
        AS checksum
FROM px
"""


def _png_fixture_pixels(doc_id: int) -> tuple[int, int, list[tuple[int, int, int]]]:
    w, h = 3 + doc_id % 6, 5 + doc_id % 4
    pixels = [
        (
            (2 * doc_id + 3 * x + y) % 256,
            (doc_id + 5 * x) % 256,
            (7 * doc_id + 2 * y) % 256,
        )
        for y in range(h)
        for x in range(w)
    ]
    return w, h, pixels


def _png_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"].astype("int64"):
            w, h, pixels = _png_fixture_pixels(int(d))
            payloads.append(encode_png(w, h, pixels, filter_mode="cycle"))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _png_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    rows = []
    for pdf in batches:
        for d, payload in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
            w, h, pixels = decode_png(bytes(payload))
            sum_r = sum(p[0] for p in pixels)
            sum_g = sum(p[1] for p in pixels)
            sum_b = sum(p[2] for p in pixels)
            checksum = sum(
                (i + 1) * (r + 2 * g + 3 * b)
                for i, (r, g, b) in enumerate(pixels)
            )
            rows.append((int(d), w, h, w * h, sum_r, sum_g, sum_b, checksum))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "n_pixels",
                "sum_r", "sum_g", "sum_b", "checksum",
            ],
        )
        rows = []


@query(
    "multimodal_png_decode",
    oracle=_PNG_DECODE_ORACLE,
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end (r6, the second real image codec):
    synthesize one 8-bit RGB PNG per document with the scanline filter
    CYCLING y % 5 — so None, Sub, Up, Average, and Paeth all appear in
    every image (height >= 5 by construction) — ship the binary column
    through Arrow, and decode with the pure-Python spec-level codec
    (codecs/png.py: chunk/CRC walk, zlib inflate, all five filter
    inversions). Dimensions/pixels are closed-form in doc_id, so the
    DuckDB oracle recomputes the decoded ground truth with no codec:
    the hash match proves chunk framing, compression, and every filter
    predictor inverted bit-exactly.

    Scale: identical two-stage map-only Arrow pipeline as
    multimodal_bmp_decode — no shuffle, no state.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    encoded = docs.repartition(32, "doc_id").mapInPandas(
        _png_encode_batch, "doc_id long, payload binary"
    )
    return encoded.mapInPandas(_png_decode_batch, _BMP_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# real image decode #3: baseline JPEG through the pure-Python codec (r6)
# ---------------------------------------------------------------------------

# JPEG is LOSSY, so an oracle can only recompute decoded output where
# the codec's arithmetic is exact. Piecewise-flat images (constant per
# 8x8 block) are that case: every block is DC-only, the DC coefficient
# quantizes in pure integers (S = floor((2*64*(v-128) + 8*Q0)/(16*Q0)),
# Q0 = 16 — a power of two, so each oracle division is an exact dyadic
# FLOOR), and the DC-only inverse transform is flat (p = clip(
# floor((16*S + 4)/8) + 128)). Dimensions are NOT multiples of 8
# (w = 8..24 minus doc_id % 5, h = 8..16 minus doc_id % 3), so partial
# edge blocks — padded by edge replication at encode, cropped at
# decode — are inside the hash check too; the padding of a flat block
# region is the same flat value, preserving exactness. DuckDB's `//`
# TRUNCATES toward zero, hence FLOOR(x / 2^k) throughout.
_JPEG_DECODE_ORACLE = """
WITH dims AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) - (doc_id % 5) AS w,
           8 * (1 + doc_id % 2) - (doc_id % 3) AS h
    FROM documents
),
px AS (
    SELECT doc_id, w, h,
        flatten(list_transform(range(0, h), y ->
            list_transform(range(0, w), x ->
                LEAST(255, GREATEST(0,
                    CAST(FLOOR((16 * CAST(FLOOR(
                        (2 * (64 * (((17 * doc_id
                            + 29 * CAST(FLOOR(x / 8.0) AS BIGINT)
                            + 43 * CAST(FLOOR(y / 8.0) AS BIGINT)) % 256)
                            - 128)) + 128) / 256.0) AS BIGINT) + 4) / 8.0)
                        AS BIGINT) + 128))
            ))) AS pix
    FROM dims
)
SELECT doc_id,
    CAST(w AS BIGINT) AS width,
    CAST(h AS BIGINT) AS height,
    CAST(w * h AS BIGINT) AS n_pixels,
    CAST(list_sum(pix) AS BIGINT) AS sum_px,
    CAST(list_sum(list_transform(range(1, w * h + 1),
        i -> i * pix[i])) AS BIGINT) AS checksum
FROM px
"""


def _jpeg_fixture_pixels(doc_id: int) -> tuple[int, int, list[int]]:
    w = 8 * (1 + doc_id % 3) - (doc_id % 5)
    h = 8 * (1 + doc_id % 2) - (doc_id % 3)
    pixels = [
        (17 * doc_id + 29 * (x // 8) + 43 * (y // 8)) % 256
        for y in range(h)
        for x in range(w)
    ]
    return w, h, pixels


def _jpeg_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"].astype("int64"):
            w, h, pixels = _jpeg_fixture_pixels(int(d))
            payloads.append(encode_jpeg_gray(w, h, pixels))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _jpeg_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    rows = []
    for pdf in batches:
        for d, payload in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
            w, h, pixels = decode_jpeg_gray(bytes(payload))
            sum_px = sum(pixels)
            checksum = sum((i + 1) * p for i, p in enumerate(pixels))
            rows.append((int(d), w, h, w * h, sum_px, checksum))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_pixels", "sum_px", "checksum"],
        )
        rows = []


_JPEG_DECODE_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long, "
    "sum_px long, checksum long"
)


@query(
    "multimodal_jpeg_decode",
    oracle=_JPEG_DECODE_ORACLE,
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode end-to-end (r6, the third real image codec —
    formerly the one documented swap-in): synthesize one baseline
    sequential grayscale JPEG per document with the pure-Python
    spec-level codec (codecs/jpeg.py: DQT/SOF0/DHT/SOS marker stream,
    canonical Huffman DC-difference + AC run-length entropy coding,
    byte stuffing, quantized 8x8 DCT), ship the binary column through
    Arrow, and DECODE it. Fixture images are piecewise-flat so the
    lossy pipeline is EXACT (DC-only blocks, integer arithmetic end to
    end — see the oracle comment), letting the DuckDB oracle recompute
    decoded pixels in closed form: the hash match proves marker
    parsing, Huffman decode, dequantization, DC reconstruction, and
    edge-block cropping bit-exact. Non-flat content exercises the full
    float DCT paths in tests/test_codecs.py (round-trip error bounds,
    PSNR, handwritten spec vectors with foreign Huffman tables).

    Scale: identical two-stage map-only Arrow pipeline as
    multimodal_bmp_decode — no shuffle, no state.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    encoded = docs.repartition(32, "doc_id").mapInPandas(
        _jpeg_encode_batch, "doc_id long, payload binary"
    )
    return encoded.mapInPandas(_jpeg_decode_batch, _JPEG_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# real audio decode: WAV (RIFF PCM16) payloads through the pure-Python codec
# ---------------------------------------------------------------------------

# closed-form fixture: doc d -> rate 8000*(1 + d%3), channels 1 + d%2,
# frames 16 + d%17, interleaved sample i = ((d*31 + i*17) * 257) % 65536
# - 32768 — so the DuckDB oracle recomputes the DECODED ground truth
# with no codec, and the hash match proves RIFF framing, fmt fields,
# and the s16le sample payload round-tripped bit-exactly.
_WAV_DECODE_ORACLE = """
WITH dims AS (
    SELECT doc_id,
        8000 * (1 + doc_id % 3) AS rate,
        1 + doc_id % 2 AS ch,
        16 + doc_id % 17 AS frames
    FROM documents
),
s AS (
    SELECT doc_id, rate, ch, frames,
        list_transform(range(0, frames * ch),
            i -> ((doc_id * 31 + i * 17) * 257) % 65536 - 32768) AS smp
    FROM dims
)
SELECT doc_id,
    CAST(rate AS BIGINT) AS sample_rate,
    CAST(ch AS BIGINT) AS channels,
    CAST(frames AS BIGINT) AS n_frames,
    CAST(list_sum(smp) AS BIGINT) AS sum_samples,
    CAST(list_sum(list_transform(range(1, frames * ch + 1),
        i -> i * smp[i])) AS BIGINT) AS checksum
FROM s
"""


def _wav_fixture(doc_id: int) -> tuple[int, int, list[int]]:
    rate = 8000 * (1 + doc_id % 3)
    ch = 1 + doc_id % 2
    frames = 16 + doc_id % 17
    samples = [
        ((doc_id * 31 + i * 17) * 257) % 65536 - 32768
        for i in range(frames * ch)
    ]
    return rate, ch, samples


def _wav_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"].astype("int64"):
            rate, ch, samples = _wav_fixture(int(d))
            payloads.append(encode_wav(rate, ch, samples))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _wav_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    rows = []
    for pdf in batches:
        for d, payload in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
            rate, ch, samples = decode_wav(bytes(payload))
            checksum = sum((i + 1) * s for i, s in enumerate(samples))
            rows.append(
                (int(d), rate, ch, len(samples) // ch, sum(samples), checksum)
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "sample_rate", "channels",
                "n_frames", "sum_samples", "checksum",
            ],
        )
        rows = []


@query(
    "multimodal_wav_decode",
    oracle=_WAV_DECODE_ORACLE,
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (r6, completing the image/audio
    codec set with BMP and PNG): synthesize one RIFF PCM16 WAV per
    document (rate/channels/frames/samples closed-form in doc_id,
    covering mono and stereo interleaving and three sample rates),
    ship the binary column through Arrow, and decode with the
    pure-Python spec-level codec (codecs/wav.py: RIFF chunk walk with
    word-alignment padding, fmt consistency equations, s16le payload).
    The DuckDB oracle recomputes the decoded ground truth from the
    closed form — the hash match proves container framing and sample
    encoding inverted bit-exactly. Compressed audio (MP3/AAC/FLAC)
    stays a documented swap-in: entropy/transform decode needs a real
    library, and none ships in this container.

    Scale: identical two-stage map-only Arrow pipeline as the BMP/PNG
    decodes — no shuffle, no state.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    encoded = docs.repartition(32, "doc_id").mapInPandas(
        _wav_encode_batch, "doc_id long, payload binary"
    )
    return encoded.mapInPandas(
        _wav_decode_batch,
        "doc_id long, sample_rate long, channels long, "
        "n_frames long, sum_samples long, checksum long",
    )
