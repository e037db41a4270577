"""Multimodal column plumbing (SURVEY.md §2.12 — training-data mandate).

Image/audio/video payloads at 100 TB are opaque ``binary`` columns with
typed metadata; decode / feature-extract / frame-sample run as Arrow-batched
pandas transforms over ``mapInPandas``. The image/audio codec libraries are
NOT in this container, so the decode kernel is a clearly-marked
**deterministic stub** (md5-derived pseudo-dimensions); everything around
it — schema, binary handling, batch shape, partitioning — is the real
production plumbing and is oracle-checked end to end.

Swap ``_decode_stub`` for a real decoder (PIL / torchaudio / pyav) by
replacing ONE function; the Spark plan does not change.

Scale notes:
- Binary payloads never pass through Python row-at-a-time: ``mapInPandas``
  moves Arrow record batches; batch size is controlled by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to bound executor memory
  against large blobs (the knob that matters when cells are megabytes).
- Metadata-only queries (mime, size) never touch the payload column —
  column pruning drops it at the parquet scan.
- Frame sampling multiplies rows; it's an ``explode`` AFTER the cheap
  metadata pass so only sampled offsets carry payload slices.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from european_public_data_pipeline_spark.plans.registry import register
from european_public_data_pipeline_spark.tables import load_table

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("checksum", T.StringType(), True),
    ]
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Opaque binary payload + typed metadata.

    Stand-in payload = UTF-8 bytes of the text column (real pipelines land
    actual media bytes here); the schema — ``binary`` payload next to a
    metadata struct — is the production layout.
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int, str]:
    """STUB decoder (no codec libs in this container).

    Deterministic pseudo-decode: dimensions derived from the payload md5.
    A real implementation returns ``PIL.Image.open(io.BytesIO(b)).size``;
    only this function changes.
    """
    digest = hashlib.md5(payload).hexdigest()
    width = 64 + int(digest[0:2], 16) % 64
    height = 64 + int(digest[2:4], 16) % 64
    return width, height, digest


def decode_image_metadata(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched decode over mapInPandas: the hot path for media
    feature extraction. Batches arrive as pandas DataFrames (zero-copy
    Arrow for the binary column), the kernel runs per batch, output schema
    is declared up front."""

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            decoded = [_decode_stub(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in pdf["media_meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["media_meta"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "checksum": [d[2] for d in decoded],
                }
            )

    return with_payload.mapInPandas(decode_batches, schema=DECODE_SCHEMA)


def sample_frames(decoded: DataFrame, stride_bytes: int = 64) -> DataFrame:
    """Frame/offset sampling: one row per sampled offset (video-style).
    Explodes AFTER the metadata pass so row multiplication never carries
    the payload."""
    offsets = F.sequence(
        F.lit(0).cast("long"),
        F.col("n_bytes") - 1,
        F.lit(stride_bytes).cast("long"),
    )
    return decoded.select(
        "doc_id",
        "n_bytes",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


@register(
    "m01_media_metadata",
    category="multimodal",
    doc="Binary payload + Arrow-batched pseudo-decode over mapInPandas: "
    "doc_id, mime, size, md5-derived stub dimensions. The oracle recomputes "
    "the identical metadata in SQL — proving the mapInPandas plumbing "
    "(schema, batching, binary transport) end to end.",
    oracle="""
SELECT doc_id,
       'image/png' AS mime,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       CAST(64 + CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) % 64 AS BIGINT) AS width,
       CAST(64 + CAST('0x' || substr(md5(text), 3, 2) AS BIGINT) % 64 AS BIGINT) AS height,
       md5(text) AS checksum
FROM documents
ORDER BY doc_id
""",
)
def m01_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decode_image_metadata(attach_binary_payload(docs)).orderBy("doc_id")


@register(
    "m02_frame_sampling",
    category="multimodal",
    doc="Offset/frame sampling plumbing: sequence + posexplode per media "
    "row (stride 64 bytes), metadata-only — the payload never multiplies.",
    oracle="""
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(k * 64 AS BIGINT) AS byte_offset
FROM documents,
     UNNEST(generate_series(0, (octet_length(CAST(text AS BLOB)) - 1) // 64)) AS t(k)
WHERE doc_id < 50
ORDER BY doc_id, frame_idx
""",
)
def m02_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    decoded = decode_image_metadata(attach_binary_payload(docs))
    return sample_frames(decoded).orderBy("doc_id", "frame_idx")


FEAT_DIM = 8


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched pseudo feature extraction: payload -> fixed-size
    float vector (md5-chunk derived — a real model embedding plugs in by
    replacing the kernel body; schema and batch shape are production)."""

    def feat_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def feat(b: bytes) -> list[float]:
            digest = hashlib.md5(b).hexdigest()
            return [
                int(digest[4 * i : 4 * i + 4], 16) / 65535.0
                for i in range(FEAT_DIM)
            ]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "feature": [feat(bytes(b)) for b in pdf["payload"]],
                }
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        feat_batches, schema="doc_id long, feature array<double>"
    )


THUMB_MAX = 64


def thumbnail_dims(decoded: DataFrame) -> DataFrame:
    """Aspect-fit resize planning: the dimension math every thumbnail
    pipeline runs before the pixel kernel (which would slot into the same
    mapInPandas pass as the decode)."""
    scale = THUMB_MAX / F.greatest(F.col("width"), F.col("height")).cast("double")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        scale.alias("scale"),
        F.greatest(F.lit(1), F.floor(F.col("width") * scale)).cast("long").alias("thumb_w"),
        F.greatest(F.lit(1), F.floor(F.col("height") * scale)).cast("long").alias("thumb_h"),
    )


@register(
    "m03_feature_extraction",
    category="multimodal",
    doc="Payload -> fixed-size float feature vector over Arrow-batched "
    "mapInPandas (md5-chunk stub standing in for a model embedding; the "
    "kernel body is the only thing a real model changes). The vector is "
    "posexploded to (doc_id, dim_idx, value) rows for the comparator — "
    "array columns are unhashable in a pandas canonicalizer — so EVERY "
    "element is value-checked; floats are single divisions of exact "
    "integers, bit-exact on both engines.",
    oracle=f"""
SELECT doc_id,
       i AS dim_idx,
       CAST('0x' || substr(md5(text), 1 + i * 4, 4) AS BIGINT) / 65535.0 AS value
FROM documents, range(0, {FEAT_DIM}) t(i)
ORDER BY doc_id, dim_idx
""",
)
def m03_feature_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_binary_payload(docs))
    return feats.select(
        "doc_id", F.posexplode("feature").alias("dim_idx", "value")
    ).withColumn("dim_idx", F.col("dim_idx").cast("long")).orderBy("doc_id", "dim_idx")


@register(
    "m04_thumbnail_resize",
    category="multimodal",
    doc="Aspect-fit thumbnail planning on decoded media metadata: "
    "scale = 64/max(w,h), floor-scaled target dims clamped to >= 1 — the "
    "resize math that precedes any pixel kernel, computed on the "
    "metadata-only projection (payload column pruned at the scan).",
    oracle=f"""
WITH meta AS (
  SELECT doc_id,
         CAST(64 + CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) % 64 AS BIGINT) AS width,
         CAST(64 + CAST('0x' || substr(md5(text), 3, 2) AS BIGINT) % 64 AS BIGINT) AS height
  FROM documents
)
SELECT doc_id, width, height,
       {THUMB_MAX} / CAST(greatest(width, height) AS DOUBLE) AS scale,
       greatest(1, CAST(floor(width * ({THUMB_MAX} / CAST(greatest(width, height) AS DOUBLE))) AS BIGINT)) AS thumb_w,
       greatest(1, CAST(floor(height * ({THUMB_MAX} / CAST(greatest(width, height) AS DOUBLE))) AS BIGINT)) AS thumb_h
FROM meta
ORDER BY doc_id
""",
)
def m04_thumbnail_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_image_metadata(attach_binary_payload(docs))
    return thumbnail_dims(decoded).orderBy("doc_id")


WIN_BYTES = 256
HOP_BYTES = 128


@register(
    "m05_payload_windows",
    category="multimodal",
    doc="Audio-style fixed-size window segmentation over the binary "
    "payload (256-byte windows, 128-byte hop, ragged tail kept): one row "
    "per window with byte offsets and a slice checksum — the "
    "segment-then-embed layout every audio/video ingest runs before the "
    "model stage. The window index explodes from a metadata-only "
    "sequence; the payload slice itself is computed by Spark's BINARY "
    "substring inside codegen (no Python crossing at all — the decode "
    "stub isn't needed for segmentation). The oracle recomputes windows "
    "by VARCHAR slicing, byte-identical because the corpus is ASCII "
    "(same assumption m01's BLOB oracle already pins).",
    oracle=f"""
SELECT doc_id,
       CAST(k AS BIGINT) AS window_idx,
       CAST(k * {HOP_BYTES} AS BIGINT) AS start_byte,
       CAST(least({WIN_BYTES}, octet_length(CAST(text AS BLOB)) - k * {HOP_BYTES}) AS BIGINT)
         AS win_bytes,
       md5(substring(text, k * {HOP_BYTES} + 1, {WIN_BYTES})) AS window_md5
FROM documents,
     UNNEST(generate_series(0, (octet_length(CAST(text AS BLOB)) - 1) // {HOP_BYTES})) AS t(k)
WHERE doc_id < 100
ORDER BY doc_id, window_idx
""",
)
def m05_payload_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payload = attach_binary_payload(docs).select(
        "doc_id", "payload", F.col("media_meta.n_bytes").alias("n_bytes")
    )
    ks = F.sequence(
        F.lit(0).cast("long"),
        F.floor((F.col("n_bytes") - 1) / HOP_BYTES).cast("long"),
        F.lit(1).cast("long"),
    )
    win = payload.select(
        "doc_id",
        "n_bytes",
        "payload",
        F.explode(ks).alias("window_idx"),
    )
    start = F.col("window_idx") * HOP_BYTES
    return (
        win.select(
            "doc_id",
            "window_idx",
            start.alias("start_byte"),
            F.least(F.lit(WIN_BYTES), F.col("n_bytes") - start)
            .cast("long")
            .alias("win_bytes"),
            F.md5(
                F.expr(f"substring(payload, window_idx * {HOP_BYTES} + 1, {WIN_BYTES})")
            ).alias("window_md5"),
        )
        .orderBy("doc_id", "window_idx")
    )


CDC_BYTE_DIV = 64  # expected ~64-byte chunks


@register(
    "m06_payload_cdc_dedup",
    category="multimodal",
    doc="Storage-level dedup of media payloads via BYTE-granular "
    "content-defined chunking — d21's CDC principle applied to the "
    "binary object itself (the dedup a blob store runs: re-encoded or "
    "re-wrapped media shares most byte chunks even when object hashes "
    "differ). Boundaries cut where a 4-byte polynomial of raw byte "
    "values ≡ 0 (mod 64) — integer arithmetic on byte values, no "
    "per-position digest; chunk md5s come from one HOF transform over "
    "the cut list; cross-object chunk-hash aggregate + probe join "
    "score each object's duplicated-byte-chunk ratio. Same demo grain "
    "as m05 (doc_id < 100) and the same ASCII-payload oracle "
    "assumption; at 100 TB the boundary scan is the one byte-linear "
    "row-local pass (production uses a gear-table UDF for it), and "
    "everything after is chunk-relation-sized.",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n
  FROM documents WHERE doc_id < 100
),
cuts AS (
  SELECT doc_id, text, n,
         list_filter(
           CASE WHEN n >= 5 THEN generate_series(2, n - 3) ELSE [] END,
           i -> ((((ascii(substring(text, CAST(i AS INTEGER), 1)) * 31
                   + ascii(substring(text, CAST(i AS INTEGER) + 1, 1))) * 31
                   + ascii(substring(text, CAST(i AS INTEGER) + 2, 1))) * 31
                   + ascii(substring(text, CAST(i AS INTEGER) + 3, 1))) % {CDC_BYTE_DIV}) = 0
         ) AS cs
  FROM base
),
starts AS (
  SELECT doc_id, text, n, list_concat([CAST(1 AS BIGINT)], cs) AS ss FROM cuts
),
chunks AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(ss)),
            j -> md5(substring(text, CAST(ss[j] AS INTEGER),
                               CAST(coalesce(ss[j+1] - 1, n) - ss[j] + 1 AS INTEGER)))) AS chs
  FROM starts
),
ex AS (SELECT doc_id, unnest(chs) AS chunk_hash FROM chunks),
stats AS (
  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS docs_with FROM ex GROUP BY chunk_hash
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN s.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN s.docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM ex e JOIN stats s ON s.chunk_hash = e.chunk_hash
GROUP BY e.doc_id
ORDER BY e.doc_id
""",
)
def m06_payload_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    base = docs.select(
        "doc_id", "text", F.octet_length("text").cast("bigint").alias("n")
    )

    def byte(i):
        return F.ascii(F.col("text").substr(i.cast("int"), F.lit(1)))

    def wh(i):
        return (
            (byte(i) * 31 + byte(i + 1)) * 31 + byte(i + 2)
        ) * 31 + byte(i + 3)

    idx = F.when(
        F.col("n") >= 5, F.sequence(F.lit(2).cast("bigint"), F.col("n") - 3)
    ).otherwise(F.array().cast("array<bigint>"))
    withcuts = base.withColumn(
        "ss",
        F.concat(
            F.array(F.lit(1).cast("bigint")),
            F.filter(idx, lambda i: wh(i) % CDC_BYTE_DIV == 0),
        ),
    )
    start = lambda j: F.element_at(F.col("ss"), j.cast("int"))  # noqa: E731
    end = lambda j: F.coalesce(  # noqa: E731
        F.get(F.col("ss"), j.cast("int")) - 1, F.col("n")
    )
    chs = F.transform(
        F.sequence(F.lit(1), F.size("ss")),
        lambda j: F.md5(
            F.col("text").substr(
                start(j).cast("int"), (end(j) - start(j) + 1).cast("int")
            )
        ),
    )
    ex = withcuts.select("doc_id", F.explode(chs).alias("chunk_hash")).cache()
    stats = ex.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("docs_with")
    )
    dup = F.sum(F.when(F.col("docs_with") > 1, 1).otherwise(0))
    return (
        ex.join(stats, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# Byte-level SimHash of media payloads: d05's 28-bit signature
# (``dedup.simhash_pairs``) over the multiset of byte 4-grams. 4 bands of
# 7 bits: hamming <= 3 flips at most 3 bands, so at least one band
# matches exactly — banding recall is 1.0 by construction for the <= 3
# verification threshold.
PAYLOAD_SIMHASH_MAX_HAMMING = 3
PAYLOAD_SIMHASH_DOCS = 300  # demo grain (same ASCII-payload oracle assumption as m05/m06)


def _m07_oracle() -> str:
    from european_public_data_pipeline_spark.operators.dedup import SIMHASH_BITS

    sums = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n
  FROM documents WHERE doc_id < {PAYLOAD_SIMHASH_DOCS}
),
g AS (
  SELECT doc_id, text,
         unnest(CASE WHEN n >= 4 THEN generate_series(1, n - 3) ELSE [] END) AS i
  FROM base
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(substring(text, CAST(i AS INTEGER), 4)), 1, 7)
              AS BIGINT) AS hv
  FROM g
),
bitsums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, {combine} AS simhash FROM bitsums)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {PAYLOAD_SIMHASH_MAX_HAMMING}
ORDER BY d1, d2
"""


@register(
    "m07_payload_simhash_pairs",
    category="multimodal",
    doc="Fuzzy near-duplicate detection of media payloads via byte-level "
    "SimHash — the approximate twin of m06's exact CDC chunk dedup: a "
    "28-bit frequency-weighted signature over the multiset of byte "
    "4-grams (one aggregation per object), candidates via pigeonhole "
    "banding (4 bands of 7 bits — hamming <= 3 guarantees at least one "
    "exact band match, recall 1.0 by construction), exact Hamming "
    "verification on candidates only. This is the blob-store signature "
    "that survives small binary edits (metadata rewrites, container "
    "re-wraps) where whole-object hashes and even chunk boundaries "
    "move. Same demo grain + ASCII-payload oracle assumption as "
    "m05/m06; at 100 TB the signature pass is byte-linear row-local "
    "(Arrow-batched over binary, never per-row Python), signatures are "
    "one BIGINT per object, and the quadratic is band-bucket-local — "
    "the d05 topology (locality rule) applied to binary media. "
    "Integer-only output: bit-exact parity.",
    oracle=_m07_oracle,  # lazy: keeps module import light
)
def m07_payload_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PAYLOAD_SIMHASH_DOCS
    )
    base = docs.select(
        "doc_id", "text", F.octet_length("text").cast("bigint").alias("n")
    )
    # Spark sequence(a, b) counts DOWN when b < a — guard short payloads.
    idx = F.when(
        F.col("n") >= 4, F.sequence(F.lit(1), (F.col("n") - 3).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    # Canonical portable 28-bit hash and d05's SimHash kernel — imported
    # lazily (dedup imports the plans package, so a module-top import
    # would re-enter plans/__init__ when multimodal loads first).
    from european_public_data_pipeline_spark.operators.dedup import (
        base_hash28,
        simhash_pairs,
    )

    grams = base.select(
        "doc_id",
        F.explode(idx).alias("i"),
        "text",
    ).select(
        "doc_id",
        base_hash28(F.expr("substring(text, i, 4)")).alias("hv"),
    )
    return simhash_pairs(grams, PAYLOAD_SIMHASH_MAX_HAMMING).orderBy("d1", "d2")
