"""Multimodal column plumbing — image/audio/video as opaque binary
columns with typed metadata.

The decode/feature-extract step is a Pandas-UDF pipeline over
`mapInPandas`: the Spark-side plumbing (schema, batch iteration,
partition-parallel decode) is real and tested; the actual codec call
is stubbed (`NotImplementedError`) because media libraries aren't in
this container, with a deterministic fake-decode path for tests.

This is the S5/S6 pattern from the reference (HTML/PDF parsing via
external libs inside a pandas_udf — SURVEY.md §2.11) generalized to
media: the only Python-touching operator family in the engine, and it
is Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.core import round_stable_sql
from ..sources.catalog import load
from .registry import register

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("byte_len", LongType(), False),
        StructField("checksum_prefix", StringType(), True),
        StructField("width", IntegerType(), True),  # real decode only
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
    ]
)


def real_decode(content: bytes, kind: str) -> dict:
    """Placeholder for the actual codec call (PIL / librosa / pyav).

    STUB: media codecs are not available in this environment.  The
    surrounding Spark plumbing (Arrow batches, schema, partition
    parallelism) is the deliverable; swap this function for the real
    decoder in production."""
    raise NotImplementedError(
        "media codecs not available in this environment; use fake_decode for tests"
    )


def fake_decode(content: bytes, kind: str) -> dict:
    """Deterministic fake decode used by tests: derives pseudo
    width/height/frames from the byte length so pipelines downstream
    of decode are exercised end-to-end."""
    n = len(content or b"")
    return {
        "width": (n % 640) + 1 if kind == "image" else None,
        "height": (n % 480) + 1 if kind == "image" else None,
        "n_frames": (n % 24) + 1 if kind == "video" else None,
    }


def extract_media_features(assets: DataFrame, use_fake_decoder: bool = True) -> DataFrame:
    """mapInPandas feature extraction over media assets (asset_id,
    kind = image | audio | video | text, content = opaque bytes).

    Arrow-batched: each partition streams pandas batches through the
    decoder — the 100 TB pattern for binary columns (decode cost
    scales out with partitions, bytes never hit the driver)."""
    import hashlib

    decoder = fake_decode if use_fake_decoder else real_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Column-bulk everywhere except the codec call itself: decode
        # is per-blob by nature (PIL/pyav take one buffer at a time),
        # but iterrows + per-row dicts around it cost 10-20× the
        # decode bookkeeping — zip over raw columns and build the
        # batch as columns, not rows.
        for pdf in it:
            contents = [c or b"" for c in pdf["content"]]
            kinds = pdf["kind"]
            decoded = [decoder(c, k) for c, k in zip(contents, kinds)]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].to_numpy(),
                    "kind": kinds.to_numpy(),
                    "byte_len": [len(c) for c in contents],
                    "checksum_prefix": [
                        hashlib.md5(c).hexdigest()[:12] for c in contents
                    ],
                    "width": [d.get("width") for d in decoded],
                    "height": [d.get("height") for d in decoded],
                    "n_frames": [d.get("n_frames") for d in decoded],
                }
            )

    return assets.mapInPandas(batches, schema=FEATURE_SCHEMA)


def documents_as_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: treat document text bytes as opaque media assets
    (kind cycles image/audio/video/text deterministically)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    kind = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("image"))
        .when(F.col("doc_id") % 4 == 1, F.lit("audio"))
        .when(F.col("doc_id") % 4 == 2, F.lit("video"))
        .otherwise(F.lit("text"))
    )
    return d.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )


@register(
    "multimodal_meta",
    survey="multimodal (extension)",
    oracle="""
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 4 = 0 THEN 'image'
            WHEN doc_id % 4 = 1 THEN 'audio'
            WHEN doc_id % 4 = 2 THEN 'video'
            ELSE 'text' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       substr(md5(text), 1, 12) AS checksum_prefix
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over binary media columns — byte length +
    checksum prefix, computed natively (no decode needed).  The
    decode-requiring features go through extract_media_features."""
    assets = documents_as_assets(spark, sf_dir)
    return assets.select(
        "asset_id",
        "kind",
        F.octet_length("content").cast("bigint").alias("byte_len"),
        F.substring(F.md5(F.col("content").cast("string")), 1, 12).alias("checksum_prefix"),
    )


@register(
    "multimodal_decode_pipeline",
    survey="multimodal (extension)",
    oracle="""
WITH a AS (
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 4 = 0 THEN 'image'
                WHEN doc_id % 4 = 1 THEN 'audio'
                WHEN doc_id % 4 = 2 THEN 'video'
                ELSE 'text' END AS kind,
           octet_length(encode(text)) AS byte_len
    FROM documents
),
decoded AS (
    SELECT kind, byte_len,
           CASE WHEN kind = 'image' THEN (byte_len % 640) + 1 END AS width,
           CASE WHEN kind = 'video' THEN (byte_len % 24) + 1 END AS n_frames
    FROM a
)
SELECT kind,
       CAST(count(*) AS BIGINT) AS n_assets,
       floor(avg(byte_len) * 1e4 + 0.5) / 1e4 AS avg_byte_len,
       floor(avg(width) * 1e4 + 0.5) / 1e4 AS avg_width,
       floor(avg(n_frames) * 1e4 + 0.5) / 1e4 AS avg_frames
FROM decoded
GROUP BY kind
""",
)
def multimodal_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end binary→decode→feature rollup via mapInPandas (fake
    decoder): per kind, count + avg byte_len + avg pseudo-width.

    The fake decoder is a pure function of the byte length, so the
    oracle replays decode + rollup relationally and the whole Arrow-
    batched mapInPandas path is value-hash-checked (a PIL/pyav kernel
    swaps in without touching the plumbing under test).  Averages are
    exact integer sums / count (order-independent) with floor-stable
    rounding on both sides."""
    feats = extract_media_features(documents_as_assets(spark, sf_dir))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.expr(round_stable_sql("avg(byte_len)", 4)).alias("avg_byte_len"),
        F.expr(round_stable_sql("avg(width)", 4)).alias("avg_width"),
        F.expr(round_stable_sql("avg(n_frames)", 4)).alias("avg_frames"),
    )


# --- resize + frame-sample (transform ops over binary columns) -------------

RESIZED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("content", BinaryType(), True),  # resized bytes
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def fake_resize(content: bytes, kind: str, max_side: int) -> tuple[bytes, int, int]:
    """Deterministic fake resize: pseudo-dims from fake_decode scaled
    to fit max_side; 'pixels' are a byte-slice proportional to the
    area ratio — keeps downstream size/metadata math honest."""
    d = fake_decode(content, kind)
    w, h = d["width"], d["height"]
    if w is None:
        return content, None, None
    scale = min(1.0, max_side / max(w, h))
    nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
    keep = max(1, int(len(content) * (nw * nh) / (w * h))) if content else 0
    return content[:keep], nw, nh


def resize_images(
    assets: DataFrame, max_side: int = 256, use_fake_decoder: bool = True
) -> DataFrame:
    """Image resize as a mapInPandas transform: binary in → binary out
    with updated dimensions.  Non-image kinds pass through untouched.
    STUB NOTE: the pixel transform is `fake_resize` (no PIL in this
    container); the operator contract — Arrow batch shape, schema,
    partition-parallel binary-to-binary transform — is the real
    deliverable and is what a PIL-backed kernel drops into."""
    if not use_fake_decoder:
        real_decode(b"", "image")  # raises NotImplementedError

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-item work only where the kernel is inherently per-blob
        # (the resize); pass-through rows are bulk column copies.
        for pdf in it:
            resized = [
                fake_resize(c or b"", k, max_side) if k == "image" else (c or b"", None, None)
                for c, k in zip(pdf["content"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "content": [r[0] for r in resized],
                    "width": pd.array([r[1] for r in resized], dtype="Int32"),
                    "height": pd.array([r[2] for r in resized], dtype="Int32"),
                }
            )

    return assets.mapInPandas(batches, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_index", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def sample_frames(
    assets: DataFrame, every_nth: int = 4, use_fake_decoder: bool = True
) -> DataFrame:
    """Video frame sampling as a one-to-many mapInPandas transform
    (the UDTF shape): each video asset emits every Nth pseudo-frame.
    Fake kernel: frame i is the i-th chunk of the byte stream; a
    pyav-backed kernel has the identical signature and schema."""
    if not use_fake_decoder:
        real_decode(b"", "video")  # raises NotImplementedError

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["kind"] == "video"]  # bulk filter, no iterrows
            out = {"asset_id": [], "frame_index": [], "frame": []}
            for asset_id, content in zip(vids["asset_id"], vids["content"]):
                content = content or b""
                n_frames = fake_decode(content, "video")["n_frames"]
                chunk = max(1, len(content) // max(1, n_frames))
                idxs = range(0, n_frames, every_nth)
                out["asset_id"].extend([asset_id] * len(idxs))
                out["frame_index"].extend(idxs)
                out["frame"].extend(
                    content[i * chunk : (i + 1) * chunk] for i in idxs
                )
            yield pd.DataFrame(out)

    return assets.mapInPandas(batches, schema=FRAME_SCHEMA)


@register(
    "multimodal_resize_rollup",
    survey="multimodal resize/frame-sample (extension)",
    oracle="""
WITH a AS (
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 4 = 0 THEN 'image'
                WHEN doc_id % 4 = 1 THEN 'audio'
                WHEN doc_id % 4 = 2 THEN 'video'
                ELSE 'text' END AS kind,
           octet_length(encode(text)) AS n
    FROM documents
),
img AS (
    SELECT asset_id, n, (n % 640) + 1 AS w, (n % 480) + 1 AS h
    FROM a WHERE kind = 'image'
),
img2 AS (
    SELECT asset_id, n, w, h,
           CASE WHEN greatest(w, h) <= 256 THEN w
                ELSE greatest(1, CAST(trunc(w * (256.0 / greatest(w, h))) AS INT))
           END AS nw,
           CASE WHEN greatest(w, h) <= 256 THEN h
                ELSE greatest(1, CAST(trunc(h * (256.0 / greatest(w, h))) AS INT))
           END AS nh
    FROM img
),
img3 AS (
    SELECT asset_id, nw,
           CASE WHEN n = 0 THEN 0
                ELSE greatest(1, CAST(trunc(CAST(n * nw * nh AS DOUBLE) / (w * h)) AS BIGINT))
           END AS bytes_out
    FROM img2
),
rollup AS (
    SELECT 'image' AS kind,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(bytes_out) AS BIGINT) AS total_bytes,
           floor(avg(nw) * 100.0 + 0.5) / 100.0 AS avg_width
    FROM img3
    UNION ALL
    SELECT kind, CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM a WHERE kind <> 'image' GROUP BY kind
),
vids AS (
    SELECT ((n % 24) + 1 + 3) // 4 AS nf FROM a WHERE kind = 'video'
)
SELECT kind, n_assets, total_bytes, avg_width FROM rollup
UNION ALL
SELECT 'video_frames', CAST(sum(nf) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM vids
""",
)
def multimodal_resize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + frame-sample rollup: per kind, resized byte volume and
    sampled frame counts — exercises both binary transforms
    end-to-end on the synthetic asset table.

    The fake resize/frame kernels are pure integer/IEEE functions of
    the byte length, so the oracle replays both mapInPandas transforms
    relationally (scale = min(1, 256/max(w,h)) with Python-int
    truncation ≙ trunc(); frames per video = ceil(n_frames/4)) and the
    binary one-to-one AND one-to-many transform plumbing is
    value-hash-checked end to end."""
    assets = documents_as_assets(spark, sf_dir)
    resized = resize_images(assets)
    frames = sample_frames(assets)
    r = resized.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.octet_length("content")).cast("bigint").alias("total_bytes"),
        F.expr(round_stable_sql("avg(width)", 2)).alias("avg_width"),
    )
    f = frames.agg(
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.countDistinct("asset_id").alias("n_videos"),
    ).select(F.lit("video_frames").alias("kind"),
             F.col("n_frames_sampled").alias("n_assets"),
             F.col("n_videos").alias("total_bytes"),
             F.lit(None).cast("double").alias("avg_width"))
    return r.unionByName(f)
