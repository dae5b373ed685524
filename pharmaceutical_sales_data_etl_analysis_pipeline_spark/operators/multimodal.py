"""Multimodal columns (north-star extension): image/audio/video payloads as
opaque `binary` columns with typed metadata, processed via Arrow-batched
mapInPandas.

The container has no image/audio codecs, so the decode step is a
deterministic fake behind the real Spark plumbing (schema, partitioning,
Arrow batch shape are all genuine — swap `_fake_decode_meta` for a PIL/ffmpeg
call and nothing else changes). The envelope ops (size/hash/prefix) and the
mapInPandas feature extraction are both oracle-checked value-for-value —
the fake decoder is byte arithmetic, which DuckDB can replay over
hex(encode(text)).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from .pyworker import ready


def with_binary_payload(documents: DataFrame) -> DataFrame:
    """Manufacture a deterministic binary column from text (stand-in for an
    image/audio payload) plus typed metadata."""
    return documents.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


# --- SQL-expressible envelope ops (oracle-checked) -------------------------

def q_binary_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return b.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
        F.hex(F.substring(F.col("payload"), 1, 8)).alias("head_hex"),
    )


SQL_BINARY_ENVELOPE = """
SELECT doc_id,
       'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       upper(hex(encode(substr(text, 1, 8)))) AS head_hex
FROM documents
"""


# --- decode / feature extraction via mapInPandas ---------------------------
# The fake decoder is pure byte arithmetic, so it has an exact DuckDB twin
# (bytes via substr over hex(blob)); the Python path is value-checked, not
# just rows-only.

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature_norm", T.DoubleType()),
    ]
)


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction: one pandas batch in, one out —
    never per-row Python. Partitioning, schema, and batch shape are the real
    production plumbing; only the decoder body is a stand-in.

    Everything the worker runs is defined inside this closure so cloudpickle
    serializes it by value — workers must not need this package importable
    (the driver process may have it on sys.path only)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        def fake_decode_meta(payload: bytes) -> tuple[int, int, int, float]:
            # Deterministic stand-in for a real decoder (PIL/ffmpeg). A real
            # impl would PIL.Image.open(io.BytesIO(payload)) and raise
            # NotImplementedError on unsupported codecs; fake dims derive
            # from payload bytes so tests are reproducible.
            n = len(payload)
            width = 16 + (payload[0] if n else 0) % 64
            height = 16 + (payload[-1] if n else 0) % 64
            n_frames = 1 + n % 8
            feature_norm = float(sum(payload[:64])) / 255.0
            return width, height, n_frames, feature_norm

        for pdf in batches:
            feats = pdf["payload"].map(fake_decode_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "width": feats.map(lambda f: f[0]).astype("int32"),
                    "height": feats.map(lambda f: f[1]).astype("int32"),
                    "n_frames": feats.map(lambda f: f[2]).astype("int32"),
                    "feature_norm": feats.map(lambda f: f[3]).astype("float64"),
                }
            )

    return binary_df.mapInPandas(run, FEATURE_SCHEMA)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(with_binary_payload(load_table(spark, sf_dir, "documents")))


# Exact twin of _fake_decode_meta: byte i of the payload is hex-pair i of
# hex(encode(text)); sum(payload[:64])/255.0 is an integer sum divided by a
# double — IEEE-identical to Python's float(sum(...))/255.0.
SQL_MULTIMODAL_FEATURES = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(16 + (CASE WHEN n > 0 THEN ('0x' || substr(h, 1, 2))::INT ELSE 0 END) % 64 AS INT) AS width,
       CAST(16 + (CASE WHEN n > 0 THEN ('0x' || substr(h, 2 * n - 1, 2))::INT ELSE 0 END) % 64 AS INT) AS height,
       CAST(1 + n % 8 AS INT) AS n_frames,
       CAST(coalesce(list_sum(list_transform(range(1, least(n, 64) + 1),
              i -> ('0x' || substr(h, 2 * i - 1, 2))::INT)), 0) AS DOUBLE) / 255.0 AS feature_norm
FROM b
"""


# ---------------------------------------------------------------------------
# Frame sampling: the 1 -> N flat-map batch shape (video -> frames). Each
# payload yields n_frames rows with a per-frame content hash. The frame
# count/hash derivation is deterministic md5 arithmetic so the whole
# Python path is oracle-checked value-for-value (a real decoder would swap
# the body; the Spark plumbing — schema, batch fan-out — is the product).
# ---------------------------------------------------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """mapInPandas flat-map: one input row -> n_frames output rows,
    n_frames = 1 + n_bytes % 4. Self-contained closure (worker pickling)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        import hashlib

        for pdf in batches:
            out_doc, out_idx, out_hash = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload_md5 = hashlib.md5(bytes(payload)).hexdigest()
                n_frames = 1 + len(payload) % 4
                for i in range(n_frames):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_hash.append(
                        hashlib.md5(f"{payload_md5}_{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "frame_hash": out_hash}
            )

    return binary_df.mapInPandas(run, FRAME_SCHEMA)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(with_binary_payload(load_table(spark, sf_dir, "documents")))


SQL_MULTIMODAL_FRAMES = """
SELECT doc_id,
       CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4)) AS INT) AS frame_idx,
       md5(md5(text) || '_' || CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4)) AS VARCHAR)) AS frame_hash
FROM documents
"""


# ---------------------------------------------------------------------------
# Resize: the 1 -> 1 payload-transform batch shape (image downscale). The
# fake "resize" is a stride-2 byte subsample — the byte-level analog of
# halving resolution — with the post-resize metadata re-derived from the
# new payload (what a real pipeline does after PIL .resize()). Output is
# the resized payload's md5 + head bytes + re-derived dims, so the whole
# Python transform is value-checked. The DuckDB twin rebuilds the strided
# bytes from hex pairs; its md5() only takes VARCHAR, so the twin round-
# trips through decode(), exact because the corpus payloads are ASCII
# (UTF-8 text) — a real binary corpus would compare hex digests instead.
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
        T.StructField("resized_md5", T.StringType()),
        T.StructField("head_hex", T.StringType()),
    ]
)


def resize_payloads(binary_df: DataFrame) -> DataFrame:
    """mapInPandas 1->1 transform: self-contained closure (worker pickling
    must not require this package on the executor's sys.path)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        import hashlib

        def resize(payload: bytes) -> tuple[int, int, int, str, str]:
            # Stand-in for PIL Image.resize: stride-2 subsample, then
            # re-derive the fake dims from the resized payload.
            r = bytes(payload)[0::2]
            n = len(r)
            width = 16 + (r[0] if n else 0) % 64
            height = 16 + (r[-1] if n else 0) % 64
            return (
                n,
                width,
                height,
                hashlib.md5(r).hexdigest(),
                r[:8].hex().upper(),
            )

        for pdf in batches:
            feats = pdf["payload"].map(resize)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "resized_bytes": feats.map(lambda f: f[0]).astype("int64"),
                    "new_width": feats.map(lambda f: f[1]).astype("int32"),
                    "new_height": feats.map(lambda f: f[2]).astype("int32"),
                    "resized_md5": feats.map(lambda f: f[3]),
                    "head_hex": feats.map(lambda f: f[4]),
                }
            )

    return binary_df.mapInPandas(run, RESIZE_SCHEMA)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_payloads(with_binary_payload(load_table(spark, sf_dir, "documents")))


# Byte j (1-based) of the resized payload is byte 2j-1 of the original =
# hex pairs starting at char 4j-3.
SQL_MULTIMODAL_RESIZE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
),
r AS (
  SELECT doc_id, n, (n + 1) // 2 AS rn,
         list_aggregate(list_transform(range(1, (n + 1) // 2 + 1),
                        j -> substr(h, 4 * j - 3, 2)), 'string_agg', '') AS rh
  FROM b
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(rn AS BIGINT) AS resized_bytes,
       CAST(16 + (CASE WHEN rn > 0 THEN ('0x' || substr(rh, 1, 2))::INT ELSE 0 END) % 64 AS INT) AS new_width,
       CAST(16 + (CASE WHEN rn > 0 THEN ('0x' || substr(rh, 2 * rn - 1, 2))::INT ELSE 0 END) % 64 AS INT) AS new_height,
       md5(decode(unhex(rh))) AS resized_md5,
       upper(substr(rh, 1, 16)) AS head_hex
FROM r
"""


QUERIES = {
    "binary_envelope": q_binary_envelope,
    "multimodal_features": q_multimodal_features,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
}

ORACLES = {
    "binary_envelope": SQL_BINARY_ENVELOPE,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
}
