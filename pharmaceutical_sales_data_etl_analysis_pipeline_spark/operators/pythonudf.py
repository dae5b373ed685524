"""Python UDF surface (SURVEY.md §2.10): Arrow-batched scalar pandas_udf and
grouped-map applyInPandas, each with an exact SQL oracle — demonstrating
that the Python escape hatch preserves engine determinism when it avoids
float re-association (string ops and exact sorts only here).

Both operators choose work that built-ins could express — deliberately, so
the oracle can verify the Python path bit-for-bit. Real uses (custom
tokenizers, model scoring) swap the body, not the plumbing.

Worker pickling rule: every function shipped to executors is defined inside
its builder so cloudpickle serializes by value (workers don't have this
package on sys.path under the driver's vanilla session).

NOTE: no `from __future__ import annotations` here — deferred (string)
annotations break pandas_udf's signature inspection.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from .pyworker import ready

TOPK_PER_TYPE = 3


# ---------------------------------------------------------------------------
# Scalar pandas_udf: vectorized text normalization (lower, trim, collapse
# whitespace) — one Arrow batch in, one out.
# ---------------------------------------------------------------------------

def pandas_normalized_text(documents: DataFrame) -> DataFrame:
    def build_udf():
        import pandas as pd

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def norm(s: pd.Series) -> pd.Series:
            ready()
            # strip(' ') not strip(): bare strip removes tabs/newlines too,
            # while the oracle's trim(text) removes only spaces
            return s.str.lower().str.strip(" ").str.replace(r"\s+", " ", regex=True)

        return norm

    norm = build_udf()
    return documents.select(
        "doc_id",
        norm(F.col("text")).alias("norm_text"),
        F.length(norm(F.col("text"))).cast("int").alias("norm_len"),
    )


def q_pandas_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pandas_normalized_text(load_table(spark, sf_dir, "documents"))


SQL_PANDAS_NORMALIZED_TEXT = """
SELECT doc_id,
       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text,
       CAST(length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS INT) AS norm_len
FROM documents
"""


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas: per-event-type top-3 by (value desc, event_id
# asc) computed with a pandas sort inside each group. Exact tie-break order
# makes the result identical to the window-function oracle.
# ---------------------------------------------------------------------------

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("rnk", T.IntegerType()),
    ]
)


def grouped_pandas_topk(events: DataFrame, k: int = TOPK_PER_TYPE) -> DataFrame:
    def build_fn(k: int):
        def topk(pdf):
            ready()
            import pandas as pd  # noqa: F401

            out = pdf.sort_values(
                ["value", "event_id"], ascending=[False, True]
            ).head(k)
            out = out.assign(rnk=range(1, len(out) + 1))
            return out[["event_type", "event_id", "value", "rnk"]]

        return topk

    return (
        events.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandas(build_fn(k), TOPK_SCHEMA)
    )


def q_grouped_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grouped_pandas_topk(load_table(spark, sf_dir, "events"))


SQL_GROUPED_PANDAS_TOPK = f"""
SELECT event_type, event_id, value, CAST(rnk AS INT) AS rnk
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) t
WHERE rnk <= {TOPK_PER_TYPE}
"""


QUERIES = {
    "pandas_normalized_text": q_pandas_normalized_text,
    "grouped_pandas_topk": q_grouped_pandas_topk,
}

ORACLES = {
    "pandas_normalized_text": SQL_PANDAS_NORMALIZED_TEXT,
    "grouped_pandas_topk": SQL_GROUPED_PANDAS_TOPK,
}


# ---------------------------------------------------------------------------
# Python UDTF (Spark 3.5+/4 table function): sentence splitting, one output
# row per sentence. UDTFs are the 1->N Python escape hatch (the declarative
# twin of this shape is warehouse.doc_chunks' explode); row-at-a-time, so
# reserve for logic regexp/explode can't express — registered here to keep
# the full Python API surface exercised. Trim character set is pinned to
# ' \t\n\r' on BOTH sides (python strip(chars) / DuckDB trim(x, chars)) —
# bare .strip() would also remove unicode whitespace DuckDB's trim keeps.
# ---------------------------------------------------------------------------

def udtf_sentences(spark: SparkSession, documents: DataFrame) -> DataFrame:
    from pyspark.sql.functions import udtf

    # The class MUST be defined inside this function: a module-level class
    # pickles by reference and the executor Python workers don't have this
    # package on their path (same closure discipline as the pandas UDFs
    # above — defined locally, cloudpickle ships it by value).
    class SplitSentences:
        """eval() is called per input row; yields (sent_idx, sentence)."""

        def eval(self, text):  # noqa: ANN001 - UDTF protocol
            ready()
            import re

            # ASCII whitespace class spelled out: Python's \s is
            # Unicode-aware but the oracle's RE2 \s is exactly
            # [ \t\n\f\r] (no \v, no NBSP) — the class must match that
            # set character-for-character or a vertical tab / NBSP after
            # punctuation would split here and not there (same
            # engine-parity reasoning as the pinned trim charset below)
            idx = 0
            for part in re.split(r"[.!?]+[ \t\n\r\f]+", text or ""):
                part = part.strip(" \t\n\r")
                if part:
                    yield idx, part
                    idx += 1

    split_udtf = udtf(SplitSentences, returnType="sent_idx: int, sentence: string")
    spark.udtf.register("split_sentences", split_udtf)
    documents.createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM udtf_docs_v d, LATERAL split_sentences(d.text) s
        """
    )


def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return udtf_sentences(spark, load_table(spark, sf_dir, "documents"))


# zip-unnest (DuckDB zips parallel unnests) carries the original split
# position so the kept-sentence index matches the UDTF's post-filter count
SQL_UDTF_SENTENCES = r"""
WITH parts AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(text, '[.!?]+\s+')) AS part,
         unnest(generate_series(1, len(regexp_split_to_array(text, '[.!?]+\s+')))) AS pos
  FROM documents
), kept AS (
  SELECT doc_id, trim(part, ' ' || chr(9) || chr(10) || chr(13)) AS sentence, pos
  FROM parts
  WHERE trim(part, ' ' || chr(9) || chr(10) || chr(13)) <> ''
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS INTEGER) AS sent_idx,
       sentence
FROM kept
"""

QUERIES["udtf_sentences"] = q_udtf_sentences
ORACLES["udtf_sentences"] = SQL_UDTF_SENTENCES


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas_udf (Series -> scalar): the last Python UDF shape
# not yet exercised (scalar / grouped-map / map / UDTF are above and in
# multimodal.py). Per event_type: exact integer-cents sum + max + count.
#
# Determinism discipline: floats never cross the Python boundary. The cents
# quantization floor(value*100 + 0.5) happens JVM-side (identical expression
# in the oracle), and numpy only performs int64 arithmetic — exact and
# order-independent, so the UDAF result is layout-invariant on any cluster.
#
# Scale note: GROUPED_AGG pandas UDFs have NO partial aggregation — every
# row shuffles to its group's reducer (unlike built-in sum/max, which
# combine map-side). Fine for bounded group fan-in; for 100 TB hot paths
# pre-aggregate with built-ins and reserve the UDAF for the exotic tail.
# ---------------------------------------------------------------------------

def grouped_agg_pandas(events: DataFrame) -> DataFrame:
    def build_udafs():
        import numpy as np
        import pandas as pd

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def sum_cents(c: pd.Series) -> int:
            ready()
            return int(c.to_numpy(dtype=np.int64).sum())

        @pandas_udf("long")
        def max_cents(c: pd.Series) -> int:
            ready()
            return int(c.to_numpy(dtype=np.int64).max())

        @pandas_udf("long")
        def n_rows(c: pd.Series) -> int:
            ready()
            return int(len(c))

        return sum_cents, max_cents, n_rows

    sum_cents, max_cents, n_rows = build_udafs()
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    # metrics are over NON-NULL values on both sides: a NULL value would
    # reach pandas as NaN (long-with-nulls -> float64) and crash the int64
    # conversion, while SQL aggregates silently skip it — filtering makes
    # the contract total instead of an undocumented precondition
    return (
        events.filter(F.col("value").isNotNull())
        .select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            n_rows(F.col("cents")).alias("n_events"),
            sum_cents(F.col("cents")).alias("total_cents"),
            max_cents(F.col("cents")).alias("max_cents"),
        )
    )


def q_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grouped_agg_pandas(load_table(spark, sf_dir, "events"))


SQL_GROUPED_AGG_PANDAS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
"""

QUERIES["grouped_agg_pandas"] = q_grouped_agg_pandas
ORACLES["grouped_agg_pandas"] = SQL_GROUPED_AGG_PANDAS
