"""Custom Python data source (Spark 4 DataSource API): a deterministic
synthetic documents generator, registered as format("synth_docs").

Why it exists: the engine's source surface (parquet/XML/JDBC/CSV/JSONL/
ORC) is file- and database-shaped; the Python DataSource API is the
escape hatch for everything else — internal services, generators,
bespoke formats — with real partition-parallel reads (each partition's
reader runs on an executor, so generation scales out, not on the driver).

Determinism contract: row content is a pure function of (doc_id), and
doc_ids are dense across partitions — the same options always produce
the identical table, which is what makes a synthetic source usable in
tests and benchmarks.

The reader classes are defined INSIDE the factory functions for the same
reason the UDTFs are (operators/pythonudf.py): cloudpickle must ship
them by value — executors don't have this package installed.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.pyworker import ready

SYNTH_FORMAT = "synth_docs"


def make_synth_docs_source():
    """Build the DataSource class (self-contained for pickling)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
    from pyspark.sql import types as T

    class SynthDocsReader(DataSourceReader):
        def __init__(self, options):
            self.n_rows = max(0, int(options.get("n_rows", 100)))
            # clamp: 0/negative would div-by-zero at planning or return an
            # empty partition list, which Spark treats as "no partitioning"
            # and then calls read(None) — a crash, not an empty table
            self.n_parts = max(1, int(options.get("n_parts", 4)))

        def partitions(self):
            # dense doc_id ranges per partition; always >= 1 partition so
            # n_rows=0 yields an empty TABLE (one empty range), not read(None)
            per = -(-max(self.n_rows, 1) // self.n_parts)
            return [
                InputPartition((p * per, min((p + 1) * per, self.n_rows)))
                for p in range(self.n_parts)
                if p * per < self.n_rows
            ] or [InputPartition((0, 0))]

        def read(self, partition):
            ready()
            import hashlib

            lo, hi = partition.value
            words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
            for i in range(lo, hi):
                h = hashlib.md5(str(i).encode()).hexdigest()
                text = " ".join(
                    words[int(h[j], 16) % len(words)] for j in range(8)
                )
                yield (i, text, "en", f"src{int(h[0], 16) % 4}", len(text))

    class SynthDocsSource(DataSource):
        @classmethod
        def name(cls):
            return "synth_docs"

        def schema(self):
            return T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("text", T.StringType()),
                    T.StructField("lang", T.StringType()),
                    T.StructField("source", T.StringType()),
                    T.StructField("n_chars", T.LongType()),
                ]
            )

        def reader(self, schema):
            return SynthDocsReader(self.options)

    return SynthDocsSource


def register_synth_docs(spark: SparkSession) -> None:
    spark.dataSource.register(make_synth_docs_source())


def read_synth_docs(spark: SparkSession, n_rows: int = 100, n_parts: int = 4):
    register_synth_docs(spark)
    return (
        spark.read.format(SYNTH_FORMAT)
        .option("n_rows", str(n_rows))
        .option("n_parts", str(n_parts))
        .load()
    )
