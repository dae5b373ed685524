"""RENAME / DROP COLUMN via column mapping (r12, VERDICT r11 ask #4).

Delta's column-mapping shape: every value column has an immutable
PHYSICAL parquet name; RENAME records a new logical name in a
same-batch-id 'x' commit (no file rewritten — only the read boundary's
alias changes), DROP removes the column from the schema and RETIRES its
physical name so a later re-ADD binds a fresh one (pre-drop values can
never resurrect). Batch source columns are a separate producer contract
(the legacy table already reads batch `amount` into state `total`), so
running producers keep working across a rename.

Reference anchor: the reference pipeline renames columns across stages
(`prod`->`product_name`, XML attr `rID`->`rep_id`,
LoadXML2DB.ChatterjeeP.R:77,178-183) — rename-across-stages is in-scope
lineage. Driver twin: the `mor_rename_column` registered query.
"""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import (
    partitioned_upsert as pu,
)


def _df(spark, rows, schema="key long, amount double"):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, schema)
    if "fee" in df.columns and dict(df.dtypes)["fee"] == "double":
        df = df.withColumn("fee", F.col("fee").cast("decimal(18,2)"))
    return df


def _read(spark, state):
    df = pu.read_latest_partitioned_state(spark, state)
    return sorted(tuple(r) for r in df.collect()), df.columns


def _evolved_state(spark, tmp_path, name="state"):
    """total from batch `amount`; evolved `fee` adopted at batch 1."""
    state = str(tmp_path / name)
    pu.append_delta_batch(
        spark, state, _df(spark, [(1, 10.0), (2, 20.0)]), 0, range_width=16
    )
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(2, 5.0, 1.25), (3, 30.0, 2.5)],
            "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    return state


def test_rename_is_metadata_only_and_reads_new_name(spark, tmp_path):
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        _fs_and_path,
    )

    state = _evolved_state(spark, tmp_path)
    before, _ = _read(spark, state)
    fs, _, jvm = _fs_and_path(spark, state)
    hpath = jvm.org.apache.hadoop.fs.Path
    old_delta = pu._read_manifest(spark, state, "v000000000")["deltas"][0]
    mtime = fs.getFileStatus(
        hpath(f"{state}/deltas/{old_delta}")
    ).getModificationTime()

    assert pu.rename_value_column(spark, state, "fee", "surcharge") == 3
    assert pu.rename_value_column(spark, state, "total", "revenue") == 4
    rows, cols = _read(spark, state)
    assert cols == ["key", "revenue", "surcharge", "n_rows"]
    assert rows == before  # same values, new labels
    # zero rewrite: the pre-rename delta file is untouched
    assert (
        fs.getFileStatus(hpath(f"{state}/deltas/{old_delta}")).getModificationTime()
        == mtime
    )
    # the manifest records logical + physical; batch contract unchanged
    m = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert m["schema"]["values"] == [
        ["revenue", "amount", "decimal(18,2)", "total"],
        ["surcharge", "fee", "decimal(18,2)", "fee"],
    ]
    # rename to self is a no-op commit-wise
    n = len(pu._list_manifests(spark, state))
    assert pu.rename_value_column(spark, state, "revenue", "revenue") == 4
    assert len(pu._list_manifests(spark, state)) == n


def test_producers_keep_working_across_rename(spark, tmp_path):
    """The batch source contract (amount, fee) is untouched by renames —
    a running producer appends through them and the fold lands under
    the renamed read columns; widen still addresses the LOGICAL name."""
    state = _evolved_state(spark, tmp_path)
    pu.rename_value_column(spark, state, "fee", "surcharge")
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(1, 1.0, 0.75)], "key long, amount double, fee double"),
        2,
        range_width=16,
    )
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "surcharge", "n_rows"]
    assert rows == [
        (1, 11.0, 0.75, 2),
        (2, 25.0, 1.25, 2),
        (3, 30.0, 2.5, 1),
    ]
    # compaction + summary + keyrange all speak the logical names
    assert pu.compact_deltas_into_base(spark, state) > 0
    s = pu.partitioned_state_summary(spark, state).first()
    assert s["sum_surcharge"] == 4.5 and s["sum_total"] == 66.0
    kr = pu.read_partitioned_state_keyrange(spark, state, 0, 2)
    assert kr.columns == ["key", "total", "surcharge", "n_rows"]
    # stats stay keyed by the PHYSICAL name (rename-stable inheritance)
    m = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert any("sum_fee" in st for st in m["stats"].values())
    assert not any("sum_surcharge" in st for st in m["stats"].values())
    # widen addresses the logical name post-rename
    assert pu.widen_value_column(spark, state, "surcharge", "decimal(28,2)") > 0


def test_rename_refusals_are_loud(spark, tmp_path):
    state = _evolved_state(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown value column"):
        pu.rename_value_column(spark, state, "nope", "x")
    # (fee -> fee is the self-rename NO-OP, tested elsewhere, not a
    # collision; every other taken name refuses loudly)
    for taken in ("total", "key", "n_rows", "op", "seq", "bucket"):
        with pytest.raises(ValueError, match="collides"):
            pu.rename_value_column(spark, state, "fee", taken)
    # a retired physical name is permanently reserved
    pu.drop_value_column(spark, state, "fee")
    with pytest.raises(ValueError, match="collides"):
        pu.rename_value_column(spark, state, "total", "fee")


def test_drop_hides_without_rewrite_and_reads_are_loud(spark, tmp_path):
    from pyspark.errors import AnalysisException

    state = _evolved_state(spark, tmp_path)
    # a plain batch 2 first, so the drop's 'x' commit lands on batch 2
    # and batch 1 keeps a pre-drop manifest for the time-travel check
    pu.append_delta_batch(
        spark, state, _df(spark, [(1, 1.0)]), 2, range_width=16
    )
    v = pu.drop_value_column(spark, state, "fee")
    assert v == 3
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "n_rows"]  # fee is gone
    assert rows == [(1, 11.0, 2), (2, 25.0, 2), (3, 30.0, 1)]
    # reading the dropped column is a LOUD analysis error, not NULLs
    with pytest.raises(AnalysisException):
        pu.read_latest_partitioned_state(spark, state).select("fee").collect()
    # the physical name is retired in the manifest
    m = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert m["schema"]["retired"] == ["fee"]
    # time travel to the pre-drop commit still reads the column
    v1 = pu.read_partitioned_state_version(spark, state, 1)
    assert v1.columns == ["key", "total", "fee", "n_rows"]
    # refusals
    with pytest.raises(ValueError, match="PRIMARY"):
        pu.drop_value_column(spark, state, "total")
    with pytest.raises(ValueError, match="unknown value column"):
        pu.drop_value_column(spark, state, "fee")  # already dropped


def test_readd_after_drop_never_resurrects_old_values(spark, tmp_path):
    """The resurrection guard: key 2 had fee=1.25 before the drop; after
    re-ADDing a column NAMED fee, key 2 must read NULL (the new fee has
    no contribution for it) — the re-add binds a FRESH physical name,
    so the stale 1.25 in pre-drop files stays invisible."""
    state = _evolved_state(spark, tmp_path)
    pu.drop_value_column(spark, state, "fee")
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(3, 1.0, 9.0)], "key long, amount double, fee double"),
        2,
        range_width=16,
        merge_schema=True,
    )
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "fee", "n_rows"]
    assert rows == [
        (1, 10.0, None, 1),
        (2, 25.0, None, 2),  # NOT 1.25 — old physical stays retired
        (3, 31.0, 9.0, 2),
    ]
    m = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert m["schema"]["values"][1] == ["fee", "fee", "decimal(18,2)", "fee__2"]
    assert m["schema"]["retired"] == ["fee"]
    # and the whole evolved lineage survives a full compaction
    assert pu.compact_deltas_into_base(spark, state) > 0
    rows2, _ = _read(spark, state)
    assert rows2 == rows


def test_cdf_matches_by_physical_identity(spark, tmp_path):
    """A pure rename between two commits emits NO spurious updates (same
    physical values); output columns carry the TO side's logical names.
    A drop excludes the column from the diff (metadata-only)."""
    state = str(tmp_path / "state")
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(1, 10.0), (2, 20.0)]), 0, range_width=16
    )
    pu.merge_batch_into_partitioned_state(
        spark,
        state,
        _df(spark, [(2, 5.0, 1.25)], "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    pu.rename_value_column(spark, state, "fee", "surcharge")
    # rename-only boundary: batch 1 state vs its renamed 'x' commit —
    # same batch id, so compare around it: 0 -> 1 uses END schema names
    rows = sorted(
        tuple(r)
        for r in pu.partitioned_state_changes(spark, state, 0, 1).collect()
    )
    assert rows == [(2, "update", 20.0, 25.0, None, 1.25, 1, 2)]
    cols = pu.partitioned_state_changes(spark, state, 0, 1).columns
    assert cols == [
        "key", "change_type", "old_total", "new_total",
        "old_surcharge", "new_surcharge", "old_n_rows", "new_n_rows",
    ]
    # a further no-data-change commit after the rename diffs EMPTY
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(9, 1.0)]), 2, range_width=16
    )
    changed = pu.partitioned_state_changes(spark, state, 1, 2)
    assert sorted(tuple(r) for r in changed.collect()) == [
        (9, "insert", None, 1.0, None, None, None, 1)
    ]
    # drop boundary: the dropped column vanishes from the diff schema
    pu.drop_value_column(spark, state, "surcharge")
    cols2 = pu.partitioned_state_changes(spark, state, 0, 2).columns
    assert cols2 == [
        "key", "change_type", "old_total", "new_total",
        "old_n_rows", "new_n_rows",
    ]

def test_rewrites_physically_purge_dropped_columns(spark, tmp_path):
    """DROP hides a column instantly without touching files; the bytes
    then leave storage INCREMENTALLY, for free: every rewrite-shaped
    write (delta fold, CoW merge) goes through the CURRENT schema, which
    no longer contains the retired physical — Delta's REORG TABLE ...
    PURGE, without a dedicated op.
    Raw parquet reads of the bucket files prove both states."""
    state = _evolved_state(spark, tmp_path)
    assert pu.compact_deltas_into_base(spark, state) > 0
    m = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    some_bucket = next(iter(m["buckets"]))
    raw = spark.read.parquet(
        f"{state}/buckets/b{some_bucket}/{m['buckets'][some_bucket]}"
    )
    assert "fee" in raw.columns  # physically present pre-drop

    pu.drop_value_column(spark, state, "fee")
    # rewrite every bucket with a CoW merge: keys 1-3 share bucket 0, and
    # a tombstone for the absent key 15 (also bucket 0) changes no value
    assert list(m["buckets"]) == ["0"]
    tomb = _df(spark, [(15, None, "delete")], "key long, amount double, op string")
    pu.merge_batch_into_partitioned_state(spark, state, tomb, 2, range_width=16)
    m2 = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert m2["buckets"]["0"] != m["buckets"]["0"]
    for b, vname in m2["buckets"].items():
        raw2 = spark.read.parquet(f"{state}/buckets/b{b}/{vname}")
        assert "fee" not in raw2.columns  # bytes purged by the rewrite
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "n_rows"]
    assert rows == [(1, 10.0, 1), (2, 25.0, 2), (3, 30.0, 1)]
