"""r6: corpus-derived LSH contract parameters (the r5 verdict's design
debt, ask #2). Both near-dup families now derive their index shape from
the corpus count — simhash_near_dups picks the Manku block config B(n)
(n observed inside its signature pin's job), embedding_near_dups picks
(planes, kbits, ntables, masks) from one count() round-trip — the way
kmeans_clusters derives K. These tests pin the derivation ladder:

1. the driver-sf rung reproduces the r5 literals EXACTLY (so 246 green
   driver rows stay meaningful — the contract only moves where the
   corpus does);
2. parameters are monotone in n and the collision budget holds at every
   rung (expected random per-table collisions <= n/16 until the key
   width saturates four orders past any real corpus);
3. the DuckDB oracle derives the IDENTICAL integers from count(*)
   (nd_p/nd_masks CTEs) — floats never cross an engine boundary;
4. a forced non-default rung (n_override) still matches ground truth:
   the blocked simhash plan equals the all-pairs plan at B=6, and the
   wide-planes embedding tier stays hash-exact vs its oracle.
"""

from __future__ import annotations

import duckdb
import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
    SIM_BLOCK_CONFIGS,
    derive_sim_blocks,
    sim_block_widths,
    sim_key_tables,
    sim_min_key_bits,
    simhash_near_dups,
    simhash_near_dups_allpairs,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
    NEARDUP_MAX_BITS,
    NEARDUP_MIN_BITS,
    NEARDUP_PLANES_NARROW,
    NEARDUP_PLANES_WIDE,
    NEARDUP_TABLES_BY_BITS,
    _neardup_params_cte,
    _neardup_sql,
    derive_neardup_params,
    embedding_near_dups,
    neardup_mask_bits,
)

# ---------------------------------------------------------------------------
# Rung pins. The r5 contract at driver sfs (n <= 1024): kbits=14,
# 32 planes, 20 tables with these EXACT masks (frozen from the r5 tree's
# NEARDUP_MASKS literal), and the 4x16-bit simhash split.
# ---------------------------------------------------------------------------

R5_MASKS = [
    2288824933, 2434705284, 1783213190, 1144985769, 1656887142,
    1563432614, 2304967642, 1916342904, 3655811137, 1080402803,
    1848781154, 2284079091, 2372952529, 239778472, 3926396660,
    1194659650, 2535231233, 1419856443, 3812000389, 317740016,
]

LADDER = [
    # (n, kbits, planes, ntables, sim_blocks)
    (1, 14, 32, 20, 4),
    (520, 14, 32, 20, 4),
    (1024, 14, 32, 20, 4),
    (5_200, 17, 32, 33, 5),
    (52_000, 20, 32, 53, 5),
    (520_000, 23, 32, 84, 5),
    (2**21, 25, 62, 115, 5),
    (5_200_000, 27, 62, 157, 6),
    (10**8, 31, 62, 293, 6),
    (10**10, 38, 62, 869, 8),
    (10**12, 44, 62, 2203, 16),
    (2**48, 48, 62, 4095, 16),
]


def test_driver_sf_rung_reproduces_r5_literals():
    planes, kbits, masks = derive_neardup_params(520)
    assert (planes, kbits) == (32, 14)
    assert masks == R5_MASKS
    assert derive_sim_blocks(520) == 4
    assert sim_block_widths(4) == [16, 16, 16, 16]
    # B=4 keys are the bare blocks: C(4,3) kept-1-block combinations
    assert sim_key_tables(4) == [(0,), (1,), (2,), (3,)]


@pytest.mark.parametrize("n,kbits,planes,ntables,simb", LADDER)
def test_derivation_ladder_pins(n, kbits, planes, ntables, simb):
    p, k, masks = derive_neardup_params(n)
    assert (k, p, len(masks)) == (kbits, planes, ntables)
    assert derive_sim_blocks(n) == simb
    for m in masks:
        assert bin(m).count("1") == kbits
        assert 0 < m < (1 << planes)
    assert len(set(masks)) == len(masks), "duplicate tables waste work"


def test_parameters_monotone_and_collision_budget():
    """kbits / ntables / B never shrink as n grows, and the weakest key
    is wide enough that expected random per-table collisions n^2/2^bits
    stay <= n/16 until the saturation rungs (kbits=48: n ~ 2.8e14
    vectors; B=16: n ~ 2^48 docs — both four orders past 100 TB)."""
    prev = (0, 0, 0)
    for exp in range(0, 49):
        n = 2**exp
        k = neardup_mask_bits(n)
        t = NEARDUP_TABLES_BY_BITS[k]
        b = derive_sim_blocks(n)
        assert (k, t, b) >= prev, f"non-monotone at n=2^{exp}"
        prev = (k, t, b)
        if k < NEARDUP_MAX_BITS:
            assert 2**k >= 16 * n, f"embedding collision budget at n=2^{exp}"
        if sim_min_key_bits(b) < sim_min_key_bits(SIM_BLOCK_CONFIGS[-1]):
            assert 2 ** sim_min_key_bits(b) >= 16 * n, f"simhash budget at n=2^{exp}"
    assert neardup_mask_bits(1) == NEARDUP_MIN_BITS
    assert neardup_mask_bits(2**60) == NEARDUP_MAX_BITS


def test_sim_block_partition_covers_64_bits():
    for b in SIM_BLOCK_CONFIGS:
        widths = sim_block_widths(b)
        assert sum(widths) == 64
        assert max(widths) - min(widths) <= 1
        # every kept combination's packed key fits a non-negative long
        assert 64 - min(widths) * 3 <= 52 or b == 4
        import itertools

        assert len(sim_key_tables(b)) == len(list(itertools.combinations(range(b), 3)))


# ---------------------------------------------------------------------------
# Cross-engine derivation equality: the oracle's nd_p/nd_masks CTEs must
# yield the SAME integers as derive_neardup_params for every kbits tier
# the ladder can reach (floor, interior, narrow->wide boundary, cap).
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 520, 5_200, 520_000, 2**21, 10**10, 2**48])
def test_duckdb_derivation_matches_python(n):
    con = duckdb.connect()
    cte = _neardup_params_cte("unused", n_override=n)
    kbits, planes, ntables = con.execute(
        f"WITH {cte} SELECT kbits, planes, ntables FROM nd_p"
    ).fetchone()
    masks = [
        r[0]
        for r in con.execute(
            f"WITH {cte} SELECT mask FROM nd_masks ORDER BY l"
        ).fetchall()
    ]
    p_planes, p_kbits, p_masks = derive_neardup_params(n)
    assert (kbits, planes, ntables) == (p_kbits, p_planes, len(p_masks))
    assert masks == p_masks


# ---------------------------------------------------------------------------
# Forced-rung equivalence on real data (sf0.001): the physical plan at a
# non-default rung still computes the same contract.
# ---------------------------------------------------------------------------


def test_blocked_simhash_equals_allpairs_at_forced_b6(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    blocked = sorted(
        map(tuple, simhash_near_dups(docs, n_override=5_200_000).collect())
    )
    exact = sorted(map(tuple, simhash_near_dups_allpairs(docs).collect()))
    assert derive_sim_blocks(5_200_000) == 6
    assert blocked == exact and len(blocked) > 0


@pytest.mark.parametrize("pin_mode", ["local", "table"])
def test_simhash_block_derivation_counts_docs_without_signatures(
    spark, sf_dir, monkeypatch, pin_mode
):
    """The block count derives from the number of DOCUMENTS, observed on
    the input inside the signature pin's job. A document with fewer than 3
    words has no shingle, so no signature row, and must still count."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators import dedup

    monkeypatch.setenv("SPARK_GRAFT_PIN", pin_mode)
    seen = []
    derive = dedup.derive_sim_blocks
    monkeypatch.setattr(dedup, "derive_sim_blocks", lambda n: seen.append(n) or derive(n))
    docs = load_table(spark, sf_dir, "documents")
    short = spark.createDataFrame(
        [(10**9, "two words", "en", "x", 9), (10**9 + 1, "", "en", "x", 0)], docs.schema
    )
    docs = docs.unionByName(short)
    dedup.simhash_near_dups(docs).collect()
    n = docs.count()
    assert seen == [n]
    assert dedup.simhash64(docs).count() <= n - 2


def test_wide_planes_embedding_tier_matches_oracle(spark, sf_dir):
    n = 2**21  # kbits=25 -> planes=62, the narrow->wide boundary tier
    emb = load_table(spark, sf_dir, "embeddings")
    spark_rows = sorted(
        map(tuple, embedding_near_dups(emb, n_override=n).collect())
    )
    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn(sf_dir)
    oracle_rows = sorted(
        map(tuple, con.execute(_neardup_sql("embeddings", n_override=n)).fetchall())
    )
    assert spark_rows == oracle_rows


def test_derive_k_sqrt_cap():
    """K follows n/125 at test scales and caps at 16*sqrt(n) beyond the
    n~4M crossover — the FAISS nlist band that keeps the assignment pass
    O(n^1.5) and driver centroid state O(sqrt(n)) at 100 TB."""
    import math

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.kmeans_core import (
        derive_k,
    )

    assert derive_k(100) == 8            # floor
    assert derive_k(2_000) == 16         # sf0.1 regime: n/125
    assert derive_k(200_000) == 1_600    # sf10 regime: still n/125
    assert derive_k(4_000_000) == 16 * math.isqrt(4_000_000)  # crossover
    assert derive_k(10**9) == 16 * math.isqrt(10**9)          # capped
    # monotone non-decreasing across the crossover
    ks = [derive_k(n) for n in (3_999_000, 4_000_000, 4_001_000)]
    assert ks == sorted(ks)
