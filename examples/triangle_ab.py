#!/usr/bin/env python3
"""Within-session interleaved A/B for the sf10 triangle variants (r8,
VERDICT ask #2).

r7 measured the two shuffled-tier variants in separate sessions and the
host's 1.9x same-plan cross-session spread swamped the delta; the repo's
own doctrine (BENCH_NOTES r6) is that perf decisions ride WITHIN-session
ratios. This script alternates the two variants back-to-back in ONE
session, N pairs:

  A  derived-width-only      (TRI_BLOOM_PAIR_MAX monkeypatched to 0, so
                              the medium bloom tier never activates)
  B  derived + bloom fan-out (shipped default)

Usage: python examples/triangle_ab.py SF_DIR [N_PAIRS]
Prints one JSON line with per-run seconds and the paired deltas.
Run with SPARK_DRIVER_MEMORY=64g at sf10 (the wedge sort needs it;
a 48g heap OOMd on an r9 single-pair run - see BENCH_NOTES r9).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators import graphops
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1]
    n_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("triangle-ab")
    spark.sparkContext.setLogLevel("ERROR")
    # big rungs shuffle tens of GB per execution; release shuffle files
    # on a timer so an interleaved session doesn't fill the disk
    spark.sparkContext._jsc.sc().conf().set(
        "spark.cleaner.periodicGC.interval", "60s"
    )
    default_bloom_max = graphops.TRI_BLOOM_PAIR_MAX

    def run(variant: str, rung: str) -> float:
        graphops.TRI_BLOOM_PAIR_MAX = 0 if variant == "A" else default_bloom_max
        try:
            t0 = time.monotonic()
            (
                graphops.QUERIES["graph_triangle_stats"](spark, rung)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            return time.monotonic() - t0
        finally:
            graphops.TRI_BLOOM_PAIR_MAX = default_bloom_max

    # compile both variants' generated code on the tiny corpus
    for v in ("A", "B"):
        run(v, "/root/testdata/sf0.001")

    runs: list[dict] = []
    for pair in range(n_pairs):
        for v in ("A", "B"):
            sec = run(v, sf_dir)
            runs.append({"pair": pair, "variant": v, "sec": round(sec, 1)})
            print(f"# pair {pair} variant {v}: {sec:.1f}s", flush=True)

    a = [r["sec"] for r in runs if r["variant"] == "A"]
    b = [r["sec"] for r in runs if r["variant"] == "B"]
    deltas = [round(bb - aa, 1) for aa, bb in zip(a, b)]
    print(json.dumps({
        "sf_dir": sf_dir,
        "runs": runs,
        "a_derived_only": a,
        "b_bloom_fanout": b,
        "paired_b_minus_a": deltas,
        "median_a": sorted(a)[len(a) // 2],
        "median_b": sorted(b)[len(b) // 2],
    }))


if __name__ == "__main__":
    main()
