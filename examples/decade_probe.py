#!/usr/bin/env python3
"""Targeted decade probe (r6): time a NAMED subset of registered queries
at one sf rung, in a vanilla session, with the same two-stage warmup and
noop-sink discipline as bench.py.

Purpose: the r5 verdict asked for an sf10 rung for the four queries with
the worst measured sf0.1->sf1.0 ratios (tfidf_topk_terms 4.85x, tpch_q9
4.69x, graph_triangle_stats 4.62x, bpe_pair_stats 4.34x) to decide
whether those ratios are fixed-overhead artifacts (ratio falls across
decades) or real super-linear growth (ratio holds/rises -> redesign).
bench.py times the fixed headline set at one rung; this script times an
arbitrary subset so a 60M-row rung doesn't have to pay for the other ~40
headline queries.

Usage:
  python examples/decade_probe.py SF_DIR QUERY [QUERY ...]
Prints one JSON line: {"sf_dir": ..., "queries": {name: sec, ...},
"rows": {name: n, ...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import all_queries
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    spark = get_spark("decade-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # big rungs shuffle tens of GB per execution and the driver's large
    # heap almost never GCs, so shuffle files linger until the disk fills
    # (measured at the sf10 triangle rung) — release them on a timer
    spark.sparkContext._jsc.sc().conf().set(
        "spark.cleaner.periodicGC.interval", "60s"
    )
    queries = all_queries()

    # same warmup ladder as bench.py: tiny-corpus pass compiles the
    # generated code, one untimed target-sf pass pays HotSpot C2 + cold
    # page cache, then the timed pass measures steady state.
    # SPARK_GRAFT_PROBE_NO_TARGET_WARMUP=1 skips the target-sf pass — for
    # multi-minute rungs the timed run amortizes C2 itself and the double
    # execution would dominate wall-clock.
    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
    if not os.environ.get("SPARK_GRAFT_PROBE_NO_TARGET_WARMUP"):
        for name in names:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        rows[name] = df.count()

    print(json.dumps({"sf_dir": sf_dir, "queries": timings, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
