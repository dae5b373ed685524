#!/usr/bin/env python3
"""Layered benchmark of the engine: XML → warehouse load, star queries,
corpus curation.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/NOTES.md for why each was chosen):

- ``pipeline_xml``: one op is one full load of seeded pharma XML —
  ``run_pipeline`` → ``persist_warehouse`` → the four analytics answers,
  collected. Every load is checked against the generator's exact truth.
- ``corpus_build``: the three corpus-curation queries whose plan build runs
  the most Spark jobs (``neardup_components``, ``training_corpus``,
  ``kmeans_clusters``).
- ``warehouse_queries`` (22 star, TPC-H, window and event queries) and
  ``corpus_curation`` (21 LLM data-prep queries): bench.py's 43
  ``HEADLINE`` queries; runnable, but too slow for a run of about a minute.

Query workloads run on one generated parquet corpus (a fixed seed, so
every run reads the same data); ``--seed`` sets the query order of each
pass. One op is one evaluation (build + plan + execute to a ``noop``
sink). Before timing, every query is compared once, untimed, with its
DuckDB twin; that pass also warms the JVM.

One process, one closed-loop client, ``local[<cores>]``, build memos off.
``setup_s`` runs from process start to session up, registry imported and
one warm-up op done, less the time spent generating inputs (which runs in
a child process, so it imports nothing into this one). Timed passes then
repeat until ``--seconds`` have passed, at least two loads or three passes
of every query. ``op_p50_s`` is the median over queries of each query's
median latency; ``ops_per_s`` is ops per pass over the median pass time.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the timed
passes with a job group per layer call (every op also untraced, for the
tracing overhead) and prints the per-layer metrics read from Spark's
status store. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "pharmaceutical_sales_data_etl_analysis_pipeline_spark"

WAREHOUSE_QUERIES = (
    "product_facts rep_facts top1_product top3_parts_per_brand first_order_per_customer "
    "tpch_q1 tpch_q3 tpch_q5 tpch_q6 tpch_q9 tpch_q10 tpch_q18 rank_functions "
    "moving_avg_customer cohort_retention merge_upsert asof_purchase_before_click "
    "tumbling_hourly session_stats ohlc_bars twap_per_user ntile_quartiles"
).split()
CORPUS_QUERIES = (
    "exact_dedup text_quality pii_scrub minhash_lsh_candidates simhash simhash_near_dups "
    "embedding_near_dups cosine_topk lsh_probe_topk neardup_components tfidf_topk_terms "
    "training_corpus sequence_packing quality_deciles multimodal_resize repetition_ratio "
    "kmeans_clusters semdedup_candidates doc_chunks oov_rate dataset_cards"
).split()
# the corpus queries whose plan build runs the most Spark jobs; each gets
# its own build metrics
BUILD_DETAIL = ("neardup_components", "training_corpus", "kmeans_clusters")
QUERY_SETS = {
    "warehouse_queries": WAREHOUSE_QUERIES,
    "corpus_curation": CORPUS_QUERIES,
    "corpus_build": BUILD_DETAIL,
}
WORKLOADS = ("pipeline_xml", *QUERY_SETS)
PIPELINE_TXNS = 11_060   # the reference's load size
MIN_PASSES = {"pipeline_xml": 2}  # timed passes per run; query workloads: 3
CORPUS_SEED = 42      # the query workloads read one fixed corpus; --seed sets the order
DATABASE = "pharma_wh"

# one span name per layer call
LAYERS = (
    "op", "sources.xml", "pipeline.persist", "pipeline.analytics",
    "operators.build", "catalyst.plan", "execute",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for sub in ("tmp", "spark-local", "spark-warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_BUILD_CACHE"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'spark-warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def make_inputs(workload: str, seed: int, work: Path) -> dict:
    if workload == "pipeline_xml":
        import xmlgen

        truth = xmlgen.generate(work / "xml", seed, PIPELINE_TXNS)
        return {"truth": truth, "location": str(work / "warehouse")}
    data = work / "corpus"
    subprocess.run(
        [sys.executable, str(HERE / "corpusgen.py"), str(data), str(CORPUS_SEED)], check=True
    )
    return {"data": str(data), "names": list(QUERY_SETS[workload])}


# ---------------------------------------------------------------------------
# set-up: session, registry, warm-up
# ---------------------------------------------------------------------------

def process_age() -> float:
    """Seconds since this process started (10 ms resolution, from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def setup(workload: str, inputs: dict) -> tuple[object, dict, dict]:
    t0 = time.perf_counter()
    session = importlib.import_module(PKG + ".session")
    spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    registry = importlib.import_module(PKG + ".registry")
    queries = registry.all_queries()
    t2 = time.perf_counter()
    if workload == "pipeline_xml":
        pp = importlib.import_module(PKG + ".plans.pharma_pipeline")
        pp.load_reps(spark, inputs["truth"].paths["reps"]).count()
    else:
        name = inputs["names"][0]
        queries[name](spark, inputs["data"]).write.format("noop").mode("overwrite").save()
    return spark, queries, {"session": t1 - t0, "registry": t2 - t1}


# ---------------------------------------------------------------------------
# ops
# ---------------------------------------------------------------------------

class Run:
    """State of one benchmark process: session, inputs, counts."""

    def __init__(self, workload: str, seed: int, spark, queries: dict, inputs: dict):
        self.workload = workload
        self.rng = random.Random(seed)
        self.spark = spark
        self.queries = queries
        self.inputs = inputs
        self.attempted = 0
        self.failed = 0
        self.incorrect = 0
        self.errors: list[str] = []
        self.op_items: dict[int, str] = {}  # op id -> query name, or "load"

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")

    # -- query workloads ----------------------------------------------------
    def eval_query(self, tracer, name: str, op_id: int) -> float | None:
        self.attempted += 1
        data = self.inputs["data"]
        try:
            with tracer.span("op", op_id) as op:
                op.attrs["query"] = name
                with tracer.span("operators.build"):
                    df = self.queries[name](self.spark, data)
                if tracer.enabled:
                    # run the plan this span made, so execute plans nothing
                    # again (a noop write would optimize and plan anew)
                    with tracer.span("catalyst.plan") as sp:
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        sp.attrs["plan_s"] = planning_seconds(qe)
                    with tracer.span("execute"):
                        qe.toRdd().count()
                else:
                    with tracer.span("execute"):
                        df.write.format("noop").mode("overwrite").save()
            return op.wall
        except Exception:
            self.fail(name)
            return None

    def check_queries(self) -> None:
        """Compare every query once with its DuckDB twin (untimed)."""
        sys.path.insert(0, str(ROOT / "tests"))
        from oracle_harness import compare_one, duckdb_conn

        oracles = importlib.import_module(PKG + ".registry").all_oracles()
        con = duckdb_conn(self.inputs["data"])
        con.execute("SET threads TO 1")  # leave the cores to Spark
        try:
            # one thread answers the twins in order while Spark runs the
            # queries; DuckDB releases the interpreter lock while it executes
            with ThreadPoolExecutor(max_workers=1) as pool:
                twins = {
                    name: pool.submit(lambda sql: con.execute(sql).df(), oracles[name])
                    for name in self.inputs["names"]
                }
                for name, twin in twins.items():
                    self.attempted += 1
                    try:
                        res = compare_one(
                            name, self.queries[name](self.spark, self.inputs["data"]),
                            twin.result(),
                        )
                    except Exception:
                        self.fail(name)
                        continue
                    if not res.ok:
                        self.incorrect += 1
                        self.errors.append(f"{name}: {res.detail[:300]}")
        finally:
            con.close()

    # -- pipeline_xml -------------------------------------------------------
    def load(self, tracer, op_id: int, check: bool) -> float | None:
        pp = importlib.import_module(PKG + ".plans.pharma_pipeline")
        truth = self.inputs["truth"]
        self.attempted += 1
        try:
            with tracer.span("op", op_id) as op:
                with tracer.span("sources.xml"):
                    wh = pp.run_pipeline(self.spark, truth.paths["reps"], truth.paths["txns"])
                with tracer.span("pipeline.persist"):
                    pwh = pp.persist_warehouse(
                        self.spark, wh, database=DATABASE, location=self.inputs["location"]
                    )
                with tracer.span("pipeline.analytics"):
                    answers = {
                        "quarterly_totals_2020": [
                            (r["quarter"], r["total"])
                            for r in pp.quarterly_totals_2020(pwh.product_facts).collect()
                        ],
                        "best_product_2020": tuple(pp.best_product_2020(pwh.product_facts).first()),
                        "rep_totals_2020": {
                            (r["first_name"], r["last_name"]): r["total_sales"]
                            for r in pp.rep_totals_2020(pwh.rep_facts).collect()
                        },
                        "rep_quarterly_sales": [
                            (r["year"], r["quarter"], r["total_sales"])
                            for r in pp.rep_quarterly_sales(pwh.rep_facts).collect()
                        ],
                    }
            wall = op.wall
            if check:
                answers.update(collect_warehouse(pwh))
            import xmlgen

            bad = xmlgen.check_load(answers, truth, keys=None if check else answers)
            if bad:
                self.incorrect += 1
                self.errors.extend(bad[:3])
            return wall
        except Exception:
            self.fail(f"load {op_id}")
            return None


def collect_warehouse(pwh) -> dict:
    """Dims and fact tables of a persisted warehouse, in the truth's shape."""
    return {
        "salestxn_rows": pwh.salestxn.count(),
        "reps": sorted(tuple(r) for r in pwh.reps.select(
            "rep_id", "first_name", "last_name", "territory").collect()),
        "customers": sorted(tuple(r) for r in pwh.customers.select(
            "customer_id", "customer_name", "country").collect()),
        "products": sorted(tuple(r) for r in pwh.products.select(
            "product_id", "product_name").collect()),
        "product_facts": {
            (r["product_name"], r["year"], r["quarter"], r["region"]): r["total_sold"]
            for r in pwh.product_facts.collect()
        },
        "rep_facts": {
            (r["first_name"], r["last_name"], r["year"], r["quarter"], r["product_name"]):
                r["total_sold"]
            for r in pwh.rep_facts.collect()
        },
    }


def planning_seconds(qe) -> float:
    """Analysis + optimization + planning, from Spark's QueryPlanningTracker."""
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total / 1e3


# ---------------------------------------------------------------------------
# timed passes
# ---------------------------------------------------------------------------

def timed_passes(
    run: Run, tracers: list, seconds: float, min_passes: int
) -> tuple[list[dict[int, float]], list[float]]:
    """Closed loop over whole passes until ``seconds`` have passed.

    With one tracer each op runs once. With two (untraced, traced) every op
    runs both ways, untraced first on even op ids and traced first on odd
    ones, so neither side is always the warmer one; the pairs give the
    tracing overhead. Returns, per
    tracer, the latency of each op that succeeded by op id, and the wall
    time of each pass.
    """
    latencies: list[dict[int, float]] = [{} for _ in tracers]
    walls: list[float] = []
    start = time.perf_counter()
    op_id = 0
    while len(walls) < min_passes or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        if run.workload == "pipeline_xml":
            items = [None]
        else:
            items = list(run.inputs["names"])
            run.rng.shuffle(items)
        for item in items:
            run.op_items[op_id] = item or "load"
            if len(tracers) == 1:
                order = [0]
            else:
                order = [1, 0] if op_id % 2 else [0, 1]
            for k in order:
                if item is None:
                    lat = run.load(tracers[k], op_id, check=False)
                else:
                    lat = run.eval_query(tracers[k], item, op_id)
                if lat is not None:
                    latencies[k][op_id] = lat
            op_id += 1
        walls.append(time.perf_counter() - t0)
    return latencies, walls


def median_latency(latencies: dict[int, float], op_items: dict[int, str]) -> float:
    """Median over queries (or loads) of each one's median latency."""
    by_item: dict[str, list[float]] = {}
    for op_id, lat in latencies.items():
        by_item.setdefault(op_items[op_id], []).append(lat)
    return statistics.median(statistics.median(v) for v in by_item.values())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


# ---------------------------------------------------------------------------
# per-layer metrics from a traced run
# ---------------------------------------------------------------------------

def layer_metrics(tracer, n_passes: int, xml_bytes: int, cores: int) -> dict[str, float]:
    by_layer: dict[str, list] = {name: [] for name in LAYERS}
    for sp in tracer.spans:
        by_layer[sp.name].append(sp)

    def total(layer: str, counter: str | None = None) -> float:
        spans = by_layer[layer]
        if counter is None:
            return sum(s.wall for s in spans) / n_passes
        return sum(s.counters[counter] for s in spans) / n_passes

    def per_query(layer: str, query: str, counter: str | None) -> float:
        ops = {s.id for s in by_layer["op"] if s.attrs.get("query") == query}
        spans = [s for s in by_layer[layer] if s.parent in ops]
        if counter is None:
            return sum(s.wall for s in spans) / n_passes
        return sum(s.counters[counter] for s in spans) / n_passes

    # the action layers: the noop write of a query, persist + analytics of a load
    exec_layers = ("execute", "pipeline.persist", "pipeline.analytics")

    def exec_total(counter: str | None = None) -> float:
        return sum(total(layer, counter) for layer in exec_layers)

    all_jobs = sum(total(layer, "jobs") for layer in LAYERS)
    exec_s = exec_total()
    skews = [s.counters["task_skew"] for layer in exec_layers for s in by_layer[layer]]
    m: dict[str, float] = {
        "sources.xml.infer_s": total("sources.xml"),
        "sources.xml.infer_jobs": total("sources.xml", "jobs"),
        "sources.xml.read_amp": (
            (total("sources.xml", "input_bytes") + total("pipeline.persist", "input_bytes"))
            / xml_bytes if xml_bytes else 0.0
        ),
        "pipeline.persist_s": total("pipeline.persist"),
        "pipeline.persist_jobs": total("pipeline.persist", "jobs"),
        "pipeline.persist_stages": total("pipeline.persist", "stages"),
        "pipeline.persist_shuffle_bytes": total("pipeline.persist", "shuffle_write_bytes"),
        "pipeline.write_bytes": total("pipeline.persist", "output_bytes"),
        "pipeline.write_amp": (
            total("pipeline.persist", "output_bytes") / xml_bytes if xml_bytes else 0.0
        ),
        "pipeline.analytics_s": total("pipeline.analytics"),
        "pipeline.analytics_jobs": total("pipeline.analytics", "jobs"),
        "operators.build_s": total("operators.build"),
        "operators.build_jobs": total("operators.build", "jobs"),
        "operators.build_job_share": total("operators.build", "jobs") / all_jobs if all_jobs else 0.0,
        "catalyst.plan_s": sum(s.attrs["plan_s"] for s in by_layer["catalyst.plan"]) / n_passes,
        "execute.exec_s": exec_s,
        "execute.jobs": exec_total("jobs"),
        "execute.stages": exec_total("stages"),
        "execute.tasks": exec_total("tasks"),
        "execute.input_bytes": exec_total("input_bytes"),
        "execute.shuffle_read_bytes": exec_total("shuffle_read_bytes"),
        "execute.shuffle_write_bytes": exec_total("shuffle_write_bytes"),
        "execute.spill_bytes": exec_total("spill_bytes"),
        "execute.task_skew": statistics.median(skews) if skews else 1.0,
        "execute.executor_cpu_s": exec_total("executor_cpu_s"),
        "execute.cpu_util": exec_total("executor_cpu_s") / (exec_s * cores) if exec_s else 0.0,
        "execute.gc_s": exec_total("gc_s"),
        "jobs_per_pass": all_jobs,
    }
    for q in BUILD_DETAIL:
        m[f"operators.build_s.{q}"] = per_query("operators.build", q, None)
        m[f"operators.build_jobs.{q}"] = per_query("operators.build", q, "jobs")
    for layer in LAYERS:
        m[f"self_s.{layer}"] = sum(tracer.self_time(s) for s in by_layer[layer]) / n_passes
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name → unit, as declared in BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def benchmark(args: argparse.Namespace, work: Path, state: dict) -> dict:
    phases = {"start": time.perf_counter()}
    inputs = make_inputs(args.workload, args.seed, work)
    phases["inputs"] = time.perf_counter()
    spark, queries, setup_times = setup(args.workload, inputs)
    state["spark"] = spark
    setup_s = process_age() - (phases["inputs"] - phases["start"])
    from spans import Tracer

    run = Run(args.workload, args.seed, spark, queries, inputs)
    untraced = Tracer(spark, enabled=False, run_tag="")
    phases["setup"] = time.perf_counter()
    # untimed verification pass; it also warms every query's code paths
    if args.workload == "pipeline_xml":
        run.load(untraced, -1, check=True)
    else:
        run.check_queries()
    phases["check"] = time.perf_counter()
    tracer = Tracer(spark, enabled=True, run_tag=f"pb{os.getpid()}")
    tracers = [untraced, tracer] if args.trace else [untraced]
    steal0, total0 = cpu_ticks()
    latencies, walls = timed_passes(
        run, tracers, args.seconds, MIN_PASSES.get(args.workload, 3)
    )
    phases["timed"] = time.perf_counter()
    steal1, total1 = cpu_ticks()
    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    if not all(latencies):
        raise RuntimeError("every timed op failed: " + " | ".join(run.errors))
    cores = len(os.sched_getaffinity(0))
    if args.trace:
        tracer.collect_counters()
        xml_bytes = inputs["truth"].xml_bytes if "truth" in inputs else 0
        metrics = layer_metrics(tracer, len(walls), xml_bytes, cores)
        metrics["session.start_s"] = setup_times["session"]
        metrics["registry.import_s"] = setup_times["registry"]
        metrics["peak_rss_mb"] = peak_rss_mb(spark)
        metrics["host.steal_share"] = steal_share
        metrics["ops_failed"] = run.failed
        metrics["ops_incorrect"] = run.incorrect
        untraced_lat, traced_lat = latencies
        paired = [i for i in untraced_lat if i in traced_lat]
        metrics["trace.overhead_pct"] = 100.0 * (
            sum(traced_lat[i] for i in paired) / sum(untraced_lat[i] for i in paired) - 1.0
        ) if paired else 0.0
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"trace_{args.workload}_{args.seed}.json").write_text(
            json.dumps({"spans": tracer.to_json(), "metrics": metrics}, indent=1)
        )
    else:
        per_pass = len(latencies[0]) / len(walls)
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": per_pass / statistics.median(walls),
            "op_p50_s": median_latency(latencies[0], run.op_items),
        }
    phases["end"] = time.perf_counter()
    marks = list(phases.items())
    print(
        f"# {args.workload} seed={args.seed}: {len(walls)} timed passes, "
        f"{len(latencies[-1])} timed ops, pass walls {[round(w, 3) for w in walls]}, "
        f"host CPU stolen {steal_share:.3f}; phase seconds "
        + ", ".join(f"{b[0]} {b[1] - a[1]:.1f}" for a, b in zip(marks, marks[1:])),
        flush=True,
    )
    return {"run": run, "metrics": metrics}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / str(os.getpid())
    if not (ROOT / PKG).is_dir():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    prepare_env(work)
    state: dict = {}
    try:
        result = benchmark(args, work, state)
    finally:
        stop_spark(state.get("spark"))
        shutil.rmtree(work, ignore_errors=True)
    run, metrics = result["run"], result["metrics"]
    units = declared_metrics(bool(args.trace))
    if set(units) != set(metrics):
        raise RuntimeError(
            f"metric names differ from BENCHMARK.json: "
            f"missing {sorted(set(units) - set(metrics))}, extra {sorted(set(metrics) - set(units))}"
        )
    bad = run.failed + run.incorrect
    for err in run.errors:
        print(f"# error: {err}", file=sys.stderr)
    print(f"# error_rate={bad / run.attempted:.6f} ({run.failed} failed + "
          f"{run.incorrect} incorrect of {run.attempted} attempted)")
    print(json.dumps({
        "correct": bad == 0,
        "attempted": run.attempted,
        "failed": bad,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
