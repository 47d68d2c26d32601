"""Layered extraction benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload md_extract --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}; the lines before it
record the environment (nproc, seed, corpus size, library versions) and
each timed job's wall time.

Load is a closed loop: this one driver process submits one job at a time to
``local[nproc]``. ``--trace 0`` reports the end-to-end metrics, with tracing
off. ``--trace 1`` reports the per-layer metrics: it times untraced jobs for
half the window, then the traced pipeline (each layer boundary materialized
on its own) for the other half, and reports the tracing overhead as the
difference. Every run then checks every output document against golden,
outside the timed window. See perfbench/README.md for the metric
definitions and which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
CACHE = BENCH_DIR / ".cache"

# documents per workload input
CORPUS = {"md_extract": 2000, "pdf_extract": 800, "layout_extract": 2000}
# untimed jobs before any timing: the JVM's compiled code keeps speeding
# jobs up for about this many jobs after start-up
WARM_JOBS = 3
# traced spans that together do the work of one untraced job
PIPELINE = ("sources.scan", "extract.boilerplate", "skew.threshold",
            "skew.rebalance", "extract.operator")


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit for this mode, as BENCHMARK.json declares."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Process environment for the driver, the JVM and the Python workers:
    workers import the package from the checkout whatever the working
    directory, and Spark's scratch space stays inside the checkout."""
    scratch = CACHE / "spark-local"
    scratch.mkdir(parents=True, exist_ok=True)
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(scratch)
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData")
    # the inputs are a few MB; a smaller heap cap than get_spark's 8g keeps
    # the run polite on a machine whose memory is shared
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, str(REPO))


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the JVM and
    the Python workers): an upper bound of their joint peak."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def start_session(cores: int):
    """get_spark(cores) through the first Python-worker action; returns
    (spark, start seconds, worker warm-up seconds)."""
    from pdf_parse_bench_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    t1 = time.perf_counter()

    def warm(batches):
        import pdf_parse_bench_spark.operators.extract  # noqa: F401
        time.sleep(0.25)  # overlap the tasks: one worker per core
        yield from batches

    (spark.range(cores, numPartitions=cores).mapInPandas(warm, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the JVM (and with it the Python workers) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def closed_loop(w, seconds: float, min_jobs: int = 0) -> list[float]:
    """Submit one job at a time until `seconds` of job time have passed;
    returns each job's wall time."""
    walls: list[float] = []
    while sum(walls) < seconds or len(walls) < min_jobs:
        w.prepare()
        t0 = time.perf_counter()
        w.job()
        walls.append(time.perf_counter() - t0)
    return walls


def steady(values: list[float]) -> float:
    """Median over traced iterations after the first, which also pays the
    first run of the traced-only steps (caching, writes, resume passes)."""
    return statistics.median(values[1:] if len(values) > 1 else values)


def versions(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"spark": spark.version, "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "python": platform.python_version()}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import pandas as pd

    from perfbench import gate, inputs
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    units = metric_units(trace)
    n_docs, cores = CORPUS[workload], nproc()
    t0 = time.perf_counter()
    input_dir = inputs.ensure_inputs(cls.fmt, seed, n_docs)
    phases = {"inputs_s": time.perf_counter() - t0}
    doc_ids = inputs.doc_ids(seed, n_docs)
    golden = pd.read_parquet(input_dir / "golden.parquet")
    work_dir = CACHE / "work" / f"{workload}-{os.getpid()}"

    spark, start_s, warm_s = start_session(cores)
    try:
        print(json.dumps({"info": {
            "workload": workload, "seed": seed, "nproc": cores,
            "docs": n_docs, "run_seconds": seconds, "trace": int(trace),
            "versions": versions(spark)}}), flush=True)
        w = cls(spark, input_dir, work_dir, seed, doc_ids)
        checks = []
        try:
            closed_loop(w, 0, WARM_JOBS)
            if trace:
                walls = closed_loop(w, seconds / 2, 3)
                metrics, ok = traced_metrics(
                    w, seconds / 2, n_docs / statistics.median(walls), cores,
                    workload, seed, units)
                written = w.traced_outputs()
                if written is not None:
                    output, error_docs = written
                    checks.append(gate.check(output, golden, doc_ids,
                                             error_docs))
            else:
                # memory is read after a fixed amount of work, so the
                # reading does not depend on how many jobs fit in the
                # window, and before the gate collects output into this
                # process
                metrics, ok = {"peak_rss_mb": peak_rss_mb()}, True
                walls = closed_loop(w, seconds, 3)
            # correctness pass, outside the timed window: the job once
            # more, collected and checked against golden
            t0 = time.perf_counter()
            w.prepare()
            output, error_docs = w.outputs()
            checks.insert(0, gate.check(output, golden, doc_ids, error_docs))
            spans_out = len(output)
            phases["gate_s"] = time.perf_counter() - t0
            print(json.dumps({"job_walls_s": walls, "phases": phases}),
                  flush=True)
        finally:
            w.cleanup()
            spark.stop()

        docs_per_s = n_docs / statistics.median(walls)
        if trace:
            metrics.update({
                "session.start_s": start_s, "session.worker_warm_s": warm_s,
                "sources.input_mb": os.path.getsize(w.input_path) / 1e6,
                "extract.spans_out": spans_out,
                "engine.scaling_eff": docs_per_s / (
                    cores * one_core_docs_per_s(cls, input_dir, work_dir,
                                                seed, doc_ids, seconds / 2)),
            })
        else:
            metrics.update({
                "setup_s": start_s + warm_s, "docs_per_s": docs_per_s,
                "exact_match_ratio": checks[0].exact_match_ratio})
    finally:
        stop_jvm()
    attempted = sum(c.attempted for c in checks)
    matched = sum(c.matched for c in checks)
    return {"correct": ok and all(c.ok for c in checks),
            "attempted": attempted, "failed": attempted - matched,
            "metrics": {k: {"value": float(metrics[k]), "unit": unit}
                        for k, unit in units.items()}}


def traced_metrics(w, seconds: float, untraced_docs_per_s: float, cores: int,
                   workload: str, seed: int, names) -> tuple[dict, bool]:
    """Run the traced pipeline for `seconds` (at least three iterations);
    returns the per-layer metrics (medians over iterations after the
    first; layers the workload does not pass through read 0) and whether
    the workload's own traced checks held."""
    from perfbench.tracing import Tracer

    tr = Tracer()
    counts, pipeline_walls = [], []
    while sum(pipeline_walls) < seconds or len(pipeline_walls) < 3:
        w.prepare()
        it = len(tr.spans)
        with tr.span("iteration"):
            counts.append(w.traced(tr))
        # the traced counterpart of one untraced job
        pipeline_walls.append(sum(s["end"] - s["start"] for s in tr.spans
                                  if s["parent"] == it
                                  and s["name"] in PIPELINE))
    tr.write(CACHE / "traces" / f"{workload}-s{seed}-{tr.run_id}.jsonl")
    out = dict.fromkeys(names, 0.0)
    per_name: dict[str, list[float]] = {}
    for s in tr.spans:
        if s["name"] != "iteration":
            per_name.setdefault(s["name"], []).append(tr.self_time(s))
    for name, vals in per_name.items():
        out[name + "_s"] = steady(vals)
    for key in counts[0]:
        out[key] = steady([c[key] for c in counts])
    n_docs = len(w.doc_ids)
    kernel_s = w.kernel_seconds()
    out[w.kernel + ".ms_per_doc"] = kernel_s * 1000 / n_docs
    out["extract.kernel_share"] = kernel_s / (cores * out["extract.operator_s"])
    out["trace.overhead_docs_per_s"] = (
        untraced_docs_per_s - n_docs / steady(pipeline_walls))
    return out, all(w.traced_ok(c) for c in counts)


def one_core_docs_per_s(cls, input_dir, work_dir, seed, doc_ids,
                        seconds: float) -> float:
    """docs_per_s of the same job on the same input in a fresh local[1]
    session (on the same, already warm JVM)."""
    spark, _, _ = start_session(1)
    w = cls(spark, input_dir, work_dir, seed, doc_ids)
    try:
        closed_loop(w, 0, 1)
        walls = closed_loop(w, seconds, 2)
    finally:
        w.cleanup()
        spark.stop()
    return len(doc_ids) / statistics.median(walls)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(CORPUS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    configure_env()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
