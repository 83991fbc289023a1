"""Closed-loop benchmark of the vector-search engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 25 --trace 0

Run from the repository root. Each run starts its own local Spark session,
generates a seeded corpus (see ``data.py``), builds what the workload needs
into a fresh scratch directory under ``.perfbench/`` and deletes it at the
end. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
untraced pass, then replays its request sequence with tracing on and prints
the per-layer metrics (see ``README.md``). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from itertools import chain, islice

import numpy as np

import data as D
from tracing import Tracer, executor_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ydb_vector_search_simple_api_spark"
DRIVER_HEAP = "1g"


def load_spec() -> dict:
    """``BENCHMARK.json`` at the repository root: the workload names and
    the name and unit of every metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(spec: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[key]}


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_HEAP)
        # keep every file the JVM writes inside the scratch directory
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def run_pass(rounds, run_op, deadline: float | None = None):
    """Run rounds of ops in a closed loop until they end or, between
    rounds, ``deadline`` has passed."""
    results = []
    for ops in rounds:
        if deadline is not None and time.perf_counter() >= deadline:
            break
        results += [run_op(op) for op in ops]
    return results


def hd_quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics. On a few dozen samples it varies less than
    the one or two order statistics a plain percentile reads."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    # Beta(a, b) mass of each interval ((i-1)/n, i/n], by the midpoint rule
    grid = (np.arange(200 * n) + 0.5) / (200 * n)
    dens = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    w = dens.reshape(n, 200).sum(axis=1)
    return float(w @ x / w.sum())


def drift_ratio(reads) -> float:
    """p50 of the reads in the first half of the timed rounds over p50 of
    those in the second half; above 1 while the JVM is still warming."""
    cut = (reads[0].op.round + reads[-1].op.round + 1) / 2
    first = [r.wall_s for r in reads if r.op.round < cut]
    second = [r.wall_s for r in reads if r.op.round >= cut]
    return median(first) / median(second)


def end_to_end(setup_s, warm, results, gaps, window_s, rss_mb) -> dict:
    """``gaps``: request kinds the timed pass lacked, counted as failures."""
    reads = [r for r in results if r.op.kind == "read"]
    exact = [r.wall_s for r in reads if r.op.exact]
    ann = [r.wall_s for r in reads if not r.op.exact]
    # recall is not a timing, so the warm-up reads add to its sample
    recalls = [
        r.recall for r in warm + reads
        if r.op.kind == "read" and not r.op.exact and r.recall is not None
    ]
    failed = sum(not r.ok for r in results) + gaps
    return {
        "setup_s": setup_s,
        "exact_latency_p50_s": hd_quantile(exact, 0.5),
        "ann_latency_p50_s": hd_quantile(ann, 0.5),
        # the highest quantile with about ten samples beyond it in serve
        "latency_p75_s": hd_quantile([r.wall_s for r in reads], 0.75),
        "throughput_qps": len(results) / window_s,
        "recall_at_10": float(np.mean(recalls)),
        "success_rate": 1.0 - failed / len(results),
        "peak_rss_mb": rss_mb,
    }


def layer_metrics(wl, ctx, untraced, traced, tracer, names) -> dict:
    from workloads import SHAPES

    out = dict.fromkeys(names, 0.0)
    out.update(ctx.setup)
    reads = [r for r in untraced if r.op.kind == "read"]
    out["http_server.overhead_p50_s"] = median([r.wall_s - r.server_s for r in reads])
    out["api.search_p50_s"] = median([r.server_s for r in reads])
    for s in SHAPES:
        # ingest_ivf's full-width reads are exact, not the ivf shape at width 4
        mine = [r for r in reads if r.op.shape == s and r.op.exact == (s == "exact")]
        if mine:
            out[f"shape.{s}.latency_p50_s"] = median([r.wall_s for r in mine])
            out[f"shape.{s}.recall_at_10"] = float(np.mean([r.recall for r in mine]))
    out["timed.drift_ratio"] = drift_ratio(reads)
    out.update(wl.extra_metrics(untraced))

    t_reads = [r for r in traced if r.op.kind == "read"]
    df_s = tracer.durations("api.search_df")
    collect_s = tracer.durations("api.collect")
    out["api.collect_p50_s"] = median([collect_s[r.req] for r in t_reads])
    for s in SHAPES:
        mine = [df_s[r.req] for r in t_reads if r.op.shape == s]
        if mine:
            out[f"api.search_df.{s}.p50_s"] = median(mine)
    for p in ("analysis", "optimization", "planning"):
        out[f"spark.{p}_ms"] = median([tracer.phases[r.req][p] for r in t_reads])
    counts = np.array([tracer.job_counts(r.req) for r in t_reads], dtype=float)
    for j, c in enumerate(("jobs", "stages", "tasks")):
        out[f"spark.{c}_per_request"] = float(counts[:, j].mean())
    out["trace.overhead_ratio"] = median([r.wall_s for r in t_reads]) / median(
        [r.server_s for r in reads]
    )
    return out


def add_executor_metrics(out, traced, event_dir) -> None:
    """Event-log totals per read request; read after the session stops,
    when the log is complete."""
    per_group = executor_metrics(event_dir)
    t_reads = [r for r in traced if r.op.kind == "read"]
    for key in ("run_s", "cpu_s", "shuffle_write_bytes", "spill_bytes"):
        vals = [per_group.get(r.req, {}).get(key, 0.0) for r in t_reads]
        out[f"executor.{key}_per_request"] = float(np.mean(vals))


def run(args, spec: dict, work: str, t_start: float) -> dict:
    from workloads import WORKLOADS, Ctx

    layer_units = units(spec, "per_layer")
    cores = len(os.sched_getaffinity(0))
    spark = start_spark(work, cores, bool(args.trace))
    try:
        t_session = time.perf_counter()
        data_dir = os.path.join(work, "data")
        corpus = D.Corpus(args.seed)
        corpus.write(data_dir)
        ctx = Ctx(spark, data_dir, work, corpus, args.seed)
        ctx.setup["setup.session_s"] = t_session - t_start
        ctx.setup["setup.data_s"] = time.perf_counter() - t_session

        wl = WORKLOADS[args.workload](ctx)
        try:
            # untraced pass: warm-up, then the timed closed loop over HTTP
            wl.prepare_pass()
            t_warm = time.perf_counter()
            warm = run_pass(wl.warmup_ops(), wl.run_http)
            t0 = time.perf_counter()
            ctx.setup["setup.warmup_s"] = t0 - t_warm
            setup_s = t0 - t_start
            deadline = None if wl.op_bounded else t0 + args.seconds
            timed = run_pass(wl.timed_ops(), wl.run_http, deadline)
            window_s = time.perf_counter() - t0

            # traced pass: the same request sequence through the api
            traced, tracer = [], Tracer(spark)
            if args.trace:
                wl.prepare_pass()
                if wl.op_bounded:  # reach the same index state first
                    warm += run_pass(wl.warmup_ops(), wl.run_http)
                replay = islice(chain.from_iterable(wl.timed_ops()), len(timed))
                traced = [
                    wl.run_traced(op, tracer, f"req{i}") for i, op in enumerate(replay)
                ]
            rss = {
                "rss.python_mb": vm_hwm_mb("self"),
                "rss.jvm_mb": vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
            }
            if args.trace:
                metrics = layer_metrics(wl, ctx, timed, traced, tracer, layer_units)
                metrics.update(rss)
        finally:
            wl.close()
    finally:
        stop_spark(spark)

    gaps = wl.missing(timed)
    for g in gaps:
        print(f"check failed: no {g} in the timed pass", file=sys.stderr)
    everything = warm + timed + traced
    failed = sum(not r.ok for r in everything) + len(gaps)
    if args.trace:
        add_executor_metrics(metrics, traced, os.path.join(work, "events"))
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        declared = layer_units
    else:
        rss_mb = rss["rss.python_mb"] + rss["rss.jvm_mb"]
        metrics = end_to_end(setup_s, warm, timed, len(gaps), window_s, rss_mb)
        declared = units(spec, "end_to_end")
    undeclared = set(metrics) - set(declared)
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    reads = [r for r in timed if r.op.kind == "read"]
    ann = [r for r in reads if not r.op.exact]
    filtered = sum(r.op.body.get("filter") is not None for r in reads)
    print(
        f"{args.workload}: {len(timed)} timed ops in {window_s:.1f}s, "
        f"{sum(r.op.repeat for r in ann)}/{len(ann)} ANN reads repeat, "
        f"{filtered} filtered, drift ratio {drift_ratio(reads):.3f}, "
        f"{failed} failed of {len(everything)}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": len(everything),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }


def main() -> int:
    from_dir = os.getcwd()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()
    spec = load_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        ap.error(f"unknown workload {args.workload!r}")

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found beside perfbench/ in {from_dir}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no /tmp/hsperfdata_* from the JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, spec, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
