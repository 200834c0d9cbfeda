"""Pipeline benchmark: one seeded workload per run, every metric by name.

    python3 perfbench/run.py --workload ingest_live --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, runs the workload
against the ``coinbase_data_pipeline_spark`` package of that checkout on
``local[<cores>]`` Spark, checks the outputs, prints a report (one
``# name = value unit`` line per metric), and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``,
its ``per_layer`` metrics with ``--trace 1``).

With ``--trace 1`` every timed operation is traced (see harness.py);
the spans are written to ``.perfbench_work/<workload>-<seed>/trace.json``
and the report gives the tracing overhead: this run's ``latency_p50_s``
minus that of the last untraced run of the workload in this checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "coinbase_data_pipeline_spark"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: str) -> None:
    """Keep Spark's scratch space inside the checkout and size it to
    this machine; must run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # measure the session's own shuffle sizing, not an override
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


WORKLOADS = ("ingest_live", "ingest_small", "fetch_mix", "predict_cycle")


def main() -> None:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        _fail(f"no {PACKAGE}/ package next to perfbench/ in {ROOT}")
    if not os.path.isfile(spec_path):
        _fail(f"no BENCHMARK.json in {ROOT}")
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import gen, harness, probes
    from perfbench.fetch import FetchMix
    from perfbench.ingest import IngestLive, IngestSmall
    from perfbench.predict import PredictCycle
    workload = {w.name: w for w in (IngestLive, IngestSmall, FetchMix,
                                    PredictCycle)}[args.workload]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)

    ctx = harness.Ctx(work, args.seed, args.seconds, bool(args.trace))
    wl = workload(ctx)
    phases = {}

    def timed(phase, fn):
        t0 = time.perf_counter()
        out = fn()
        phases[phase] = time.perf_counter() - t0
        return out

    try:
        timed("prepare", wl.prepare)
        timed("setup", lambda: ctx.setup(wl.warmup))
        timed("run", wl.run)
        errors = timed("check", wl.check)
        report = common_metrics(ctx) | wl.metrics()
        report["peak_rss_mb"] = (probes.peak_rss_mb(ctx.jvm_pid()), "MB",
                                 "VmHWM of the Python driver + the JVM")
        if args.trace:
            ctx.dump_trace()
    finally:
        ctx.shutdown()
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)

    p50 = report["latency_p50_s"][0]
    untraced = os.path.join(ROOT, ".perfbench_work",
                            f"untraced-{args.workload}.json")
    if not args.trace:
        with open(untraced, "w") as f:
            json.dump({"latency_p50_s": p50, "seed": args.seed}, f)
    elif os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        report["trace.overhead_s"] = (
            p50 - base["latency_p50_s"], "s",
            f"traced latency_p50_s minus untraced (seed {base['seed']})")
    failed = wl.failed + len(errors)
    report["error_rate"] = (failed / wl.attempted, "1",
                            f"{failed} failed of {wl.attempted}")
    for e in errors:
        print(f"# CHECK FAILED: {e}")
    phases["total"] = time.perf_counter() - t_start
    report |= {f"phase.{k}_s": (v, "s", "wall time of the run's phase")
               for k, v in phases.items()}
    for k in wl.sizes:
        value, why = gen.SIZES[k]
        print(f"# size {k} = {value}  ({why})")
    for name, (value, unit, note) in report.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}"
              + (f"  ({note})" if note else ""))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in report:
            _fail(f"workload {args.workload} does not measure "
                  f"{m['name']}")
        value, unit, _ = report[m["name"]]
        if unit != m["unit"] or not math.isfinite(value):
            _fail(f"{m['name']} = {value} {unit}, spec unit {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    print(json.dumps({"correct": not errors and wl.failed == 0,
                      "attempted": wl.attempted, "failed": failed,
                      "metrics": metrics}))


def common_metrics(ctx) -> dict:
    """Set-up, Spark job counts, and the traced operations' plan time,
    layer self times and counts, common to every workload."""
    from perfbench import probes
    out = {
        "setup_s": (ctx.setup_s, "s", "package import + get_spark() "
                    "(JVM launch) + warm-up"),
        "session.get_spark_s": (ctx.get_spark_s, "s",
                                "get_spark() call, JVM launch included"),
    }
    n = len(ctx.job_counts)
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}_per_op"] = (
            probes.median([getattr(c, k) for c in ctx.job_counts]),
            "count", f"median over {n} untraced ops")
    out["spark.failed_tasks"] = (
        sum(c.failed_tasks for c in ctx.job_counts), "count", "")
    if ctx.ops:
        n = len(ctx.ops)
        out["driver.plan_s"] = (
            probes.median([r.plan_s for r in ctx.ops]), "s",
            f"time in lazy layer calls, median over {n} traced ops")
        selfs = [r.self_times() for r in ctx.ops]
        sums = [sum(v for k, v in d.items() if k != "operators.self")
                for d in selfs]
        out["trace.layer_self_sum_s"] = (probes.median(sums), "s",
                                         "sum of layer self times per "
                                         "traced op, median")
        for name, v in ctx.layer_medians().items():
            share = probes.median([d[name] / t for d, t in zip(selfs, sums)
                                   if name in d and t])
            out[f"{name}_s"] = (v, "s", "self time, median over the "
                                f"traced ops that call it (of {n}); "
                                f"{100 * share:.0f}% of their layer sum")
        for name, v in ctx.count_medians().items():
            out[name] = (v, "B" if name.startswith("sinks.bytes")
                         else "count", "median over the traced ops "
                         f"that record it (of {n})")
    return out


if __name__ == "__main__":
    main()
