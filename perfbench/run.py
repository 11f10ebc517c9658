"""Benchmark of the engine's three user paths, in two workloads:
live_bars (streaming bar → prediction) and batch_paths (history backfill
→ model, then corpus near-dup).

    python3 perfbench/run.py --workload {live_bars,batch_paths}
                             --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. Inputs are generated from ``--seed`` into
``.bench_work/`` (deleted at exit); the engine is imported from the
checkout and driven only through its public functions. The last stdout
line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted``/``failed`` count the output checks (failed / attempted is
the error rate). With ``--trace 0`` the metrics are the end-to-end ones
of BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, and
the spans (name, parent, start, end, self time) are written to
``.bench_out/<workload>-seed<N>-trace.json``. The line before the result
holds the provenance (seed, cores, Spark/Java versions, input sizes,
traced flag) and per-run details such as sample counts.

End-to-end metrics, per workload:

* ``setup_s``: process start (input generation excluded) through
  ``get_spark``, the serving model's fit (live_bars) and the workload's
  warm-up pass. Measured once per run: a second set-up would add
  10-15 s to every run.
* ``latency_p50_s`` / ``latency_p90_s``: live_bars: per live bar, from its
  due time at the load generator to the return of the marker hook of the
  epoch that predicted it. batch_paths: per pass, from the input files
  to the finished outputs (the warehouse, then the cluster table).
* ``rows_per_s``: live_bars: backlog bars / time from query start until
  the backlog's predictions are written. batch_paths: input rows (events
  + documents) per second over the measured passes.
* ``peak_rss_mb``: VmHWM of the JVM plus this Python process.
"""

from __future__ import annotations

import time

T_PROC0 = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "financial_market_data_analysis_spark"
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import Tracer, now  # noqa: E402

WORKLOADS = ("live_bars", "batch_paths")
# spans whose Spark jobs get task counters in the traced run
COUNTED_SPANS = (
    "plans.full_row.write", "ml.train_target_classifier",
    "functions.text.quality_filter", "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_dedup", "operators.dedup.connected_components",
    "operators.windows.incremental_indicators", "ml.streaming_predictions",
)
COUNTERS = ("task_s", "busy_share", "shuffle_bytes", "spill_bytes", "gc_ms", "task_skew")


class Ctx:
    def __init__(self, a, work):
        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = bool(a.trace)
        self.smoke = a.smoke
        self.work = work
        self.cores = common.cpu_count()
        self.tracer = Tracer(self.trace)


def spec_metrics(section: str) -> list[tuple[str, str]]:
    """(name, unit) of every metric in a BENCHMARK.json section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[section]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="seconds-long inputs, for the benchmark's own tests")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run.py: no {PACKAGE}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_env(work)
    ctx = Ctx(a, work)
    mod = __import__(a.workload)
    spark = None
    try:
        t = now()
        w, sizes = mod.generate(ctx)
        generate_s = now() - t

        with ctx.tracer.span("session.get_spark"):
            t = now()
            spark = common.start_spark()
            get_spark_s = now() - t
        ctx.tracer.sc = spark.sparkContext if ctx.trace else None
        mod.setup(ctx, w, spark)
        setup_s = now() - T_PROC0 - generate_s

        t = now()
        mod.measure(ctx, w, spark)
        t_check = now()
        chk, e2e, layer, detail = mod.check_and_report(ctx, w, spark)
        detail.update(measure_s=t_check - t, check_s=now() - t_check)
        e2e["setup_s"] = setup_s
        pid = common.jvm_pid(spark)
        e2e["peak_rss_mb"] = common.vm_hwm_mb(pid) + common.vm_hwm_mb("self")

        layer["session.get_spark_s"] = get_spark_s
        layer["bench.generate_s"] = generate_s
        if ctx.trace:
            layer.update(span_counters(ctx, spark))
            layer["bench.trace_overhead_ms"] = ctx.tracer.overhead_s * 1000.0
            for k, _ in spec_metrics("end_to_end"):
                layer[f"bench.traced.{k}"] = e2e[k]
            write_trace(ctx, detail)
        prov = common.provenance(spark, a.seed, a.workload, ctx.trace, sizes)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.join(ROOT, ".bench_work"))

    # a layer a workload does not run reports 0 on it
    if ctx.trace:
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in spec_metrics("per_layer")}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in spec_metrics("end_to_end")}
    correct = chk.failed == 0 and all(
        v["value"] == v["value"] for v in metrics.values())  # no NaN
    detail.update(get_spark_s=get_spark_s, check_failures=chk.notes)
    common.emit(correct, chk, metrics, {"provenance": prov, **detail})
    return 0


def span_counters(ctx, spark) -> dict:
    """Task counters of each counted span's jobs, and their busy share."""
    wall = {}
    for s in ctx.tracer.self_times():
        wall[s["name"]] = wall.get(s["name"], 0.0) + s["duration_s"]
    counters = common.spark_counters(spark, COUNTED_SPANS)
    out = {}
    for name in COUNTED_SPANS:
        c = counters[name]
        span_wall = wall.get(name, 0.0)
        c["busy_share"] = c["task_s"] / (span_wall * ctx.cores) if span_wall else 0.0
        for k in COUNTERS:
            out[f"{name}.{k}"] = float(c[k])
    return out


def write_trace(ctx, detail) -> None:
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{ctx.workload}-seed{ctx.seed}-trace.json")
    with open(path, "w") as fh:
        json.dump({"workload": ctx.workload, "seed": ctx.seed,
                   "spans": ctx.tracer.self_times()}, fh, indent=1)
    detail["trace_file"] = os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
