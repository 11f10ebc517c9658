"""Shared plumbing: run context, session start/stop, spans, Spark
status-store counters, percentiles and the result line."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time

# one clock for every timestamp the benchmark compares, also across the
# load-generator process (CLOCK_MONOTONIC is system-wide on Linux)
now = time.monotonic


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.isdigit():
        return int(env)
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and size the session to this machine before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
    # in the launcher JVM of spark-submit as well as in Spark's own JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} {jvm_opts} -Dderby.system.home={tmp}"
        " -Dspark.ui.showConsoleProgress=false"
    ).strip()


def start_spark():
    from financial_market_data_analysis_spark import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Checks:
    """Output checks: each is one attempted operation, failed or not."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{what}: {failed}/{attempted}")


class Tracer:
    """Spans recorded in memory around each call into a layer.

    With ``enabled=False`` a span costs one branch. When enabled, each
    span also tags the Spark jobs its thread starts with the span name
    (job group), so the status store can attribute task counters to it.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # the SparkContext whose jobs spans tag, once started
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        # engine hooks open spans on the stream's callback thread
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = now()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "start": t_in, "end": None}
        with self._lock:
            stack.append(len(self.spans))
            self.spans.append(rec)
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
        rec["start"] = now()
        try:
            yield
        finally:
            t_out = now()
            rec["end"] = t_out
            stack.pop()
            if self.sc is not None:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, prev_group)
            with self._lock:
                self.overhead_s += (rec["start"] - t_in) + (now() - t_out)

    def self_times(self) -> list[dict]:
        """Spans with duration and self time (duration minus the union of
        the intervals its direct children cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            p = s["parent"]
            if isinstance(p, int):
                kids.setdefault(p, []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(i, [])):
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            dur = s["end"] - s["start"]
            parent = s["parent"]
            out.append({
                "name": s["name"],
                "parent": self.spans[parent]["name"] if isinstance(parent, int) else parent,
                "start": s["start"], "end": s["end"],
                "duration_s": dur, "self_s": dur - covered,
            })
        return out


def _opt(o):
    """Scala Option -> Python value."""
    return o.get() if o.isDefined() else None


def spark_counters(spark, groups, windows: dict | None = None) -> dict:
    """Per-span Spark counters from the application status store.

    Jobs are attributed to a span by their job group (set by
    ``Tracer.span``). ``windows`` maps extra span names to
    ``(submit_lo_ms, submit_hi_ms)`` epoch-ms intervals: jobs submitted
    in the interval are attributed by time instead (for spans whose
    jobs run on a thread the tracer does not control).
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = store.jobsList(None)
    by_span: dict[str, list] = {g: [] for g in groups}
    for w in windows or {}:
        by_span.setdefault(w, [])
    for k in range(jobs.size()):
        j = jobs.apply(k)
        g = _opt(j.jobGroup())
        if g in by_span:
            by_span[g].append(j)
        sub = _opt(j.submissionTime())
        for w, (lo, hi) in (windows or {}).items():
            if sub is not None and lo <= sub.getTime() <= hi:
                by_span[w].append(j)
    out = {}
    for name, js in by_span.items():
        stage_ids = set()
        for j in js:
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_ids.add(ids.apply(k))
        run_ms = shuffle = spill = gc = 0
        worst = (0, None, None)  # (run ms, stage id, attempt) of the heaviest stage
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            except Exception:
                continue  # evicted from the store
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                run_ms += sd.executorRunTime()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                gc += sd.jvmGcTime()
                if sd.executorRunTime() > worst[0]:
                    worst = (sd.executorRunTime(), sid, sd.attemptId())
        out[name] = {
            "task_s": run_ms / 1000.0,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "gc_ms": gc,
            # 0 when no stage of the span ran a task, like every counter
            "task_skew": _stage_skew(store, worst[1], worst[2]) if worst[1] is not None else 0.0,
            "jobs": len(js),
        }
    return out


def _stage_skew(store, sid: int, attempt: int) -> float:
    tasks = store.taskList(sid, attempt, 100_000)
    times = []
    for k in range(tasks.size()):
        m = _opt(tasks.apply(k).taskMetrics())
        if m is not None:
            times.append(m.executorRunTime())
    if len(times) < 2:
        return 1.0
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def provenance(spark, seed: int, workload: str, trace: bool, sizes: dict) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "workload": workload,
        "seed": seed,
        "cores": cpu_count(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "traced": bool(trace),
        "sizes": sizes,
    }


def emit(correct: bool, checks: Checks, metrics: dict, extra: dict) -> None:
    """Print the provenance/detail line, then the result as the LAST
    stdout line."""
    print(json.dumps({"detail": extra}, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(max(checks.attempted, 1)),
        "failed": int(checks.failed),
        "metrics": metrics,
    }))
    sys.stdout.flush()
