"""live_bars: the live consumer + predict path, streaming.

Five feed directories of JSON lines → ``readStream.text`` →
``json_decode_flatten`` → ``watermarked`` → ``join_feeds`` →
``dedup_within_watermark(["deep_ts"])`` → ``parquet_append_sink`` whose
post-batch hook is ``compose_hooks(incremental_indicators,
streaming_predictions, marker)``. The marker is the benchmark's own
hook: it only records when each epoch's predictions were written.

Phases: a pre-staged backlog is drained first (catch-up), then a
separate load-generator process offers one bar every ``1/rate`` s on a
fixed schedule (live). Each live bar's latency runs from its due time
to the marker of the epoch whose prediction partition holds it; the
bar→epoch map is read from the prediction table after the run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from common import Checks, now, pct, median, spark_counters
import gen

FEATURES = ["close", "volume", "vix", "vol_MA6", "vol_MA20", "price_MA20",
            "bid_0", "ask_0"]
# catch-up batches hold at most this many bars: every bar of a batch
# must fall inside incremental_indicators' default 64-row tail to be
# scored, so the backlog is read in slices (a reader option, not an
# engine argument)
MAX_FILES_PER_TRIGGER = 60
# live bars offered per second: well under what the stream drains on a
# slow 4-core host (MAX_FILES_PER_TRIGGER bars per ~10 s trigger), so the
# open loop measures latency, not a growing queue
RATE = 4.0
# a bar not predicted this long after query start (backlog) or after the
# last bar is due (live) fails; about twice the slowest wait seen, and
# short enough that a failing run still ends inside 180 s
DEADLINE_S = 45.0


def sizes(smoke: bool, seconds: float) -> dict:
    if smoke:
        return {"backlog_bars": 12, "warmup_bars": 6, "history_bars": 300,
                "rate": RATE, "live_seconds": seconds}
    return {"backlog_bars": 20, "warmup_bars": 6, "history_bars": 1000,
            "rate": RATE, "live_seconds": seconds}


class Live:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sz = sizes(ctx.smoke, ctx.seconds)
        self.root = os.path.join(ctx.work, "live")
        self.n_live = max(1, int(round(self.sz["rate"] * self.sz["live_seconds"])))
        self.factory = gen.BarFactory(ctx.seed)

    # -- inputs -------------------------------------------------------------
    def generate(self) -> None:
        # the warm-up feeds use their own seed so no file is shared
        for name, factory, count in (
            ("warm", gen.BarFactory(self.ctx.seed + 1_000_003), self.sz["warmup_bars"]),
            ("main", self.factory, self.sz["backlog_bars"]),
        ):
            feeds = os.path.join(self.root, name, "feeds")
            gen.make_feed_dirs(feeds)
            for i in range(count):
                gen.write_bar(feeds, i, factory.lines(i))
        self.history = os.path.join(self.root, "history.parquet")
        gen.write_history(self.history, self.ctx.seed, self.sz["history_bars"])

    # -- set-up -------------------------------------------------------------
    def fit(self, spark):
        from pyspark.sql import functions as F

        from financial_market_data_analysis_spark.ml import train_target_classifier
        from financial_market_data_analysis_spark.operators.windows import indicator_suite

        hist = indicator_suite(spark.read.parquet(self.history), ["deep_ts"])
        hist = hist.withColumn("bucket_start", F.unix_timestamp("deep_ts"))
        return train_target_classifier(hist, FEATURES)[0]

    def build(self, spark, marker, tr):
        """The streaming query over the main feeds (not started)."""
        from financial_market_data_analysis_spark.functions.schemas import FEED_SCHEMAS
        from financial_market_data_analysis_spark.sources.kafka import json_decode_flatten
        from financial_market_data_analysis_spark.streaming import pipeline as P

        base = os.path.join(self.root, "main")
        streams = {}
        for feed in gen.FEEDS:
            raw = (spark.readStream.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
                   .text(os.path.join(base, "feeds", feed)))
            streams[feed] = P.watermarked(json_decode_flatten(raw, FEED_SCHEMAS[feed]()))
        joined = P.join_feeds(streams["deep"], {k: streams[k] for k in gen.FEEDS[1:]})
        deduped = P.dedup_within_watermark(joined, ["deep_ts"])
        wh = os.path.join(base, "wh")
        pred = os.path.join(base, "pred")
        hooks = P.compose_hooks(
            tr.hook("operators.windows.incremental_indicators", P.incremental_indicators(wh)),
            tr.hook("ml.streaming_predictions", P.streaming_predictions(
                self.model, wh + "_indicators", pred, feature_cols=FEATURES)),
            marker,
        )
        return P.parquet_append_sink(deduped, wh, os.path.join(base, "ckpt"),
                                     post_batch=hooks)

    def warm_up(self, spark) -> None:
        """The same transforms, sink write and indicator hook over the
        warm-up feeds as one batch epoch: compiles and loads what the
        stream runs without paying a second query's start-up. Needs no
        model, so it runs while the model fits."""
        from financial_market_data_analysis_spark.functions.schemas import FEED_SCHEMAS
        from financial_market_data_analysis_spark.sources.kafka import json_decode_flatten
        from financial_market_data_analysis_spark.streaming import pipeline as P

        base = os.path.join(self.root, "warm")
        feeds = {f: json_decode_flatten(spark.read.text(os.path.join(base, "feeds", f)),
                                        FEED_SCHEMAS[f]())
                 for f in gen.FEEDS}
        # dropDuplicatesWithinWatermark is stream-only; its batch twin
        batch = P.join_feeds(feeds["deep"], {k: feeds[k] for k in gen.FEEDS[1:]})
        self.warm_batch = batch.dropDuplicates(["deep_ts"]).localCheckpoint()
        wh = os.path.join(base, "wh")
        P.epoch_idempotent_writer(wh)(self.warm_batch, 0)
        P.incremental_indicators(wh)(self.warm_batch, 0)

    def warm_predict(self, spark) -> None:
        """The predict hook over the warm-up epoch, once the model is fitted."""
        from financial_market_data_analysis_spark.streaming import pipeline as P

        base = os.path.join(self.root, "warm")
        P.streaming_predictions(self.model, os.path.join(base, "wh_indicators"),
                                os.path.join(base, "pred"),
                                feature_cols=FEATURES)(self.warm_batch, 0)

    def setup(self, spark) -> None:
        tr = self.ctx.tracer

        def warm():
            with tr.span("bench.warm_up"):
                self.warm_up(spark)

        # cold start is mostly single-threaded plan compilation, so the
        # model fit and the stream-side warm-up overlap on a second thread
        with ThreadPoolExecutor(max_workers=1) as pool:
            warming = pool.submit(warm)
            with tr.span("ml.train_target_classifier"):
                t = now()
                self.model = self.fit(spark)
                self.fit_s = now() - t
            warming.result()
        with tr.span("bench.warm_up"):
            self.warm_predict(spark)

    # -- measured run -------------------------------------------------------
    def run(self, spark) -> dict:
        ctx = self.ctx
        B = self.sz["backlog_bars"]
        marks: dict[int, float] = {}

        def marker(batch, epoch_id):
            marks[epoch_id] = now()

        hook_tr = HookTimer(ctx.tracer) if ctx.trace else NoHooks
        writer = self.build(spark, marker, hook_tr)
        feeds = os.path.join(self.root, "main", "feeds")

        t_q = now()
        wall_q_ms = time.time() * 1000.0
        q = writer.start()
        stop_error = None
        try:
            # catch-up: until every source has read the whole backlog
            e_backlog = self._wait_rows(q, marks, self._expected_rows(B), t_q + DEADLINE_S)
            t_catchup = marks.get(e_backlog) if e_backlog is not None else None

            # live: open loop in its own process
            log = os.path.join(self.root, "loadgen.log")
            t0 = now() + 0.5
            lg = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
                "--seed", str(ctx.seed), "--feeds", feeds, "--first", str(B),
                "--count", str(self.n_live), "--rate", str(self.sz["rate"]),
                "--t0", repr(t0), "--log", log,
            ])
            lg.wait()
            t_last_due = t0 + (self.n_live - 1) / self.sz["rate"]
            self._wait_rows(q, marks, self._expected_rows(B + self.n_live),
                            t_last_due + DEADLINE_S)
            t_drained = now()
        finally:
            t_stop = now()
            try:
                q.processAllAvailable()
                q.stop()
            except Exception as exc:  # counted as a failure below
                stop_error = repr(exc)
            if q.exception() is not None and stop_error is None:
                stop_error = str(q.exception())
        progress = [p for p in q.recentProgress]
        return {
            "phases": {"live_s": t_drained - t0, "stop_s": now() - t_stop},
            "t_q": t_q, "wall_q_ms": wall_q_ms, "t_catchup": t_catchup,
            "marks": dict(marks), "log": log,
            "progress": progress, "stop_error": stop_error, "hooks": hook_tr,
        }

    def _expected_rows(self, end: int) -> dict[str, int]:
        """Rows each feed holds for bars [0, end)."""
        exp = {f: 0 for f in gen.FEEDS}
        for i in range(end):
            for f, lines in self.factory.lines(i).items():
                exp[f] += len(lines)
        return exp

    def _wait_rows(self, q, marks, expected, deadline):
        """Block until the sources together have read ``expected`` rows
        per feed and that epoch's marker ran; return the epoch id."""
        while now() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            seen = {f: 0 for f in gen.FEEDS}
            for p in q.recentProgress:
                for s in p["sources"]:
                    seen[_feed_of(s["description"])] += s["numInputRows"]
                if all(seen[f] >= expected[f] for f in gen.FEEDS):
                    e = p["batchId"]
                    if e in marks:
                        return e
                    break
            time.sleep(0.05)
        return None


def _start_s(progress) -> float:
    """A progress event's trigger start, wall-clock epoch seconds."""
    import datetime as dt

    return dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _feed_of(description: str) -> str:
    for f in gen.FEEDS:
        if description.rstrip("]").endswith(f"/{f}"):
            return f
    raise ValueError(description)


class NoHooks:
    """Untraced runs call the engine's hooks unwrapped."""

    @staticmethod
    def hook(name, fn):
        return fn


class HookTimer:
    """Traced runs: a span around each engine hook, per epoch."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.times: dict[str, dict[int, float]] = {}

    def hook(self, name, fn):
        per_epoch = self.times.setdefault(name, {})

        def _wrapped(batch, epoch_id):
            t = now()
            with self.tracer.span(name):
                fn(batch, epoch_id)
            per_epoch[epoch_id] = (now() - t) * 1000.0

        return _wrapped


# -- the workload as the runner sees it --------------------------------------

def generate(ctx):
    w = Live(ctx)
    w.generate()
    return w, {k: v for k, v in w.sz.items()} | {"live_bars": w.n_live}


def setup(ctx, w, spark):
    w.setup(spark)


def measure(ctx, w, spark):
    w.result = w.run(spark)


def check_and_report(ctx, w, spark):
    """Output checks (outside the timed region), then metrics."""
    from financial_market_data_analysis_spark.functions.schemas import FEED_SCHEMAS
    from financial_market_data_analysis_spark.sources.kafka import json_decode_flatten
    from financial_market_data_analysis_spark.streaming import pipeline as P

    r = w.result
    chk = Checks()
    B, L = w.sz["backlog_bars"], w.n_live
    n_bars = B + L
    chk.check(r["stop_error"] is None, f"exception at stop: {r['stop_error']}")

    base = os.path.join(w.root, "main")
    pred = spark.read.parquet(os.path.join(base, "pred"))
    rows = pred.select("deep_ts", "epoch_id", "prediction").collect()
    first_ts = gen.bar_ts(0)
    epochs_of: dict[int, list[int]] = {}
    for row in rows:
        i = int((row.deep_ts - first_ts).total_seconds()) // gen.BAR_SECONDS
        epochs_of.setdefault(i, []).append(row.epoch_id)
    # every offered bar predicted exactly once, by the deadline
    missing = [i for i in range(n_bars) if len(epochs_of.get(i, [])) == 0]
    twice = [i for i in range(n_bars) if len(epochs_of.get(i, [])) > 1]
    stray = [i for i in epochs_of if not 0 <= i < n_bars]
    chk.count(n_bars, len(missing) + len(twice), "bars not predicted exactly once")
    chk.check(not stray, f"predictions for bars never offered: {stray[:5]}")

    # warehouse rows == a batch join_feeds over the same feed files
    feeds = {f: json_decode_flatten(spark.read.text(os.path.join(base, "feeds", f)),
                                    FEED_SCHEMAS[f]())
             for f in gen.FEEDS}
    expect = P.join_feeds(feeds["deep"], {k: feeds[k] for k in gen.FEEDS[1:]})
    expect = expect.dropDuplicates(["deep_ts"]).toPandas()
    got = spark.read.parquet(os.path.join(base, "wh")).toPandas()
    got = got[list(expect.columns)]
    expect = expect.sort_values("deep_ts").reset_index(drop=True)
    got = got.sort_values("deep_ts").reset_index(drop=True)
    if len(got) == len(expect):
        same = (got == expect) | (got.isna() & expect.isna())
        bad_rows = int((~same.all(axis=1)).sum())
    else:
        bad_rows = n_bars
    chk.count(n_bars, min(n_bars, bad_rows + abs(len(got) - n_bars)),
              "warehouse rows differ from a batch join_feeds")
    chk.check(len(expect) == n_bars, f"batch join holds {len(expect)} bars, {n_bars} offered")

    # latency per live bar: due -> marker of the epoch that predicted it
    due, late_ms = {}, []
    with open(r["log"]) as fh:
        for line in fh:
            i, d, written = line.split()
            due[int(i)] = float(d)
            late_ms.append((float(written) - float(d)) * 1000.0)
    marks = r["marks"]
    lat = []
    for i in range(B, n_bars):
        es = epochs_of.get(i)
        if es and es[0] in marks and i in due:
            lat.append(marks[es[0]] - due[i])
    catchup_s = (r["t_catchup"] - r["t_q"]) if r["t_catchup"] else float("nan")
    chk.check(r["t_catchup"] is not None, "backlog not predicted by the deadline")

    e2e = {
        "latency_p50_s": median(lat) if lat else float("nan"),
        "latency_p90_s": pct(lat, 90) if lat else float("nan"),
        "rows_per_s": B / catchup_s if r["t_catchup"] else float("nan"),
    }
    # one [batch id, input rows, trigger ms, start s after query start] per trigger
    triggers = [[p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution", 0),
                 round(_start_s(p) - r["wall_q_ms"] / 1000.0, 3)] for p in r["progress"]]
    detail = {"triggers": triggers, "live_latency_samples": len(lat), "live_bars": L,
              "backlog_bars": B, "catchup_s": catchup_s, "epochs": len(marks),
              **r["phases"]}
    layer = {"ml.train_target_classifier_s": w.fit_s,
             "bench.generator_late_ms_p99": pct(late_ms, 99),
             "bench.generator_late_ms_max": max(late_ms) if late_ms else 0.0}
    detail.update(layer)
    if ctx.trace:
        # the joins' output before dedup, recomputed over the same files:
        # the stream's own operator row counters are inflated, because
        # foreachBatch re-executes the batch plan once per action on it
        n_joined = P.join_feeds(feeds["deep"], {k: feeds[k] for k in gen.FEEDS[1:]}).count()
        layer.update(_layer_metrics(ctx, spark, r, epochs_of, due, n_joined, len(got)))
    return chk, e2e, layer, detail


def _layer_metrics(ctx, spark, r, epochs_of, due, n_joined, n_stored) -> dict:
    prog = list(r["progress"])
    dur = lambda p, k: float(p["durationMs"].get(k, 0))  # noqa: E731
    data = [p for p in prog if p["numInputRows"] > 0]
    trig = [dur(p, "triggerExecution") for p in prog]
    hooks = r["hooks"].times if isinstance(r["hooks"], HookTimer) else {}
    ind = hooks.get("operators.windows.incremental_indicators", {})
    prd = hooks.get("ml.streaming_predictions", {})
    sink_write = [dur(p, "addBatch") - ind.get(p["batchId"], 0.0) - prd.get(p["batchId"], 0.0)
                  for p in data]

    def ops(p, kind):
        return [o for o in p.get("stateOperators", []) if o["operatorName"] == kind]

    def ssum(kind, key):
        return float(sum(o.get(key, 0) for p in prog for o in ops(p, kind)))

    last = prog[-1] if prog else {"stateOperators": []}
    join_rows = sum(o["numRowsTotal"] for o in ops(last, "symmetricHashJoin"))
    join_bytes = sum(o["memoryUsedBytes"] for o in ops(last, "symmetricHashJoin"))
    dd_name = "dedupeWithinWatermark"
    deep_in = float(sum(s["numInputRows"] for p in prog for s in p["sources"]
                        if _feed_of(s["description"]) == "deep"))

    # jobs per micro-batch: jobs submitted inside each trigger's window
    windows = {}
    for p in prog:
        lo = _start_s(p) * 1000.0
        windows[f"batch{p['batchId']}"] = (lo, lo + dur(p, "triggerExecution"))
    counters = spark_counters(spark, [], windows)
    jobs = [counters[f"batch{p['batchId']}"]["jobs"] for p in data]

    # queue wait: bar due -> start of the trigger that predicted it
    t_of_epoch = {}
    for p in prog:
        # progress timestamps are wall clock; shift onto the monotonic clock
        t_of_epoch[p["batchId"]] = r["t_q"] + _start_s(p) - r["wall_q_ms"] / 1000.0
    qwait = [(t_of_epoch[es[0]] - due[i]) * 1000.0 for i, es in epochs_of.items()
             if i in due and es[0] in t_of_epoch]

    src = {k: [dur(p, k) for p in data] for k in ("latestOffset", "getBatch")}
    return {
        "sources.latest_offset_ms": median(src["latestOffset"]),
        "sources.get_batch_ms": median(src["getBatch"]),
        "sources.input_rows_per_batch": median([p["numInputRows"] for p in data]),
        "streaming.pipeline.batches": float(len(prog)),
        "streaming.pipeline.trigger_ms_p50": median(trig),
        "streaming.pipeline.trigger_ms_p90": pct(trig, 90),
        "streaming.pipeline.query_planning_ms": median([dur(p, "queryPlanning") for p in data]),
        "streaming.pipeline.add_batch_ms": median([dur(p, "addBatch") for p in data]),
        "streaming.pipeline.wal_commit_ms": median([dur(p, "walCommit") + dur(p, "commitOffsets")
                                                    for p in data]),
        "streaming.pipeline.sink_write_ms": median(sink_write),
        "streaming.pipeline.queue_wait_ms": median(qwait),
        "streaming.pipeline.jobs_per_batch": median(jobs),
        "operators.joins.state_rows": float(join_rows),
        "operators.joins.state_bytes": float(join_bytes),
        "operators.joins.state_commit_ms": ssum("symmetricHashJoin", "commitTimeMs") / max(len(prog), 1),
        "operators.joins.rows_dropped_by_watermark": ssum("symmetricHashJoin", "numRowsDroppedByWatermark"),
        "operators.joins.match_ratio": n_joined / deep_in if deep_in else 0.0,
        "operators.dedup.state_rows": float(sum(o["numRowsTotal"] for o in ops(last, dd_name))),
        "operators.dedup.state_commit_ms": ssum(dd_name, "commitTimeMs") / max(len(prog), 1),
        "operators.dedup.drop_ratio": (n_joined - n_stored) / n_joined if n_joined else 0.0,
        "operators.windows.incremental_indicators_ms": median(list(ind.values())),
        "ml.streaming_predictions_ms": median(list(prd.values())),
    }
