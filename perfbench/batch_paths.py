"""batch_paths: the engine's two batch paths, one after the other per
pass — a history backfill into the warehouse (``backfill``) and a
corpus near-dup run (``corpus_dedup``).

A pass is the whole batch job; its latency is what the user waits for,
and ``rows_per_s`` counts both inputs (events + documents). The
per-layer metrics of both paths are reported separately.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from common import median, now, pct
import backfill
import corpus_dedup


class Batch:
    def __init__(self, ctx):
        self.backfill = backfill.Backfill(ctx)
        self.corpus = corpus_dedup.Corpus(ctx)
        self.rows = self.backfill.sz["events"] + self.corpus.sz["docs"]


def generate(ctx):
    w = Batch(ctx)
    w.backfill.generate()
    w.corpus.generate()
    return w, {"backfill": dict(w.backfill.sz), "corpus": dict(w.corpus.sz)}


def setup(ctx, w, spark):
    def warm(fn):
        with ctx.tracer.span("bench.warm_up"):
            fn()

    # cold start is mostly single-threaded plan compilation, so the two
    # paths warm up side by side
    with ThreadPoolExecutor(max_workers=1) as pool:
        warming = pool.submit(warm, lambda: w.corpus.warm_up(spark))
        warm(lambda: w.backfill.one_pass(spark, "warm"))
        warming.result()


def measure(ctx, w, spark):
    w.passes = []
    w.backfill.passes, w.corpus.passes = [], []
    t_end = now() + ctx.seconds
    while not w.passes or now() < t_end:
        with ctx.tracer.span("bench.pass"):
            t = now()
            w.backfill.passes.append(w.backfill.one_pass(spark, "data"))
            w.corpus.passes.append(w.corpus.one_pass(spark))
            w.passes.append(now() - t)


def check_and_report(ctx, w, spark):
    chk, layer, detail = backfill.check_and_report(w.backfill, spark)
    chk2, layer2, detail2 = corpus_dedup.check_and_report(w.corpus, spark)
    chk.attempted += chk2.attempted
    chk.failed += chk2.failed
    chk.notes += chk2.notes
    e2e = {
        "latency_p50_s": median(w.passes),
        "latency_p90_s": pct(w.passes, 90),
        "rows_per_s": w.rows * len(w.passes) / sum(w.passes),
    }
    return chk, e2e, layer | layer2, {"pass_s": w.passes, "backfill": detail,
                                      "corpus": detail2}
