"""The backfill path of batch_paths: event history → full-width
warehouse.

``full_row(spark, dir, group_cols=("symbol",))`` over a year of generated
events (4 series × 6-hour bars), then a parquet warehouse write. One
pass is what a user waits for when rebuilding the warehouse from
history. The model fit on a warehouse is measured in live_bars' set-up,
not here: a second cold and warm fit per run would not fit the
benchmark's time budget.
"""

from __future__ import annotations

import os

from common import Checks, median, now
import gen

RTOL = 1e-9


def sizes(smoke: bool) -> dict:
    # the warm-up and smoke histories are short so each 6-hour bar still
    # sees all five event types
    if smoke:
        return {"events": 20_000, "days": 60, "warmup_events": 10_000, "warmup_days": 30}
    return {"events": 80_000, "days": 365,
            "warmup_events": 5_000, "warmup_days": 15}


class Backfill:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sz = sizes(ctx.smoke)
        self.root = os.path.join(ctx.work, "backfill")

    def generate(self) -> None:
        gen.write_events(os.path.join(self.root, "data", "events.parquet"),
                         self.ctx.seed, self.sz["events"], self.sz["days"])
        gen.write_events(os.path.join(self.root, "warm", "events.parquet"),
                         self.ctx.seed + 1_000_003, self.sz["warmup_events"],
                         self.sz["warmup_days"])

    def one_pass(self, spark, name: str) -> dict:
        from financial_market_data_analysis_spark.plans.full_row import full_row

        tr = self.ctx.tracer
        wh = os.path.join(self.root, f"{name}_wh")
        t0 = now()
        with tr.span("plans.full_row.plan"):
            rows = full_row(spark, os.path.join(self.root, name), group_cols=("symbol",))
        t1 = now()
        with tr.span("plans.full_row.write"):
            rows.write.mode("overwrite").parquet(wh)
        t2 = now()
        return {"plan_s": t1 - t0, "write_s": t2 - t1, "total_s": t2 - t0}


def check_and_report(w, spark):
    """Output checks over ``w.passes`` (outside the timed region): the
    warehouse equals the DuckDB oracle."""
    import duckdb
    import numpy as np
    import pandas as pd

    from financial_market_data_analysis_spark.plans.full_row import full_row_oracle

    chk = Checks()
    con = duckdb.connect()
    ev = os.path.join(w.root, "data", "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{ev}'")
    want = con.execute(full_row_oracle(partitioned=True)).fetchdf()
    con.close()
    got = spark.read.parquet(os.path.join(w.root, "data_wh")).toPandas()

    chk.check(sorted(c.lower() for c in got.columns) == sorted(c.lower() for c in want.columns),
              "warehouse columns differ from the oracle")
    chk.check(len(got) == len(want), f"warehouse rows {len(got)} vs oracle {len(want)}")
    if len(got) == len(want) and set(got.columns) == set(want.columns):
        cols = sorted(got.columns)
        got = got[cols].sort_values(["symbol", "bucket_start"]).reset_index(drop=True)
        want = want[cols].sort_values(["symbol", "bucket_start"]).reset_index(drop=True)
        for c in cols:
            a, b = got[c], want[c]
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                ok = np.allclose(a.astype(float), b.astype(float), rtol=RTOL, equal_nan=True)
            else:
                ok = (a.astype("int64") == b.astype("int64")).all()
            chk.check(bool(ok), f"warehouse column {c} differs from the oracle")

    totals = [p["total_s"] for p in w.passes]
    layer = {
        "plans.full_row.plan_s": median([p["plan_s"] for p in w.passes]),
        "plans.full_row.write_s": median([p["write_s"] for p in w.passes]),
    }
    detail = {"passes": len(totals), "pass_s": totals, "warehouse_rows": len(got)}
    return chk, layer, detail

