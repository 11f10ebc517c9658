"""Interleaved A/B probe for a code-path toggle (r17, guide §1).

The host's preemption phases make isolated before/after timings
unreliable; this probe runs ONE session and alternates a named env-var
toggle between passes (A B A B A B ...), so both variants sample the
same host window. The toggled code must read the env var at CALL time.

    python tools/ab_probe.py --flag FMDA_LAZY_MATERIALIZE \
        --passes 4 x6_minhash_lsh x31_minhash_clusters

Reports per-variant pass lists, min and median. Interpretation: with
interleaving, a consistent per-pass ordering (every B beats the
adjacent As, or vice versa) is signal; a shared drift across both
variants is the host.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--flag", required=True,
                    help="env var set to '1' for the B variant")
    ap.add_argument("--passes", type=int, default=4,
                    help="passes PER VARIANT (interleaved)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ns = ap.parse_args()

    from financial_market_data_analysis_spark import get_spark

    spark = get_spark(app_name="ab-probe")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [n for n in ns.queries if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    for name in ns.queries:
        fn = qs[name]
        # one unmeasured warm-up (codegen/footers) with the flag OFF
        os.environ.pop(ns.flag, None)
        fn(spark, ns.sf).count()
        results: dict[str, list[float]] = {"A(off)": [], "B(on)": []}
        order: list[str] = []
        for p in range(ns.passes):
            for variant, flagval in (("A(off)", None), ("B(on)", "1")):
                if flagval is None:
                    os.environ.pop(ns.flag, None)
                else:
                    os.environ[ns.flag] = flagval
                t0 = time.perf_counter()
                fn(spark, ns.sf).count()
                dt = round(time.perf_counter() - t0, 3)
                results[variant].append(dt)
                order.append(f"{variant[0]}{dt}")
        os.environ.pop(ns.flag, None)
        print(f"\n=== {name} (flag={ns.flag}) ===")
        print("  sequence:", " ".join(order))
        for variant, ts in results.items():
            print(f"  {variant}: min={min(ts):.3f} "
                  f"median={statistics.median(ts):.3f} passes={ts}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
