#!/usr/bin/env python
"""Time every registry gate (construct + noop-sink execute) and print a
sorted table — the profiling pass of the r11 optimization round
(guide §1: measure first).  NOT a correctness tool (driver_sim is) and
NOT the driver bench (bench.py is): this finds the expensive tail of
the full gate registry so optimization effort lands where the time
is.

Usage: python tools/timed_sweep.py [SF_DIR] [--runs N] [--out FILE]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from swisscourtrulingcorpus_spark.plans.registry import QUERY_SPECS
    from swisscourtrulingcorpus_spark.session import get_spark

    args = list(sys.argv[1:])
    runs = 2
    out = None
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    spark = get_spark(app_name="timed_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for spec in QUERY_SPECS:
        best_c = best_e = float("inf")
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                df = spec.spark(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                best_c = min(best_c, t1 - t0)
                best_e = min(best_e, t2 - t1)
        except Exception as exc:  # keep sweeping; report at the end
            results[spec.name] = {"err": str(exc)[:200]}
            continue
        results[spec.name] = {
            "construct": round(best_c, 3),
            "execute": round(best_e, 3),
            "total": round(best_c + best_e, 3),
        }
        print(
            f"{spec.name:44s} c={best_c:6.3f} e={best_e:6.3f}", flush=True
        )
        # Per-gate cleanup (VERDICT r11 item 7): eager report gates
        # leave localCheckpoint RDD blocks and cached plans behind, and
        # over a one-session full-registry sweep that accumulation inflated
        # LATE gates up to 10x — the sweep lied about where the time
        # was.  Dropping gate-scoped cache entries and checkpoint
        # blocks between gates keeps every measurement a fresh-state
        # one.  Profiling-tool-only: driver paths (bench.py,
        # driver_sim) run fresh JVMs and are untouched.
        spark.catalog.clearCache()
        for (_rid, rdd) in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()

    ok = {k: v for k, v in results.items() if "err" not in v}
    errs = {k: v for k, v in results.items() if "err" in v}
    print("\n=== slowest 25 (total) ===")
    for k, v in sorted(ok.items(), key=lambda kv: -kv[1]["total"])[:25]:
        print(f"{k:44s} {v['total']:7.3f}  (c={v['construct']}, e={v['execute']})")
    print(f"\ntotal across registry: {sum(v['total'] for v in ok.values()):.1f}s"
          f" (construct {sum(v['construct'] for v in ok.values()):.1f}s)")
    if errs:
        print("ERRORS:", errs)
    if out:
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
