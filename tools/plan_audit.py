#!/usr/bin/env python
"""Generate PLAN_AUDIT.md: one row per gate query with the physical-plan
facts that matter at 100 TB — number of exchanges (shuffles), join
strategies chosen, whether scan-level pushdown fired, and whether any
Python evaluation appears in the plan.

Run: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.01)

This is the static (pre-AQE) plan — join strategy counts are the
planner's intent; AQE may further convert sort-merge joins to broadcast
at runtime (see tests/test_plan_quality.py for post-execution checks).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from swisscourtrulingcorpus_spark.plans.registry import QUERY_SPECS
    from swisscourtrulingcorpus_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for spec in QUERY_SPECS:
        df = spec.spark(spark, sf_dir)
        # public API only (df.explain works on classic and Connect)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        rows.append(
            {
                "query": spec.name,
                "exchanges": plan.count("Exchange"),
                "bhj": plan.count("BroadcastHashJoin"),
                "smj": plan.count("SortMergeJoin"),
                "bnlj": plan.count("BroadcastNestedLoopJoin"),
                "pushed_scans": pushed,
                # EvalPython covers Batch/ArrowEvalPython (udf/
                # pandas_udf); MapInPandas / FlatMapGroupsInPandas are
                # separate exec nodes and must be flagged too or the
                # mapInPandas gates under-report as python-free (r05)
                "python": "yes"
                if any(
                    k in plan
                    for k in (
                        "EvalPython",
                        "MapInPandas",
                        "FlatMapGroupsInPandas",
                        "MapInArrow",
                    )
                )
                else "",
                "oracle": "rows-only" if spec.oracle is None else "value-hash",
            }
        )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write(
            "# PLAN_AUDIT — static physical plans of every gate query\n\n"
            f"Generated by `tools/plan_audit.py` at `{sf_dir}`.\n"
            "Columns: shuffle Exchanges in the plan, join strategies the\n"
            "planner chose (AQE may convert SMJ→broadcast at runtime),\n"
            "scans with non-empty PushedFilters, Python evaluation nodes\n"
            "(only the explicitly-Python queries may have any), oracle kind.\n\n"
            "Reading notes: nested-loop joins appearing below are the\n"
            "DELIBERATE broadcast-cross patterns — a 1-row scalar total\n"
            "(value_counts pct, TF-IDF doc count), the broadcast query set\n"
            "of the brute-force cosine baseline, or the tiny spine×types\n"
            "grid — never an accidental range-join fallback (asserted in\n"
            "test_plan_quality). Static exchange counts overstate executed\n"
            "shuffles where ReusedExchange dedupes them at runtime (the\n"
            "dedup self-joins); the post-execution reuse is test-asserted.\n"
            "Driver-report gates (exact selections, calibration_table,\n"
            "confident_joint) materialize a bounded report during\n"
            "construction, so their audited plan is the report's local\n"
            "scan — the distributed work lives in the selection/threshold\n"
            "control flow and is measured in SCALE.md instead.\n\n"
            "| query | exchanges | broadcast HJ | sort-merge J | nested-loop J | pushed scans | python | oracle |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write(
                f"| {r['query']} | {r['exchanges']} | {r['bhj']} | {r['smj']} "
                f"| {r['bnlj']} | {r['pushed_scans']} | {r['python']} | {r['oracle']} |\n"
            )
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
