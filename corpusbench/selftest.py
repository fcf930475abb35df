#!/usr/bin/env python3
"""Self-tests of the benchmark's own parts.  Run from the repository
root:  python3 corpusbench/selftest.py

- the landing-zone generator: same seed, byte-identical tree; another
  seed or traffic profile, another tree;
- span self-time arithmetic;
- the PSS sampler sees the JVM and the Python workers;
- the CPU time of the process tree counts the JVM's and the workers'
  work, not only the driver's;
- the core clock samples while it runs and reports the CPU time it
  spent itself, which the benchmark leaves out of the operation's;
- the status-REST reader attributes each job to the span that ran it;
- the output checks pass on a correct corpus and flag an altered one.

Exits non-zero when a test fails.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import run  # noqa: E402
from landing_zone import TRAFFIC, write_landing_zone  # noqa: E402
from tracing import CoreClock, PssSampler, Span, SparkMetrics, Tracer, tree_cpu_s  # noqa: E402

WORK = os.path.join(os.getcwd(), ".corpusbench", "selftest")


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_seeded():
    a = write_landing_zone(os.path.join(WORK, "a"), 5, 30)
    b = write_landing_zone(os.path.join(WORK, "b"), 5, 30)
    c = write_landing_zone(os.path.join(WORK, "c"), 6, 30)
    assert tree_digest(os.path.join(WORK, "a")) == tree_digest(os.path.join(WORK, "b"))
    assert tree_digest(os.path.join(WORK, "a")) != tree_digest(os.path.join(WORK, "c"))
    assert a == b and a != c
    assert {t["language"] for t in a + c} == {"de", "fr", "it"}
    # another traffic profile, same seed: another tree
    d = write_landing_zone(os.path.join(WORK, "d"), 5, 30, traffic=TRAFFIC["wide"])
    assert tree_digest(os.path.join(WORK, "a")) != tree_digest(os.path.join(WORK, "d"))
    assert max(len(t["cited"]) for t in d) > 3


def test_self_time():
    tr = Tracer()
    tr.spans = [
        Span("parent", 1, 0, None, 0.0, 10.0),
        Span("a", 1, 1, 0, 1.0, 4.0),
        Span("b", 1, 2, 0, 3.0, 6.0),   # overlaps a
        Span("c", 1, 3, 0, 8.0, 12.0),  # runs past the parent
        Span("grandchild", 1, 4, 1, 1.0, 2.0),
    ]
    assert tr.self_time(tr.spans[0]) == 10.0 - 5.0 - 2.0
    assert tr.self_time(tr.spans[1]) == 3.0 - 1.0


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def test_pss_sampler_sees_jvm_and_workers(spark):
    from pyspark.sql import functions as F

    sampler = PssSampler()
    with sampler:
        spark.range(0, 1000, 1, 4).select(F.pandas_udf(_plus_one, "long")("id")).collect()
    cmds = list(sampler.seen.values())
    assert any("java" in c.split()[0] for c in cmds if c), cmds
    assert any("pyspark.daemon" in c or "pyspark/daemon" in c for c in cmds), cmds
    assert sampler.peak_kb > 100 * 1024, sampler.peak_kb


def _busy(s: pd.Series) -> pd.Series:
    x = 0
    for i in range(2_000_000):
        x += i % 7
    return s + x


def test_tree_cpu_counts_jvm_and_workers(spark):
    from pyspark.sql import functions as F

    tree0, own0 = tree_cpu_s(), time.process_time()
    spark.range(0, 4, 1, 4).select(F.pandas_udf(_busy, "long")("id")).collect()
    tree, own = tree_cpu_s() - tree0, time.process_time() - own0
    # four UDF batches of a pure-Python loop each, in the workers
    assert tree > own + 4 * 0.05, (tree, own)


def test_core_clock_reports_its_own_cpu():
    own0 = time.process_time()
    with CoreClock(interval=0.05) as clock:
        time.sleep(1.0)
    own = time.process_time() - own0
    assert len(clock.samples) >= 5, clock.samples
    # the loops are the thread's CPU time, and the thread is all this
    # process spent while the main thread slept
    assert sum(clock.samples) <= clock.cpu_s <= own + 0.05, (clock.samples, clock.cpu_s, own)


def test_rest_attributes_jobs_to_spans(spark):
    tr = Tracer(sc=spark.sparkContext)
    with tr.span("two_jobs") as two:
        spark.range(0, 100, 1, 2).collect()
        spark.range(0, 100, 1, 5).collect()
    with tr.span("outer") as outer:
        spark.range(0, 10, 1, 1).collect()
        with tr.span("inner") as inner:
            spark.range(0, 30, 1, 3).collect()
    spark.range(0, 10, 1, 4).collect()  # outside every span
    rest = SparkMetrics(spark.sparkContext)
    s_two, s_outer, s_inner = (rest.group_summary(s.group) for s in (two, outer, inner))
    assert s_two["jobs"] == 2 and s_two["tasks"] == 7, s_two
    assert s_outer["jobs"] == 1 and s_outer["tasks"] == 1, s_outer
    assert s_inner["jobs"] == 1 and s_inner["tasks"] == 3, s_inner
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_checks_flag_altered_output(spark):
    from pyspark.sql import functions as F

    from checks import check_corpus, load_outputs, table_hashes
    from swisscourtrulingcorpus_spark.pipeline import build_corpus_from_landing_zone

    lz, out = os.path.join(WORK, "lz"), os.path.join(WORK, "corpus")
    truths = write_landing_zone(lz, 9, 24)
    build_corpus_from_landing_zone(spark, lz, out)
    tables = load_outputs(spark, out)
    assert check_corpus(tables, truths, 24) == []
    good = table_hashes(tables)

    # one ruling gets another language in an altered copy of the output
    bad = os.path.join(WORK, "altered")
    shutil.copytree(out, bad)
    victim = truths[0]["name"]
    dec = spark.read.parquet(os.path.join(out, "decision"))
    dec.withColumn(
        "language",
        F.when(F.col("file_name") == victim, F.lit("en")).otherwise(F.col("language")),
    ).write.mode("overwrite").parquet(os.path.join(bad, "decision"))
    altered = load_outputs(spark, bad)
    fails = check_corpus(altered, truths, 24)
    assert len(fails) == 1 and "wrong language" in fails[0], fails
    assert table_hashes(altered)["decision"] != good["decision"]

    # and the truth disagreeing with the output is flagged per field
    wrong = [dict(t) for t in truths]
    wrong[1]["president"] = "Nobody"
    wrong[2]["cited"] = [[101, 1]]
    wrong[3]["label"] = "approval" if wrong[3]["label"] != "approval" else "dismissal"
    fails = " ".join(check_corpus(tables, wrong, 25))
    for part in ("decision rows", "wrong president", "wrong cited", "wrong label"):
        assert part in fails, fails


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    run.spark_env(WORK)
    failed = 0
    tests = [test_generator_is_seeded, test_self_time, test_core_clock_reports_its_own_cpu]
    spark_tests = [
        test_pss_sampler_sees_jvm_and_workers,
        test_tree_cpu_counts_jvm_and_workers,
        test_rest_attributes_jobs_to_spans,
        test_checks_flag_altered_output,
    ]
    spark = None
    try:
        for t in tests + spark_tests:
            try:
                if t in spark_tests and spark is None:
                    spark = run.start_spark(WORK, "corpusbench-selftest")
                t(spark) if t in spark_tests else t()
                print(f"ok   {t.__name__}")
            except Exception:
                failed += 1
                print(f"FAIL {t.__name__}")
                traceback.print_exc()
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(tests) + len(spark_tests) - failed} passed, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
