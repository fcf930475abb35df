#!/usr/bin/env python3
"""Corpus-build benchmark: raw court rulings -> domain tables.

Run from the repository root:

    python3 corpusbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Workloads (inputs generated by ``landing_zone.py``):

- ``corpus_build``: ``build_corpus_from_landing_zone`` over a fresh
  landing zone of 1,000 rulings (from ``--seed``) into an empty
  directory.
- ``incremental_refresh``: the scheduled refresh of a corpus that is
  already built: ``build_corpus_from_landing_zone`` over its unchanged
  landing zone (it must write nothing), then ``build_datasets``.  The
  base corpus is built once per checkout by a child process, outside
  every timing, from a fixed seed, and copied, untimed, into the run's
  directory.  ``--seed`` picks only the rulings the traced run appends.

A run makes one operation, the first call of a fresh process, as a
batch or scheduled job runs: on 4 cores each takes longer than the
10 s run that ``BENCHMARK.json`` declares, so ``--seconds`` is accepted
for the interface only.  Every output is checked, untimed.  With
``--trace 0`` the last stdout line carries the end-to-end metrics, both
counted in CPU seconds of the process tree (driver, JVM, Python
workers) and scaled to a quiet core by a ``CoreClock`` running beside
the work: on a shared host the wall time of the same operation doubles
when other work takes the cores, and its CPU time when the cores
themselves run slower.  With ``--trace 1`` the operation runs with one
Spark job group per call, layer probes follow (``build_datasets`` among
them; on ``incremental_refresh`` also a checked append of new rulings,
recorded in the run record), and the last line carries the per-layer
metrics.  The line before the last is a JSON record with the
samples, spans, contention sentinel and provenance; it is also written
to ``.corpusbench/results/``.  METRICS.md says what each metric is and
which end-to-end metric it should move.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "swisscourtrulingcorpus_spark")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from landing_zone import TRAFFIC, tree_bytes, write_landing_zone  # noqa: E402
from tracing import (  # noqa: E402
    CoreClock,
    PssSampler,
    SparkMetrics,
    Tracer,
    is_running,
    process_tree,
    sentinel,
    steal_s,
    tree_cpu_s,
)

WORKLOADS = ("corpus_build", "incremental_refresh")
N_DOCS = 1000        # rulings per landing zone
N_NEW = 100          # rulings a traced incremental_refresh run appends
BASE_SEED = 0        # incremental_refresh's base corpus is the same for every seed
# CPU seconds of one CoreClock loop on a quiet core of the 4-core host
# the bounds were set on; it fixes the scale of the end-to-end metrics only
REF_LOOP_S = 0.01

END_TO_END = {
    "setup_s": "s",
    "docs_per_ref_core_s": "docs/ref-core-s",
}
# the package's seven domain tables (pipeline.TABLES) and six dataset
# creators, spelled out: metric names must not change with the package
EXTRACTION_TABLES = ("decision", "section", "citation", "judgment",
                     "composition", "lower_court", "participation")
DATASETS = ("judgment", "criticality", "pretraining", "doc2doc_ir", "regeste", "law_area")
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.scan_landing_zone_s": "s",
    "sources.ingest_landing_zone_s": "s",
    "sources.lz_bytes_read_ratio": "ratio",
    "sources.new_rows_only_s": "s",
    "sources.parquet_write_s": "s",
    "sources.write_partitioned_s": "s",
    "pipeline.docs_per_s": "docs/s",
    "plans.run_extraction_pipeline.construct_s": "s",
    "extraction.shared_s": "s",
    **{f"extraction.{t}_s": "s" for t in EXTRACTION_TABLES},
    "extraction.udf_rows_per_doc": "rows/doc",
    **{f"plans.{d}_dataset_s": "s" for d in DATASETS},
    "plans.coverage_report_s": "s",
    **{f"pipeline.build_corpus.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
        ("core_utilization", "ratio"), ("unattributed_s", "s"))},
    "pipeline.build_datasets_s": "s",
    **{f"pipeline.build_datasets.{k}": u for k, u in (
        ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ("shuffle_write_mb", "MB"))},
    "host.peak_pss_mb": "MB",
    "host.sentinel_s": "s",
    "trace.overhead_s": "s",
}


def source_hash(*paths: str) -> str:
    """sha256 over the .py files under ``paths`` (names and bytes)."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(base) for f in fs if f.endswith(".py")
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def spark_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def start_spark(work: str, app: str):
    from swisscourtrulingcorpus_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(app_name=app, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # no hsperfdata file in /tmp; temporary files in the work dir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes)
    and its Python workers, and wait until every process this one
    started has ended."""
    from pyspark import SparkContext

    spark.stop()
    started = process_tree(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while left := [pid for pid in started if is_running(pid)]:
        if time.monotonic() > deadline:
            for pid in left:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def slowdown(clock: CoreClock) -> float:
    """How much slower than a quiet core the cores ran while ``clock``
    ran: 1 on a quiet host, 2.5 when a loop took 2.5 times its CPU time."""
    return statistics.mean(clock.samples) / REF_LOOP_S


# --- the base corpus of incremental_refresh -------------------------------

def base_cache_dir(work_root: str) -> str:
    key = source_hash(PACKAGE, HERE)
    return os.path.join(work_root, "base", f"{key}-{N_DOCS}")


def build_base(dest: str) -> None:
    """Child-process entry: generate the base landing zone, build and
    check its corpus and datasets with the package, then publish
    ``dest``."""
    from checks import check_corpus, load_outputs, table_hashes
    from swisscourtrulingcorpus_spark.pipeline import (
        build_corpus_from_landing_zone,
        build_datasets,
    )

    tmp = dest + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark_env(tmp)
    lz, out = os.path.join(tmp, "lz"), os.path.join(tmp, "corpus")
    truths = write_landing_zone(lz, BASE_SEED, N_DOCS)
    spark = start_spark(tmp, "corpusbench-base")
    try:
        build_corpus_from_landing_zone(spark, lz, out)
        datasets = build_datasets(spark, out)
        tables = load_outputs(spark, out)
    finally:
        stop_spark(spark)
    failures = check_corpus(tables, truths, N_DOCS)
    if failures:
        raise SystemExit(f"base corpus failed its checks: {failures}")
    shutil.rmtree(os.path.join(tmp, "tmp"), ignore_errors=True)
    with open(os.path.join(tmp, "base.json"), "w") as fh:
        json.dump({"truths": truths, "hashes": table_hashes(tables), "datasets": datasets}, fh)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def ensure_base(work_root: str) -> tuple[str, float]:
    """The cached base corpus, built by a child process when missing;
    returns its directory and the seconds the build took."""
    dest = base_cache_dir(work_root)
    if os.path.exists(os.path.join(dest, "base.json")):
        return dest, 0.0
    parent = os.path.dirname(dest)
    if os.path.isdir(parent):
        for old in os.listdir(parent):
            shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
    os.makedirs(parent, exist_ok=True)
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-base", dest],
        check=True, stdout=sys.stderr, timeout=600,
    )
    return dest, time.perf_counter() - t0


# --- the run --------------------------------------------------------------

class Run:
    def __init__(self, args):
        self.args = args
        self.work_root = os.path.join(os.getcwd(), ".corpusbench")
        self.work = os.path.join(self.work_root, f"run-{os.getpid()}")
        self.lz = os.path.join(self.work, "lz")
        self.out = os.path.join(self.work, "corpus")
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.info: dict = {"base_cache_build_s": 0.0}
        self.base = None
        self.traffic = TRAFFIC[args.traffic]

    def prepare(self) -> None:
        """Write the inputs (and build the cached base corpus when it is
        missing); none of this counts as set-up time."""
        t0 = time.perf_counter()
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        if self.args.workload == "corpus_build":
            self.truths = write_landing_zone(self.lz, self.args.seed, N_DOCS, traffic=self.traffic)
            self.base_hashes = None
        else:
            self.base, self.info["base_cache_build_s"] = ensure_base(self.work_root)
            # hard links: the package only reads landing-zone files
            shutil.copytree(os.path.join(self.base, "lz"), self.lz, copy_function=os.link)
            shutil.copytree(os.path.join(self.base, "corpus"), self.out)
            with open(os.path.join(self.base, "base.json")) as fh:
                base = json.load(fh)
            self.truths, self.base_hashes = base["truths"], base["hashes"]
            self.base_datasets = base["datasets"]
        # the fresh files reach the disk before anything is timed
        os.sync()
        files, size = tree_bytes(self.lz)
        self.lz_bytes = size
        self.info["inputs"] = {
            "rulings": len(self.truths),
            "files": files,
            "bytes": size,
            "text_bytes_mean": statistics.mean(t["text_bytes"] for t in self.truths),
            "text_bytes_max": max(t["text_bytes"] for t in self.truths),
        }
        self.info["input_prep_s"] = time.perf_counter() - t0

    def build(self, span: str) -> tuple[float, dict]:
        from swisscourtrulingcorpus_spark.pipeline import build_corpus_from_landing_zone

        with self.tracer.span(span) as sp:
            counts = build_corpus_from_landing_zone(self.spark, self.lz, self.out)
        return sp.duration, counts

    @contextlib.contextmanager
    def timed_op(self):
        """The operation's span; the record it yields gets its wall time,
        the CPU time of the process tree (driver, JVM, Python workers)
        without the core clock's own, how much slower than a quiet one
        the cores ran meanwhile, the time the hypervisor stole, and the
        sentinel run right before and right after, while the tree is
        idle."""
        rec: dict = {}
        before = sentinel()
        cpu0, steal0 = tree_cpu_s(), steal_s()
        with CoreClock() as clock, self.tracer.span("op") as op:
            yield rec
        cpu, steal = tree_cpu_s() - cpu0 - clock.cpu_s, steal_s() - steal0
        after = sentinel()
        rec.update(
            op_s=op.duration, op_cpu_s=cpu, steal_s=steal,
            core_slowdown=slowdown(clock), core_clock_samples=len(clock.samples),
            sentinel_wall_s=[before[0], after[0]], sentinel_cpu_s=[before[1], after[1]],
        )

    def operation(self) -> tuple[dict, list[str]]:
        """The timed operation and its untimed checks."""
        from checks import check_corpus, check_rerun, load_outputs, table_hashes
        from swisscourtrulingcorpus_spark.pipeline import build_datasets

        if self.base:
            with self.timed_op() as rec:
                rec["rerun_s"], counts = self.build("pipeline.build_corpus_from_landing_zone")
                with self.tracer.span("pipeline.build_datasets") as sp:
                    datasets = build_datasets(self.spark, self.out)
            rec["datasets_s"] = sp.duration
            fails = check_rerun(counts)
            if datasets != self.base_datasets:
                fails.append(f"dataset rows {datasets}, expected {self.base_datasets}")
            fails += self.check_hashes(table_hashes(load_outputs(self.spark, self.out)))
            return rec, fails

        with self.timed_op() as rec:
            _, counts = self.build("pipeline.build_corpus_from_landing_zone")
        t0 = time.perf_counter()
        fails = []
        if counts.get("decision") != N_DOCS:
            fails.append(f"build reported {counts.get('decision')} decisions")
        tables = load_outputs(self.spark, self.out)
        fails += check_corpus(tables, self.truths, N_DOCS)
        fails += self.check_manifest(N_DOCS)
        fails += self.check_hashes(table_hashes(tables))
        rec["check_s"] = time.perf_counter() - t0
        return rec, fails

    def check_manifest(self, expected: int) -> list[str]:
        manifest = os.path.join(self.out, "_manifest")
        if not os.path.isdir(manifest):
            return []
        n = self.spark.read.parquet(manifest).count()
        return [] if n == expected else [f"manifest has {n} rows, expected {expected}"]

    def check_hashes(self, hashes: dict) -> list[str]:
        """Tables must hash as the base corpus (incremental_refresh), or as
        any earlier run in this checkout with the same program, seed and
        traffic (corpus_build)."""
        if self.base_hashes is not None:
            return [] if hashes == self.base_hashes else ["tables changed by the rerun"]
        key = "-".join([self.args.workload, str(self.args.seed), self.args.traffic,
                        str(N_DOCS), source_hash(PACKAGE, HERE)])
        path = os.path.join(self.work_root, "expected", key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                same = json.load(fh) == hashes
            return [] if same else ["table hashes differ from an earlier run with the same seed"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(hashes, fh, sort_keys=True)
        os.replace(path + ".tmp", path)
        return []

    def run_op(self) -> None:
        """The run's one operation; a failure is counted, not fatal."""
        self.tracer.op += 1
        self.info["setup_wall_s"] = time.perf_counter() - T_PROCESS - self.info["input_prep_s"]
        clock = self.setup_clock
        self.info["setup_cpu_s"] = tree_cpu_s() - self.info["pre_setup_cpu_s"] - clock.cpu_s
        self.info["setup_core_slowdown"] = slowdown(clock)
        try:
            rec, fails = self.operation()
        except Exception:
            traceback.print_exc()
            rec, fails = {}, ["operation raised"]
        rec["failures"] = fails
        self.failures += fails
        self.ops.append(rec)

    # per-layer probes (traced runs only)
    def probes(self) -> dict:
        from pyspark.sql import functions as F

        from swisscourtrulingcorpus_spark.pipeline import build_datasets, load_tables
        from swisscourtrulingcorpus_spark.plans import datasets_extra, domain_pipeline
        from swisscourtrulingcorpus_spark.sources.domain_fixtures import leading_rulings_df
        from swisscourtrulingcorpus_spark.sources.ingest import (
            ingest_landing_zone,
            scan_landing_zone,
        )
        from swisscourtrulingcorpus_spark.sources.manifest import new_rows_only

        spark, tr, m = self.spark, self.tracer, {}
        probe_dir = os.path.join(self.work, "probe")
        tr.op += 1

        def probe(name, df):
            with tr.span(name) as sp:
                noop(df)
            return sp.duration

        spark.catalog.clearCache()
        m["sources.scan_landing_zone_s"] = probe(
            "sources.scan_landing_zone", scan_landing_zone(spark, self.lz))
        m["sources.ingest_landing_zone_s"] = probe(
            "sources.ingest_landing_zone", ingest_landing_zone(spark, self.lz))

        def raw_frame():  # the raw batch as build_corpus_from_landing_zone shapes it
            docs = ingest_landing_zone(spark, self.lz)
            return docs.select(
                F.col("name").alias("file_name"), "spider",
                F.coalesce(F.col("chamber"), F.concat_ws("_", "spider", F.lit("001"))).alias("chamber"),
                F.to_date("datum").alias("date"),
                F.col("text").alias("raw_text"),
            )

        # the manifest anti-join against every processed ruling, as a
        # rerun meets it
        done = load_tables(spark, self.out)["decision"].select("file_name")
        m["sources.new_rows_only_s"] = probe(
            "sources.new_rows_only",
            new_rows_only(raw_frame().select("file_name"), done, ["file_name"]))

        # the batch the operation extracts (all rulings for a build, none
        # for a rerun), materialized outside the cache
        batch_dir = os.path.join(probe_dir, "batch")
        new_rows_only(raw_frame(), done if self.base else None, ["file_name"]).write.parquet(batch_dir)
        batch = spark.read.parquet(batch_dir)
        with tr.span("plans.run_extraction_pipeline.construct") as sp:
            tables = domain_pipeline.run_extraction_pipeline(batch)
        m["plans.run_extraction_pipeline.construct_s"] = sp.duration
        # the cached frames all tables share, then each table's own work
        # into noop; its parquet write is timed against a second, warm
        # noop execution
        m["extraction.shared_s"] = probe("extraction.shared", tables["section_arrays"])
        extra = 0.0
        for t in EXTRACTION_TABLES:
            m[f"extraction.{t}_s"] = probe(f"extraction.{t}", tables[t])
            with tr.span(f"sources.parquet_write.{t}") as sp:
                tables[t].write.parquet(os.path.join(probe_dir, "tables", t))
            extra += sp.duration - probe(f"extraction.{t}.warm", tables[t])
        m["sources.parquet_write_s"] = extra

        # dataset creators: the whole build_datasets call (the refresh
        # operation makes one), then each creator into noop; the exports
        # cost what the call spends beyond
        spark.catalog.clearCache()
        if not self.base:
            with tr.span("pipeline.build_datasets"):
                build_datasets(spark, self.out)
        m["pipeline.build_datasets_s"] = tr.find("pipeline.build_datasets")[-1].duration
        tables = load_tables(spark, self.out)
        leading = leading_rulings_df(spark)
        creators = {
            "judgment": domain_pipeline.judgment_dataset(tables),
            "criticality": domain_pipeline.criticality_dataset(tables, leading),
            "pretraining": domain_pipeline.pretraining_dataset(tables),
            "doc2doc_ir": datasets_extra.doc2doc_ir_dataset(tables),
            "regeste": datasets_extra.regeste_dataset(tables),
            "law_area": datasets_extra.law_area_dataset(tables),
        }
        for name, df in creators.items():
            m[f"plans.{name}_dataset_s"] = probe(f"plans.{name}_dataset", df)
        m["plans.coverage_report_s"] = probe(
            "plans.coverage_report", domain_pipeline.coverage_report(tables))
        m["sources.write_partitioned_s"] = m["pipeline.build_datasets_s"] - sum(
            m[f"plans.{d}_dataset_s"] for d in DATASETS) - m["plans.coverage_report_s"]
        return m

    def layer_metrics(self) -> dict:
        m = self.probes()
        rest = SparkMetrics(self.spark.sparkContext)
        cores = int(self.spark.sparkContext.defaultParallelism)
        build = self.tracer.find("pipeline.build_corpus_from_landing_zone")[0]
        b = rest.group_summary(build.group)
        m["sources.lz_bytes_read_ratio"] = b["input_bytes"] / self.lz_bytes
        m["extraction.udf_rows_per_doc"] = b["udf_rows"] / N_DOCS
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s"):
            m[f"pipeline.build_corpus.{k}"] = b[k]
        m["pipeline.build_corpus.shuffle_write_mb"] = b["shuffle_write_bytes"] / 2**20
        m["pipeline.build_corpus.spill_mb"] = b["spill_bytes"] / 2**20
        m["pipeline.build_corpus.core_utilization"] = b["executor_run_s"] / (build.duration * cores)
        if self.base:  # a rerun: the anti-join is all it should do
            explained = m["sources.new_rows_only_s"]
        else:
            explained = (
                m["sources.ingest_landing_zone_s"] + m["sources.parquet_write_s"]
                + m["plans.run_extraction_pipeline.construct_s"] + m["extraction.shared_s"]
                + sum(m[f"extraction.{t}_s"] for t in EXTRACTION_TABLES)
            )
        m["pipeline.build_corpus.unattributed_s"] = build.duration - explained
        d = rest.group_summary(self.tracer.find("pipeline.build_datasets")[-1].group)
        for k in ("jobs", "tasks", "executor_run_s"):
            m[f"pipeline.build_datasets.{k}"] = d[k]
        m["pipeline.build_datasets.shuffle_write_mb"] = d["shuffle_write_bytes"] / 2**20
        self.info["spark"] = {"build_corpus": b, "build_datasets": d}
        if self.base:
            self.append()
            self.info["spark"]["append"] = rest.group_summary(
                self.tracer.find("pipeline.append")[0].group)
        return m

    def append(self) -> None:
        """Add N_NEW rulings from ``--seed`` to the landing zone and time
        the incremental build that appends them (traced incremental_refresh
        runs only; its time and Spark metrics go to the run record).
        Checked untimed: a rerun over the unchanged tree must write
        nothing, and the appended corpus must match the ground truth.
        Counted as one more operation."""
        from checks import check_corpus, check_rerun, load_outputs
        from swisscourtrulingcorpus_spark.pipeline import build_corpus_from_landing_zone

        self.tracer.op += 1
        total = N_DOCS + N_NEW
        new = write_landing_zone(self.lz, self.args.seed, N_NEW, first_id=N_DOCS,
                                 traffic=self.traffic)
        os.sync()
        self.spark.catalog.clearCache()
        with self.tracer.span("pipeline.append") as sp:
            counts = build_corpus_from_landing_zone(self.spark, self.lz, self.out)
        fails = [] if counts.get("decision") == total else [
            f"append reported {counts.get('decision')} decisions"]
        fails += check_rerun(build_corpus_from_landing_zone(self.spark, self.lz, self.out))
        fails += check_corpus(load_outputs(self.spark, self.out), self.truths + new, total)
        fails += self.check_manifest(total)
        self.ops.append({"append_s": sp.duration, "failures": fails})
        self.failures += fails

    def main(self) -> int:
        a = self.args
        cpu0 = tree_cpu_s()
        self.info["loadavg_1m_before"] = os.getloadavg()[0]
        self.prepare()
        # the CPU time of the inputs and the base corpus (a reaped
        # child's time counts in this process's) is not set-up
        self.info["pre_setup_cpu_s"] = tree_cpu_s() - cpu0
        spark_env(self.work)
        layers = None
        # peak PSS is a per-layer metric: the sampler's /proc scans run
        # in traced runs only
        sampler = PssSampler() if a.trace else None
        with sampler or contextlib.nullcontext():
            with CoreClock() as self.setup_clock, self.tracer.span("session.get_spark") as sp:
                self.spark = start_spark(self.work, f"corpusbench-{a.workload}")
            self.info["get_spark_s"] = sp.duration
            try:
                if a.trace:
                    self.tracer.sc = self.spark.sparkContext
                self.run_op()
                if a.trace:
                    self.info["ops_peak_pss_mb"] = sampler.peak_kb / 1024
                    if not self.failures:
                        layers = self.layer_metrics()
                jvm = self.spark.sparkContext._jvm
                self.info["versions"] = {
                    "python": platform.python_version(),
                    "spark": self.spark.version,
                    "java": jvm.java.lang.System.getProperty("java.version"),
                }
            finally:
                stop_spark(self.spark)
        self.info["loadavg_1m_after"] = os.getloadavg()[0]
        if sampler:
            self.info["peak_pss_mb"] = sampler.peak_kb / 1024
            self.info["pss_samples"] = sampler.samples
            self.info["pss_processes"] = sorted(
                {c.split()[0] for c in sampler.seen.values() if c})

        op = self.ops[0]
        e2e = {}
        if "op_s" in op and not op["failures"]:
            # CPU time ÷ slowdown: what it would have cost on a quiet core
            e2e = {
                "setup_s": self.info["setup_cpu_s"] / self.info["setup_core_slowdown"],
                "docs_per_ref_core_s": N_DOCS * op["core_slowdown"] / op["op_cpu_s"],
            }
        attempted = len(self.ops)
        failed = sum(1 for r in self.ops if r["failures"])
        record = {
            "workload": a.workload,
            "seed": a.seed,
            "traffic": a.traffic,
            "trace": a.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "git_commit": git_commit(),
            "package_hash": source_hash(PACKAGE),
            "failed_ops_ratio": failed / attempted,
            "failures": self.failures,
            # one operation per run: the median is its time, n is 1
            "op_s": {"n": 1, "median": op.get("op_s")},
            "op_cpu_s": {"n": 1, "median": op.get("op_cpu_s")},
            "docs_per_s": N_DOCS / op["op_s"] if "op_s" in op else None,
            "ops": self.ops,
            "end_to_end": e2e,
            **self.info,
        }
        if layers is not None:
            layers["session.get_spark_s"] = self.info["get_spark_s"]
            layers["pipeline.docs_per_s"] = N_DOCS / op["op_s"]
            layers["host.peak_pss_mb"] = self.info["ops_peak_pss_mb"]
            layers["host.sentinel_s"] = statistics.mean(op["sentinel_wall_s"])
            layers["trace.overhead_s"] = self.tracer.overhead_s
            record["per_layer"] = layers
            record["spans"] = self.tracer.to_json()
        results = os.path.join(self.work_root, "results")
        os.makedirs(results, exist_ok=True)
        name = f"{a.workload}-{a.traffic}-seed{a.seed}-trace{a.trace}.json"
        with open(os.path.join(results, name), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        print(json.dumps(record, default=str))

        names, values = (PER_LAYER, layers or {}) if a.trace else (END_TO_END, e2e)
        correct = failed == 0 and all(k in values for k in names)
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items() if k in values},
        }))
        return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--traffic", choices=TRAFFIC, default="default",
                   help="rulings mix of corpus_build (landing_zone.TRAFFIC)")
    p.add_argument("--build-base", metavar="DIR", help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if a.build_base:
        build_base(a.build_base)
        return 0
    if not a.workload:
        p.error("--workload is required")
    if a.traffic != "default" and a.workload != "corpus_build":
        p.error("--traffic applies to corpus_build only")
    run = Run(a)
    try:
        return run.main()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
