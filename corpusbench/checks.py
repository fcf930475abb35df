"""Output checks of the corpus-build benchmark.  They run after the
timed operations and return a list of failure strings (empty when the
output is correct).  Tables are read through the package's own
``load_tables`` and checked on the driver."""

from __future__ import annotations

from pyspark.sql import SparkSession

from swisscourtrulingcorpus_spark.pipeline import TABLES, load_tables
from swisscourtrulingcorpus_spark.plans.parity import value_hash

_PROCEDURAL = {"write_off", "unification", "inadmissible"}


def binary_label(judgments) -> str | None:
    """The binary judgment label of an outcome list, by the rule of the
    reference's ``convert_to_binary_judgments``: partial outcomes count
    as full ones, procedural outcomes are dropped, and anything but a
    single approval or dismissal has no label."""
    if judgments is None or len(judgments) == 0:
        return None
    substantive = {j.removeprefix("partial_") for j in judgments} - _PROCEDURAL
    return substantive.pop() if len(substantive) == 1 else None


def load_outputs(spark: SparkSession, out_dir: str) -> dict:
    """Every domain table as a pandas frame, one Spark job each."""
    return {name: df.toPandas() for name, df in load_tables(spark, out_dir).items()}


def table_hashes(tables: dict) -> dict[str, str]:
    """Row count and order-insensitive value hash per table."""
    return {name: f"{len(df)}:{value_hash(df)}" for name, df in tables.items()}


def check_corpus(tables: dict, truths: list[dict], expected_total: int) -> list[str]:
    """Ground-truth checks of the domain tables: ``expected_total``
    unique decisions, and for every ruling in ``truths`` its language,
    president, cited BGE (year, page) pairs and binary judgment label."""
    failures: list[str] = []
    dec = tables["decision"]
    n, n_ids = len(dec), dec["decision_id"].nunique()
    if n != expected_total or n_ids != expected_total:
        failures.append(f"decision rows {n}, unique ids {n_ids}, expected {expected_total}")

    by_name = {t["name"]: t for t in truths}
    mine = dec[dec["file_name"].isin(list(by_name))]
    name_of = dict(zip(mine["decision_id"], mine["file_name"]))
    missing = sorted(set(by_name) - set(mine["file_name"]))
    if missing:
        failures.append(f"{len(missing)} rulings missing from decision, e.g. {missing[:3]}")

    def compare(what: str, got: dict) -> None:
        wrong = sorted(n for n in name_of.values() if got.get(n, "missing") != by_name[n][what])
        if wrong:
            failures.append(f"{len(wrong)} wrong {what}, e.g. {wrong[:3]}")

    def per_ruling(table: str, column: str) -> dict:
        df = tables[table]
        df = df[df["decision_id"].isin(list(name_of))]
        return {name_of[d]: v for d, v in zip(df["decision_id"], df[column])}

    compare("language", per_ruling("decision", "language"))
    compare("president", per_ruling("composition", "president"))
    compare("label", {n: binary_label(j) for n, j in per_ruling("judgment", "judgments").items()})
    cites = tables["citation"]
    cites = cites[(cites["type"] == "ruling") & cites["decision_id"].isin(list(name_of))]
    cited: dict[str, list] = {n: [] for n in name_of.values()}
    for d, y, p in zip(cites["decision_id"], cites["year"], cites["page"]):
        cited[name_of[d]].append([int(y), int(p)])
    compare("cited", {n: sorted(c) for n, c in cited.items()})
    return failures


def check_rerun(counts: dict[str, int]) -> list[str]:
    if set(counts) != set(TABLES) or any(counts.values()):
        return [f"rerun over an unchanged tree wrote rows: {counts}"]
    return []
