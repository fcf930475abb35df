"""Incremental corpus build against an unreadable manifest
(`pipeline.py::_read_manifest`): a damaged manifest must stop the
build, never be mistaken for a first build that overwrites the domain
tables."""

from __future__ import annotations

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError

from swisscourtrulingcorpus_spark.pipeline import build_corpus, load_tables
from swisscourtrulingcorpus_spark.sources.domain_fixtures import raw_corpus_df


def test_corrupt_manifest_raises_and_keeps_tables(spark, tmp_path):
    out = str(tmp_path / "corpus")
    assert build_corpus(spark, raw_corpus_df(spark, 30), out)["decision"] == 30

    parts = glob.glob(os.path.join(out, "_manifest", "part-*.parquet"))
    assert parts
    for part in parts:
        with open(part, "wb") as fh:
            fh.write(b"not a parquet file" * 8)

    # 10 new rulings on top of the 30 already built
    with pytest.raises(Py4JJavaError, match="(?i)parquet"):
        build_corpus(spark, raw_corpus_df(spark, 40), out)

    assert load_tables(spark, out)["decision"].count() == 30
