"""S1/E12 landing-zone ingestion — the runnable counterpart of the
reference's scraper + text-to-database stages.

The reference's scraper walks entscheidsuche.ch and lands files per
spider as ``<spider>/<name>.json`` (metadata) + ``<name>.html`` /
``<name>.pdf`` (`scrc/preprocessors/scraper.py:32-99`), then
`text_to_database.py:117-254` reads that tree, picks metadata fields
by hand (Signatur, Num, HTML.URL, PDF.URL, Datum — lines 194-228) and
extracts text from the HTML/PDF payloads.  HTTP downloading is
driver-side by design (SURVEY §2.2 S1); everything AFTER the landing
zone is a Spark job, and this module is that job, runnable end to end
against a local fixture tree:

- ``spark.read.format("binaryFile")`` scans the tree — one row per
  file, executors read the bytes, the driver never touches payloads;
- paths parse into (spider, name, ext) and pivot to one row per
  DOCUMENT carrying its json/html/pdf payloads;
- metadata decodes with an EXPLICIT schema (never inference — SURVEY
  §2.1);
- text comes from the real extractors: per-spider HTML rules
  (`extraction/html.py`) or the pure-python PDF text recovery
  (`extraction/pdf.py`), html preferred like the reference;
- incremental re-ingest skips already-processed documents via the
  manifest anti-join (`sources/manifest.py::new_rows_only` — the
  scraper's incremental check at `scraper.py:80-93`).

At scale: binaryFile splits by file; a landing zone of millions of
small files is parallel by count, the (spider, name) pivot shuffles
(key, payload) once, and the manifest anti-join broadcasts while the
manifest is young (see `sources/manifest.py`).

Demo: ``python -m swisscourtrulingcorpus_spark.sources.ingest /tmp/lz``
writes a deterministic fixture tree (if absent), ingests it, prints
per-spider counts, then re-ingests incrementally and prints the
(empty) delta.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

# Explicit metadata schema — the fields text_to_database.py:194-228
# picks by hand.  Nested HTML.URL / PDF.URL mirror the scraped JSON.
METADATA_SCHEMA = StructType(
    [
        StructField("Signatur", StringType()),
        StructField("Num", StringType()),
        StructField("Datum", StringType()),
        StructField("Abteilung", StringType()),  # chamber
        StructField(
            "HTML", StructType([StructField("URL", StringType())])
        ),
        StructField(
            "PDF", StructType([StructField("URL", StringType())])
        ),
    ]
)


def write_fixture_tree(root: str, n_docs: int = 24, spiders=("CH_BGer", "CH_BGE")) -> int:
    """Deterministic landing-zone fixture: per doc a ``.json`` metadata
    file plus an ``.html`` (even ids) or FlateDecode ``.pdf`` (odd
    ids) payload — the exact file layout the reference's scraper
    produces, with content the real extractors can parse."""
    import zlib

    written = 0
    for spider_idx, spider in enumerate(spiders):
        d = os.path.join(root, spider)
        os.makedirs(d, exist_ok=True)
        for i in range(n_docs):
            doc_id = spider_idx * n_docs + i
            name = f"{spider}_{i:04d}"
            meta = {
                "Signatur": f"{spider}.{i:04d}",
                "Num": f"{i % 9}C_{100 + i}/20{10 + i % 15}",
                "Datum": f"20{10 + i % 15}-0{i % 9 + 1}-1{i % 9}",
                "HTML": {"URL": f"https://example.invalid/{name}.html"}
                if doc_id % 2 == 0
                else None,
                "PDF": {"URL": f"https://example.invalid/{name}.pdf"}
                if doc_id % 2 == 1
                else None,
            }
            with open(os.path.join(d, f"{name}.json"), "w") as fh:
                json.dump(meta, fh, sort_keys=True)
            if doc_id % 2 == 0:
                body = (
                    f'<div class="content"><p>Sachverhalt {doc_id}</p>'
                    f"<p>Die Vorinstanz entschied am 1{i % 9}. Tag.</p></div>"
                    '<div class="footer">Impressum</div>'
                )
                with open(os.path.join(d, f"{name}.html"), "w") as fh:
                    fh.write(body)
            else:
                content = (
                    f"BT /F1 12 Tf 50 720 Td (Erw\\344gungen {doc_id}:) Tj "
                    f"0 -14 Td (Das Gesuch wird abgewiesen.) Tj ET"
                ).encode("latin-1")
                stream = zlib.compress(content)
                pdf = (
                    b"%PDF-1.4\n1 0 obj\n<< /Length "
                    + str(len(stream)).encode()
                    + b" /Filter /FlateDecode >>\nstream\n"
                    + stream
                    + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
                )
                with open(os.path.join(d, f"{name}.pdf"), "wb") as fh:
                    fh.write(pdf)
            written += 1
    return written


def _pdf_with_text(text: str) -> bytes:
    """A minimal FlateDecode PDF whose content stream renders ``text``
    line by line — what the fixture landing zone uses so the REAL pdf
    extractor (`extraction/pdf.py`) exercises against marker-structured
    court text.  Latin-1 only; (, ), \\ and non-ASCII escape per the
    PDF literal-string rules."""
    import zlib

    def esc(line: str) -> str:
        out = []
        for ch in line:
            o = ord(ch)
            if ch in "()\\":
                out.append("\\" + ch)
            elif 32 <= o < 127:
                out.append(ch)
            elif o < 256:
                out.append("\\%03o" % o)
            else:
                out.append("?")
        return "".join(out)

    body = (
        "BT /F1 12 Tf 50 720 Td "
        + " ".join(f"({esc(ln)}) Tj 0 -14 Td" for ln in text.split("\n"))
        + " ET"
    )
    stream = zlib.compress(body.encode("latin-1"))
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(stream)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + stream
        + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )


def write_rich_fixture_tree(root: str, n_docs: int = 120) -> list[str]:
    """Landing zone with FULL marker-structured court text (VERDICT r04
    item 8): the domain fixture corpus (`sources/domain_fixtures.py::
    build_raw_corpus` — headers, facts/considerations/rulings markers,
    citations, outcomes in three languages) written as raw FILES the
    way the reference's scraper lands them: per doc a ``.json``
    metadata file plus an ``.html`` (even ids) or FlateDecode ``.pdf``
    (odd ids) payload.  Returns the list of document names written."""
    import html as _html

    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        build_raw_corpus,
    )

    names: list[str] = []
    for i, row in enumerate(build_raw_corpus(n_docs)):
        spider = row["spider"]
        d = os.path.join(root, spider)
        os.makedirs(d, exist_ok=True)
        name = os.path.splitext(row["file_name"])[0]
        meta = {
            "Signatur": f"{spider}.{i:05d}",
            "Num": f"{i % 9}C_{100 + i}/{row['date'][:4]}",
            "Datum": row["date"],
            "Abteilung": row["chamber"],
            "HTML": {"URL": f"https://example.invalid/{name}.html"}
            if i % 2 == 0
            else None,
            "PDF": {"URL": f"https://example.invalid/{name}.pdf"}
            if i % 2 == 1
            else None,
        }
        with open(os.path.join(d, f"{name}.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        if i % 2 == 0:
            paras = "".join(
                f"<p>{_html.escape(ln)}</p>"
                for ln in row["raw_text"].split("\n")
                if ln
            )
            body = f'<div class="content">{paras}</div>'
            if spider == "CH_BGer":
                # the content rule selects div.content; the footer must
                # NOT leak into the text (r04 ADVICE repro)
                body += '<div class="footer">Impressum</div>'
            with open(os.path.join(d, f"{name}.html"), "w") as fh:
                fh.write(body)
        else:
            with open(os.path.join(d, f"{name}.pdf"), "wb") as fh:
                fh.write(_pdf_with_text(row["raw_text"]))
        names.append(name)
    return names


def scan_landing_zone(spark: SparkSession, root: str) -> DataFrame:
    """One row per landing-zone FILE: (spider, name, ext, content).
    binaryFile reads bytes executor-side; the path parses with plain
    column expressions (no UDF)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{json,html,htm,pdf,txt}")
        .load(os.path.join(root, "*"))
    )
    return parse_file_paths(files)


def parse_file_paths(files: DataFrame) -> DataFrame:
    """binaryFile rows -> (spider, name, ext, content); shared by the
    batch scan and the streaming file source."""
    return files.select(
        F.regexp_extract("path", r"/([^/]+)/[^/]+$", 1).alias("spider"),
        F.regexp_extract("path", r"/([^/]+)\.[A-Za-z]+$", 1).alias("name"),
        F.lower(F.regexp_extract("path", r"\.([A-Za-z]+)$", 1)).alias("ext"),
        F.col("content"),
    )


def docs_from_scanned_files(
    files: DataFrame, manifest: DataFrame | None = None
) -> DataFrame:
    """(spider, name, ext, content) file rows -> one typed row per
    DOCUMENT — the shared transformation behind the batch ingest and
    the per-micro-batch body of the streaming ingest job."""
    from swisscourtrulingcorpus_spark.extraction.html import (
        html_to_text_spider_udf,
    )
    from swisscourtrulingcorpus_spark.extraction.pdf import (
        extract_pdf_text_udf,
    )
    from swisscourtrulingcorpus_spark.sources.manifest import new_rows_only

    by_doc = (
        files.groupBy("spider", "name")
        .agg(
            F.max(F.when(F.col("ext") == "json", F.col("content"))).alias("__json"),
            F.max(
                F.when(F.col("ext").isin("html", "htm"), F.col("content"))
            ).alias("__html"),
            F.max(F.when(F.col("ext") == "pdf", F.col("content"))).alias("__pdf"),
        )
    )
    by_doc = new_rows_only(by_doc, manifest, ["spider", "name"])
    meta = F.from_json(F.decode("__json", "UTF-8"), METADATA_SCHEMA)
    html_text = html_to_text_spider_udf(
        F.decode("__html", "UTF-8"), F.col("spider")
    )
    pdf_text = extract_pdf_text_udf(F.col("__pdf"))
    return by_doc.select(
        "spider",
        "name",
        meta["Signatur"].alias("signatur"),
        meta["Num"].alias("num"),
        meta["Datum"].alias("datum"),
        meta["Abteilung"].alias("chamber"),
        meta["HTML"]["URL"].alias("html_url"),
        meta["PDF"]["URL"].alias("pdf_url"),
        # html preferred over pdf, like text_to_database.py:238-254
        F.coalesce(html_text, pdf_text).alias("text"),
        F.when(F.col("__html").isNotNull(), F.lit("html"))
        .when(F.col("__pdf").isNotNull(), F.lit("pdf"))
        .otherwise(F.lit("metadata-only"))
        .alias("source_format"),
    )


def ingest_landing_zone(
    spark: SparkSession,
    root: str,
    manifest: DataFrame | None = None,
) -> DataFrame:
    """Landing zone -> one typed row per DOCUMENT:
    (spider, name, signatur, num, datum, html_url, pdf_url, text,
    source_format).  ``manifest`` (spider, name) keys are skipped —
    re-running over an unchanged tree ingests nothing.
    """
    return docs_from_scanned_files(scan_landing_zone(spark, root), manifest)


def main() -> None:  # pragma: no cover - demo CLI
    import sys

    from swisscourtrulingcorpus_spark.session import get_spark

    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scrc_landing_zone"
    if not os.path.isdir(root):
        n = write_fixture_tree(root)
        print(f"wrote {n} fixture documents under {root}")
    spark = get_spark(app_name="landing-zone-ingest")
    docs = ingest_landing_zone(spark, root).cache()
    docs.groupBy("spider", "source_format").count().orderBy(
        "spider", "source_format"
    ).show()
    manifest = docs.select("spider", "name")
    delta = ingest_landing_zone(spark, root, manifest=manifest)
    print("incremental re-ingest new rows:", delta.count())
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
