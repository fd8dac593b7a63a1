"""Spark-equals-kernel layer (SURVEY.md §5.2 layer 2).

The distributed pipeline must reproduce the committed goldens byte-for-byte
per url — the BASELINE.json invariant — and per-page structural counts must
match reference summary semantics (extraction_result.py:100-130).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.plans.pipeline import (
    doc_text_expr,
    extracted_docs,
    extracted_pages,
    route_oversized,
    run_extraction,
)
from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA
from tests.gen_fixtures import GOLDEN_DIR, doc_key, fixture_rows


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = fixture_rows()
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf, schema=PAGES_INPUT_SCHEMA).repartition(8)


def _goldens() -> dict[str, bytes]:
    return {p.stem: p.read_bytes() for p in GOLDEN_DIR.glob("*.txt")}


def test_spark_text_byte_identity(spark, fixture_df):
    got = {
        doc_key(r["url"]): r["text"].encode("utf-8")
        for r in extracted_docs(fixture_df).select("url", "text").collect()
    }
    golden = _goldens()
    assert set(got) == set(golden)
    mismatched = [k for k in golden if got[k] != golden[k]]
    assert not mismatched, f"byte drift for {mismatched[:5]}"


def test_spark_structural_counts(spark, fixture_df):
    import json

    rows = extracted_docs(fixture_df).select(
        "url", "kind", "status", "n_pages", "total_chars", "total_words",
        "total_text_blocks", "total_images", "total_tables",
    ).collect()
    for r in rows:
        g = json.loads((GOLDEN_DIR / f"{doc_key(r['url'])}.json").read_text())
        assert r["kind"] == g["kind"] and r["status"] == g["status"]
        assert r["n_pages"] == g["n_pages"]
        assert r["total_chars"] == g["total_chars"]
        assert r["total_words"] == g["total_words"]
        assert r["total_text_blocks"] == g["total_text_blocks"]
        assert r["total_images"] == g["total_images"]
        assert r["total_tables"] == g["total_tables"]


def test_pages_table_shape(spark, fixture_df):
    pages = extracted_pages(fixture_df)
    rows = pages.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("page_number").alias("max_page"),
    ).collect()
    by_kind = {r["kind"]: r for r in rows}
    assert by_kind["pdf"]["max_page"] >= 2  # multi-page PDFs exploded
    assert by_kind["html"]["max_page"] == 1


def test_doc_text_expr_equals_kernel_assembly(spark, fixture_df):
    """The zero-shuffle higher-order reassembly must equal the kernel's
    assemble_doc_text (used to produce the goldens) — proven indirectly by
    byte identity above, and here directly on out-of-order page arrays."""
    df = spark.createDataFrame(
        [("u1", "pdf", [(2, "second"), (1, "first")]),
         ("u2", "html", [(1, "only")])],
        "url string, kind string, pages array<struct<page_number:int, text:string>>",
    )
    got = {r["url"]: r["t"] for r in df.select(
        "url", doc_text_expr(F.col("pages"), F.col("kind")).alias("t")
    ).collect()}
    assert got["u1"] == "=== Page 1 ===\nfirst\n\n=== Page 2 ===\nsecond"
    assert got["u2"] == "only"


def test_route_oversized_partitions(spark, fixture_df):
    routed = route_oversized(fixture_df, parts=8, threshold=1 << 16)
    assert routed.count() == fixture_df.count()  # no rows lost
    # oversized docs exist in the fixture corpus and survive routing
    big = routed.filter(F.length("html") > (1 << 16)).count()
    assert big >= 1


def test_parallelism_invariance(spark, fixture_df):
    """Same input, different partitioning -> byte-identical output
    (determinism guard behind the N-vs-4N scaling claim, SURVEY.md §4.3.4)."""
    a = extracted_docs(fixture_df.repartition(2)).select("url", "text")
    b = extracted_docs(fixture_df.repartition(17)).select("url", "text")
    assert {(r["url"], r["text"]) for r in a.collect()} == \
           {(r["url"], r["text"]) for r in b.collect()}


def test_docs_table_independent_of_pages_mode(spark, fixture_df, tmp_path):
    """run_extraction writes the same docs table whether or not it also
    writes the pages table: same columns in the same order, same types,
    same values — including a null payload (n_bytes 0, never NULL)."""
    import pyarrow.parquet as pq

    null_row = spark.createDataFrame(
        pd.DataFrame([{"url": "https://x/null", "warc_ts": None, "html": None,
                       "text": "", "lang": "en"}]),
        schema=PAGES_INPUT_SCHEMA,
    )
    src = fixture_df.unionByName(null_row)
    tables = {}
    for with_pages in (True, False):
        out = str(tmp_path / f"pages_{with_pages}")
        run_extraction(spark, src, out, n_buckets=2, resume=False,
                       write_pages_table=with_pages, run_id="eq")
        tables[with_pages] = pq.read_table(f"{out}/docs").sort_by("url")
    a, b = tables[True], tables[False]
    assert a.schema == b.schema
    assert a.equals(b)
    by_url = {r["url"]: r for r in a.to_pylist()}
    assert by_url["https://x/null"]["n_bytes"] == 0


def test_corrupt_payloads_surface_as_error_rows(spark):
    """Invalid/corrupt payloads must become status='error' side-channel rows
    (OP-32 mapping), never task failures — end-to-end through the slim path."""
    import pandas as pd

    from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA

    rows = [
        {"url": "https://x/ok", "warc_ts": None,
         "html": b"<html><body><p>good doc with enough words to classify as content here</p></body></html>",
         "text": "", "lang": "en"},
        {"url": "https://x/truncpdf", "warc_ts": None,
         "html": b"%PDF-1.4\ngarbage no xref", "text": "", "lang": "en"},
        {"url": "https://x/null", "warc_ts": None, "html": None,
         "text": "", "lang": "en"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_INPUT_SCHEMA)
    got = {r["url"]: r for r in extracted_docs(df).collect()}
    assert got["https://x/ok"]["status"] == "ok"
    assert got["https://x/ok"]["text"].startswith("good doc")
    assert got["https://x/truncpdf"]["status"] == "error"
    assert got["https://x/truncpdf"]["error"]
    assert got["https://x/null"]["status"] in ("ok", "error")  # never raises
