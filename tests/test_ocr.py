"""OCR-shaped chain (operators/ocr.py): the synthetic glyph-box recognizer
plus the downstream conf-filter / line-group / x-sort relational stages."""

import pandas as pd

from pdf_extractor_spark.operators.ocr import (
    _boxes_for_payload,
    ocr_lines,
    ocr_word_boxes,
)
from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA

_HTML = (
    b"<html><body><p>alpha beta gamma delta epsilon zeta eta theta iota "
    b"kappa lambda mu</p></body></html>"
)


def test_box_emission_order_is_scrambled():
    """The kernel must NOT emit boxes in reading order — otherwise the
    downstream (y, x) sort would be untested dead code (real OCR emits in
    recognition order)."""
    rows = _boxes_for_payload(1, _HTML)
    assert len(rows) == 12
    reading = sorted(rows, key=lambda t: (-t[3], t[2]))  # (-y, x)
    assert rows != reading, "boxes arrived pre-sorted; scramble is broken"


def test_conf_is_pure_function_of_word():
    rows = _boxes_for_payload(1, _HTML) + _boxes_for_payload(2, _HTML)
    by_word = {}
    for _d, w, _x, _y, conf in rows:
        assert 50 <= conf <= 95
        assert by_word.setdefault(w, conf) == conf


def _pages(spark):
    rows = [
        {"url": "https://x/1", "warc_ts": None, "html": _HTML, "text": "",
         "lang": "en"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_INPUT_SCHEMA)
    return df.withColumn("doc_id", df.url.substr(11, 1).cast("long"))


def test_lines_reassemble_in_reading_order(spark):
    lines = {
        r["line_no"]: r["line_text"]
        for r in ocr_lines(ocr_word_boxes(_pages(spark))).collect()
    }
    all_words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                 "lambda mu").split()
    for line_no, text in lines.items():
        words = text.split(" ")
        # within a line, surviving words keep original (x) order
        idxs = [all_words.index(w) for w in words]
        assert idxs == sorted(idxs)
        assert all(line_no == all_words.index(w) // 6 for w in words)


def test_dpi_zoom_is_output_invariant(spark):
    """OP-22 (reference zoom = dpi/72): boxes scale with the raster DPI, but
    line output is identical — recognition resolution must not change what
    was read."""
    pages = _pages(spark)
    base = sorted(
        tuple(r) for r in ocr_lines(ocr_word_boxes(pages, dpi=72), dpi=72)
        .collect()
    )
    hi = sorted(
        tuple(r) for r in ocr_lines(ocr_word_boxes(pages, dpi=144), dpi=144)
        .collect()
    )
    assert base == hi and base
    # and the boxes themselves really did scale
    b72 = {(r["w"], r["x0"], r["y0"]) for r in ocr_word_boxes(pages, dpi=72).collect()}
    b144 = {(r["w"], r["x0"] / 2, r["y0"] / 2) for r in ocr_word_boxes(pages, dpi=144).collect()}
    assert b72 == b144


def test_shared_pass_boxes_equal_kernel_boxes(spark):
    """The relational (shared-extraction-pass) box projection must produce
    exactly the kernel path's boxes — order aside (the kernel scrambles;
    the chain's (y, x) sort owns ordering)."""
    from pdf_extractor_spark.operators.extract import extracted_docs_with_pages
    from pdf_extractor_spark.operators.ocr import (
        ocr_word_boxes_from_extraction,
    )
    from pdf_extractor_spark.operators.pipeline_queries import (
        pages_from_documents,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    kern = ocr_word_boxes(pages).collect()
    rel = ocr_word_boxes_from_extraction(
        extracted_docs_with_pages(pages).select("doc_id", "pages")
    ).collect()
    key = lambda r: (r["doc_id"], r["y0"], r["x0"], r["w"], r["conf"])
    assert sorted(map(key, kern)) == sorted(map(key, rel))
    # dpi zoom scales coordinates identically on both paths
    kern2 = ocr_word_boxes(pages, dpi=144).collect()
    rel2 = ocr_word_boxes_from_extraction(
        extracted_docs_with_pages(pages).select("doc_id", "pages"), dpi=144
    ).collect()
    assert sorted(map(key, kern2)) == sorted(map(key, rel2))
