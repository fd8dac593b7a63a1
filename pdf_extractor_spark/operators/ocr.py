"""OCR-shaped extraction chain (SURVEY.md OP-62; reference ocr_extractor.py).

No OCR engine ships in this container (the reference shells out to
pytesseract, /root/reference/pdf_extractor/extractors/ocr_extractor.py:62-178).
Two complementary paths close OP-62:

- ``q_ocr_raster`` (round 4): REAL recognition from pixels — fixed-pitch
  template matching over rendered+PNG-round-tripped rasters
  (kernels/ocr_raster.py; the recognizer never sees the input string).
- ``q_ocr_lines`` (below): the reference's full post-recognition chain,
  with a deterministic synthetic glyph-box model standing in for the
  engine so the oracle stays SQL-expressible; every OTHER stage runs for
  real, end-to-end from the binary payload:

    payload bytes -> kernel parse (DOM/PDF) -> content words        (real)
      -> word boxes (x, y layout, 6 words/line) + confidence        (synthetic,
         conf = pure function of md5(word) — engine-portable)
      -> confidence filter  (ref ocr_extractor.py:137-141, conf>=60)
      -> line grouping by y (ref :326-341 group into lines)
      -> in-line x sort     (ref :337 sort(key=x))
      -> line text reassembly

The kernel deliberately emits boxes in a scrambled (but deterministic) order,
so the downstream (y, x) relational sort is load-bearing, exactly like real
OCR output whose word order follows recognition, not reading order.

The driver oracle restates the whole chain in SQL over ``documents.text``
(the corpus the wrapped pages carry), making this a true value-gate on the
executor-side Python path, same discipline as q_extract_text.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.dispatch import extract_document
from .registry import query

__all__ = [
    "ocr_word_boxes", "ocr_word_boxes_from_extraction", "ocr_lines",
    "q_ocr_lines",
]

WORDS_PER_LINE = 6
X_ORIGIN, X_STEP = 72.0, 90.0
Y_ORIGIN, Y_STEP = 720.0, 16.0
MIN_CONF = 60

_BOX_SCHEMA = "doc_id long, w string, x0 double, y0 double, conf long"


def _word_conf(word: str) -> int:
    """Synthetic recognition confidence in [50, 95]: a pure function of the
    word bytes (md5 first nibble), identical in Python/Spark SQL/DuckDB."""
    nibble = int(hashlib.md5(word.encode("utf-8")).hexdigest()[0], 16)
    return 50 + 3 * nibble


def _boxes_for_payload(doc_id: int, payload: bytes) -> list[tuple]:
    """binary -> scrambled word boxes.  Content words come from the REAL
    kernel parse (DOM body paragraphs / PDF lines feed the same path)."""
    r = extract_document(payload)
    words: list[str] = []
    for page in r["pages"]:
        for b in page["blocks"]:
            if b["is_content"] and b["tag"] == "p" and b["text"]:
                words.extend(b["text"].split(" "))
    rows = []
    for idx, w in enumerate(words):
        line_no, xslot = divmod(idx, WORDS_PER_LINE)
        rows.append((
            doc_id, w,
            X_ORIGIN + X_STEP * xslot,
            Y_ORIGIN - Y_STEP * line_no,
            _word_conf(w),
        ))
    # Deterministic scramble: recognition order != reading order, so the
    # downstream (y, x) sort is observable (reference sorts at :337).
    # crc32 (not md5): the key only needs to be deterministic and
    # order-breaking, and crc is ~10x cheaper per word.
    rows.sort(key=lambda t: zlib.crc32(f"{t[2]}:{t[3]}:{t[1]}".encode()))
    return rows


def ocr_word_boxes(pages: DataFrame, payload_col: str = "html",
                   dpi: int = 72) -> DataFrame:
    """Pages frame (with doc_id + binary payload) -> long word-box table.
    One Arrow pass, variable fan-out per document (mapInPandas).

    ``dpi`` is the OP-22 zoom math (reference ocr_extractor rasterizes at
    ``zoom = dpi / 72`` before recognition): box coordinates scale by the
    zoom factor, exactly like boxes reported on a higher-resolution raster.
    ``ocr_lines`` normalizes the zoom back out, so line OUTPUT is
    dpi-invariant — the property the reference relies on."""
    zoom = dpi / 72.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, b in zip(pdf["doc_id"], pdf[payload_col]):
                for (d, w, x0, y0, conf) in _boxes_for_payload(
                    int(doc_id), bytes(b) if b is not None else b""
                ):
                    out.append((d, w, x0 * zoom, y0 * zoom, conf))
            yield pd.DataFrame(out, columns=["doc_id", "w", "x0", "y0", "conf"])

    return pages.select("doc_id", payload_col).mapInPandas(run, schema=_BOX_SCHEMA)


def ocr_word_boxes_from_extraction(ext: DataFrame, dpi: int = 72) -> DataFrame:
    """SHARED-PASS box derivation (round-3 item 7): read the word stream out
    of an ALREADY-EXTRACTED frame (``extracted_docs_with_pages`` output, or
    the persisted docs+pages frame at scale) instead of re-running the
    kernel over the payloads — boxes become a pure JVM-side projection (flatten +
    posexplode + md5), so the OCR chain costs ZERO extra kernel passes.

    Matches ``ocr_word_boxes`` value-for-value: same content-word gate
    (is_content ∧ tag='p' ∧ non-empty), same layout math, same synthetic
    confidence (md5 first nibble — hashlib.md5 == Spark md5 == DuckDB md5);
    equality is pinned by tests/test_ocr.py.  Box emission order differs
    (the kernel path scrambles deterministically) — immaterial, since the
    contract of the chain is that ocr_lines' (y, x) sort imposes order."""
    zoom = dpi / 72.0
    words = F.flatten(
        F.transform(
            F.col("pages"),
            lambda p: F.flatten(
                F.transform(
                    F.filter(
                        p["blocks"],
                        lambda b: b["is_content"]
                        & (b["tag"] == "p")
                        & (b["text"] != ""),
                    ),
                    lambda b: F.split(b["text"], " "),
                )
            ),
        )
    )
    exploded = ext.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(words).alias("idx", "w"),
    )
    nibble = F.conv(
        F.substring(F.md5(F.col("w").cast("binary")), 1, 1), 16, 10
    ).cast("long")
    return exploded.select(
        "doc_id",
        "w",
        (F.lit(X_ORIGIN * zoom)
         + F.lit(X_STEP * zoom) * (F.col("idx") % WORDS_PER_LINE)).alias("x0"),
        (F.lit(Y_ORIGIN * zoom)
         - F.lit(Y_STEP * zoom) * F.floor(F.col("idx") / WORDS_PER_LINE)
         ).alias("y0"),
        (F.lit(50) + F.lit(3) * nibble).alias("conf"),
    )


def ocr_lines(boxes: DataFrame, min_conf: int = MIN_CONF,
              dpi: int = 72) -> DataFrame:
    """Word boxes -> recognized lines: conf filter, group by line y, sort by
    x inside the line, reassemble text.  Pure relational — one shuffle on
    (doc_id, y0), the corpus partition key plus a narrow secondary."""
    zoom = dpi / 72.0
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("x0", "w"))), lambda s: s["w"]
    )
    return (
        boxes.filter(F.col("conf") >= min_conf)
        .groupBy("doc_id", "y0")
        .agg(
            F.concat_ws(" ", ordered).alias("line_text"),
            F.count(F.lit(1)).alias("n_words"),
            F.min("conf").cast("long").alias("min_conf"),
        )
        .select(
            "doc_id",
            ((F.lit(Y_ORIGIN * zoom) - F.col("y0")) / (Y_STEP * zoom))
            .cast("long").alias("line_no"),
            "line_text",
            "n_words",
            "min_conf",
        )
    )


@query(
    "q_ocr_lines",
    f"""
    WITH docs AS (
      SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS body
      FROM documents
      WHERE CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 8),
    words AS (
      SELECT doc_id, u.w AS w, u.i - 1 AS idx
      FROM (SELECT doc_id,
                   unnest(list_transform(regexp_split_to_array(body, ' '),
                                         (w, i) -> struct_pack(w := w, i := i)))
                     AS u
            FROM docs)),
    conf AS (
      SELECT doc_id, w,
             CAST(idx // {WORDS_PER_LINE} AS BIGINT) AS line_no,
             idx % {WORDS_PER_LINE} AS xslot,
             50 + 3 * (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
               AS conf
      FROM words)
    SELECT doc_id, line_no,
           string_agg(w, ' ' ORDER BY xslot) AS line_text,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(min(conf) AS BIGINT) AS min_conf
    FROM conf
    WHERE conf >= {MIN_CONF}
    GROUP BY doc_id, line_no
    """,
)
def q_ocr_lines(spark: SparkSession, sf: str) -> DataFrame:
    """OP-62 end-to-end gate: wrap documents as real HTML pages, run the full
    binary -> DOM kernel -> glyph boxes -> conf>=60 -> line group -> x-sort
    chain, and match the SQL-stated expectation per (doc, line).  The DOM
    content gate (MIN_CONTENT_WORDS=8) is part of the contract: short docs
    produce no lines.

    ONE kernel pass (round-3 item 7): boxes are projected relationally from
    the shared extraction frame — the plan is kernel-parse once, then pure
    JVM flatten/explode/groupBy; at scale the same projection reads the
    persisted pages table with zero kernel work."""
    from ..operators.extract import extracted_docs_with_pages
    from .pipeline_queries import pages_from_documents

    pages = pages_from_documents(spark, sf)
    ext = extracted_docs_with_pages(pages).select("doc_id", "pages")
    return ocr_lines(ocr_word_boxes_from_extraction(ext))


_N_RASTER_DOCS = 80
_RASTER_TOTAL_LINES = 367   # generator spec: sum of planned line counts
_RASTER_TOTAL_CHARS = 11048  # generator spec: sum of planned line lengths
# (both re-derived from the spec rng on every pytest run by
# tests/test_pipeline_kinds_spec.py::test_ocr_raster_constants_match_generator_spec)

_N_PROP_DOCS = 80
_PROP_TOTAL_LINES = 358    # generator spec: sum of planned line counts
_PROP_TOTAL_CHARS = 10781  # generator spec: sum of planned line lengths
# (both re-derived from the spec rng on every pytest run by
# tests/test_ocr_proportional.py::test_gate_constants_match_spec)


@query(
    "q_ocr_proportional",
    # Structural (non-circular) oracle, same discipline as q_ocr_raster:
    # spec-rng text rendered with VARIABLE glyph advances (no fixed
    # pitch), 1% salt-and-pepper noise, PNG round-trip, then recognized
    # by the joint segmentation+recognition DP — which may not assume
    # the renderer's pitch; totals come from the spec rng alone.
    f"""
    SELECT CAST({_N_PROP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_PROP_DOCS} AS BIGINT) AS n_match,
           CAST({_PROP_TOTAL_LINES} AS BIGINT) AS total_lines,
           CAST({_PROP_TOTAL_CHARS} AS BIGINT) AS total_chars
    """,
)
def q_ocr_proportional(spark: SparkSession, sf: str) -> DataFrame:
    """Proportional-pitch recognition gate (VERDICT round-4 item 5:
    fixed-pitch cell division was the strongest synthetic assumption
    left in OP-62): per doc, draw 3-6 spec-rng lines, render each with
    variable 2-3-column glyph advances and 7-10-column word gaps at 1%
    salt-and-pepper noise (kernels/ocr_raster.render_text_proportional),
    round-trip through the from-scratch PNG codec, and recognize with
    the Viterbi-style column DP (recognize_text_proportional — joint
    segmentation + correlation, no pitch assumption, never sees the
    input string).  A doc matches when every line round-trips exactly."""
    import random as _random
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..kernels.ocr_raster import (
        recognize_text_proportional,
        render_text_proportional,
    )
    from ..kernels.png import decode_png, encode_png
    from ..sources.synth import _WORDS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m, nl, nc = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                rng = _random.Random(f"prop-gate:{doc_id}")
                scale = 2 + doc_id % 2
                n_lines = rng.randint(3, 6)
                ok, chars = 1, 0
                for ln in range(n_lines):
                    line = " ".join(
                        rng.choice(_WORDS)
                        for _ in range(rng.randint(3, 7)))
                    chars += len(line)
                    img = render_text_proportional(
                        line, scale=scale, noise=0.01,
                        seed=f"{doc_id}:{ln}")
                    png = encode_png(img.shape[1], img.shape[0],
                                     img.tobytes(), channels=1)
                    w, h, ch, px = decode_png(png)
                    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                    got, _confs = recognize_text_proportional(arr)
                    if got != line or ch != 1:
                        ok = 0
                m.append(ok)
                nl.append(n_lines)
                nc.append(chars)
            yield pd.DataFrame({"m": m, "l": nl, "c": nc})

    per_doc = (
        spark.range(0, _N_PROP_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, l int, c int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("l").cast("long").alias("total_lines"),
        F.sum("c").cast("long").alias("total_chars"),
    )


@query(
    "q_ocr_raster",
    # Structural (non-circular) oracle, same discipline as q_png_pipeline:
    # text drawn from the generator spec rng, rasterized with the
    # fixed-pitch glyph bank, round-tripped through the from-scratch PNG
    # codec, and RECOGNIZED back from pixels alone must equal the spec
    # text for every line of every doc; line/char totals come from the
    # spec rng, never from the recognizer.
    f"""
    SELECT CAST({_N_RASTER_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_RASTER_DOCS} AS BIGINT) AS n_match,
           CAST({_RASTER_TOTAL_LINES} AS BIGINT) AS total_lines,
           CAST({_RASTER_TOTAL_CHARS} AS BIGINT) AS total_chars
    """,
)
def q_ocr_raster(spark: SparkSession, sf: str) -> DataFrame:
    """REAL raster recognition gate (round-4 item 7; upgrades OP-62 from
    'chain real, labels synthetic' to recognition-from-pixels within
    sandbox limits — the reference rasterizes the page to a pixmap and
    hands it to tesseract, ocr_extractor.py:105): per doc, draw 3-6 text
    lines from the spec rng, rasterize each at scale 2-3 with 2%
    salt-and-pepper noise (kernels/ocr_raster.render_text), encode the
    raster as grayscale PNG and decode it back with the from-scratch codec
    (kernels/png.py), then recognize the decoded pixels by
    normalized-correlation template matching (recognize_text — it never
    sees the input string).  A doc matches when every line's recognized
    text equals the spec text."""
    import random as _random
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..kernels.ocr_raster import recognize_text, render_text
    from ..kernels.png import decode_png, encode_png
    from ..sources.synth import _WORDS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m, nl, nc = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                rng = _random.Random(f"raster-gate:{doc_id}")
                scale = 2 + doc_id % 2
                n_lines = rng.randint(3, 6)
                ok, chars = 1, 0
                for ln in range(n_lines):
                    line = " ".join(
                        rng.choice(_WORDS)
                        for _ in range(rng.randint(3, 7)))
                    chars += len(line)
                    img = render_text(line, scale=scale, noise=0.02,
                                      seed=f"{doc_id}:{ln}")
                    png = encode_png(img.shape[1], img.shape[0],
                                     img.tobytes(), channels=1)
                    w, h, ch, px = decode_png(png)
                    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                    got, _confs = recognize_text(arr)
                    if got != line or ch != 1:
                        ok = 0
                m.append(ok)
                nl.append(n_lines)
                nc.append(chars)
            yield pd.DataFrame({"m": m, "l": nl, "c": nc})

    per_doc = (
        spark.range(0, _N_RASTER_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, l int, c int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("l").cast("long").alias("total_lines"),
        F.sum("c").cast("long").alias("total_chars"),
    )


_N_OCRTABLE_DOCS = 50
_OCRTABLE_ROWS = 222  # generator spec: sum of per-doc spec-rng row counts
# (re-derived from the spec rng on every pytest run by
# tests/test_ocr_tables.py::test_gate_constants_match_spec)


@query(
    "q_ocr_tables",
    # Spec-derived (non-circular) oracle, same discipline as q_pdf_tables:
    # totals come from the generator's spec rng, never from the recognizer
    # or the detector; n_match == n_docs is the gate.
    f"""
    SELECT CAST({_N_OCRTABLE_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_OCRTABLE_DOCS} AS BIGINT) AS n_match,
           CAST({_N_OCRTABLE_DOCS} AS BIGINT) AS total_tables,
           CAST({_OCRTABLE_ROWS} AS BIGINT) AS total_rows
    """,
)
def q_ocr_tables(spark: SparkSession, sf: str) -> DataFrame:
    """OCR-raster table extraction gate (reference extract_tables_ocr,
    ocr_extractor.py — rasterize the page, OCR it, merge word boxes into
    cells, cluster cells into a grid): the SAME grid specs q_pdf_tables
    verifies through the PDF and DOM parsers are rendered as fixed-pitch
    raster lines (sources/synth.table_spec_fixed_pitch), noised, PNG
    round-tripped, recognized from pixels (kernels/ocr_raster), split into
    positioned runs (line_runs — char index IS x on a fixed-pitch grid),
    and clustered by the SAME x-alignment detector the PDF kernel uses
    (kernels/pdf._detect_tables).  A doc matches only when the detected
    table equals the spec rows exactly, None-for-empty included — the
    third rendering of one logical grid, recovered through the noisiest
    channel.  Map-only Arrow stage + single final agg."""
    import random as _random
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..kernels.ocr_raster import line_runs, recognize_text, render_text
    from ..kernels.pdf import _detect_tables
    from ..kernels.png import decode_png, encode_png
    from ..sources.synth import make_table_spec, table_spec_fixed_pitch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, ntab, nrow = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                spec = make_table_spec(
                    _random.Random(f"ocr-table-spec:{doc_id}"))
                rec = []
                for ln_i, line in enumerate(
                        table_spec_fixed_pitch(spec)):
                    img = render_text(line, scale=2, noise=0.02,
                                      seed=f"ocrtab:{doc_id}:{ln_i}")
                    png = encode_png(img.shape[1], img.shape[0],
                                     img.tobytes(), channels=1)
                    w, h, ch, px = decode_png(png)
                    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                    got, _confs = recognize_text(arr)
                    rec.append(got)
                tables = _detect_tables([line_runs(ln) for ln in rec])
                match.append(1 if tables == [spec["rows"]] else 0)
                ntab.append(len(tables))
                nrow.append(sum(len(t) for t in tables))
            yield pd.DataFrame({"m": match, "t": ntab, "r": nrow})

    per_doc = (
        spark.range(0, _N_OCRTABLE_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, t int, r int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("t").cast("long").alias("total_tables"),
        F.sum("r").cast("long").alias("total_rows"),
    )
