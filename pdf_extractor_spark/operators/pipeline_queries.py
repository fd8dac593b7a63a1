"""End-to-end pipeline queries for the driver contract.

These exercise the REAL extraction path — synthesize input-hint-shaped pages
``(url, warc_ts, html, text, lang)``, run the vectorized kernel UDF
(operators/extract.py), reassemble text — inside a driver query.  The HTML
wrapper template is controlled, so the DOM kernel's output (boilerplate
classification per kernels/dom.py thresholds: MIN_CONTENT_WORDS=8,
noise tags, heading demotion) is *predictable in SQL*: the oracle states
exactly what the Arrow-UDF pipeline must produce per document.  This turns
the driver's value-hash comparison into a true kernel-correctness gate, not
just a rows-only smoke check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extracted_docs, extracted_docs_with_pages
from .registry import T, fan_out, query

# One-line template: no inter-tag whitespace => no stray whitespace-only
# DOM blocks; nav/footer are link-only noise; the article carries the
# document text verbatim.
_PREFIX = (
    '<html><head><meta charset="utf-8"><title>Doc {i}</title></head><body>'
    '<header><nav><a href="/home">home</a> <a href="/about">about</a></nav>'
    "</header><article><h1>Doc {i}</h1><p>"
)
_SUFFIX = (
    '</p></article><footer><a href="/terms">terms of use</a></footer>'
    "</body></html>"
)


def pages_from_documents(spark: SparkSession, sf: str) -> DataFrame:
    """documents table -> input-hint pages table (url, warc_ts, html, text,
    lang).  Deterministic: html is a pure SQL function of (doc_id, text)."""
    d = fan_out(T(spark, sf, "documents"), "doc_id")
    ident = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta charset="utf-8"><title>Doc '), ident,
        F.lit("</title></head><body>"
              '<header><nav><a href="/home">home</a> <a href="/about">about</a>'
              "</nav></header><article><h1>Doc "), ident,
        F.lit("</h1><p>"), F.col("text"), F.lit(_SUFFIX),
    )
    return d.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/"), ident).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit("").alias("text"),
        "lang",
    )


# Shared oracle fragment: the DOM kernel's normalized article body and its
# word count, stated relationally.
_BODY_CTE = """
  WITH prep AS (
    SELECT doc_id,
           regexp_replace(trim(text), '\\s+', ' ', 'g') AS body,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS wc
    FROM documents)
"""


@query(
    "q_extract_text",
    _BODY_CTE
    + """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CASE WHEN wc >= 8
                THEN 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || body
                ELSE '' END AS text
    FROM prep
    """,
)
def q_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship kernel gate (OP-64/65 + OP-43b): full Arrow-UDF DOM
    extraction must reproduce, byte-identically, the SQL-stated expectation —
    heading + article body when the body clears MIN_CONTENT_WORDS, else
    empty (heading demoted, kernels/dom.py _classify).  Docs-only
    extraction: flat mapInPandas columns, no nested structs over Arrow."""
    pages = pages_from_documents(spark, sf)
    return extracted_docs(pages).select("doc_id", "title", "text")


@query(
    "q_extract_links",
    """
    SELECT doc_id, CAST(3 AS BIGINT) AS n_links,
           '/home,/about,/terms' AS links_csv
    FROM documents
    """,
)
def q_extract_links(spark: SparkSession, sf: str) -> DataFrame:
    """Link harvesting through the kernel (OP-23/31; ref
    extract_cam_followers.py:96-99): every wrapped page carries exactly the
    template's three hrefs, in document order."""
    pages = pages_from_documents(spark, sf)
    ext = extracted_docs_with_pages(pages)
    links = F.col("pages")[0]["links"]
    return ext.select(
        "doc_id",
        F.size(links).cast("long").alias("n_links"),
        F.concat_ws(",", links).alias("links_csv"),
    )


@query(
    "q_extract_blocks",
    _BODY_CTE
    + """
    SELECT doc_id,
           CAST(CASE WHEN wc = 0 THEN 4 ELSE 5 END AS BIGINT) AS n_blocks,
           CAST(CASE WHEN wc >= 8 THEN 2 ELSE 0 END AS BIGINT)
             AS n_content_blocks
    FROM prep
    """,
)
def q_extract_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Block classification counts (OP-34/64): title + nav + h1 + p + footer
    blocks; exactly {h1, p} classified content when the body has >=8 words."""
    pages = pages_from_documents(spark, sf)
    ext = extracted_docs_with_pages(pages)
    blocks = F.col("pages")[0]["blocks"]
    return ext.select(
        "doc_id",
        F.size(blocks).cast("long").alias("n_blocks"),
        F.size(F.filter(blocks, lambda b: b["is_content"]))
        .cast("long")
        .alias("n_content_blocks"),
    )


@query(
    "q_pipeline_kinds",
    # PDF/raw payload generation isn't SQL-expressible, but the corpus is a
    # pure function of (seed=42, doc_id) — so the expected per-kind summary
    # for the first 300 docs is a CONSTANT derived from the GENERATOR's own
    # spec (gen_doc(with_spec=True): kind + planned page count per doc),
    # independent of the extraction kernels under test.
    # tests/test_pipeline_kinds_spec.py re-derives these values from the
    # spec on every run, so a drifted constant fails before the driver sees
    # it and a kernel bug cannot bake itself into the expectation.
    """
    SELECT * FROM (VALUES
      ('html', 'ok', CAST(210 AS BIGINT), CAST(210 AS BIGINT)),
      ('pdf',  'ok', CAST(47  AS BIGINT), CAST(109 AS BIGINT)),
      ('raw',  'ok', CAST(43  AS BIGINT), CAST(43  AS BIGINT)))
      t(kind, status, n_docs, total_pages)
    """,
)
def q_pipeline_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-dialect corpus gate (OP-01/59/64/65): generate the deterministic
    synthetic corpus (html+pdf+raw, seed=42, 300 docs) executor-side, run the
    full kernel dispatch, summarize per kind — and match the generator-spec
    expectation.  Half the PDFs are the 1.5 dialect (xref/object streams,
    mixed filters), so this also gates the modern parser paths.  Per-byte
    goldens for this path live in tests/test_goldens.py."""
    from ..sources.pages import corpus_df

    pages = corpus_df(spark, 300, parts=8)
    return (
        extracted_docs(pages)
        .groupBy("kind", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_pages").cast("long").alias("total_pages"))
    )


_N_DIALECT_DOCS = 100
_DIALECT_TOTAL_PAGES = 268  # generator spec: sum of planned page counts
                            # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_dialects",
    # Structural (non-circular) oracle: parsing the SAME document serialized
    # as classic PDF 1.4 and as modern PDF 1.5 (xref stream + ObjStm + mixed
    # ASCIIHex/ASCII85/RunLength/Flate/LZW filters, LZW in both /EarlyChange
    # modes) must yield byte-identical
    # text and page structure; total pages comes from the generator's page
    # plan, not from the parser.
    f"""
    SELECT CAST({_N_DIALECT_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_DIALECT_DOCS} AS BIGINT) AS n_text_match,
           CAST({_DIALECT_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_dialects(spark: SparkSession, sf: str) -> DataFrame:
    """PDF 1.5 dialect gate (VERDICT.md item 3): serialize 100 documents in
    BOTH dialects executor-side, parse both with the kernel, and require
    text/page equality per document plus the generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                rc = parse_pdf(make_pdf(
                    _random.Random(f"dialect-gate:{doc_id}"), doc_id,
                    dialect="classic")[0])
                rm = parse_pdf(make_pdf(
                    _random.Random(f"dialect-gate:{doc_id}"), doc_id,
                    dialect="modern")[0])
                same = (
                    [p["text"] for p in rc["pages"]]
                    == [p["text"] for p in rm["pages"]]
                    and rc["metadata"] == rm["metadata"]
                    and rc["n_pages"] == rm["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rc["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_DIALECT_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_CMAP_DOCS = 100
_CMAP_TOTAL_PAGES = 253  # generator spec: sum of planned page counts
                         # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_cmap",
    # Structural (non-circular) oracle, same discipline as q_pdf_dialects:
    # the SAME document serialized with a simple Type1 font (literal Latin-1
    # strings) and with a composite Type0/Identity-H font (hex CID strings +
    # ToUnicode CMap with bfchar AND bfrange sections) must parse to
    # byte-identical text and page structure; the page total comes from the
    # generator's page plan, not from the parser.
    f"""
    SELECT CAST({_N_CMAP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_CMAP_DOCS} AS BIGINT) AS n_text_match,
           CAST({_CMAP_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_cmap(spark: SparkSession, sf: str) -> DataFrame:
    """Composite-font gate (round-3 item 1; reference reads CMap fonts via
    MuPDF, text_extractor.py:51-53): serialize 100 documents with simple AND
    Type0/CID+ToUnicode fonts executor-side — alternating classic/modern
    xref dialects underneath — parse both with the kernel, and require
    text/metadata/page equality per document plus the generator-spec page
    total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                dialect = "modern" if doc_id % 2 else "classic"
                rs = parse_pdf(make_pdf(
                    _random.Random(f"cmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="simple")[0])
                rc = parse_pdf(make_pdf(
                    _random.Random(f"cmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid")[0])
                same = (
                    [p["text"] for p in rs["pages"]]
                    == [p["text"] for p in rc["pages"]]
                    and rs["metadata"] == rc["metadata"]
                    and rs["n_pages"] == rc["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rs["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_CMAP_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )

_N_FONTCMAP_DOCS = 100
_FONTCMAP_TOTAL_PAGES = 252  # generator spec: sum of planned page counts
                             # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_fontcmap",
    # Structural (non-circular) oracle, same discipline as q_pdf_cmap: the
    # SAME document serialized with a simple Type1 font and with a Type0
    # font that has NO /ToUnicode CMap — only an embedded TrueType program
    # (/FontFile2) whose format-4 cmap the parser must invert to recover
    # unicode — must parse to byte-identical text and page structure; the
    # page total comes from the generator's page plan, not the parser.
    f"""
    SELECT CAST({_N_FONTCMAP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_FONTCMAP_DOCS} AS BIGINT) AS n_text_match,
           CAST({_FONTCMAP_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_fontcmap(spark: SparkSession, sf: str) -> DataFrame:
    """Embedded-font-cmap gate (round-4 item 4; VERDICT.md round-3
    'What's missing' #3 — real subsetted PDFs often omit /ToUnicode and
    force consumers to read the embedded font program's cmap table;
    reference capability via MuPDF, text_extractor.py:51-53): serialize
    100 documents with simple AND Type0/Identity-H fonts where the
    composite variant embeds a minimal TrueType carrying a format-4 cmap
    (sources/synth_ttf.py) instead of a /ToUnicode stream, parse both with
    the kernel (kernels/pdf.py _parse_truetype_cmap inverts unicode->GID;
    GID == CID under /CIDToGIDMap /Identity), and require text/metadata/
    page equality per document plus the generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                dialect = "modern" if doc_id % 2 else "classic"
                rs = parse_pdf(make_pdf(
                    _random.Random(f"fontcmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="simple")[0])
                rf = parse_pdf(make_pdf(
                    _random.Random(f"fontcmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-fontfile")[0])
                same = (
                    [p["text"] for p in rs["pages"]]
                    == [p["text"] for p in rf["pages"]]
                    and rs["metadata"] == rf["metadata"]
                    and rs["n_pages"] == rf["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rs["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_FONTCMAP_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_CRAWLMETA_DOCS = 80


@query(
    "q_crawl_meta",
    # Spec-derived (non-circular) oracle: the generator embeds canonical /
    # robots head elements computed from doc_id — with deliberately messy
    # author formatting on even ids (upper-case, ragged comma spacing) —
    # and the parser must recover the NORMALIZED spec values per document.
    f"""
    SELECT range AS doc_id,
           CASE WHEN range % 3 = 0
                THEN 'https://canon.example.org/d/' || CAST(range // 3 AS VARCHAR)
                ELSE '' END AS canonical,
           CASE range % 4 WHEN 1 THEN 'noindex'
                          WHEN 2 THEN 'noindex, nofollow'
                          WHEN 3 THEN 'all' ELSE '' END AS robots,
           CAST(CASE WHEN range % 4 IN (1, 2) THEN 0 ELSE 1 END AS BIGINT)
             AS indexable
    FROM range({_N_CRAWLMETA_DOCS})
    """,
)
def q_crawl_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-policy metadata harvest (training-data pipeline extra: a
    compliant crawl pipeline must honor <link rel=canonical> for dedup and
    <meta name=robots> noindex for exclusion — the per-document analogue of
    robots.txt): serialize 80 documents whose head declares spec-derived
    canonical/robots values — even ids get MESSY author formatting
    (upper-case directives, ragged comma spacing) — parse with the DOM
    kernel (kernels/dom.py first-wins harvest + directive normalization),
    and emit the recovered values per doc.  Map-only, zero exchanges."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.dom import parse_html
    from ..sources.synth import make_html

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            canon, robots, flag = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                spec_c = (f"https://canon.example.org/d/{doc_id // 3}"
                          if doc_id % 3 == 0 else None)
                spec_r = [None, "noindex", "noindex, nofollow",
                          "all"][doc_id % 4]
                emit_r = spec_r
                if spec_r is not None and doc_id % 2 == 0:
                    emit_r = spec_r.upper().replace(", ", " ,  ")
                html = make_html(
                    _random.Random(f"crawlmeta-gate:{doc_id}"), doc_id,
                    "en", canonical=spec_c, robots=emit_r)
                r = parse_html(html)
                canon.append(r["canonical"] or "")
                robots.append(r["robots"] or "")
                flag.append(0 if "noindex" in (r["robots"] or "") else 1)
            yield pd.DataFrame({
                "doc_id": [int(i) for i in pdf["id"]],
                "canonical": canon, "robots": robots, "indexable": flag,
            })

    return (
        spark.range(0, _N_CRAWLMETA_DOCS, numPartitions=8)
        .mapInPandas(
            run,
            schema="doc_id long, canonical string, robots string, "
                   "indexable long")
    )


_N_UCS2_DOCS = 80
_UCS2_TOTAL_PAGES = 214  # generator spec: sum of planned page counts
                         # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_ucs2",
    # Structural (non-circular) oracle, same discipline as q_pdf_fontcmap:
    # the SAME document serialized with a simple Type1 font and with a
    # Type0 font whose ONLY text mapping is the predefined /UniGB-UCS2-H
    # CMap (no /ToUnicode, no /FontFile2 — the 2-byte codes ARE the UCS-2
    # code points) must parse to byte-identical text and page structure;
    # the page total comes from the generator's page plan, not the parser.
    f"""
    SELECT CAST({_N_UCS2_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_UCS2_DOCS} AS BIGINT) AS n_text_match,
           CAST({_UCS2_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_ucs2(spark: SparkSession, sf: str) -> DataFrame:
    """Predefined-UCS2-CMap gate (the residual of VERDICT round-3 'What's
    missing' #3 the /FontFile2 fallback doesn't cover: real CJK PDFs name
    Adobe's Uni*-UCS2 CMaps instead of embedding a ToUnicode stream; the
    reference reads them via MuPDF's bundled CMap resources,
    text_extractor.py:51-53): serialize 80 documents with simple AND
    Type0 /UniGB-UCS2-H fonts, parse both with the kernel
    (kernels/pdf.py _ucs2_decode — code bytes decode directly as UCS-2),
    and require text/metadata/page equality per document plus the
    generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                dialect = "modern" if doc_id % 2 else "classic"
                rs = parse_pdf(make_pdf(
                    _random.Random(f"ucs2-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="simple")[0])
                ru = parse_pdf(make_pdf(
                    _random.Random(f"ucs2-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-ucs2")[0])
                same = (
                    [p["text"] for p in rs["pages"]]
                    == [p["text"] for p in ru["pages"]]
                    and rs["metadata"] == ru["metadata"]
                    and rs["n_pages"] == ru["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rs["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_UCS2_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_EMBCMAP_DOCS = 80
_EMBCMAP_TOTAL_PAGES = 198  # generator spec: sum of planned page counts
                            # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_embedded_cmap",
    # Structural (non-circular) oracle, same discipline as q_pdf_ucs2: the
    # SAME document serialized with a simple Type1 font and with a Type0
    # font whose /Encoding is an EMBEDDED CMap STREAM (code -> CID with
    # code = CID + 0x2100, no /ToUnicode; CID -> unicode recovered from the
    # descendant TrueType program) must parse to byte-identical text and
    # page structure; the page total comes from the generator's page plan.
    f"""
    SELECT CAST({_N_EMBCMAP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_EMBCMAP_DOCS} AS BIGINT) AS n_text_match,
           CAST({_EMBCMAP_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_embedded_cmap(spark: SparkSession, sf: str) -> DataFrame:
    """Embedded-/Encoding-CMap gate (VERDICT round-4 'What's missing' #1:
    an /Encoding pointing at a CMap STREAM object — the reference reads
    such fonts via MuPDF, text_extractor.py:51-53): serialize 80 documents
    with simple AND Type0 embedded-CMap fonts over both xref dialects,
    parse both with the kernel (kernels/pdf.py _parse_cid_cmap composing
    code->CID with the descendant font's cid->unicode), and require
    text/metadata/page equality per document plus the generator-spec page
    total.  Show-string codes differ from CIDs by a fixed offset, so
    equality is impossible without actually applying the CMap."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                dialect = "modern" if doc_id % 2 else "classic"
                rs = parse_pdf(make_pdf(
                    _random.Random(f"embcmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="simple")[0])
                rc = parse_pdf(make_pdf(
                    _random.Random(f"embcmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-cmap")[0])
                same = (
                    [p["text"] for p in rs["pages"]]
                    == [p["text"] for p in rc["pages"]]
                    and rs["metadata"] == rc["metadata"]
                    and rs["n_pages"] == rc["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rs["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_EMBCMAP_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_CJK_DOCS = 80
#: per-doc (font route, charset) plan: every predefined national-encoding /
#: UTF-16 CMap family gets 16 of the 80 docs
_CJK_ROUTES = (
    ("cid-rksj", "ja"), ("cid-gbk", "zh-hans"), ("cid-b5", "zh-hant"),
    ("cid-uhc", "ko"), ("cid-utf16", "ja"),
)
_CJK_TOTAL_PAGES = 192  # generator spec: sum of planned page counts
                        # (scripts/derive_kind_expectations.cjk_total_pages)


@query(
    "q_pdf_cjk",
    # Structural (non-circular) oracle, same discipline as q_pdf_ucs2: the
    # SAME document (same seed, same CJK charset) serialized through the
    # certified predefined-UCS2 route and through a predefined
    # national-encoding / UTF-16 CMap route (90ms-RKSJ-H / GBK-EUC-H /
    # ETen-B5-H / KSCms-UHC-H / UniJIS-UTF16-H) must parse to
    # byte-identical text and page structure; the page total comes from
    # the generator's page plan.  n_has_cjk proves non-vacuity: every doc's
    # recovered text contains multi-byte CJK, so the codec decode path is
    # actually exercised (name->codec routing itself is pinned against
    # hand-transcribed byte vectors in tests/test_pdf_codec_cmap.py).
    f"""
    SELECT CAST({_N_CJK_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_CJK_DOCS} AS BIGINT) AS n_text_match,
           CAST({_N_CJK_DOCS} AS BIGINT) AS n_has_cjk,
           CAST({_CJK_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_cjk(spark: SparkSession, sf: str) -> DataFrame:
    """Predefined national-encoding CMap gate (the residual of VERDICT
    round-4 'What's missing' #1 after embedded CMap streams: real CJK PDFs
    overwhelmingly name Adobe's predefined CMaps — 90ms-RKSJ-H for
    Shift-JIS Japanese, GBK-EUC-H for simplified Chinese, ETen-B5-H for
    traditional Chinese, KSCms-UHC-H for Korean, Uni*-UTF16-H for
    UTF-16 — instead of embedding a mapping; the reference reads them via
    MuPDF's bundled CMap resources, text_extractor.py:51-53): serialize 80
    CJK documents through the predefined-UCS2 route AND the per-doc codec
    route over both xref dialects, parse both with the kernel
    (kernels/pdf.py _CodecCMapDecoder — the CMap's code space IS the
    national encoding, PDF 32000-1 §9.7.5.2 Table 118), and require
    text/metadata/page equality per document plus the generator-spec page
    total and a CJK-content proof per document."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, has_cjk, npages = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                font, charset = _CJK_ROUTES[doc_id % len(_CJK_ROUTES)]
                dialect = "modern" if doc_id % 2 else "classic"
                ru = parse_pdf(make_pdf(
                    _random.Random(f"cjk-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-ucs2", charset=charset)[0])
                rc = parse_pdf(make_pdf(
                    _random.Random(f"cjk-gate:{doc_id}"), doc_id,
                    dialect=dialect, font=font, charset=charset)[0])
                same = (
                    [p["text"] for p in ru["pages"]]
                    == [p["text"] for p in rc["pages"]]
                    and ru["metadata"] == rc["metadata"]
                    and ru["n_pages"] == rc["n_pages"]
                )
                match.append(1 if same else 0)
                has_cjk.append(1 if any(
                    ord(c) > 0x2E00
                    for p in rc["pages"] for c in p["text"]) else 0)
                npages.append(rc["n_pages"])
            yield pd.DataFrame({"m": match, "c": has_cjk, "p": npages})

    per_doc = (
        spark.range(0, _N_CJK_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, c int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("c").cast("long").alias("n_has_cjk"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_MIXED_DOCS = 80
#: per-doc charset plan: latin exercises mostly-1-byte strings (the 10%
#: latin-1 extras are the 2-byte outliers), the CJK charsets exercise
#: heavily-interleaved 1-byte/2-byte strings
_MIXED_CHARSETS = ("latin", "ja", "zh-hans", "ko")
_MIXED_TOTAL_PAGES = 195  # generator spec: sum of planned page counts
                          # (derive_kind_expectations.mixed_cmap_total_pages)


@query(
    "q_pdf_mixed_cmap",
    # Structural (non-circular) oracle, same discipline as
    # q_pdf_embedded_cmap: the SAME document serialized through the
    # certified predefined-UCS2 route and through an embedded CMap stream
    # with a MIXED-width codespace (1-byte <20><7E> ASCII codes + 2-byte
    # <8020><FEFE> codes, generator-assigned so code != CID) must parse to
    # byte-identical text and page structure; the page total comes from
    # the generator's page plan.  Text equality is impossible unless the
    # kernel splits variable-width show strings by per-byte
    # codespace-range matching (kernels/pdf.py _VarWidthCidDecoder) AND
    # applies the code->CID->unicode composition.
    f"""
    SELECT CAST({_N_MIXED_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_MIXED_DOCS} AS BIGINT) AS n_text_match,
           CAST({_MIXED_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_mixed_cmap(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-width embedded-CMap gate (the final residual of VERDICT
    round-4 'What's missing' #1: real RKSJ/EUC-style CMaps mix 1-byte
    ASCII with 2-byte CJK ranges; the round-4 embedded-CMap support
    error-routed them): serialize 80 documents through the
    predefined-UCS2 route AND the mixed-width embedded-CMap route over
    both xref dialects and four charsets, parse both with the kernel, and
    require text/metadata/page equality per document plus the
    generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                charset = _MIXED_CHARSETS[doc_id % len(_MIXED_CHARSETS)]
                dialect = "modern" if doc_id % 2 else "classic"
                ru = parse_pdf(make_pdf(
                    _random.Random(f"mixedcmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-ucs2", charset=charset)[0])
                rm = parse_pdf(make_pdf(
                    _random.Random(f"mixedcmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-mixed", charset=charset)[0])
                same = (
                    [p["text"] for p in ru["pages"]]
                    == [p["text"] for p in rm["pages"]]
                    and ru["metadata"] == rm["metadata"]
                    and ru["n_pages"] == rm["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rm["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_MIXED_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_USECMAP_DOCS = 80
_USECMAP_CHARSETS = ("latin", "ja", "zh-hans", "ko")
_USECMAP_TOTAL_PAGES = 199  # generator spec: sum of planned page counts
                            # (derive_kind_expectations.usecmap_total_pages)


@query(
    "q_pdf_usecmap",
    # Structural (non-circular) oracle, same discipline as the other font
    # gates: the SAME document serialized through the certified
    # predefined-UCS2 route and through an embedded CMap that COMPOSES
    # /UniGB-UCS2-H via usecmap (every second distinct char overridden
    # into the private <E000><E0FF> codespace, code->CID->FontFile2
    # unicode; the rest base UCS-2 codes) must parse to byte-identical
    # text and page structure; the page total comes from the generator's
    # page plan.  Equality requires BOTH composition halves: the embedded
    # overrides AND the base fallthrough.
    f"""
    SELECT CAST({_N_USECMAP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_USECMAP_DOCS} AS BIGINT) AS n_text_match,
           CAST({_USECMAP_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_usecmap(spark: SparkSession, sf: str) -> DataFrame:
    """/UseCMap composition gate (the final CMap-family error-route from
    the round-4 kernel scope note; the reference reads composed CMaps via
    MuPDF's CMap machinery, text_extractor.py:51-53): serialize 80
    documents through the predefined-UCS2 route AND the usecmap route
    over both xref dialects and four charsets, parse both with the kernel
    (kernels/pdf.py _usecmap_base + _VarWidthCidDecoder base fallback),
    and require text/metadata/page equality per document plus the
    generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                charset = _USECMAP_CHARSETS[doc_id % len(_USECMAP_CHARSETS)]
                dialect = "modern" if doc_id % 2 else "classic"
                ru = parse_pdf(make_pdf(
                    _random.Random(f"usecmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-ucs2", charset=charset)[0])
                rc = parse_pdf(make_pdf(
                    _random.Random(f"usecmap-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-usecmap",
                    charset=charset)[0])
                same = (
                    [p["text"] for p in ru["pages"]]
                    == [p["text"] for p in rc["pages"]]
                    and ru["metadata"] == rc["metadata"]
                    and ru["n_pages"] == rc["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rc["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_USECMAP_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_SENC_DOCS = 80
#: per-doc (font route, charset): WinAnsi/MacRoman base tables over the
#: cp1252-special pool, /Differences with classic-AGL + uniXXXX names over
#: latin AND ja text, a scrambled 1-byte /ToUnicode subset font, and
#: Adobe StandardEncoding over its own ligature/punctuation repertoire
_SENC_ROUTES = (
    ("simple-winansi", "win"), ("simple-macroman", "win"),
    ("simple-diff", "latin"), ("simple-diff", "ja"), ("simple-tu", "win"),
    ("simple-standard", "std"),
)
_SENC_TOTAL_PAGES = 189  # generator spec: sum of planned page counts
                         # (derive_kind_expectations.simple_enc_total_pages)


@query(
    "q_pdf_simple_enc",
    # Structural (non-circular) oracle, same discipline as the composite-
    # font gates: the SAME document serialized through the certified
    # predefined-UCS2 route and through a simple font with an explicit
    # encoding (/WinAnsiEncoding, /MacRomanEncoding, /Differences with AGL
    # names, or a scrambled 1-byte /ToUnicode) must parse to
    # byte-identical text and page structure.  The 'win' charset puts
    # cp1252-specific characters (0x80-0x9F bytes) in every document, so
    # the base-table routes cannot pass under the old Latin-1 default;
    # /Differences codes disagree with WinAnsi positions and /ToUnicode
    # codes with every standard table, so both remapping routes require
    # the mapping to actually apply.  Table positions themselves are
    # pinned against hand-transcribed vectors in
    # tests/test_pdf_simple_enc.py.
    f"""
    SELECT CAST({_N_SENC_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_SENC_DOCS} AS BIGINT) AS n_text_match,
           CAST({_SENC_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_simple_enc(spark: SparkSession, sf: str) -> DataFrame:
    """Simple-font encoding gate (PDF 32000-1 §9.6.6 + Appendix D — the
    encodings real non-CJK PDFs carry on almost every page; the reference
    reads them via MuPDF's builtin tables, text_extractor.py:51-53):
    serialize 80 documents through the predefined-UCS2 route AND the
    per-doc simple-font encoding route over both xref dialects, parse both
    with the kernel (kernels/pdf.py _simple_encoding_table /
    _glyph_to_unicode / the simple-font ToUnicode branch), and require
    text/metadata/page equality per document plus the generator-spec page
    total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                font, charset = _SENC_ROUTES[doc_id % len(_SENC_ROUTES)]
                dialect = "modern" if doc_id % 2 else "classic"
                ru = parse_pdf(make_pdf(
                    _random.Random(f"senc-gate:{doc_id}"), doc_id,
                    dialect=dialect, font="cid-ucs2", charset=charset)[0])
                rc = parse_pdf(make_pdf(
                    _random.Random(f"senc-gate:{doc_id}"), doc_id,
                    dialect=dialect, font=font, charset=charset)[0])
                same = (
                    [p["text"] for p in ru["pages"]]
                    == [p["text"] for p in rc["pages"]]
                    and ru["metadata"] == rc["metadata"]
                    and ru["n_pages"] == rc["n_pages"]
                )
                match.append(1 if same else 0)
                npages.append(rc["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_SENC_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_FORM_DOCS = 80
#: per-doc (font route, charset) for the form gate — forms compose with
#: both simple and composite fonts
_FORM_ROUTES = (
    ("simple", "latin"), ("cid-ucs2", "ja"), ("simple-winansi", "win"),
    ("cid-mixed", "ja"), ("cid", "latin"),
)
_FORM_TOTAL_PAGES = 216  # generator spec: sum of planned page counts
                        # (derive_kind_expectations.form_total_pages)


@query(
    "q_pdf_form",
    # Structural (non-circular) oracle: the SAME document (same seed, so
    # identical text — the page paragraphs are drawn before serialization
    # diverges) serialized flat and with every page's odd-indexed lines
    # inside a /Subtype /Form XObject (rendered 500 units low, /Matrix
    # translating back, fonts scoped to the FORM's own /Resources) must
    # parse to byte-identical text; reading order is only correct if the
    # kernel executes Do AND composes the Matrix AND scopes resources.
    # n_img_match counts docs where every serialized /Subtype /Image
    # surfaced through the recursive image walk (forms hold the images).
    f"""
    SELECT CAST({_N_FORM_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_FORM_DOCS} AS BIGINT) AS n_text_match,
           CAST({_N_FORM_DOCS} AS BIGINT) AS n_img_match,
           CAST({_FORM_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_form(spark: SparkSession, sf: str) -> DataFrame:
    """Form-XObject gate (PDF 32000-1 §8.10 — real pages carry much of
    their text inside /Subtype /Form XObjects; until round 5 the kernel
    ignored Do, silently dropping that text; the reference reads it via
    MuPDF's display list, text_extractor.py:51-53): serialize 80
    documents flat AND form-wrapped over both xref dialects and five
    font routes, parse both with the kernel (kernels/pdf.py _extract_runs
    Do handling + the recursive _page_images walk), and require text/
    metadata/page equality plus the all-images-found proof per document
    plus the generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, imgm, npages = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                font, charset = _FORM_ROUTES[doc_id % len(_FORM_ROUTES)]
                dialect = "modern" if doc_id % 2 else "classic"
                ru = parse_pdf(make_pdf(
                    _random.Random(f"form-gate:{doc_id}"), doc_id,
                    dialect=dialect, font=font, charset=charset)[0])
                wrapped = make_pdf(
                    _random.Random(f"form-gate:{doc_id}"), doc_id,
                    dialect=dialect, font=font, charset=charset,
                    wrap_form=True)[0]
                rf = parse_pdf(wrapped)
                same = (
                    [p["text"] for p in ru["pages"]]
                    == [p["text"] for p in rf["pages"]]
                    and ru["metadata"] == rf["metadata"]
                    and ru["n_pages"] == rf["n_pages"]
                )
                n_found = sum(len(p["images"]) for p in rf["pages"])
                match.append(1 if same else 0)
                imgm.append(
                    1 if n_found == wrapped.count(b"/Subtype /Image")
                    else 0)
                npages.append(rf["n_pages"])
            yield pd.DataFrame({"m": match, "g": imgm, "p": npages})

    per_doc = (
        spark.range(0, _N_FORM_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, g int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("g").cast("long").alias("n_img_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_GZIP_DOCS = 60


@query(
    "q_gzip_transparent",
    # Structural (non-circular) oracle: extracting a payload, its
    # gzip-wrapped bytes (mtime=0) and its two halves as a two-member gzip
    # body must produce the IDENTICAL full result tree — same kind,
    # status, pages, text, blocks, images — across all three payload kinds
    # and both PDF dialects.  n_kind_ok additionally proves the reported kind is the
    # INNER kind (a 'raw' leak would mean binary soup shipped as text).
    f"""
    SELECT CAST({_N_GZIP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_GZIP_DOCS} AS BIGINT) AS n_match,
           CAST({_N_GZIP_DOCS} AS BIGINT) AS n_kind_ok
    """,
)
def q_gzip_transparent(spark: SparkSession, sf: str) -> DataFrame:
    """Transparent-gunzip gate (real crawl tables carry double-compressed
    bodies — Content-Encoding survivors stored verbatim; treating them as
    raw text would emit binary soup as content, silent wrong output):
    extract 60 payloads (pdf/html/raw thirds, both PDF dialects) plain,
    gzip-wrapped AND split over two gzip members, and require full
    result-tree equality plus inner-kind correctness per document
    (kernels/dispatch.py _gunzip_bounded, 64 MiB bomb cap, <=3 nested
    members)."""
    import gzip as _gzip
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.dispatch import extract_document
    from ..sources.synth import make_html, make_pdf, make_raw

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, kind_ok = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                kind = ("pdf", "html", "raw")[doc_id % 3]
                rng = _random.Random(f"gzip-gate:{doc_id}")
                if kind == "pdf":
                    payload = make_pdf(
                        rng, doc_id,
                        dialect="modern" if doc_id % 2 else "classic")[0]
                elif kind == "html":
                    payload = make_html(rng, doc_id, "en")
                else:
                    payload = make_raw(rng, doc_id)
                k = len(payload) // 2
                rp = extract_document(payload)
                rg = extract_document(_gzip.compress(payload, 6, mtime=0))
                rs = extract_document(_gzip.compress(payload[:k], 6, mtime=0)
                                      + _gzip.compress(payload[k:], 6, mtime=0))
                match.append(1 if rp == rg == rs else 0)
                kind_ok.append(
                    1 if rg["kind"] == kind and rg["status"] == "ok"
                    else 0)
            yield pd.DataFrame({"m": match, "k": kind_ok})

    per_doc = (
        spark.range(0, _N_GZIP_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, k int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("k").cast("long").alias("n_kind_ok"),
    )


_N_MERGE_DOCS = 50
_MERGE_TOTAL = 75  # generator spec: expected merged-table total
                   # (scripts/derive_kind_expectations.table_merge_totals)


@query(
    "q_table_merge",
    # Structural (non-circular) oracle: the merged output must equal the
    # UNSPLIT generator specs — n_match counts docs whose relationally-
    # merged tables exactly equal expected_merged_tables(spec), and the
    # merged-table total comes from the same pure-spec rule.
    f"""
    SELECT CAST({_N_MERGE_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_MERGE_DOCS} AS BIGINT) AS n_match,
           CAST({_MERGE_TOTAL} AS BIGINT) AS total_merged
    """,
)
def q_table_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-page table merge (VERDICT round-4 item 6 — the one
    aspirational reference feature with a natural relational shape,
    generate_word_doc.py:88-96): the generator splits a known grid across
    a page break; the kernel detects each half as a per-page table with
    its column x-centers; and the MERGE itself is RELATIONAL — a window
    lag over the exploded tables stream marks a table as continuing the
    previous one when it opens the next page with a matching column
    signature (same column count, every x-center within the kernel's
    3.0 tolerance), a running sum turns the marks into segment ids, and a
    groupBy stitches each segment's rows in page order.  Matching docs
    have merged output exactly equal to the unsplit spec (plus, on
    3-page docs, an unrelated table that must NOT merge)."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import Window

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import (
        expected_merged_tables,
        make_pdf,
        make_split_table_spec,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "page": [], "tbl": [],
                   "centers": [], "rows": []}

            def emit(doc_id, kind, page, tbl, centers, rows):
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["page"].append(page)
                out["tbl"].append(tbl)
                out["centers"].append(list(centers))
                out["rows"].append([list(r) for r in rows])

            for i in pdf["id"]:
                doc_id = int(i)
                n_pages = 2 + doc_id % 2
                _full, top, bot = make_split_table_spec(
                    _random.Random(f"merge-spec:{doc_id}"))
                specs = [top, bot]
                if n_pages == 3:
                    # unrelated table that must NOT merge: another split
                    # spec's top half (fully-filled first row, own col_x)
                    specs.append(make_split_table_spec(
                        _random.Random(f"merge-extra:{doc_id}"))[1])
                pdf_bytes, _ = make_pdf(
                    _random.Random(f"merge-gate:{doc_id}"), doc_id,
                    n_pages=n_pages,
                    dialect="modern" if doc_id % 2 else "classic",
                    page_tables=specs)
                r = parse_pdf(pdf_bytes)
                for p_i, page in enumerate(r["pages"]):
                    for t_i, (tab, cols) in enumerate(
                            zip(page["tables"], page["table_cols"])):
                        emit(doc_id, "det", p_i, t_i, cols, tab)
                for exp in expected_merged_tables(specs):
                    emit(doc_id, "spec", -1, -1, [], exp)
            yield pd.DataFrame(out)

    stream = (
        spark.range(0, _N_MERGE_DOCS, numPartitions=8)
        .mapInPandas(
            run,
            schema="doc_id long, kind string, page int, tbl int, "
                   "centers array<double>, rows array<array<string>>")
    )
    det = stream.filter(F.col("kind") == "det")
    spec = stream.filter(F.col("kind") == "spec")

    w = Window.partitionBy("doc_id").orderBy("page", "tbl")
    prev_page = F.lag("page").over(w)
    prev_centers = F.lag("centers").over(w)
    continues = (
        (F.col("page") == prev_page + 1)
        & (F.col("tbl") == 0)
        & (F.size("centers") == F.size(prev_centers))
        & (
            F.aggregate(
                F.zip_with(F.col("centers"), prev_centers,
                           lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            <= F.lit(3.0)
        )
    )
    seg = F.sum(F.when(continues, 0).otherwise(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (
        det.withColumn("seg", seg)
        .groupBy("doc_id", "seg")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("page", "tbl", "rows"))),
                    lambda s: s["rows"],
                )
            ).alias("mrows")
        )
        .select("doc_id",
                F.sha2(F.to_json(F.col("mrows")), 256).alias("key"))
        .withColumn("got", F.lit(1))
    )
    want = spec.select(
        "doc_id", F.sha2(F.to_json(F.col("rows")), 256).alias("key")
    ).withColumn("want", F.lit(1))
    j = merged.join(want, ["doc_id", "key"], "full_outer")
    per_doc = j.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("got").isNull() | F.col("want").isNull(), 1)
            .otherwise(0)
        ).alias("miss"),
        F.sum(F.coalesce("got", F.lit(0))).alias("n_merged"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("miss") == 0, 1).otherwise(0)).cast("long")
        .alias("n_match"),
        F.sum("n_merged").cast("long").alias("total_merged"),
    )


_N_CCITT_DOCS = 60
_CCITT_TOTAL_PAGES = 149  # generator spec: sum of planned page counts
                          # (scripts/derive_kind_expectations.py)


@query(
    "q_ccitt",
    # Structural (non-circular) oracle, same discipline as the other PDF
    # gates: the SAME document serialized with its images as Flate 8-bit
    # gray and as CCITTFaxDecode 1-bit (G4 or G3-1D per image) must parse
    # to byte-identical text AND pixel-identical images (the CCITT side
    # decodes through kernels/ccitt.py, the T.4/T.6 rebuild of what the
    # reference gets from MuPDF, image_extractor.py:114); the page total
    # comes from the generator's page plan.
    f"""
    SELECT CAST({_N_CCITT_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_CCITT_DOCS} AS BIGINT) AS n_match,
           CAST({_CCITT_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_ccitt(spark: SparkSession, sf: str) -> DataFrame:
    """CCITTFaxDecode gate (VERDICT round-4 'What's missing' #2: scanned-
    document PDFs carry G3/G4 images; the reference reads them via MuPDF):
    serialize 60 documents with every image as Flate-gray AND as CCITT
    over both xref dialects, parse both with the kernel, and require text
    equality plus pixel-identical grayscale for every image pair, plus the
    generator-spec page total."""
    import random as _random
    import zlib as _zlib
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.ccitt import unpack_bilevel
    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                dialect = "modern" if doc_id % 2 else "classic"
                ra = parse_pdf(make_pdf(
                    _random.Random(f"ccitt-gate:{doc_id}"), doc_id,
                    dialect=dialect, image_coding="flate-gray")[0])
                rb = parse_pdf(make_pdf(
                    _random.Random(f"ccitt-gate:{doc_id}"), doc_id,
                    dialect=dialect, image_coding="ccitt")[0])
                same = (
                    [p["text"] for p in ra["pages"]]
                    == [p["text"] for p in rb["pages"]]
                    and ra["n_pages"] == rb["n_pages"]
                )
                for pa, pb in zip(ra["pages"], rb["pages"]):
                    if len(pa["images"]) != len(pb["images"]):
                        same = False
                        break
                    for ia, ib in zip(pa["images"], pb["images"]):
                        if _zlib.decompress(ia["payload"]) != unpack_bilevel(
                                ib["payload"], ib["width"], ib["height"]):
                            same = False
                match.append(1 if same else 0)
                npages.append(ra["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_CCITT_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_CRYPT_DOCS = 60
_CRYPT_TOTAL_PAGES = 158  # generator spec: sum of planned page counts
                          # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_encrypted",
    # Structural (non-circular) oracle: the SAME document serialized
    # plaintext and encrypted with the standard security handler (RC4-40 /
    # RC4-128 / AES-128 rotating per doc, over both xref dialects and both
    # font dialects) must decrypt+parse to byte-identical text and
    # metadata; the page total comes from the generator's page plan.
    f"""
    SELECT CAST({_N_CRYPT_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_CRYPT_DOCS} AS BIGINT) AS n_text_match,
           CAST({_CRYPT_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    """Encryption gate (round-3 item 2; the reference opens encrypted PDFs
    via MuPDF): serialize 60 documents plaintext AND standard-handler
    encrypted executor-side — variant doc_id%4 in {rc4-40, rc4-128,
    aes-128, aes-256(R5)}, xref dialect doc_id%2, font dialect doc_id%4 —
    decrypt+parse with the kernel, and require text/metadata/image-payload
    equality per document plus the generator-spec page total."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    # aes-256-r5 = the V5/AESV3 machinery (file-key unwrap from /UE, direct
    # file-key object decryption) with the cheap R5 password hash; the full
    # R6 iterated KDF is covered by tests/test_pdf_crypto.py (its ~1 s/hash
    # pure-Python cost belongs in pytest, not a 50-query driver run)
    variants = ["rc4-40", "rc4-128", "aes-128", "aes-256-r5"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, npages = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                dialect = "modern" if doc_id % 2 else "classic"
                font = "cid" if doc_id % 4 >= 2 else "simple"
                rp = parse_pdf(make_pdf(
                    _random.Random(f"crypt-gate:{doc_id}"), doc_id,
                    dialect=dialect, font=font)[0])
                re_ = parse_pdf(make_pdf(
                    _random.Random(f"crypt-gate:{doc_id}"), doc_id,
                    dialect=dialect, font=font,
                    encrypt=variants[doc_id % 4])[0])
                same = (
                    [p["text"] for p in rp["pages"]]
                    == [p["text"] for p in re_["pages"]]
                    and rp["metadata"] == re_["metadata"]
                    and [
                        [img["payload"] for img in p["images"]]
                        for p in rp["pages"]
                    ] == [
                        [img["payload"] for img in p["images"]]
                        for p in re_["pages"]
                    ]
                )
                match.append(1 if same else 0)
                npages.append(rp["n_pages"])
            yield pd.DataFrame({"m": match, "p": npages})

    per_doc = (
        spark.range(0, _N_CRYPT_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, p int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_text_match"),
        F.sum("p").cast("long").alias("total_pages"),
    )


_N_TABLE_DOCS = 60
_TABLE_TOTAL = 120   # generator spec: one grid per page, pages = 1+doc_id%3
_TABLE_ROWS = 554    # generator spec: sum of per-grid row counts
# (both re-derived from the spec rng on every pytest run by
# tests/test_pdf_tables.py::test_gate_constants_match_spec)


@query(
    "q_pdf_tables",
    # Structural (non-circular) oracle, same discipline as q_pdf_dialects:
    # the SAME logical grid rendered as positioned PDF text runs and as an
    # HTML <table> must parse to identical cell data (including None for
    # empty cells), and both must equal the generator's spec rows; the
    # table/row totals come from the generator's spec rng, not the parser.
    f"""
    SELECT CAST({_N_TABLE_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_TABLE_DOCS} AS BIGINT) AS n_match,
           CAST({_TABLE_TOTAL} AS BIGINT) AS total_tables,
           CAST({_TABLE_ROWS} AS BIGINT) AS total_rows
    """,
)
def q_pdf_tables(spark: SparkSession, sf: str) -> DataFrame:
    """PDF-native table detection gate (round-4 item 1; OP-61 — the
    reference extracts PDF tables via pdfplumber's word-cluster strategy,
    table_extractor.py:42-135): serialize 60 documents executor-side, each
    page carrying one grid of positioned runs (emission-shuffled), detect
    tables with the kernel's x-cluster column alignment (kernels/pdf.py
    _detect_tables), and require three-way cell-data equality per doc —
    PDF-detected == DOM-parsed HTML twin == generator spec — plus page-text
    equality (grid rows join reading order) and the spec totals."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels import dom
    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf, make_table_spec, table_spec_html

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, ntab, nrow = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                n_pages = 1 + doc_id % 3
                specs = [
                    make_table_spec(_random.Random(f"table-spec:{doc_id}:{p}"))
                    for p in range(n_pages)
                ]
                pdf_bytes, exp_lines = make_pdf(
                    _random.Random(f"table-gate:{doc_id}"), doc_id,
                    n_pages=n_pages,
                    dialect="modern" if doc_id % 2 else "classic",
                    page_tables=specs)
                r = parse_pdf(pdf_bytes)
                html = (
                    "<html><head><title>t</title></head><body>"
                    + "".join(table_spec_html(s) for s in specs)
                    + "</body></html>"
                )
                h = dom.parse_html(html.encode("utf-8"))
                want = [s["rows"] for s in specs]
                got = [t for p in r["pages"] for t in p["tables"]]
                same = (
                    got == want
                    and h["tables"] == want
                    and all(
                        p["text"] == "\n".join(el)
                        for p, el in zip(r["pages"], exp_lines)
                    )
                )
                match.append(1 if same else 0)
                ntab.append(len(got))
                nrow.append(sum(len(t) for t in got))
            yield pd.DataFrame({"m": match, "t": ntab, "r": nrow})

    per_doc = (
        spark.range(0, _N_TABLE_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, t int, r int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("t").cast("long").alias("total_tables"),
        F.sum("r").cast("long").alias("total_rows"),
    )


_N_LINK_DOCS = 80
_LINK_TOTAL = 337   # generator spec: sum of per-page randint(0,4) link draws
# (re-derived from the spec rng on every pytest run by
# tests/test_pdf_links.py::test_gate_constants_match_spec)


@query(
    "q_pdf_links",
    # Structural (non-circular) oracle, same discipline as q_pdf_tables:
    # the SAME spec URI list serialized as PDF /Annots link annotations
    # (both the /A action and legacy direct-/URI forms, across both xref
    # dialects, with an encrypted share) and as HTML <a href> anchors must
    # parse to the identical ordered list; the link total comes from the
    # generator's spec rng, not either parser.
    f"""
    SELECT CAST({_N_LINK_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_LINK_DOCS} AS BIGINT) AS n_match,
           CAST({_LINK_TOTAL} AS BIGINT) AS total_links
    """,
)
def q_pdf_links(spark: SparkSession, sf: str) -> DataFrame:
    """PDF /Annots link-URI harvesting gate (round 4; OP-23/OP-31 PDF-side
    parity — the reference walks fitz page.get_links(),
    extract_cam_followers.py:96-99, while until now only the DOM kernel
    emitted links): serialize 80 documents executor-side with spec-rng URI
    lists as /Subtype /Link annotations (even links via /A << /S /URI >>
    actions, odd via the PDF 1.1 direct /URI key; dialect alternates
    classic/modern; every 4th doc RC4-128-encrypted so URI string
    decryption is exercised), parse with the kernel (kernels/pdf.py
    _page_links), and require per-page link equality with the spec AND
    with the DOM-parsed HTML twin carrying the same anchors."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels import dom
    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            match, nlinks = [], []
            for i in pdf["id"]:
                doc_id = int(i)
                n_pages = 1 + doc_id % 3
                spec: list[list[str]] = []
                for p in range(n_pages):
                    rng = _random.Random(f"link-spec:{doc_id}:{p}")
                    n = rng.randint(0, 4)
                    spec.append([
                        f"https://s{rng.randint(0, 99)}.example"
                        f"/p{rng.randint(0, 9999)}"
                        for _ in range(n)
                    ])
                pdf_bytes, _ = make_pdf(
                    _random.Random(f"link-gate:{doc_id}"), doc_id,
                    n_pages=n_pages,
                    dialect="modern" if doc_id % 2 else "classic",
                    encrypt="rc4-128" if doc_id % 4 == 0 else None,
                    page_links=spec)
                r = parse_pdf(pdf_bytes)
                got = [pg["links"] for pg in r["pages"]]
                flat = [u for pl in spec for u in pl]
                html = (
                    "<html><head><title>l</title></head><body><p>"
                    + " ".join(f'<a href="{u}">x</a>' for u in flat)
                    + "</p></body></html>"
                )
                h = dom.parse_html(html.encode("utf-8"))
                same = got == spec and h["links"] == flat
                match.append(1 if same else 0)
                nlinks.append(sum(len(pl) for pl in got))
            yield pd.DataFrame({"m": match, "l": nlinks})

    per_doc = (
        spark.range(0, _N_LINK_DOCS, numPartitions=8)
        .mapInPandas(run, schema="m int, l int")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum("l").cast("long").alias("total_links"),
    )
