"""Spark StructTypes for the extraction engine (SURVEY.md §1.2).

The reference's dataclass tree (/root/reference/pdf_extractor/models/
extraction_result.py:86-141) mapped to columnar Spark types: nested lists ->
ArrayType(StructType), metadata dict -> MapType, image payload -> BinaryType
column (no side files in a distributed engine).
"""

from __future__ import annotations

from pyspark.sql import types as T

__all__ = [
    "PAGES_INPUT_SCHEMA",
    "BLOCK_SCHEMA",
    "IMAGE_SCHEMA",
    "PAGE_SCHEMA",
    "EXTRACTION_SCHEMA",
    "DOC_SCHEMA",
]

# Input table shape per BASELINE.json:input_hint
PAGES_INPUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# TextResult analogue + DOM/PDF block features
# (reference extraction_result.py:12-32; bbox from text_extractor.py:140-149)
BLOCK_SCHEMA = T.StructType([
    T.StructField("block_no", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("char_count", T.IntegerType(), True),
    T.StructField("word_count", T.IntegerType(), True),
    T.StructField("x0", T.DoubleType(), True),
    T.StructField("y0", T.DoubleType(), True),
    T.StructField("x1", T.DoubleType(), True),
    T.StructField("y1", T.DoubleType(), True),
    T.StructField("block_type", T.IntegerType(), True),
    T.StructField("link_density", T.DoubleType(), True),
    T.StructField("is_content", T.BooleanType(), True),
])

# ImageResult analogue (extraction_result.py:35-56) with payload kept inline
IMAGE_SCHEMA = T.StructType([
    T.StructField("image_index", T.IntegerType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("format", T.StringType(), True),
    T.StructField("size_bytes", T.LongType(), True),
    T.StructField("payload", T.BinaryType(), True),
])

# PageContent analogue (extraction_result.py:86-105).
# page_number FIRST: array_sort over this struct orders by page (OP-43b).
PAGE_SCHEMA = T.StructType([
    T.StructField("page_number", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("char_count", T.IntegerType(), True),
    T.StructField("word_count", T.IntegerType(), True),
    T.StructField("blocks", T.ArrayType(BLOCK_SCHEMA), True),
    T.StructField("images", T.ArrayType(IMAGE_SCHEMA), True),
    T.StructField("tables", T.ArrayType(T.ArrayType(T.ArrayType(T.StringType()))), True),
    T.StructField("links", T.ArrayType(T.StringType()), True),
])

# ExtractionResult analogue (extraction_result.py:108-141): one
# extract_document result as a single struct.  The pipeline emits it flat
# (DOC_SCHEMA + pages); perfbench/layers.py times a struct return of this
# shape as the cost reference for the boundary.  Timestamps are derived
# relationally (OP-21), never inside the kernel.
EXTRACTION_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("pages", T.ArrayType(PAGE_SCHEMA), True),
    T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
])

# Doc-level derived columns (per-concern kernel split, SURVEY.md §4.1):
# Catalyst cannot prune fields INSIDE a UDF result, so the one extraction
# generator (operators/extract.py) emits these as FLAT columns via
# mapInPandas and adds the nested ``pages array<PAGE_SCHEMA>`` only when the
# caller needs pages — no block structs or image payloads cross the Arrow
# boundary otherwise (struct returns and MapType columns each cost
# severalfold in Arrow conversion).  ``text`` is the assembled doc text
# (dispatch.assemble_doc_text — the goldens oracle); metadata rides as a
# deterministic JSON string.
DOC_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("total_chars", T.LongType(), True),
    T.StructField("total_words", T.LongType(), True),
    T.StructField("total_text_blocks", T.LongType(), True),
    T.StructField("total_images", T.LongType(), True),
    T.StructField("total_tables", T.LongType(), True),
    T.StructField("total_links", T.LongType(), True),
    T.StructField("metadata_json", T.StringType(), True),
])
