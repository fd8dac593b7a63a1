"""Vectorized extraction (SURVEY.md OP-59/60/61/64/65 as one Arrow pass).

The only way into the Python kernel: one ``mapInPandas`` generator runs
``extract_document`` once per document (one Python round-trip per Arrow
batch, no per-row Python at the Spark level — BASELINE.json input_hint)
and emits FLAT doc-level columns.  Which public function is called decides
whether the same pass also emits the nested ``pages`` tree.  Replaces the
reference's triple document parse
(/root/reference/pdf_extractor/core/extractor.py:116,149,201).
"""

from __future__ import annotations

import json

import pandas as pd

from ..kernels.dispatch import assemble_doc_text, extract_document
from ..schema import DOC_SCHEMA, PAGE_SCHEMA

__all__ = ["extracted_docs", "extracted_docs_with_pages"]


def _doc_row(r: dict) -> dict:
    """Doc-level scalars of one kernel result (schema.DOC_SCHEMA)."""
    pages = r["pages"]
    return {
        "kind": r["kind"], "status": r["status"], "error": r["error"],
        "title": r["title"], "n_pages": r["n_pages"],
        "text": assemble_doc_text(r),
        "total_chars": sum(p["char_count"] for p in pages),
        "total_words": sum(p["word_count"] for p in pages),
        "total_text_blocks": sum(len(p["blocks"]) for p in pages),
        "total_images": sum(len(p["images"]) for p in pages),
        "total_tables": sum(len(p["tables"]) for p in pages),
        "total_links": sum(len(p["links"]) for p in pages),
        # canonical form: the bytes never depend on map insertion order
        "metadata_json": json.dumps(r["metadata"], sort_keys=True,
                                    ensure_ascii=False, separators=(",", ":")),
    }


def _extract(df, with_pages: bool):
    """Input pages frame -> extracted frame via ONE mapInPandas pass.

    Columns: the input columns except the ``html`` payload and the (empty)
    input ``text``; then DOC_SCHEMA; then ``n_bytes`` (0 for a null payload);
    then, only ``with_pages``, ``pages array<PAGE_SCHEMA>``.  Flat columns
    and metadata as a JSON string because a struct return costs ~4x and a
    MapType column another ~3x in Arrow conversion (measured on a 4-core
    local box); the nested page tree (thousands of block structs per big
    doc) costs ~5x the kernel itself, so docs-only callers never pay for it.
    """
    pass_names = [n for n in df.columns if n not in ("html", "text")]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}"
         for f in [*(df.schema[n] for n in pass_names), *DOC_SCHEMA.fields]]
        + ["n_bytes long"]
        + ([f"pages array<{PAGE_SCHEMA.simpleString()}>"] if with_pages else [])
    )

    def run(batches):
        for pdf in batches:
            payloads = [bytes(b) if b is not None else b"" for b in pdf["html"]]
            results = [extract_document(b) for b in payloads]
            rows = [_doc_row(r) for r in results]
            out = {n: pdf[n].reset_index(drop=True) for n in pass_names}
            for f in DOC_SCHEMA.fields:
                out[f.name] = [row[f.name] for row in rows]
            out["n_bytes"] = [len(b) for b in payloads]
            if with_pages:
                out["pages"] = [r["pages"] for r in results]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def extracted_docs(df):
    """Document-level output table, one row per input row: the per-doc
    summary semantics of the reference (extraction_result.py:100-130) from
    the kernel pass; nothing nested crosses Arrow."""
    return _extract(df, with_pages=False)


def extracted_docs_with_pages(df):
    """The docs frame plus the ``pages`` tree, from the same kernel pass."""
    return _extract(df, with_pages=True)
