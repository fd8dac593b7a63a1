"""Content-type dispatch + unified extraction result (SURVEY.md §3.4).

One pure function ``extract_document(payload) -> dict`` replacing the
reference's triple-parse orchestration (/root/reference/pdf_extractor/core/
extractor.py:90-194, which opens the same document three times at :116, :149
and :201): a single pass over the byte payload, dispatched by magic bytes —

    %PDF-                       -> PDF layout parser   (OP-59/60)
    '<' after BOM/whitespace    -> DOM stripper        (OP-64)
    otherwise                   -> byte tokenizer      (OP-65)

The result mirrors the reference's ExtractionResult tree
(/root/reference/pdf_extractor/models/extraction_result.py:86-141) as plain
dicts: pages -> texts/blocks/images/tables with derived char/word counts
(extraction_result.py:20-23).  Errors never raise: invalid rows surface as
``status='error'`` side-channel values (SURVEY.md OP-32 mapping).
"""

from __future__ import annotations

from . import dom, pdf, tokenizer

__all__ = ["sniff_kind", "extract_document", "assemble_doc_text", "PAGE_BANNER"]

_BOMS = (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff", b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff")


def sniff_kind(payload: bytes) -> str:
    """Magic-byte content-type detection: 'pdf' | 'html' | 'raw'.

    A %PDF- header ANYWHERE in the first 1 KiB counts as PDF — crawled
    PDFs frequently carry glued preamble junk (HTTP header fragments,
    chunked-encoding residue); viewers and MuPDF scan for the header the
    same way.  extract_document slices the preamble off before parsing
    (xref offsets are relative to the header in such files)."""
    if payload.startswith(b"%PDF-"):
        return "pdf"
    head = payload[:256]
    for bom in _BOMS:
        if head.startswith(bom):
            head = head[len(bom):]
            break
    # UTF-16 HTML: '<' interleaved with NULs
    stripped = head.replace(b"\x00", b"").lstrip()
    low = stripped[:64].lower()
    if low.startswith((b"<!doctype", b"<html", b"<head", b"<body")) or (
        low.startswith(b"<") and b">" in low
    ):
        return "html"  # checked BEFORE the preamble scan: an HTML page
        # whose text mentions %PDF- must stay HTML
    if b"%PDF-" in payload[:1024]:
        return "pdf"
    return "raw"


def _counts(text: str) -> tuple[int, int]:
    # reference-derived counts: extraction_result.py:20-23
    return len(text), len(text.split())


def _page(page_number: int, text: str, blocks=None, images=None,
          tables=None, links=None) -> dict:
    chars, words = _counts(text)
    return {
        "page_number": page_number,
        "text": text,
        "char_count": chars,
        "word_count": words,
        "blocks": blocks or [],
        "images": images or [],
        "tables": tables or [],
        "links": links or [],
    }


def _unify_pdf_block(b: dict) -> dict:
    chars, words = _counts(b["text"])
    return {
        "block_no": b["block_no"], "tag": "line", "text": b["text"],
        "char_count": chars, "word_count": words,
        "x0": b["x0"], "y0": b["y0"], "x1": b["x1"], "y1": b["y1"],
        "block_type": b["block_type"], "link_density": 0.0,
        "is_content": True,
    }


def _unify_dom_block(b: dict) -> dict:
    return {
        "block_no": b["block_no"], "tag": b["tag"], "text": b["text"],
        "char_count": b["char_count"], "word_count": b["word_count"],
        "x0": None, "y0": None, "x1": None, "y1": None,
        "block_type": 0 if b["is_content"] else 1,
        "link_density": b["link_density"], "is_content": b["is_content"],
    }


def _unify_image(img: dict) -> dict:
    return {
        "image_index": img["image_index"],
        "name": img.get("name", ""),
        "width": img["width"], "height": img["height"],
        "format": img["format"],
        "size_bytes": len(img["payload"]),
        "payload": img["payload"],
    }


#: Transparent-gunzip output cap: one hostile member must never OOM an
#: executor (same discipline as the PDF stream decoders).
_MAX_GUNZIP_BYTES = 1 << 26  # 64 MiB


def _gunzip_bounded(payload: bytes) -> bytes:
    """Bounded transparent gunzip of a \\x1f\\x8b\\x08 payload.  Real crawl
    tables carry occasional double-compressed bodies (a Content-Encoding
    survivor the WARC writer stored verbatim); treating them as 'raw'
    would emit binary soup as content — silent wrong output.  Every member
    of a multi-member body is decoded (gzip(1) semantics), all under the
    one output cap.  Truncated or oversized members, and trailing bytes
    that are not another member, raise ValueError (-> error side-channel)."""
    import zlib

    parts: list[bytes] = []
    room = _MAX_GUNZIP_BYTES
    while True:
        d = zlib.decompressobj(wbits=31)
        # room + 1: max_length=0 would mean unbounded, and one byte past
        # the cap is how an oversized member shows
        chunk = d.decompress(payload, room + 1)
        room -= len(chunk)
        if room < 0:
            raise ValueError(
                f"gzip body exceeds {_MAX_GUNZIP_BYTES} bytes decompressed")
        if not d.eof:
            raise ValueError("truncated gzip member")
        parts.append(chunk)
        payload = d.unused_data
        if not payload:
            return b"".join(parts)
        if payload[:3] != b"\x1f\x8b\x08":
            raise ValueError("trailing bytes after gzip member")


def extract_document(payload: bytes) -> dict:
    """Single-pass extraction: bytes -> unified result tree.

    A gzip-wrapped payload (magic 1f 8b 08) is transparently,
    boundedly decompressed first (up to 3 nested members — proxies
    occasionally double-wrap); the result reports the INNER kind."""
    for _ in range(3):
        if payload[:3] != b"\x1f\x8b\x08":
            break
        try:
            payload = _gunzip_bounded(payload)
        except Exception as e:
            return {
                "kind": "raw", "status": "error",
                "error": f"gzip: {e}", "title": "",
                "n_pages": 0, "pages": [], "metadata": {},
            }
    kind = sniff_kind(payload)
    if kind == "pdf" and not payload.startswith(b"%PDF-"):
        # glued preamble junk before the header: offsets in such files are
        # relative to the header (sniff_kind docstring).  If that does not
        # parse, the payload is text that merely mentions %PDF-.
        r = _extract_kind(payload[payload.index(b"%PDF-"):], "pdf")
        return r if r["status"] == "ok" else _extract_kind(payload, "raw")
    return _extract_kind(payload, kind)


def _extract_kind(payload: bytes, kind: str) -> dict:
    try:
        if kind == "pdf":
            r = pdf.parse_pdf(payload)
            pages = [
                _page(
                    pg["page_number"],
                    tokenizer.normalize_text(pg["text"]),
                    blocks=[_unify_pdf_block(b) for b in pg["blocks"]],
                    images=[_unify_image(i) for i in pg["images"]],
                    tables=pg["tables"],
                    links=pg["links"],
                )
                for pg in r["pages"]
            ]
            title = r["metadata"].get("Title", "")
            meta = r["metadata"]
        elif kind == "html":
            r = dom.parse_html(payload)
            pages = [
                _page(
                    1,
                    r["text"],
                    blocks=[_unify_dom_block(b) for b in r["blocks"]],
                    tables=r["tables"],
                    links=r["links"],
                )
            ]
            title = r["title"]
            meta = {"encoding": r["encoding"]}
            # additive crawl-policy keys: absent when the doc declares
            # neither (default corpus), so goldens stay byte-identical
            if r.get("canonical"):
                meta["canonical"] = r["canonical"]
            if r.get("robots"):
                meta["robots"] = r["robots"]
        else:
            r = tokenizer.tokenize_bytes(payload, sniff_meta=False)
            text = r["text"]
            blocks = []
            for i, (s, e) in enumerate(r["spans"]):
                btxt = text[s:e]
                chars, words = _counts(btxt)
                blocks.append({
                    "block_no": i, "tag": "span", "text": btxt,
                    "char_count": chars, "word_count": words,
                    "x0": None, "y0": None, "x1": None, "y1": None,
                    "block_type": 0, "link_density": 0.0, "is_content": True,
                })
            pages = [_page(1, text, blocks=blocks)]
            title = ""
            meta = {"encoding": r["encoding"]}
        return {
            "kind": kind, "status": "ok", "error": None,
            "title": title, "n_pages": len(pages), "pages": pages,
            "metadata": {str(k): str(v) for k, v in meta.items()},
        }
    except Exception as e:  # side-channel, never crash the task (OP-32)
        return {
            "kind": kind, "status": "error",
            "error": f"{type(e).__name__}: {e}",
            "title": "", "n_pages": 0, "pages": [], "metadata": {},
        }


PAGE_BANNER = "=== Page %d ==="  # reference delimiter, ocr_extractor.py:293-298


def assemble_doc_text(result: dict) -> str:
    """Ordered text reassembly (OP-43b / OP-09).

    PDFs: pages joined in page order with ``=== Page N ===`` banners
    (reference combined-text sink, /root/reference/pdf_extractor/extractors/
    ocr_extractor.py:293-298).  Single-page kinds (html/raw): the page text
    as-is.  The Spark pipeline reproduces this relationally with
    sort-keyed collect_list + concat_ws; this function is the golden oracle.
    """
    pages = sorted(result["pages"], key=lambda p: p["page_number"])
    if result["kind"] == "pdf":
        return "\n\n".join(
            (PAGE_BANNER % p["page_number"]) + "\n" + p["text"] for p in pages
        )
    return pages[0]["text"] if pages else ""
