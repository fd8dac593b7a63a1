"""Transparent bounded gunzip in the dispatch layer (round 5).

Real crawl tables carry occasional double-compressed bodies — a
Content-Encoding survivor the WARC writer stored verbatim.  Before this,
a gzip payload sniffed as 'raw' and shipped binary soup as content with
status 'ok' — silent wrong output, the failure mode the error
side-channel exists to prevent.  The reference never sees this (its CLI
reads files pre-decoded), but a 10^12-row pipeline will.
"""

import gzip
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_extractor_spark.kernels.dispatch import extract_document
from pdf_extractor_spark.sources.synth import make_html, make_pdf, make_raw


class TestTransparentGunzip:
    def test_all_kinds_twin(self):
        for doc_id in range(9):
            kind = ("pdf", "html", "raw")[doc_id % 3]
            rng = random.Random(f"gz:{doc_id}")
            if kind == "pdf":
                payload = make_pdf(rng, doc_id)[0]
            elif kind == "html":
                payload = make_html(rng, doc_id, "en")
            else:
                payload = make_raw(rng, doc_id)
            rp = extract_document(payload)
            rg = extract_document(gzip.compress(payload, 6, mtime=0))
            assert rp == rg
            assert rg["kind"] == kind and rg["status"] == "ok"
            # a multi-member body (gzip(1) concatenation) decodes every
            # member: gzip(p[:k]) + gzip(p[k:]) gives the tree of p itself
            for k in (1, len(payload) // 3, len(payload) - 1):
                split = (gzip.compress(payload[:k], 6, mtime=0)
                         + gzip.compress(payload[k:], 6, mtime=0))
                assert extract_document(split) == rp

    def test_split_text_not_truncated(self):
        r = extract_document(gzip.compress(b"hello world one", mtime=0)
                             + gzip.compress(b" and two", mtime=0))
        assert r["status"] == "ok"
        assert r["pages"][0]["text"] == "hello world one and two"

    def test_trailing_non_member_error_routes(self):
        body = gzip.compress(b"hello world one", mtime=0)
        for tail in (b"junk", b"\x00" * 8, b"\x1f\x8b"):
            r = extract_document(body + tail)
            assert r["status"] == "error" and "gzip" in r["error"]

    def test_members_share_one_cap(self):
        # two members, each under the cap, together over it
        half = gzip.compress(b"\x00" * (40 << 20), 1)
        r = extract_document(half + half)
        assert r["status"] == "error" and "exceeds" in r["error"]

    def test_nested_members_unwrap(self):
        html = (b'<html><body><article><h1>T</h1><p>nested body with '
                b'plenty of words to clear the content gate here</p>'
                b'</article></body></html>')
        double = gzip.compress(gzip.compress(html, mtime=0), mtime=0)
        r = extract_document(double)
        assert r["kind"] == "html" and r["status"] == "ok"
        assert "nested body" in r["pages"][0]["text"]

    def test_truncated_member_error_routes(self):
        full = gzip.compress(random.Random(5).randbytes(4096), mtime=0)
        assert len(full) > 2000  # incompressible: the cut below is real
        r = extract_document(full[:len(full) // 2])
        assert r["status"] == "error" and "gzip" in r["error"]

    def test_bomb_capped(self):
        bomb = gzip.compress(b"\x00" * (1 << 28), 1)  # 256 MiB of zeros
        assert len(bomb) < 2 << 20  # the hostile payload itself is small
        r = extract_document(bomb)
        assert r["status"] == "error" and "exceeds" in r["error"]

    def test_corpus_gzip_share_results_identical(self):
        # gen_doc wraps doc_id % 32 == 14 AFTER all rng draws, so the
        # extraction result equals the unwrapped generator output exactly
        from pdf_extractor_spark.sources.synth import gen_doc

        hit = False
        for doc_id in (14, 46, 78, 110):
            row = gen_doc(doc_id)
            assert row["html"][:3] == b"\x1f\x8b\x08"
            r = extract_document(row["html"])
            assert r["status"] == "ok"
            rg = extract_document(gzip.decompress(row["html"]))
            assert r == rg
            hit = True
        assert hit


class TestPdfPreamble:
    """%PDF- headers behind glued preamble junk (HTTP fragments, chunked
    residue) — crawled PDFs carry these; MuPDF scans for the header."""

    def test_glued_http_preamble(self):
        pdf, _ = make_pdf(random.Random("pre:1"), 1)
        glued = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf"
                 b"\r\n\r\n" + pdf)
        r1, r2 = extract_document(pdf), extract_document(glued)
        assert r2["kind"] == "pdf" and r2["status"] == "ok"
        assert [p["text"] for p in r1["pages"]] == \
               [p["text"] for p in r2["pages"]]

    def test_html_mentioning_pdf_magic_stays_html(self):
        html = (b'<html><body><article><h1>T</h1><p>article about the '
                b'%PDF- magic header with plenty of words in this body'
                b'</p></article></body></html>')
        assert extract_document(html)["kind"] == "html"

    def test_text_mentioning_pdf_magic_is_raw(self):
        # scanned header that does not parse: the payload is plain text
        text = b"Notes on formats: a %PDF-1.4 header opens each file.\n" * 3
        r = extract_document(text)
        assert r["kind"] == "raw" and r["status"] == "ok"
        assert r["pages"][0]["text"].startswith("Notes on formats: a %PDF-1.4")

    def test_header_at_byte_zero_still_error_routes(self):
        r = extract_document(b"%PDF-1.4\nplain words, no objects at all\n")
        assert r["kind"] == "pdf" and r["status"] == "error"

    def test_deep_magic_not_sniffed(self):
        # the scan window is 1 KiB: %PDF- beyond it stays raw
        r = extract_document(b"\x00" * 2000 + b"%PDF-1.4")
        assert r["kind"] == "raw"

    def test_gzip_wrapped_glued_pdf(self):
        import gzip as _g
        pdf, _ = make_pdf(random.Random("pre:2"), 2)
        payload = _g.compress(b"junk-preamble\r\n" + pdf, mtime=0)
        r = extract_document(payload)
        assert r["kind"] == "pdf" and r["status"] == "ok"
