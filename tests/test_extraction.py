"""North-rule extraction: block heuristics, spans, PDF reading order."""
from __future__ import annotations

from post_ocr_corretion_spark.core.extraction import (
    extract_document,
    extract_html,
    extract_pdf_fake,
)

HTML = (
    "<html><head><title>t</title><script>var x=1;</script></head><body>"
    "<nav><ul><li><a href='/a'>a very long navigation label indeed</a></li></ul></nav>"
    "<div id='main'><p>This paragraph is long enough to be kept as main content.</p>"
    "<p>short</p>"
    "<p>Another sufficiently long paragraph with <a href='/x'>one link</a> inside it, fine.</p></div>"
    "<div class='side'><a href='/1'>link farm link farm</a> <a href='/2'>more links here now</a></div>"
    "<footer>copyright</footer></body></html>"
).encode()


def test_block_heuristics():
    text, spans = extract_html(HTML)
    blocks = text.split("\n")
    assert blocks[0] == "This paragraph is long enough to be kept as main content."
    assert any("one link" in b for b in blocks)
    assert all("navigation label" not in b for b in blocks)  # nav pruned
    assert all("link farm" not in b for b in blocks)  # link density
    assert all("short" != b for b in blocks)  # min length
    assert all("copyright" not in b for b in blocks)  # footer pruned
    assert all("var x=1" not in b for b in blocks)  # script pruned
    assert len(spans) == len(blocks)


def test_spans_point_into_decoded_html():
    raw = HTML.decode("utf-8")
    text, spans = extract_html(HTML)
    blocks = text.split("\n")
    for block, (s, e) in zip(blocks, spans):
        covered = raw[s:e]
        # whitespace-normalizing the covered range must reproduce the block
        # (modulo tags inside the block, which only occur around link text)
        for word in block.split(" ")[:3]:
            assert word in covered


def test_pdf_fake_reading_order():
    pdf = b"%PDF-FAKE 1.0\n20 5 second line of the page\n10 5 first line of the page\n"
    text, spans = extract_pdf_fake(pdf)
    assert text == "first line of the page\nsecond line of the page"
    raw = pdf.decode()
    assert [raw[s:e] for s, e in spans] == ["first line of the page", "second line of the page"]


def test_real_pdf_is_stubbed():
    text, spans, kind = extract_document(b"%PDF-1.7 realbinary")
    assert (text, spans, kind) == ("", [], "pdf_stub")


def test_dispatch_kinds():
    assert extract_document(HTML)[2] == "html"
    assert extract_document(b"%PDF-FAKE 1.0\n10 5 some text here\n")[2] == "pdf_fake"


def test_determinism():
    a = extract_document(HTML)
    b = extract_document(HTML)
    assert a == b


def test_justext_mode_stopword_density():
    """Flag-gated jusText refinement: a long block of natural English
    (high stopword density) survives; an equally long keyword-list block
    (near-zero stopword density) is dropped; a short block adjacent to a
    good block is promoted; pinned mode is unchanged."""
    from post_ocr_corretion_spark.core.extraction import extract_html

    good = "the cat was on the mat and it was a very good day for all of the cats in the house"
    listy = "red green blue cyan magenta yellow black white orange purple pink brown grey gold silver bronze"
    short = "short tail note"
    html = (
        "<html><body>"
        f"<p>{good}</p>"
        f"<p>{listy}</p>"
        f"<p>{short}</p>"
        "</body></html>"
    ).encode()

    pinned_text, _ = extract_html(html)
    assert good in pinned_text and listy in pinned_text  # pinned keeps both long blocks

    jt_text, jt_spans = extract_html(html, mode="justext")
    assert good in jt_text
    assert listy not in jt_text  # keyword soup: stopword density ~0 → bad
    assert len(jt_spans) == jt_text.count("\n") + 1 if jt_text else jt_spans == []
    # the short block directly after a dropped block is NOT promoted...
    assert short not in jt_text
    # ...but a short block adjacent to a good one is:
    html2 = ("<html><body>" f"<p>{good}</p>" f"<p>{short}</p>" "</body></html>").encode()
    jt2, _ = extract_html(html2, mode="justext")
    assert short in jt2


def test_pinned_mode_extraction_golden_checksum(docs_rows):
    """Pinned-mode extraction over the 80-page fixture corpus hashes to a
    FROZEN value — any change to the extraction semantics (block
    filtering, span offsets, PDF dispatch, datagen) trips this before the
    slower pipeline parity tests do. Recompute the literal ONLY for a
    deliberate, documented semantics change."""
    import hashlib

    from post_ocr_corretion_spark.core.extraction import extract_document
    from post_ocr_corretion_spark.datagen.webpages import make_page

    h = hashlib.md5()
    for r in docs_rows:
        page = make_page(r["doc_id"], r["text"], r["lang"])
        text, spans, kind = extract_document(page["html"])
        h.update(repr((r["doc_id"], kind, text, spans)).encode())
    # re-pinned once when the PDF stream decoder switched from
    # EOL-stripping (which corrupted Flate data ending in \n/\r) to
    # authoritative /Length slicing — 75 html + 3 pdf_real + 2 pdf_fake,
    # zero stubs
    assert h.hexdigest() == "8f4e327d96bb5734c3fc82b7477d0c25"


def test_null_html_is_an_empty_page(spark):
    """A null ``html`` beside a normal page: the null row extracts as an
    empty html page instead of failing the task."""
    from datetime import datetime

    from post_ocr_corretion_spark.operators.extract import extract

    ts = datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("https://a/1", ts, "en", HTML), ("https://a/2", ts, "en", None)],
        "url string, warc_ts timestamp, lang string, html binary",
    )
    rows = {r.url: r for r in extract(pages).collect()}
    text, spans, kind = extract_document(HTML)
    ok = rows["https://a/1"]
    assert (ok.kind, ok.extracted_text, ok.html_bytes) == (kind, text, len(HTML))
    assert [(s.start, s.end) for s in ok.spans] == spans
    empty = rows["https://a/2"]
    assert (empty.kind, empty.extracted_text, list(empty.spans), empty.html_bytes) == ("html", "", [], 0)
