"""Main-content extraction from Common-Crawl-style pages (north rule).

Deterministic, dependency-free (stdlib ``html.parser``) implementation of
jusText/Boilerpipe-style block heuristics; this module IS the single-node
reference extractor — the Spark pipeline calls the very same functions
inside Arrow-batched ``mapInPandas`` (operators/extract.py), which is what
makes per-url byte-identity trivially verifiable.

Pinned heuristics (documented, deterministic):
- content inside PRUNE_TAGS (script/style/nav/footer/aside/header/...) is
  dropped wholesale;
- text is grouped into blocks delimited by BLOCK_TAGS boundaries;
- a block is kept iff its whitespace-normalized text has >= MIN_BLOCK_CHARS
  characters AND its link density (chars inside <a> / total chars)
  <= MAX_LINK_DENSITY;
- extracted text = kept block texts joined with "\\n";
- spans = per kept block, [start, end) character offsets into the DECODED
  (utf-8, errors="replace") html string covering the block's first..last
  text node.

PDF-derived pages: pages whose bytes start with ``%PDF-FAKE`` use the
deterministic fake layout parser (``extract_pdf_fake``): lines of
``<y> <x> <text>`` are re-ordered by (y, x) — a stand-in for a
pdfminer-style reading-order recovery.  REAL ``%PDF`` bytes are a stub:
pdfminer is not available in this environment (``extract_document``
returns empty text and flags ``pdf_stub``) — clearly-marked stub per the
round-1 brief.

A null ``html`` (a fetch with no body) is an empty page:
operators/extract.extract_row extracts ``b""`` → ``("", [], "html")``,
``html_bytes`` 0.
"""
from __future__ import annotations

from html.parser import HTMLParser

BLOCK_TAGS = frozenset(
    "p div li h1 h2 h3 h4 h5 h6 td th tr table ul ol article section main blockquote pre body".split()
)
PRUNE_TAGS = frozenset("script style noscript head nav footer aside header form button svg".split())
MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33


class _BlockExtractor(HTMLParser):
    def __init__(self, raw: str):
        super().__init__(convert_charrefs=True)
        self._line_starts = [0]
        idx = raw.find("\n")
        while idx != -1:  # str.find runs at C speed, vs a per-char loop
            self._line_starts.append(idx + 1)
            idx = raw.find("\n", idx + 1)
        self.prune_depth = 0
        self.link_depth = 0
        self.blocks: list[tuple[str, int, int]] = []
        self._chunks: list[tuple[str, int]] = []
        self._link_chars = 0

    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def _flush(self) -> None:
        if not self._chunks:
            return
        raw = "".join(c for c, _ in self._chunks)
        norm = " ".join(raw.split())
        total = len(raw)
        start = self._chunks[0][1]
        end = self._chunks[-1][1] + len(self._chunks[-1][0])
        # every non-empty block is recorded with its raw stats; the KEEP
        # decision happens in extract_html so the pinned filter and the
        # justext-mode classifier share one block stream
        if norm:
            self.blocks.append((norm, start, end, total, self._link_chars))
        self._chunks = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in PRUNE_TAGS:
            self.prune_depth += 1
        elif tag in BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self.link_depth += 1

    def handle_endtag(self, tag):
        if tag in PRUNE_TAGS:
            self.prune_depth = max(0, self.prune_depth - 1)
        elif tag in BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self.link_depth = max(0, self.link_depth - 1)

    def handle_data(self, data):
        if self.prune_depth or not data:
            return
        self._chunks.append((data, self._offset()))
        if self.link_depth:
            self._link_chars += len(data)


STOPWORDS = frozenset(
    "the of and a to in is was it for on as with that by at this be are or "
    "an from not but had has have he she they we you his her its their".split()
)
LOW_STOP_DENSITY = 0.10
HIGH_STOP_DENSITY = 0.30


def _classify_justext(blocks) -> list[str]:
    """jusText-style block classes (pinned simplified variant of
    Pomikálek's algorithm): link-dense → bad; short → short; then
    stopword density splits bad / near-good / good; one context sweep
    promotes short/near-good blocks adjacent to a good block (jusText's
    context-sensitive reclassification collapsed to one pass)."""
    classes = []
    for norm, _s, _e, total, link_chars in blocks:
        if total > 0 and link_chars / total > MAX_LINK_DENSITY:
            classes.append("bad")
            continue
        words = norm.lower().split()
        stop_density = sum(1 for w in words if w in STOPWORDS) / len(words)
        if len(norm) < MIN_BLOCK_CHARS:
            classes.append("short")
        elif stop_density < LOW_STOP_DENSITY:
            classes.append("bad")
        elif stop_density >= HIGH_STOP_DENSITY:
            classes.append("good")
        else:
            classes.append("near-good")
    out = list(classes)
    for i, c in enumerate(classes):
        if c in ("short", "near-good"):
            prev_good = i > 0 and classes[i - 1] == "good"
            next_good = i + 1 < len(classes) and classes[i + 1] == "good"
            out[i] = "good" if (prev_good or next_good) else "bad"
    return out


def extract_html(html_bytes: bytes, mode: str = "pinned") -> tuple[str, list[tuple[int, int]]]:
    """``mode='pinned'`` (default, the byte-parity semantics): keep blocks
    with >= MIN_BLOCK_CHARS normalized chars and link density <=
    MAX_LINK_DENSITY.  ``mode='justext'``: the stopword-density block
    classifier above (flag-gated refinement; jusText §3 heuristics).

    The block stream comes from the fast scanner (core/fasthtml.py —
    2.7× the stdlib parse speed, ≈1.16× the whole single-core
    extract+correct path) whenever the document stays inside its
    verified subset; otherwise the stdlib event parser runs. Both
    produce IDENTICAL blocks (the scanner declines rather than diverge;
    corpus-wide + adversarial + property-based parity in
    tests/test_fasthtml.py)."""
    raw = html_bytes.decode("utf-8", errors="replace")
    from .fasthtml import blocks_stdlib, scan_blocks

    blocks = scan_blocks(raw, PRUNE_TAGS, BLOCK_TAGS)
    if blocks is None:
        blocks = blocks_stdlib(raw, _BlockExtractor)
    if mode == "justext":
        classes = _classify_justext(blocks)
        kept = [b for b, c in zip(blocks, classes) if c == "good"]
    else:
        kept = [
            b
            for b in blocks
            if len(b[0]) >= MIN_BLOCK_CHARS and (b[3] == 0 or b[4] / b[3] <= MAX_LINK_DENSITY)
        ]
    text = "\n".join(b[0] for b in kept)
    spans = [(s, e) for _, s, e, _t, _l in kept]
    return text, spans


def extract_pdf_fake(pdf_bytes: bytes) -> tuple[str, list[tuple[int, int]]]:
    """Deterministic fake layout parse: after the ``%PDF-FAKE`` header,
    each line is ``<y> <x> <text>``; reading order = stable sort by
    (y, x). Spans are offsets of each text payload in the decoded bytes."""
    raw = pdf_bytes.decode("utf-8", errors="replace")
    items: list[tuple[int, int, str, int, int]] = []
    offset = 0
    for line in raw.split("\n"):
        stripped = line
        if not stripped.startswith("%"):
            parts = stripped.split(" ", 2)
            if len(parts) == 3 and parts[0].lstrip("-").isdigit() and parts[1].lstrip("-").isdigit():
                text_start = offset + len(parts[0]) + len(parts[1]) + 2
                items.append((int(parts[0]), int(parts[1]), parts[2], text_start, text_start + len(parts[2])))
        offset += len(line) + 1
    items.sort(key=lambda t: (t[0], t[1]))
    text = "\n".join(t[2] for t in items)
    spans = [(s, e) for _, _, _, s, e in items]
    return text, spans


def extract_document(html_bytes: bytes) -> tuple[str, list[tuple[int, int]], str]:
    """Dispatch per page kind. Returns (text, spans, kind) where kind ∈
    {html, pdf_fake, pdf_real, pdf_stub}. Real %PDF bytes go through the
    minimal stdlib parser (core/pdf.py: Flate streams, Tj/TJ with
    Td/TD/Tm positioning, reading order by position); anything outside
    that subset (composite fonts, encryption, exotic filters) falls back
    to the honest ``pdf_stub`` marker — never a silent half-parse."""
    if html_bytes.startswith(b"%PDF-FAKE"):
        text, spans = extract_pdf_fake(html_bytes)
        return text, spans, "pdf_fake"
    if html_bytes.startswith(b"%PDF"):
        from .pdf import extract_pdf_real

        try:
            text, spans = extract_pdf_real(html_bytes)
            return text, spans, "pdf_real"
        except ValueError:
            return "", [], "pdf_stub"
    text, spans = extract_html(html_bytes)
    return text, spans, "html"
