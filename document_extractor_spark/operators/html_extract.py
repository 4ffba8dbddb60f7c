"""HTML main-content extraction: DOM block model + density scoring.

north_star: "lxml-based HTML boilerplate stripping with text-density
and link-density DOM heuristics (boilerpipe/trafilatura-style block
scoring) ... tokenizes raw html:binary into a DOM block sequence,
classifies blocks content-vs-boilerplate, and emits extracted text
plus span offsets."

lxml is not available in this container, so the DOM tokenizer is built
on the stdlib ``html.parser`` (an lxml fast path is gated behind an
import-try in ``_HAVE_LXML`` for environments that have it — same
block model either way). The *scoring* model generalizes the
reference's legacy reliability blend (text density + stopword ratio,
common_pdf.sh:85-156) into per-block features:

- text length (chars after whitespace collapse),
- link density = chars contributed inside <a> / total chars,
- structural boilerplate containers (nav/footer/header/aside/script/
  style/form/...) excluded outright.

The cascade (SURVEY.md M3, mirroring the reference's TXT -> OCR-A ->
OCR-B escalation, pass_pdf.py:112-255) needs ONE parse:
``parse_blocks_observed`` builds the block model tolerantly and
reports the first structural violation (unbalanced tags, no
doctype/<html> root), or None. The strict stage accepts only when
there is none; the lenient stage takes the same blocks regardless;
``extract_raw`` (regex tag strip of the whole payload) is the last
resort.

Extracted text is ``"\\n".join(block texts)`` — the exact join byte
contract of the reference's page concatenation (pass_pdf_txt.py:64).
Spans are character offsets (start, end) of each kept block in the
*decoded* source, satisfying the invariant
``norm_ws(unescape(html[start:end])) == block_text``.
"""
from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

try:  # pragma: no cover - exercised only where lxml exists
    import lxml  # noqa: F401
    _HAVE_LXML = True
except ImportError:
    _HAVE_LXML = False

# containers whose entire subtree is boilerplate
BOILER_TAGS = frozenset({
    "script", "style", "noscript", "template", "nav", "footer", "header",
    "aside", "form", "button", "select", "option", "iframe", "svg",
})
# tags that open/close a text block
BLOCK_TAGS = frozenset({
    "html", "head", "body", "title", "p", "div", "main", "article",
    "section", "ul", "ol", "li", "table", "thead", "tbody", "tr", "td",
    "th", "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6", "br",
})
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_FLUSH_TAGS = BLOCK_TAGS | BOILER_TAGS  # one probe in handle_endtag
VOID_TAGS = frozenset({
    "br", "img", "hr", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr",
})

_WS_RE = re.compile(r"\s+")
_TAG_STRIP_RE = re.compile(r"<[^>]*>")


def norm_ws(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


@dataclass
class Block:
    text: str
    start: int
    end: int
    n_chars: int
    link_chars: int
    tag: str
    boiler: bool
    heading: bool

    @property
    def link_density(self) -> float:
        return self.link_chars / self.n_chars if self.n_chars else 0.0


# A text piece is a plain tuple (start, end, text, in_link,
# in_boiler): the parser appends one per data/entity event (~20 per
# doc per profile), so construction cost matters — a dataclass here
# measured ~15% of the whole HTML kernel.


class _BlockParser(HTMLParser):
    def __init__(self, source: str) -> None:
        super().__init__(convert_charrefs=False)
        self.source = source
        self._line_starts: list[int] | None = None
        self.blocks: list[Block] = []
        self.pieces: list[tuple[int, int, str, bool, bool]] = []
        self.boiler_depth = 0
        self.link_depth = 0
        self.tag_stack: list[str] = []
        self.block_tag_stack: list[str] = ["html"]
        self.saw_root = False
        self.violation: str | None = None  # first structural violation

    # --- position helpers -------------------------------------------------
    @property
    def line_starts(self) -> list[int]:
        # newline offsets via C-speed find scan, built lazily: only the
        # HTMLParser-driven path needs line/col -> offset math (the
        # fast tokenizer tracks offsets directly)
        if self._line_starts is None:
            ls = [0]
            idx = self.source.find("\n")
            while idx != -1:
                ls.append(idx + 1)
                idx = self.source.find("\n", idx + 1)
            self._line_starts = ls
        return self._line_starts

    def _abs(self) -> int:
        line, col = self.getpos()
        return self.line_starts[line - 1] + col

    # --- block lifecycle --------------------------------------------------
    def _flush(self) -> None:
        pieces = self.pieces
        if not pieces:
            return
        self.pieces = []
        # single pass: collect parts (concatenate contiguous source
        # pieces, THEN collapse whitespace — entity pieces
        # ("AT" + "&" + "T") must not gain spurious spaces), link
        # parts, boiler flag, and the first/last nonspace span.
        # `t and not t.isspace()` is the allocation-free equivalent of
        # the old `t.strip()` truthiness (same Py_UNICODE_ISSPACE set).
        parts: list[str] = []
        link_parts: list[str] = []
        boiler = False
        start = -1
        end = -1
        for p_start, p_end, t, in_link, in_boiler in pieces:
            parts.append(t)
            if in_link:
                link_parts.append(t)
            if in_boiler:
                boiler = True
            if t and not t.isspace():
                if start < 0:
                    start = p_start
                end = p_end
        if start < 0:
            return
        text = norm_ws("".join(parts))
        if not text:
            return
        link_chars = len(norm_ws("".join(link_parts))) if link_parts \
            else 0
        tag = self.block_tag_stack[-1] if self.block_tag_stack else "html"
        self.blocks.append(Block(
            text=text,
            start=start,
            end=end,
            n_chars=len(text),
            link_chars=min(link_chars, len(text)),
            tag=tag,
            boiler=boiler or tag in ("head", "title"),
            heading=tag in HEADING_TAGS,
        ))

    # --- parser callbacks ---------------------------------------------------
    def handle_decl(self, decl: str) -> None:
        self.saw_root = True

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in ("html", "body"):
            self.saw_root = True
        if tag == "a":
            self.link_depth += 1
        if tag in BOILER_TAGS:
            self._flush()  # boiler content must not merge into a text block
            self.boiler_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            if tag not in VOID_TAGS:
                self.block_tag_stack.append(tag)
        if tag not in VOID_TAGS:
            self.tag_stack.append(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if not self.tag_stack or self.tag_stack[-1] != tag:
            self.violation = self.violation or f"mismatched </{tag}>"
        # flush while the closing tag's state is still on the stacks, so
        # the block is attributed to it (an <h1>'s text must carry tag=h1)
        if tag in _FLUSH_TAGS:
            self._flush()
        if self.tag_stack:
            # lenient recovery: pop through to the matching open tag
            if tag in self.tag_stack:
                while self.tag_stack and self.tag_stack[-1] != tag:
                    popped = self.tag_stack.pop()
                    self._pop_state(popped)
                if self.tag_stack:
                    self.tag_stack.pop()
                    self._pop_state(tag)
            # stray close with no matching open: ignore

    def _pop_state(self, tag: str) -> None:
        if tag == "a" and self.link_depth > 0:
            self.link_depth -= 1
        if tag in BOILER_TAGS and self.boiler_depth > 0:
            self.boiler_depth -= 1
        if (
            tag in BLOCK_TAGS
            and len(self.block_tag_stack) > 1
            and self.block_tag_stack[-1] == tag
        ):
            self.block_tag_stack.pop()

    def handle_data(self, data: str) -> None:
        start = self._abs()
        self.pieces.append((
            start, start + len(data), data,
            self.link_depth > 0, self.boiler_depth > 0,
        ))

    def handle_entityref(self, name: str) -> None:
        start = self._abs()
        # HTMLParser consumes one char LESS when the entity has no
        # trailing semicolon ('&euro' vs '&euro;') — a fixed +2 end
        # would overrun into the next tag and break the span invariant
        end = start + 1 + len(name)
        if self.source[end:end + 1] == ";":
            end += 1
        self.pieces.append((
            start, end, unescape(self.source[start:end]),
            self.link_depth > 0, self.boiler_depth > 0,
        ))

    def handle_charref(self, name: str) -> None:
        start = self._abs()
        end = start + 2 + len(name)
        if self.source[end:end + 1] == ";":
            end += 1
        self.pieces.append((
            start, end, unescape(self.source[start:end]),
            self.link_depth > 0, self.boiler_depth > 0,
        ))

    def finish(self) -> list[Block]:
        self._flush()
        if not self.saw_root:
            self.violation = self.violation or "no doctype/<html> root"
        leftover = [t for t in self.tag_stack if t not in ("html", "body")]
        if leftover:
            self.violation = self.violation or f"unclosed tags: {leftover}"
        return self.blocks


# ---------------------------------------------------------------------------
# Fast tokenizer path: stdlib HTMLParser's generic goahead loop is
# ~80% of the extraction kernel, so the common well-formed subset is
# scanned with anchored C-speed regexes driving the SAME block state
# machine (the handlers of _BlockParser — no second implementation of
# the block model exists to drift).  Any construct outside the subset
# where the scanner is provably event-equivalent to HTMLParser —
# bare '&' or '<' in text, unquoted '<'/'"' inside tags, non-DOCTYPE
# declarations, processing instructions, '</' inside script/style,
# unterminated tags/comments — makes the whole document FALL BACK to
# the exact HTMLParser-driven path.  Equivalence (blocks, spans,
# violation) is pinned by differential tests incl. hypothesis fuzz
# (tests/test_html_extract.py).
# ---------------------------------------------------------------------------
_FAST_TAG_RE = re.compile(
    r"""<(?:
        !(?P<decl>[a-zA-Z][^>]*)
      | /(?P<cname>\s*[a-zA-Z][-.a-zA-Z0-9:_]*\s*)
      | (?P<name>[a-zA-Z][-.a-zA-Z0-9:_]*)
        (?P<attrs>(?:[^<>"']|"[^"]*"|'[^']*')*)
    )>""",
    re.VERBOSE | re.DOTALL,
)
# attribute-list shape where the scanner's tag-end position provably
# equals HTMLParser's (named attrs, quoted or conservative unquoted
# values); anything else -> document fallback
_FAST_ATTRS_OK_RE = re.compile(
    r"""(?:\s+[a-zA-Z_:][-.a-zA-Z0-9:_]*
         (?:\s*=\s*(?:"[^"]*"|'[^']*'|[^>\s"'<=`]*))?)*\s*""",
    re.VERBOSE,
)
# semicolon-terminated references only (the unterminated forms hit
# HTMLParser's multi-branch recovery -> fallback)
_FAST_ENT_RE = re.compile(
    r"&(?:\#(?:[0-9]+|[xX][0-9a-fA-F]+)|[a-zA-Z][-.a-zA-Z0-9]*);")
_CDATA_CLOSE_RE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}
# the exact stdlib comment terminator (_markupbase._commentclose)
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")


class _FastEventDriver(_BlockParser):
    """_BlockParser's state machine with offsets fed by the scanner
    (no line/col bookkeeping)."""

    def __init__(self, source: str) -> None:
        _BlockParser.__init__(self, source)
        self._pos = 0

    def _abs(self) -> int:
        return self._pos


def _fast_emit_text(p: _FastEventDriver, s: str, a: int, b: int) -> bool:
    """Emit the [a, b) text run as the same data/entityref/charref
    piece sequence HTMLParser produces; False -> fall back."""
    pos = a
    while True:
        amp = s.find("&", pos, b)
        if amp == -1:
            if b > pos:
                p._pos = pos
                p.handle_data(s[pos:b])
            return True
        if amp > pos:
            p._pos = pos
            p.handle_data(s[pos:amp])
        m = _FAST_ENT_RE.match(s, amp, b)
        if m is None:
            return False
        p._pos = amp
        if s[amp + 1] == "#":
            p.handle_charref(s[amp + 2:m.end() - 1])
        else:
            p.handle_entityref(s[amp + 1:m.end() - 1])
        pos = m.end()


def _fast_blocks(source: str) -> tuple[list[Block], str | None] | None:
    """Fast-subset parse; None = outside the subset, use HTMLParser."""
    p = _FastEventDriver(source)
    pos, n = 0, len(source)
    find = source.find
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            if not _fast_emit_text(p, source, pos, n):
                return None
            break
        if lt > pos and not _fast_emit_text(p, source, pos, lt):
            return None
        if source.startswith("<!--", lt):
            # HTMLParser closes a comment at '--\s*>' (_markupbase
            # _commentclose), NOT at a literal '-->' — '<!--x-- >'
            # ends the comment
            mc = _COMMENT_CLOSE_RE.search(source, lt + 4)
            if mc is None:
                return None  # unterminated comment: EOF recovery path
            pos = mc.end()
            continue
        m = _FAST_TAG_RE.match(source, lt)
        if m is None:
            return None  # '<' not opening a clean tag
        # positional fetch (decl=1, cname=2, name=3, attrs=4): one
        # C call instead of four dict-keyed lookups per tag
        decl, cname, name, attrs = m.group(1, 2, 3, 4)
        if name is None:
            if cname is not None:
                p._pos = lt
                p.handle_endtag(cname.strip().lower())
                pos = m.end()
                continue
            if decl[:7].lower() != "doctype":
                return None  # marked sections / exotic declarations
            # HTMLParser's parse_html_declaration closes '<!doctype'
            # at the FIRST '>' (it does not scan past quoted strings),
            # exactly like this match — no quote guard needed
            p._pos = lt
            p.handle_decl(decl)
            pos = m.end()
            continue
        tag = name.lower()
        # HTMLParser's tag-NAME class is [^\t\n\r\f />\x00] — broader
        # than this scanner's: '<p\x0bid=x>' is tag 'p\x0bid=x' to the
        # stdlib. If the char after our name would have continued
        # HTMLParser's name, the tokenizations diverge -> fall back.
        if attrs and attrs[0] not in " \t\n\r\f/":
            return None
        # a trailing '/' self-closes ONLY when it cannot belong to an
        # unquoted attribute value: HTMLParser parses `<a href=/>` as a
        # START tag with value '/', `<a href=a />` as self-closing
        self_close = attrs.endswith("/") and (
            len(attrs) == 1 or attrs[-2] in " \t\n\r\f\"'")
        if self_close:
            attrs = attrs[:-1]
        if attrs and _FAST_ATTRS_OK_RE.fullmatch(attrs) is None:
            return None
        p._pos = lt
        pos = m.end()
        if self_close:
            p.handle_startendtag(tag, [])
            continue
        p.handle_starttag(tag, [])
        if tag in _CDATA_CLOSE_RE:
            mc = _CDATA_CLOSE_RE[tag].search(source, pos)
            if mc is None:
                return None  # EOF inside CDATA: HTMLParser recovery
            content = source[pos:mc.start()]
            if "</" in content:
                return None  # HTMLParser would chunk the pieces
            if content:
                p._pos = pos
                p.handle_data(content)
            p._pos = mc.start()
            p.handle_endtag(tag)
            pos = mc.end()
    blocks = p.finish()
    return blocks, p.violation


def parse_blocks_observed(html_str: str) -> tuple[list[Block], str | None]:
    """ONE lenient parse that also reports whether a strict parse
    would have succeeded (None = strictly valid, else the first
    violation). A clean document's lenient block sequence is identical
    to its strict one, so the fused cascade can parse once instead of
    strict-then-lenient (~20% of html kernel time on noisy corpora).
    Takes the fast tokenizer when the document is inside its
    verified-equivalent subset, HTMLParser otherwise."""
    fast = _fast_blocks(html_str)
    if fast is not None:
        return fast
    parser = _BlockParser(html_str)
    try:
        parser.feed(html_str)
        parser.close()
    except Exception as exc:  # lenient: keep partial blocks
        parser.violation = parser.violation or f"parser error: {exc}"
    blocks = parser.finish()
    return blocks, parser.violation


# multilingual function-word set for the optional stopword gate: the
# reference's English list (common_pdf.sh:87-96, via textstats) plus
# high-frequency German/French/Spanish function words — an English-only
# list would misclassify every non-English content block.
def _stopword_union() -> frozenset:
    from ..functions.textstats import LEGACY_STOPWORDS

    extra = (
        "der die das und ist im den dem des ein eine einer zu mit von für "
        "auf als auch nicht sich es er sie wir ihr "
        "le la les un une des du de et est dans pour par sur avec ne pas "
        "qui que au aux ce cette ses son sa il elle nous vous ils elles "
        "el los las uno una unos unas y es en por para con no se lo al"
    ).split()
    return frozenset(LEGACY_STOPWORDS) | frozenset(extra)


_SW_UNION = _stopword_union()
# keep Latin letters WITH diacritics whole: a bare [^a-z] tokenizer
# would shred "für" into f/r (making the listed entry unreachable)
# and inflate the denominator with junk fragments for exactly the
# non-English languages the union set exists to protect
_SW_TOKEN_RE = re.compile("[^a-z\u00e0-\u00f6\u00f8-\u00ff]+")


def _stopword_stats(text: str) -> tuple[float, int]:
    """(stopword density, token count) with the legacy tokenizer
    (lowercase, non-letter runs -> space) over the multilingual union
    set — the single implementation both the helper and the block gate
    use."""
    toks = [t for t in _SW_TOKEN_RE.sub(" ", text.lower()).split(" ") if t]
    if not toks:
        return 0.0, 0
    return sum(1 for t in toks if t in _SW_UNION) / len(toks), len(toks)


def stopword_ratio(text: str) -> float:
    return _stopword_stats(text)[0]


def classify_blocks(
    blocks: list[Block],
    min_block_chars: int = 25,
    max_link_density: float = 0.35,
    min_stopword_ratio: float = 0.0,
    stopword_min_tokens: int = 10,
) -> list[Block]:
    """content-vs-boilerplate classification (north_star block model).

    Deterministic rules: structural boilerplate is dropped outright;
    headings survive regardless of length when not link-heavy; other
    blocks need both enough text mass and low link density.

    `min_stopword_ratio` > 0 adds the reference's strongest boilerplate
    signal (common_pdf.sh stopword density): long link-light blocks
    with almost no function words (SEO keyword stuffing, tag clouds)
    are dropped. OFF by default — the golden corpus's ground truth is
    pinned to the length+link-density model; enabling it is a per-job
    config choice (tested in test_html_extract.py).
    """
    kept: list[Block] = []
    for b in blocks:
        if b.boiler or not b.text:
            continue
        if b.link_density > max_link_density:
            continue
        if not (b.heading or b.n_chars >= min_block_chars):
            continue
        if (min_stopword_ratio > 0.0 and not b.heading):
            ratio, n_toks = _stopword_stats(b.text)
            if n_toks >= stopword_min_tokens and ratio < min_stopword_ratio:
                continue
        kept.append(b)
    return kept


def extract_html(
    html_str: str,
    min_block_chars: int = 25,
    max_link_density: float = 0.35,
    min_stopword_ratio: float = 0.0,
) -> tuple[str, list[tuple[int, int]], str | None]:
    """(extracted_text, spans, violation): the kept blocks' text and
    source spans, from ONE parse, plus its first structural violation
    (None = strictly valid) — everything the strict and lenient
    cascade stages decide on."""
    blocks, violation = parse_blocks_observed(html_str)
    kept = classify_blocks(blocks, min_block_chars, max_link_density,
                           min_stopword_ratio)
    text = "\n".join(b.text for b in kept)  # E12 join contract
    spans = [(b.start, b.end) for b in kept]
    return text, spans, violation


def extract_raw(html_str: str) -> str:
    """Last-resort tag strip (cascade stage 3)."""
    return norm_ws(unescape(_TAG_STRIP_RE.sub(" ", html_str)))


DOM_BLOCK_SCHEMA = (
    "url string, block_idx int, tag string, boiler boolean, "
    "heading boolean, n_chars int, link_chars int, kept boolean, "
    "text_md5 string")


def dom_block_table(pages, url_col: str = "url",
                    html_col: str = "html_text",
                    min_block_chars: int = 25,
                    max_link_density: float = 0.35):
    """The north_star block model as a first-class TABLE: one row per
    DOM block with its classification features (tag, text mass, link
    chars, boiler/heading flags) and the content-vs-boilerplate
    verdict — the queryable intermediate between raw HTML and
    extracted text (debugging extraction quality, tuning thresholds,
    measuring boilerplate mass per site).

    Arrow-batched kernel over the same parser + classifier the
    pipeline runs (parse_blocks_observed + classify_blocks), so
    the table can never drift from extraction behavior. Zero
    shuffles; block counts per page are bounded by the DOM.
    """
    import hashlib
    from typing import Iterator

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "block_idx", "tag", "boiler", "heading",
                "n_chars", "link_chars", "kept", "text_md5"]
        for b in batches:
            rows = []
            for r in b.itertuples(index=False):
                html = getattr(r, html_col)
                if html is None:
                    continue
                # the SAME entry point the pipeline runs (fast
                # tokenizer + HTMLParser fallback), so the table
                # cannot drift from actual extraction behavior
                blocks, _ = parse_blocks_observed(html)
                kept_ids = {id(k) for k in classify_blocks(
                    blocks, min_block_chars, max_link_density)}
                for i, blk in enumerate(blocks):
                    rows.append({
                        "url": getattr(r, url_col),
                        "block_idx": i,
                        "tag": blk.tag,
                        "boiler": blk.boiler,
                        "heading": blk.heading,
                        "n_chars": blk.n_chars,
                        "link_chars": blk.link_chars,
                        "kept": id(blk) in kept_ids,
                        "text_md5": hashlib.md5(
                            blk.text.encode("utf-8")).hexdigest(),
                    })
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(kernel, DOM_BLOCK_SCHEMA)
