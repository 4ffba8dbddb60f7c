"""HTML block extractor unit tests (north_star block model)."""
from html import unescape

from document_extractor_spark.operators.html_extract import (
    classify_blocks,
    extract_html,
    extract_raw,
    norm_ws,
    parse_blocks_observed,
)

CLEAN = """<!DOCTYPE html>
<html><head><title>T | Site</title><style>body{margin:0}</style></head>
<body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/x">About us</a></li></ul></nav>
<main><article>
<h1>Report &amp; Outlook</h1>
<p>Revenue grew twelve percent over the prior year, driven by demand.</p>
<p>Margin expanded as costs stabilized across all regions this year.</p>
<div class="links"><a href="/a">Some related story</a> <a href="/b">Another related story</a></div>
<div>Ad!</div>
</article></main>
<footer><p>Copyright 2026 Example Corp. All rights reserved here.</p></footer>
</body></html>"""

EXPECTED = (
    "Report & Outlook\n"
    "Revenue grew twelve percent over the prior year, driven by demand.\n"
    "Margin expanded as costs stabilized across all regions this year."
)


def test_clean_extraction_strict():
    """A well-formed page has no structural violation, so the cascade's
    strict stage may accept it."""
    text, spans, violation = extract_html(CLEAN)
    assert violation is None
    assert text == EXPECTED
    assert len(spans) == 3


def test_span_invariant():
    """norm_ws(unescape(source[start:end])) == block text."""
    text, spans, _ = extract_html(CLEAN)
    blocks = text.split("\n")
    for (s, e), block_text in zip(spans, blocks):
        assert norm_ws(unescape(CLEAN[s:e])) == block_text


def test_entities_no_spurious_spaces():
    html = "<html><body><p>AT&amp;T announced twenty new regional plans.</p></body></html>"
    text, _, _ = extract_html(html)
    assert text == "AT&T announced twenty new regional plans."


def test_boilerplate_dropped():
    blocks, _ = parse_blocks_observed(CLEAN)
    kept = classify_blocks(blocks)
    texts = [b.text for b in kept]
    assert not any("Home" in t for t in texts)  # nav
    assert not any("Copyright" in t for t in texts)  # footer
    assert not any("related story" in t for t in texts)  # link-dense
    assert not any("Ad!" in t for t in texts)  # too short
    assert not any("margin:0" in t for t in texts)  # style
    assert not any("| Site" in t for t in texts)  # title/head


def test_strict_rejects_malformed():
    bad = CLEAN.replace("</article></main>", "</main>")
    text, _, violation = extract_html(bad)
    assert violation == "mismatched </main>"
    # lenient recovers the same content
    assert text == EXPECTED


def test_strict_requires_root():
    _, _, violation = extract_html(
        "<p>Just a fragment of text that is long enough here.</p>")
    assert violation == "no doctype/<html> root"


def test_raw_strip():
    assert extract_raw("<div>Hello <b>world</b> &amp; you</div>") == "Hello world & you"


def test_html_core_raw_acceptance():
    """The cascade's last stage: kept blocks score below the lenient
    cutoff, the raw tag strip clears html_raw_cutoff, so the page is
    accepted as html_raw (a fallback, with no block spans)."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.functions.scoring import score_reliability
    from document_extractor_spark.operators.extract_branches import (
        _html_core)

    noisy = "<p>" + "== -- ## " * 4 + "Report</p>"  # the one kept block
    short = "".join(f"<div>Alpha beta gamma {i}</div>" for i in range(6))
    html = f"<!DOCTYPE html><html><body>{noisy}{short}</body></html>"
    cfg = PipelineConfig()
    kept, _, _ = extract_html(html)
    assert kept and score_reliability(kept) < cfg.html_lenient_cutoff
    raw = extract_raw(html)
    assert score_reliability(raw) >= cfg.html_raw_cutoff

    row = _html_core("u://raw", None, "en", html.encode(), cfg)
    assert row["method"] == "html_raw"
    assert row["status"] == "OK"
    assert row["used_fallback"] is True
    assert row["spans"] == []
    assert row["pages"] == [(1, raw, score_reliability(raw))]


def test_heading_kept_regardless_of_length():
    html = "<html><body><main><h1>Tiny</h1><p>%s</p></main></body></html>" % (
        "Real content sentence that is long enough to keep easily.")
    text, _, _ = extract_html(html)
    assert text.startswith("Tiny\n")


def test_stopword_gate_drops_keyword_stuffing():
    """A2's strongest boilerplate signal (common_pdf.sh stopword
    density): enabled, it drops long link-light keyword-stuff blocks
    while keeping real content in en/de/fr (multilingual union set)."""
    from document_extractor_spark.operators.html_extract import (
        stopword_ratio)

    spam = ("cheap widgets best widgets buy widgets discount widgets "
            "premium widgets widgets sale widgets deal widgets shop")
    content_en = ("The council published its annual budget report and "
                  "the committee will review it in the autumn session.")
    content_de = ("Der Rat hat den Haushalt für das kommende Jahr "
                  "beschlossen und die Prüfung ist im Herbst geplant.")
    content_fr = ("Le conseil a publié le rapport annuel sur le budget "
                  "et la commission va l'examiner pendant la session.")
    html = ("<html><body>"
            f"<p>{content_en}</p><p>{spam}</p>"
            f"<p>{content_de}</p><p>{content_fr}</p>"
            "</body></html>")
    blocks, _ = parse_blocks_observed(html)

    default = classify_blocks(blocks)
    gated = classify_blocks(blocks, min_stopword_ratio=0.08)

    texts_default = [b.text for b in default]
    texts_gated = [b.text for b in gated]
    assert spam in " ".join(texts_default)       # default keeps it (off)
    assert spam not in " ".join(texts_gated)     # gate drops it
    for content in (content_en, content_de, content_fr):
        assert any(content in t for t in texts_gated), content
    assert stopword_ratio(spam) < 0.08 < stopword_ratio(content_en)


def test_legacy_reliability_hypothesis_parity(spark):
    """Column legacy scorer == Python twin on arbitrary text."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from document_extractor_spark.functions.textstats import (
        legacy_reliability,
        legacy_reliability_py,
    )

    texts = []

    @given(st.text(max_size=300))
    @settings(max_examples=60, deadline=None)
    def collect(t):
        texts.append(t)

    collect()
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = (df.select("id", legacy_reliability(F.col("text")).alias("r"))
           .toPandas().set_index("id").r)
    for i, t in rows:
        assert abs(got[i] - legacy_reliability_py(t)) < 1e-12, repr(t)


def test_dom_block_table_features_and_verdicts(spark):
    from document_extractor_spark.operators.html_extract import (
        dom_block_table)

    html = (
        "<html><body>"
        "<h2>Short heading</h2>"
        "<p>This paragraph easily clears the twenty-five character "
        "minimum and has no links at all inside it.</p>"
        '<p><a href="/x">link heavy link heavy link heavy link '
        "heavy</a></p>"
        "<p>tiny</p>"
        "<footer><p>Boiler text in a footer element here.</p></footer>"
        "</body></html>")
    pages = spark.createDataFrame(
        [("u1", html), ("u2", None)], "url string, html_text string")
    rows = sorted(dom_block_table(pages).collect(),
                  key=lambda r: r.block_idx)
    assert all(r.url == "u1" for r in rows)  # NULL html -> no rows
    by_tag = {(r.block_idx): r for r in rows}
    h = rows[0]
    assert h.tag == "h2" and h.heading and h.kept  # headings survive
    p_good = rows[1]
    assert p_good.kept and p_good.link_chars == 0
    p_links = rows[2]
    assert not p_links.kept  # link density above threshold
    assert p_links.link_chars > 0
    p_tiny = rows[3]
    assert not p_tiny.kept and p_tiny.n_chars < 25
    p_boiler = rows[4]
    assert p_boiler.boiler and not p_boiler.kept
    # the table's verdicts must equal the pipeline's extraction
    from document_extractor_spark.operators.html_extract import (
        extract_html)
    text, _, _ = extract_html(html)
    kept_hashes = {r.text_md5 for r in rows if r.kept}
    import hashlib
    for part in text.split("\n"):
        assert hashlib.md5(part.encode()).hexdigest() in kept_hashes


def _legacy_observed(s):
    import document_extractor_spark.operators.html_extract as hx

    p = hx._BlockParser(s)
    try:
        p.feed(s)
        p.close()
    except Exception as exc:
        p.violation = p.violation or f"parser error: {exc}"
    return p.finish(), p.violation


def test_fast_parser_equals_htmlparser_on_corpus():
    """The fast tokenizer must be EVENT-equivalent to the HTMLParser
    path on every document it accepts — blocks (incl. spans), and the
    observed violation; the garbage class must fall back."""
    import document_extractor_spark.operators.html_extract as hx
    from document_extractor_spark.corpus import generate_corpus
    from document_extractor_spark.functions.textnorm import decode_detect
    from document_extractor_spark.operators.extract_branches import (
        sniff_bytes)

    corp = generate_corpus(800, seed=7)
    n_fast = n_fallback = 0
    for h, t in zip(corp.pages.html, corp.pages.text):
        if sniff_bytes(h, t) != "html":
            continue
        s = decode_detect(h)[0]
        fast = hx._fast_blocks(s)
        if fast is None:
            n_fallback += 1
            continue
        n_fast += 1
        assert fast == _legacy_observed(s)
    assert n_fast > 200          # the clean/noisy classes stay fast
    assert n_fallback > 0        # garbage exercises the fallback


def test_fast_parser_hypothesis_fuzz_equivalence():
    """Grammar-fuzzed HTML-ish inputs: wherever the fast path accepts
    a document, it must equal the HTMLParser path exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import document_extractor_spark.operators.html_extract as hx

    token = st.one_of(
        st.sampled_from([
            "<div>", "</div>", "<p>", "</p>", "<a href='/x'>", "</a>",
            "<br>", "<br/>", "<nav>", "</nav>", "<script>", "</script>",
            "<style>", "</style>", "<!DOCTYPE html>", "<html>",
            "</html>", "<h1>", "</h1>", "<!-- c -->", "<td >", "</td >",
            "<img src=\"a.png\" alt='x'>", "<input value=3>",
            "<a href=/>", "<a href=a/>", "<a href=a />",
            "<!--x-- >y-->", "<p\x0bid=x>", "<p\xa0id=x>", "<p=x>",
            "<!DOCTYPE html \"a>b\">", "<foo.bar>", "</foo.bar>",
            "<img src=\"a\"/>", "<div a=b/>", "<p/>",
            "&amp;", "&#65;", "&#x41;", "&euro;", "&", "&bogus",
            "< ", "<<", "<3", "</>", "<?pi?>", "<![CDATA[x]]>",
            "text ", "words here ", "\n", "  ", "é ", "ümlaut ",
        ]),
        st.text(alphabet="ab<>&;/!-= \"'", min_size=0, max_size=12),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(token, min_size=0, max_size=30))
    def run(parts):
        s = "".join(parts)
        fast = hx._fast_blocks(s)
        if fast is not None:
            assert fast == _legacy_observed(s)

    run()
