"""DOM-heuristic boilerplate stripping: unit + byte-identity tests.

The synthetic corpus (sources/synth.render_html) wraps each page's
text, escaped verbatim, in a boilerplate-laden document — so a correct
extractor must recover the `text` column byte-identically per url
(BASELINE.json per-row invariant).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.core.html_extract import extract_main_text, segment_blocks
from pdf_parser_spark.operators import html_extract as hx
from pdf_parser_spark.sources.corpus import synthetic_documents
from pdf_parser_spark.sources.synth import generate_corpus

SAMPLE = (
    "<html><head><title>t</title><style>.x{}</style><script>var a=1;</script></head>"
    "<body><header><nav><a href='/1'>one</a> <a href='/2'>two</a></nav></header>"
    "<aside><a href='/ad'>ad</a> buy cheap</aside>"
    "<main><p>Real content paragraph with enough text.</p>"
    "<div>Second content block — no links at all.</div>"
    "<p><a href='/x'>link</a><a href='/y'>link</a> tiny</p></main>"
    "<footer>© corp | <a href='/tos'>tos</a></footer></body></html>"
)


def test_segment_scores_and_classification():
    blocks = segment_blocks(SAMPLE)
    by_path = {}
    for b in blocks:
        by_path.setdefault(b.tag_path.split("/")[-1], []).append(b)
    # nav/aside/footer subtrees flagged boilerplate
    assert all(b.under_boilerplate for b in by_path.get("nav", []))
    assert all(b.under_boilerplate for b in by_path.get("aside", []))
    # content paragraphs: no links → density 0, not under boilerplate
    content = [b for b in blocks if "main" in b.tag_path and "Real content" in b.text]
    assert content and content[0].link_density == 0.0 and not content[0].under_boilerplate
    # link-stuffed paragraph has high link density
    linky = [b for b in blocks if "tiny" in b.text]
    assert linky and linky[0].link_density > 0.33


def test_extract_main_text_drops_boilerplate():
    text = extract_main_text(SAMPLE, separator="\n")
    assert "Real content paragraph" in text
    assert "Second content block" in text
    assert "buy cheap" not in text        # aside
    assert "tos" not in text              # footer
    assert "one" not in text              # nav links
    assert "tiny" not in text             # link-density reject
    assert "var a=1" not in text          # script


def test_truncated_html_yields_prefix():
    assert extract_main_text(b"<html><body><p>trunc") == "trunc"
    assert extract_main_text(None) == ""
    assert extract_main_text(b"") == ""


def test_byte_identity_on_synthetic_corpus_pure():
    n_checked = 0
    for doc in generate_corpus(40, seed=42):
        got = extract_main_text(doc["html"], separator="\f")
        if doc["text"] == "":
            # deliberately-truncated rows (parse-failure accounting):
            # the extractor still salvages the prefix, never crashes
            assert got == "trunc"
            continue
        assert got == doc["text"], doc["url"]
        n_checked += 1
    assert n_checked >= 35


def test_byte_identity_distributed(spark):
    docs = synthetic_documents(spark, 30, seed=42)
    out = hx.html_main_text(docs, separator="\f")
    joined = out.join(docs.select("url", "text"), on="url")
    mismatches = joined.where("extracted_text != text AND text != ''").count()
    assert mismatches == 0
    assert joined.count() == 30


def test_boilerplate_stats_rollup(spark):
    docs = synthetic_documents(spark, 10, seed=42)
    stats = hx.boilerplate_stats(hx.html_blocks(docs))
    rows = {r["tag_path"]: r for r in stats.collect()}
    page_paths = [p for p in rows if p.endswith("main/div")]
    assert page_paths and all(rows[p]["content_share"] == 1.0 for p in page_paths)
    nav_paths = [p for p in rows if "nav" in p]
    assert nav_paths and all(rows[p]["content_share"] == 0.0 for p in nav_paths)


def test_content_spans_address_extracted_text(spark):
    """north-rule span contract: extracted_text[char_start:char_end]
    equals the block's text for every content block, per url."""
    from pyspark.sql import functions as F

    docs = synthetic_documents(spark, 20, seed=42)
    text = hx.html_main_text(docs, separator="\f").select("url", "extracted_text", "n_content_blocks")
    spans = hx.html_content_spans(docs, separator="\f")
    joined = spans.join(text, on="url")
    # spans tile the extracted text: count matches, ends are in-bounds,
    # and the addressed slice is non-empty exactly when blocks are
    per_url = joined.groupBy("url", "n_content_blocks", F.length("extracted_text").alias("L")).agg(
        F.count("*").alias("n_spans"), F.max("char_end").alias("max_end")
    )
    bad = per_url.where("n_spans != n_content_blocks OR max_end != L").count()
    assert bad == 0
    # slice identity on the first blocks (substring is 1-based)
    sliced = joined.select(
        F.expr("substring(extracted_text, char_start + 1, char_end - char_start)").alias("s"),
        "char_start", "char_end", "url", "block_no",
    )
    blocks = hx.html_blocks(docs).where("is_content").select("url", "block_no", "text")
    cmp = sliced.join(blocks, on=["url", "block_no"])
    assert cmp.where("s != text").count() == 0
    assert cmp.count() > 0


def test_tokenizer_never_throws_on_hostile_bytes():
    """Fuzz the DOM tokenizer: arbitrary byte soup (invalid utf-8,
    unbalanced tags, nul bytes, deep nesting) must yield blocks or
    nothing — never raise. Parse-failure policy is accounting, not
    task death."""
    from hypothesis import given, settings, strategies as st

    from pdf_parser_spark.core.html_extract import segment_blocks

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=4096))
    def run(data):
        blocks = segment_blocks(data)
        assert isinstance(blocks, list)
        for b in blocks:
            assert b.n_chars == len(b.text)

    run()

    # targeted hostile shapes
    for payload in [
        b"<div" * 500,
        b"<p>" + b"\xff\xfe" * 100 + b"</p>",
        b"</p></div></html>",
        b"<a href=" + b"x" * 10000,
        ("<div>" * 200 + "deep" + "</div>" * 200).encode(),
        b"\x00" * 64,
    ]:
        assert isinstance(segment_blocks(payload), list)


def test_fuzz_render_roundtrip_byte_identity():
    """Property form of the per-url invariant (r5): for ARBITRARY page
    texts — control chars, CRLF, entities-looking sequences, unicode
    separators, markup characters — render_html → extract_main_text
    returns exactly the non-empty pages rejoined on \\f. This is the
    q89 oracle's contract fuzzed beyond the synthetic corpus's
    character set (Common Crawl pages carry all of these)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_parser_spark.sources.synth import render_html

    page = st.text(max_size=80).filter(lambda s: "\f" not in s)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(page, max_size=6))
    def run(pages):
        out = extract_main_text(render_html("u", pages))
        assert out == "\f".join(p for p in pages if p)

    run()


# ---------------------------------------------------------------------
# head metadata (r5: html_metadata / core.extract_metadata)
# ---------------------------------------------------------------------

def test_metadata_full_head_with_entities():
    from pdf_parser_spark.core.html_extract import extract_metadata

    html = (
        '<html lang="en-US"><head>'
        "<title>A &amp; B &lt;co&gt;</title>"
        '<meta name="description" content="best &quot;deals&quot; daily">'
        '<meta property="og:title" content="OG A &amp; B">'
        '<meta property="og:description" content="og desc">'
        '<link rel="canonical" href="https://ex.com/a?x=1&amp;y=2">'
        '<meta property="article:published_time" content="2024-02-01T09:30:00Z">'
        '<meta name="robots" content="noindex">'
        "</head><body><p>hi</p></body></html>"
    )
    m = extract_metadata(html)
    assert m["title"] == "A & B <co>"
    assert m["lang"] == "en-US"
    assert m["description"] == 'best "deals" daily'
    assert m["og_title"] == "OG A & B"
    assert m["og_description"] == "og desc"
    assert m["canonical"] == "https://ex.com/a?x=1&y=2"
    assert m["published_time"] == "2024-02-01T09:30:00Z"
    assert m["robots"] == "noindex"


def test_metadata_published_time_sources():
    from pdf_parser_spark.core.html_extract import extract_metadata

    # legacy name="date" fills the field when article: meta is absent
    m = extract_metadata('<head><meta name="date" content="2020-01-01"></head>')
    assert m["published_time"] == "2020-01-01"
    # first occurrence of EITHER source wins
    m = extract_metadata(
        '<head><meta property="article:published_time" content="A">'
        '<meta name="date" content="B"></head>'
    )
    assert m["published_time"] == "A"


def test_metadata_case_quoting_and_rel_list():
    from pdf_parser_spark.core.html_extract import extract_metadata

    html = (
        "<HTML LANG='fr'><HEAD><TITLE>  t  </TITLE>"
        "<META NAME='Description' CONTENT='d1'>"
        "<LINK REL='alternate canonical' HREF=' https://c ' >"
        "</HEAD></HTML>"
    )
    m = extract_metadata(html)
    assert m["title"] == "t"  # stripped
    assert m["lang"] == "fr"
    assert m["description"] == "d1"
    assert m["canonical"] == "https://c"


def test_metadata_first_occurrence_wins_and_missing_none():
    from pdf_parser_spark.core.html_extract import extract_metadata

    html = (
        "<html><head><title>first</title><title>second</title>"
        '<meta name="description" content="d1">'
        '<meta name="description" content="d2">'
        "</head><body><title>body-title</title></body></html>"
    )
    m = extract_metadata(html)
    assert m["title"] == "first"
    assert m["description"] == "d1"
    assert m["lang"] is None and m["canonical"] is None
    assert m["og_title"] is None and m["og_description"] is None

    empty = extract_metadata("<div>no head at all</div>")
    assert all(v is None for v in empty.values())
    assert all(v is None for v in extract_metadata(None).values())


def test_metadata_unclosed_title_ends_at_next_tag():
    """A title holds text only, so an unclosed <title> ends at the next
    element instead of swallowing the rest of the page."""
    from pdf_parser_spark.core.html_extract import extract_metadata

    unclosed = "<html><head><title>x<body><p>the whole page body</p></body></html>"
    assert extract_metadata(unclosed)["title"] == "x"
    # a later <title> after the cut-off one still never overrides it
    assert extract_metadata("<title>a<meta name=x><title>b</title>")["title"] == "a"


def test_metadata_truncated_and_hostile_bytes():
    from pdf_parser_spark.core.html_extract import extract_metadata

    # page cut mid-title: the captured prefix is kept
    assert extract_metadata("<html><head><title>partial tit")["title"] == "partial tit"
    # meta without content / link without href are ignored, not crashes
    m = extract_metadata('<meta name="description"><link rel="canonical" href="">')
    assert m["description"] is None and m["canonical"] is None
    # a UTF-16 BOM on non-UTF-16 bytes decodes to garbage (as it
    # should — the BOM is authoritative) but never raises
    m = extract_metadata(b"\xff\xfe<title>x</title>")
    assert set(m) and all(v is None or isinstance(v, str) for v in m.values())


def test_metadata_render_roundtrip_and_default_unchanged():
    from pdf_parser_spark.core.html_extract import extract_metadata
    from pdf_parser_spark.sources.synth import render_html

    html = render_html(
        "u&1",
        ["page one"],
        lang="de",
        description='desc "quoted" & more',
        canonical="https://example.com/u?a=1&b=2",
        og_title="OG <u>",
    )
    m = extract_metadata(html)
    assert m["title"] == "u&1"
    assert m["lang"] == "de"
    assert m["description"] == 'desc "quoted" & more'
    assert m["canonical"] == "https://example.com/u?a=1&b=2"
    assert m["og_title"] == "OG <u>"
    # all-default render stays metadata-free (q89/q90 byte contracts)
    plain = render_html("u&1", ["page one"])
    assert "<meta" not in plain and "<link" not in plain and "<html><head>" in plain


def test_html_metadata_operator(spark):
    import pandas as pd

    from pdf_parser_spark.operators.html_extract import html_metadata
    from pdf_parser_spark.sources.synth import render_html

    rows = [
        ("a", render_html("a", ["x"], lang="en", description="da").encode()),
        ("b", render_html("b", ["y"], canonical="https://ex.com/b").encode()),
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r.asDict() for r in html_metadata(df).collect()}
    assert out["a"]["title"] == "a" and out["a"]["lang"] == "en"
    assert out["a"]["description"] == "da" and out["a"]["canonical"] is None
    assert out["b"]["canonical"] == "https://ex.com/b" and out["b"]["lang"] is None
    assert all(out["c"][f] is None for f in out["c"] if f != "url")


def test_html_outlinks_grammar_and_order(spark):
    from pdf_parser_spark.operators.html_extract import html_outlinks

    rows = [
        (
            "a",
            b'<a href="/x">1</a><A HREF=\'/y\'>2</A>'
            b"<a class=z href=/bare>3</a><a>no href</a>",
        ),
        ("b", None),
        ("c", b"<p>no anchors</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = sorted((r.url, r.link_no, r.href) for r in html_outlinks(df).collect())
    assert got == [("a", 0, "/x"), ("a", 1, "/y"), ("a", 2, "/bare")]


def test_decode_html_honors_declared_charset():
    from pdf_parser_spark.core.html_extract import (
        decode_html,
        extract_metadata,
        extract_main_text,
        sniff_charset,
    )

    # latin-1 page declaring itself — é decodes correctly, not as U+FFFD
    latin = (
        '<html><head><meta charset="iso-8859-1"><title>café</title></head>'
        "<body><p>café au lait</p></body></html>"
    ).encode("iso-8859-1")
    assert sniff_charset(latin) == "iso-8859-1"
    assert extract_metadata(latin)["title"] == "café"
    assert "café au lait" in extract_main_text(latin)

    # legacy http-equiv form, windows-1251 cyrillic
    cyr = (
        '<head><meta http-equiv="Content-Type" '
        'content="text/html; charset=windows-1251"></head><body><p>привет</p></body>'
    ).encode("windows-1251")
    assert "привет" in extract_main_text(cyr)

    # a charset= inside another attribute's value declares nothing: this
    # valid UTF-8 page must not be decoded as shift_jis
    decoy = (
        '<head><meta name="description" content="use charset=shift_jis">'
        "</head><body><p>café — naïve</p></body>"
    ).encode("utf-8")
    assert sniff_charset(decoy) is None
    assert "café — naïve" in extract_main_text(decoy)

    # BOMs beat (absent) declarations; utf-8 BOM is stripped
    u16 = "<title>wide</title>".encode("utf-16")  # emits a BOM
    assert extract_metadata(u16)["title"] == "wide"
    u8 = b"\xef\xbb\xbf<p>x</p>"
    assert extract_main_text(u8) == "x"

    # bogus declaration falls back to lenient utf-8, never raises
    bogus = b'<meta charset="no-such-enc"><p>ok</p>'
    assert sniff_charset(bogus) is None
    assert extract_main_text(bogus) == "ok"
    # undeclared non-utf8 degrades to replacement chars, still no raise
    assert isinstance(decode_html("é".encode("latin-1")), str)


def test_fuzz_columnar_robots_grammar_matches_parser():
    """Differential fuzz: the curate gate's regex (webtext_filters.
    _ROBOTS_NOINDEX_RX, a Spark/Java pattern that also compiles under
    Python re) must agree with the DOM parser's harvested robots
    field across generated meta-tag spellings — attribute order,
    quoting style (unquoted too), casing, directive lists, other meta
    names that start with `robots`, and a `data-content` decoy.
    Divergence means the funnel drops (or keeps) pages the metadata
    table contradicts."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_parser_spark.core.html_extract import extract_metadata
    from pdf_parser_spark.operators.webtext_filters import _ROBOTS_NOINDEX_RX

    rx = re.compile(_ROBOTS_NOINDEX_RX)

    directive = st.sampled_from(
        ["noindex", "nofollow", "none", "index", "noarchive", "nosnippet"]
    )
    directives = st.lists(directive, min_size=1, max_size=3)
    quote = st.sampled_from(['"', "'", ""])
    case = st.sampled_from([str.lower, str.upper])

    @settings(max_examples=150, deadline=None)
    @given(
        ds=directives,
        q=quote,
        content_first=st.booleans(),
        fn=case,
        pad=st.sampled_from(["", " ", "  "]),
        name=st.sampled_from(["robots", "robots", "robotsxyz", "robots-x"]),
        decoy=st.sampled_from(["", 'data-content="noindex" ']),
    )
    def run(ds, q, content_first, fn, pad, name, decoy):
        # an unquoted value ends at whitespace, so its list has no spaces
        content = ("," if q == "" else ", ").join(ds)
        name_attr = fn(f"name={pad}{q}{name}{q}")
        content_attr = fn(f"{decoy}content={pad}{q}{content}{q}")
        attrs = (
            f"{content_attr} {name_attr}" if content_first else f"{name_attr} {content_attr}"
        )
        html = f"<html><head><meta {attrs}><title>t</title></head></html>"
        want = name == "robots" and any(d in ("noindex", "none") for d in ds)
        # parser ground truth: the robots STRING it harvests implies
        # the same keep/drop decision (case-insensitive word match)
        harvested = extract_metadata(html)["robots"] or ""
        parser_says = bool(
            re.search(r"(?i)\b(noindex|none)\b", harvested)
        )
        assert parser_says == want
        assert bool(rx.search(html)) == want, html

    run()


def test_fuzz_columnar_href_grammar_matches_parser():
    """Differential fuzz for the outlink regex: across quoting styles,
    casing, attribute order and decoy attributes, the columnar grammar
    extracts exactly the hrefs the HTML parser sees (entity-free,
    url-safe alphabet — the operator contract is RAW attribute text)."""
    import re
    from html.parser import HTMLParser

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_parser_spark.operators.html_extract import _HREF_RX

    rx = re.compile(_HREF_RX)

    href_val = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789/._-?=#:%", min_size=1, max_size=24
    )

    @settings(max_examples=150, deadline=None)
    @given(
        hrefs=st.lists(href_val, max_size=4),
        q=st.sampled_from(['"', "'", ""]),
        fn=st.sampled_from([str.lower, str.upper]),
        decoy_first=st.booleans(),
        decoy_name=st.sampled_from(["class", "data-href", "x-href"]),
    )
    def run(hrefs, q, fn, decoy_first, decoy_name):
        from hypothesis import assume

        # HTML5 forbids '=' inside UNQUOTED attribute values (the
        # construct is ambiguous and real parsers disagree on it)
        assume(q != "" or all("=" not in h for h in hrefs))
        parts = []
        for h in hrefs:
            # case transform applies to markup names only — attribute
            # VALUES are case-significant and must round-trip raw
            attr = f"{fn('href')}={q}{h}{q}"
            # hyphenated names ending in href are other attributes
            decoy = f"{fn(decoy_name)}=\"/decoy\""
            attrs = f"{decoy} {attr}" if decoy_first else f"{attr} {decoy}"
            parts.append(f"<{fn('a')} {attrs}>t</{fn('a')}>")
        parts.append("<a>bare anchor</a><p>filler</p>")
        html = "".join(parts)

        got = [m.group(1).strip("\"'") for m in rx.finditer(html)]

        class _A(HTMLParser):
            out: list = []

            def handle_starttag(self, tag, attrs):
                if tag == "a":
                    for k, v in attrs:
                        if k == "href" and v is not None:
                            self.out.append(v)
                            break

        p = _A()
        p.out = []
        p.feed(html)
        assert got == p.out == hrefs

    run()
