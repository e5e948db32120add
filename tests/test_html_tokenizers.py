"""The two HTML tokenizers of core/html_extract agree.

segment_blocks runs the compiled fast tokenizer and falls back to the
stdlib HTMLParser for any page outside the fast grammar. Both drive
the same block builder, so the blocks are equal exactly when the two
tokenizers emit the same start/end/data events. These tests hold them
to that: a differential fuzz over markup built from the characters on
which HTMLParser's grammar differs from a naive one, the fallback for
each construct the fast grammar leaves out, and the fast path's
coverage of every page the synthetic-corpus generator renders.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.core.html_extract import (
    _fast_blocks,
    _parser_blocks,
    decode_html,
    segment_blocks,
)
from pdf_parser_spark.sources.synth import generate_corpus, render_html

NAMES = [
    "p", "P", "div", "DiV", "a", "A", "br", "BR", "li", "h1", "nav", "main",
    "footer", "td", "img", "script", "SCRIPT", "style", "Style", "x-y", "o:p",
]
# attribute lists inside the fast grammar: ASCII whitespace, quoted
# values holding anything but their quote, narrow unquoted values
ATTRS = [
    "", " href", ' href="x>y"', " class=a/b", "\tb = 'c\"d'", ' data-x="<p>\n"',
    "\non:c=x/", " HREF='&amp;'", " _k=1 b", "\r\fa=b\n", " a=x/ ",
]
# whitespace to Python's `\s` (or NUL) but not to HTMLParser's tag grammar
OTHER_WS = ["\x0b", "\x1c", "\x1f", "\x85", "\xa0", "\x00"]
TEXT = [
    "word", " ", "\n", ">", "x y", "é", "\x00", "\x0b\x1c\x1f\x85\xa0", "&amp;",
    "&lt", "&#x41;", "&#1;", "&notit;", "&", ";", "a&amp;b", "&AMP;&gt",
]
INSIDE = (
    TEXT
    + [f"<{n}{a}{c}" for n in NAMES for a in ATTRS for c in (">", "/>", " />")]
    + [f"</{n}{w}>" for n in NAMES for w in ("", " ", "\n\t")]
    # raw bodies end at HTMLParser's own close pattern, "\x0b" included
    + ["<style>a</style\x0b>b</style>", "<script>x</SCRIPT >y", "<SCRIPT>&amp;<p></script>"]
)
# tags that hold one non-ASCII-whitespace character where the fast
# grammar allows ASCII whitespace, and constructs it leaves out
OUTSIDE = (
    [f"<{n}{w}b=c>" for n in NAMES[:6] for w in OTHER_WS]
    + [f"<{n} a=b{w}>" for n in NAMES[:6] for w in OTHER_WS]
    + [f"</{n}{w}>" for n in ("p", "div", "script") for w in OTHER_WS]
    + [
        "<!-- c -->", "<!--x", "<!DOCTYPE html>", "<?x>", "< 1", "<1", "</ >", "</>",
        "<![CDATA[x]]>", "<", "</script >", "</SCRIPT>", "</ſcript>", "<a b==c>",
        "<script>x</ſcript>y</script>", "<style>x</style\xa0>y</style>",
    ]
)
_page = st.one_of(
    st.lists(st.sampled_from(INSIDE), max_size=24),
    st.lists(st.sampled_from(INSIDE * 4 + OUTSIDE), max_size=24),
).map("".join)


def test_fast_tokenizer_matches_htmlparser():
    """Wherever the fast tokenizer accepts a page, its blocks equal
    HTMLParser's field for field (zero-length blocks included), and
    segment_blocks equals the HTMLParser-only segmenter on every page.
    Fixed examples, no example database: the same run every time."""
    counts = {"pages": 0, "fast": 0}

    @settings(max_examples=3000, derandomize=True, database=None, deadline=None)
    @given(_page)
    def run(page):
        parsed = _parser_blocks(page).blocks
        fast = _fast_blocks(page)
        counts["pages"] += 1
        if fast is not None:
            counts["fast"] += 1
            assert fast.blocks == parsed, ascii(page)
        assert segment_blocks(page) == [b for b in parsed if b.n_chars > 0], ascii(page)

    run()
    # the differential only proves something where the fast path ran
    assert counts["fast"] >= counts["pages"] // 3, counts


# each page holds one construct outside the fast grammar; the expected
# (tag_path, text) blocks are HTMLParser's
FALLBACK_CASES = {
    "comment": ("<p>a<!-- c -->b</p><p>c</p>", [("p", "ab"), ("p", "c")]),
    "doctype": ("<!DOCTYPE html><p>x</p>", [("p", "x")]),
    "processing_instruction": ("<?xml version='1.0'?><p>x</p>", [("p", "x")]),
    "lt_before_digit": ("<p>1 <2 and 3> 2</p>", [("p", "1 <2 and 3> 2")]),
    "end_tag_without_name": ("<p>a</ >b</p>", [("p", "ab")]),
    "start_tag_truncated_at_eof": (
        '<p>text</p><div class="x',
        [("p", "text"), ("", '<div class="x')],
    ),
    "unclosed_script": ("<p>a</p><script>var x = 1;", [("p", "a")]),
    # "ſ" matches "s" under re.I, but HTMLParser reads no end tag there
    "non_ascii_script_close": (
        "<script>x</ſcript>y</script><p>z</p>",
        [("script", "x</ſcript>y"), ("p", "z")],
    ),
    "vertical_tab_in_tag": (
        "<p\x0bclass=x>a</p><p>b</p>",
        [("p\x0bclass=x", "a"), ("p\x0bclass=x/p", "b")],
    ),
    "nbsp_in_tag": (
        "<div\xa0class='x'>a</div><p>b</p>",
        [("div\xa0class='x'", "a"), ("div\xa0class='x'/p", "b")],
    ),
}


@pytest.mark.parametrize("case", sorted(FALLBACK_CASES))
def test_construct_outside_grammar_falls_back(case):
    page, expected = FALLBACK_CASES[case]
    assert _fast_blocks(page) is None
    blocks = segment_blocks(page)
    assert blocks == [b for b in _parser_blocks(page).blocks if b.n_chars > 0]
    assert [(b.tag_path, b.text) for b in blocks] == expected


def test_synth_pages_take_the_fast_path():
    """Every page the synthetic-corpus generator renders, with and
    without head metadata, truncated rows and mega-docs included, is
    inside the fast grammar: a change that sent them to the fallback
    fails here, not only in the benchmark."""
    pages = [decode_html(d["html"]) for d in generate_corpus(120, seed=7)]
    pages.append(
        render_html(
            "https://h.example/a?b=1&c=2",
            ["one <page> & \"quoted\" 'text'", "", "\x0b\xa0\x00 ctl"],
            lang="en-GB",
            description='a "described" <page> & more',
            canonical="https://h.example/a?b=1&c=2",
            og_title="O'Title",
            published_time="2024-01-02T03:04:05Z",
            robots="noindex, nofollow",
        )
    )
    outside = [i for i, page in enumerate(pages) if _fast_blocks(page) is None]
    assert outside == []
