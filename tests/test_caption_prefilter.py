"""Differential checks for the caption-keyword prefilter in
core/chunking.enrich_captions.

The prefilter skips norm_caption_line (seven substitutions) on lines
that cannot spell `table` or `figure`. It is an optimisation only: the
figure/table id lists, and so every per-document output, must equal
those of the unfiltered loop kept below as the reference.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.core import chunking
from pdf_parser_spark.core.pipeline import extract_document
from pdf_parser_spark.core.text import FIGURE_CAPTION, TABLE_CAPTION, norm_caption_line
from pdf_parser_spark.sources.synth import generate_corpus


def enrich_captions_unfiltered(chunks: list[dict]) -> None:
    """enrich_captions as it was before the prefilter: every content
    line is normalized, then tested figure-first."""
    for ch in chunks:
        ch["figures"] = []
        ch["tables"] = []
        if not ch["content"]:
            continue
        for line in ch["content"].splitlines():
            ln = norm_caption_line(line)
            m = FIGURE_CAPTION.search(ln)
            if m:
                ch["figures"].append(m.group(1))
                continue
            m = TABLE_CAPTION.search(ln)
            if m:
                ch["tables"].append(m.group(1))


# whitespace the normalizer folds (U+00A0, U+202F) or collapses
_SEPS = ["", " ", "  ", "\t", "\u00a0", "\u202f"]
# the six unicode dashes norm_caption_line folds to '-', plus ASCII
_DASHES = ["\u2010", "\u2011", "\u2012", "\u2013", "\u2014", "\u2212", "-"]
# non-ASCII letters that re.IGNORECASE folds onto ASCII i / s / k
_FOLDING = ["\u0130", "\u0131", "\u017f", "\u212a"]  # İ ı ſ K
_LETTER_VARIANTS = {
    "i": ["i", "I", "\u0130", "\u0131"],
    "s": ["s", "S", "\u017f"],
    "k": ["k", "K", "\u212a"],
}


@st.composite
def _keyword(draw) -> str:
    """`Table` / `Figure` in mixed case, possibly spaced out letter by
    letter (`T a b l e`) with any folded whitespace, possibly with a
    folding non-ASCII letter, or a near miss (`Tabel`, `Figur`)."""
    word = draw(st.sampled_from(["table", "figure", "tabel", "figur", "fig", "tables", "figures"]))
    spaced = draw(st.booleans())
    out = []
    for k, ch in enumerate(word):
        variants = _LETTER_VARIANTS.get(ch, [ch, ch.upper()])
        out.append(draw(st.sampled_from(variants)))
        if spaced and k < len(word) - 1:
            out.append(draw(st.sampled_from(_SEPS)))
    return "".join(out)


_CAP_ID = st.sampled_from(["1", "3", "10.2", "A", "A.1", "B.2.3", "5a", "12", "x", "IV"])
_WORD = st.sampled_from(
    ["the", "see", "shows", "results", "in", "data", "Tab", "stable", "config", "ure",
     "(", ")", ":", ".", "ſtep", "Kelvin", "İstanbul", "ıd", "", "Table3", "Figure10.2"]
)


@st.composite
def _caption_line(draw) -> str:
    """Keyword + id, glued (`Figure3`, `TableA.1`) or separated, amid
    filler words, dashes and unicode spaces."""
    kw = draw(_keyword())
    glue = draw(st.sampled_from(["", " ", "\u00a0", "\u202f", "  "]))
    cid = draw(_CAP_ID)
    tail = draw(st.sampled_from(["", ":", ".", " " + draw(_WORD), draw(st.sampled_from(_DASHES)) + " x"]))
    pre = draw(st.lists(_WORD, max_size=3))
    lead = draw(st.sampled_from(["", " ", "\u00a0", "\t"]))
    return lead + " ".join(pre) + (" " if pre else "") + kw + glue + cid + tail


@st.composite
def _plain_line(draw) -> str:
    """A line with no caption: filler words, dashes, folding letters."""
    parts = draw(
        st.lists(
            st.one_of(_WORD, st.sampled_from(_DASHES), st.sampled_from(_FOLDING)),
            max_size=8,
        )
    )
    seps = st.sampled_from(_SEPS[1:])
    return "".join(p + draw(seps) for p in parts)


_LINE = st.one_of(_caption_line(), _plain_line(), st.text(max_size=30))
_CHUNK = st.lists(_LINE, max_size=8).map(lambda lines: {"content": "\n".join(lines)})


@settings(max_examples=400, deadline=None)
@given(chunks=st.lists(_CHUNK, min_size=1, max_size=4))
def test_prefiltered_enrich_captions_matches_unfiltered(chunks):
    got = [dict(c) for c in chunks]
    want = [dict(c) for c in chunks]
    chunking.enrich_captions(got)
    enrich_captions_unfiltered(want)
    assert [(c["figures"], c["tables"]) for c in got] == [
        (c["figures"], c["tables"]) for c in want
    ]


def test_known_caption_spellings():
    """Spaced, glued and folded-case captions are found by both loops."""
    chunk = {
        "content": "\n".join(
            [
                "T a b l e 3: totals",
                "see Figure10.2 below",
                "F i g u r e A.1",
                "TableA.1",
                "FİGURE 5a",
                "no caption — here",
            ]
        )
    }
    got, want = dict(chunk), dict(chunk)
    chunking.enrich_captions([got])
    enrich_captions_unfiltered([want])
    assert (got["figures"], got["tables"]) == (want["figures"], want["tables"])
    assert got["figures"] == ["10.2", "A.1", "5a"] and got["tables"] == ["3", "A.1"]


def _digest(corpus: list[dict]) -> str:
    h = hashlib.sha256()
    for doc in corpus:
        r = extract_document(doc["text"], doc_title=doc["url"])
        # a traceback carries file paths and line numbers; keep only
        # its final "Type: message" line
        if r["error"]:
            r["error"] = r["error"].strip().splitlines()[-1]
        h.update(json.dumps(r, sort_keys=True, ensure_ascii=False).encode())
    return h.hexdigest()


# extract_document over generate_corpus(120, seed=42): two mega-docs,
# 882 caption ids, 14 error docs; recorded with the unfiltered loop
SEED42_DIGEST = "9183cb9ef1146b7dbbee29c5491163728318558114a5ceb4ad766f833f193911"


def test_extract_document_seed42_unchanged(monkeypatch):
    """Every per-document output (toc, chunks with their caption lists,
    validation, metrics, status) on the seed-42 synthetic corpus is the
    one recorded before the prefilter, and the one the unfiltered loop
    still gives."""
    corpus = generate_corpus(120, seed=42)
    assert _digest(corpus) == SEED42_DIGEST
    monkeypatch.setattr(chunking, "enrich_captions", enrich_captions_unfiltered)
    assert _digest(corpus) == SEED42_DIGEST
