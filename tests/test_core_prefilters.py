"""Differential checks for the per-document core's skipped work.

core/text.clean_content and normalize_text skip a substitution when the
input lacks a literal its pattern needs, and core/matching.match_sections
cleans each distinct title once per call and skips fuzzy candidates
whose difflib upper bound (real_quick_ratio, quick_ratio) cannot reach
the threshold or beat the best score so far. All of it is optimisation
only: each function must equal the unguarded version kept below as the
reference, on inputs built to hit every guard's edge.
"""

from __future__ import annotations

import sys
from difflib import SequenceMatcher
from pathlib import Path

from hypothesis import example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.core import matching, text
from pdf_parser_spark.core.matching import clean_toc_title, match_sections
from pdf_parser_spark.core.text import clean_content, norm_id, normalize_text


def normalize_text_unguarded(s: str) -> str:
    if not s:
        return ""
    s = text._NBSP.sub(" ", s)
    s = text._DASHES.sub("-", s)
    for src, dst in text._LIGATURE_FOLD:
        s = s.replace(src, dst)
    s = text._HSPACE_RUN.sub(" ", s)
    return s.strip()


def clean_content_unguarded(t: str) -> str:
    if not t:
        return ""
    for glyph in text.BULLET_GLYPHS:
        t = t.replace(glyph, "- ")
    t = text._HYPHEN_WRAP_LOWER.sub(r"\1\2", t)
    t = text._DASH_WRAP_ANY.sub(r"\1 \2", t)
    t = t.replace('\\"', '"').replace("\\'", "'")
    t = text._LONE_SLASH.sub("", t)
    t = text._CAMEL_BOUNDARY.sub(r"\1 \2", t)
    t = text._QUOTED_SPAN.sub(r' "\1" ', t)
    kept: list[str] = []
    for line in t.splitlines():
        ln = line.rstrip()
        ln = text._LEADER_RUN_THEN_PAGE.sub("", ln)
        ln = text._LEADER_RUN.sub(" ", ln)
        ln = text._SPACE_RUN.sub(" ", ln).strip()
        if ln:
            kept.append(ln)
    return "\n".join(kept).strip()


def match_sections_unguarded(toc, chunks, fuzzy_threshold=0.90, prefer_section_id=True):
    """The greedy matcher as it was: every title cleaned at every use,
    every unclaimed candidate scored with a fresh SequenceMatcher."""
    chunk_by_id = {
        norm_id(c["section_id"]): i for i, c in enumerate(chunks) if c.get("section_id")
    }
    chunk_titles = [(i, clean_toc_title(c.get("title") or "").lower()) for i, c in enumerate(chunks)]
    used: set[int] = set()
    matched_labels, matched_idx, missing_labels = [], [], []
    for t in toc:
        tid = norm_id(t["section_id"])
        title_clean = clean_toc_title(t.get("title") or "")
        found = None
        if prefer_section_id and tid in chunk_by_id and chunk_by_id[tid] not in used:
            found = chunk_by_id[tid]
        else:
            probe = title_clean.lower()
            best_i, best_score = None, 0.0
            for i, ltitle in chunk_titles:
                if i in used:
                    continue
                score = SequenceMatcher(None, probe, ltitle).ratio()
                if score > best_score:
                    best_i, best_score = i, score
            if best_i is not None and best_score >= fuzzy_threshold:
                found = best_i
        if found is not None:
            used.add(found)
            matched_labels.append(f"{t['section_id']} {title_clean}")
            matched_idx.append(found)
        else:
            missing_labels.append(f"{t['section_id']} {title_clean}")
            matched_idx.append(None)
    extra_labels = [
        f"{c.get('section_id')} {clean_toc_title(c.get('title') or '')}"
        for i, c in enumerate(chunks)
        if i not in used
    ]
    out_of_order, last = [], -1
    for label, ci in zip(matched_labels, matched_idx):
        if ci is not None:
            if ci < last:
                out_of_order.append(label)
            else:
                last = ci
    return missing_labels, extra_labels, out_of_order, matched_labels


# --- text: every guard's literal and its near misses ----------------------

# all str.splitlines separators, \x1f (whitespace to `\s` but not a line
# break), the folded spaces, the six unicode dashes, the ligatures and
# bullets, leader characters, quotes, slashes and camelCase material
_TOKENS = [
    "\n", "\r", "\r\n", "\v", "\f", "\x1c", "\x1d", "\x1e", "\x85", "\u2028", "\u2029",
    "\x1f", " ", "  ", "\t", "\u00a0", "\u202f",
    "\u2010", "\u2011", "\u2012", "\u2013", "\u2014", "\u2212", "-", "-\n", "\u2014\n",
    "\ufb01", "\ufb02", "\ufb00", "\ufb03", "\ufb04", "\u25cf", "\u25aa",
    ".", "..", "...", "\u00b7", "\u2022", ". .", " . ", "\u00b7\u2022",
    '"', '\\"', "'", "\\'", "/", " / ", "a/b",
    "a", "b", "Z", "aB", "9C", "word", "x", "1", "12", "\u00e9",
]
_TEXT = st.one_of(
    st.lists(st.sampled_from(_TOKENS), max_size=24).map("".join),
    st.text(alphabet=st.sampled_from("".join(_TOKENS)), max_size=24),
)


@settings(max_examples=1500, deadline=None)
@given(s=_TEXT)
@example(s="Intro .. 12")  # two leader dots: the prefilter's lower edge
@example(s="a\x1f b")  # \x1f + space is a run to collapse on an ASCII line
@example(s="a\u00a0 b\u2028c\t\td")
def test_clean_content_matches_unguarded(s):
    assert clean_content(s) == clean_content_unguarded(s)


@settings(max_examples=1500, deadline=None)
@given(s=_TEXT)
@example(s="a\tb")
@example(s="\ufb01x\u2014y\u00a0 z")
def test_normalize_text_matches_unguarded(s):
    assert normalize_text(s) == normalize_text_unguarded(s)


def test_guard_edges_are_live():
    """The hand-picked edge cases really change under the pass they
    guard, so the differential above is not vacuous."""
    assert clean_content_unguarded("Intro .. 12") == "Intro"
    assert clean_content_unguarded("a\x1f b") == "a b"
    assert normalize_text_unguarded("a\tb") == "a b"


# --- matching: near-duplicate titles and exact threshold ties -------------

# "abcdefghij" vs "abcdefghix" scores exactly 2*9/20 = 0.9, and its
# quick_ratio is 0.9 too: a non-strict bound would skip the match
_TITLES = [
    "abcdefghij", "abcdefghix", "abcdefghjj", "abcde fghij",
    "Power Supply", "Power Supplies", "power supply.", "Power  Supply",
    "Cable Assembly", "Cable Assemblies", "Cable Assemby",
    "Introduction", "Introductions", "Intro", "Overview",
    "2.1 Power Supply", "Power Supply ........ 12", "Power\u00a0Supply",
    "Universal Serial Bus Power Delivery Specification Revision 3.2 Overview",
    "", "a", "ab",
]
_IDS = ["1", "1.1", "2", "2.1", "2\u20111", "A.1", "", "3.4.5"]


@st.composite
def _toc_and_chunks(draw):
    def rows(n_max):
        return draw(
            st.lists(
                st.fixed_dictionaries(
                    {"section_id": st.sampled_from(_IDS), "title": st.sampled_from(_TITLES)}
                ),
                max_size=n_max,
            )
        )

    return rows(8), rows(10)


@settings(max_examples=600, deadline=None)
@given(
    data=_toc_and_chunks(),
    threshold=st.sampled_from([0.9, 0.0, 0.5, 0.8, 0.95, 1.0, 0.9090909090909091]),
    prefer_section_id=st.booleans(),
)
@example(
    data=([{"section_id": "1", "title": "abcdefghij"}], [{"section_id": "2", "title": "abcdefghix"}]),
    threshold=0.9,
    prefer_section_id=True,
)
def test_match_sections_matches_unguarded(data, threshold, prefer_section_id):
    toc, chunks = data
    kw = {"fuzzy_threshold": threshold, "prefer_section_id": prefer_section_id}
    assert match_sections(toc, chunks, **kw) == match_sections_unguarded(toc, chunks, **kw)


def test_fuzzy_tie_at_threshold_matches_first_best():
    """A score exactly at the threshold matches, and of two candidates
    with the same best score the first one wins."""
    toc = [{"section_id": "9", "title": "abcdefghij"}]
    chunks = [
        {"section_id": "1", "title": "Overview"},
        {"section_id": "2", "title": "abcdefghix"},
        {"section_id": "3", "title": "abcdefghix"},
    ]
    got = match_sections(toc, chunks, fuzzy_threshold=0.9)
    assert got == match_sections_unguarded(toc, chunks, fuzzy_threshold=0.9)
    assert got[3] == ["9 abcdefghij"]
    assert got[1] == ["1 Overview", "3 abcdefghix"]


def test_titles_cleaned_once_per_call(monkeypatch):
    """Each distinct title is cleaned once within a call, and again in
    the next call: no cache outlives the document."""
    calls: list[str] = []
    real = matching.clean_toc_title

    def counting(title):
        calls.append(title)
        return real(title)

    monkeypatch.setattr(matching, "clean_toc_title", counting)
    toc = [{"section_id": "1", "title": "Power Supply"}, {"section_id": "2", "title": "Intro"}]
    chunks = [{"section_id": "1", "title": "Power Supply"}, {"section_id": "5", "title": "Intro"}]
    match_sections(toc, chunks)
    assert sorted(calls) == ["Intro", "Power Supply"]
    match_sections(toc, chunks)
    assert len(calls) == 4
