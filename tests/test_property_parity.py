"""Property-based parity: native column expressions vs the byte-parity
core, on adversarial generated strings (hypothesis).

The native exprs (functions/normalize.py, operators/chunk_native.py)
promise byte-equality with core/text.py, which itself golden-matches
the reference. Random unicode (ligatures, NBSPs, dashes, dot leaders,
digits, controls) hunts the corner cases fixed examples miss.

Strategy note: one Spark round-trip per example would be minutes; each
property instead collects a BATCH of examples into one DataFrame pass.

The four fuzz tests against the reference skip without its checkout.
Each has a fixture twin that replays a frozen sample of its strategy's
inputs against the outputs this engine gave on them (it matched the
reference there); `python tests/test_property_parity.py` rewrites the
fixtures:

  test_toc_parser_fuzz_matches_reference        → test_toc_parser_frozen_cases
  test_heading_extractor_fuzz_matches_reference → test_heading_extractor_frozen_cases
  test_clean_content_fuzz_matches_reference     → test_clean_content_frozen_cases
  test_matcher_fuzz_matches_reference           → test_matcher_frozen_cases
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st

# deterministic examples: the driver's per-round gate must not flake on
# a freshly-drawn corner case — widen coverage by raising max_examples,
# not by per-run randomness
settings.register_profile("gate", derandomize=True)
settings.load_profile("gate")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from conftest import REFERENCE_ROOT

from pdf_parser_spark.core import matching, text as core_text
from pdf_parser_spark.core.headings import extract_heading
from pdf_parser_spark.core.toc import parse_toc_lines

GOLDEN = Path(__file__).parent / "golden"
NO_REFERENCE = pytest.mark.skipif(
    not Path(REFERENCE_ROOT).exists(), reason="reference checkout unavailable"
)

ADVERSARIAL_ALPHABET = (
    "abcdefgXYZ0123456789 .·•․…\t  ‐‑–—−ﬁﬂﬀTtable Figure-_/\\\"'\n()[]"
)

line_strategy = st.text(alphabet=ADVERSARIAL_ALPHABET, min_size=0, max_size=80)


@settings(max_examples=300, deadline=None)
@given(st.lists(line_strategy, min_size=1, max_size=40))
def test_normalize_pure_functions_total(lines):
    """Core scalars are total (never raise) and idempotent where the
    reference contract implies it."""
    for s in lines:
        n = core_text.normalize_text(s)
        assert core_text.normalize_text(n) == n  # idempotent after first pass
        core_text.strip_dot_leaders(s)
        core_text.norm_caption_line(s)
        core_text.clean_heading_title(s)
        core_text.clean_content(s)
        core_text.normalize_sentences(s)
        core_text.norm_id(s)
        extract_heading(s)  # may return None; must not raise


def _batch_compare(spark, lines, native_col_fn, core_fn):
    from pyspark.sql import Row, functions as F

    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(lines)])
    got = {
        r["i"]: r["n"]
        for r in df.select("i", native_col_fn(F.col("s")).alias("n")).collect()
    }
    for i, s in enumerate(lines):
        assert got[i] == core_fn(s), repr(s)


def test_native_normalize_matches_core_on_generated_batch(spark):
    from pdf_parser_spark.functions.normalize import (
        normalize_text_native,
        strip_dot_leaders_native,
    )

    # deterministic adversarial corpus (cartesian seed pairs), single
    # Spark pass — per-example round-trips would take minutes
    seeds = [
        "ﬁx this — now", "a\tb  c", "…·•", "T a b l e 5.1", ".....", "x" * 80,
        "—‐‑–−", "  ", "1.2.3 Title .... 45", "ﬂﬀ mixed ﬁ", "", " ",
        "Page 12", "a.b.c.d", ".. . .. . ..", "title .·• 99", "-\n-", 'say \\"hi\\"',
    ]
    lines = [a + b for a in seeds for b in seeds][:300]
    _batch_compare(
        spark,
        lines,
        lambda c: normalize_text_native(c),
        core_text.normalize_text,
    )
    _batch_compare(
        spark,
        lines,
        lambda c: strip_dot_leaders_native(c),
        core_text.strip_dot_leaders,
    )


def test_native_caption_norm_matches_core_on_generated_batch(spark):
    from pdf_parser_spark.operators.chunk_native import norm_caption_line_native

    seeds = [
        "T a b l e 5.1 x", "F i g u r e 2-3", "Table5.4", "Figure A.1.2b end",
        "table  9", "TABLE 7.7", "ﬁgure 1", "Table 3.3", "Figure –4",
        " T a b l e ", "FigureX", "Table .", "", "no captions",
    ]
    lines = [a + " " + b for a in seeds for b in seeds][:196]
    _batch_compare(spark, lines, norm_caption_line_native, core_text.norm_caption_line)


# --- full-parser fuzz vs the importable reference ---------------------

toc_component = st.one_of(
    st.from_regex(r"[0-9]{1,3}(\.[0-9]{1,2}){0,3}", fullmatch=True),   # numeric sids
    st.from_regex(r"[A-Z](\.[0-9]{1,2}){0,2}", fullmatch=True),        # appendix sids
    st.text(alphabet="abcXYZ 019.·•…ﬁ–  \t", min_size=0, max_size=12),  # junk
)
toc_title = st.text(alphabet="abc XYZ01.ﬁ–·—  ", min_size=0, max_size=24)
toc_leader = st.sampled_from(["", " ", " ... ", " " + "." * 9 + " ", " · · · ", "\t"])
toc_page = st.one_of(st.integers(min_value=0, max_value=99999), st.just(""))

toc_line = st.builds(
    lambda sid, t, lead, p: f"{sid} {t}{lead}{p}",
    toc_component, toc_title, toc_leader, toc_page,
)
toc_noise = st.sampled_from([
    "Table Of Contents", "List of Figures", "list of tables 9",
    "a b c d e f g h 12", "", "   ", "…", "9.9 Broken row 0",
])


toc_lines = st.lists(st.one_of(toc_line, toc_noise), min_size=0, max_size=25)


@NO_REFERENCE
@settings(max_examples=200, deadline=None)
@given(toc_lines)
def test_toc_parser_fuzz_matches_reference(ref, lines):
    """core.toc.parse_toc_lines must equal the reference parser on
    arbitrary ToC-shaped input (incl. the []-on-any-error catch-all,
    parent repair, and appendix-aware sort)."""
    ours = parse_toc_lines(lines, doc_title="fuzz")
    theirs = [e.model_dump() for e in ref.toc.parse_toc_lines(lines, doc_title="fuzz")]
    assert ours == theirs, lines


heading_line = st.one_of(
    st.builds(lambda sid, t: f"{sid} {t}", toc_component, toc_title),
    st.sampled_from([
        "Page 12", "7 4711", "3 ab", "0 zero", "4 0101 run",
        "2 Universal Serial Bus Power Delivery Specification",
        "5 Power .... 99", "1.2.3 State Machines", "A.1 Cable Assemblies",
    ]),
    line_strategy,
)


heading_lines = st.lists(heading_line, min_size=0, max_size=20)


@NO_REFERENCE
@settings(max_examples=200, deadline=None)
@given(heading_lines)
def test_heading_extractor_fuzz_matches_reference(ref, lines):
    """core.headings.extract_heading ≡ the reference detector (grammar,
    title clean, every noise rule incl. the num=title quirk)."""
    detector = ref.chunk.HeadingDetector(ref.chunk.Cleaner())
    for line in lines:
        ours = extract_heading(line)
        theirs = detector.extract_heading(line, toc_ids=None, toc_map=None)
        assert ours == theirs, repr(line)


content_text = st.lists(line_strategy, min_size=0, max_size=12).map("\n".join)


@NO_REFERENCE
@settings(max_examples=250, deadline=None)
@given(content_text)
def test_clean_content_fuzz_matches_reference(ref, text):
    """N4's replacement ORDER is the byte contract (SURVEY §7 hard-part
    a) — fuzz the whole chain against the reference Cleaner, including
    hyphen-wrap joins across line boundaries."""
    cleaner = ref.chunk.Cleaner()
    assert core_text.clean_content(text) == cleaner.clean_content(text), repr(text)
    assert core_text.normalize_sentences(text) == cleaner.normalize_sentences(text), repr(text)


# --- matcher fuzz vs the reference Validator --------------------------

sid_strategy = st.one_of(
    st.from_regex(r"[0-9]{1,2}(\.[0-9]{1,2}){0,2}", fullmatch=True),
    st.from_regex(r"[A-Z](\.[0-9]{1,2}){0,1}", fullmatch=True),
)
short_title = st.text(alphabet="abc XYZ01ﬁ–.", min_size=1, max_size=16)


@st.composite
def matcher_case(draw):
    sids = draw(st.lists(sid_strategy, min_size=0, max_size=10, unique=True))
    toc = [
        {
            "doc_title": "d", "section_id": s, "title": draw(short_title),
            "page": draw(st.integers(1, 40)), "level": s.count(".") + 1,
            "parent_id": None, "full_path": f"{s} t",
        }
        for s in sids
    ]
    # chunks: a mangled subset of the toc (drops, dupes, strays)
    chunks = []
    for t in toc:
        if draw(st.booleans()):
            title = t["title"] if draw(st.booleans()) else draw(short_title)
            chunks.append(
                {
                    "section_path": f"{t['section_id']} {title}",
                    "start_heading": f"{t['section_id']} {title}",
                    "content": draw(short_title),
                    "tables": [], "figures": [],
                    "page_range": [t["page"], t["page"] + 1],
                }
            )
    if draw(st.booleans()):
        chunks.append(
            {
                "section_path": "99 stray", "start_heading": "99 stray",
                "content": "stray", "tables": ["Table 9"], "figures": [],
                "page_range": [1, 2],
            }
        )
    return toc, chunks


@NO_REFERENCE
@settings(max_examples=120, deadline=None)
@given(matcher_case())
def test_matcher_fuzz_matches_reference(ref, tmp_path_factory, case):
    """core matching (J1-J5 exact + greedy fuzzy + W7 order check) ≡
    the reference Validator, fed through the same JSONL load path."""
    toc, chunks = case
    work = tmp_path_factory.mktemp("m")
    (work / "toc.jsonl").write_text(
        "\n".join(json.dumps(t, ensure_ascii=False) for t in toc)
    )
    (work / "chunks.jsonl").write_text(
        "\n".join(json.dumps(c, ensure_ascii=False) for c in chunks)
    )

    validator = ref.validate.Validator()
    toc_v = validator.load_toc(str(work / "toc.jsonl"))
    chunks_v = validator.load_chunks(str(work / "chunks.jsonl"))
    missing, extra, ooo, matched = validator.match_sections(toc_v, chunks_v)

    ours = _matcher_report((toc, chunks))
    assert ours["missing_sections"] == missing, (toc, chunks)
    assert ours["extra_sections"] == extra
    assert ours["out_of_order_sections"] == ooo
    assert ours["matched_sections"] == matched
    assert ours["toc_section_count"] == len(toc_v)
    assert ours["parsed_section_count"] == len(chunks_v)


# --- fixture twins of the reference fuzz tests ------------------------


def _matcher_report(case):
    toc, chunks = case
    return matching.validation_report(
        matching.load_toc_records(toc),
        [matching.coerce_chunk_record(c) for c in chunks],
        fuzzy_threshold=0.90,
        prefer_section_id=True,
    )


# fixture → (strategy, examples frozen, the engine function it pins)
FROZEN = {
    "property_toc_cases.jsonl": (
        toc_lines, 200, lambda lines: parse_toc_lines(lines, doc_title="fuzz")
    ),
    "property_heading_cases.jsonl": (
        heading_lines, 200, lambda lines: [extract_heading(line) for line in lines]
    ),
    "property_clean_content_cases.jsonl": (
        content_text,
        250,
        lambda text: [core_text.clean_content(text), core_text.normalize_sentences(text)],
    ),
    "property_matcher_cases.jsonl": (matcher_case(), 120, _matcher_report),
}


def _replay(name: str) -> None:
    _, n, fn = FROZEN[name]
    lines = (GOLDEN / name).read_text(encoding="utf-8").splitlines()
    assert len(lines) == n
    for line in lines:
        case = json.loads(line)
        assert json.loads(json.dumps(fn(case["input"]))) == case["output"], case["input"]


def test_toc_parser_frozen_cases():
    _replay("property_toc_cases.jsonl")


def test_heading_extractor_frozen_cases():
    _replay("property_heading_cases.jsonl")


def test_clean_content_frozen_cases():
    _replay("property_clean_content_cases.jsonl")


def test_matcher_frozen_cases():
    _replay("property_matcher_cases.jsonl")


def _freeze() -> None:
    """Draw each strategy's first `n` derandomized examples and write
    them with this engine's outputs."""
    from hypothesis import Phase

    for name, (strategy, n, fn) in FROZEN.items():
        drawn = []

        @settings(max_examples=n, derandomize=True, database=None, deadline=None,
                  phases=[Phase.generate])
        @given(strategy)
        def draw(example):
            drawn.append(example)

        draw()
        assert len(drawn) == n, (name, len(drawn))
        (GOLDEN / name).write_text(
            "".join(
                json.dumps({"input": x, "output": fn(x)}, ensure_ascii=False) + "\n"
                for x in drawn
            ),
            encoding="utf-8",
        )


if __name__ == "__main__":
    _freeze()
