"""End-to-end golden parity: extract_document vs the reference pipeline
replayed per document on the synthetic corpus (SURVEY §5 item 2).

The reference flow (run.py TocCommand + ChunkCommand + orchestrate's
validation) is reconstructed from the reference's own modules — autodetect
uses the reference regex/normalizer primitives (the pdfplumber wrapper is
unavailable without PDFs, but the page-scan loop of utils.py:119-162 is
replayed verbatim over the same page list). Golden outputs flow through
real JSONL files exactly like the reference CLI, then both sides are
compared byte-for-byte per url.

Metrics parity is covered separately: compute_metrics only survives as
cpython-312 bytecode, executed under the pinned 3.12 interpreter in
test_metrics_subprocess.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from conftest import REFERENCE_ROOT

from pdf_parser_spark.core.pipeline import extract_document
from pdf_parser_spark.sources.synth import generate_corpus

N_DOCS = 60
SEED = 42


def _reference_autodetect(ref, pages):
    """Replay utils.py:119-162 over an in-memory page list."""
    utils = ref.utils.PDFUtils()
    n = len(pages)
    start = None
    for i in range(min(n, 30)):
        if utils.TOC_START_PAT.search(utils.normalize_text(pages[i][1])):
            start = i + 1
            break
    if start is None:
        return None
    end = None
    for p in range(start + 1, min(start + 12, n) + 1):
        if utils.LIST_STOP_PAT.search(utils.normalize_text(pages[p - 1][1])):
            end = p - 1
            break
    if end is None:
        end = min(start + 7, n)
    return start, end


def reference_extract(ref, text, doc_title, workdir):
    """Replay the reference per-document pipeline; mirror of
    pdf_parser_spark.core.pipeline.extract_document's result shape."""
    out = {
        "status": "ok",
        "toc": [],
        "chunks": [],
        "validation": None,
        "toc_range": None,
    }
    try:
        pages = list(enumerate(text.split("\f"), start=1)) if text else []
        if not pages:
            out["status"] = "empty"
            return out
        rng = _reference_autodetect(ref, pages)
        out["toc_range"] = rng

        toc_path = workdir / "toc.jsonl"
        entries = []
        if rng:
            lines = []
            for _, page_text in pages[max(1, rng[0]) - 1 : min(rng[1], len(pages))]:
                lines.extend(page_text.splitlines())
            entries = ref.toc.parse_toc_lines(lines, doc_title=doc_title)
        ref.toc.write_jsonl(entries, str(toc_path))
        out["toc"] = [json.loads(l) for l in toc_path.read_text().splitlines() if l]

        # ChunkCommand.run (run.py:127-169)
        validator = ref.validate.Validator()
        skip = set(range(rng[0], rng[1] + 1)) if rng else set()
        toc_loaded = validator.load_toc(str(toc_path))
        if rng:
            toc_loaded = [e for e in toc_loaded if e.page > rng[1]]
        if toc_loaded:
            chunks = ref.chunk.build_chunks_from_toc(pages, toc_loaded, skip_pages=skip)
        else:
            chunks = ref.chunk.build_chunks(pages, toc_ids=None, skip_pages=skip, toc_map=None)
        chunks_path = workdir / "chunks.jsonl"
        ref.chunk.write_jsonl(chunks, str(chunks_path))
        out["chunks"] = [json.loads(l) for l in chunks_path.read_text().splitlines() if l]
        if not rng:
            out["status"] = "no_toc"

        # validation (orchestrate.py:395-422)
        toc_v = validator.load_toc(str(toc_path))
        chunks_v = validator.load_chunks(str(chunks_path))
        missing, extra, ooo, matched = validator.match_sections(toc_v, chunks_v)
        out["validation"] = {
            "toc_section_count": len(toc_v),
            "parsed_section_count": len(chunks_v),
            "missing_sections": missing,
            "extra_sections": extra,
            "out_of_order_sections": ooo,
            "matched_sections": matched,
        }
        return out
    except Exception:
        out["status"] = "error"
        return out


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=SEED)


# Without the reference checkout, tests/test_extract_golden.py pins the
# digests of these same documents: generate_corpus(120, seed) for both
# seeds begins with this test's corpus.
@pytest.mark.skipif(not Path(REFERENCE_ROOT).exists(), reason="reference checkout unavailable")
@pytest.mark.parametrize("seed", [SEED, 7])
def test_golden_byte_identity(ref, tmp_path, seed):
    """Per url: toc rows, chunk exports (content bytes!), validation.

    Two seeds: distinct branch mixes (appendix presence, dropped
    parents, heading-driven docs, mega-doc pagination) per corpus.
    """
    corpus = generate_corpus(N_DOCS, seed=seed)
    statuses = {}
    for i, doc in enumerate(corpus):
        workdir = tmp_path / f"doc{i}"
        workdir.mkdir()
        expected = reference_extract(ref, doc["text"], doc["url"], workdir)
        got = extract_document(doc["text"], doc_title=doc["url"])

        assert got["status"] == expected["status"], (doc["url"], got["error"])
        statuses[got["status"]] = statuses.get(got["status"], 0) + 1
        if expected["status"] == "error":
            continue
        assert got["toc"] == expected["toc"], doc["url"]
        assert got["chunks"] == expected["chunks"], doc["url"]
        assert got["validation"] == expected["validation"], doc["url"]

    # the corpus must actually exercise every path
    assert statuses.get("ok", 0) >= N_DOCS // 2, statuses
    assert "no_toc" in statuses or "error" in statuses or "empty" in statuses, statuses


def test_corpus_shape(corpus):
    """Generator covers the adversarial families FIXTURES.md promises."""
    text_all = "\f".join(d["text"] for d in corpus)
    assert "ﬁ" in text_all or "ﬂ" in text_all  # ligatures
    assert "–" in text_all or "—" in text_all  # unicode dashes
    assert "Table Of Contents" in text_all
    assert "List of Figures" in text_all
    assert any(len(d["text"]) < 100 for d in corpus)  # near-empty/malformed
    sizes = sorted(len(d["text"]) for d in corpus)
    assert sizes[-1] > 20 * sizes[len(sizes) // 2]  # mega-doc skew present
    urls = [d["url"] for d in corpus]
    assert len(set(urls)) == len(urls)


def test_toc_driven_chunking_invariant():
    """A clean ToC-driven doc matches 299/299-style: 0 missing, 0 extra,
    0 out-of-order (reference log invariant, PDF_Parser.log:26)."""
    toc_lines = [
        "Table Of Contents",
        "1 Introduction ....... 4",
        "1.1 Scope ....... 4",
        "2 Overview ....... 5",
        "2.1 Power Rules ....... 6",
    ]
    pages = [
        "Title Page",
        "\n".join(toc_lines),
        "List of Figures",
        "1 Introduction\nSome intro words here.\n1.1 Scope\nScope words.",
        "2 Overview\nOverview body text.",
        "2.1 Power Rules\nRules body text.",
    ]
    got = extract_document("\f".join(pages), doc_title="clean-doc")
    assert got["status"] == "ok"
    v = got["validation"]
    assert v["missing_sections"] == []
    assert v["extra_sections"] == []
    assert v["out_of_order_sections"] == []
    assert len(v["matched_sections"]) == v["toc_section_count"] == 4
