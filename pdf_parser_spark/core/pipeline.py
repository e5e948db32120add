"""Whole-document extraction pipeline (SURVEY §3: orchestrate.run_all).

One call = the reference's full per-document lifecycle:
  toc stage    ↔ /root/reference/src/run.py:62-97   (TocCommand.run)
  chunk stage  ↔ /root/reference/src/run.py:127-169 (ChunkCommand.run)
  validation   ↔ /root/reference/orchestrate.py:395-422
  metrics      ↔ metrics.pyc compute_metrics

This function is the unit of work executed per url inside the
extraction mapInArrow pass (operators/extract.py) — the whole
lifecycle stays document-local, so stages need zero extra shuffles and
the reference's sequential semantics (greedy fuzzy match, ordered
caption lists) hold exactly. Per-document exceptions are captured into the result status
(never raised) for parse-failure accounting per partition.

Stage coupling note: chunking consumes the *validator-cleaned* ToC
(titles deep-cleaned, no-alpha rows dropped, rows inside the ToC page
range removed), because the reference's chunk CLI re-loads the ToC
JSONL through Validator.load_toc (run.py:141-152), not the raw parse.
"""

from __future__ import annotations

import traceback

from . import chunking, doc_metrics, matching, pages, toc

# every value extract_document puts in "status"
STATUSES = ("ok", "empty", "no_toc", "error")


def extract_document(
    text: str | None,
    doc_title: str,
    min_dots: int = 0,
    strip_dots: bool = False,
    fuzzy_threshold: float = 0.90,
    prefer_section_id: bool = True,
) -> dict:
    """Run the full reference pipeline on one document's page text.

    Returns a dict:
      status        "ok" | "empty" | "no_toc" | "error"
      error         traceback string when status == "error"
      toc           list of ToC row dicts (golden output #1)
      chunks        list of export chunk records (golden output #2)
      validation    ValidationReport dict
      metrics       compute_metrics dict
      toc_start/toc_end   detected ToC page range (or None)
      n_pages       page count
    """
    result: dict = {
        "status": "ok",
        "error": None,
        "toc": [],
        "chunks": [],
        "validation": None,
        "metrics": None,
        "toc_start": None,
        "toc_end": None,
        "n_pages": 0,
    }
    try:
        doc_pages = pages.split_pages(text)
        result["n_pages"] = len(doc_pages)
        if not doc_pages:
            result["status"] = "empty"
            return result

        rng = pages.autodetect_toc_range(doc_pages)
        toc_records: list[dict] = []
        if rng:
            result["toc_start"], result["toc_end"] = rng
            toc_lines = pages.page_lines(doc_pages, rng[0], rng[1])
            toc_records = toc.parse_toc_lines(
                toc_lines, doc_title=doc_title, min_dots=min_dots, strip_dots=strip_dots
            )
        result["toc"] = toc_records

        # the reference loads the ToC through the validator cleaner
        # twice (the chunk CLI, run.py:139-152, and the report path);
        # the cleaned rows are never mutated, so clean once and share.
        # The chunk stage also drops rows inside the ToC page range.
        skip_pages = set(range(rng[0], rng[1] + 1)) if rng else set()
        toc_clean = matching.load_toc_records(toc_records)
        toc_loaded = [e for e in toc_clean if e["page"] > rng[1]] if rng else toc_clean

        if toc_loaded:
            chunks = chunking.build_chunks_from_toc(doc_pages, toc_loaded, skip_pages=skip_pages)
        else:
            chunks = chunking.build_chunks_from_headings(doc_pages, skip_pages=skip_pages)
        exports = [chunking.to_export_record(c) for c in chunks]
        result["chunks"] = exports
        if not rng:
            result["status"] = "no_toc"

        # validation + metrics compare what the report path loads back
        # from both sinks (orchestrate.py:395-422): the cleaned ToC
        # (all rows, the ToC-range filter is the chunk stage's only)
        # vs the export records coerced back to chunks
        chunks_for_val = [matching.coerce_chunk_record(r) for r in exports]
        result["validation"] = matching.validation_report(
            toc_clean,
            chunks_for_val,
            fuzzy_threshold=fuzzy_threshold,
            prefer_section_id=prefer_section_id,
        )
        result["metrics"] = doc_metrics.compute_metrics(toc_clean, chunks_for_val)
        return result
    except Exception:
        result["status"] = "error"
        result["error"] = traceback.format_exc(limit=8)
        return result
