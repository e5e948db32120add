"""Chunk building: bounds, range-gather, cleaning, caption enrichment
(SURVEY §2.6 W4-W6, §2.3 F3, §2.5 E4, §2.2 K2).

Byte-identical to the reference chunker:
  - content-line filter         ↔ /root/reference/src/chunk.py:229-239
  - page-range line gather      ↔ /root/reference/src/chunk.py:241-253
  - ToC-driven bounds           ↔ /root/reference/src/chunk.py:292-307
  - heading-driven bounds       ↔ /root/reference/src/chunk.py:309-326
  - caption enrichment          ↔ /root/reference/src/chunk.py:278-290
  - JSONL export shape          ↔ /root/reference/src/chunk.py:328-351

Chunks are plain dicts in the *internal* model shape (section_path,
section_id, title, page_range "a,b", content, tables/figures as id
lists); `to_export_record` produces the golden per-url export schema
(start_heading, "Table <id>" strings, page_range [a, b]).

Reference quirks preserved:
  - captions are ordered lists with duplicates (chunk.py:287-290) —
    never sets;
  - a caption line yields a figure OR a table, figure tested first;
  - heading-driven bound sort key `int(p) for p in sid.split(".")`
    raises ValueError on appendix ids (chunk.py:318) — the error
    propagates to the per-document failure accounting upstream;
  - overlapping chunks re-use shared pages (same page contributes its
    lines to every chunk whose range covers it).
"""

from __future__ import annotations

import re

from .headings import detect_headings
from .text import (
    FIGURE_CAPTION,
    TABLE_CAPTION,
    clean_content,
    norm_caption_line,
    normalize_sentences,
)

_CAPTION_MENTION = re.compile(r"\b(Table|Figure)\b", re.IGNORECASE)
# cheap gate before norm_caption_line's seven substitutions: they only
# rewrite whitespace and dashes (never letters), so a normalized line
# can hold a Figure/Table caption only if the raw line spells the
# keyword with at most whitespace between its letters
_CAPTION_KEYWORD = re.compile(r"(?i)t\s*a\s*b\s*l\s*e|f\s*i\s*g\s*u\s*r\s*e")
_NUMBERED_HEADING_SHAPE = re.compile(r"^\d+(?:\.\d+)*\s+.+")
_BRAND_LINE = re.compile(
    r"Universal Serial Bus Power Delivery Specification", re.IGNORECASE
)
_PAGE_FOOTER = re.compile(r"^Page\s+\d+\s*$", re.I)


def keep_content_line(line: str) -> bool:
    """Per-line content filter. chunk.py:229-239.

    Caption mentions always survive; heading-shaped lines, brand
    running headers, and `Page N` footers are dropped.
    """
    s = line.strip()
    if _CAPTION_MENTION.search(s):
        return True
    if _NUMBERED_HEADING_SHAPE.match(s):
        return False
    if _BRAND_LINE.search(s):
        return False
    if _PAGE_FOOTER.match(s):
        return False
    return True


def _gather_lines(
    page_map: dict[int, str], pstart: int, pend: int, skip_pages: set[int]
) -> list[str]:
    """Filtered lines of pages [pstart, pend]. chunk.py:241-253.

    Spark-native analog: a range join pages⋈bounds on
    page_no BETWEEN pstart AND pend within url (SURVEY W6); kept
    imperative here because the whole document is already local to
    one extract_document call (the extraction mapInArrow pass).
    """
    lines: list[str] = []
    for p in range(pstart, pend + 1):
        if p in skip_pages:
            continue
        for line in page_map.get(p, "").splitlines():
            if keep_content_line(line):
                lines.append(line)
    return lines


def _assemble(lines: list[str], section_id: str, title: str, pstart: int, pend: int) -> dict:
    """Clean gathered lines into one chunk record. chunk.py:255-265."""
    return {
        "section_path": f"{section_id} {title}",
        "section_id": section_id,
        "title": title,
        "page_range": f"{pstart},{pend}",
        "content": clean_content("\n".join(lines)),
        "tables": [],
        "figures": [],
    }


def enrich_captions(chunks: list[dict]) -> None:
    """Fill ordered figure/table id lists from content lines.

    chunk.py:278-290. Order + duplicates preserved; figure match wins
    over table match per line.
    """
    for ch in chunks:
        ch["figures"] = []
        ch["tables"] = []
        if not ch["content"]:
            continue
        for line in ch["content"].splitlines():
            if not _CAPTION_KEYWORD.search(line):
                continue
            ln = norm_caption_line(line)
            m = FIGURE_CAPTION.search(ln)
            if m:
                ch["figures"].append(m.group(1))
                continue
            m = TABLE_CAPTION.search(ln)
            if m:
                ch["tables"].append(m.group(1))


def _chunks_from_bounds(
    bounds: list[tuple[int, int, str, str]],
    page_map: dict[int, str],
    skip_pages: set[int],
) -> list[dict]:
    """Gather → clean → enrich → sentence-normalize. chunk.py:267-276."""
    chunks = [
        _assemble(_gather_lines(page_map, pstart, pend, skip_pages), sec, title, pstart, pend)
        for pstart, pend, sec, title in bounds
    ]
    enrich_captions(chunks)
    for ch in chunks:
        ch["content"] = normalize_sentences(ch["content"])
    return chunks


def build_chunks_from_toc(
    pages: list[tuple[int, str]],
    toc_entries: list[dict],
    skip_pages: set[int] | None = None,
) -> list[dict]:
    """ToC-driven chunking: bounds via next entry's page - 1.

    chunk.py:292-307. Spark-native analog of the bound derivation:
    lead(page) over (partition by url order by page) - 1, coalesced to
    the document's last page, floored at pstart (SURVEY W4).
    """
    skip_pages = skip_pages or set()
    page_map = dict(pages)
    ordered = sorted(toc_entries, key=lambda e: e["page"])
    last_page = pages[-1][0] if pages else 0

    bounds: list[tuple[int, int, str, str]] = []
    for i, e in enumerate(ordered):
        pstart = e["page"]
        pend = ordered[i + 1]["page"] - 1 if i + 1 < len(ordered) else last_page
        bounds.append((pstart, max(pstart, pend), e["section_id"], e["title"]))

    return _chunks_from_bounds(bounds, page_map, skip_pages)


def build_chunks_from_headings(
    pages: list[tuple[int, str]],
    toc_ids: set[str] | None = None,
    skip_pages: set[int] | None = None,
    toc_map: dict[str, str] | None = None,
) -> list[dict]:
    """Heading-driven chunking when no ToC is available. chunk.py:309-326.

    Bound sort is by numeric section-id tuple then page (SURVEY W5);
    raises ValueError for appendix-lettered ids exactly like the
    reference (chunk.py:318).
    """
    skip_pages = skip_pages or set()
    heads = detect_headings(pages, toc_ids=toc_ids, skip_pages=skip_pages, toc_map=toc_map)
    if not heads:
        return []

    last_page = pages[-1][0]
    heads_sorted = sorted(
        heads, key=lambda h: (tuple(int(p) for p in h[1].split(".")), h[0])
    )

    bounds: list[tuple[int, int, str, str]] = []
    for i, (page_no, sec, title) in enumerate(heads_sorted):
        next_start = heads_sorted[i + 1][0] if i + 1 < len(heads_sorted) else last_page + 1
        bounds.append((page_no, next_start - 1, sec, title))

    return _chunks_from_bounds(bounds, dict(pages), skip_pages)


def to_export_record(chunk: dict) -> dict:
    """Internal chunk dict → golden JSONL export shape. chunk.py:328-351."""
    try:
        parts = [p.strip() for p in (chunk["page_range"] or "").split(",") if p.strip()]
        page_range = [int(x) for x in parts] if parts else []
    except Exception:
        page_range = []
    return {
        "section_path": chunk["section_path"],
        "start_heading": f"{chunk['section_id']} {chunk['title']}",
        "content": chunk["content"],
        "tables": [f"Table {t}" for t in (chunk["tables"] or [])],
        "figures": [f"Figure {f}" for f in (chunk["figures"] or [])],
        "page_range": page_range,
    }
