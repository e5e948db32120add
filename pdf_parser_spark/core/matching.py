"""ToC↔chunk section matching + validation report (SURVEY §2.7 J1-J5, §2.6 W7).

Byte-identical to the reference validator:
  - ToC title deep-clean        ↔ /root/reference/src/validate.py:260-280
  - export-record coercion      ↔ /root/reference/src/validate.py:204-258
  - noisy-chunk heuristic       ↔ /root/reference/src/validate.py:282-295
  - greedy match loop           ↔ /root/reference/src/validate.py:297-383
  - fuzzy ratio                 ↔ /root/reference/src/validate.py:86-93

The greedy fuzzy phase is *stateful and sequential* (earlier ToC rows
consume chunks) — in Spark it must stay whole-document inside one
per-document call (extraction's mapInArrow, or the per-url cogroup
in operators/validate_dist.py); a cross-join + row_number
approximation is NOT order-equivalent (SURVEY J3).

Fuzzy scores use difflib.SequenceMatcher(None, toc_title,
chunk_title).ratio(), the reference's fallback when
python-Levenshtein is absent (validate.py:86-93); this engine
standardizes on it for determinism. The matcher is not symmetric, so
the argument order is part of the contract.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher

from .text import norm_id, normalize_text, strip_dot_leaders

# caption-string id grammar used during legacy coercion (validate.py:21-24)
_ID_SEP = r"[.\-‐‑‒–—−]"
_ID_BODY = rf"(?:[A-Z]{{1,3}}{_ID_SEP})?\d+(?:{_ID_SEP}\d+)*(?:[a-z])?"
TABLE_ID_IN_STRING = re.compile(rf"(?i)\btable\s+({_ID_BODY})\b")
FIGURE_ID_IN_STRING = re.compile(rf"(?i)\bfigure\s+({_ID_BODY})\b")

# footer / brand noise (validate.py:26-40)
_FOOTER_BRAND = re.compile(
    r"Universal\s+Serial\s+Bus\s+Power\s+Delivery\s+Specification.*?(Revision|Version).*$",
    re.IGNORECASE,
)
_FOOTER_PAGE = re.compile(r"\bPage\s*\d+\b", re.IGNORECASE)
_FUZZY_BRAND = re.compile(
    r"U[\s.\-]*n[\s.\-]*i[\s.\-]*v[\s.\-]*e[\s.\-]*r[\s.\-]*s[\s.\-]*a"
    r"[\s.\-]+S[\s.\-]*e[\s.\-]*r[\s.\-]*i[\s.\-]*a[\s.\-]*l"
    r"[\s.\-]+B[\s.\-]*u[\s.\-]*s"
    r"[\s.\-]+P[\s.\-]*o[\s.\-]*w[\s.\-]*e[\s.\-]*r"
    r"[\s.\-]+D[\s.\-]*e[\s.\-]*l[\s.\-]*i[\s.\-]*v[\s.\-]*e[\s.\-]*r[\s.\-]*y"
    r"[\s.\-]+S[\s.\-]*p[\s.\-]*e[\s.\-]*c[\s.\-]*i[\s.\-]*f[\s.\-]*i[\s.\-]*c[\s.\-]*a[\s.\-]*t[\s.\-]*i[\s.\-]*o[\s.\-]*n",
    re.IGNORECASE,
)
_ISOLATED_LETTERS = re.compile(r"(?:\b[A-Za-z]\b[.\s]*){6,}")
_LEADER_RUN = re.compile(r"(?:\s*[.·•]\s*){3,}")
_NUM_PREFIXED = re.compile(r"^\s*\d+(?:[.\-]\d+)*\s+(?P<title>.+?)\s*$")
_TRAILING_NUM_RUN = re.compile(r"[,;]\s*(?:\d[\s.\-]*){2,}$")
_SPACE_RUN = re.compile(r"\s{2,}")
_FOLD_SEPARATORS = re.compile(r"[\s.\-]+")
_HAS_ALPHA = re.compile(r"[A-Za-z]")
_WORD_3PLUS = re.compile(r"\b[A-Za-z]{3,}\b")

_BRAND_FOLDED = "universalserialbuspowerdeliveryspecification"


def clean_toc_title(title: str) -> str:
    """Deep-clean a title for display/matching. validate.py:260-280."""
    if not title:
        return ""
    s = normalize_text(title)
    s = _FOOTER_BRAND.sub("", s)
    s = _FOOTER_PAGE.sub("", s)
    s = _FUZZY_BRAND.sub("", s)
    s = strip_dot_leaders(s)
    s = _ISOLATED_LETTERS.sub("", s)
    m = _NUM_PREFIXED.match(s)
    if m:
        s = m.group("title")
    s = _TRAILING_NUM_RUN.sub("", s)
    s = _SPACE_RUN.sub(" ", s).strip()

    if _BRAND_FOLDED in _FOLD_SEPARATORS.sub("", s).lower():
        parts = s.split()
        s = " ".join(parts[:2]) if len(parts) >= 2 else (parts[0] if parts else "")
    return s


def load_toc_records(records: list[dict]) -> list[dict]:
    """Title-clean + alpha-filter loaded ToC rows. validate.py:170-184.

    Spark-native analog: withColumn(title, clean_toc_title_udf) then
    filter(title rlike "[A-Za-z]") (SURVEY S4).
    """
    out = []
    for rec in records:
        e = dict(rec)
        e["title"] = clean_toc_title(e.get("title") or "")
        if not e["title"] or not _HAS_ALPHA.search(e["title"]):
            continue
        out.append(e)
    return out


def _captions_from(items, rx: re.Pattern) -> list[str]:
    """Legacy caption strings/dicts → id list. validate.py:233-243."""
    ids: list[str] = []
    for it in items or []:
        if isinstance(it, dict) and "id" in it:
            ids.append(str(it["id"]))
        elif isinstance(it, str):
            m = rx.search(it)
            if m:
                ids.append(m.group(1))
    return ids


def _try_modern_record(obj: dict) -> dict | None:
    """Accept a record already in the internal Chunk shape, or None.

    Mirrors the reference's pydantic gate (validate.py:204-213): the
    modern path succeeds only when every field model-validates
    (captions must be {"id": str} dicts); otherwise the caller falls
    back to export-record coercion, exactly like the reference's
    try/except around Chunk.model_validate.
    """
    if not (
        "title" in obj and "section_id" in obj and isinstance(obj.get("page_range"), str)
    ):
        return None
    if not isinstance(obj.get("section_path"), str):
        return None
    if not isinstance(obj.get("title"), str) or not isinstance(obj.get("content", ""), str):
        return None
    sid = obj.get("section_id")
    if sid is not None and not isinstance(sid, str):
        return None
    caps: dict[str, list[str]] = {}
    for key in ("tables", "figures"):
        ids = []
        for item in obj.get(key) or []:
            if not (isinstance(item, dict) and isinstance(item.get("id"), str)):
                return None
            ids.append(item["id"])
        caps[key] = ids
    return {
        "section_path": obj["section_path"],
        "section_id": sid,
        "title": obj["title"],
        "page_range": obj["page_range"],
        "content": obj.get("content", ""),
        "tables": caps["tables"],
        "figures": caps["figures"],
    }


def coerce_chunk_record(obj: dict) -> dict:
    """Export/legacy chunk record → internal chunk dict.

    validate.py:204-258. Modern records (title + section_id + string
    page_range) pass through; export records split section_path on the
    first space and re-extract caption ids with the validator grammar.
    """
    modern = _try_modern_record(obj)
    if modern is not None:
        return modern

    section_path = obj.get("section_path") or obj.get("start_heading") or ""
    if " " in section_path:
        section_id, title = section_path.split(" ", 1)
    else:
        section_id = obj.get("section_id") or ""
        title = obj.get("title") or section_path or ""
    pr = obj.get("page_range", "")
    if isinstance(pr, list) and len(pr) == 2:
        page_range = f"{int(pr[0])},{int(pr[1])}"
    elif isinstance(pr, str):
        page_range = pr
    else:
        page_range = ""
    return {
        "section_path": section_path or f"{section_id} {title}".strip(),
        "section_id": section_id,
        "title": title,
        "page_range": page_range,
        "content": obj.get("content", ""),
        "tables": _captions_from(obj.get("tables"), TABLE_ID_IN_STRING),
        "figures": _captions_from(obj.get("figures"), FIGURE_ID_IN_STRING),
    }


def is_noisy_chunk(chunk: dict, max_len: int = 10_000) -> bool:
    """Oversized / word-dense chunk heuristic. validate.py:282-295."""
    content = chunk.get("content") or ""
    if not content:
        return False
    if len(content) > max_len:
        return True
    return len(_WORD_3PLUS.findall(content)) > 2000


def match_sections(
    toc: list[dict],
    chunks: list[dict],
    fuzzy_threshold: float = 0.90,
    prefer_section_id: bool = True,
) -> tuple[list[str], list[str], list[str], list[str]]:
    """Greedy ToC→chunk matching. validate.py:326-392.

    Returns (missing, extra, out_of_order, matched) label lists.
    Exact phase: first chunk per normalized section_id (J1/J2).
    Fuzzy phase: best unclaimed chunk by title ratio ≥ threshold (J3).
    Extra = never-claimed chunks (J4, anti-join analog). Out-of-order =
    matched chunk indices below the running max (W7, window analog).
    """
    # titles repeat within a document (ToC rows, chunk titles, extra
    # labels): clean each distinct title once per call
    cleaned: dict[str, str] = {}

    def clean(title: str) -> str:
        s = cleaned.get(title)
        if s is None:
            s = cleaned[title] = clean_toc_title(title)
        return s

    chunk_by_id: dict[str, int] = {
        norm_id(c["section_id"]): i for i, c in enumerate(chunks) if c.get("section_id")
    }
    chunk_titles = [clean(c.get("title") or "").lower() for c in chunks]
    # one matcher per chunk title, built on the first fuzzy probe: the
    # chunk title is the b side, indexed once; each probe becomes the a side
    matchers: list[SequenceMatcher] = []

    used: set[int] = set()
    matched_labels: list[str] = []
    matched_idx: list[int | None] = []
    missing_labels: list[str] = []

    for t in toc:
        tid = norm_id(t["section_id"])
        title_clean = clean(t.get("title") or "")

        found: int | None = None
        if prefer_section_id and tid in chunk_by_id and chunk_by_id[tid] not in used:
            found = chunk_by_id[tid]
        else:
            if not matchers:
                matchers = [SequenceMatcher(None, "", lt) for lt in chunk_titles]
            probe = title_clean.lower()
            best_i, best_score = None, 0.0
            for i, sm in enumerate(matchers):
                if i in used:
                    continue
                sm.set_seq1(probe)
                # ratio <= quick_ratio <= real_quick_ratio: a candidate
                # bounded below the threshold cannot match, and one
                # bounded below the best so far cannot win the strict `>`
                bound = max(best_score, fuzzy_threshold)
                if sm.real_quick_ratio() < bound or sm.quick_ratio() < bound:
                    continue
                score = sm.ratio()
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
        f"{c.get('section_id')} {clean(c.get('title') or '')}"
        for i, c in enumerate(chunks)
        if i not in used
    ]

    out_of_order: list[str] = []
    last = -1
    for label, ci in zip(matched_labels, matched_idx):
        if ci is not None:
            if ci < last:
                out_of_order.append(label)
            else:
                last = ci
    return missing_labels, extra_labels, out_of_order, matched_labels


def validation_report(toc: list[dict], chunks: list[dict], **kwargs) -> dict:
    """match_sections → ValidationReport-shaped dict (models.py:30-36)."""
    missing, extra, out_of_order, matched = match_sections(toc, chunks, **kwargs)
    return {
        "toc_section_count": len(toc),
        "parsed_section_count": len(chunks),
        "missing_sections": missing,
        "extra_sections": extra,
        "out_of_order_sections": out_of_order,
        "matched_sections": matched,
    }
