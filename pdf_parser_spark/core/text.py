"""Scalar text normalization + heading/noise predicates (SURVEY §2.4, F4/F6).

Byte-identical to the reference normalizers:
  - normalize_text        ↔ /root/reference/src/utils.py:104-113
  - strip_dot_leaders     ↔ /root/reference/src/utils.py:115-117
  - looks_like_heading    ↔ /root/reference/src/utils.py:232-245
  - norm_caption_line     ↔ /root/reference/src/chunk.py:75-83
  - is_running_header     ↔ /root/reference/src/chunk.py:85-89
  - clean_content         ↔ /root/reference/src/chunk.py:91-112
  - clean_heading_title   ↔ /root/reference/src/chunk.py:114-117
  - normalize_sentences   ↔ /root/reference/src/chunk.py:119-126
  - norm_id               ↔ /root/reference/src/validate.py:77-83

The *order* of replacement steps is part of the byte-identity contract
(e.g. dash folding runs before the ligature table, so the en/em-dash
ligature entries are dead rows — kept for fidelity of the mapping table
but unreachable, exactly as in the reference).

All functions are plain str -> str/bool, called per document inside
core.pipeline.extract_document; regexes compile once at module import
(once per executor worker).
"""

from __future__ import annotations

import re

# --- character classes -------------------------------------------------

# non-breaking space variants (utils.py:86)
_NBSP = re.compile(r"[  ]")
# unicode hyphen/dash/minus variants (utils.py:87)
_DASHES = re.compile(r"[‐‑‒–—−]")
# typographic ligature / bullet fold table (utils.py:68-78); the dash rows
# are unreachable after _DASHES but preserved for table parity
_LIGATURE_FOLD = (
    ("ﬁ", "fi"),
    ("ﬂ", "fl"),
    ("ﬀ", "ff"),
    ("ﬃ", "ffi"),
    ("ﬄ", "ffl"),
    ("–", "-"),
    ("—", "-"),
    ("·", "."),
    ("•", "."),
)
_HSPACE_RUN = re.compile(r"[ \t]+")
_ASCII_DOT_LEADERS = re.compile(r"\.{3,}")  # utils.py:84

# --- caption-line / content regexes (chunk.py:11-37) --------------------

# figure/table caption id grammar: 1, 10.3, A, A.1.2, 5a ... (chunk.py:15)
_CAP_ID = r"(?:(?:\d+|[A-Z])(?:\.\d+)*[a-z]?)"
FIGURE_CAPTION = re.compile(rf"\bFigure\s+({_CAP_ID})\b", re.IGNORECASE)
TABLE_CAPTION = re.compile(rf"\bTable\s+({_CAP_ID})\b", re.IGNORECASE)

_TRAILING_PAGE_AFTER_LEADERS = re.compile(r"[.·•]{2,}\s*\d+\s*$")  # chunk.py:21
_LEADER_RUN = re.compile(r"(?:\s*[.·•]\s*){3,}")  # chunk.py:25
_LEADER_RUN_THEN_PAGE = re.compile(r"(?:\s*[.·•]\s*){2,}\s*\d+\s*$")  # chunk.py:26
_SPACE_RUN = re.compile(r"\s{2,}")  # chunk.py:27

# de-spaced caption keywords:  "T a b l e" -> "Table"  (chunk.py:78-79)
_SPACED_TABLE = re.compile(r"(?i)\bT\s*a\s*b\s*l\s*e\b")
_SPACED_FIGURE = re.compile(r"(?i)\bF\s*i\s*g\s*u\s*r\s*e\b")
# re-insert a space between the keyword and an id that follows with no
# separator; lookahead per chunk.py:33
_GLUED_ID_LOOKAHEAD = r"(?=(?:\s*[A-Z]\.)|\s*\d)"
_TABLE_GLUED = re.compile(rf"(?i)(Table){_GLUED_ID_LOOKAHEAD}")
_FIGURE_GLUED = re.compile(rf"(?i)(Figure){_GLUED_ID_LOOKAHEAD}")

# bullet glyphs folded to "- " (chunk.py:37); includes private-use-area
# codepoints emitted by symbol fonts in PDF extractors
BULLET_GLYPHS = (
    "",
    "",
    "●",
    "▪",
    "",
    "",
    "",
    "•",
)

_HYPHEN_WRAP_LOWER = re.compile(r"(\S)-\n([a-z])")  # chunk.py:97
_DASH_WRAP_ANY = re.compile(r"(\S)[\-‐-—−]\n(\S)")  # chunk.py:98
_LONE_SLASH = re.compile(r"(?<!\w)/(?!\w)")  # chunk.py:100
_CAMEL_BOUNDARY = re.compile(r"([a-z0-9])([A-Z])")  # chunk.py:101
_QUOTED_SPAN = re.compile(r'\s*"([^"]+)"\s*')  # chunk.py:102

_NEWLINE_RUN = re.compile(r"\n+")  # chunk.py:123
_SPACE_BEFORE_PUNCT = re.compile(r"\s+([,.])")  # chunk.py:124

# running-header brand substrings, separator-stripped (chunk.py:88)
_BRAND_SUBSTRINGS = (
    "universalserialbuspowerdeliveryspecification",
    "revision32",
    "version11",
)
_SEPARATOR_CHARS = re.compile(r"[\s.\-·•_]")

_BINARY_RUN = re.compile(r"\b[01]{4,}\b")  # utils.py:243
_HEADING_STRIP_TRAILING_PAGE = re.compile(r"[.·•]{2,}\s*\d+\s*$")  # chunk.py:21


def normalize_text(s: str) -> str:
    """NBSP→space, dash fold, ligature fold, collapse spaces/tabs, strip.

    utils.py:104-113.
    """
    if not s:
        return ""
    # every source character of the three folds is non-ASCII
    if not s.isascii():
        s = _NBSP.sub(" ", s)
        s = _DASHES.sub("-", s)
        for src, dst in _LIGATURE_FOLD:
            s = s.replace(src, dst)
    # a lone space already reads " "; only a tab or a double space can change
    if "\t" in s or "  " in s:
        s = _HSPACE_RUN.sub(" ", s)
    return s.strip()


def strip_dot_leaders(s: str) -> str:
    """Replace runs of 3+ ASCII dots with one space. utils.py:115-117."""
    return _ASCII_DOT_LEADERS.sub(" ", s or "")


def norm_caption_line(s: str) -> str:
    """Repair caption lines before id extraction. chunk.py:75-83."""
    s = _NBSP.sub(" ", s)
    s = _DASHES.sub("-", s)
    s = _SPACED_TABLE.sub("Table", s)
    s = _SPACED_FIGURE.sub("Figure", s)
    s = _TABLE_GLUED.sub(r"\1 ", s)
    s = _FIGURE_GLUED.sub(r"\1 ", s)
    return _SPACE_RUN.sub(" ", s).strip()


def is_running_header(s: str) -> bool:
    """Separator-stripped lowercase substring test vs brand tokens.

    chunk.py:85-89.
    """
    folded = _SEPARATOR_CHARS.sub("", s).lower()
    return any(b in folded for b in _BRAND_SUBSTRINGS)


def clean_content(text: str) -> str:
    """Normalize a chunk's raw page text. chunk.py:91-112.

    Step order is load-bearing: bullets, hyphen-wrap joins, quote
    unescape, lone-slash removal, camelCase split, quote respacing,
    then per-line leader/page stripping and blank-line removal.
    """
    if not text:
        return ""
    for glyph in BULLET_GLYPHS:
        text = text.replace(glyph, "- ")
    # each guarded pass runs only when the text holds a literal its
    # pattern needs; skipping it otherwise is a no-op by construction
    if "-\n" in text:
        text = _HYPHEN_WRAP_LOWER.sub(r"\1\2", text)
    text = _DASH_WRAP_ANY.sub(r"\1 \2", text)
    text = text.replace('\\"', '"').replace("\\'", "'")
    if "/" in text:
        text = _LONE_SLASH.sub("", text)
    text = _CAMEL_BOUNDARY.sub(r"\1 \2", text)
    if '"' in text:
        text = _QUOTED_SPAN.sub(r' "\1" ', text)

    kept: list[str] = []
    for line in text.splitlines():
        ln = line.rstrip()
        # both leader patterns need at least two of .·• in the line
        if ln.count(".") + ln.count("·") + ln.count("•") >= 2:
            ln = _LEADER_RUN_THEN_PAGE.sub("", ln)
            ln = _LEADER_RUN.sub(" ", ln)
        # after splitlines, the only ASCII whitespace left in a line is
        # space, tab and \x1f, so an ASCII line without a tab, \x1f or a
        # double space has no run for _SPACE_RUN to collapse
        if not ln.isascii() or "  " in ln or "\t" in ln or "\x1f" in ln:
            ln = _SPACE_RUN.sub(" ", ln)
        ln = ln.strip()
        if ln:
            kept.append(ln)
    return "\n".join(kept).strip()


def clean_heading_title(title: str) -> str:
    """Strip dot leaders + trailing leader/page suffix. chunk.py:114-117."""
    t = strip_dot_leaders(title).strip()
    return _HEADING_STRIP_TRAILING_PAGE.sub("", t).strip()


def normalize_sentences(text: str) -> str:
    """Flatten newlines, tighten punctuation spacing. chunk.py:119-126."""
    if not text:
        return ""
    text = _NEWLINE_RUN.sub(" ", text)
    text = _SPACE_BEFORE_PUNCT.sub(r"\1", text)
    return _SPACE_RUN.sub(" ", text).strip()


def norm_id(s: str) -> str:
    """Normalize NBSP/dashes in a section id. validate.py:77-83."""
    if not s:
        return ""
    s = _NBSP.sub("", s)
    s = _DASHES.sub("-", s)
    return s.strip()


def looks_like_heading(num: str, title: str) -> bool:
    """Plausibility test for a detected heading. utils.py:232-245.

    Rejects num "0", short titles, all-digit titles, binary-looking runs.
    """
    if num == "0":
        return False
    t = (title or "").strip()
    if len(t) < 3:
        return False
    letters = sum(c.isalpha() for c in t)
    digits = sum(c.isdigit() for c in t)
    if letters == 0 or digits > letters:
        return False
    if _BINARY_RUN.search(t):
        return False
    return True
