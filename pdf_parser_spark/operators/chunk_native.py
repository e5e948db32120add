"""Catalyst-visible chunk-stage operators over (url, pos, line) rows.

Native re-expressions of the SQL-expressible chunk-stage subset
(SURVEY §2.3 F3-F5, §2.5 E2-E4, §2.6 W4-W6) — the byte-parity path
runs the same logic inside core/* within one mapInArrow pass
(operators/extract.py); these exist so the optimizer sees the plan:
whole-stage-codegen'd regex/filter chains, a window `lead()` for
chunk bounds, and a url-equi + page-range join for the page gather.

Reference anchors:
  heading grammar + noise    /root/reference/src/chunk.py:34-36,134-152
  content-line filter        /root/reference/src/chunk.py:229-239
  ToC-driven bounds (lead)   /root/reference/src/chunk.py:292-307
  page-range line gather     /root/reference/src/chunk.py:241-253
  caption id extraction      /root/reference/src/chunk.py:15-19,278-290

Scale notes (10^12 docs):
  - heading/caption extraction is a stateless projection — zero
    shuffles, survives any scale-up linearly;
  - `chunk_bounds_native` shuffles once on url (window partition);
  - `gather_chunk_pages_native` joins on url equality with the page
    range as a residual predicate, so Catalyst plans a hash/SMJ on
    url (high-cardinality, AQE-skew-splittable), never a BNLJ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.normalize import normalize_text_native

# chunk.py:34-36 — numbered or appendix-lettered heading line
HEADING_RX = r"^\s*((?:\d+(?:\.\d+)*|[A-Z](?:\.\d+)*))\s+(.+?)\s*$"
# chunk.py:15 — caption id grammar: 1, 10.3, A, A.1.2, 5a ...
CAP_ID_RX = r"(?:(?:\d+|[A-Z])(?:\.\d+)*[a-z]?)"
FIGURE_RX = rf"(?i)\bFigure\s+({CAP_ID_RX})\b"
TABLE_RX = rf"(?i)\bTable\s+({CAP_ID_RX})\b"

_DOT_RUN_RX = r"[.·•]{3,}"                               # chunk.py:22
_ISOLATED_RX = r"(?:\b[A-Za-z]\b[.\s]*){6,}"             # chunk.py:23
_NOISY_PAGE_RX = r"(?i)P\s*a\s*g\s*e\s*\d+"              # chunk.py:24
_BRAND_RX = r"(?i)Universal Serial Bus Power Delivery Specification"
_BINARY_RUN_RX = r"\b[01]{4,}\b"                          # utils.py:243
_TRAILING_PAGE_RX = r"[.·•]{2,}\s*\d+\s*$"               # chunk.py:21


def clean_heading_title_native(title: "F.Column") -> "F.Column":
    """chunk.py:114-117: dot leaders → space, trailing leader+page cut."""
    t = F.regexp_replace(title, r"\.{3,}", " ")
    t = F.regexp_replace(t, r"^\s+|\s+$", "")
    t = F.regexp_replace(t, _TRAILING_PAGE_RX, "")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


# union of the four noise families — ONE regex scan per string instead
# of four; inline-scoped (?i:) keeps per-pattern case rules intact
_NOISE_UNION_RX = (
    r"(?:[.·•]{3,})"
    r"|(?:(?:\b[A-Za-z]\b[.\s]*){6,})"
    r"|(?i:P\s*a\s*g\s*e\s*\d+)"
    r"|(?i:Universal Serial Bus Power Delivery Specification)"
)


def heading_is_noisy_native(line: "F.Column", title: "F.Column") -> "F.Column":
    """Boolean noise predicate (chunk.py:144-152 + utils.py:232-245).

    Mirrors the reference quirk of passing the *title* as both num and
    title into the plausibility check (num=="0" tests the title).
    """
    noise_any = line.rlike(_NOISE_UNION_RX) | title.rlike(_NOISE_UNION_RX)
    folded = F.lower(F.regexp_replace(title, r"[\s.\-·•_]", ""))
    running_header = (
        folded.contains("universalserialbuspowerdeliveryspecification")
        | folded.contains("revision32")
        | folded.contains("version11")
    )
    letters = F.length(F.regexp_replace(title, r"[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(title, r"[^0-9]", ""))
    implausible = (
        (title == "0")
        | (F.length(title) < 3)
        | (letters == 0)
        | (digits > letters)
        | title.rlike(_BINARY_RUN_RX)
    )
    return noise_any | running_header | implausible


def extract_headings_native(
    lines: DataFrame, url_col: str = "url", line_col: str = "line"
) -> DataFrame:
    """(url, line, *) → (url, *, section_id, title) heading rows.

    E2/E3 as one codegen'd projection+filter; zero shuffles. The
    optional ToC gating (J7 semi join) / title override (J8 left join
    + coalesce) compose on top as ordinary joins.
    """
    s = normalize_text_native(F.col(line_col))
    num = F.regexp_extract(s, HEADING_RX, 1)
    title = clean_heading_title_native(F.regexp_extract(s, HEADING_RX, 2))
    passthrough = [c for c in lines.columns if c not in (url_col, line_col)]
    return (
        lines.select(
            F.col(url_col).alias("url"),
            *passthrough,
            s.alias("_s"),
            num.alias("section_id"),
            title.alias("title"),
        )
        .where((F.col("section_id") != "") & ~heading_is_noisy_native(F.col("_s"), F.col("title")))
        .drop("_s")
    )


def override_titles_from_toc(headings: DataFrame, toc: DataFrame) -> DataFrame:
    """J8: replace detected titles with ToC titles when present
    (broadcast left join + coalesce) — chunk.py:171-172."""
    ids = toc.select("url", "section_id", F.col("title").alias("_toc_title"))
    return (
        headings.join(F.broadcast(ids), on=["url", "section_id"], how="left")
        .withColumn("title", F.coalesce("_toc_title", "title"))
        .drop("_toc_title")
    )


def keep_content_line_native(line: "F.Column") -> "F.Column":
    """F3 per-line content filter as one boolean expr (chunk.py:229-239):
    caption mentions always survive; heading-shaped lines, brand running
    headers and `Page N` footers drop."""
    s = F.regexp_replace(line, r"^\s+|\s+$", "")
    mentions_caption = s.rlike(r"(?i)\b(Table|Figure)\b")
    heading_shape = s.rlike(r"^\d+(\.\d+)*\s+.+")
    brand = s.rlike(_BRAND_RX)
    footer = s.rlike(r"(?i)^Page\s+\d+\s*$")
    return mentions_caption | ~(heading_shape | brand | footer)


def chunk_bounds_native(
    toc: DataFrame, last_page: int, url_col: str = "url"
) -> DataFrame:
    """W4: chunk page bounds from ToC rows via window lead().

    pend_i = next_page - 1 (last chunk: document's last page), clamped
    to >= pstart (chunk.py:292-307). One shuffle, hash on url.
    Deterministic tiebreak (page, section_id) added on top of the
    reference's stable sort.
    """
    w = Window.partitionBy(url_col).orderBy("page", "section_id")
    pend = F.coalesce(F.lead("page").over(w) - 1, F.lit(last_page))
    return toc.select(
        F.col(url_col).alias("url"),
        "section_id",
        "title",
        F.col("page").alias("page_start"),
        F.greatest(F.col("page"), pend).alias("page_end"),
    )


def gather_chunk_pages_native(
    pages: DataFrame, bounds: DataFrame, url_col: str = "url"
) -> DataFrame:
    """W6 range gather: every page joins every chunk whose range covers
    it (overlapping chunks re-use pages, chunk.py:241-253).

    Equi on url + range residual → SMJ/hash on url, never BNLJ.
    """
    p = pages.alias("p")
    b = bounds.alias("b")
    return p.join(
        b,
        on=[
            F.col(f"p.{url_col}") == F.col(f"b.{url_col}"),
            F.col("p.page_no") >= F.col("b.page_start"),
            F.col("p.page_no") <= F.col("b.page_end"),
        ],
    ).select(
        F.col(f"b.{url_col}").alias("url"),
        F.col("b.section_id").alias("section_id"),
        F.col("p.page_no").alias("page_no"),
        F.col("p.line").alias("line"),
    )


def norm_caption_line_native(line: "F.Column") -> "F.Column":
    """chunk.py:75-83: NBSP/dash fold, de-space T a b l e / F i g u r e,
    re-space glued ids (Java regex supports the reference lookahead)."""
    s = F.translate(line, "  ‐‑‒–—−", "  ------")
    s = F.regexp_replace(s, r"(?i)\bT\s*a\s*b\s*l\s*e\b", "Table")
    s = F.regexp_replace(s, r"(?i)\bF\s*i\s*g\s*u\s*r\s*e\b", "Figure")
    s = F.regexp_replace(s, r"(?i)(Table)(?=(?:\s*[A-Z]\.)|\s*\d)", "$1 ")
    s = F.regexp_replace(s, r"(?i)(Figure)(?=(?:\s*[A-Z]\.)|\s*\d)", "$1 ")
    s = F.regexp_replace(s, r"\s{2,}", " ")
    return F.regexp_replace(s, r"^\s+|\s+$", "")


def caption_lists_native(
    content_lines: DataFrame,
    url_col: str = "url",
    pos_col: str = "pos",
    line_col: str = "line",
) -> DataFrame:
    """E4: per-doc ordered, duplicate-preserving caption id lists.

    A line yields a figure OR a table id (figure tested first,
    chunk.py:281-286); order restored with pos-sorted collect_list —
    never collect_set (ordered duplicates are part of the contract).
    One shuffle (groupBy url) with partial map-side aggregation.
    """
    s = norm_caption_line_native(F.col(line_col))
    fig = F.regexp_extract(s, FIGURE_RX, 1)
    tab = F.regexp_extract(s, TABLE_RX, 1)
    tagged = content_lines.select(
        F.col(url_col).alias("url"),
        F.col(pos_col).alias("pos"),
        fig.alias("fig"),
        F.when(fig == "", tab).otherwise(F.lit("")).alias("tab"),
    )
    return tagged.groupBy("url").agg(
        F.array_compact(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "fig"))),
                lambda x: F.when(x["fig"] != "", x["fig"]),
            )
        ).alias("figures"),
        F.array_compact(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tab"))),
                lambda x: F.when(x["tab"] != "", x["tab"]),
            )
        ).alias("tables"),
    )
