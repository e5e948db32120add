"""Catalyst-visible ToC pipeline over a (url, line) DataFrame.

The byte-parity path runs the core parser inside one mapInArrow pass
(operators/extract.py); this module re-expresses the SQL-expressible
subset natively so the optimizer can see it — regex extract (E1),
header filter (F1), min-dots filter (F2), synthetic-parent repair (W3:
explode ancestors → groupBy min(page) → left-anti join → union), and
the appendix-aware ordering key (W1/W2) — one of everything from
SURVEY §2.6-2.7, fully whole-stage-codegen'd except the two shuffles
(parent groupBy + anti join) which are both on (url, section_id).

Semantic deltas vs the byte path, by design:
  - no _SPECIAL_SECTIONS override row (data-specific hack);
  - rows with page 0 are dropped individually (the reference nukes the
    whole document's ToC via its catch-all; per-row drop is the
    correct relational semantics and is what the oracle specifies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.normalize import normalize_text_native, strip_dot_leaders_native

# toc.py:17-22 grammar with numbered groups (Java regex)
TOC_LINE_RX = (
    r"^\s*((?:\d+(?:\.\d+)*|[A-Z](?:\.\d+)*))\s+"
    r"(.+?)\s*"
    r"(?:[.·•․…\s]{2,})?"
    r"(\d{1,5})\s*$"
)
_ISOLATED_RX = r"(?:\b[A-Za-z]\b[.\s]*){6,}"
_HEADER_RX = r"(?i)^(table of contents|list of figures|list of tables)"
_NUM_PREFIX_RX = r"^\s*(?:\d+|[A-Z])(?:[.\-]\d+)*\s+"
_LEADER_SPLIT_RX = r"(?:\s*[.·•․…]\s*){3,}"


def parse_toc_lines_native(
    lines: DataFrame, url_col: str = "url", line_col: str = "line", min_dots: int = 0
) -> DataFrame:
    """(url, line) → parsed ToC rows (url, section_id, title, page,
    level, parent_id, full_path). Pure native exprs, zero shuffles."""
    s = normalize_text_native(F.col(line_col))
    s = F.regexp_replace(s, _ISOLATED_RX, "")
    s = F.regexp_replace(s, r"\s{2,}", " ")
    s = F.regexp_replace(s, r"^\s+|\s+$", "")

    parsed = (
        lines.select(F.col(url_col).alias("url"), s.alias("s"))
        .where((F.col("s") != "") & ~F.col("s").rlike(_HEADER_RX))
        .select(
            "url",
            F.regexp_extract("s", TOC_LINE_RX, 1).alias("section_id"),
            F.regexp_extract("s", TOC_LINE_RX, 2).alias("raw_title"),
            F.regexp_extract("s", TOC_LINE_RX, 3).alias("page_str"),
        )
        .where(F.col("section_id") != "")
    )

    is_appendix = F.col("section_id").rlike("^[A-Z]")
    n_dots = F.size(F.split("section_id", r"\.")) - 1
    parsed = parsed.where(is_appendix | (n_dots >= min_dots))

    # title clean (toc.py:121-129): strip leaders, cut at leader runs,
    # drop numeric prefix, collapse spaces
    t = strip_dot_leaders_native(F.col("raw_title"))
    t = F.split(t, _LEADER_SPLIT_RX).getItem(0)
    t = F.regexp_replace(t, _NUM_PREFIX_RX, "")
    t = F.regexp_replace(t, r"\s{2,}", " ")
    t = F.regexp_replace(t, r"^\s+|\s+$", "")

    out = parsed.select(
        "url",
        "section_id",
        t.alias("title"),
        F.col("page_str").cast("int").alias("page"),
        (F.size(F.split("section_id", r"\."))).alias("level"),
        F.when(
            F.col("section_id").contains("."),
            F.regexp_replace("section_id", r"\.[^.]+$", ""),
        ).alias("parent_id"),
    ).where(F.col("page") >= 1)
    return out.withColumn("full_path", F.concat_ws(" ", "section_id", "title"))


def repair_parents_native(toc: DataFrame, pre_partition: bool = True) -> DataFrame:
    """W3 as relational ops: every missing ancestor id becomes a
    synthetic row with min(page) over its descendants.

    explode(ancestors) → groupBy(url, ancestor).min(page) →
    anti-join existing (url, section_id) → unionByName.
    Both shuffles hash on (url, id) — co-partitioned, AQE-coalesced.

    `pre_partition` inserts one url-hash exchange after the upstream
    parse: the parsed subtree feeds THREE consumers (candidates, the
    anti-join build, the union), and without an exchange boundary
    Spark recomputes it per consumer. One exchange of ToC-row-sized
    data beats re-parsing the corpus 3× at any scale (measured 2.3×
    at sf0.1 locally).
    """
    if pre_partition:
        toc = toc.repartition("url")
    parts = F.split("section_id", r"\.")
    ancestors = F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.concat_ws(".", F.slice(parts, 1, i)),
    )
    candidate = (
        toc.where(F.size(parts) > 1)
        .select("url", F.explode(ancestors).alias("section_id"), "page")
        .groupBy("url", "section_id")
        .agg(F.min("page").alias("page"))
    )
    missing = candidate.join(
        toc.select("url", "section_id"), on=["url", "section_id"], how="left_anti"
    )
    synthetic = missing.select(
        "url",
        "section_id",
        F.concat(F.lit("Section "), F.col("section_id")).alias("title"),
        "page",
        F.size(F.split("section_id", r"\.")).alias("level"),
        F.when(
            F.col("section_id").contains("."),
            F.regexp_replace("section_id", r"\.[^.]+$", ""),
        ).alias("parent_id"),
    ).select(
        "url",
        "section_id",
        "title",
        "page",
        "level",
        "parent_id",
        F.concat_ws(" ", "section_id", "title").alias("full_path"),
    )
    return toc.unionByName(synthetic)


def section_sort_key_native() -> "F.Column":
    """W1 ordering key: appendices after numerics, numeric-tuple order,
    encoded as a zero-padded sortable string."""
    parts = F.split("section_id", r"\.")
    is_app = F.col("section_id").rlike("^[A-Z]")
    head = F.when(is_app, F.lpad((F.ascii(F.substring("section_id", 1, 1)) - 64).cast("string"), 8, "0")).otherwise(
        F.lpad(parts.getItem(0), 8, "0")
    )
    tail = F.array_join(
        F.transform(
            F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
            lambda p: F.lpad(p, 8, "0"),
        ),
        ".",
    )
    return F.concat(
        F.when(is_app, F.lit("1")).otherwise(F.lit("0")),
        F.lit("|"),
        head,
        F.lit("."),
        tail,
    )


def toc_pipeline_native(lines: DataFrame, min_dots: int = 0) -> DataFrame:
    """Full native ToC stage: parse → parent repair → deterministic
    per-url ordering (sort key + page)."""
    parsed = parse_toc_lines_native(lines, min_dots=min_dots)
    repaired = repair_parents_native(parsed)
    return repaired.withColumn("sort_key", section_sort_key_native()).orderBy(
        "url", "sort_key", "page"
    )
