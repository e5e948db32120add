"""Web-text corpus filters (C4 / Gopher / RefinedWeb-style heuristics).

The standard pre-training data hygiene pass over Common-Crawl-style
pages, expressed entirely as native column expressions (WholeStage-
Codegen, zero UDFs, zero shuffles until the caller aggregates) so a
10^12-row scan stays scan-shaped:

  gopher_quality_flags   word-count bounds, mean-word-length bounds,
                         symbol-to-word ratio, bullet/ellipsis line
                         fractions (Rae et al. 2021 "Gopher" §A1.1)
  line_dup_stats         duplicate-line fraction by count and by
                         character mass (C4-style boilerplate signal)
  c4_line_clean          C4 §2.2 line retention as a text REWRITE
                         (terminal punct, min words, javascript drop)
                         + lorem-ipsum / curly-brace page flag
  pii_redact             email / phone / IPv4 redaction with per-doc
                         match counts (accountable, not silent)
  canonicalize_url       lowercase scheme+host, strip fragments and
                         tracking query params — the key for
                         URL-level dedup of crawl snapshots

All thresholds mirror the published heuristics but are parameters —
the point is the plan shape, not the exact constants. Every operator
is ANSI-replayable (oracles q58-q61).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# word = whitespace token; symbolic chars per Gopher: # and … (plus the
# three-dot ASCII ellipsis)
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RX = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"
IPV4_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_ELLIPSIS_RX = r"(\.\.\.|…)"
_BULLET_RX = r"^[\s]*[-*•]"
# anchored to a preceding ? or & so 'ref=' never matches inside a
# longer parameter name (e.g. 'href='); the separator is captured and
# put back, then the '?&'/'&&' litter is collapsed by the caller
_TRACKING_PARAM_RX = r"([?&])(?:utm_[a-z]+|fbclid|gclid|ref)=[^&#]*"


def _words(col: Column) -> Column:
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_ellipsis_line_frac: float = 0.3,
    max_bullet_line_frac: float = 0.9,
) -> DataFrame:
    """Adds gopher_* columns + the combined keep flag."""
    c = F.col(text_col)
    words = _words(c)
    n_words = F.size(words)
    n_chars_in_words = F.length(F.regexp_replace(F.trim(c), r"\s+", ""))
    mean_wl = F.when(n_words == 0, F.lit(0.0)).otherwise(n_chars_in_words / n_words)
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = F.regexp_count(c, F.lit(_ELLIPSIS_RX))
    symbol_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        (n_hash + n_ellipsis) / n_words
    )
    lines = F.split(c, r"\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(_BULLET_RX)))
    n_ell_lines = F.size(F.filter(lines, lambda x: x.rlike(_ELLIPSIS_RX)))
    bullet_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(n_bullet / n_lines)
    ell_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(n_ell_lines / n_lines)
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (ell_frac <= max_ellipsis_line_frac)
        & (bullet_frac <= max_bullet_line_frac)
    )
    return (
        df.withColumn("g_n_words", n_words)
        .withColumn("g_mean_word_len", mean_wl)
        .withColumn("g_symbol_ratio", symbol_ratio)
        .withColumn("g_bullet_frac", bullet_frac)
        .withColumn("g_ellipsis_frac", ell_frac)
        .withColumn("gopher_keep", keep)
    )


def line_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style duplicate-line signals, computed per row with array
    functions (no explode, no shuffle):

      dup_line_frac       1 - distinct_lines / total_lines
      dup_line_char_frac  chars in beyond-first repeats / total chars

    The char-mass variant needs per-line repeat counts; aggregate()
    over the sorted line array counts repeat runs in one pass.
    """
    c = F.col(text_col)
    # HOIST the line array and its sorted twin into projected columns:
    # referencing `array_sort(split(text))` INSIDE the aggregate lambda
    # below would re-split-and-sort the whole document once per line —
    # O(L²·log L) per doc (same bug class as dedup.shingles, measured
    # on 50k docs with mega-docs). CollapseProject keeps the hoist because
    # the non-cheap expressions are referenced more than once.
    base = df.withColumn(
        "__ldl", F.filter(F.split(c, r"\n"), lambda x: F.trim(x) != "")
    ).withColumn("__lds", F.array_sort(F.col("__ldl")))
    lines, sorted_lines = F.col("__ldl"), F.col("__lds")
    n = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    dup_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - n_distinct) / n.cast("double")
    )
    # sorted lines: every element equal to its predecessor is a
    # beyond-first repeat; accumulate its length. Iterate i in [2, n]
    # comparing element i to i-1 — the n<=1 guard matters because
    # F.sequence(2, 1) would produce the DESCENDING [2, 1] (not an
    # empty list), and under ANSI mode element_at on the 1-element
    # array would abort the whole job for a single-line document.
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    dup_chars = F.when(n <= 1, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.sequence(F.lit(2), n),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at(sorted_lines, i) == F.element_at(sorted_lines, i - 1),
                F.length(F.element_at(sorted_lines, i)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    dup_char_frac = F.when(total_chars == 0, F.lit(0.0)).otherwise(
        dup_chars / total_chars.cast("double")
    )
    return (
        base.withColumn("dup_line_frac", dup_frac)
        .withColumn("dup_line_char_frac", dup_char_frac)
        .drop("__ldl", "__lds")
    )


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4s, keeping per-doc counts —
    the scrub is accountable (counts survive the rewrite) and pure
    regexp_replace (codegen, no UDF)."""
    c = F.col(text_col)
    n_email = F.regexp_count(c, F.lit(EMAIL_RX))
    n_phone = F.regexp_count(c, F.lit(PHONE_RX))
    n_ip = F.regexp_count(c, F.lit(IPV4_RX))
    red = F.regexp_replace(c, EMAIL_RX, "<EMAIL>")
    red = F.regexp_replace(red, PHONE_RX, "<PHONE>")
    red = F.regexp_replace(red, IPV4_RX, "<IP>")
    return (
        df.withColumn("n_emails", n_email)
        .withColumn("n_phones", n_phone)
        .withColumn("n_ips", n_ip)
        .withColumn("text_redacted", red)
    )


_TERMINAL_PUNCT_RX = r'[.!?"”]$'
_JAVASCRIPT_WORD_RX = r"\bjavascript\b"


def c4_line_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4 line-level cleanup (Raffel et al. 2020 §2.2) as a text
    REWRITE, not just a flag — the one hygiene step that edits the
    document body instead of adjudicating it whole:

      line kept iff it ends in terminal punctuation, has >=
      min_words_per_line whitespace words, and doesn't contain the
      word 'javascript' (case-insensitive, word-bounded);
      page kept (c4_page_keep) iff the CLEANED text still has >=
      min_sentences terminal-punctuation marks and the ORIGINAL page
      has neither 'lorem ipsum' nor a curly brace (code smell).

    Adds text_clean, c4_n_lines, c4_n_lines_kept, c4_page_keep.
    Native column expressions only (filter/array_join HOFs — codegen,
    zero shuffles): at 10^12 rows this is scan-shaped like the rest of
    the module. ANSI-replayable (oracle q77). The line array is
    hoisted into a projected column per the module's HOF-lambda rule.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    base = df.withColumn("__c4l", F.split(c, r"\n"))
    lines = F.col("__c4l")
    base = base.withColumn(
        "__c4k",
        F.filter(
            lines,
            lambda x: F.rtrim(x).rlike(_TERMINAL_PUNCT_RX)
            & (F.size(F.split(F.trim(x), r"\s+")) >= F.lit(min_words_per_line))
            & ~F.lower(x).rlike(_JAVASCRIPT_WORD_RX),
        ),
    )
    kept = F.col("__c4k")
    base = base.withColumn("text_clean", F.array_join(kept, "\n"))
    n_sent = F.regexp_count(F.col("text_clean"), F.lit(r"[.!?]"))
    page_keep = (
        (n_sent >= F.lit(min_sentences))
        & ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
    )
    return (
        base.withColumn("c4_n_lines", F.size(lines))
        .withColumn("c4_n_lines_kept", F.size(kept))
        .withColumn("c4_page_keep", page_keep)
        .drop("__c4l", "__c4k")
    )


def canonicalize_url(url: Column) -> Column:
    """Crawl-dedup URL key: lowercase scheme+host, strip the fragment,
    strip tracking params (utm_*, fbclid, gclid, ref), collapse the
    leftover '?&'/'?' litter, drop one trailing slash on a bare path."""
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.regexp_replace(u, _TRACKING_PARAM_RX, "$1")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&{2,}", "&")
    # lowercase scheme://host only (path/query are case-significant)
    scheme_host = F.lower(F.regexp_extract(u, r"^([a-zA-Z]+://[^/]*)", 1))
    rest = F.regexp_replace(u, r"^[a-zA-Z]+://[^/]*", "")
    u = F.when(scheme_host == "", u).otherwise(F.concat(scheme_host, rest))
    return F.regexp_replace(u, r"^([a-z]+://[^/?#]+)/$", "$1")


# a robots meta tag asking not to index: name/content in either
# attribute order, double-, single- or un-quoted, directive list
# containing the word noindex or the none shorthand (= noindex,nofollow).
# An unquoted value runs to whitespace or '>' (as the HTML parser reads
# it), so a bare name must end there too: `name=robotsXYZ` is not robots.
# Attribute names are anchored so `data-content=` / `data-name=` decoys
# never stand in for the real attributes.
_ROBOTS_VAL = (
    "(\"[^\"]*\\b(?:noindex|none)\\b[^\"]*\"|'[^']*\\b(?:noindex|none)\\b[^']*'"
    "|(?![\"'])[^\\s>]*\\b(?:noindex|none)\\b[^\\s>]*)"
)
_ROBOTS_NAME = "(\"robots\"|'robots'|robots(?=[\\s>]))"
_NAME_ATTR = "(?<![\\w-])name\\s*=\\s*"
_CONTENT_ATTR = "(?<![\\w-])content\\s*=\\s*"
_ROBOTS_NOINDEX_RX = (
    f"(?is)<meta\\b(?:[^>]*{_NAME_ATTR}{_ROBOTS_NAME}[^>]*{_CONTENT_ATTR}{_ROBOTS_VAL}"
    f"|[^>]*{_CONTENT_ATTR}{_ROBOTS_VAL}[^>]*{_NAME_ATTR}{_ROBOTS_NAME})"
)


def robots_noindex_flag(
    df: DataFrame, html_col: str = "html", out_col: str = "robots_noindex"
) -> DataFrame:
    """Flag pages whose meta robots directives ask not to index
    (noindex, or the `none` shorthand) — the standard publisher
    opt-out a crawl-curation funnel honors before any quality math.

    Deliberately a COLUMNAR regex over the raw html bytes, not the
    html_metadata parser pass: the gate runs on every ingested page,
    so it must stay inside whole-stage codegen with zero Python cost;
    the parser path (operators/html_extract.html_metadata) remains
    the source of truth for the directive STRING when provenance is
    needed. NULL/undecodable html → false (nothing to honor)."""
    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    return df.withColumn(out_col, h.rlike(_ROBOTS_NOINDEX_RX))
