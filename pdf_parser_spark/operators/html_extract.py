"""Distributed HTML boilerplate stripping (north_rule DOM-heuristic
pipeline).

Two operators over documents(url, html, ...):

  html_blocks(docs)     one row per DOM block with text/link-density/
                        depth scores + the content classification —
                        the inspectable intermediate (tune thresholds,
                        audit misclassifications) and the input to
                        block-level analytics;
  html_main_text(docs)  (url, extracted_text) — content blocks joined
                        in document order; on the synthetic corpus
                        this must equal the pre-extracted `text`
                        column byte-identically per url.

Scale notes (10^12 docs):
  - each is a single scan-local mapInArrow pass (plans/rows.map_rows):
    zero shuffles, the html binary column is the only heavy input and is pruned everywhere else (Catalyst reads it
    solely on this path);
  - segment_blocks tokenizes a page with one compiled regex and falls
    back to the stdlib HTMLParser only for pages outside that grammar
    (comments, doctypes, stray '<', ...); Arrow batches are small
    (plans/session caps maxRecordsPerBatch) because html rows are
    KB-MB scale;
  - per-partition failure accounting mirrors operators/extract.py —
    a truncated/hostile page yields its salvageable prefix blocks,
    never a task failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..core.html_extract import METADATA_FIELDS, classify_block, extract_metadata, segment_blocks
from ..plans.rows import map_rows

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("block_no", T.IntegerType()),
        T.StructField("tag_path", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("link_density", T.DoubleType()),
        T.StructField("is_content", T.BooleanType()),
    ]
)

TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_content_blocks", T.IntegerType()),
    ]
)


def html_blocks(
    docs: DataFrame, max_link_density: float = 0.33, min_chars: int = 1
) -> DataFrame:
    """documents → one scored row per DOM block (flatMap shape)."""

    def run(url, html):
        for b in segment_blocks(html):
            yield {
                "url": url,
                "block_no": b.block_no,
                "tag_path": b.tag_path,
                "depth": b.depth,
                "text": b.text,
                "n_chars": b.n_chars,
                "link_density": b.link_density,
                "is_content": classify_block(b, max_link_density, min_chars),
            }

    return map_rows(docs.select("url", "html"), run, BLOCK_SCHEMA)


def html_main_text(
    docs: DataFrame,
    separator: str = "\f",
    max_link_density: float = 0.33,
    min_chars: int = 1,
) -> DataFrame:
    """documents → (url, extracted_text) boilerplate-stripped."""

    def run(url, html):
        blocks = segment_blocks(html)
        kept = [b.text for b in blocks if classify_block(b, max_link_density, min_chars)]
        yield {
            "url": url,
            "extracted_text": separator.join(kept),
            "n_blocks": len(blocks),
            "n_content_blocks": len(kept),
        }

    return map_rows(docs.select("url", "html"), run, TEXT_SCHEMA)


SPAN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("block_no", T.IntegerType()),
        T.StructField("char_start", T.IntegerType()),
        T.StructField("char_end", T.IntegerType()),
        T.StructField("tag_path", T.StringType()),
    ]
)


def html_content_spans(
    docs: DataFrame,
    separator: str = "\f",
    max_link_density: float = 0.33,
    min_chars: int = 1,
) -> DataFrame:
    """documents → one row per CONTENT block with its [char_start,
    char_end) span inside the html_main_text output for the same url —
    the north-rule "chunk/span offsets" contract: downstream consumers
    address the extracted text by offsets instead of re-carrying block
    strings. Invariant (tested): extracted_text[char_start:char_end]
    == block text, with `separator` between consecutive blocks."""

    def run(url, html):
        pos = 0
        for b in segment_blocks(html):
            if not classify_block(b, max_link_density, min_chars):
                continue
            start = pos if pos == 0 else pos + len(separator)
            pos = start + len(b.text)
            yield {
                "url": url,
                "block_no": b.block_no,
                "char_start": start,
                "char_end": pos,
                "tag_path": b.tag_path,
            }

    return map_rows(docs.select("url", "html"), run, SPAN_SCHEMA)


METADATA_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType())]
    + [T.StructField(f, T.StringType()) for f in METADATA_FIELDS]
)


def html_metadata(docs: DataFrame) -> DataFrame:
    """documents → one row per url with head metadata: title, <html
    lang>, meta description, canonical link, og:title/og:description
    (missing fields NULL, first occurrence wins, entity-unescaped —
    core/html_extract.extract_metadata). The standard crawl-pipeline
    side channel: titles for display/dedup keys, canonical urls for
    crawl dedup (composes with webtext_filters.canonicalize_url),
    declared lang to cross-check the n-gram lang-id (q27/q49).

    Plan shape: one scan-local mapInArrow over (url, html) — zero
    shuffles, rows out == rows in, the html binary never leaves the
    task; same scale posture as html_main_text above."""

    def run(url, html):
        yield {"url": url, **extract_metadata(html)}

    return map_rows(docs.select("url", "html"), run, METADATA_SCHEMA)


def boilerplate_stats(blocks: DataFrame) -> DataFrame:
    """Corpus rollup for threshold tuning: per tag_path, block counts,
    content share and mean link density (one hash agg)."""
    return (
        blocks.groupBy("tag_path")
        .agg(
            F.count("*").alias("blocks"),
            F.sum(F.when(F.col("is_content"), 1).otherwise(0)).alias("content_blocks"),
            F.round(F.avg("link_density"), 4).alias("avg_link_density"),
            F.sum("n_chars").alias("chars"),
        )
        .withColumn(
            "content_share", F.round(F.col("content_blocks") / F.col("blocks"), 4)
        )
    )


# anchor href value: quoted either way or bare-unquoted; the name is
# anchored so a hyphenated `data-href=` never reads as the href
_HREF_RX = "(?i)<a\\b[^>]*(?<![\\w-])href\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)"


def html_outlinks(docs: DataFrame, html_col: str = "html", url_col: str = "url") -> DataFrame:
    """documents → (url, link_no, href): every anchor's raw href in
    document order — the crawl-graph side channel (frontier seeding,
    host-graph features, link-spam signals). Hrefs are reported as
    written (attribute text, quotes stripped, no resolution against
    the base url), so the output is a pure function of the bytes.

    Columnar end to end: one regexp_extract_all + a quote-trim
    transform + posexplode, all whole-stage codegen — rows out ∝
    anchors, the html column never reaches Python. NULL html → zero
    rows for that url."""
    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    hrefs = F.transform(
        F.regexp_extract_all(h, F.lit(_HREF_RX), F.lit(1)),
        lambda x: F.regexp_replace(x, "^[\"']|[\"']$", ""),
    )
    return docs.select(
        F.col(url_col).alias("url"), F.posexplode(hrefs).alias("link_no", "href")
    )
