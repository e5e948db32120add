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
  - each is a single scan-local pass (html_main_text a mapInArrow
    that reads and writes Arrow batches with no pandas step, the
    others mapInPandas): zero shuffles, the html binary column is the
    only heavy input and is pruned everywhere else (Catalyst reads it
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

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.html_extract import (
    METADATA_FIELDS,
    classify_block,
    extract_main_text,
    extract_metadata,
    segment_blocks,
)

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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for url, html in zip(batch["url"], batch["html"]):
                for b in segment_blocks(html):
                    rows.append(
                        {
                            "url": url,
                            "block_no": b.block_no,
                            "tag_path": b.tag_path,
                            "depth": b.depth,
                            "text": b.text,
                            "n_chars": b.n_chars,
                            "link_density": b.link_density,
                            "is_content": classify_block(b, max_link_density, min_chars),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in BLOCK_SCHEMA.fields])

    return docs.select("url", "html").mapInPandas(run, schema=BLOCK_SCHEMA)


def html_main_text(
    docs: DataFrame,
    separator: str = "\f",
    max_link_density: float = 0.33,
    min_chars: int = 1,
) -> DataFrame:
    """documents → (url, extracted_text) boilerplate-stripped."""
    schema = to_arrow_schema(TEXT_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts, n_blocks, n_content_blocks = [], [], []
            for html in batch.column("html").to_pylist():
                blocks = segment_blocks(html)
                kept = [b.text for b in blocks if classify_block(b, max_link_density, min_chars)]
                texts.append(separator.join(kept))
                n_blocks.append(len(blocks))
                n_content_blocks.append(len(kept))
            cols = [batch.column("url").to_pylist(), texts, n_blocks, n_content_blocks]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
            )

    return docs.select("url", "html").mapInArrow(run, schema=TEXT_SCHEMA)


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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sep_len = len(separator)
        for batch in batches:
            rows = []
            for url, html in zip(batch["url"], batch["html"]):
                pos = 0
                for b in segment_blocks(html):
                    if not classify_block(b, max_link_density, min_chars):
                        continue
                    start = pos if pos == 0 else pos + sep_len
                    end = start + len(b.text)
                    rows.append(
                        {
                            "url": url,
                            "block_no": b.block_no,
                            "char_start": start,
                            "char_end": end,
                            "tag_path": b.tag_path,
                        }
                    )
                    pos = end
            yield pd.DataFrame(rows, columns=[f.name for f in SPAN_SCHEMA.fields])

    return docs.select("url", "html").mapInPandas(run, schema=SPAN_SCHEMA)


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

    Plan shape: one scan-local mapInPandas over (url, html) — zero
    shuffles, rows out == rows in, the html binary never leaves the
    task; same scale posture as html_main_text above."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in METADATA_SCHEMA.fields]
        for batch in batches:
            rows = [
                {"url": url, **extract_metadata(html)}
                for url, html in zip(batch["url"], batch["html"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("url", "html").mapInPandas(run, schema=METADATA_SCHEMA)


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
