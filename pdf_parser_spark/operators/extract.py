"""Distributed per-document extraction (SURVEY §3 lifecycle mapping).

Design for 10^12-document scale
-------------------------------
One document is one row, and the reference pipeline is strictly
per-document, so extraction is embarrassingly parallel **row-wise**:
a single mapInArrow pass (plans/rows.map_rows) computes toc + chunks +
validation + metrics per url with ZERO shuffles — no groupBy, no join, no window
crosses documents. The only movements are:

  1. the initial scan (parquet/Iceberg; url/text column-pruned — the
     html column is never read on this path), and
  2. a `repartition(P, xxhash64(url, salt))` that spreads hot hosts /
     mega-docs across executors before the UDF (`salted_repartition`),
     since file splits can be host-clustered. P is always explicit:
     the UDF stage is CPU-bound Python, and adaptive execution would
     otherwise coalesce its partitions by shuffle bytes into fewer,
     double-sized tasks that run as a straggler tail.

Arrow batches stay small (plans/session.py caps maxRecordsPerBatch)
because rows carry whole documents. Per-partition lineage metrics
(docs/sec, parse failures, chunk counts) are emitted as ordinary
columns and aggregated with native exprs — no side channel needed.

The per-document logic byte-matches the reference (core/pipeline.py);
SQL-expressible sub-operators additionally exist natively in
operators/toc_native.py for Catalyst-visible plans.
"""

from __future__ import annotations

import time

from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F, types as T

from ..core.pipeline import extract_document
from ..plans.rows import map_rows

CAPTION = T.StringType()

TOC_ENTRY = T.StructType(
    [
        T.StructField("doc_title", T.StringType()),
        T.StructField("section_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("full_path", T.StringType()),
    ]
)

CHUNK_EXPORT = T.StructType(
    [
        T.StructField("section_path", T.StringType()),
        T.StructField("start_heading", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("tables", T.ArrayType(CAPTION)),
        T.StructField("figures", T.ArrayType(CAPTION)),
        T.StructField("page_range", T.ArrayType(T.IntegerType())),
    ]
)

VALIDATION = T.StructType(
    [
        T.StructField("toc_section_count", T.IntegerType()),
        T.StructField("parsed_section_count", T.IntegerType()),
        T.StructField("missing_sections", T.ArrayType(T.StringType())),
        T.StructField("extra_sections", T.ArrayType(T.StringType())),
        T.StructField("out_of_order_sections", T.ArrayType(T.StringType())),
        T.StructField("matched_sections", T.ArrayType(T.StringType())),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("total_chapters", T.IntegerType()),
        T.StructField("total_sections", T.IntegerType()),
        T.StructField("total_figures", T.IntegerType()),
        T.StructField("total_tables", T.IntegerType()),
        T.StructField("avg_tokens_per_section", T.IntegerType()),
        T.StructField("sections_without_diagrams", T.ArrayType(T.StringType())),
        T.StructField("sections_without_tables", T.ArrayType(T.StringType())),
    ]
)

EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("toc_start", T.IntegerType()),
        T.StructField("toc_end", T.IntegerType()),
        T.StructField("toc", T.ArrayType(TOC_ENTRY)),
        T.StructField("chunks", T.ArrayType(CHUNK_EXPORT)),
        T.StructField("validation", VALIDATION),
        T.StructField("metrics", METRICS),
        # per-partition lineage (north_rule): stamped on every row,
        # aggregated cheaply downstream
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("extract_secs", T.DoubleType()),
    ]
)


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Spread host-clustered / mega-doc rows before the extract UDF.

    xxhash64(url, salt) is uniform even when the corpus arrives sorted
    by host (Common Crawl WARCs are), defusing partition skew from hot
    hosts. The partition count is always explicit — the caller's, else
    the session's `spark.sql.shuffle.partitions` — because adaptive
    execution leaves an explicit repartition alone. Left to AQE, this
    CPU-bound stage is sized by its few shuffle bytes: on a 4-core
    local[4] run of 8,000 docs (13 MB shuffled), 8 balanced partitions
    coalesced into 6 tasks, two of them double-sized, and the stage
    ended in a 1.5-wave straggler tail.
    """
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.xxhash64(F.col("url"), F.lit(0x5A17)))


def _extracted(url: str, text: str | None, min_dots: int, strip_dots: bool) -> dict:
    """One EXTRACTED row: the per-document pipeline plus its lineage."""
    t0 = time.perf_counter()
    r = extract_document(text, doc_title=url, min_dots=min_dots, strip_dots=strip_dots)
    ctx = TaskContext.get()
    return {
        "url": url,
        **r,
        "partition_id": ctx.partitionId() if ctx else -1,
        "extract_secs": time.perf_counter() - t0,
    }


def extract_documents(docs: DataFrame, min_dots: int = 0, strip_dots: bool = False) -> DataFrame:
    """documents(url, text, ...) → one extracted row per document.

    Column pruning: only url + text are touched; Catalyst prunes the
    rest (html binary never leaves the scan).
    """

    def run(url, text):
        yield _extracted(url, text, min_dots, strip_dots)

    return map_rows(docs.select("url", "text"), run, EXTRACTED)


def extract_documents_from_html(
    docs: DataFrame, min_dots: int = 0, strip_dots: bool = False
) -> DataFrame:
    """Same lifecycle, but the text is recovered from the `html` binary
    by the DOM-heuristic boilerplate stripper first (north_star path:
    HTML strip → layout extraction in one job).

    Because the stripper is byte-identical to the pre-extracted text on
    well-formed pages, this path produces the same toc/chunks/validation
    as the text path (asserted by tests/test_spark_extract.py). The
    strip and the extraction are one mapInArrow each — still zero
    cross-document shuffles.
    """
    from .html_extract import html_main_text

    texts = html_main_text(docs).select(
        "url", F.col("extracted_text").alias("text")
    )
    return extract_documents(texts, min_dots=min_dots, strip_dots=strip_dots)


PDF_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def pdf_pages_table(docs: DataFrame, pdf_col: str = "pdf") -> DataFrame:
    """PDF binary column → one (url, page_no, text) row per page.

    The codec seam (core/pdf_layout.decode_pdf_pages) handles real
    %PDF bytes in-container via the vendored minipdf reader — PyMuPDF/
    pdfplumber take over transparently where installed (reference
    utils.py:171-230). Decode failures become status rows (page_no 0),
    never task failures — same accounting contract as extract_documents.
    One mapInArrow pass, zero shuffles; rows out ∝ pages."""
    from ..core.pdf_layout import pdf_to_page_texts

    def run(url, data):
        try:
            pages = pdf_to_page_texts(bytes(data))
        except NotImplementedError:
            yield {"url": url, "status": "unsupported_codec", "page_no": 0}
            return
        except Exception:
            yield {"url": url, "status": "decode_error", "page_no": 0}
            return
        for page_no, text in pages:
            yield {"url": url, "status": "ok", "page_no": page_no, "text": text}
        if not pages:
            # one row per input doc, always: a zero-page document must
            # not vanish from the accounting
            yield {"url": url, "status": "empty", "page_no": 0}

    return map_rows(docs.select("url", pdf_col), run, PDF_PAGES)


def extract_documents_from_pdf(
    docs: DataFrame, pdf_col: str = "pdf", min_dots: int = 0, strip_dots: bool = False
) -> DataFrame:
    """Same lifecycle as extract_documents, but the page-marked text is
    recovered from a PDF binary column first: decode → per-page
    reading-order assembly → form-feed page markers → the standard
    per-document pipeline, in one mapInArrow pass (zero shuffles).
    Undecodable rows surface as status='error' rows with the decode
    reason, keeping the parse-failure accounting unbroken."""
    from ..core.pages import PAGE_BREAK
    from ..core.pdf_layout import pdf_to_page_texts

    def run(url, data):
        try:
            text = PAGE_BREAK.join(t for _, t in pdf_to_page_texts(bytes(data)))
        except Exception as e:
            yield {
                "url": url, "status": "error", "error": str(e)[:200], "n_pages": 0,
                "partition_id": -1, "extract_secs": 0.0,
            }
        else:
            yield _extracted(url, text, min_dots, strip_dots)

    return map_rows(docs.select("url", pdf_col), run, EXTRACTED)


def toc_table(extracted: DataFrame) -> DataFrame:
    """Flat per-row ToC table (golden output #1 shape + url)."""
    return extracted.select("url", F.explode("toc").alias("e")).select("url", "e.*")


def chunks_table(extracted: DataFrame) -> DataFrame:
    """Flat per-row chunk export table (golden output #2 shape + url)."""
    return extracted.select("url", F.explode("chunks").alias("c")).select("url", "c.*")


def validation_table(extracted: DataFrame) -> DataFrame:
    return extracted.select("url", "validation.*")


def metrics_table(extracted: DataFrame) -> DataFrame:
    return extracted.select("url", "metrics.*")


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/throughput rollup (north_rule): docs/sec,
    parse-failure rate, chunk counts — pure native agg, one shuffle."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("parse_failures"),
            F.sum(F.when(F.col("status") == "empty", 1).otherwise(0)).alias("empty_docs"),
            F.sum(F.size("chunks")).alias("chunks"),
            F.sum("n_pages").alias("pages"),
            F.sum("extract_secs").alias("busy_secs"),
        )
        .withColumn("docs_per_sec", F.col("docs") / F.greatest(F.col("busy_secs"), F.lit(1e-9)))
    )
