"""Distributed extraction == local core pipeline, byte-for-byte per url."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pdf_parser_spark.core.pipeline import extract_document
from pdf_parser_spark.operators import extract as ox
from pdf_parser_spark.sources.corpus import synthetic_documents, synthetic_documents_distributed
from pdf_parser_spark.sources.synth import generate_corpus

N_DOCS = 40


def test_extract_matches_core(spark):
    docs = synthetic_documents(spark, N_DOCS, seed=42, partitions=8)
    extracted = ox.extract_documents(ox.salted_repartition(docs, 8)).cache()

    got = {r["url"]: r.asDict(recursive=True) for r in extracted.collect()}
    assert len(got) == N_DOCS

    for doc in generate_corpus(N_DOCS, seed=42):
        expected = extract_document(doc["text"], doc_title=doc["url"])
        g = got[doc["url"]]
        assert g["status"] == expected["status"], doc["url"]
        assert g["toc"] == expected["toc"], doc["url"]
        # chunk content byte identity is THE correctness metric
        assert g["chunks"] == expected["chunks"], doc["url"]
        assert (g["validation"] or None) == expected["validation"] or (
            g["validation"] == expected["validation"]
        ), doc["url"]
        if expected["metrics"] is not None:
            assert g["metrics"] == expected["metrics"], doc["url"]

    # flat tables explode cleanly
    assert ox.toc_table(extracted).count() == sum(len(v["toc"]) for v in got.values())
    assert ox.chunks_table(extracted).count() == sum(len(v["chunks"]) for v in got.values())

    lineage = ox.lineage_metrics(extracted).collect()
    assert sum(r["docs"] for r in lineage) == N_DOCS
    assert all(r["docs_per_sec"] > 0 for r in lineage)
    extracted.unpersist()


def test_extract_plan_prunes_columns(spark, tmp_path):
    """The extract path must never read the html binary column: the
    parquet ReadSchema has to collapse to url+text."""
    path = str(tmp_path / "docs.parquet")
    synthetic_documents(spark, 4, seed=1).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = ox.extract_documents(docs)._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "html" not in read_schema[0], read_schema[0]
    assert "url" in read_schema[0] and "text" in read_schema[0], read_schema[0]


def test_distributed_corpus_equals_driver_corpus(spark):
    """synthetic_documents_distributed builds each doc on the executors
    from (doc_id, seed): the same rows as the driver-side corpus,
    timestamps and html bytes included (1-in-40 mega-docs among them)."""
    cols = ["url", "warc_ts", "html", "text", "lang"]
    driver = synthetic_documents(spark, 200, seed=7).select(*cols).collect()
    dist = synthetic_documents_distributed(spark, 200, seed=7, partitions=4).select(*cols).collect()
    assert sum(len(r["text"] or "") > 20_000 for r in driver) >= 3
    assert sorted(map(tuple, dist)) == sorted(map(tuple, driver))


def test_validate_distributed_matches_inline_validation(spark):
    """The cogrouped table-level validator must reproduce the one-pass
    extractor's per-document ValidationReport exactly (same core, same
    greedy fuzzy semantics) when fed the extractor's own sink tables."""
    from pyspark.sql import functions as F
    from pdf_parser_spark.operators import extract as ox
    from pdf_parser_spark.operators.validate_dist import validate_distributed
    from pdf_parser_spark.sources.corpus import synthetic_documents, synthetic_documents_distributed

    docs = synthetic_documents(spark, 30, seed=42)
    extracted = ox.extract_documents(docs).cache()
    toc = ox.toc_table(extracted)
    chunks = ox.chunks_table(extracted)

    got = {r["url"]: r.asDict() for r in validate_distributed(toc, chunks).collect()}
    want_df = ox.validation_table(extracted).where(F.col("toc_section_count").isNotNull())
    want = {r["url"]: r.asDict() for r in want_df.collect()}

    # the inline path validates every doc that produced a report; the
    # table path sees only urls with toc or chunk rows — compare those
    for url, w in want.items():
        if url not in got:
            assert w["toc_section_count"] == 0 and w["parsed_section_count"] == 0
            continue
        g = got[url]
        for k in ("toc_section_count", "parsed_section_count"):
            assert g[k] == w[k], (url, k)
        for k in ("missing_sections", "extra_sections", "out_of_order_sections",
                  "matched_sections"):
            assert list(g[k]) == list(w[k]), (url, k)
    extracted.unpersist()


def test_extract_from_html_equals_text_path(spark):
    """north_star loop closure: html → DOM strip → extraction produces
    the same toc/chunks/validation as the pre-extracted text path on
    well-formed pages (the stripper is byte-identical there)."""
    from pdf_parser_spark.operators import extract as ox
    from pdf_parser_spark.sources.corpus import synthetic_documents, synthetic_documents_distributed

    docs = synthetic_documents(spark, 25, seed=42).where("text != ''")
    via_text = ox.extract_documents(docs)
    via_html = ox.extract_documents_from_html(docs)

    t = {r["url"]: r for r in via_text.select("url", "status", "n_pages", "toc", "chunks").collect()}
    h = {r["url"]: r for r in via_html.select("url", "status", "n_pages", "toc", "chunks").collect()}
    assert set(t) == set(h)
    for url in t:
        assert t[url]["status"] == h[url]["status"], url
        assert t[url]["n_pages"] == h[url]["n_pages"], url
        assert t[url]["toc"] == h[url]["toc"], url
        assert t[url]["chunks"] == h[url]["chunks"], url


def test_extract_from_real_pdf_binaries_matches_text_path(spark):
    """REAL %PDF bytes (vendored minipdf writer) through the
    distributed pipeline: decode → page assembly → extraction must
    byte-match the text path on the decoded text, and corrupt PDFs
    must surface as accounted error rows, not task failures."""
    from pdf_parser_spark.core import minipdf
    from pdf_parser_spark.core.pages import PAGE_BREAK

    n = 8
    rows_pdf, rows_text = [], []
    for doc in generate_corpus(n, seed=42):
        pages = []
        kept_pages = []
        for page in (doc["text"] or "").split(PAGE_BREAK):
            lines = [ln for ln in page.splitlines() if ln.strip()]
            pages.append([(72.0, 20.0 * i, ln) for i, ln in enumerate(lines)])
            kept_pages.append("\n".join(lines))
        rows_pdf.append((doc["url"], bytearray(minipdf.encode_pdf(pages))))
        rows_text.append((doc["url"], PAGE_BREAK.join(kept_pages)))
    rows_pdf.append(("corrupt://doc", bytearray(b"%PDF-1.4\nbroken")))

    pdf_df = spark.createDataFrame(rows_pdf, "url: string, pdf: binary")
    txt_df = spark.createDataFrame(rows_text, "url: string, text: string")

    via_pdf = {
        r["url"]: r.asDict(recursive=True)
        for r in ox.extract_documents_from_pdf(pdf_df).collect()
    }
    via_txt = {
        r["url"]: r.asDict(recursive=True)
        for r in ox.extract_documents(txt_df).collect()
    }
    assert len(via_pdf) == n + 1
    bad = via_pdf.pop("corrupt://doc")
    assert bad["status"] == "error" and "minipdf" in bad["error"]
    for url, t in via_txt.items():
        p = via_pdf[url]
        assert p["status"] == t["status"], url
        assert p["n_pages"] == t["n_pages"], url
        assert p["toc"] == t["toc"], url
        assert p["chunks"] == t["chunks"], url

    # per-page table shape + failure accounting
    pages_tbl = ox.pdf_pages_table(pdf_df).collect()
    by_status = {}
    for r in pages_tbl:
        by_status[r["status"]] = by_status.get(r["status"], 0) + 1
    assert by_status.get("decode_error") == 1
    assert by_status.get("ok", 0) == sum(
        t["n_pages"] for t in via_txt.values() if t["n_pages"]
    )
