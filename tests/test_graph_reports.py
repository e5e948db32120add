"""toc-graph / KG triple operators + report sinks (SURVEY §2.2, §2.10)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

from pyspark.sql import Row

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.operators import extract as ox
from pdf_parser_spark.operators import graph as gr
from pdf_parser_spark.sinks import reports as rp
from pdf_parser_spark.sources.corpus import synthetic_documents


def _toc_df(spark):
    return spark.createDataFrame(
        [
            Row(url="u", section_id="1", title="Intro", page=2, parent_id=None),
            Row(url="u", section_id="1.1", title="Scope", page=3, parent_id="1"),
            Row(url="u", section_id="2", title="Body", page=5, parent_id=None),
        ]
    )


def test_toc_graph_edges_and_json(spark):
    edges = gr.toc_graph_edges(_toc_df(spark)).collect()
    assert {(e["child"], e["parent"]) for e in edges} == {("1", None), ("1.1", "1"), ("2", None)}

    g = json.loads(gr.toc_graph_json(_toc_df(spark)).collect()[0]["graph_json"])
    assert [n["section_id"] for n in g["nodes"]] == ["1", "1.1", "2"]  # page-ordered
    assert g["edges"] == [{"src": "1", "dst": "1.1"}]


def test_extract_triples_lexicon(spark):
    sents = spark.createDataFrame(
        [
            Row(url="u", sentence="USB supports power-delivery"),
            Row(url="u", sentence="cable has shielding"),
            Row(url="u", sentence="nothing relational here"),
            Row(url="u", sentence="Port provides vbus"),
        ]
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in gr.extract_triples(sents).collect()}
    assert got == {
        ("usb", "supports", "power-delivery"),
        ("cable", "has", "shielding"),  # naive one-word SVO by design
        ("port", "provides", "vbus"),
    }


def test_report_sinks_roundtrip(spark, tmp_path):
    docs = synthetic_documents(spark, 20, seed=42)
    extracted = ox.extract_documents(docs).cache()
    validation = ox.validation_table(extracted).where("toc_section_count is not null")
    metrics = ox.metrics_table(extracted).where("total_sections is not null")

    vs = rp.validation_summary(validation).collect()[0]
    assert vs["docs"] > 0 and vs["match_pct"] is not None

    report = rp.final_report(validation, metrics)
    assert set(report) == {"summary", "metrics", "missing_sections_sample", "recommendations"}
    out = tmp_path / "final_report.json"
    rp.write_report_json(report, str(out))
    assert json.loads(out.read_text())["summary"]["docs"] == vs["docs"]

    # K5 spreadsheet sink: a real .xlsx lands with or without openpyxl
    # (stdlib minixlsx fallback); verify it's a valid workbook zip
    written = rp.write_spreadsheet(
        {"validation": validation, "metrics": metrics}, str(tmp_path / "report.xlsx")
    )
    assert written == [str(tmp_path / "report.xlsx")]
    import zipfile

    with zipfile.ZipFile(written[0]) as z:
        names = set(z.namelist())
        assert "xl/workbook.xml" in names
        assert "xl/worksheets/sheet1.xml" in names and "xl/worksheets/sheet2.xml" in names
        wb = z.read("xl/workbook.xml").decode()
        assert 'name="validation"' in wb and 'name="metrics"' in wb

    # K1 JSONL sink round-trip
    rp.write_jsonl(ox.toc_table(extracted), str(tmp_path / "toc_jsonl"))
    back = spark.read.json(str(tmp_path / "toc_jsonl"))
    assert back.count() == ox.toc_table(extracted).count()
    extracted.unpersist()


def test_lenient_jsonl_reader_accounts_corrupt_lines(spark, tmp_path):
    """S3: PERMISSIVE schema-on-read surfaces malformed lines as rows
    (the reference silently skips them); reference golden JSONL loads
    clean end-to-end."""
    from pdf_parser_spark.sources import jsonl as jl

    p = tmp_path / "toc.jsonl"
    p.write_text(
        '{"doc_title": "d", "section_id": "1", "title": "Intro", "page": 4, '
        '"level": 1, "parent_id": null, "full_path": "1 Intro"}\n'
        "this is not json\n"
        '{"doc_title": "d", "section_id": "2", "title": "Body", "page": 5, '
        '"level": 1, "parent_id": null, "full_path": "2 Body"}\n'
        '{"broken": \n'
    )
    good, bad = jl.read_toc_jsonl(spark, str(p))
    assert good.count() == 2
    assert {r["section_id"] for r in good.collect()} == {"1", "2"}
    assert bad.count() == 2  # accountable, not silently dropped

    # the reference's own committed artifact parses 100% clean
    ref = "/root/reference/data/output/usb_pd_toc.jsonl"
    import os
    if os.path.exists(ref):
        g2, b2 = jl.read_toc_jsonl(spark, ref)
        assert g2.count() == 299 and b2.count() == 0


def test_coerce_chunks_column_reads_non_identifier_names(spark):
    """Kept and value columns are read by name, so a name with a space
    or a leading underscore (which itertuples would rename) works."""
    import json

    from pyspark.sql import types as T

    from pdf_parser_spark.core.matching import coerce_chunk_record
    from pdf_parser_spark.sources import jsonl as jl

    rec = json.dumps(
        {
            "start_heading": "4.2 deep title",
            "page_range": [2, 5],
            "content": "body",
            "tables": ["Table 3-2. Foo"],
            "figures": [],
        }
    )
    want = coerce_chunk_record(json.loads(rec))
    assert want["section_id"] == "4.2" and want["tables"] == ["3-2"]
    for key, col in (("doc id", "value"), ("url", "_raw")):
        schema = T.StructType([T.StructField(key, T.StringType()), T.StructField(col, T.StringType())])
        df = spark.createDataFrame([("d1", rec)], schema)
        rows = [r.asDict() for r in jl.coerce_chunks_column(df, col, keep=[key]).collect()]
        assert rows == [{key: "d1", **want}], (key, col)
