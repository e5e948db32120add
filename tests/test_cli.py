"""`python -m pdf_parser_spark` subcommand smoke (reference run.py CLI
parity surface)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.__main__ import main as cli
from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents


def test_cli_toc_chunk_validate_report(spark, tmp_path, capsys):
    corpus = str(tmp_path / "docs.parquet")
    write_documents(synthetic_documents(spark, 20, seed=42), corpus)

    cli(["extract", "--input", corpus, "--outdir", str(tmp_path / "out")])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["newly_extracted"] == 20

    cli(["toc", "--input", corpus, "--out", str(tmp_path / "toc")])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] > 0
    cli(["chunk", "--input", corpus, "--out", str(tmp_path / "chunks")])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] > 0

    cli(["validate", "--toc", str(tmp_path / "toc"),
         "--chunks", str(tmp_path / "chunks"), "--out", str(tmp_path / "v")])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] > 0

    cli(["report", "--outdir", str(tmp_path / "out"), "--out", str(tmp_path / "r.json")])
    capsys.readouterr()
    report = json.loads((tmp_path / "r.json").read_text())
    assert "summary" in report and "recommendations" in report

    cli(["html-text", "--input", corpus, "--out", str(tmp_path / "t")])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 20

    cli(["html-meta", "--input", corpus, "--out", str(tmp_path / "m")])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 20
    meta = {r["url"]: r for r in spark.read.parquet(str(tmp_path / "m")).collect()}
    # render_html titles pages with their url; the corpus's planted
    # malformed docs may lose theirs, but the well-formed majority match
    assert sum(m["title"] == u for u, m in meta.items()) >= 15
