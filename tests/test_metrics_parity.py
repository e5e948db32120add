"""Metrics parity vs the reference's compiled-only module.

compute_metrics survives only as cpython-312 bytecode
(/root/reference/src/reports/__pycache__/metrics.cpython-312.pyc — the
source file is absent from the tree, SURVEY §2.8 A3). 3.12 bytecode
cannot execute in this 3.11 interpreter, so the reference side runs in
a pinned 3.12 subprocess with a models stub; both sides consume the
same loaded records produced by our pipeline.

The live comparison needs that .pyc and skips without it. Its twin,
test_compute_metrics_frozen_cases, replays the same seed-7 cases from
tests/golden/metrics_cases.jsonl (compute_metrics inputs and outputs
frozen from this engine), so compute_metrics stays pinned where the
reference is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import pdf_parser_spark.core.doc_metrics as md
import pdf_parser_spark.core.matching as mm
from pdf_parser_spark.core.pipeline import extract_document
from pdf_parser_spark.sources.synth import generate_corpus

PY312 = "/root/.pyenv/versions/3.12.1/bin/python3.12"
PYC = "/root/reference/src/reports/__pycache__/metrics.cpython-312.pyc"
CASES = Path(__file__).parent / "golden" / "metrics_cases.jsonl"

_RUNNER = r"""
import sys, types, json, marshal
src_pkg = types.ModuleType("src"); src_pkg.__path__ = []
reports_pkg = types.ModuleType("src.reports"); reports_pkg.__path__ = []
models = types.ModuleType("src.models")
class _NS:
    def __init__(self, **kw): self.__dict__.update(kw)
models.ToCEntry = _NS; models.Chunk = _NS
sys.modules.update({"src": src_pkg, "src.reports": reports_pkg, "src.models": models})
code = marshal.loads(open(sys.argv[1], "rb").read()[16:])
rmet = types.ModuleType("src.reports.metrics"); rmet.__package__ = "src.reports"
exec(code, rmet.__dict__)
results = []
for toc_dicts, ch_dicts in json.load(open(sys.argv[2])):
    toc_objs = [_NS(**t) for t in toc_dicts]
    ch_objs = []
    for c in ch_dicts:
        c2 = dict(c)
        c2["tables"] = [_NS(id=t) for t in c["tables"]]
        c2["figures"] = [_NS(id=f) for f in c["figures"]]
        ch_objs.append(_NS(**c2))
    results.append(rmet.compute_metrics(toc_objs, ch_objs))
json.dump(results, open(sys.argv[3], "w"))
"""


def test_compute_metrics_frozen_cases():
    cases = [json.loads(line) for line in CASES.read_text().splitlines()]
    assert len(cases) > 10
    for case in cases:
        assert md.compute_metrics(case["toc"], case["chunks"]) == case["metrics"], case["url"]


@pytest.mark.skipif(not shutil.which(PY312) and not os.path.exists(PY312),
                    reason="python3.12 unavailable")
@pytest.mark.skipif(not os.path.exists(PYC), reason="reference metrics .pyc absent")
def test_compute_metrics_parity(tmp_path):
    corpus = generate_corpus(40, seed=7)
    cases = []
    mine = []
    for doc in corpus:
        result = extract_document(doc["text"], doc_title=doc["url"])
        if result["status"] in ("empty", "error"):
            continue
        toc_loaded = mm.load_toc_records(result["toc"])
        chunks_loaded = [mm.coerce_chunk_record(r) for r in result["chunks"]]
        cases.append((toc_loaded, chunks_loaded))
        mine.append(md.compute_metrics(toc_loaded, chunks_loaded))
        assert result["metrics"] == mine[-1]

    cases_path = tmp_path / "cases.json"
    out_path = tmp_path / "ref.json"
    runner = tmp_path / "runner.py"
    runner.write_text(_RUNNER)
    cases_path.write_text(json.dumps(cases))
    proc = subprocess.run(
        [PY312, str(runner), PYC, str(cases_path), str(out_path)],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    expected = json.loads(out_path.read_text())
    assert len(expected) == len(mine) > 10
    for e, m in zip(expected, mine):
        assert e == m
