"""Per-document output of core.pipeline.extract_document, frozen.

tests/golden/extract_digests.jsonl holds one line per document of three
synthetic corpora: generate_corpus(120, seed=42), generate_corpus(120,
seed=7) and 400 docs of the benchmark mix (make_document(i, seed=7,
mega=i % 40 == 0)), which pins the mega-doc path. Each line carries the
url, the status and a sha256 over canonical JSON of toc, chunks,
validation, metrics, n_pages, toc_start and toc_end. An error row's
traceback is reduced to its last "Type: message" line, because the
file paths and line numbers in it move with any edit.

The seed42 and seed7 corpora begin with generate_corpus(60, seed=s),
the corpora of tests/test_golden_pipeline.py's live comparison against
the reference, so these digests are that test's fixture twin where the
reference checkout is absent.

Any rewrite of the core must leave every digest unchanged. Regenerate
the file (`python tests/test_extract_golden.py`) only for an intended
output change, and say so in the change's notes.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.core.pipeline import extract_document
from pdf_parser_spark.sources.synth import generate_corpus, make_document

GOLDEN = Path(__file__).resolve().parent / "golden" / "extract_digests.jsonl"
_DIGESTED = ("toc", "chunks", "validation", "metrics", "n_pages", "toc_start", "toc_end")


def _corpora() -> dict[str, list[dict]]:
    return {
        "seed42": generate_corpus(120, seed=42),
        "seed7": generate_corpus(120, seed=7),
        "bench_mix7": [make_document(i, seed=7, mega=i % 40 == 0) for i in range(400)],
    }


def digest_rows() -> list[dict]:
    rows = []
    for corpus, docs in _corpora().items():
        for doc in docs:
            r = extract_document(doc["text"], doc_title=doc["url"])
            payload = {k: r[k] for k in _DIGESTED}
            if r["status"] == "error":
                payload["error"] = r["error"].strip().splitlines()[-1]
            canon = json.dumps(payload, sort_keys=True, ensure_ascii=False, separators=(",", ":"))
            rows.append(
                {
                    "corpus": corpus,
                    "url": doc["url"],
                    "status": r["status"],
                    "sha256": hashlib.sha256(canon.encode()).hexdigest(),
                }
            )
    return rows


def test_extract_document_matches_golden_digests():
    want = [json.loads(line) for line in GOLDEN.read_text().splitlines()]
    got = digest_rows()
    assert len(got) == len(want) == 640
    diff = [(g["corpus"], g["url"]) for g, w in zip(got, want) if g != w]
    assert not diff, f"{len(diff)} docs changed, first: {diff[:5]}"


@pytest.mark.parametrize("seed", [42, 7])
def test_golden_pipeline_corpus_is_digested_prefix(seed):
    assert generate_corpus(60, seed=seed) == generate_corpus(120, seed=seed)[:60]


if __name__ == "__main__":
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text("".join(json.dumps(r) + "\n" for r in digest_rows()))
