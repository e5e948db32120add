"""One MinHash pass per curate batch.

- The one-expression signature (operators/dedup.minhash_signatures)
  equals the signature built from 2·num_hashes Column objects bit for
  bit, for both hash families and both signature widths in use.
- A resumed curate run with near-dups, history dedup and a binding host
  cap writes the curated, quarantine and fingerprints tables that the
  two-pass implementation wrote (shingles and signatures derived once
  for near-dup and again for history dedup). Their digests are pinned
  in tests/golden/curate_resume_digests.json, produced by
  `curate_resume_digests` below on that implementation.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.functions.text_metrics import portable_hash64
from pdf_parser_spark.operators import dedup as dd
from pdf_parser_spark.sinks import snapshots as sn
from pdf_parser_spark.sources.corpus import DOCUMENTS_SCHEMA
from pdf_parser_spark.sources.synth import generate_corpus

GOLDEN = Path(__file__).parent / "golden" / "curate_resume_digests.json"
FLAGS = dict(near_dups=True, history_dedup=True, host_cap=3)


def _column_built_signatures(shingle_df, key_col: str, num_hashes: int, portable: bool):
    """num_hashes hash Columns and num_hashes min Columns, assembled into
    the signature array after the groupBy."""
    hash_fn = portable_hash64 if portable else (lambda c, seed: F.xxhash64(c, F.lit(seed)))
    hashed = shingle_df.select(
        key_col, *[hash_fn(F.col("shingle"), i).alias(f"h{i}") for i in range(num_hashes)]
    )
    mins = [F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    return (
        hashed.groupBy(key_col)
        .agg(*mins)
        .select(key_col, F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature"))
    )


@pytest.mark.parametrize("num_hashes", [32, 64])
@pytest.mark.parametrize("portable", [False, True], ids=["xxhash64", "portable"])
def test_one_expression_signature_matches_column_built(spark, num_hashes, portable):
    docs = generate_corpus(160, seed=3, mega_every=0)
    d = spark.createDataFrame([(i, r["text"]) for i, r in enumerate(docs)], "doc_id long, text string")
    sh = dd.shingles(d, key_col="doc_id")
    got = dd.minhash_signatures(sh, key_col="doc_id", num_hashes=num_hashes, portable=portable)
    want = _column_built_signatures(sh, "doc_id", num_hashes, portable)
    assert got.schema == want.schema
    rows = sorted((r["doc_id"], tuple(r["signature"])) for r in got.collect())
    assert rows == sorted((r["doc_id"], tuple(r["signature"])) for r in want.collect())
    assert len(rows) > 100 and all(len(s) == num_hashes for _, s in rows)


def _long_docs(docs: list[dict], n: int) -> list[dict]:
    return [d for d in docs if len(d["text"].split()) >= 300][:n]


def _batches() -> tuple[list[dict], list[dict]]:
    """Batch 1: 24 fresh docs, one host each. Batch 2: four batch-1 docs
    again (skipped by resume), 20 fresh docs of which 8 share one host,
    a within-batch exact twin and near twin of fresh docs, and an exact
    and a near twin of batch-1 docs under new urls."""
    batch1 = generate_corpus(24, seed=11)
    for i, d in enumerate(batch1):
        d["url"] = f"https://past{i}.example/b1/{i:03d}"
    fresh = generate_corpus(20, seed=12)
    for i, d in enumerate(fresh):
        host = "bulk.example" if i < 8 else f"fresh{i}.example"
        d["url"] = f"https://{host}/b2/{i:03d}"
    src_fresh, src_hist = _long_docs(fresh[8:], 2), _long_docs(batch1, 2)
    tail = " The revised edition adds one closing remark here."
    twins = [
        dict(src_fresh[0], url=src_fresh[0]["url"] + "/exact"),
        dict(src_fresh[1], url=src_fresh[1]["url"] + "/near", text=src_fresh[1]["text"] + tail),
        dict(src_hist[0], url="https://twins.example/hist/exact"),
        dict(src_hist[1], url="https://twins.example/hist/near", text=src_hist[1]["text"] + tail),
    ]
    return batch1, batch1[:4] + fresh + twins


def _digest(df, cols: list[str]) -> dict:
    rows = sorted(json.dumps([str(r[c]) for c in cols]) for r in df.select(*cols).collect())
    return {"rows": len(rows), "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def curate_resume_digests(spark, tmp_path: Path) -> tuple[dict, dict]:
    """Curate batch 1, resume on batch 2; returns the batch-2 metrics
    and the digests of the three tables."""
    from jobs.curate import run

    b1, b2 = _batches()
    paths = {}
    for name, rows in (("b1", b1), ("b2", b2)):
        paths[name] = str(tmp_path / f"{name}.parquet")
        cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
        spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], DOCUMENTS_SCHEMA).write.parquet(
            paths[name]
        )
    out = tmp_path / "out"
    run(paths["b1"], str(out), spark=spark, **FLAGS)
    m = run(paths["b2"], str(out), spark=spark, resume=True, **FLAGS)
    digests = {
        "curated": _digest(sn.read(spark, str(out / "curated")), ["url", "warc_ts", "html", "text", "lang"]),
        "quarantine": _digest(sn.read(spark, str(out / "quarantine")), ["url", "reason"]),
        "fingerprints": _digest(sn.read(spark, str(out / "fingerprints")), ["url", "fp", "signature"]),
    }
    return m, digests


def test_resumed_curate_tables_match_two_pass_output(spark, tmp_path):
    m, digests = curate_resume_digests(spark, tmp_path)
    # the scenario reaches every dedup stage and the cap
    for key in ("near_dup", "exact_dup", "exact_dup_history", "near_dup_history", "host_cap"):
        assert m[f"dropped_{key}"] >= 1, (key, m)
    assert digests == json.loads(GOLDEN.read_text())
