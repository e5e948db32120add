"""Extract writes one table; the flat tables are projections of it.

`jobs/extract.py` once appended five side tables (toc, chunks,
validation, doc_metrics, lineage) per run, each under a batch=<id>
partition. Their digests for a resumed two-batch run are pinned in
tests/golden/extract_side_digests.json: sorted rows without the
`batch` column, taken from the tables as that implementation wrote
them, together with the `report` CLI's JSON for the outdir. Today the
same rows are `operators.extract` projections of `extracted`:

- toc, chunks, validation and doc_metrics over `sn.read` (the corpus);
- lineage as the union of `lineage_metrics(sn.read_incremental(t, s))`
  over the run's snapshots, because its rows are per (run, partition).
  `busy_secs` and `docs_per_sec` are wall-clock timings and are left
  out of its digest.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs.extract import run  # noqa: E402
from pdf_parser_spark.__main__ import main as cli  # noqa: E402
from pdf_parser_spark.operators import extract as ox  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402
from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents  # noqa: E402

GOLDEN = Path(__file__).parent / "golden" / "extract_side_digests.json"
LINEAGE_COLS = ["partition_id", "docs", "parse_failures", "empty_docs", "chunks", "pages"]
PARTITIONS = 4  # lineage rows are per partition: the count is pinned


def _digest(df, cols: list[str] | None = None) -> dict:
    cols = cols or df.columns
    rows = sorted(json.dumps([str(r[c]) for c in cols]) for r in df.select(*cols).collect())
    return {"rows": len(rows), "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def two_batch_outdir(spark, tmp_path: Path) -> Path:
    """40 docs: the 20 first urls in sorted order extracted, then a
    resume over all 40."""
    full = synthetic_documents(spark, 40, seed=42)
    first = sorted(r["url"] for r in full.select("url").collect())[:20]
    half_path, full_path = tmp_path / "half.parquet", tmp_path / "full.parquet"
    write_documents(full.where(F.col("url").isin(first)), str(half_path))
    write_documents(full, str(full_path))
    out = tmp_path / "out"
    run(str(half_path), str(out), spark=spark, partitions=PARTITIONS)
    run(str(full_path), str(out), resume=True, spark=spark, partitions=PARTITIONS)
    return out


def side_table_digests(spark, out: Path) -> dict:
    table = str(out / "extracted")
    extracted = sn.read(spark, table)
    lineage = None
    for s in sn.snapshots(table):
        part = ox.lineage_metrics(sn.read_incremental(spark, table, s["snapshot_id"]))
        lineage = part if lineage is None else lineage.unionByName(part)
    return {
        "toc": _digest(ox.toc_table(extracted)),
        "chunks": _digest(ox.chunks_table(extracted)),
        "validation": _digest(ox.validation_table(extracted)),
        "doc_metrics": _digest(ox.metrics_table(extracted)),
        "lineage": _digest(lineage, LINEAGE_COLS),
    }


def report_json(out: Path, tmp_path: Path) -> dict:
    path = tmp_path / "report.json"
    cli(["report", "--outdir", str(out), "--out", str(path)])
    return json.loads(path.read_text())


def test_projections_match_pinned_side_tables(spark, tmp_path):
    out = two_batch_outdir(spark, tmp_path)
    golden = json.loads(GOLDEN.read_text())
    assert side_table_digests(spark, out) == golden["digests"]
    assert report_json(out, tmp_path) == golden["report"]

