"""Small-file compaction job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/compact.py \
        --path /data/out/curated [--key url] [--target-mb 128]

Checkpoint-append jobs (extract/curate resume batches, streaming
micro-batches) accrete many small parquet files; at cluster scale the
scan's task count and NameNode/manifest pressure grow with file count,
not data size. This job rewrites a table into ~target-sized files:

  read → repartitionByRange(n, key)   (range layout: min/max file
                                       stats become useful for later
                                       key-range pruning; plain
                                       repartition(n) when no key)

A snapshot table (one with a `_snapshots/` log, as every job's output
is) is compacted by ONE overwrite commit of the current snapshot — the
shape of Iceberg's `rewrite_data_files`. Its summary carries no
batch_id, and older snapshots keep their files for time travel until
`expire_snapshots`. If the new snapshot's row count differs from its
parent's, the table is rolled back to the parent and the job raises.

Any other directory (a streaming sink) is rewritten to
<path>__compact_tmp, row-count checked (abort + keep original on
loss), and swapped in (original kept at <path>__old until the swap
completes).
"""

from __future__ import annotations

import argparse
import json
import math
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.plans.session import CPUS_HELP, get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402


def run(path: str, key: str | None = None, target_mb: int = 128, spark=None) -> dict:
    # the size probe and the atomic swap below use the LOCAL
    # filesystem (Path.rglob / rename); on an object-store URI the
    # probe would find 0 bytes (single-partition rewrite of the whole
    # table) and the swap would fail after the tmp write. Fail fast —
    # on Iceberg/object stores use rewrite_data_files (RUNBOOK).
    from pdf_parser_spark.fsutil import ensure_local_path

    ensure_local_path(
        path, "jobs/compact.py", remedy="use Iceberg rewrite_data_files (docs/RUNBOOK.md)"
    )
    spark = spark or get_spark(app_name="compact")
    t0 = time.perf_counter()
    p = Path(path)

    def files(*dirs: Path) -> list[Path]:
        return [f for d in dirs for f in d.rglob("*.parquet") if f.is_file()]

    snap_table = (p / "_snapshots").is_dir()
    if snap_table:
        df = sn.read(spark, path)
        files_before = files(*(p / b for b in sn.current_snapshot(path)["batches"]))
    else:
        df = spark.read.parquet(path)
        files_before = files(p)
    bytes_total = sum(f.stat().st_size for f in files_before)
    n_parts = max(1, math.ceil(bytes_total / (target_mb * 1024 * 1024)))
    out = df.repartitionByRange(n_parts, key) if key else df.repartition(n_parts)

    if snap_table:
        snap = sn.commit(spark, out, path, operation="overwrite", summary={"job": "compact"})
        parent = next(s for s in sn.snapshots(path) if s["snapshot_id"] == snap["parent_id"])
        rows = parent["total_rows"]
        if snap["batch_rows"] != rows:
            sn.rollback(path, parent["snapshot_id"])
            raise RuntimeError(
                f"compaction row-count mismatch ({rows} -> {snap['batch_rows']}); "
                f"rolled back to snapshot {parent['snapshot_id']}"
            )
        files_after = files(p / snap["new_batches"][0])
    else:
        rows = _swap(spark, out, p)
        files_after = files(p)
    return {
        "rows": rows,
        "files_before": len(files_before),
        "files_after": len(files_after),
        "bytes": bytes_total,
        "target_partitions": n_parts,
        "wall_sec": round(time.perf_counter() - t0, 2),
    }


def _swap(spark, out, p: Path) -> int:
    """Rewrite a directory with no snapshot log through a sibling tmp
    directory; returns the row count."""
    # row-count invariant rides the write itself (observe() metric):
    # one pass over the data instead of a separate count job
    from pyspark.sql import Observation, functions as F

    obs = Observation("compact_rows")
    out = out.observe(obs, F.count(F.lit(1)).alias("n"))

    tmp = str(p) + "__compact_tmp"
    old = str(p) + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    out.write.mode("overwrite").parquet(tmp)
    rows_before = obs.get["n"]

    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch ({rows_before} -> {rows_after}); original kept"
        )
    shutil.rmtree(old, ignore_errors=True)
    p.rename(old)
    Path(tmp).rename(p)
    shutil.rmtree(old, ignore_errors=True)
    return rows_before


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--path", required=True)
    ap.add_argument("--key", default=None)
    ap.add_argument("--target-mb", type=int, default=128)
    ap.add_argument("--cpus", type=int, default=None, help=CPUS_HELP)
    args = ap.parse_args()
    spark = get_spark(app_name="compact", cpus=args.cpus)
    print(json.dumps(run(args.path, key=args.key, target_mb=args.target_mb, spark=spark)))


if __name__ == "__main__":
    main()
