"""Resumable distributed extraction job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/extract.py \
        --input  /data/documents.parquet \
        --outdir /data/out \
        [--resume] [--partitions 2048] [--cpus 32]

Pipeline (SURVEY §3 lifecycle → north_rule operational contract):

  documents(url, warc_ts, html, text, lang)
    → anti-join already-extracted urls        (resume checkpoint)
    → salted repartition xxhash64(url, salt)  (host/mega-doc skew)
    → mapInPandas per-document extraction     (zero further shuffles)
    → commit to <outdir>/extracted            (the checkpoint itself)
    → flat side tables toc/ chunks/ validation/ doc_metrics/ lineage/
      derived from THIS batch only, appended under a batch=<id>
      partition (incremental: a resume run's side-table cost ∝ new
      docs, never corpus size), closed by a done marker so a crash
      mid-side-writes is HEALED by the next run (the batch's
      partitions are deleted and re-derived from the committed
      snapshot — idempotent)

Checkpoint/resume semantics: the extracted table IS the checkpoint.
It is a snapshot table (sinks/snapshots.py): each run commits one
atomic batch of whole documents, and `--resume` anti-joins the CURRENT
snapshot's url set so a restarted job only processes the remainder.
On Iceberg this maps 1:1 to snapshot-based restart (the same
anti-join against the last snapshot). Idempotent per url. A corrupt
manifest, or an outdir whose extracted table is plain parquet with no
snapshot log, aborts the resume instead of re-extracting everything.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.core.pipeline import STATUSES  # noqa: E402
from pdf_parser_spark.operators import extract as ox  # noqa: E402
from pdf_parser_spark.plans.session import get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402


SIDE_TABLES = ("toc", "chunks", "validation", "doc_metrics", "lineage")


def _write_side_tables(out: Path, new_batch, batch_id: str) -> tuple[int, dict[str, int]]:
    """Derive the five side tables from one extracted batch and append,
    each partitioned by a literal batch column. The partition makes a
    batch's side rows individually addressable (<side>/batch=<id>/), so
    a crash mid-way is healed by deleting those directories and
    re-appending — idempotent, no dedup pass over corpus-sized tables.
    Returns the batch row count and its per-status counts (zero counts
    omitted), both observe()d on the toc write: they attest the rows
    the WRITE itself consumed, not a separate job."""
    from pyspark.sql import Observation

    for name in SIDE_TABLES:
        d = out / name
        if d.exists() and any(d.glob("*.parquet")):
            # root-level part files = the pre-round-4 unpartitioned
            # layout; mixing it with batch=<id> dirs makes the table
            # unreadable ('conflicting directory structures')
            raise ValueError(
                f"side table {d} has the legacy unpartitioned layout; "
                "use a fresh outdir (or move the old files under a "
                "batch=legacy/ subdirectory) before resuming"
            )

    tag = F.lit(batch_id).alias("batch")
    obs = Observation()
    observed = new_batch.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *(F.count_if(F.col("status") == s).alias(s) for s in STATUSES),
    )
    for name, fn in (
        ("toc", ox.toc_table),
        ("chunks", ox.chunks_table),
        ("validation", ox.validation_table),
        ("doc_metrics", ox.metrics_table),
        ("lineage", ox.lineage_metrics),
    ):
        src = observed if name == "toc" else new_batch
        fn(src).select("*", tag).write.mode("append").partitionBy("batch").parquet(
            str(out / name)
        )
    got = obs.get
    return int(got["rows"]), {s: int(got[s]) for s in STATUSES if got[s]}


def _heal_incomplete_batches(
    spark, out: Path, min_age_sec: float
) -> tuple[list[str], list[dict]]:
    """Crash recovery for the extracted-commit → side-table gap: a
    snapshot whose batch has no done marker died before its side
    tables were fully appended. Delete that batch's side-table
    partition dirs (idempotent) and re-derive them from the snapshot's
    incremental scan — never from the corpus. Snapshots without a
    batch_id (compaction, rollback) add no extract batch and are
    skipped.

    `min_age_sec` is the liveness grace (the remove_orphans hazard in
    reverse): a manifest younger than it may belong to a job still
    running on this outdir, and healing it would race that job's own
    side writes. A heal entry that FAILS (its batch directory is gone)
    is skipped and reported, never allowed to brick every future run.

    Returns (healed_batch_ids, failures)."""
    import shutil

    table = out / "extracted"
    cutoff = time.time() - min_age_sec
    healed: list[str] = []
    failures: list[dict] = []
    for snap in sn.snapshots(str(table)):
        batch_id, snap_id = snap["summary"].get("batch_id"), snap["snapshot_id"]
        if not batch_id or (out / "_markers" / f"{batch_id}.done.json").exists():
            continue  # not an extract batch, or already done
        try:
            if (table / "_snapshots" / f"v{snap_id}.json").stat().st_mtime > cutoff:
                continue  # a commit from a possibly-live run
        except OSError:
            continue  # its manifest was expired meanwhile
        try:
            batch = sn.read_incremental(spark, str(table), snap_id)
            for name in SIDE_TABLES:
                shutil.rmtree(out / name / f"batch={batch_id}", ignore_errors=True)
            if batch is not None:
                _write_side_tables(out, batch, batch_id)
            _finish_marker(out, batch_id, snap_id)
            healed.append(batch_id)
        except Exception as e:  # isolate: one stale batch must not
            failures.append({"batch_id": batch_id, "error": str(e)[:300]})
    return healed, failures


def _finish_marker(out: Path, batch_id: str, snapshot_id: int) -> None:
    markers = out / "_markers"
    markers.mkdir(parents=True, exist_ok=True)
    (markers / f"{batch_id}.done.json").write_text(json.dumps({"snapshot_id": snapshot_id}))


def run(
    input_path: str,
    outdir: str,
    resume: bool = False,
    partitions: int | None = None,
    cpus: int | None = None,
    spark=None,
    heal_min_age_sec: float = 3600.0,
    input_format: str = "parquet",
) -> dict:
    from pdf_parser_spark.fsutil import ensure_local_path

    # side-table batch tracking + the snapshot manifest log use
    # local-FS semantics; on a cluster, outdir is an Iceberg table
    ensure_local_path(outdir, "jobs/extract.py")
    spark = spark or get_spark(app_name="extract-job", cpus=cpus)
    out = Path(outdir)
    extracted_path = str(out / "extracted")

    # heal any batch whose previous run died between the extracted
    # commit and the side-table appends (see _heal_incomplete_batches)
    healed, heal_failures = _heal_incomplete_batches(spark, out, heal_min_age_sec)

    if input_format == "warc":
        # Common Crawl's native container: archives → documents rows
        # (html binary; text recovered by the DOM stripper inside the
        # extraction pass below)
        from pdf_parser_spark.sources.warc import warc_to_documents

        docs = warc_to_documents(spark, input_path)
    elif input_format == "parquet":
        docs = read_documents(spark, input_path)
    else:
        raise ValueError(f"unknown input_format {input_format!r} (parquet|warc)")
    n_input = docs.count()

    n_already = 0
    # ONLY an empty table means "nothing extracted yet"; a corrupt
    # manifest or a plain-parquet table raises, or the job would
    # silently re-extract and append duplicates
    done = sn.read_or_none(spark, extracted_path) if resume else None
    if done is not None:
        done = done.select("url").distinct()
        n_already = done.count()
        # broadcast when the processed set is small; Catalyst/AQE
        # picks SMJ automatically once it grows past the threshold
        docs = docs.join(done, on="url", how="left_anti")

    todo = ox.salted_repartition(docs, partitions)
    extracted = (
        ox.extract_documents_from_html(todo)
        if input_format == "warc"
        else ox.extract_documents(todo)
    )
    batch_id = uuid.uuid4().hex
    t0 = time.perf_counter()
    snap = sn.commit(
        spark, extracted, extracted_path,
        summary={"job": "extract", "resume": resume, "batch_id": batch_id},
    )
    wall = time.perf_counter() - t0

    # side tables derive from THIS batch only and APPEND — they are
    # row-wise per-url projections, so append composes, and a resume
    # run that adds 0.1% new docs touches 0.1% of the data instead of
    # overwrite-rewriting corpus-sized tables (the r3 scale-killer).
    # Reading the just-committed batch back keeps every stage
    # restartable without re-running the extract UDF; the done marker
    # closes the side writes, so a crash before it is healed
    # (re-derived, not lost) by the next run. An empty batch published
    # no snapshot (the commit returned the unchanged head), so it gets
    # no side rows and no marker.
    t_side0 = time.perf_counter()
    n_new, status_counts = 0, {}
    if snap is not None and snap["summary"].get("batch_id") == batch_id:
        new_batch = sn.read_incremental(spark, extracted_path, snap["snapshot_id"])
        n_new, status_counts = _write_side_tables(out, new_batch, batch_id)
        _finish_marker(out, batch_id, snap["snapshot_id"])
    else:
        batch_id = None
    side_sec = time.perf_counter() - t_side0

    summary = {
        "input_docs": n_input,
        "already_extracted": n_already,
        "newly_extracted": n_new,
        "total_extracted": snap["total_rows"] if snap else 0,
        "wall_sec_extract": round(wall, 2),
        "wall_sec_side_tables": round(side_sec, 2),
        "docs_per_sec": round(n_new / wall, 2) if wall > 0 else None,
        "status_counts": status_counts,
        "side_table_rows_processed": n_new,
        "batch_id": batch_id,
        "snapshot_id": snap["snapshot_id"] if snap else None,
    }
    if healed:
        summary["healed_batches"] = healed
    if heal_failures:
        # surfaced, not fatal: a stale batch (its directory deleted)
        # needs operator attention but must not brick every future run
        summary["heal_failures"] = heal_failures
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--partitions", type=int, default=None,
        help="task count of the extraction UDF stage (default: the session's "
        "spark.sql.shuffle.partitions). Always applied as an explicit "
        "repartition: the stage is CPU-bound Python, and adaptive execution "
        "would otherwise size it by shuffle bytes and merge it into fewer, "
        "longer tasks",
    )
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--input-format", choices=("parquet", "warc"), default="parquet",
        help="warc: read Common Crawl-style .warc/.warc.gz archives "
        "(html recovered via the DOM stripper)",
    )
    ap.add_argument(
        "--heal-min-age", type=float, default=3600.0,
        help="seconds a manifest with no done marker must be stale before "
        "the heal pass claims it (guards against racing a live run)",
    )
    args = ap.parse_args()
    summary = run(
        args.input, args.outdir, args.resume, args.partitions, args.cpus,
        heal_min_age_sec=args.heal_min_age, input_format=args.input_format,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
