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
    → append to <outdir>/extracted            (the checkpoint itself)
    → flat side tables toc/ chunks/ validation/ doc_metrics/ lineage/
      derived from THIS batch only, appended under a batch=<id>
      partition (incremental: a resume run's side-table cost ∝ new
      docs, never corpus size), bracketed by pending→done markers so
      a crash mid-side-writes is HEALED by the next run (the batch's
      partitions are deleted and re-derived from the recorded batch
      files — idempotent)

Checkpoint/resume semantics: the extracted table IS the checkpoint —
every completed write lands a consistent batch of whole documents, and
`--resume` anti-joins its url set so a restarted job only processes
the remainder. On Iceberg this maps 1:1 to snapshot-based restart
(`overwritePartitions` + the same anti-join against the last
snapshot); parquet append is the sandbox stand-in with identical
dataflow. Idempotent per url either way.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.core.pipeline import STATUSES  # noqa: E402
from pdf_parser_spark.operators import extract as ox  # noqa: E402
from pdf_parser_spark.plans.session import get_spark  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402


def _parquet_files(path: str) -> set[str]:
    """Data-file set of a local parquet table (any partition layout)."""
    p = Path(path)
    if not p.exists():
        return set()
    return {str(f) for f in p.rglob("*.parquet") if f.is_file()}


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
    spark, out: Path, snapshots: bool, min_age_sec: float
) -> tuple[list[str], list[dict]]:
    """Crash recovery for the extracted-append → side-table gap: a
    batch whose marker is still `pending` (or, in snapshots mode, a
    committed snapshot with no marker at all) died before its side
    tables were fully appended. Delete that batch's side-table
    partition dirs (idempotent) and re-derive from the recorded batch
    files — never from the corpus.

    `min_age_sec` is the liveness grace (the remove_orphans hazard in
    reverse): a pending marker / manifest younger than it may belong
    to a job still running on this outdir, and healing it would race
    that job's own side writes. A heal entry that FAILS (its recorded
    files were compacted away, its snapshot expired) is skipped and
    reported, never allowed to brick every future run.

    Returns (healed_batch_ids, failures)."""
    import shutil
    import time as _time

    from pdf_parser_spark.sinks import snapshots as sn

    cutoff = _time.time() - min_age_sec
    markers = out / "_markers"
    todo: list[tuple[str, dict]] = []
    if markers.exists():
        for m in sorted(markers.glob("*.pending.json")):
            if m.stat().st_mtime > cutoff:
                continue  # possibly a live concurrent run
            todo.append((m.name.split(".")[0], json.loads(m.read_text())))
    if snapshots:
        # covers the residual window before the pending marker lands:
        # the snapshot log is authoritative for committed batches
        known = {bid for bid, _ in todo} | (
            {m.name.split(".")[0] for m in markers.glob("*.json")}
            if markers.exists()
            else set()
        )
        snap_dir = Path(out / "extracted") / "_snapshots"
        for s in sn.snapshots(str(out / "extracted")):
            bid = s.get("summary", {}).get("batch_id")
            if not bid or bid in known:
                continue
            man = snap_dir / f"v{s['snapshot_id']}.json"
            try:
                if man.stat().st_mtime > cutoff:
                    continue  # commit from a possibly-live run
            except OSError:
                continue
            todo.append((bid, {"snapshot_id": s["snapshot_id"]}))
    healed: list[str] = []
    failures: list[dict] = []
    for batch_id, payload in todo:
        try:
            for name in SIDE_TABLES:
                shutil.rmtree(out / name / f"batch={batch_id}", ignore_errors=True)
            if "snapshot_id" in payload:
                batch = sn.read_incremental(
                    spark, str(out / "extracted"), payload["snapshot_id"]
                )
            elif "files" in payload:
                files = payload["files"]
                batch = spark.read.parquet(*files) if files else None
            else:
                # pre-write marker (crash before/during the extracted
                # append): the batch is whatever the table has beyond
                # the recorded pre-write file set — no other writer
                # ran, so the diff IS the dead run's batch
                before = set(payload["before_files"])
                files = sorted(_parquet_files(str(out / "extracted")) - before)
                batch = spark.read.parquet(*files) if files else None
            if batch is not None:
                _write_side_tables(out, batch, batch_id)
            _finish_marker(out, batch_id, payload)
            healed.append(batch_id)
        except Exception as e:  # isolate: one stale marker must not
            failures.append({"batch_id": batch_id, "error": str(e)[:300]})
    return healed, failures


def _pending_marker(out: Path, batch_id: str, payload: dict) -> None:
    markers = out / "_markers"
    markers.mkdir(parents=True, exist_ok=True)
    (markers / f"{batch_id}.pending.json").write_text(json.dumps(payload))


def _finish_marker(out: Path, batch_id: str, payload: dict) -> None:
    import os

    markers = out / "_markers"
    markers.mkdir(parents=True, exist_ok=True)
    done = markers / f"{batch_id}.done.json"
    pending = markers / f"{batch_id}.pending.json"
    done.write_text(json.dumps(payload))
    if pending.exists():
        os.remove(pending)


def run(
    input_path: str,
    outdir: str,
    resume: bool = False,
    partitions: int | None = None,
    cpus: int | None = None,
    spark=None,
    url_buckets: int | None = None,
    snapshots: bool = False,
    heal_min_age_sec: float = 3600.0,
    input_format: str = "parquet",
) -> dict:
    """`url_buckets=N` writes the extracted table partitioned by
    `url_bucket = pmod(xxhash64(url), N)` — the parquet stand-in for
    Iceberg's `bucket(N, url)` partition spec: point lookups and the
    resume anti-join prune to one bucket directory, and downstream
    url-keyed joins co-locate.

    `snapshots=True` commits each batch through the snapshot-manifest
    layer (sinks/snapshots.py) instead of a plain directory append:
    every run lands an atomic, time-travelable snapshot, and resume
    anti-joins the CURRENT snapshot's url set — the literal
    Iceberg-checkpoint shape of the north rule."""
    if url_buckets and snapshots:
        raise ValueError("url_buckets and snapshots are separate layouts; pick one")
    from pdf_parser_spark.fsutil import ensure_local_path

    # side-table batch tracking + the snapshot manifest log use
    # local-FS semantics; on a cluster, outdir is an Iceberg table and
    # the incremental scan replaces the file diff
    ensure_local_path(outdir, "jobs/extract.py")
    spark = spark or get_spark(app_name="extract-job", cpus=cpus)
    out = Path(outdir)
    extracted_path = str(out / "extracted")

    import uuid

    from pyspark.errors import AnalysisException

    from pdf_parser_spark.sinks import snapshots as sn

    # heal any batch whose previous run died between the extracted
    # append and the side-table appends (see _heal_incomplete_batches)
    healed, heal_failures = _heal_incomplete_batches(
        spark, out, snapshots, heal_min_age_sec
    )

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
    if resume:
        try:
            done_tbl = (
                sn.read(spark, extracted_path)
                if snapshots
                else spark.read.parquet(extracted_path)
            )
        except FileNotFoundError:
            done_tbl = None  # fresh snapshot table → full run
        except AnalysisException as e:
            # ONLY missing-table means "nothing extracted yet"; a
            # corrupt manifest / unreadable checkpoint must abort, or
            # the job silently re-extracts and appends duplicates
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                done_tbl = None
            else:
                raise
        if done_tbl is not None:
            done = done_tbl.select("url").distinct()
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
    snap = None
    if snapshots:
        snap = sn.commit(
            spark, extracted, extracted_path,
            summary={"job": "extract", "resume": resume, "batch_id": batch_id},
        )
        new_batch = sn.read_incremental(spark, extracted_path, snap["snapshot_id"])
        marker_payload = {"snapshot_id": snap["snapshot_id"]}
    else:
        # plain-append stand-in for the Iceberg incremental scan:
        # file-set diff around the write identifies the new batch. The
        # PRE-write marker closes the crash window between the append
        # finishing and the post-write marker landing: heal re-diffs
        # against the recorded pre-write file set (no commit log to
        # consult in this mode)
        before = _parquet_files(extracted_path)
        _pending_marker(out, batch_id, {"before_files": sorted(before)})
        if url_buckets:
            bucketed = extracted.withColumn(
                "url_bucket", F.pmod(F.xxhash64("url"), F.lit(url_buckets))
            )
            bucketed.write.mode("append").partitionBy("url_bucket").parquet(extracted_path)
        else:
            extracted.write.mode("append").parquet(extracted_path)
        new_files = sorted(_parquet_files(extracted_path) - before)
        new_batch = spark.read.parquet(*new_files) if new_files else None
        marker_payload = {"files": new_files}
    wall = time.perf_counter() - t0

    # side tables derive from THIS batch only and APPEND — they are
    # row-wise per-url projections, so append composes, and a resume
    # run that adds 0.1% new docs touches 0.1% of the data instead of
    # overwrite-rewriting corpus-sized tables (the r3 scale-killer).
    # Reading the just-written batch back from disk keeps every stage
    # restartable without re-running the extract UDF; the pending→done
    # marker brackets the side writes so a crash between them is
    # healed (re-derived, not lost) by the next run.
    n_new = 0
    status_counts: dict[str, int] = {}
    t_side0 = time.perf_counter()
    # refresh the marker to the precise batch payload (plain mode
    # upgrades the pre-write {before_files} form; snapshot mode
    # creates it), so a crash inside the side writes heals from the
    # exact file list / snapshot id
    _pending_marker(out, batch_id, marker_payload)
    if new_batch is not None:
        n_new, status_counts = _write_side_tables(out, new_batch, batch_id)
    _finish_marker(out, batch_id, marker_payload)
    side_sec = time.perf_counter() - t_side0

    # totals: snapshots mode reads the manifest's running total (also
    # covers pre-existing batches a non-resume append chained onto).
    # Plain mode: after a resume the anti-join already established
    # n_already, so n_already + n_new composes without touching the
    # table; only a NON-resume run over a pre-existing table (where
    # rows pre-date this run's knowledge) needs the footer-only count
    if snap is not None:
        n_total = snap["total_rows"]
    elif resume or not before:
        n_total = n_already + n_new
    else:
        n_total = spark.read.parquet(extracted_path).count()
    summary = {
        "input_docs": n_input,
        "already_extracted": n_already,
        "newly_extracted": n_new,
        "total_extracted": n_total,
        "wall_sec_extract": round(wall, 2),
        "wall_sec_side_tables": round(side_sec, 2),
        "docs_per_sec": round(n_new / wall, 2) if wall > 0 else None,
        "status_counts": status_counts,
        "side_table_rows_processed": n_new,
        "batch_id": batch_id,
    }
    if healed:
        summary["healed_batches"] = healed
    if heal_failures:
        # surfaced, not fatal: a stale marker (files compacted away,
        # snapshot expired) needs operator attention but must not
        # brick every future run
        summary["heal_failures"] = heal_failures
    if snap is not None:
        summary["snapshot_id"] = snap["snapshot_id"]
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
    ap.add_argument("--url-buckets", type=int, default=None)
    ap.add_argument("--snapshots", action="store_true")
    ap.add_argument(
        "--input-format", choices=("parquet", "warc"), default="parquet",
        help="warc: read Common Crawl-style .warc/.warc.gz archives "
        "(html recovered via the DOM stripper)",
    )
    ap.add_argument(
        "--heal-min-age", type=float, default=3600.0,
        help="seconds a pending marker/manifest must be stale before the "
        "heal pass claims it (guards against racing a live run)",
    )
    args = ap.parse_args()
    summary = run(
        args.input, args.outdir, args.resume, args.partitions, args.cpus,
        url_buckets=args.url_buckets, snapshots=args.snapshots,
        heal_min_age_sec=args.heal_min_age, input_format=args.input_format,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
