"""Resumable distributed extraction job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/extract.py \
        --input  /data/documents.parquet \
        --outdir /data/out \
        [--resume] [--partitions 2048] [--cpus 32]

Pipeline (SURVEY §3 lifecycle → north_rule operational contract):

  documents(url, warc_ts, html, text, lang)
    → anti-join already-extracted urls        (resume checkpoint)
    → salted repartition xxhash64(url, salt)  (host/mega-doc skew)
    → mapInArrow per-document extraction      (zero further shuffles)
    → commit to <outdir>/extracted            (the checkpoint itself)

`extracted` is the only table the job writes. The flat tables are
projections of it, read on demand (operators/extract.py):

  ox.toc_table / chunks_table / validation_table / metrics_table
      (sn.read(spark, "<outdir>/extracted"))          whole corpus
  ox.lineage_metrics(sn.read_incremental(spark, "<outdir>/extracted", s))
                                                       one run's partitions

Checkpoint/resume semantics: the extracted table IS the checkpoint.
It is a snapshot table (sinks/snapshots.py): each run commits one
atomic batch of whole documents, and `--resume` anti-joins the CURRENT
snapshot's url set so a restarted job only processes the remainder.
On Iceberg this maps 1:1 to snapshot-based restart (the same
anti-join against the last snapshot). Idempotent per url. The commit
is the whole recovery story: a run that dies before it leaves an
orphan batch directory no reader sees (`sn.remove_orphans` deletes
it), and one that dies after it has nothing left to do. A corrupt
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

from pyspark.sql import Observation, functions as F  # noqa: E402

from pdf_parser_spark.core.pipeline import STATUSES  # noqa: E402
from pdf_parser_spark.operators import extract as ox  # noqa: E402
from pdf_parser_spark.plans.session import CPUS_HELP, get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402


def run(
    input_path: str,
    outdir: str,
    resume: bool = False,
    partitions: int | None = None,
    cpus: int | None = None,
    spark=None,
    input_format: str = "parquet",
) -> dict:
    from pdf_parser_spark.fsutil import ensure_local_path

    # the snapshot manifest log uses local-FS semantics; on a cluster,
    # outdir is an Iceberg table
    ensure_local_path(outdir, "jobs/extract.py")
    spark = spark or get_spark(app_name="extract-job", cpus=cpus)
    extracted_path = str(Path(outdir) / "extracted")

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
    # the batch's row and status counts are observed on the commit's
    # own write, not recounted by a later action
    obs = Observation()
    extracted = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *(F.count_if(F.col("status") == s).alias(s) for s in STATUSES),
    )
    batch_id = uuid.uuid4().hex
    t0 = time.perf_counter()
    snap = sn.commit(
        spark, extracted, extracted_path,
        summary={"job": "extract", "resume": resume, "batch_id": batch_id},
    )
    wall = time.perf_counter() - t0
    got = obs.get
    n_new = int(got["rows"])
    if snap is None or snap["summary"].get("batch_id") != batch_id:
        batch_id = None  # an empty batch published no snapshot

    return {
        "input_docs": n_input,
        "already_extracted": n_already,
        "newly_extracted": n_new,
        "total_extracted": snap["total_rows"] if snap else 0,
        "wall_sec_extract": round(wall, 2),
        # no side tables are written; the key stays for perfbench
        "wall_sec_side_tables": 0.0,
        "docs_per_sec": round(n_new / wall, 2) if wall > 0 else None,
        "status_counts": {s: int(got[s]) for s in STATUSES if got[s]},
        "batch_id": batch_id,
        "snapshot_id": snap["snapshot_id"] if snap else None,
    }


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
    ap.add_argument("--cpus", type=int, default=None, help=CPUS_HELP)
    ap.add_argument(
        "--input-format", choices=("parquet", "warc"), default="parquet",
        help="warc: read Common Crawl-style .warc/.warc.gz archives "
        "(html recovered via the DOM stripper)",
    )
    args = ap.parse_args()
    summary = run(
        args.input, args.outdir, args.resume, args.partitions, args.cpus,
        input_format=args.input_format,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
