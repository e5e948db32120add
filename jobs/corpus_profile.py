"""Incremental corpus-profiling job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/corpus_profile.py \
        --input  /data/documents.parquet \
        --outdir /data/profile \
        [--cpus 32]

One-pass corpus statistics via the mergeable-sketch family
(operators/sketches.py) — the monitoring side of a 100 TB pipeline:

  documents(url, warc_ts, html, text, lang)
    → anti-join already-profiled urls        (the checkpoint; every run)
    → ONE cached projection of the new batch (url, lang, fp, text)
    → four sketches from that single scan:
        hll_distinct  (group, idx, rho)      distinct fingerprints/lang
        word_cms      (group, row, col, cnt) word frequencies/lang
        fp_bloom      (group, pos)           fingerprint membership/lang
        len_hist      (group, bucket, cnt)   doc-length quantiles/lang
    → MERGE with the stored sketches         (max / sum / ∪ / sum)
    → overwrite-commit the merged state      (tables stay tiny)
    → append-commit the batch's urls to
      seen_urls                              (the checkpoint)

Every run is incremental: there is no resume flag, because the
anti-join against seen_urls always runs. That is the point of
mergeable sketches: profiling a new batch costs one scan of THE
BATCH — the existing corpus is never re-read, because
merge(stored, batch) == rebuild(full) exactly (all four sketches are
deterministic; tests/test_profile_job.py asserts table-level
equality). Sketch tables are bounded at |groups| * m rows
at ANY corpus size, so the merged state is always broadcastable and
the overwrite is O(sketch), not O(corpus).

Crash safety — the SUM-merged sketches (word_cms, len_hist) are NOT
idempotent, so "merge the batch again after a crash" silently
double-counts. Every run is therefore two-phase, keyed by a batch_id:

  stage:  batch sketches + batch urls land under _staging/<batch_id>/
          first, sealed by a _READY marker (no sketch table touched);
  apply:  each table merges FROM THE STAGED FRAMES and records the
          batch_id it last absorbed in the summary of the snapshot
          that commits it. Re-applying is a per-table no-op when the
          recorded id matches — a crash between table commits resumes
          exactly where it stopped, never re-merging.

The next run (any flags) first completes a sealed pending batch from
its staged frames — the INPUT is not consulted for recovery — then
clears staging and profiles new documents. Unsealed staging (crash
mid-stage) is discarded; no sketch table saw the batch.

Every table is a snapshot table (sinks/snapshots.py): each profiling
run is one atomic, time-travelable overwrite commit per sketch table,
so `sn.read(spark, tbl, i)` gives the corpus statistics as of batch i.
A raw parquet read of a sketch table sees every past version; read it
through `sn.read`.

Sketch parameters are pinned in <outdir>/_profile_meta.json on the
first run; a later run with different parameters ABORTS (registers built
at p=12 cannot merge with p=13).

Generalizes the reference's per-run metrics report (SURVEY §2:
metrics.py writes one JSON per pipeline run) to corpus-scale rolling
statistics.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.functions.text_metrics import fingerprint, word_array  # noqa: E402
from pdf_parser_spark.operators import sketches as sk  # noqa: E402
from pdf_parser_spark.plans.session import CPUS_HELP, get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402

DEFAULT_PARAMS = {
    "hll_p": 12,
    "cms_d": 4,
    "cms_w": 1024,
    "bloom_k": 4,
    "bloom_m": 8192,
}

_TABLES = ("hll_distinct", "word_cms", "fp_bloom", "len_hist")

_MERGE = {
    "hll_distinct": sk.hll_merge,
    "word_cms": sk.cms_merge,
    "fp_bloom": sk.bloom_merge,
    "len_hist": sk.log2_histogram_merge,
}


def _check_params(outdir: Path, params: dict) -> None:
    meta = outdir / "_profile_meta.json"
    if meta.exists():
        stored = json.loads(meta.read_text())
        if stored != params:
            raise ValueError(
                f"profile at {outdir} was built with {stored}; cannot merge "
                f"sketches built with {params} — use a fresh outdir"
            )
    else:
        outdir.mkdir(parents=True, exist_ok=True)
        meta.write_text(json.dumps(params, indent=1, sort_keys=True))


# -------------------------------------------------------- two-phase commit


def _table_batch_id(path: str) -> str | None:
    """The batch_id a table last absorbed — the apply-phase idempotence
    key, kept in the summary of the table's current snapshot."""
    snap = sn.current_snapshot(path)
    return snap["summary"].get("batch_id") if snap else None


def _apply_table(spark, staged: str, table: str, merge_fn, batch_id: str) -> None:
    """Merge one staged batch sketch into its table — idempotent: a
    table that already recorded this batch_id is left untouched, so a
    crash between table commits never double-merges the SUM sketches
    on re-apply. Sketch tables are bounded at |groups|*m rows by
    construction, so each commit writes one file."""
    if _table_batch_id(table) == batch_id:
        return
    batch_df = spark.read.parquet(staged)
    stored = sn.read_or_none(spark, table)
    merged = merge_fn(stored, batch_df) if stored is not None else batch_df
    sn.commit(
        spark, merged.coalesce(1), table, operation="overwrite",
        summary={"job": "profile", "batch_id": batch_id},
    )


def _apply_seen(spark, staged_urls: str, seen_path: str, batch_id: str) -> None:
    """Append the staged batch's urls to the checkpoint, once per
    batch_id."""
    if _table_batch_id(seen_path) == batch_id:
        return
    sn.commit(
        spark, spark.read.parquet(staged_urls), seen_path,
        summary={"job": "profile", "batch_id": batch_id},
    )


def _apply_pending(spark, out: Path) -> str | None:
    """Complete a sealed staged batch (idempotent per table), then
    clear staging. Unsealed staging is a crash mid-stage: no sketch
    table saw the batch, so it is safely discarded."""
    staging = out / "_staging"
    if not staging.exists():
        return None
    applied = None
    for batch_dir in sorted(staging.iterdir()):
        ready = batch_dir / "_READY.json"
        if not ready.exists():
            shutil.rmtree(batch_dir)
            continue
        batch_id = json.loads(ready.read_text())["batch_id"]
        for name in _TABLES:
            _apply_table(spark, str(batch_dir / name), str(out / name), _MERGE[name], batch_id)
        _apply_seen(spark, str(batch_dir / "urls"), str(out / "seen_urls"), batch_id)
        shutil.rmtree(batch_dir)
        applied = batch_id
    return applied


def build_sketches(base, params: dict) -> dict:
    """The four sketch plans over one projected batch frame with
    columns (url, group, fp, text, n_chars). Caller persists `base`;
    each sketch is one groupBy with a map-side partial, so the batch
    is scanned once from cache."""
    words = base.select(
        "group", F.explode(word_array(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    return {
        "hll_distinct": sk.hll_register_table(
            base, "group", "fp", p=params["hll_p"]
        ),
        "word_cms": sk.cms_table(
            words, "group", "w", d=params["cms_d"], w=params["cms_w"]
        ),
        "fp_bloom": sk.bloom_table(
            base, "group", "fp", k=params["bloom_k"], m=params["bloom_m"]
        ),
        "len_hist": sk.log2_histogram(base, "group", "n_chars"),
    }


def run(
    input_path: str,
    outdir: str,
    spark=None,
    params: dict | None = None,
) -> dict:
    from pdf_parser_spark.fsutil import ensure_local_path

    ensure_local_path(outdir, "jobs/corpus_profile.py")
    params = dict(params or DEFAULT_PARAMS)
    _check_params(Path(outdir), params)
    spark = spark or get_spark(app_name="profile")
    t0 = time.perf_counter()
    out = Path(outdir)
    seen_path = str(out / "seen_urls")

    # heal first: complete any sealed pending batch (from its staged
    # frames — the input is not consulted)
    recovered = _apply_pending(spark, out)

    docs = read_documents(spark, input_path)
    n_input = docs.count()

    seen = sn.read_or_none(spark, seen_path)
    # The anti-join runs whenever seen_urls exists (ADVICE r4): a run
    # that skipped it would merge the same documents again under a
    # fresh batch_id and silently double-count every SUM sketch — the
    # corruption the two-phase commit exists to prevent. This also
    # covers crash recovery: a recovered batch's docs are in
    # seen_urls, so re-running the same command can't merge them twice.
    if seen is not None:
        docs = docs.join(seen.select("url").distinct(), "url", "left_anti")

    # ONE projection of the batch feeds all four sketches; null text
    # profiles as an empty document (fp of "", 0 chars, no words) so
    # every seen url is accounted for in the length histogram
    base = docs.select(
        "url",
        F.coalesce(F.col("lang"), F.lit("und")).alias("group"),
        fingerprint(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n_chars"),
    ).persist()
    try:
        n_new = base.count()
        t_scan = time.perf_counter()

        if n_new > 0:
            batch_id = uuid.uuid4().hex
            batch_dir = out / "_staging" / batch_id
            batch_dir.mkdir(parents=True)
            batch = build_sketches(base, params)
            for name in _TABLES:
                batch[name].coalesce(1).write.mode("error").parquet(
                    str(batch_dir / name)
                )
            base.select("url").coalesce(8).write.mode("error").parquet(
                str(batch_dir / "urls")
            )
            (batch_dir / "_READY.json").write_text(
                json.dumps({"batch_id": batch_id, "tables": list(_TABLES)})
            )
            for name in _TABLES:
                _apply_table(spark, str(batch_dir / name), str(out / name), _MERGE[name], batch_id)
            _apply_seen(spark, str(batch_dir / "urls"), seen_path, batch_id)
            shutil.rmtree(batch_dir)

        table_rows: dict[str, int] = {}
        for name in _TABLES:
            stored = sn.read_or_none(spark, str(out / name))
            table_rows[name] = stored.count() if stored is not None else 0
        t_sketch = time.perf_counter()

        # headline estimates from the merged state (all bounded reads)
        estimates: dict[str, dict] = {}
        hll = sn.read_or_none(spark, str(out / "hll_distinct"))
        if hll is not None:
            estimates["distinct_fp_est"] = {
                r["group"]: r["est"]
                for r in sk.hll_estimate(hll, p=params["hll_p"]).collect()
            }
        hist = sn.read_or_none(spark, str(out / "len_hist"))
        if hist is not None:
            estimates["p50_chars_est"] = {
                r["group"]: r["estimate"]
                for r in sk.quantile_from_log2_histogram(hist, 0.5).collect()
            }

        return {
            "input_docs": n_input,
            "newly_profiled": n_new,
            "recovered_batch": recovered,
            "sketch_rows": table_rows,
            "estimates": estimates,
            "wall_sec_scan": round(t_scan - t0, 2),
            "wall_sec_sketch": round(t_sketch - t_scan, 2),
            "wall_sec_total": round(time.perf_counter() - t0, 2),
        }
    finally:
        base.unpersist()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--cpus", type=int, default=None, help=CPUS_HELP)
    args = ap.parse_args()
    spark = get_spark(app_name="profile", cpus=args.cpus)
    print(json.dumps(run(args.input, args.outdir, spark=spark)))


if __name__ == "__main__":
    main()
