"""Resumable corpus-curation job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/curate.py \
        --input  /data/documents.parquet \
        --outdir /data/curated \
        [--resume] [--no-near-dups] [--cpus 32]

The standard pre-training data hygiene pass, end to end:

  documents(url, warc_ts, html, text, lang)
    → anti-join already-curated urls            (resume checkpoint)
    → Gopher quality flags + C4 dup-line stats  (native exprs)
    → PII redaction (text := text_redacted)     (native exprs)
    → exact dedup (min-url keeper per md5 fp)   (1 shuffle)
    → ONE MinHash pass: shingle sets, then
      xxhash64 signatures, each checkpointed,
      on an explicit url repartition to
      spark.sql.shuffle.partitions (adaptive
      execution would merge the CPU-bound pass
      into one task by its few bytes)           (url-keyed)
    → MinHash-LSH near-dup prune from that pass
      (banded, hot-bucket-capped, optional;
      --transitive-near-dups closes pairs into
      clusters and keeps one canonical doc)     (bucketed, no O(n²))
    → dedup vs HISTORY (--history-dedup), on
      the same signatures: exact via stored md5
      fps, near via banded-LSH join against the
      stored signature table — historical text
      is never re-read; the store self-bootstraps
      and self-heals from the curated table     (state ∝ docs, tiny)
    → per-host cap (--host-cap)                 (WindowGroupLimit)
    → append (url, reason) drops to
      <outdir>/quarantine                       (the drop ledger)
    → append curated rows to <outdir>/curated   (the checkpoint)
    → append survivor (url, fp, signature) to
      <outdir>/fingerprints                     (the dedup state)
    → stage-funnel metrics JSON                 (counts + drop rates)

Same checkpoint/resume contract as jobs/extract.py: the curated table
IS the checkpoint, `--resume` anti-joins its url set, idempotent per
url. Quality thresholds are Gopher defaults.

Every dropped doc is one (url, reason) row, `reason` one of REASONS in
funnel order. The quarantine table is the only record of drops: each
`dropped_<reason>` metric is an Observation taken on the quarantine
write itself, and `newly_curated` one on the curated write, so the
counts are the written tables' counts and no extra action runs for
them. `new_docs` is counted separately (on the quality stage's
checkpoint), so the accounting identity new_docs = Σ dropped +
newly_curated compares independent counts. Every stage ends in an eager
checkpoint, so `stage_secs` holds each stage's own driver wall time, in
run order: scan_count, quality_funnel, exact_dup, near_dup (the MinHash
pass included), history_dedup (store catch-up, and the MinHash pass
when near-dup is off), exact_dup_history, near_dup_history, host_cap,
quarantine_write, curated_count, curated_write and fingerprint_store —
each only when its stage runs. `wall_sec` covers the whole call.
`total_curated` is the curated table's distinct-url count: each curated
commit records it in its manifest summary (`distinct_urls`), and a
resumed run adds the batch's distinct urls to the head's figure instead
of rescanning the table.

The curated, quarantine and fingerprints tables are snapshot tables
(sinks/snapshots.py): each run is one atomic, time-travelable commit
per table, resume anti-joins the CURRENT snapshots' url sets, and a
corrupt manifest or a plain-parquet table with no snapshot log ABORTS
the resume instead of silently re-running the funnel (the
jobs/extract.py contract).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from functools import reduce
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.operators import dedup as dd  # noqa: E402
from pdf_parser_spark.operators import webtext_filters as wf  # noqa: E402
from pdf_parser_spark.plans.session import CPUS_HELP, get_spark  # noqa: E402
from pdf_parser_spark.sinks import snapshots as sn  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402

MAX_DUP_LINE_FRAC = 0.3

# quarantine reasons in funnel order; each is also its metric key,
# dropped_<reason>
REASONS = (
    "robots_noindex",
    "gopher",
    "dup_lines",
    "exact_dup",
    "near_dup",
    "exact_dup_history",
    "near_dup_history",
    "host_cap",
)
(
    ROBOTS_NOINDEX, GOPHER, DUP_LINES, EXACT_DUP,
    NEAR_DUP, EXACT_DUP_HISTORY, NEAR_DUP_HISTORY, HOST_CAP,
) = REASONS


def _append(spark, df, path: str, summary: dict) -> dict:
    """Commit df as one appended snapshot of a table."""
    return sn.commit(spark, df, path, summary={"job": "curate", **summary})


def _heal_store(spark, store_path: str, cur_tbl, store_tbl):
    """Make the fingerprint store catch up to the curated table.

    The store is appended AFTER the curated commit, so a crash in the
    window leaves curated urls with no stored signature — an
    under-drop for future batches, never corruption. Heal on the next
    history-dedup run: recompute (fp, signature) from the curated
    table's own text for exactly the missing urls and append. Cost is
    ∝ the missing batch (an anti-join over url sets plus one
    signature pass over the missing rows), never the corpus."""
    missing = cur_tbl.join(
        store_tbl.select("url"), on="url", how="left_anti"
    ).select("url", "text")
    n_missing = missing.count()
    if n_missing == 0:
        return store_tbl, 0
    healed = dd.doc_signatures(missing, text_col="text", key_col="url")
    _append_store(spark, healed, store_path)
    # re-read rather than union: the commit extended the snapshot, and
    # the new head holds the pre-heal rows and the healed ones
    return sn.read_or_none(spark, store_path), n_missing


def _append_store(spark, sigs, store_path: str) -> int:
    """Append (url, fp, signature) rows to the store; returns how many
    were appended, observed on the write (an empty frame commits
    nothing)."""
    obs = Observation("store")
    rows = sigs.select("url", "fp", "signature").observe(obs, F.count("*").alias("rows"))
    _append(spark, rows, store_path, {"table": "fingerprints"})
    return obs.get["rows"]


def run(
    input_path: str,
    outdir: str,
    spark=None,
    resume: bool = False,
    near_dups: bool = True,
    near_dup_threshold: float = 0.8,
    input_format: str = "parquet",
    transitive_near_dups: bool = False,
    history_dedup: bool = False,
    drop_noindex: bool = False,
    host_cap: int | None = None,
) -> dict:
    from pdf_parser_spark.fsutil import ensure_local_path

    ensure_local_path(outdir, "jobs/curate.py")
    spark = spark or get_spark(app_name="curate")
    t0 = time.perf_counter()
    out = Path(outdir)
    curated_path = str(out / "curated")
    quarantine_path = str(out / "quarantine")
    store_path = str(out / "fingerprints")

    stage_secs: dict[str, float] = {}
    t = t0

    def _mark(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        stage_secs[name] = round(now - t, 2)
        t = now

    # Every stage ends in an eager localCheckpoint: later plans start at a
    # batch-sized LogicalRDD leaf instead of re-planning the whole funnel,
    # and a commit to the curated/quarantine tables cannot re-derive an
    # earlier stage. Nothing is released by hand: once the frames go out
    # of scope, the next garbage collection lets Spark's ContextCleaner
    # free the checkpoint blocks, so a long-lived session does not
    # accumulate them. A checkpoint cannot be recomputed, so a lost
    # executor fails the run instead of retrying a stage — safe, because
    # the curated table is the job's checkpoint and a rerun with --resume
    # converges (quarantine lands before curated, and resume skips both).
    if input_format == "warc":
        # Common Crawl archives: recover text via the DOM stripper so
        # the quality/PII/dedup funnel operates on main content — one
        # extra mapInArrow pass, still zero shuffles before the funnel
        from pdf_parser_spark.operators.html_extract import html_main_text
        from pdf_parser_spark.sources.warc import warc_to_documents

        raw = warc_to_documents(spark, input_path)
        stripped = html_main_text(raw).select(
            "url", F.col("extracted_text").alias("text")
        )
        # one url-keyed join re-attaches the metadata the stripper's
        # narrow (url, text) contract drops — the funnel's only
        # pre-funnel shuffle in warc mode
        docs = raw.drop("text").join(stripped, on="url")
        docs = docs.select("url", "warc_ts", "html", "text", "lang")
    elif input_format == "parquet":
        docs = read_documents(spark, input_path)
    else:
        raise ValueError(f"unknown input_format {input_format!r} (parquet|warc)")
    n_input = docs.count()
    _mark("scan_count")

    already = 0
    if resume:
        # resume must skip BOTH prior outcomes: curated urls (the
        # checkpoint) and quarantined urls — otherwise every resume
        # re-runs the full funnel on previously-dropped docs and
        # re-appends duplicate (url, reason) quarantine rows
        seen = None
        cur_tbl = sn.read_or_none(spark, curated_path)
        if cur_tbl is not None:
            seen = cur_tbl.select("url")
            # each curate commit records the table's distinct-url total;
            # a manifest without it (an older run, compaction, rollback)
            # is recounted
            already = sn.current_snapshot(curated_path)["summary"].get("distinct_urls")
            if already is None:
                already = seen.distinct().count()
        q_tbl = sn.read_or_none(spark, quarantine_path)
        if q_tbl is not None:
            q_seen = q_tbl.select("url")
            seen = q_seen if seen is None else seen.unionByName(q_seen)
        if seen is not None:
            # checkpointed like every stage: later plans start at the
            # seen set instead of re-scanning the tables this run
            # commits to
            seen = seen.distinct().localCheckpoint()
            docs = docs.join(seen, on="url", how="left_anti")

    # the quality stage tags each doc with its first failing reason
    # (null = kept), in ONE pass over raw docs. The robots opt-out rides
    # the same pass as a columnar regex column; disabled, it is a literal
    # false that codegen folds away.
    if drop_noindex:
        docs = wf.robots_noindex_flag(docs)
    rob = F.col("robots_noindex") if drop_noindex else F.lit(False)
    flagged = (
        wf.line_dup_stats(wf.gopher_quality_flags(docs))
        .withColumn(
            "reason",
            F.when(rob, ROBOTS_NOINDEX)
            .when(~F.col("gopher_keep"), GOPHER)
            .when(F.col("dup_line_frac") > MAX_DUP_LINE_FRAC, DUP_LINES),
        )
        .localCheckpoint()
    )
    n_new = flagged.count()
    _mark("quality_funnel")

    # dropped rows never vanish: every stage's (url, reason) rows land
    # in `drops`, the quarantine table, so a threshold change is
    # auditable and rows can be re-adjudicated without re-reading the
    # corpus
    drops = [flagged.where(F.col("reason").isNotNull()).select("url", "reason")]
    kept = flagged.where(F.col("reason").isNull())
    clean = wf.pii_redact(kept).select(
        "url", "warc_ts", "html", F.col("text_redacted").alias("text"), "lang"
    )
    # dedup_exact returns the survivors itself, so its losers are only
    # recorded: no anti-join is needed. PII redaction drops no rows, so
    # `kept` has the url set of `clean` without re-running the regexes.
    survivors = dd.dedup_exact(clean, text_col="text", key_col="url").localCheckpoint()
    drops.append(
        kept.select("url")
        .join(survivors.select("url"), on="url", how="left_anti")
        .select("url", F.lit(EXACT_DUP).alias("reason"))
    )
    _mark(EXACT_DUP)

    def drop(reason: str, losers):
        """Checkpoint a stage's loser url set, record it under `reason`,
        anti-join it off the survivors and time the stage under
        `reason`. Returns the checkpointed set."""
        nonlocal survivors
        losers = losers.select("url").localCheckpoint()
        drops.append(losers.select("url", F.lit(reason).alias("reason")))
        survivors = survivors.join(losers, on="url", how="left_anti").localCheckpoint()
        _mark(reason)
        return losers

    # One MinHash pass per batch: the survivors' shingle sets and
    # signatures are built once, each ending in a checkpoint, and both
    # near-dup (LSH candidates, signature prefilter, Jaccard verify) and
    # history dedup start from them. The url repartition count is
    # explicit, as in salted_repartition: the pass is CPU-bound (explode,
    # 32 hashes, min-aggregation) over a few hundred KB, and adaptive
    # execution would size it by those bytes into one task while the
    # other slots idle. The sets' groupBy reuses that partitioning, and
    # the signatures hash map-side over the sets' partitions: only one
    # partial row per url is exchanged to merge them (a checkpoint
    # forgets its partitioning under adaptive execution).
    if near_dups or history_dedup:
        by_url = survivors.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "url")
        sets = dd.shingle_sets(by_url, text_col="text", key_col="url").localCheckpoint()
        sigs = dd.set_signatures(sets, key_col="url").localCheckpoint()

    if near_dups:
        pairs = dd.near_dup_pairs(sets, sigs, key_col="url", threshold=near_dup_threshold)
        if transitive_near_dups:
            # RefinedWeb/SlimPajama cluster semantics: close the pair
            # list transitively (O(log n) star-contraction rounds) and
            # keep ONE canonical doc per component (the min url). The
            # pairwise default below under-drops when two docs share a
            # near-dup but were never paired with each other; closure
            # charges the whole cluster to one keeper.
            drop(NEAR_DUP, dd.connected_components(pairs).select(F.col("node").alias("url")))
        else:
            # pairwise loser-drop: pairs are id_a < id_b, so each
            # cluster's min url is never an id_b and always survives —
            # safe (never empties a cluster), but keeps BOTH a and c
            # for pairs (a,b),(c,b)
            drop(NEAR_DUP, pairs.select(F.col("id_b").alias("url")).distinct())

    # --- dedup against HISTORY (incremental ingest) -------------------
    # Each new Common-Crawl-style dump repeats earlier dumps heavily;
    # within-batch dedup alone readmits every cross-batch duplicate.
    # The fingerprints store holds (url, fp, signature) per curated
    # doc — a few hundred bytes/doc, so at 10^12 docs the state is
    # ~1-3% of corpus bytes and new batches join against IT, never
    # against historical text: exact twins via the md5 fp, near-dups
    # via banded-LSH bucket join + signature-agreement Jaccard
    # estimate (operators/dedup.near_dups_vs_history).
    healed = n_appended = 0
    if history_dedup:
        # the batch's signatures from the pass above, restricted to the
        # survivors of near-dup by the join from their side
        new_sigs = dd.fingerprints_with_signatures(
            survivors, sigs, text_col="text", key_col="url"
        ).localCheckpoint()
        hist = sn.read_or_none(spark, store_path)
        cur_tbl = sn.read_or_none(spark, curated_path)
        if cur_tbl is not None:
            if hist is None:
                # store enabled mid-life: build it from the curated
                # table (the source of truth) before using it
                boot = dd.doc_signatures(
                    cur_tbl.select("url", "text"), text_col="text", key_col="url"
                )
                _append_store(spark, boot, store_path)
                hist = sn.read_or_none(spark, store_path)
                healed = -1  # marker: full bootstrap, not a crash heal
            else:
                hist, healed = _heal_store(
                    spark, store_path, cur_tbl.select("url", "text"), hist
                )
        _mark("history_dedup")
        if hist is not None:
            hist = hist.select("url", "fp", "signature")
            exact_hits = drop(
                EXACT_DUP_HISTORY,
                new_sigs.join(hist.select("fp").distinct(), on="fp", how="left_semi"),
            )
            remaining = new_sigs.join(exact_hits, on="url", how="left_anti")
            drop(
                NEAR_DUP_HISTORY,
                dd.near_dups_vs_history(
                    remaining, hist, key_col="url", threshold=near_dup_threshold
                ).select("url").distinct(),
            )

    # --- per-host cap (host-spam guard) -------------------------------
    # Applied LAST, after within-batch and history dedup: a host's
    # duplicates never consume its budget, so a host ends the batch with
    # min(cap, its deduped docs) curated. Capped-out docs are
    # quarantined (reason host_cap), and resume bars them from every
    # later batch.
    if host_cap is not None:
        from pdf_parser_spark.operators import mixing as mx

        capped = mx.host_cap(survivors, host_cap, url_col="url")
        drop(HOST_CAP, survivors.join(capped.select("url"), on="url", how="left_anti"))

    # the drop counts ride the quarantine write, the curated count the
    # curated write: no separate action re-runs the funnel for metrics
    dropped = Observation("quarantine")
    quarantine = reduce(lambda a, b: a.unionByName(b), drops).observe(
        dropped, *[F.count_if(F.col("reason") == r).alias(r) for r in REASONS]
    )
    _append(spark, quarantine, quarantine_path, {"table": "quarantine", "resume": resume})
    _mark("quarantine_write")

    # the distinct-url total after this batch, without rescanning the
    # curated table on resume: the anti-join made this batch's urls
    # disjoint from the curated ones. A non-resume run may repeat
    # curated urls, so it recounts.
    batch_urls = survivors.select("url").distinct()
    if resume:
        n_curated = already + batch_urls.count()
    else:
        prior = sn.read_or_none(spark, curated_path)
        if prior is not None:
            batch_urls = prior.select("url").unionByName(batch_urls).distinct()
        n_curated = batch_urls.count()
    _mark("curated_count")

    curated = Observation("curated")
    snap = _append(
        spark, survivors.observe(curated, F.count("*").alias("rows")), curated_path,
        {"table": "curated", "resume": resume, "distinct_urls": n_curated},
    )
    _mark("curated_write")

    if history_dedup:
        # the store tracks the CURATED set: append signatures for this
        # batch's final survivors only (after every drop). Appended
        # after the curated commit, so a crash here under-drops later
        # batches at worst; _heal_store repairs it on the next run.
        final_sigs = new_sigs.join(survivors, on="url", how="left_semi")
        n_appended = _append_store(spark, final_sigs, store_path)
        _mark("fingerprint_store")

    metrics = {
        "input_docs": n_input,
        "already_curated": already,
        "new_docs": n_new,
        **{f"dropped_{r}": dropped.get[r] for r in REASONS},
        "host_cap": host_cap,
        "near_dup_mode": (
            ("transitive" if transitive_near_dups else "pairwise") if near_dups else "off"
        ),
        "history_dedup": history_dedup,
        "store_healed_docs": healed,
        "store_appended_docs": n_appended,
        "newly_curated": curated.get["rows"],
        "total_curated": n_curated,
        "wall_sec": round(time.perf_counter() - t0, 2),
        "stage_secs": stage_secs,
        # an empty batch commits nothing: the head, if any, is unchanged
        "snapshot_id": snap["snapshot_id"] if snap else None,
    }
    out.mkdir(parents=True, exist_ok=True)
    (out / "curation_metrics.json").write_text(json.dumps(metrics, indent=2))
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--no-near-dups", dest="near_dups", action="store_false")
    ap.add_argument("--near-dup-threshold", type=float, default=0.8)
    ap.add_argument(
        "--transitive-near-dups",
        action="store_true",
        help="close near-dup pairs into clusters (connected components) and "
        "keep one canonical doc per cluster, instead of the pairwise "
        "id_b loser-drop",
    )
    ap.add_argument("--input-format", choices=("parquet", "warc"), default="parquet")
    ap.add_argument(
        "--history-dedup",
        action="store_true",
        help="also drop new docs that exactly or nearly duplicate PREVIOUSLY "
        "curated ones, via the <outdir>/fingerprints signature store "
        "(md5 fp + MinHash signature per curated doc; no historical text "
        "is ever re-read). Bootstraps/heals the store from the curated "
        "table automatically.",
    )
    ap.add_argument(
        "--drop-noindex",
        action="store_true",
        help="honor meta-robots noindex/none directives: flagged pages are "
        "quarantined (reason robots_noindex) before the quality funnel, "
        "via a columnar regex in the same single pass over raw docs",
    )
    ap.add_argument(
        "--host-cap",
        type=int,
        default=None,
        help="keep at most N docs per host among the batch's survivors "
        "(deterministic hash-ordered sample; losers quarantined with "
        "reason host_cap). Compiles to Catalyst's two-phase "
        "WindowGroupLimit — mega-hosts never serialize into one task.",
    )
    ap.add_argument("--cpus", type=int, default=None, help=CPUS_HELP)
    args = ap.parse_args()
    spark = get_spark(app_name="curate", cpus=args.cpus)
    print(
        json.dumps(
            run(
                args.input,
                args.outdir,
                spark=spark,
                resume=args.resume,
                near_dups=args.near_dups,
                near_dup_threshold=args.near_dup_threshold,
                input_format=args.input_format,
                transitive_near_dups=args.transitive_near_dups,
                history_dedup=args.history_dedup,
                drop_noindex=args.drop_noindex,
                host_cap=args.host_cap,
            )
        )
    )


if __name__ == "__main__":
    main()
