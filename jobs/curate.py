"""Resumable corpus-curation job (spark-submit entry point).

    spark-submit --py-files pdf_parser_spark.zip jobs/curate.py \
        --input  /data/documents.parquet \
        --outdir /data/curated \
        [--resume] [--no-near-dups] [--snapshots] [--cpus 32]

The standard pre-training data hygiene pass, end to end:

  documents(url, warc_ts, html, text, lang)
    → anti-join already-curated urls            (resume checkpoint)
    → Gopher quality flags + C4 dup-line stats  (native exprs)
    → PII redaction (text := text_redacted)     (native exprs)
    → exact dedup (min-url keeper per md5 fp)   (1 shuffle)
    → MinHash-LSH near-dup prune (xxhash64,
      banded, hot-bucket-capped, optional;
      --transitive-near-dups closes pairs into
      clusters and keeps one canonical doc)     (bucketed, no O(n²))
    → dedup vs HISTORY (--history-dedup):
      exact via stored md5 fps, near via
      banded-LSH join against the persisted
      signature store — historical text is
      never re-read; the store self-bootstraps
      and self-heals from the curated table     (state ∝ docs, tiny)
    → append curated rows to <outdir>/curated   (the checkpoint)
    → append survivor (url, fp, signature) to
      <outdir>/fingerprints                     (the dedup state)
    → stage-funnel metrics JSON                 (counts + drop rates)

Same checkpoint/resume contract as jobs/extract.py: the curated table
IS the checkpoint, `--resume` anti-joins its url set, idempotent per
url. Quality thresholds are Gopher defaults; drops are counted per
stage so a threshold change shows up in the funnel, never silently.

`--snapshots` commits the curated AND quarantine tables through the
snapshot-manifest layer (sinks/snapshots.py): each run is one atomic,
time-travelable commit per table, resume anti-joins the CURRENT
snapshots' url sets, and a corrupt manifest ABORTS the resume instead
of silently re-running the funnel (the jobs/extract.py contract).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.operators import dedup as dd  # noqa: E402
from pdf_parser_spark.operators import webtext_filters as wf  # noqa: E402
from pdf_parser_spark.plans.session import get_spark  # noqa: E402
from pdf_parser_spark.sources.corpus import read_documents  # noqa: E402

MAX_DUP_LINE_FRAC = 0.3


def _read_or_none(spark, path: str, snapshots: bool):
    """Current table state, or None if nothing committed yet. Missing
    table → None in both layouts; a CORRUPT snapshot manifest raises
    (resume must abort, not silently re-adjudicate + re-append)."""
    if snapshots:
        from pdf_parser_spark.sinks import snapshots as sn

        try:
            return sn.read(spark, path)
        except FileNotFoundError:
            return None
    return spark.read.parquet(path) if Path(path).exists() else None


def _heal_store(spark, store_path: str, cur_tbl, store_tbl, snapshots: bool):
    """Make the fingerprint store catch up to the curated table.

    The store is appended AFTER the curated commit, so a crash in the
    window leaves curated urls with no stored signature — an
    under-drop for future batches, never corruption. Heal on the next
    history-dedup run: recompute (fp, signature) from the curated
    table's own text for exactly the missing urls and append. Cost is
    ∝ the missing batch (an anti-join over url sets plus one
    signature pass over the missing rows), never the corpus."""
    from pdf_parser_spark.operators import dedup as dd

    missing = cur_tbl.join(
        store_tbl.select("url"), on="url", how="left_anti"
    ).select("url", "text")
    n_missing = missing.count()
    if n_missing == 0:
        return store_tbl, 0
    healed = dd.doc_signatures(missing, text_col="text", key_col="url")
    _append_store(spark, healed, store_path, snapshots)
    # re-read rather than union: the append invalidated/extended the
    # path, and unioning the pre-append read on top of a re-listed
    # scan would double the healed rows
    return _read_or_none(spark, store_path, snapshots), n_missing


def _append_store(spark, sigs, store_path: str, snapshots: bool) -> int:
    rows = sigs.select("url", "fp", "signature")
    n = rows.count()
    if n == 0:
        return 0
    if snapshots:
        from pdf_parser_spark.sinks import snapshots as sn

        sn.commit(
            spark, rows, store_path,
            summary={"job": "curate", "table": "fingerprints"},
        )
    else:
        rows.write.mode("append").parquet(store_path)
    return n


def run(
    input_path: str,
    outdir: str,
    spark=None,
    resume: bool = False,
    near_dups: bool = True,
    near_dup_threshold: float = 0.8,
    quarantine: bool = True,
    snapshots: bool = False,
    input_format: str = "parquet",
    transitive_near_dups: bool = False,
    history_dedup: bool = False,
    drop_noindex: bool = False,
    host_cap: int | None = None,
) -> dict:
    from pdf_parser_spark.fsutil import ensure_local_path

    ensure_local_path(outdir, "jobs/curate.py")
    spark = spark or get_spark(app_name="curate")
    # every persisted frame is released even when a write fails
    # mid-job — a long-lived session must not accumulate cached
    # copies of the corpus across retries
    caches: list = []
    try:
        return _run(
            input_path, outdir, spark, resume, near_dups,
            near_dup_threshold, quarantine, caches, snapshots, input_format,
            transitive_near_dups, history_dedup, drop_noindex, host_cap,
        )
    finally:
        for c in caches:
            try:
                c.unpersist()
            except Exception:
                pass


def _run(
    input_path: str,
    outdir: str,
    spark,
    resume: bool,
    near_dups: bool,
    near_dup_threshold: float,
    quarantine: bool,
    caches: list,
    snapshots: bool = False,
    input_format: str = "parquet",
    transitive_near_dups: bool = False,
    history_dedup: bool = False,
    drop_noindex: bool = False,
    host_cap: int | None = None,
) -> dict:
    t0 = time.perf_counter()
    out = Path(outdir)
    curated_path = str(out / "curated")
    quarantine_path = str(out / "quarantine")
    store_path = str(out / "fingerprints")

    stage_secs: dict[str, float] = {}

    def _mark(name: str, t_start: float) -> float:
        now = time.perf_counter()
        stage_secs[name] = round(now - t_start, 2)
        return now

    if input_format == "warc":
        # Common Crawl archives: recover text via the DOM stripper so
        # the quality/PII/dedup funnel operates on main content — one
        # extra mapInPandas pass, still zero shuffles before the funnel
        from pyspark.sql import functions as _F

        from pdf_parser_spark.operators.html_extract import html_main_text
        from pdf_parser_spark.sources.warc import warc_to_documents

        raw = warc_to_documents(spark, input_path)
        stripped = html_main_text(raw).select(
            "url", _F.col("extracted_text").alias("text")
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
    t = _mark("scan_count", t0)

    already = 0
    if resume:
        # resume must skip BOTH prior outcomes: curated urls (the
        # checkpoint) and quarantined urls — otherwise every resume
        # re-runs the full funnel on previously-dropped docs and
        # re-appends duplicate (url, reason) quarantine rows
        seen = None
        cur_tbl = _read_or_none(spark, curated_path, snapshots)
        if cur_tbl is not None:
            done = cur_tbl.select("url").distinct()
            already = done.count()
            seen = done
        # gate on the TABLE's existence, not this run's quarantine
        # flag: resuming with quarantine=False must still skip docs an
        # earlier run already adjudicated, or a curated doc's dedup
        # twin re-enters the funnel alone and survives
        q_tbl = _read_or_none(spark, quarantine_path, snapshots)
        if q_tbl is not None:
            q_seen = q_tbl.select("url")
            seen = q_seen if seen is None else seen.unionByName(q_seen)
        if seen is not None:
            # localCheckpoint cuts the parquet-path lineage: this run
            # APPENDS to the curated/quarantine dirs below, and a write
            # to a path invalidates every cached plan that references
            # it — without the checkpoint, each post-write action
            # (store append, late metrics) silently re-evaluates the
            # anti-join against the re-listed dirs, which now contain
            # this very batch, and the whole funnel re-derives as
            # EMPTY. Checkpoint cost is one materialization of the
            # url set — data the anti-join was about to shuffle anyway.
            seen = seen.distinct().localCheckpoint()
            docs = docs.join(seen, on="url", how="left_anti")

    # persist the flagged stage: the funnel agg below materializes it
    # once, and every later consumer (survivor build, quarantine side
    # table) reads the cache instead of re-running the Gopher/dup-line
    # scan over the input — the whole job makes ONE pass over raw docs
    # robots opt-out rides the same single pass: a columnar regex
    # column next to the Gopher flags, never a second scan. Disabled
    # -> a literal false that codegen folds away everywhere below.
    if drop_noindex:
        docs = wf.robots_noindex_flag(docs)
    rob = F.col("robots_noindex") if drop_noindex else F.lit(False)
    flagged = wf.line_dup_stats(wf.gopher_quality_flags(docs)).persist()
    caches.append(flagged)
    quality_ok = (
        ~rob & F.col("gopher_keep") & (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
    )
    funnel = flagged.agg(
        F.count("*").alias("n_new"),
        F.sum(F.when(rob, 1).otherwise(0)).alias("drop_robots"),
        F.sum(F.when(~rob & ~F.col("gopher_keep"), 1).otherwise(0)).alias("drop_gopher"),
        F.sum(
            F.when(~rob & F.col("gopher_keep") & (F.col("dup_line_frac") > MAX_DUP_LINE_FRAC), 1).otherwise(0)
        ).alias("drop_dup_lines"),
    ).first()
    t = _mark("quality_funnel", t)

    kept = flagged.where(quality_ok)
    redacted = wf.pii_redact(kept).withColumn("text", F.col("text_redacted"))
    clean = redacted.select("url", "warc_ts", "html", "text", "lang")

    # persist the post-exact-dedup stage too: it feeds the near-dup
    # pass, the anti-join, the curated write and the quarantine exact
    # part — without the cache the md5-groupBy would re-execute per
    # consumer
    exact_survivors = dd.dedup_exact(clean, text_col="text", key_col="url").persist()
    caches.append(exact_survivors)
    survivors = exact_survivors
    n_after_exact = survivors.count()
    t = _mark("pii_exact_dedup", t)

    losers = None
    n_near_dropped = 0
    if near_dups and n_after_exact > 0:
        pairs = dd.near_dup_pairs_minhash(
            survivors, text_col="text", key_col="url", threshold=near_dup_threshold
        )
        if transitive_near_dups:
            # RefinedWeb/SlimPajama cluster semantics: close the pair
            # list transitively (O(log n) star-contraction rounds) and
            # keep ONE canonical doc per component (the min url). The
            # pairwise default below under-drops when two docs share a
            # near-dup but were never paired with each other; closure
            # charges the whole cluster to one keeper.
            losers = (
                dd.connected_components(pairs)
                .select(F.col("node").alias("url"))
                .persist()
            )
        else:
            # pairwise loser-drop: pairs are id_a < id_b, so each
            # cluster's min url is never an id_b and always survives —
            # safe (never empties a cluster), but keeps BOTH a and c
            # for pairs (a,b),(c,b)
            losers = pairs.select(F.col("id_b").alias("url")).distinct().persist()
        caches.append(losers)
        n_near_dropped = losers.count()
        survivors = survivors.join(losers, on="url", how="left_anti")
        t = _mark("near_dups", t)

    # --- dedup against HISTORY (incremental ingest) -------------------
    # Each new Common-Crawl-style dump repeats earlier dumps heavily;
    # within-batch dedup alone readmits every cross-batch duplicate.
    # The fingerprints store holds (url, fp, signature) per curated
    # doc — a few hundred bytes/doc, so at 10^12 docs the state is
    # ~1-3% of corpus bytes and new batches join against IT, never
    # against historical text: exact twins via the md5 fp, near-dups
    # via banded-LSH bucket join + signature-agreement Jaccard
    # estimate (operators/dedup.near_dups_vs_history).
    # --- per-host cap (host-spam guard) -------------------------------
    # Applied AFTER within-batch dedup (a host's near-dup copies must
    # not consume its budget) and BEFORE history dedup, which keeps
    # the history join off the capped-out docs. That order is NOT
    # accuracy-neutral: a doc that history dedup later drops has
    # already taken one of its host's K slots, so the host can end
    # the batch with fewer than K curated docs while fresh docs of it
    # were capped out. With quarantine on, the capped-out docs are
    # quarantined (reason host_cap) and resume's seen-set bars them
    # from every later batch, so the under-fill is permanent. Capping
    # after history dedup would fill the budget at the cost of
    # joining every survivor against history.
    n_host_capped = 0
    cap_losers = None
    if host_cap is not None:
        from pdf_parser_spark.operators import mixing as mx

        kept_cap = mx.host_cap(survivors, host_cap, url_col="url")
        cap_losers = (
            survivors.select("url")
            .join(kept_cap.select("url"), on="url", how="left_anti")
            .persist()
        )
        caches.append(cap_losers)
        n_host_capped = cap_losers.count()
        if n_host_capped:
            survivors = survivors.join(cap_losers, on="url", how="left_anti")
        t = _mark("host_cap", t)

    n_hist_exact = n_hist_near = healed = n_appended = 0
    hist_exact_hits = hist_near_hits = new_sigs = None
    if history_dedup:
        new_sigs = dd.doc_signatures(survivors, text_col="text", key_col="url").persist()
        caches.append(new_sigs)
        hist = _read_or_none(spark, store_path, snapshots)
        cur_tbl = _read_or_none(spark, curated_path, snapshots)
        if cur_tbl is not None:
            if hist is None:
                # store enabled mid-life: build it from the curated
                # table (the source of truth) before using it
                boot = dd.doc_signatures(
                    cur_tbl.select("url", "text"), text_col="text", key_col="url"
                )
                _append_store(spark, boot, store_path, snapshots)
                hist = _read_or_none(spark, store_path, snapshots)
                healed = -1  # marker: full bootstrap, not a crash heal
            else:
                hist, healed = _heal_store(
                    spark, store_path, cur_tbl.select("url", "text"), hist, snapshots
                )
        if hist is not None:
            hist = hist.select("url", "fp", "signature")
            hist_exact_hits = (
                new_sigs.join(
                    hist.select("fp").distinct(), on="fp", how="left_semi"
                )
                .select("url")
                .persist()
            )
            caches.append(hist_exact_hits)
            n_hist_exact = hist_exact_hits.count()
            remaining = new_sigs.join(hist_exact_hits, on="url", how="left_anti")
            hist_near_hits = (
                dd.near_dups_vs_history(
                    remaining, hist, key_col="url", threshold=near_dup_threshold
                )
                .select("url")
                .distinct()
                .persist()
            )
            caches.append(hist_near_hits)
            n_hist_near = hist_near_hits.count()
            survivors = survivors.join(
                hist_exact_hits, on="url", how="left_anti"
            ).join(hist_near_hits, on="url", how="left_anti")
        # pin the final survivor url set NOW: the curated append below
        # changes what the resume anti-join sees on re-evaluation, so
        # any post-write re-derivation of `survivors` silently comes
        # back empty (lazy lineage re-lists the parquet dir). The
        # store append must read THIS materialized set.
        survivor_urls = survivors.select("url").persist()
        caches.append(survivor_urls)
        survivor_urls.count()
        t = _mark("history_dedup", t)

    if quarantine:
        # dropped rows never vanish: (url, reason) rows land in an
        # accountable side table so a threshold change is auditable and
        # rows can be re-adjudicated without re-reading the corpus
        q_quality = flagged.where(~quality_ok).select(
            "url",
            F.when(rob, F.lit("robots_noindex"))
            .when(~F.col("gopher_keep"), F.lit("gopher"))
            .otherwise(F.lit("dup_lines"))
            .alias("reason"),
        )
        keepers = exact_survivors.select("url")
        # exact_dup = quality-passed urls that lost the md5 groupBy.
        # PII redaction never drops rows, so the url set of `clean` IS
        # the url set of `kept` — deriving it from the cached flagged
        # frame skips re-running the redaction regexes over the corpus
        q_exact = (
            flagged.where(quality_ok)
            .select("url")
            .join(keepers, on="url", how="left_anti")
            .select("url", F.lit("exact_dup").alias("reason"))
        )
        q_all = q_quality.unionByName(q_exact)
        if losers is not None:
            q_all = q_all.unionByName(
                losers.select("url", F.lit("near_dup").alias("reason"))
            )
        if cap_losers is not None and n_host_capped:
            q_all = q_all.unionByName(
                cap_losers.select("url", F.lit("host_cap").alias("reason"))
            )
        if hist_exact_hits is not None:
            q_all = q_all.unionByName(
                hist_exact_hits.select("url", F.lit("exact_dup_history").alias("reason"))
            )
        if hist_near_hits is not None:
            q_all = q_all.unionByName(
                hist_near_hits.select("url", F.lit("near_dup_history").alias("reason"))
            )
        if snapshots:
            from pdf_parser_spark.sinks import snapshots as sn

            sn.commit(
                spark, q_all, quarantine_path,
                summary={"job": "curate", "table": "quarantine", "resume": resume},
            )
        else:
            q_all.write.mode("append").parquet(quarantine_path)
        t = _mark("quarantine_write", t)

    snap = None
    if snapshots:
        from pdf_parser_spark.sinks import snapshots as sn

        snap = sn.commit(
            spark, survivors, curated_path,
            summary={"job": "curate", "table": "curated", "resume": resume},
        )
        cur_all = sn.read(spark, curated_path)
    else:
        survivors.write.mode("append").parquet(curated_path)
        cur_all = spark.read.parquet(curated_path)
    t = _mark("curated_write", t)
    n_curated = cur_all.select("url").distinct().count()

    if history_dedup and new_sigs is not None:
        # the store tracks the CURATED set: append signatures for this
        # batch's final survivors only (post-history-drop). Appended
        # after the curated commit, so a crash here under-drops later
        # batches at worst; _heal_store repairs it on the next run.
        final_sigs = new_sigs.join(survivor_urls, on="url", how="left_semi")
        n_appended = _append_store(spark, final_sigs, store_path, snapshots)
        t = _mark("fingerprint_store", t)

    n_new = funnel["n_new"] or 0
    n_exact_dropped = (
        n_new
        - (funnel["drop_robots"] or 0)
        - (funnel["drop_gopher"] or 0)
        - (funnel["drop_dup_lines"] or 0)
    ) - n_after_exact
    metrics = {
        "input_docs": n_input,
        "already_curated": already,
        "new_docs": n_new,
        "dropped_robots_noindex": funnel["drop_robots"] or 0,
        "dropped_gopher": funnel["drop_gopher"] or 0,
        "dropped_dup_lines": funnel["drop_dup_lines"] or 0,
        "dropped_exact_dup": n_exact_dropped,
        "dropped_near_dup": n_near_dropped,
        "dropped_host_cap": n_host_capped,
        "host_cap": host_cap,
        "near_dup_mode": (
            ("transitive" if transitive_near_dups else "pairwise") if near_dups else "off"
        ),
        "history_dedup": history_dedup,
        "dropped_exact_dup_history": n_hist_exact,
        "dropped_near_dup_history": n_hist_near,
        "store_healed_docs": healed,
        "store_appended_docs": n_appended,
        "newly_curated": n_after_exact
        - n_near_dropped
        - n_host_capped
        - n_hist_exact
        - n_hist_near,
        "total_curated": n_curated,
        "wall_sec": round(time.perf_counter() - t0, 2),
        "stage_secs": stage_secs,
    }
    if snap is not None:
        metrics["snapshot_id"] = snap["snapshot_id"]
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
    ap.add_argument("--snapshots", action="store_true")
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
    ap.add_argument("--cpus", type=int, default=None)
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
                snapshots=args.snapshots,
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
