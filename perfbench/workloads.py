"""The three workloads: set-up, the timed job call, the output checks
and the traced run's per-layer probes.

Each workload calls the program's public job and operator functions
only; everything it knows about the expected outcome comes from the
seeded generator in `inputs.py`.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import types as T

from pdf_parser_spark.sources.corpus import read_documents

from . import inputs
from .proc import dir_bytes

DUP_REASONS = {"exact_dup", "near_dup", "exact_dup_history", "near_dup_history"}
QUALITY_REASONS = {"gopher", "dup_lines", "robots_noindex"}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args, **kw) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


PROBE_REPS = 2


def median_time(fn, reps: int = PROBE_REPS) -> float:
    return statistics.median(timed(fn)[0] for _ in range(reps))


def read_column_table(path: Path, columns: list[str]):
    return pq.read_table(str(path), columns=columns).to_pydict()


def p99(values: list[float]) -> float:
    return statistics.quantiles(values, n=100)[98] if len(values) > 1 else values[0]


class Context:
    """One benchmark invocation: the session, its scratch directory and
    the Spark job-group prefix of the loop's calls."""

    def __init__(self, spark, work: Path, seed: int, slots: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.slots = slots
        # one input file per slot: the scan then splits into exactly `slots`
        # tasks, however the seed sizes the files
        self.n_files = slots
        self.group = "call"  # the traced loop uses "traced"

    def tagged(self, group: str, fn, *args, **kw):
        """Run `fn` under Spark job group `group`."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            return fn(*args, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def job_count(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def spark_layer_probes(ctx: Context, path: str, cols: list[str]) -> dict:
    """Scan, salted shuffle and the identity Arrow transport, each to a
    noop sink; shuffle and transport are reported net of the layer below."""
    from pdf_parser_spark.operators.extract import salted_repartition

    spark = ctx.spark

    def identity(batches):
        yield from batches

    def scan():
        noop(read_documents(spark, path).select(*cols))

    def shuffle():
        noop(salted_repartition(read_documents(spark, path).select(*cols)))

    def transport():
        df = salted_repartition(read_documents(spark, path).select(*cols))
        noop(df.mapInPandas(identity, schema=df.schema))

    scan_s = ctx.tagged("probe-scan", median_time, scan)
    shuffle_s = ctx.tagged("probe-shuffle", median_time, shuffle)
    transport_s = ctx.tagged("probe-transport", median_time, transport)
    return {
        "sources.scan_s": scan_s,
        "extract.shuffle_s": shuffle_s - scan_s,
        "arrow.transport_s": transport_s - shuffle_s,
    }


# --------------------------------------------------------------- extract


def project(value, dtype):
    """`value` reduced to the fields and types of Spark type `dtype`, so
    an in-process result and a collected row compare field for field."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        get = value.get if isinstance(value, dict) else value.__getitem__
        return {f.name: project(get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.ArrayType):
        return [project(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.IntegerType):
        return int(value)
    if isinstance(dtype, T.DoubleType):
        return float(value)
    return value


class ExtractSkewed:
    """`jobs.extract.run` on the parquet text path, default synthetic mix."""

    name = "extract_skewed"
    JOBS_METRIC = "jobs.extract.spark_jobs"
    SAMPLE = 16  # docs checked in-process on every call, plus two mega-docs
    CORE_SAMPLE = 400  # docs the traced run times in-process, mega share kept

    COMPARED = ("status", "n_pages", "toc_start", "toc_end", "toc", "chunks", "validation", "metrics")

    def build(self, ctx: Context, seed: int, root: Path) -> dict:
        m = inputs.build_extract(seed, root, ctx.n_files)
        m["warm"] = inputs.build_extract(seed + 1, root / "warm", ctx.n_files, inputs.WARM_DOCS)
        rng = random.Random(seed)
        m["sample"] = sorted(set(rng.sample(m["urls"], self.SAMPLE)) | set(m["mega_urls"][:2]))
        texts = read_column_table(Path(m["input"]), ["url", "text"])
        m["texts"] = dict(zip(texts["url"], texts["text"]))
        return m

    def warm_up(self, ctx: Context, m: dict) -> None:
        """One call on a small input split into one task per slot: starts
        every Python worker and compiles the code paths the timed calls
        take, at a fraction of a full call's cost."""
        from jobs.extract import run

        run(m["warm"]["input"], str(ctx.work / "warm"), spark=ctx.spark, partitions=ctx.slots)

    def prepare(self, ctx: Context, m: dict, outdir: Path) -> None:
        shutil.rmtree(outdir, ignore_errors=True)

    def call(self, ctx: Context, m: dict, outdir: Path) -> dict:
        from jobs.extract import run

        return run(m["input"], str(outdir), spark=ctx.spark)

    def docs(self, m: dict) -> int:
        return len(m["urls"])

    def check(self, ctx: Context, m: dict, outdir: Path, summary: dict) -> tuple[int, dict]:
        from pdf_parser_spark.core.pipeline import extract_document
        from pdf_parser_spark.operators.extract import EXTRACTED

        seen = Counter(read_column_table(outdir / "extracted", ["url"])["url"])
        bad = {u for u in m["urls"] if seen.get(u) != 1}
        extra = set(seen) - set(m["urls"])
        rows = {
            r["url"]: r.asDict(recursive=True)
            for r in ctx.spark.read.parquet(str(outdir / "extracted"))
            .where(f"url in ({','.join(repr(u) for u in m['sample'])})")
            .collect()
        }
        mismatched = []
        for url in m["sample"]:
            want = extract_document(m["texts"][url], doc_title=url)
            got = rows.get(url)
            if got is None or any(
                project(want[f], EXTRACTED[f].dataType) != project(got[f], EXTRACTED[f].dataType)
                for f in self.COMPARED
            ):
                mismatched.append(url)
        failed = bad | set(mismatched)
        return len(failed) + len(extra), {
            "rows_not_once": len(bad),
            "unexpected_urls": len(extra),
            "sample": len(m["sample"]),
            "sample_mismatched": mismatched,
            "error_docs": summary["status_counts"].get("error", 0),
        }

    def probes(self, ctx: Context, m: dict, last_out: Path, summary: dict) -> dict:
        from pdf_parser_spark.core.pipeline import extract_document
        from pdf_parser_spark.operators import extract as ox

        out = spark_layer_probes(ctx, m["input"], ["url", "text"])
        # a seeded sample with the input's mega-doc share
        rng = random.Random(ctx.seed)
        mega = set(m["mega_urls"])
        n_mega = round(self.CORE_SAMPLE * len(mega) / len(m["urls"]))
        sample = rng.sample(sorted(mega), n_mega) + rng.sample(
            [u for u in m["urls"] if u not in mega], self.CORE_SAMPLE - n_mega
        )
        times, mega_times = [], []
        for url in sample:
            dt, _ = timed(extract_document, m["texts"][url], doc_title=url)
            times.append(dt)
            if url in mega:
                mega_times.append(dt)
        spark = ctx.spark
        extract_noop_s = ctx.tagged(
            "probe-extract",
            median_time,
            lambda: noop(ox.extract_documents(ox.salted_repartition(read_documents(spark, m["input"])))),
            1,
        )
        ex_s = summary["wall_sec_extract"]
        side_s = summary["wall_sec_side_tables"]
        busy = spark.read.parquet(str(last_out / "extracted")).agg({"extract_secs": "sum"}).first()[0]
        out.update(
            {
                "core.docs_per_s_per_core": len(times) / sum(times),
                "core.ms_per_doc_p50": statistics.median(times) * 1e3,
                "core.ms_per_doc_p99": p99(times) * 1e3,
                "core.mega_ms_per_doc_p50": statistics.median(mega_times) * 1e3,
                "core.busy_share": busy / (ex_s * ctx.slots),
                "core.error_docs": summary["status_counts"].get("error", 0),
                "jobs.extract.extract_write_s": ex_s,
                "jobs.extract.side_tables_s": side_s,
                "jobs.extract.pre_s": summary["_call_s"] - ex_s - side_s,
                "sinks.write_s": ex_s - extract_noop_s,
                "sinks.extracted_mb": _mb(last_out / "extracted"),
                "sinks.side_tables_mb": sum(
                    _mb(last_out / t) for t in ("toc", "chunks", "validation", "doc_metrics", "lineage")
                ),
            }
        )
        return out, {"failed": 0}


def _mb(path: Path) -> float:
    return dir_bytes(path) / 1e6


# ----------------------------------------------------------------- strip


class StripHtmlUniform:
    """`operators.html_extract.html_main_text` → parquet append."""

    name = "strip_html_uniform"
    JOBS_METRIC = None
    HTML_SAMPLE = 600

    def build(self, ctx: Context, seed: int, root: Path) -> dict:
        return inputs.build_strip(seed, root, ctx.n_files)

    def warm_up(self, ctx: Context, m: dict) -> None:
        """Two full calls: after one, the timed calls were still
        speeding up, call after call."""
        for _ in range(2):
            self.prepare(ctx, m, ctx.work / "warm")
            self.call(ctx, m, ctx.work / "warm")

    def prepare(self, ctx: Context, m: dict, outdir: Path) -> None:
        shutil.rmtree(outdir, ignore_errors=True)

    def call(self, ctx: Context, m: dict, outdir: Path) -> dict:
        from pdf_parser_spark.operators.html_extract import html_main_text

        docs = read_documents(ctx.spark, m["input"])
        html_main_text(docs).write.mode("append").parquet(str(outdir / "text"))
        return {}

    def docs(self, m: dict) -> int:
        return len(m["expected_text"])

    def check(self, ctx: Context, m: dict, outdir: Path, summary: dict) -> tuple[int, dict]:
        got = read_column_table(outdir / "text", ["url", "extracted_text"])
        seen = Counter(got["url"])
        text = dict(zip(got["url"], got["extracted_text"]))
        truncated = set(m["truncated_urls"])
        not_once = {u for u in m["expected_text"] if seen.get(u) != 1}
        wrong = {
            u
            for u, want in m["expected_text"].items()
            if u not in truncated and u not in not_once and text[u] != want
        }
        extra = set(seen) - set(m["expected_text"])
        return len(not_once | wrong) + len(extra), {
            "rows_not_once": len(not_once),
            "text_mismatched": len(wrong),
            "truncated_accounted": len(truncated - not_once),
            "unexpected_urls": len(extra),
        }

    def probes(self, ctx: Context, m: dict, last_out: Path, summary: dict) -> dict:
        from pdf_parser_spark.core.html_extract import extract_main_text
        from pdf_parser_spark.operators.html_extract import html_main_text

        out = spark_layer_probes(ctx, m["input"], ["url", "html"])
        rng = random.Random(ctx.seed)
        html = read_column_table(Path(m["input"]), ["url", "html"])["html"]
        times = [timed(extract_main_text, h)[0] for h in rng.sample(html, self.HTML_SAMPLE)]
        spark = ctx.spark
        out.update(
            {
                "html.docs_per_s_per_core": len(times) / sum(times),
                "html.ms_per_doc_p50": statistics.median(times) * 1e3,
                "html.ms_per_doc_p99": p99(times) * 1e3,
                "html.strip_s": ctx.tagged(
                    "probe-strip",
                    median_time,
                    lambda: noop(html_main_text(read_documents(spark, m["input"]))),
                ),
            }
        )
        return out, {"failed": 0}


# ---------------------------------------------------------------- curate


def _host(url: str) -> str:
    return url.split("/")[2]


class CurateIncremental:
    """`jobs.curate.run(resume=True, near_dups=True, host_cap=K)` on
    batch 2 against a restored post-batch-1 outdir.

    `history_dedup` stays off: at this commit a resumed curate call with
    history dedup on a non-empty outdir takes minutes and grows the
    JVM heap past 8 GB even at 50 docs, beyond a benchmark run. The
    history layers are timed by the traced run's probes instead.
    """

    name = "curate_incremental"
    JOBS_METRIC = "jobs.curate.spark_jobs"
    FLAGS = dict(near_dups=True, history_dedup=False)

    def build(self, ctx: Context, seed: int, root: Path) -> dict:
        m = inputs.build_curate(seed, root, ctx.n_files)
        m["base"] = str(root / "post_batch1")
        return m

    def warm_up(self, ctx: Context, m: dict) -> None:
        """Curate batch 1 with the same job and flags: the state batch 2
        resumes from, and the warm-up of the job's code path."""
        from jobs.curate import run

        shutil.rmtree(m["base"], ignore_errors=True)
        run(m["batch1"], m["base"], spark=ctx.spark, host_cap=m["host_cap"], **self.FLAGS)

    def prepare(self, ctx: Context, m: dict, outdir: Path) -> None:
        shutil.rmtree(outdir, ignore_errors=True)
        shutil.copytree(m["base"], outdir)

    def call(self, ctx: Context, m: dict, outdir: Path) -> dict:
        from jobs.curate import run

        return run(
            m["input"], str(outdir), spark=ctx.spark, resume=True, host_cap=m["host_cap"], **self.FLAGS
        )

    def docs(self, m: dict) -> int:
        return len(m["urls"])

    def check(self, ctx: Context, m: dict, outdir: Path, r: dict) -> tuple[int, dict]:
        batch = set(m["urls"])
        cur = Counter(u for u in read_column_table(outdir / "curated", ["url"])["url"] if u in batch)
        q = read_column_table(outdir / "quarantine", ["url", "reason"])
        reasons: dict[str, list[str]] = {}
        for u, why in zip(q["url"], q["reason"]):
            if u in batch:
                reasons.setdefault(u, []).append(why)
        failed: set[str] = set()
        # every batch url exactly once: curated xor one quarantine reason
        for u in batch:
            if cur.get(u, 0) + len(reasons.get(u, [])) != 1:
                failed.add(u)
        # the funnel as the written tables show it, against the generated
        # batch and against the counts the job returns
        written = Counter(why for whys in reasons.values() for why in set(whys))
        written["curated"] = len(cur)
        returned = {k.removeprefix("dropped_"): r[k] for k in r if k.startswith("dropped_")}
        returned["curated"] = r["newly_curated"]
        identity_gap = (
            abs(sum(written.values()) - len(batch))
            + abs(r["new_docs"] - len(batch))
            + sum(abs(written.get(k, 0) - returned.get(k, 0)) for k in written.keys() | returned.keys())
        )

        def reason(u):
            return (reasons.get(u) or ["curated"])[0]

        expected = {"batch_exact": "exact_dup", "batch_near": "near_dup"}
        recall: dict[str, list[int]] = {}
        for fam, pairs in m["families"].items():
            hit = eligible = 0
            for twin, src in pairs:
                if reason(twin) in QUALITY_REASONS or (
                    fam in expected and reason(src) in QUALITY_REASONS
                ):
                    continue  # never reached dedup: not a recall case
                eligible += 1
                # with history dedup off, history twins are new docs
                if reason(twin) == expected.get(fam, "curated"):
                    hit += 1
                else:
                    failed.add(twin)
            recall[fam] = [hit, eligible]
        dup_dropped_fresh = [u for u in m["fresh_urls"] if reason(u) in DUP_REASONS]
        failed.update(dup_dropped_fresh)
        per_host = Counter(_host(u) for u in cur)
        over_cap = {h: n for h, n in per_host.items() if n > m["host_cap"]}
        failed.update(u for u in cur if _host(u) in over_cap)
        return len(failed) + identity_gap, {
            "identity_gap": identity_gap,
            "not_exactly_once": sum(
                1 for u in batch if cur.get(u, 0) + len(reasons.get(u, [])) != 1
            ),
            "recall": recall,
            "fresh_dropped_as_dup": len(dup_dropped_fresh),
            "hosts_over_cap": over_cap,
            "cap_binds": r["dropped_host_cap"] > 0,
            "funnel_written": dict(written),
            "funnel_returned": returned,
        }

    def probes(self, ctx: Context, m: dict, last_out: Path, r: dict) -> dict:
        from pdf_parser_spark.operators import dedup as dd
        from pdf_parser_spark.operators import mixing as mx
        from pdf_parser_spark.operators import webtext_filters as wf

        spark = ctx.spark
        out = spark_layer_probes(ctx, m["input"], ["url", "text"])
        docs = read_documents(spark, m["input"]).cache()
        docs.count()
        hist_src = spark.read.parquet(str(Path(m["base"]) / "curated")).select("url", "text")
        hist = dd.doc_signatures(hist_src, key_col="url").cache()
        hist.count()

        out["webtext.quality_s"] = ctx.tagged(
            "probe-quality", median_time, lambda: noop(wf.line_dup_stats(wf.gopher_quality_flags(docs)))
        )
        out["webtext.pii_s"] = ctx.tagged("probe-pii", median_time, lambda: noop(wf.pii_redact(docs)))
        out["dedup.exact_s"] = ctx.tagged(
            "probe-exact", median_time, lambda: noop(dd.dedup_exact(docs, key_col="url"))
        )
        pairs = dd.near_dup_pairs_minhash(docs, key_col="url")
        out["dedup.minhash_s"] = ctx.tagged("probe-minhash", median_time, pairs.count)
        sigs_df = dd.doc_signatures(docs, key_col="url")
        out["dedup.signatures_s"] = ctx.tagged("probe-signatures", median_time, lambda: noop(sigs_df))
        sigs = sigs_df.cache()
        sigs.count()
        hits_df = dd.near_dups_vs_history(sigs, hist, key_col="url")
        out["dedup.history_s"] = ctx.tagged("probe-history", median_time, hits_df.count)
        n_cands = dd.lsh_candidate_pairs(sigs.where("signature is not null"), key_col="url").count()
        n_pairs = pairs.count()
        hits = {row["url"] for row in hits_df.select("url").distinct().collect()}
        n_hist_cands = dd.near_dups_vs_history(sigs, hist, key_col="url", threshold=0.0).count()
        out.update(
            {
                "dedup.lsh_candidates": n_cands,
                "dedup.minhash_pairs": n_pairs,
                "dedup.minhash_pairs_per_candidate": n_pairs / n_cands if n_cands else 0.0,
                "dedup.history_hits_per_candidate": len(hits) / n_hist_cands if n_hist_cands else 0.0,
                "mixing.host_cap_s": ctx.tagged(
                    "probe-host-cap", median_time, lambda: noop(mx.host_cap(docs, m["host_cap"]))
                ),
                "sinks.curate_write_s": sum(
                    r["stage_secs"].get(k, 0.0)
                    for k in ("quarantine_write", "curated_write", "fingerprint_store")
                ),
            }
        )
        # the history layer's own recall on the planted history twins
        exact_hist = {
            row["url"]
            for row in sigs.join(hist.select("fp").distinct(), "fp", "left_semi").select("url").collect()
        }
        stored = {row["url"] for row in hist.select("url").collect()}
        recall = {
            fam: _recall([p for p in m["families"][fam] if p[1] in stored], found)
            for fam, found in (("history_exact", exact_hist), ("history_near", hits))
        }
        for df in (docs, hist, sigs):
            df.unpersist()
        missed = sum(eligible - hit for hit, eligible in recall.values())
        return out, {"failed": missed, "history_recall": recall}


def _recall(pairs: list[tuple[str, str]], found: set[str]) -> list[int]:
    return [sum(1 for t, _ in pairs if t in found), len(pairs)]


WORKLOADS = {w.name: w for w in (ExtractSkewed, StripHtmlUniform, CurateIncremental)}
