"""Repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload extract_skewed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives the program's public
job functions at local[nproc], one call at a time, until the calls have
taken `--seconds`; the output of every call is checked. The last stdout
line is the result: with `--trace 0` the end-to-end metrics, with
`--trace 1` the per-layer metrics of a traced run (see README.md). The
line before it is the full record, stamped with the machine and inputs;
the record is also kept under perfbench/.work/records/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import socket
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "mem_mb": "MB",
    "write_bytes_per_input_byte": "ratio",
    "accounted_frac": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "extract.shuffle_s": "s",
    "extract.shuffle_write_mb": "MB",
    "arrow.transport_s": "s",
    "extract.udf_tasks": "count",
    "extract.task_s_p50": "s",
    "extract.task_s_max": "s",
    "extract.task_max_over_p50": "ratio",
    "extract.parallel_efficiency": "ratio",
    "core.docs_per_s_per_core": "docs/s",
    "core.ms_per_doc_p50": "ms",
    "core.ms_per_doc_p99": "ms",
    "core.mega_ms_per_doc_p50": "ms",
    "core.busy_share": "ratio",
    "core.error_docs": "count",
    "html.docs_per_s_per_core": "docs/s",
    "html.ms_per_doc_p50": "ms",
    "html.ms_per_doc_p99": "ms",
    "html.strip_s": "s",
    "jobs.extract.extract_write_s": "s",
    "jobs.extract.side_tables_s": "s",
    "jobs.extract.pre_s": "s",
    "jobs.extract.spark_jobs": "count",
    "sinks.write_s": "s",
    "sinks.extracted_mb": "MB",
    "sinks.side_tables_mb": "MB",
    "webtext.quality_s": "s",
    "webtext.pii_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.signatures_s": "s",
    "dedup.history_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.minhash_pairs": "count",
    "dedup.minhash_pairs_per_candidate": "ratio",
    "dedup.history_hits_per_candidate": "ratio",
    "mixing.host_cap_s": "s",
    "jobs.curate.spark_jobs": "count",
    "sinks.curate_write_s": "s",
    "spark.task_s_sum": "s",
    "spark.cpu_s_sum": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "mem.jvm_heap_retained_mb": "MB",
    "mem.jvm_heap_after_gc_mb": "MB",
    "mem.python_workers_mb": "MB",
    "mem.jvm_rss_mb": "MB",
    "trace.docs_per_s_untraced": "docs/s",
    "trace.docs_per_s_traced": "docs/s",
    "trace.overhead_frac": "ratio",
}

DRIVER_MEM = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_sha1() -> str:
    """Fingerprint of the program under test (works without git)."""
    h = hashlib.sha1()
    for top in ("pdf_parser_spark", "jobs"):
        for f in sorted((ROOT / top).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def isolate(work: Path, slots: int) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`
    (-XX:-UsePerfData: the JVM would otherwise map a file in /tmp)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    # a 4 GB heap cap (the program's default is 8 GB) keeps the benchmark
    # beside other tenants of the host; the heap grows as the JVM chooses
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" pyspark-shell'
    )


def start_session():
    from pdf_parser_spark.plans.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    return time.perf_counter() - t0, spark


def gateway_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def shutdown(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from perfbench.proc import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 60
    for pid in tree:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, 9)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().rsplit(b")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in (b"Z", b"X")


def enable_event_log(spark, log_dir: Path):
    """Restart the SparkContext inside the same JVM with an uncompressed
    event log; the traced half of a `--trace 1` run uses it."""
    log_dir.mkdir(parents=True, exist_ok=True)
    system = spark.sparkContext._jvm.java.lang.System
    spark.stop()
    for key, value in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", log_dir.as_uri()),
        ("spark.eventLog.compress", "false"),
    ):
        system.setProperty(key, value)
    return start_session()[1]


class Bench:
    def __init__(self, workload, seed: int, seconds: float, slots: int, work: Path):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.slots = slots
        self.work = work

    def set_up(self):
        """Session, the input (built once) and the warm-up."""
        from perfbench.workloads import Context, timed

        start_s, spark = start_session()
        ctx = Context(spark, self.work, self.seed, self.slots)
        build_s, m = timed(self.wl.build, ctx, self.seed, self.work / "in")
        warm_s, _ = timed(self.wl.warm_up, ctx, m)
        self.setup = {"session_start_s": start_s, "build_s": build_s, "warm_up_s": warm_s}
        return ctx, m

    def loop(self, ctx, m: dict) -> list[dict]:
        """Closed loop: call, check, repeat until the calls took `seconds`.
        Every call runs under a Spark job group of its own."""
        from perfbench.proc import PeakMemory, dir_bytes
        from perfbench.workloads import timed

        memory = PeakMemory(ctx.spark.sparkContext._jvm, gateway_proc().pid)
        outdir = self.work / "call"
        calls: list[dict] = []
        busy = 0.0
        while not calls or busy < self.seconds:
            group = f"{ctx.group}-{len(calls)}"
            prep_s, _ = timed(self.wl.prepare, ctx, m, outdir)
            before = dir_bytes(outdir)
            memory.start()
            wall, summary = timed(ctx.tagged, group, self.wl.call, ctx, m, outdir)
            peak = memory.stop()
            summary["_call_s"] = wall
            written = dir_bytes(outdir) - before
            failed, detail = self.wl.check(ctx, m, outdir, summary)
            calls.append(
                {
                    "group": group,
                    "wall_s": wall,
                    "prepare_s": prep_s,
                    **peak,
                    "written_per_input_b": written / m["input_bytes"],
                    "docs": self.wl.docs(m),
                    "failed": failed,
                    "check": detail,
                    "spark_jobs": ctx.job_count(group),
                    "summary": summary,
                }
            )
            busy += wall
        return calls

    def end_to_end(self, calls: list[dict]) -> dict:
        med = statistics.median
        docs = sum(c["docs"] for c in calls)
        failed = sum(c["failed"] for c in calls)
        return {
            "setup_s": sum(self.setup.values()) + med(c["prepare_s"] for c in calls),
            "docs_per_s": med(c["docs"] / c["wall_s"] for c in calls),
            "mem_mb": med(c["heap_end_b"] + c["workers_b"] for c in calls) / 1e6,
            "write_bytes_per_input_byte": med(c["written_per_input_b"] for c in calls),
            "accounted_frac": (docs - min(failed, docs)) / docs,
        }

    def traced(self, ctx, m: dict, untraced: dict, calls: list[dict]) -> tuple[dict, dict]:
        """Per-layer metrics: a traced loop with Spark's event log on,
        then each layer's public function on its own. Returns the metrics
        and the probes' own checks."""
        from perfbench.eventlog import EventLog, read_events, task_skew
        from perfbench.workloads import PROBE_REPS

        med = statistics.median
        log_dir = self.work / "eventlog"
        ctx.spark = enable_event_log(ctx.spark, log_dir)
        ctx.group = "traced"
        tcalls = self.loop(ctx, m)
        layers = dict.fromkeys(PER_LAYER, 0.0)
        # the probes read the last traced call's output
        probed, probe_check = self.wl.probes(ctx, m, self.work / "call", tcalls[-1]["summary"])
        layers.update(probed)
        ctx.spark.stop()
        log = EventLog(read_events(log_dir))

        per_call = [log.totals(c["group"]) for c in tcalls]
        for key in per_call[0]:
            layers[f"spark.{key}"] = med(p[key] for p in per_call)
        udf = [log.udf_task_times(c["group"]) for c in tcalls]
        layers["extract.udf_tasks"] = med(len(t) for t in udf)
        skews = [task_skew(t) for t in udf]
        for key in skews[0]:
            layers[f"extract.{key}"] = med(s[key] for s in skews)
        layers["extract.shuffle_write_mb"] = (
            log.totals("probe-shuffle")["shuffle_write_mb"] / PROBE_REPS
        )
        layers["session.start_s"] = self.setup["session_start_s"]
        layers["sources.input_mb"] = m["input_bytes"] / 1e6
        layers["mem.jvm_heap_retained_mb"] = med(c["heap_end_b"] for c in calls) / 1e6
        layers["mem.jvm_heap_after_gc_mb"] = med(c["heap_b"] for c in calls) / 1e6
        layers["mem.python_workers_mb"] = med(c["workers_b"] for c in calls) / 1e6
        layers["mem.jvm_rss_mb"] = med(c["jvm_rss_b"] for c in calls) / 1e6
        if self.wl.JOBS_METRIC:
            layers[self.wl.JOBS_METRIC] = med(c["spark_jobs"] for c in tcalls)
        traced_dps = med(c["docs"] / c["wall_s"] for c in tcalls)
        layers["trace.docs_per_s_untraced"] = untraced["docs_per_s"]
        layers["trace.docs_per_s_traced"] = traced_dps
        layers["trace.overhead_frac"] = 1.0 - traced_dps / untraced["docs_per_s"]
        if layers["core.docs_per_s_per_core"]:
            layers["extract.parallel_efficiency"] = untraced["docs_per_s"] / (
                self.slots * layers["core.docs_per_s_per_core"]
            )
        calls.extend(tcalls)
        return layers, probe_check

    def run(self, trace: bool) -> tuple[dict, dict]:
        ctx, m = self.set_up()
        calls = self.loop(ctx, m)
        e2e = self.end_to_end(calls)
        metrics, units, probe_check = e2e, END_TO_END, None
        if trace:
            metrics, probe_check = self.traced(ctx, m, e2e, calls)
            units = PER_LAYER
        failed = sum(c["failed"] for c in calls) + (probe_check or {}).get("failed", 0)
        record = {
            "stamp": {
                "workload": self.wl.name,
                "seed": self.seed,
                "trace": trace,
                "seconds": self.seconds,
                "nproc": nproc(),
                "slots": self.slots,
                "host": socket.gethostname(),
                "python": platform.python_version(),
                "pyspark": __import__("pyspark").__version__,
                "commit": git_commit(),
                "source_sha1": source_sha1(),
                "input_bytes": m["input_bytes"],
                "input": m["shares"],
            },
            "setup": self.setup,
            "end_to_end": e2e,
            "per_layer": metrics if trace else None,
            "probe_check": probe_check,
            "calls": [
                {k: v for k, v in c.items() if k != "summary"}
                | {"summary": {k: v for k, v in c["summary"].items() if k != "stage_secs"}}
                | {"stage_secs": c["summary"].get("stage_secs")}
                for c in calls
            ],
        }
        result = {
            "correct": failed == 0,
            "attempted": sum(c["docs"] for c in calls),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        return record, result


def main(argv: list[str] | None = None) -> int:
    from_here = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from_here.add_argument("--workload", required=True)
    from_here.add_argument("--seed", type=int, required=True)
    from_here.add_argument("--seconds", type=float, required=True)
    from_here.add_argument("--trace", type=int, choices=(0, 1), default=0)
    from_here.add_argument("--slots", type=int, default=None, help="Spark slots (default: nproc)")
    args = from_here.parse_args(argv)

    slots = args.slots or nproc()
    work = WORK / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, slots)
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    bench = Bench(WORKLOADS[args.workload](), args.seed, args.seconds, slots, work)
    try:
        record, result = bench.run(bool(args.trace))
    finally:
        from pyspark.sql import SparkSession

        shutdown(SparkSession.getActiveSession())
        shutil.rmtree(work, ignore_errors=True)
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    (records / name).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
