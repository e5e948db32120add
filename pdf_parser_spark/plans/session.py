"""SparkSession factory tuned for the extraction workload (SURVEY §4).

Scale rationale (targets a 1000-executor cluster; local[N] here):
  - AQE on: runtime coalescing + skew-join splitting serve the native
    (byte-bound) stages. AQE sizes partitions by shuffle BYTES, which
    says little about the CPU-bound Python extraction stage (13 MB of
    shuffled text took about a minute of task time on 4 cores), so that
    stage gets an explicit repartition count AQE leaves alone
    (operators/extract.salted_repartition, default: shuffle.partitions).
  - Arrow batches capped so a batch of page-text blobs fits executor
    memory (html/text rows are KB-MB scale, unlike typical columns).
  - shuffle.partitions sized for local test runs. Every setting here
    is a default: what spark-submit passes (--master, --conf) wins, so
    a submitted job runs on the cluster, with the settings, it was given
    (docs/RUNBOOK.md documents the cluster profile).
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# At 100 TB / ~128 MB splits there are ~800k scan tasks; shuffle
# partitions should track cluster cores × 2-3, set at submit time.
# Locally: cores × 2 keeps every core busy without tiny-task spam, and
# is the extraction stage's default task count.
_LOCAL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # page text rows are large; keep Arrow batches small enough that
    # batch_size × avg_row_bytes stays well under worker memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # Spark sizes memory pages from heap ÷ cores (64 MiB for a 4 GB heap
    # on 4 cores), and every string-keyed broadcast hash relation holds at
    # least one page until the ContextCleaner drops the broadcast after
    # some later GC. The small broadcast joins of one curate call (256
    # docs, 2 MB) still pinned 130-330 MB when the call returned, the
    # amount set by GC timing. 4 MiB pages bound that to a few MB;
    # records larger than a page still get a page of their own.
    "spark.buffer.pageSize": "4m",
    # Spark lists more than 32 root paths with a Spark job of its own,
    # and sinks/snapshots.read passes one root per committed batch: a
    # 40-commit table ran that listing job before any query. Snapshot
    # tables are local files, which list faster in-process than a job.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


CPUS_HELP = "run on local[N] when the launcher gave no master (spark-submit always gives one)"


def _launcher_conf() -> SparkConf:
    """The spark.* settings spark-submit passed this process, read from
    the JVM it already started; empty in a plain `python` process,
    whose JVM the builder starts."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return SparkConf(loadDefaults=False)
    SparkContext._ensure_initialized()
    return SparkConf()


def get_spark(app_name: str = "pdf-parser-spark", cpus: int | None = None) -> SparkSession:
    """Session with the engine's tuned defaults, each applied only where
    the launcher left the key unset.

    With no master from the launcher it runs local[N], N from (in
    order): explicit arg, $SPARK_GRAFT_CPUS, all cores.
    """
    n = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle is None:
        cores = os.cpu_count() or 8 if n == "*" else int(n)
        shuffle = str(max(8, cores * 2))
    defaults = {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": shuffle,
        **_LOCAL_DEFAULTS,
    }
    launcher = _launcher_conf()
    builder = SparkSession.builder.appName(app_name)
    for key, value in defaults.items():
        if not launcher.contains(key):
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executors (local or cluster).

    Python workers don't inherit the driver's sys.path mutations, so a
    job launched from outside the repo root fails with
    ModuleNotFoundError inside pandas UDFs. Zipping the package and
    addPyFile-ing it is the same mechanism `spark-submit --py-files`
    uses and works identically on a real cluster.
    """
    import hashlib

    pkg_dir = pathlib.Path(__file__).resolve().parent.parent
    if not pkg_dir.is_dir():
        # Imported from a zip already (spark-submit --py-files puts the
        # archive itself on the driver's path): rglob over a zip member
        # path yields nothing, so re-ship the containing archive verbatim
        # instead of building an empty one.
        s = str(pkg_dir)
        idx = s.lower().rfind(".zip")
        if idx != -1:
            spark.sparkContext.addPyFile(s[: idx + 4])
        return
    files = sorted(pkg_dir.rglob("*.py"))
    # cache key = content fingerprint, NOT pid: a recycled pid (or a
    # prior round's process) must never ship a stale zip of old code
    fp = hashlib.sha1()
    for py in files:
        st = py.stat()
        fp.update(f"{py.relative_to(pkg_dir)}:{st.st_size}:{st.st_mtime_ns};".encode())
    zip_path = (
        pathlib.Path(tempfile.gettempdir()) / f"pdf_parser_spark_{fp.hexdigest()[:16]}.zip"
    )
    if not zip_path.exists():
        tmp = zip_path.with_suffix(".tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in files:
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
        tmp.replace(zip_path)
    spark.sparkContext.addPyFile(str(zip_path))
