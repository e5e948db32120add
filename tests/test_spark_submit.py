"""Cold-process `spark-submit --py-files` launch of the extraction job.

North-rule operational contract: the job "is launched via spark-submit
--py-files on multi-executor clusters". docs/RUNBOOK.md documents that
profile; this test EXECUTES it end-to-end with the real distribution's
bin/spark-submit in a scratch directory:

  - the package ships ONLY as pdf_parser_spark.zip (built with the
    RUNBOOK's exact loop) — the test copies jobs/extract.py out of the
    repo and strips PYTHONPATH, so every `pdf_parser_spark` import on
    the driver AND inside executor python workers must resolve from
    the shipped archive, exactly as on a 1000-executor cluster;
  - the job's resume contract is exercised through the same cold
    entry point (second submit: 0 newly extracted, pure anti-join);
  - the launcher owns the cluster: under `--master local-cluster[2,1,1024]`
    (two executor JVMs started from the distribution) the job runs on
    those executors with the submitted shuffle.partitions, and writes
    the same `extracted` rows as the local[4] submit.

Reference parity: the reference is launched as `python run.py <pdf>`
per document (/root/reference/README.md); this is the distributed
equivalent launch surface.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent

SPARK_SUBMIT = shutil.which("spark-submit") or (
    "/opt/spark/bin/spark-submit"
    if os.path.exists("/opt/spark/bin/spark-submit")
    else None
)

pytestmark = pytest.mark.skipif(
    SPARK_SUBMIT is None, reason="no spark-submit on PATH (pip-only install)"
)


def _build_pyfiles_zip(dest: pathlib.Path) -> pathlib.Path:
    """The RUNBOOK's packaging loop, verbatim semantics."""
    zip_path = dest / "pdf_parser_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in sorted((REPO / "pdf_parser_spark").rglob("*.py")):
            zf.write(p, arcname=str(p.relative_to(REPO)))
    return zip_path


def _submit(
    job: pathlib.Path,
    zip_path: pathlib.Path,
    cwd: pathlib.Path,
    *args: str,
    master: str = "local[4]",
    conf: tuple[str, ...] = ("spark.sql.shuffle.partitions=8",),
):
    env = {
        k: v
        for k, v in os.environ.items()
        # a clean launch environment: the repo must not leak onto the
        # driver's import path except through --py-files
        if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master", master,
        "--conf", "spark.ui.enabled=false",
        *(arg for c in conf for arg in ("--conf", c)),
        "--py-files", str(zip_path),
        str(job),
        *args,
    ]
    return subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )


def _summary(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON summary in stdout:\n{proc.stdout[-2000:]}")


@pytest.fixture(scope="module")
def local_submit(spark, tmp_path_factory):
    """One cold local[4] submit of the extraction job over 30 seed-42
    docs: (work dir, job script, zip, docs, outdir, summary)."""
    from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents

    tmp_path = tmp_path_factory.mktemp("submit")
    docs = tmp_path / "docs.parquet"
    write_documents(synthetic_documents(spark, 30, seed=42), str(docs))

    # the job script leaves the repo: its parent-dir sys.path insert
    # then points at tmp_path, so the zip is the only package source
    job = tmp_path / "extract_job.py"
    shutil.copy(REPO / "jobs" / "extract.py", job)
    zip_path = _build_pyfiles_zip(tmp_path)
    outdir = tmp_path / "jobout"
    s1 = _summary(
        _submit(job, zip_path, tmp_path, "--input", str(docs), "--outdir", str(outdir))
    )
    return tmp_path, job, zip_path, docs, outdir, s1


def _digests(spark, table: pathlib.Path) -> dict[str, str]:
    """sha256 per url of an `extracted` row, without the partition
    stamp and timing that depend on how the run was scheduled. An
    `error` counts by its exception line: the traceback above it names
    the directory each executor unpacked the package into."""
    from pdf_parser_spark.sinks import snapshots as sn

    digests = {}
    for r in sn.read(spark, str(table)).drop("partition_id", "extract_secs").collect():
        row = r.asDict(recursive=True)
        if row["error"]:
            row["error"] = row["error"].rstrip().splitlines()[-1]
        canon = json.dumps(row, sort_keys=True, default=str)
        digests[row["url"]] = hashlib.sha256(canon.encode()).hexdigest()
    return digests


def test_spark_submit_pyfiles_extract_and_resume(local_submit):
    tmp_path, job, zip_path, docs, outdir, s1 = local_submit
    assert s1["newly_extracted"] == 30
    # golden statuses at seed 42 / 30 docs (see .claude/skills/verify)
    assert s1["status_counts"].get("ok") == 23
    assert (outdir / "extracted").exists()

    s2 = _summary(
        _submit(
            job, zip_path, tmp_path,
            "--input", str(docs), "--outdir", str(outdir), "--resume",
        )
    )
    assert s2["already_extracted"] == 30
    assert s2["newly_extracted"] == 0


def test_spark_submit_runs_on_the_launchers_cluster(spark, local_submit):
    """What spark-submit passes wins over get_spark's local defaults:
    the job registers the two executors of `local-cluster[2,1,1024]`,
    its extraction stage runs the submitted 123 partitions, and the
    `extracted` rows equal the local[4] submit's."""
    tmp_path, job, zip_path, docs, local_out, _ = local_submit
    outdir = tmp_path / "clusterout"
    events = tmp_path / "events"
    events.mkdir()
    s = _summary(
        _submit(
            job, zip_path, tmp_path, "--input", str(docs), "--outdir", str(outdir),
            master="local-cluster[2,1,1024]",
            conf=(
                "spark.sql.shuffle.partitions=123",
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir={events}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ),
        )
    )
    assert s["newly_extracted"] == 30

    log = [json.loads(line) for f in events.iterdir() for line in f.read_text().splitlines()]
    executors = {
        e["Executor ID"] for e in log
        if e["Event"] == "SparkListenerExecutorAdded" and e["Executor ID"] != "driver"
    }
    assert len(executors) == 2, executors
    task_counts = {
        e["Stage Info"]["Number of Tasks"] for e in log
        if e["Event"] == "SparkListenerStageSubmitted"
    }
    assert 123 in task_counts, task_counts
    assert _digests(spark, outdir / "extracted") == _digests(spark, local_out / "extracted")
