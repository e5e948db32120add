"""Snapshot-manifest table layer: commit atomicity, time travel,
rollback-as-commit, expiry, and composition with the resume contract
(the north rule's Iceberg-checkpoint shape)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.sinks import snapshots as sn
from pdf_parser_spark.sources.corpus import synthetic_documents


def test_commit_read_time_travel(spark, tmp_path):
    table = str(tmp_path / "docs_table")
    docs = synthetic_documents(spark, 20, seed=42).cache()
    s1 = sn.commit(spark, docs.limit(8), table)
    s2 = sn.commit(spark, docs.subtract(docs.limit(8)), table)
    assert (s1["snapshot_id"], s2["snapshot_id"]) == (1, 2)
    assert s2["parent_id"] == 1 and s2["total_rows"] == 20

    assert sn.read(spark, table).count() == 20          # current
    assert sn.read(spark, table, snapshot_id=1).count() == 8  # time travel
    with pytest.raises(KeyError):
        sn.read(spark, table, snapshot_id=9)
    docs.unpersist()


def test_overwrite_and_rollback_keep_history(spark, tmp_path):
    table = str(tmp_path / "t2")
    docs = synthetic_documents(spark, 12, seed=42).cache()
    sn.commit(spark, docs.limit(5), table)
    sn.commit(spark, docs, table, operation="overwrite")
    assert sn.read(spark, table).count() == 12
    assert sn.read(spark, table, snapshot_id=1).count() == 5

    rb = sn.rollback(table, 1)
    assert rb["operation"] == "rollback" and rb["snapshot_id"] == 3
    assert sn.read(spark, table).count() == 5           # head is old set
    assert sn.read(spark, table, snapshot_id=2).count() == 12  # history intact
    docs.unpersist()


def test_orphan_batch_invisible_without_manifest(spark, tmp_path):
    """Crash-before-commit simulation: a data directory with no
    manifest entry must be invisible to readers (the rename IS the
    commit)."""
    table = str(tmp_path / "t3")
    docs = synthetic_documents(spark, 10, seed=42)
    sn.commit(spark, docs.limit(4), table)
    # orphan write (as if the job died before writing the manifest)
    docs.limit(3).write.parquet(str(Path(table) / "data" / "orphan"))
    assert sn.read(spark, table).count() == 4
    assert sn.current_snapshot(table)["total_rows"] == 4


def test_expire_snapshots_deletes_only_dead_batches(spark, tmp_path):
    table = str(tmp_path / "t4")
    docs = synthetic_documents(spark, 15, seed=42).cache()
    sn.commit(spark, docs.limit(5), table)                      # v1
    sn.commit(spark, docs.limit(9).subtract(docs.limit(5)), table)  # v2 (appends)
    sn.commit(spark, docs, table, operation="overwrite")        # v3 (new set)
    res = sn.expire_snapshots(table, keep_last=1)
    assert res["removed_snapshots"] == 2
    assert res["removed_batches"] == 2  # v1/v2 batches unreferenced by v3
    assert sn.read(spark, table).count() == 15
    assert len(sn.snapshots(table)) == 1
    docs.unpersist()


def test_snapshot_resume_composition(spark, tmp_path):
    """The jobs-style resume contract over the snapshot log: anti-join
    the CURRENT snapshot's url set, commit only the remainder."""
    table = str(tmp_path / "t5")
    docs = synthetic_documents(spark, 20, seed=42).cache()
    sn.commit(spark, docs.limit(12), table)
    done = sn.read(spark, table).select("url").distinct()
    remainder = docs.join(done, on="url", how="left_anti")
    s2 = sn.commit(spark, remainder, table, summary={"resume": True})
    assert s2["batch_rows"] == 8
    cur = sn.read(spark, table)
    assert cur.count() == 20
    assert cur.select("url").distinct().count() == 20  # idempotent per url
    docs.unpersist()


def test_extract_job_snapshot_mode(spark, tmp_path):
    """jobs/extract.py: each run is an atomic snapshot commit; resume
    anti-joins the current snapshot and commits only the remainder —
    the north rule's Iceberg-checkpoint restart."""
    from jobs.extract import run as run_job
    from pdf_parser_spark.sources.corpus import write_documents

    corpus_half = str(tmp_path / "half.parquet")
    corpus_full = str(tmp_path / "full.parquet")
    out = str(tmp_path / "snap_out")
    full = synthetic_documents(spark, 16, seed=42)
    write_documents(full.limit(9), corpus_half)
    write_documents(full, corpus_full)

    first = run_job(corpus_half, out, resume=False, spark=spark)
    assert first["snapshot_id"] == 1 and first["newly_extracted"] == 9

    second = run_job(corpus_full, out, resume=True, spark=spark)
    assert second["snapshot_id"] == 2
    assert second["already_extracted"] == 9
    assert second["newly_extracted"] == 7
    assert second["total_extracted"] == 16

    table = str(Path(out) / "extracted")
    assert sn.read(spark, table).select("url").distinct().count() == 16
    # time travel back to the first batch
    assert sn.read(spark, table, snapshot_id=1).count() == 9


def test_commit_conflict_detected(spark, tmp_path):
    """Two writers racing to the same snapshot version: the loser gets
    CommitConflictError and the winner's manifest survives byte-for-
    byte (real Iceberg fails the losing CAS; os.replace would clobber)."""
    table = str(tmp_path / "cas")
    docs = synthetic_documents(spark, 6, seed=42)
    sn.commit(spark, docs.limit(3), table)

    # both writers read parent v1 and race to publish v2
    winner = {
        "snapshot_id": 2, "parent_id": 1, "operation": "append",
        "batches": ["data/w"], "new_batches": ["data/w"],
        "batch_rows": 1, "total_rows": 4, "summary": {"writer": "A"},
    }
    sn._publish(winner, table)
    loser = dict(winner, summary={"writer": "B"})
    with pytest.raises(sn.CommitConflictError):
        sn._publish(loser, table)
    assert sn.current_snapshot(table)["summary"] == {"writer": "A"}
    # no tmp litter from the failed publish
    assert not list((Path(table) / "_snapshots").glob("*.tmp"))


def test_snapshots_reject_remote_uri(spark, tmp_path):
    docs = synthetic_documents(spark, 2, seed=42)
    with pytest.raises(ValueError, match="local filesystem"):
        sn.commit(spark, docs, "s3://bucket/t")
    with pytest.raises(ValueError, match="local filesystem"):
        sn.read(spark, "s3a://bucket/t")
    with pytest.raises(ValueError, match="local filesystem"):
        sn.snapshots("hdfs://nn/t")


def test_read_incremental_returns_only_new_batch(spark, tmp_path):
    table = str(tmp_path / "inc")
    docs = synthetic_documents(spark, 10, seed=42).cache()
    sn.commit(spark, docs.limit(6), table)
    sn.commit(spark, docs.subtract(docs.limit(6)), table)
    assert sn.read_incremental(spark, table, 1).count() == 6
    inc2 = sn.read_incremental(spark, table)  # default = current
    assert inc2.count() == 4
    # rollback adds no data → incremental scan is empty
    sn.rollback(table, 1)
    assert sn.read_incremental(spark, table) is None
    with pytest.raises(KeyError):
        sn.read_incremental(spark, table, 99)
    docs.unpersist()


def test_remove_orphans_deletes_only_unreferenced(spark, tmp_path):
    table = str(tmp_path / "orph")
    docs = synthetic_documents(spark, 8, seed=42)
    sn.commit(spark, docs.limit(5), table)
    # crash-before-commit leftover + a losing writer's batch
    docs.limit(2).write.parquet(str(Path(table) / "data" / "deadbeef"))
    docs.limit(1).write.parquet(str(Path(table) / "data" / "loser01"))
    # default grace period protects an in-flight commit's fresh batch
    assert sn.remove_orphans(table) == {"removed_batches": 0, "skipped_young": 2}
    got = sn.remove_orphans(table, min_age_sec=0)
    assert got == {"removed_batches": 2, "skipped_young": 0}
    assert sn.read(spark, table).count() == 5  # committed data untouched
    assert sn.remove_orphans(table, min_age_sec=0)["removed_batches"] == 0
    # guard applies here too
    with pytest.raises(ValueError, match="local filesystem"):
        sn.remove_orphans("s3://bucket/t")


def test_commit_counts_rows_by_observation(spark, tmp_path):
    """batch_rows is observed on the commit's own write: exact for a
    multi-partition frame, and an empty append publishes nothing — no
    batch directory and no manifest, the head returned unchanged (None
    on a fresh table, which stays fresh)."""
    docs = synthetic_documents(spark, 12, seed=42)
    fresh = str(tmp_path / "empty")
    assert sn.commit(spark, docs.limit(0), fresh) is None
    assert sn.snapshots(fresh) == [] and not list(Path(fresh).glob("batch=*"))
    assert sn.read_or_none(spark, fresh) is None

    table = str(tmp_path / "multi")
    multi = docs.repartition(5)
    assert multi.rdd.getNumPartitions() == 5
    s1 = sn.commit(spark, multi, table)
    assert s1["batch_rows"] == 12
    assert len(list((Path(table) / s1["new_batches"][0]).glob("*.parquet"))) > 1
    s2 = sn.commit(spark, multi.limit(7), table)
    assert (s2["batch_rows"], s2["total_rows"]) == (7, 19)
    assert sn.read(spark, table).count() == 19
    assert sn.commit(spark, multi.limit(0), table) == s2
    assert len(sn.snapshots(table)) == 2 and len(list(Path(table).glob("batch=*"))) == 2


def test_batches_are_hive_style_directories(spark, tmp_path):
    """Each commit lands in <table>/batch=<uuid>/: a raw directory read
    returns every row plus a string `batch` column, while a snapshot
    read adds no column."""
    import pyarrow.parquet as pq

    table = str(tmp_path / "hive")
    docs = synthetic_documents(spark, 9, seed=42).cache()
    s1 = sn.commit(spark, docs.limit(4), table)
    sn.commit(spark, docs.subtract(docs.limit(4)), table)
    assert s1["new_batches"][0].startswith("batch=")
    assert sn.read(spark, table).columns == docs.columns
    raw = spark.read.parquet(table)
    assert raw.columns == docs.columns + ["batch"]
    assert dict(raw.dtypes)["batch"] == "string"
    assert raw.count() == 9
    assert pq.read_table(table, columns=["url"]).num_rows == 9
    docs.unpersist()


def test_plain_parquet_directory_is_not_a_snapshot_table(spark, tmp_path):
    """A directory of parquet files with no _snapshots/ log is refused by
    name; a missing or empty directory reads as a fresh table."""
    plain = str(tmp_path / "plain")
    synthetic_documents(spark, 3, seed=42).write.parquet(plain)
    for op in (
        lambda: sn.read(spark, plain),
        lambda: sn.read_incremental(spark, plain),
        lambda: sn.commit(spark, synthetic_documents(spark, 1, seed=1), plain),
    ):
        with pytest.raises(ValueError, match="not a snapshot table"):
            op()
    assert not (Path(plain) / "_snapshots").exists()

    (tmp_path / "empty").mkdir()
    for t in (str(tmp_path / "missing"), str(tmp_path / "empty")):
        with pytest.raises(FileNotFoundError):
            sn.read(spark, t)
        with pytest.raises(FileNotFoundError):
            sn.read_incremental(spark, t)


def test_read_of_many_commits_runs_no_listing_job(spark, tmp_path):
    """sn.read passes one root path per committed batch. Past
    spark.sql.sources.parallelPartitionDiscovery.threshold roots Spark
    lists them with a job of its own; get_spark raises the threshold,
    so building the DataFrame of a 40-commit table runs at most the one
    job that reads the parquet schema."""
    table = str(tmp_path / "many")
    for i in range(40):
        sn.commit(spark, spark.range(i, i + 1), table)
    sc = spark.sparkContext
    sc.setJobGroup("sn-read", "sn-read")
    try:
        df = sn.read(spark, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("sn-read")) <= 1
    assert sorted(r.id for r in df.collect()) == list(range(40))
