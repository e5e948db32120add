"""jobs/extract.py checkpoint/resume semantics (north_rule)."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs.extract import run as run_job
from pdf_parser_spark.operators import extract as ox
from pdf_parser_spark.sinks import snapshots as sn
from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents


def _status_counts(spark, out: str) -> dict[str, int]:
    ex = spark.read.parquet(str(Path(out) / "extracted"))
    return {r["status"]: r["count"] for r in ex.groupBy("status").count().collect()}


def test_resume_skips_already_extracted(spark, tmp_path):
    corpus = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)

    first = run_job(corpus, out, resume=False, spark=spark)
    assert first["newly_extracted"] == 24
    assert first["total_extracted"] == 24
    # reference-faithful per-doc failure accounting reaches the summary:
    # the counts observed on the extracted commit equal the statuses of
    # the rows the extracted table holds, zero counts omitted
    assert sum(first["status_counts"].values()) == 24
    assert first["status_counts"] == _status_counts(spark, out)
    assert len(first["status_counts"]) > 1

    second = run_job(corpus, out, resume=True, spark=spark)
    assert second["already_extracted"] == 24
    assert second["newly_extracted"] == 0
    assert second["total_extracted"] == 24
    assert second["status_counts"] == {}

    # the flat tables are projections of extracted and line up with it
    extracted = sn.read(spark, str(Path(out) / "extracted"))
    assert ox.toc_table(extracted).count() > 0
    rolled = ox.lineage_metrics(extracted).agg({"docs": "sum"}).collect()[0][0]
    assert rolled == 24
    assert [p.name for p in Path(out).iterdir()] == ["extracted"]


def test_resume_extracts_only_remainder(spark, tmp_path):
    corpus_half = str(tmp_path / "docs_half.parquet")
    corpus_full = str(tmp_path / "docs_full.parquet")
    out = str(tmp_path / "out2")
    full = synthetic_documents(spark, 20, seed=42)
    write_documents(full.limit(10), corpus_half)
    write_documents(full, corpus_full)

    first = run_job(corpus_half, out, resume=False, spark=spark)
    second = run_job(corpus_full, out, resume=True, spark=spark)
    assert second["already_extracted"] == 10
    assert second["newly_extracted"] == 10
    assert second["total_extracted"] == 20
    # each run counts only its own batch
    assert Counter(first["status_counts"]) + Counter(second["status_counts"]) == Counter(
        _status_counts(spark, out)
    )
    # idempotent per url: no duplicates after the resumed append
    ex = spark.read.parquet(str(Path(out) / "extracted"))
    assert ex.select("url").distinct().count() == 20
    assert ex.count() == 20


def test_curate_funnel_and_resume(spark, tmp_path):
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "cdocs.parquet")
    out = str(tmp_path / "curated_out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)

    first = run_curate(corpus, out, spark=spark, resume=False)
    assert first["input_docs"] == 24
    # funnel accounting is complete: every new doc is either dropped at
    # a named stage or curated
    assert (
        first["dropped_gopher"]
        + first["dropped_dup_lines"]
        + first["dropped_exact_dup"]
        + first["dropped_near_dup"]
        + first["newly_curated"]
    ) == first["new_docs"] == 24
    assert first["total_curated"] == first["newly_curated"] > 0

    second = run_curate(corpus, out, spark=spark, resume=True)
    assert second["already_curated"] == first["total_curated"]
    assert second["newly_curated"] == 0
    assert second["total_curated"] == first["total_curated"]

    curated = sn.read(spark, str(Path(out) / "curated"))
    # curated rows keep the input_hint schema and PII-redacted text
    assert set(curated.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert curated.count() == first["total_curated"]


def test_curate_quarantine_accounts_every_drop(spark, tmp_path):
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "qdocs.parquet")
    out = str(tmp_path / "qcur")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    m = run_curate(corpus, out, spark=spark, resume=False)

    quarantined = spark.read.parquet(str(Path(out) / "quarantine"))
    by_reason = {r["reason"]: r["n"] for r in quarantined.groupBy("reason").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
    ).collect()}
    assert by_reason.get("gopher", 0) == m["dropped_gopher"]
    assert by_reason.get("dup_lines", 0) == m["dropped_dup_lines"]
    assert by_reason.get("exact_dup", 0) == m["dropped_exact_dup"]
    assert by_reason.get("near_dup", 0) == m["dropped_near_dup"]
    # curated ∪ quarantined = every new input url, disjointly
    curated = spark.read.parquet(str(Path(out) / "curated")).select("url")
    q_urls = quarantined.select("url")
    assert curated.intersect(q_urls).count() == 0
    assert curated.union(q_urls).distinct().count() == 24


def test_curate_resume_does_not_reprocess_quarantine(spark, tmp_path):
    """A resumed run must anti-join BOTH prior outcomes: re-running the
    funnel on already-quarantined docs would re-append duplicate
    (url, reason) rows and break the disjoint accounting."""
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "rqdocs.parquet")
    out = str(tmp_path / "rqcur")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    first = run_curate(corpus, out, spark=spark, resume=False)
    q1 = spark.read.parquet(str(Path(out) / "quarantine"))
    n_q1 = q1.count()
    assert n_q1 > 0  # fixture must actually exercise the drop path

    second = run_curate(corpus, out, spark=spark, resume=True)
    assert second["new_docs"] == 0  # nothing left to adjudicate
    q2 = spark.read.parquet(str(Path(out) / "quarantine"))
    assert q2.count() == n_q1  # no duplicate re-appends
    assert q2.select("url", "reason").distinct().count() == n_q1
    # disjoint accounting still holds after the resume
    curated = spark.read.parquet(str(Path(out) / "curated")).select("url")
    assert curated.intersect(q2.select("url")).count() == 0
    assert curated.union(q2.select("url")).distinct().count() == 24
    assert second["total_curated"] == first["total_curated"]


def test_curate_single_materialization_per_stage(spark, tmp_path, monkeypatch):
    """The funnel's heavy lineage (Gopher/dup-line scan, exact-dedup
    groupBy) must be checkpointed so the job's many consumers (funnel
    agg, quarantine table, curated write, near-dup pass) execute each
    stage ONCE — at corpus scale, re-running the scan per action is the
    difference between one pass and ~6 over 100 TB."""
    # Spark 4: concrete frames are classic.dataframe.DataFrame, which
    # overrides localCheckpoint — spy on the class the instances use
    from pyspark.sql.classic.dataframe import DataFrame

    from jobs.curate import run as run_curate

    checkpointed = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        checkpointed.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    corpus = str(tmp_path / "opdocs.parquet")
    out = str(tmp_path / "opcur")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    m = run_curate(corpus, out, spark=spark, resume=False)
    # both heavy stages checkpointed, and metrics still add up
    assert len(checkpointed) >= 2
    assert (
        m["dropped_gopher"] + m["dropped_dup_lines"] + m["dropped_exact_dup"]
        + m["dropped_near_dup"] + m["newly_curated"]
    ) == m["new_docs"] == 24


def test_compact_rejects_remote_uri(spark, tmp_path):
    from jobs.compact import run as run_compact

    import pytest

    with pytest.raises(ValueError, match="local filesystem"):
        run_compact("s3://bucket/table", spark=spark)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    from jobs.compact import run as run_compact

    path = str(tmp_path / "frag")
    docs = synthetic_documents(spark, 40, seed=42)
    # fragment: 10 append batches -> many small files
    for i in range(10):
        docs.where(f"pmod(xxhash64(url), 10) = {i}").write.mode("append").parquet(path)
    before = len(list(Path(path).rglob("*.parquet")))
    assert before >= 10

    m = run_compact(path, key="url", target_mb=64, spark=spark)
    assert m["rows"] == 40
    assert m["files_after"] < before
    after = spark.read.parquet(path)
    assert after.count() == 40
    assert after.select("url").distinct().count() == 40
    # no leftover tmp/old dirs
    assert not Path(path + "__compact_tmp").exists()
    assert not Path(path + "__old").exists()


def test_compact_snapshot_table_is_one_overwrite_commit(spark, tmp_path, monkeypatch):
    """A snapshot table compacts by one overwrite commit: rows kept,
    the pre-compaction snapshot still readable, and a commit that
    loses rows is rolled back to its parent."""
    import pytest

    import jobs.compact as jc

    table = str(tmp_path / "snap_frag")
    docs = synthetic_documents(spark, 40, seed=42)
    for i in range(4):
        sn.commit(spark, docs.where(f"pmod(xxhash64(url), 4) = {i}").repartition(3), table)
    before = sn.current_snapshot(table)

    m = jc.run(table, key="url", target_mb=64, spark=spark)
    head = sn.current_snapshot(table)
    assert m["rows"] == 40 and m["files_after"] == 1 < m["files_before"]
    assert head["operation"] == "overwrite" and "batch_id" not in head["summary"]
    assert head["total_rows"] == 40 and len(head["batches"]) == 1
    assert sn.read(spark, table).select("url").distinct().count() == 40
    # time travel to the pre-compaction snapshot
    assert sn.read(spark, table, before["snapshot_id"]).count() == 40
    assert len(sn.read(spark, table, before["snapshot_id"]).inputFiles()) == m["files_before"]

    # a rewrite that loses a row: rolled back, and the job raises
    real_commit = sn.commit
    monkeypatch.setattr(sn, "commit", lambda spark_, df, *a, **k: real_commit(spark_, df.limit(39), *a, **k))
    with pytest.raises(RuntimeError, match="rolled back"):
        jc.run(table, spark=spark)
    rb = sn.current_snapshot(table)
    assert rb["operation"] == "rollback" and rb["batches"] == head["batches"]
    assert sn.read(spark, table).count() == 40


def test_resume_side_tables_incremental(spark, tmp_path):
    """A resume run commits the NEW batch only (observe()-counted); the
    flat tables are projections of extracted, over the whole corpus or
    over one run's incremental scan."""
    corpus_half = str(tmp_path / "ih.parquet")
    corpus_full = str(tmp_path / "if.parquet")
    out = str(tmp_path / "inc_out")
    full = synthetic_documents(spark, 20, seed=42)
    write_documents(full.limit(10), corpus_half)
    write_documents(full, corpus_full)

    first = run_job(corpus_half, out, resume=False, spark=spark)
    assert first["newly_extracted"] == 10

    second = run_job(corpus_full, out, resume=True, spark=spark)
    # the observed commit input is exactly the new batch
    assert second["newly_extracted"] == 10
    assert second["total_extracted"] == 20
    table = str(Path(out) / "extracted")
    batch = sn.read_incremental(spark, table, second["snapshot_id"])
    assert ox.lineage_metrics(batch).agg({"docs": "sum"}).collect()[0][0] == 10

    # the projections cover the WHOLE corpus, disjointly
    extracted = sn.read(spark, table)
    validation = ox.validation_table(extracted)
    assert validation.count() == 20
    assert validation.select("url").distinct().count() == 20
    per_run = [
        ox.lineage_metrics(sn.read_incremental(spark, table, s["snapshot_id"]))
        for s in sn.snapshots(table)
    ]
    lineage = per_run[0].unionByName(per_run[1])
    assert lineage.agg({"docs": "sum"}).collect()[0][0] == 20
    toc = ox.toc_table(extracted)
    assert toc.select("url").distinct().count() > 10  # both batches present


def test_resume_corrupt_checkpoint_aborts(spark, tmp_path):
    """A corrupt checkpoint must ABORT the resume, not silently degrade
    into a full re-run that appends duplicate rows (r3 verdict #4)."""
    import pytest

    corpus = str(tmp_path / "cc.parquet")
    out = str(tmp_path / "cc_out")
    write_documents(synthetic_documents(spark, 8, seed=42), corpus)

    # snapshots mode: truncated manifest
    run_job(corpus, out, resume=False, spark=spark)
    man = next((Path(out) / "extracted" / "_snapshots").glob("v*.json"))
    n_files = len(list(Path(out).rglob("*.parquet")))
    man.write_text(man.read_text()[: len(man.read_text()) // 2])
    with pytest.raises(Exception) as ei:
        run_job(corpus, out, resume=True, spark=spark)
    assert not isinstance(ei.value, FileNotFoundError)
    # table unchanged: nothing was re-extracted/appended
    assert len(list(Path(out).rglob("*.parquet"))) == n_files

    # plain mode: unreadable parquet checkpoint
    out2 = str(tmp_path / "cc_out2")
    (Path(out2) / "extracted").mkdir(parents=True)
    (Path(out2) / "extracted" / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        run_job(corpus, out2, resume=True, spark=spark)


def test_resume_fresh_table_still_full_run(spark, tmp_path):
    """The narrowed except still treats a genuinely missing checkpoint
    as 'nothing extracted yet'."""
    corpus = str(tmp_path / "fr.parquet")
    write_documents(synthetic_documents(spark, 6, seed=42), corpus)
    m1 = run_job(corpus, str(tmp_path / "fr_out"), resume=True, spark=spark)
    assert m1["newly_extracted"] == 6 and m1["already_extracted"] == 0


def test_extract_rejects_remote_outdir(spark):
    import pytest

    with pytest.raises(ValueError, match="local filesystem"):
        run_job("/tmp/in.parquet", "s3://bucket/out", spark=spark)


def test_curate_snapshot_mode_resume(spark, tmp_path):
    """curated AND quarantine are snapshot tables — each run is one
    atomic commit per table, resume anti-joins the current snapshots,
    and a corrupt manifest aborts the resume."""
    import pytest

    from jobs.curate import run as run_curate

    corpus_half = str(tmp_path / "sh.parquet")
    corpus_full = str(tmp_path / "sf.parquet")
    out = str(tmp_path / "scur")
    full = synthetic_documents(spark, 24, seed=42)
    write_documents(full.limit(12), corpus_half)
    write_documents(full, corpus_full)

    first = run_curate(corpus_half, out, spark=spark, resume=False)
    assert first["snapshot_id"] == 1
    assert first["new_docs"] == 12

    second = run_curate(corpus_full, out, spark=spark, resume=True)
    assert second["snapshot_id"] == 2
    assert second["new_docs"] == 12  # only the unseen half re-adjudicated
    assert second["already_curated"] == first["total_curated"]

    cur = sn.read(spark, str(Path(out) / "curated"))
    q = sn.read(spark, str(Path(out) / "quarantine"))
    assert cur.select("url").distinct().count() == cur.count() == second["total_curated"]
    assert q.select("url", "reason").distinct().count() == q.count()
    # disjoint, complete adjudication of all 24 urls
    assert cur.select("url").intersect(q.select("url")).count() == 0
    assert cur.select("url").union(q.select("url")).distinct().count() == 24
    # time travel: first run's curated batch is still addressable
    assert sn.read(spark, str(Path(out) / "curated"), snapshot_id=1).count() == first["newly_curated"]

    # corrupt manifest → resume aborts (no silent full re-run)
    man = sorted((Path(out) / "curated" / "_snapshots").glob("v*.json"))[-1]
    man.write_text(man.read_text()[:40])
    with pytest.raises(Exception) as ei:
        run_curate(corpus_full, out, spark=spark, resume=True)
    assert not isinstance(ei.value, FileNotFoundError)


def test_curate_resume_refuses_plain_parquet_outdir(spark, tmp_path):
    """An outdir whose curated table is plain parquet with no snapshot
    log aborts the resume, naming the table, instead of re-curating
    every document as if the table were empty."""
    import pytest

    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "pdocs.parquet")
    out = tmp_path / "plain_cur"
    write_documents(synthetic_documents(spark, 8, seed=42), corpus)
    spark.read.parquet(corpus).write.parquet(str(out / "curated"))
    with pytest.raises(ValueError, match="curated"):
        run_curate(corpus, str(out), spark=spark, resume=True)
    assert not (out / "curated" / "_snapshots").exists()


def test_curate_rejects_remote_outdir(spark):
    import pytest

    from jobs.curate import run as run_curate

    with pytest.raises(ValueError, match="local filesystem"):
        run_curate("/tmp/in.parquet", "s3://bucket/out", spark=spark)


def test_orphan_batch_invisible_to_resume(spark, tmp_path):
    """A batch directory written without a manifest (a run that died
    inside its commit) is invisible to the resumed run's snapshot read:
    the resume extracts exactly the remainder, and every url appears
    once in the current snapshot."""
    import shutil

    corpus_half = str(tmp_path / "oh.parquet")
    corpus_full = str(tmp_path / "of.parquet")
    out = Path(tmp_path / "orphan_out")
    full = synthetic_documents(spark, 16, seed=42)
    write_documents(full.limit(8), corpus_half)
    write_documents(full, corpus_full)

    run_job(corpus_half, str(out), resume=False, spark=spark)
    table = out / "extracted"
    batch = sn.current_snapshot(str(table))["new_batches"][0]
    shutil.copytree(table / batch, table / "batch=orphan")

    second = run_job(corpus_full, str(out), resume=True, spark=spark)
    assert second["already_extracted"] == 8
    assert second["newly_extracted"] == 8
    assert second["total_extracted"] == 16
    assert [p.name for p in out.iterdir()] == ["extracted"]
    cur = sn.read(spark, str(table))
    assert cur.count() == cur.select("url").distinct().count() == 16
    # a raw directory read is not a snapshot read: it sees the orphan
    # until remove_orphans deletes it
    assert spark.read.parquet(str(table)).count() == 24
    assert sn.remove_orphans(str(table), min_age_sec=0)["removed_batches"] == 1
    assert spark.read.parquet(str(table)).count() == 16


def test_resume_after_compaction_and_expiry(spark, tmp_path):
    """Compacting extracted and expiring every older snapshot between
    two runs leaves a table the resume reads like any other: it
    extracts exactly the remainder, every url appears once, and the
    report over the outdir succeeds."""
    import json

    from jobs.compact import run as run_compact
    from pdf_parser_spark.__main__ import main as cli

    corpus_half = str(tmp_path / "ch.parquet")
    corpus_full = str(tmp_path / "cf.parquet")
    out = tmp_path / "compact_out"
    full = synthetic_documents(spark, 20, seed=42)
    write_documents(full.limit(8), corpus_half)
    write_documents(full, corpus_full)

    run_job(corpus_half, str(out), resume=False, spark=spark)
    table = str(out / "extracted")
    run_compact(table, spark=spark)
    assert sn.expire_snapshots(table, keep_last=1)["removed_snapshots"] == 1
    assert sn.snapshots(table)[0]["operation"] == "overwrite"

    second = run_job(corpus_full, str(out), resume=True, spark=spark)
    assert second["already_extracted"] == 8
    assert second["newly_extracted"] == 12
    assert second["total_extracted"] == 20
    assert sum(second["status_counts"].values()) == 12
    cur = sn.read(spark, table)
    assert cur.count() == cur.select("url").distinct().count() == 20
    assert [p.name for p in out.iterdir()] == ["extracted"]

    cli(["report", "--outdir", str(out), "--out", str(tmp_path / "r.json")])
    report = json.loads((tmp_path / "r.json").read_text())
    assert report["summary"]["docs"] == ox.validation_table(cur).where(
        "toc_section_count is not null"
    ).count() > 0


def test_curate_crash_between_quarantine_and_curated_converges(spark, tmp_path):
    """curate's two appends (quarantine, then curated) are crash-safe
    by construction: resume skips urls present in EITHER table, so a
    run that died after the quarantine write re-adjudicates only the
    unwritten survivors — and they survive again (their dedup losers
    are already quarantined and stay out of the funnel). Pin that
    convergence."""
    import shutil

    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "ccr.parquet")
    out = Path(tmp_path / "ccr_out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    first = run_curate(corpus, str(out), spark=spark, resume=False)
    n_q = spark.read.parquet(str(out / "quarantine")).count()
    assert n_q > 0

    # simulate the crash: quarantine landed, curated write did not
    shutil.rmtree(out / "curated")
    second = run_curate(corpus, str(out), spark=spark, resume=True)
    # only the lost survivors re-entered the funnel
    assert second["new_docs"] == first["newly_curated"]
    assert second["newly_curated"] == first["newly_curated"]
    assert second["total_curated"] == first["total_curated"]

    cur = spark.read.parquet(str(out / "curated")).select("url")
    q = spark.read.parquet(str(out / "quarantine"))
    assert q.count() == n_q  # no duplicate quarantine rows
    assert cur.count() == first["total_curated"]
    assert cur.intersect(q.select("url")).count() == 0
    assert cur.union(q.select("url")).distinct().count() == 24


def test_curate_transitive_near_dups_drops_whole_cluster(spark, tmp_path):
    """Star cluster a~c, b~c (a!~b): the pairwise default drops only c
    (both a and b survive even though they share near-dup c); the
    --transitive-near-dups closure keeps exactly one canonical doc —
    the min url a — and quarantines b and c as near_dup."""
    import datetime

    from jobs.curate import run as run_curate
    from pdf_parser_spark.sources.corpus import DOCUMENTS_SCHEMA

    base = [f"token{i:03d}" for i in range(1, 61)]  # 60 words, 58 shingles
    doc_c = " ".join(base)
    doc_a = " ".join(["alpha001", "alpha002", "alpha003"] + base[3:])
    doc_b = " ".join(base[:-3] + ["omega001", "omega002", "omega003"])
    # J(a,c)=J(b,c)=55/61≈0.90 >= 0.85; J(a,b)=52/64≈0.81 < 0.85
    fillers = [
        " ".join(f"fill{k}x{i:03d}" for i in range(1, 61)) for k in ("p", "q")
    ]
    ts = datetime.datetime(2025, 5, 1)
    rows = [
        ("http://a.example/x", ts, None, doc_a, "en"),
        ("http://b.example/x", ts, None, doc_b, "en"),
        ("http://c.example/x", ts, None, doc_c, "en"),
        ("http://d.example/x", ts, None, fillers[0], "en"),
        ("http://e.example/x", ts, None, fillers[1], "en"),
    ]
    corpus = str(tmp_path / "star.parquet")
    write_documents(spark.createDataFrame(rows, DOCUMENTS_SCHEMA), corpus)

    pw = run_curate(
        corpus, str(tmp_path / "out_pw"), spark=spark,
        near_dup_threshold=0.85,
    )
    assert pw["near_dup_mode"] == "pairwise"
    assert pw["dropped_near_dup"] == 1  # only c, the shared id_b
    kept_pw = {
        r["url"]
        for r in spark.read.parquet(str(tmp_path / "out_pw" / "curated")).collect()
    }
    assert kept_pw == {
        "http://a.example/x", "http://b.example/x",
        "http://d.example/x", "http://e.example/x",
    }

    tr = run_curate(
        corpus, str(tmp_path / "out_tr"), spark=spark,
        near_dup_threshold=0.85, transitive_near_dups=True,
    )
    assert tr["near_dup_mode"] == "transitive"
    assert tr["dropped_near_dup"] == 2  # b and c: whole cluster minus canonical a
    kept_tr = {
        r["url"]
        for r in spark.read.parquet(str(tmp_path / "out_tr" / "curated")).collect()
    }
    assert kept_tr == {
        "http://a.example/x", "http://d.example/x", "http://e.example/x",
    }
    q = spark.read.parquet(str(tmp_path / "out_tr" / "quarantine"))
    near = {r["url"] for r in q.where(q.reason == "near_dup").collect()}
    assert near == {"http://b.example/x", "http://c.example/x"}


def test_curate_history_dedup_across_batches(spark, tmp_path):
    """--history-dedup (r5): a second batch's documents that exactly or
    nearly duplicate PREVIOUSLY curated ones are dropped via the
    fingerprints signature store — without re-reading historical text
    — and land in quarantine under their own reasons."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    out = str(tmp_path / "hout")
    batch1 = str(tmp_path / "b1.parquet")
    docs1 = synthetic_documents(spark, 16, seed=7)
    write_documents(docs1, batch1)
    first = run_curate(
        batch1, out, spark=spark, resume=False, near_dups=False, history_dedup=True
    )
    assert first["newly_curated"] > 2
    store = sn.read(spark, str(Path(out) / "fingerprints"))
    assert store.count() == first["newly_curated"]
    assert set(store.columns) == {"url", "fp", "signature"}

    # batch 2: an exact twin and a near twin of two CURATED batch-1
    # docs (new urls), plus genuinely new docs
    curated = spark.read.parquet(str(Path(out) / "curated"))
    two = curated.orderBy("url").limit(2).collect()
    exact_twin = spark.createDataFrame(
        [("twin-exact", two[0]["warc_ts"], two[0]["html"], two[0]["text"], two[0]["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    near_twin = spark.createDataFrame(
        [
            (
                "twin-near",
                two[1]["warc_ts"],
                two[1]["html"],
                two[1]["text"] + " appended trailing sentence.",
                two[1]["lang"],
            )
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    fresh = synthetic_documents(spark, 30, seed=99).where(
        F.length("text") >= 600
    ).limit(4)
    batch2 = str(tmp_path / "b2.parquet")
    exact_twin.unionByName(near_twin).unionByName(
        fresh.select("url", "warc_ts", "html", "text", "lang")
    ).write.parquet(batch2)

    second = run_curate(
        batch2, out, spark=spark, resume=True, near_dups=False, history_dedup=True
    )
    assert second["dropped_exact_dup_history"] >= 1
    assert second["dropped_near_dup_history"] >= 1
    q = spark.read.parquet(str(Path(out) / "quarantine"))
    reasons = {r["url"]: r["reason"] for r in q.collect()}
    assert reasons.get("twin-exact") == "exact_dup_history"
    assert reasons.get("twin-near") == "near_dup_history"
    # the store grew by exactly the batch's final survivors
    store2 = spark.read.parquet(str(Path(out) / "fingerprints"))
    assert store2.count() == first["newly_curated"] + second["newly_curated"]
    # twins never reached the curated table
    cur2 = spark.read.parquet(str(Path(out) / "curated"))
    assert cur2.where(F.col("url").isin("twin-exact", "twin-near")).count() == 0


def test_curate_history_store_bootstrap_and_heal(spark, tmp_path):
    """Turning --history-dedup on mid-life (or losing the store to a
    crash) must self-repair from the curated table: the store is
    rebuilt and cross-batch twins are still caught."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    out = str(tmp_path / "hout2")
    batch1 = str(tmp_path / "hb1.parquet")
    write_documents(synthetic_documents(spark, 12, seed=3), batch1)
    # first run WITHOUT history dedup: no store is written
    first = run_curate(batch1, out, spark=spark, resume=False, near_dups=False)
    assert not (Path(out) / "fingerprints").exists()

    curated = spark.read.parquet(str(Path(out) / "curated"))
    src = curated.orderBy("url").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [("boot-twin", src["warc_ts"], src["html"], src["text"], src["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    batch2 = str(tmp_path / "hb2.parquet")
    twin.write.parquet(batch2)

    second = run_curate(
        batch2, out, spark=spark, resume=True, near_dups=False, history_dedup=True
    )
    # store bootstrapped from the curated table (marker -1), twin caught
    assert second["store_healed_docs"] == -1
    assert second["dropped_exact_dup_history"] == 1
    store = spark.read.parquet(str(Path(out) / "fingerprints"))
    assert store.count() == first["newly_curated"]  # twin itself was dropped
    assert (
        spark.read.parquet(str(Path(out) / "curated"))
        .where(F.col("url") == "boot-twin")
        .count()
        == 0
    )


def test_curate_drop_noindex_quarantines_optouts(spark, tmp_path):
    """--drop-noindex honors meta-robots opt-outs inside the single
    raw-docs pass: flagged pages are quarantined with their own
    reason, the funnel accounting stays complete and disjoint, and
    the default (off) leaves the numbers untouched."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "ndocs.parquet")
    docs = synthetic_documents(spark, 24, seed=42)
    # plant the directive into every 4th doc's html (position in the
    # byte stream is irrelevant to the columnar gate)
    planted = docs.withColumn(
        "html",
        F.when(
            F.crc32("url") % 4 == 0,
            F.concat(
                F.lit(b'<meta content="noindex" name="robots">'), F.col("html")
            ),
        ).otherwise(F.col("html")),
    )
    planted.write.mode("overwrite").parquet(corpus)
    n_planted = planted.where(F.crc32("url") % 4 == 0).count()
    assert n_planted > 0

    out = str(tmp_path / "nout")
    r = run_curate(corpus, out, spark=spark, resume=False, drop_noindex=True)
    assert r["dropped_robots_noindex"] == n_planted
    assert (
        r["dropped_robots_noindex"]
        + r["dropped_gopher"]
        + r["dropped_dup_lines"]
        + r["dropped_exact_dup"]
        + r["dropped_near_dup"]
        + r["newly_curated"]
    ) == r["new_docs"] == 24
    q = spark.read.parquet(f"{out}/quarantine")
    assert q.where(F.col("reason") == "robots_noindex").count() == n_planted
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.join(
        q.where(F.col("reason") == "robots_noindex"), "url", "left_semi"
    ).count() == 0

    # default path ignores the directive entirely
    out2 = str(tmp_path / "nout_off")
    r2 = run_curate(corpus, out2, spark=spark, resume=False)
    assert r2["dropped_robots_noindex"] == 0
    assert r2["newly_curated"] >= r["newly_curated"]


def test_curate_host_cap_stage(spark, tmp_path):
    """--host-cap keeps at most N survivors per host, quarantines the
    rest under their own reason, and the funnel accounting identity
    still closes with the new stage in it."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate
    from pdf_parser_spark.operators.mixing import host_of

    corpus = str(tmp_path / "hdocs.parquet")
    write_documents(synthetic_documents(spark, 48, seed=42), corpus)
    out = str(tmp_path / "hout")

    r = run_curate(corpus, out, spark=spark, resume=False, host_cap=3)
    assert r["host_cap"] == 3
    assert (
        r["dropped_robots_noindex"]
        + r["dropped_gopher"]
        + r["dropped_dup_lines"]
        + r["dropped_exact_dup"]
        + r["dropped_near_dup"]
        + r["dropped_host_cap"]
        + r["newly_curated"]
    ) == r["new_docs"] == 48
    curated = spark.read.parquet(f"{out}/curated")
    per_host = curated.groupBy(host_of(F.col("url")).alias("h")).count()
    assert per_host.agg(F.max("count")).first()[0] <= 3
    assert curated.count() == r["newly_curated"]
    q = spark.read.parquet(f"{out}/quarantine")
    assert q.where("reason = 'host_cap'").count() == r["dropped_host_cap"]
    assert r["dropped_host_cap"] > 0  # the skewed-host corpus exceeds 3/host
    # resume with the same cap: nothing re-enters
    r2 = run_curate(corpus, out, spark=spark, resume=True, host_cap=3)
    assert r2["newly_curated"] == 0 and r2["dropped_host_cap"] == 0


def test_curate_host_cap_follows_history_dedup(spark, tmp_path):
    """The host cap is taken after history dedup, so history twins on a
    capped host never use up its budget: the host ends the batch with
    min(cap, fresh docs) curated. Capping first let twins take slots
    that history dedup then emptied, while fresh docs of the same host
    were capped out for good."""
    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate
    from pdf_parser_spark.operators.mixing import host_of

    out = str(tmp_path / "capout")
    batch1 = str(tmp_path / "cb1.parquet")
    write_documents(synthetic_documents(spark, 16, seed=7), batch1)
    kw = dict(near_dups=False, history_dedup=True)
    run_curate(batch1, out, spark=spark, **kw)

    # one host: four exact twins of curated batch-1 docs plus two fresh docs
    cols = ["url", "warc_ts", "html", "text", "lang"]
    src = spark.read.parquet(f"{out}/curated").orderBy("url").limit(4)
    twins = src.select(
        F.concat(F.lit("https://capped.example/twin/"), F.col("url")).alias("url"), *cols[1:]
    )
    fresh = (
        synthetic_documents(spark, 30, seed=99)
        .where(F.length("text") >= 600)
        .limit(2)
        .select(F.concat(F.lit("https://capped.example/fresh/"), F.col("url")).alias("url"), *cols[1:])
    )
    batch2 = str(tmp_path / "cb2.parquet")
    twins.unionByName(fresh).write.parquet(batch2)

    cap = 3
    r = run_curate(batch2, out, spark=spark, resume=True, host_cap=cap, **kw)
    cur = spark.read.parquet(f"{out}/curated")
    on_host = cur.where(host_of(F.col("url")) == "capped.example")
    assert on_host.count() == r["newly_curated"] == min(cap, 2)
    assert r["dropped_exact_dup_history"] == 4
    assert r["dropped_host_cap"] == 0


def test_curate_releases_checkpoints(spark, tmp_path):
    """A long-lived session runs curate again and again: once the
    frames of a call are gone, every stage checkpoint is freed, so the
    persisted RDD set returns to what it was. The release waits on
    driver and JVM garbage collection, which can take seconds, so the
    test polls with a bound."""
    import gc
    import time

    from jobs.curate import run as run_curate

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    corpus, out = str(tmp_path / "docs.parquet"), str(tmp_path / "out")
    write_documents(synthetic_documents(spark, 24, seed=42), corpus)
    before = persisted()
    kw = dict(host_cap=3, history_dedup=True)
    run_curate(corpus, out, spark=spark, **kw)
    run_curate(corpus, out, spark=spark, resume=True, **kw)
    for _ in range(120):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        if not persisted() - before:
            break
    assert not persisted() - before


def test_curate_all_stages_compose(spark, tmp_path):
    """Every funnel stage enabled at once — robots opt-out, quality,
    PII, exact dedup, transitive near-dup closure, host cap, history
    dedup — in one run, a no-op resume and a resume with a second batch
    that makes every stage drop: the accounting identity closes with every stage's counter in
    it, quarantine reasons partition the dropped set, the fingerprint
    store tracks exactly the curated survivors, and every returned
    count equals the rows that run wrote for it."""
    from collections import Counter

    from pyspark.sql import functions as F

    from jobs.curate import REASONS
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "alldocs.parquet")
    docs = synthetic_documents(spark, 40, seed=42).withColumn(
        "html",
        F.when(
            F.crc32("url") % 5 == 0,
            F.concat(F.lit(b'<meta name="robots" content="noindex">'), F.col("html")),
        ).otherwise(F.col("html")),
    )
    docs.write.mode("overwrite").parquet(corpus)
    out = str(tmp_path / "allout")

    kw = dict(
        drop_noindex=True,
        transitive_near_dups=True,
        host_cap=4,
        history_dedup=True,
    )
    written = {"curated": 0, "reasons": Counter()}

    def check_counts_match_writes(m):
        """The run's returned counts equal the rows it appended: per
        quarantine reason, and curated."""
        q_now = Counter(
            {
                r["reason"]: r["count"]
                for r in spark.read.parquet(f"{out}/quarantine").groupBy("reason").count().collect()
            }
        )
        cur_now = spark.read.parquet(f"{out}/curated").count()
        assert {r: m[f"dropped_{r}"] for r in REASONS} == {
            r: q_now[r] - written["reasons"][r] for r in REASONS
        }
        assert m["newly_curated"] == cur_now - written["curated"]
        assert set(q_now) <= set(REASONS)
        written.update(curated=cur_now, reasons=q_now)

    r = run_curate(corpus, out, spark=spark, resume=False, **kw)
    assert sum(r[f"dropped_{k}"] for k in REASONS) + r["newly_curated"] == r["new_docs"] == 40
    assert r["dropped_robots_noindex"] > 0 and r["dropped_host_cap"] > 0
    check_counts_match_writes(r)

    curated = spark.read.parquet(f"{out}/curated")
    q = spark.read.parquet(f"{out}/quarantine")
    # curated/quarantined url sets are disjoint and exhaustive over new docs
    assert curated.join(q, "url", "left_semi").count() == 0
    assert curated.count() + q.select("url").distinct().count() == 40
    # the store holds exactly the curated survivors
    store = spark.read.parquet(f"{out}/fingerprints")
    assert store.count() == curated.count()
    assert store.join(curated, "url", "left_anti").count() == 0

    r2 = run_curate(corpus, out, spark=spark, resume=True, **kw)
    assert r2["new_docs"] == 0 and r2["newly_curated"] == 0
    check_counts_match_writes(r2)

    # batch 2: exact and near twins of the longest curated docs, an
    # in-batch exact pair and near pair, a doc of repeated lines (each on
    # a host of its own, so the cap never touches them), and fresh docs
    src = curated.orderBy(F.length("text").desc(), "url").limit(2).collect()

    def lines(template):
        return "\n".join(template.format(i) for i in range(30))

    t_exact = lines("Section {0} explains the measured value of sample {0} in plain words.")
    t_near = lines("Chapter {0} describes how river number {0} floods the valley each spring.")
    t_rep = lines("Paragraph {0} mentions a quiet garden where tall {0} trees grow slowly.")
    planted = [
        ("https://mirror0.example/twin", src[0]["text"]),
        ("https://mirror1.example/twin", src[1]["text"] + " One appended closing sentence."),
        ("https://exact0.example/a", t_exact),
        ("https://exact1.example/b", t_exact),
        ("https://near0.example/a", t_near),
        ("https://near1.example/b", t_near + "\nA final added line closes the chapter."),
        ("https://repeat.example/a", t_rep + "\n" + t_rep),
    ]
    extra = spark.createDataFrame(
        [(u, src[0]["warc_ts"], b"<html></html>", t, "en") for u, t in planted],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    fresh = synthetic_documents(spark, 12, seed=99).select(
        F.concat("url", F.lit("/b2")).alias("url"), *extra.columns[1:]
    )
    batch2 = str(tmp_path / "alldocs2.parquet")
    docs.unionByName(extra).unionByName(fresh).write.parquet(batch2)
    r3 = run_curate(batch2, out, spark=spark, resume=True, **kw)
    assert r3["new_docs"] == 19
    assert sum(r3[f"dropped_{k}"] for k in REASONS) + r3["newly_curated"] == 19
    check_counts_match_writes(r3)
    # every reason fired in some run, so a count observed on the wrong
    # frame cannot agree with the written rows by accident
    assert all(written["reasons"][k] > 0 for k in REASONS), written["reasons"]
    assert r3["newly_curated"] > 0


def test_noop_resumes_publish_no_snapshot(spark, tmp_path):
    """A resume that finds nothing new commits nothing: extract leaves
    one batch directory and one manifest, and nothing beside the
    extracted table, after two no-op resumes, and curate's curated and
    quarantine logs do not grow on a no-op resume."""
    from jobs.curate import run as run_curate

    corpus = str(tmp_path / "noop.parquet")
    out = Path(tmp_path / "noop_out")
    write_documents(synthetic_documents(spark, 12, seed=42), corpus)
    first = run_job(corpus, str(out), resume=False, spark=spark)
    for _ in range(2):
        again = run_job(corpus, str(out), resume=True, spark=spark)
        assert again["newly_extracted"] == 0 and again["status_counts"] == {}
        assert again["snapshot_id"] == first["snapshot_id"]
        assert again["total_extracted"] == 12 and again["batch_id"] is None
    extracted = out / "extracted"
    assert len(list(extracted.glob("batch=*"))) == 1
    assert len(sn.snapshots(str(extracted))) == 1
    assert [p.name for p in out.iterdir()] == ["extracted"]

    cur_out = Path(tmp_path / "noop_cur")
    c1 = run_curate(corpus, str(cur_out), spark=spark)
    logs = {t: len(sn.snapshots(str(cur_out / t))) for t in ("curated", "quarantine")}
    c2 = run_curate(corpus, str(cur_out), spark=spark, resume=True)
    assert c2["new_docs"] == 0 and c2["newly_curated"] == 0
    assert c2["snapshot_id"] == c1["snapshot_id"]
    assert c2["total_curated"] == c1["total_curated"]
    assert {t: len(sn.snapshots(str(cur_out / t))) for t in logs} == logs
    for t in logs:
        assert len(list((cur_out / t).glob("batch=*"))) == logs[t]


def test_curate_total_from_manifest_matches_recount(spark, tmp_path):
    """total_curated on resume is the head manifest's distinct-url total
    plus the batch's distinct urls, with no rescan of the curated table.
    Over three resumed batches, one of which holds a url twice, every
    returned total and every recorded total equals a recount; the last
    resume starts from a manifest without the field and recounts."""
    import json

    from pyspark.sql import functions as F

    from jobs.curate import run as run_curate

    docs = synthetic_documents(spark, 48, seed=5).where(F.length("text") > 600)
    urls = sorted(r["url"] for r in docs.select("url").collect())
    assert len(urls) >= 12
    cuts = [urls[i::4] for i in range(4)]
    out = Path(tmp_path / "tot")
    curated = str(out / "curated")

    def recount() -> int:
        return sn.read(spark, curated).select("url").distinct().count()

    for i, part in enumerate(cuts):
        batch = docs.where(F.col("url").isin(part))
        if i == 2:  # the same url twice in one batch
            batch = batch.unionByName(batch.where(F.col("url") == part[0]))
        if i == 3:  # a head written before the field existed
            head = sorted((out / "curated" / "_snapshots").glob("v*.json"))[-1]
            man = json.loads(head.read_text())
            del man["summary"]["distinct_urls"]
            head.write_text(json.dumps(man))
        path = str(tmp_path / f"tot{i}.parquet")
        batch.write.parquet(path)
        before = recount() if i else 0
        r = run_curate(path, str(out), spark=spark, resume=i > 0, near_dups=False)
        assert r["already_curated"] == before
        assert r["total_curated"] == recount()
        assert sn.current_snapshot(curated)["summary"]["distinct_urls"] == recount()
    cur = sn.read(spark, curated)
    assert cur.count() > recount()  # the repeated url was curated twice
