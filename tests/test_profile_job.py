"""jobs/corpus_profile.py — incremental mergeable-sketch corpus profiling.

The contract under test: profiling batch B on top of a profile of
batch A produces EXACTLY the same four sketch tables as profiling
A ∪ B from scratch (merge == rebuild, the whole point of mergeable
sketches), while reading only B.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs.corpus_profile import _TABLES, run as run_profile
from pdf_parser_spark.sinks import snapshots as sn
from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents


def _table(spark, out: str, name: str):
    # a raw read of a sketch table would see every past version
    return sn.read(spark, str(Path(out) / name))


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_profile_fresh_bounds_and_conservation(spark, tmp_path):
    corpus = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "profile")
    write_documents(synthetic_documents(spark, 40, seed=42), corpus)

    r = run_profile(corpus, out, spark=spark)
    assert r["newly_profiled"] == 40
    assert set(r["sketch_rows"]) == set(_TABLES)

    langs = _table(spark, out, "hll_distinct").select("group").distinct().count()
    # sketch tables are bounded at |groups| * m regardless of input
    assert r["sketch_rows"]["hll_distinct"] <= langs * 4096
    assert r["sketch_rows"]["word_cms"] <= langs * 4 * 1024
    assert r["sketch_rows"]["fp_bloom"] <= langs * 8192
    assert r["sketch_rows"]["len_hist"] <= langs * 64

    # CMS mass conservation: every hash row of a group carries the
    # group's exact total word count
    import pyspark.sql.functions as F

    cms = _table(spark, out, "word_cms")
    per_row = cms.groupBy("group", "row").agg(F.sum("cnt").alias("mass"))
    distinct_masses = (
        per_row.groupBy("group")
        .agg(F.count_distinct("mass").alias("k"))
        .where(F.col("k") != 1)
        .count()
    )
    assert distinct_masses == 0

    # headline estimates exist per observed lang
    assert set(r["estimates"]["distinct_fp_est"]) == set(
        x["group"] for x in _table(spark, out, "hll_distinct").select("group").distinct().collect()
    )
    assert all(v > 0 for v in r["estimates"]["p50_chars_est"].values())


def test_profile_incremental_merge_equals_rebuild(spark, tmp_path):
    a = str(tmp_path / "a.parquet")
    ab = str(tmp_path / "ab.parquet")
    write_documents(synthetic_documents(spark, 24, seed=42), a)
    write_documents(synthetic_documents(spark, 40, seed=42), ab)  # superset

    inc = str(tmp_path / "inc")
    r1 = run_profile(a, inc, spark=spark)
    assert r1["newly_profiled"] == 24
    r2 = run_profile(ab, inc, spark=spark)
    assert r2["newly_profiled"] == 16  # only the new docs were scanned

    fresh = str(tmp_path / "fresh")
    run_profile(ab, fresh, spark=spark)

    for name in _TABLES:
        assert _sorted_rows(_table(spark, inc, name)) == _sorted_rows(
            _table(spark, fresh, name)
        ), f"merge != rebuild for {name}"

    # a second run with nothing new touches no sketch
    r3 = run_profile(ab, inc, spark=spark)
    assert r3["newly_profiled"] == 0
    assert r3["sketch_rows"] == r2["sketch_rows"]


def test_profile_snapshots_time_travel(spark, tmp_path):
    a = str(tmp_path / "a.parquet")
    ab = str(tmp_path / "ab.parquet")
    write_documents(synthetic_documents(spark, 24, seed=42), a)
    write_documents(synthetic_documents(spark, 40, seed=42), ab)

    out = str(tmp_path / "snap")
    run_profile(a, out, spark=spark)
    run_profile(ab, out, spark=spark)

    hll_tbl = str(Path(out) / "hll_distinct")
    log = sn.snapshots(hll_tbl)
    assert len(log) == 2 and all(s["operation"] == "overwrite" for s in log)

    # time travel: snapshot 1 is the profile as of batch A — identical
    # to a fresh profile of A alone
    fresh_a = str(tmp_path / "fresh_a")
    run_profile(a, fresh_a, spark=spark)
    assert _sorted_rows(sn.read(spark, hll_tbl, snapshot_id=1)) == _sorted_rows(
        _table(spark, fresh_a, "hll_distinct")
    )

    # merged current state equals the one-batch rebuild of A ∪ B
    fresh = str(tmp_path / "fresh_ab")
    run_profile(ab, fresh, spark=spark)
    for name in _TABLES:
        assert _sorted_rows(_table(spark, out, name)) == _sorted_rows(
            _table(spark, fresh, name)
        )


def test_profile_param_mismatch_aborts(spark, tmp_path):
    corpus = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "profile")
    write_documents(synthetic_documents(spark, 12, seed=42), corpus)
    run_profile(corpus, out, spark=spark)
    with pytest.raises(ValueError, match="cannot merge"):
        run_profile(
            corpus, out, spark=spark,
            params={"hll_p": 13, "cms_d": 4, "cms_w": 1024,
                    "bloom_k": 4, "bloom_m": 8192},
        )


def test_profile_rejects_remote_uri(spark, tmp_path):
    with pytest.raises(ValueError, match="local filesystem"):
        run_profile("whatever", "s3://bucket/profile", spark=spark)


def test_profile_crash_between_table_applies_recovers(spark, tmp_path, monkeypatch):
    """The reviewer scenario: a crash after SOME sketch tables merged
    a batch but before seen_urls recorded it must NOT double-count the
    SUM sketches on the next run — recovery re-applies per-table,
    keyed by batch_id, from the staged frames."""
    import jobs.corpus_profile as cp

    a = str(tmp_path / "a.parquet")
    ab = str(tmp_path / "ab.parquet")
    write_documents(synthetic_documents(spark, 24, seed=42), a)
    write_documents(synthetic_documents(spark, 40, seed=42), ab)

    out = str(tmp_path / "prof")
    run_profile(a, out, spark=spark)

    # crash after 2 of the 4 table applies of batch B
    real_apply = cp._apply_table
    calls = {"n": 0}

    def flaky(*args, **kw):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated crash mid-apply")
        return real_apply(*args, **kw)

    monkeypatch.setattr(cp, "_apply_table", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_profile(ab, out, spark=spark)
    monkeypatch.setattr(cp, "_apply_table", real_apply)

    # staging survived the crash, sealed
    staged = list((Path(out) / "_staging").iterdir())
    assert len(staged) == 1 and (staged[0] / "_READY.json").exists()

    # re-run the same command (the natural retry): recovery completes
    # the pending batch and the recovered urls are still anti-joined
    r = run_profile(ab, out, spark=spark)
    assert r["recovered_batch"] is not None
    assert r["newly_profiled"] == 0
    assert not (Path(out) / "_staging").exists() or not list(
        (Path(out) / "_staging").iterdir()
    )

    fresh = str(tmp_path / "fresh")
    run_profile(ab, fresh, spark=spark)
    for name in _TABLES:
        assert _sorted_rows(_table(spark, out, name)) == _sorted_rows(
            _table(spark, fresh, name)
        ), f"double-merge after crash for {name}"


def test_profile_unsealed_staging_discarded(spark, tmp_path):
    """Crash mid-stage (no _READY marker): no sketch table saw the
    batch, so the orphan staging is dropped and profiling proceeds."""
    corpus = str(tmp_path / "docs.parquet")
    write_documents(synthetic_documents(spark, 12, seed=42), corpus)
    out = tmp_path / "prof"
    orphan = out / "_staging" / "deadbeef"
    orphan.mkdir(parents=True)
    (orphan / "partial").write_text("junk")

    r = run_profile(corpus, str(out), spark=spark)
    assert r["recovered_batch"] is None
    assert r["newly_profiled"] == 12
    assert not orphan.exists()


def test_profile_refuses_plain_parquet_outdir(spark, tmp_path):
    """A profile outdir whose tables are plain parquet with no snapshot
    log aborts, naming the table, instead of profiling every document
    again on top of the stored sketches."""
    corpus = str(tmp_path / "docs.parquet")
    out = tmp_path / "plain_prof"
    write_documents(synthetic_documents(spark, 8, seed=42), corpus)
    spark.read.parquet(corpus).select("url").write.parquet(str(out / "seen_urls"))
    with pytest.raises(ValueError, match="seen_urls"):
        run_profile(corpus, str(out), spark=spark)
    assert not (out / "hll_distinct").exists()


def test_profile_rerun_without_resume_never_double_counts(spark, tmp_path):
    """ADVICE r4: re-running the job on an existing outdir must not
    merge the same documents twice (SUM sketches silently
    double-counting). The seen_urls anti-join is
    unconditional: the second run profiles 0 new docs and every
    sketch table is unchanged."""
    corpus = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "profile")
    write_documents(synthetic_documents(spark, 30, seed=7), corpus)

    r1 = run_profile(corpus, out, spark=spark)
    assert r1["newly_profiled"] == 30
    before = {t: _sorted_rows(_table(spark, out, t)) for t in _TABLES}

    r2 = run_profile(corpus, out, spark=spark)  # plain operator error
    assert r2["newly_profiled"] == 0
    after = {t: _sorted_rows(_table(spark, out, t)) for t in _TABLES}
    assert before == after
