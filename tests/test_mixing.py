"""Deterministic stratified mixing: down/up-sampling by group."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators import mixing as mx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"src{i % 4}") for i in range(400)]
    return spark.createDataFrame(rows, "doc_id long, source string")


RATES = {"src0": 0.25, "src1": 1.0, "src2": 1.5, "src3": 0.0}


def test_rates_shape_the_mixture(spark, docs):
    out = mx.stratified_sample(docs, RATES, seed=7)
    per = {r["source"]: r for r in mx.mixture_report(docs, out).collect()}
    # src3 dropped entirely, src1 exact passthrough
    assert per["src3"]["out_rows"] == 0
    assert per["src1"]["out_rows"] == 100 and per["src1"]["achieved_rate"] == 1.0
    # src0 ~25 of 100 (hash-binomial: wide tolerance), src2 in [100, 200]
    assert 10 <= per["src0"]["out_rows"] <= 45
    assert 120 <= per["src2"]["out_rows"] <= 180
    # upsampled docs carry copy_idx 0..n-1
    copies = (
        out.where(F.col("source") == "src2")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("copy_idx").alias("idx"))
        .collect()
    )
    assert all(sorted(r["idx"]) == list(range(r["n"])) for r in copies)
    assert {r["n"] for r in copies} == {1, 2}


def test_deterministic_and_seed_sensitive(spark, docs):
    a = {(r["doc_id"], r["copy_idx"]) for r in mx.stratified_sample(docs, RATES, seed=7).collect()}
    b = {(r["doc_id"], r["copy_idx"]) for r in mx.stratified_sample(docs, RATES, seed=7).collect()}
    c = {(r["doc_id"], r["copy_idx"]) for r in mx.stratified_sample(docs, RATES, seed=8).collect()}
    assert a == b
    assert a != c  # a new seed reshuffles the fractional picks


def test_portable_twin_same_shape(spark, docs):
    """md5 path selects a different subset but obeys the same rates."""
    out = mx.stratified_sample(docs, RATES, seed=7, portable=True)
    per = {r["source"]: r["out_rows"] for r in mx.mixture_report(docs, out).collect()}
    assert per["src3"] == 0 and per["src1"] == 100
    assert 10 <= per["src0"] <= 45 and 120 <= per["src2"] <= 180


def test_rate_validation_and_default(spark, docs):
    with pytest.raises(ValueError, match="negative"):
        mx.stratified_sample(docs, {"src0": -0.1})
    out = mx.stratified_sample(docs, {"src3": 0.0}, default_rate=1.0)
    assert out.count() == 300  # unlisted groups keep everything


def test_plan_is_scan_shaped(spark, docs):
    plan = (
        mx.stratified_sample(docs, RATES, seed=7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # zero shuffles: filter + explode only


def test_dsir_weights_hand_case(spark):
    """Integer-log2 DSIR on a corpus small enough to verify by hand:
    grams shared with the target subset score positive, target-absent
    grams negative, and the weight is exactly
    ilog2(ct+1) - ilog2(cr+1) per bucket."""
    rows = [
        (1, "wiki wiki", True),    # grams: wiki, wiki, 'wiki wiki'
        (2, "wiki spam", False),   # grams: wiki, spam, 'wiki spam'
        (3, "spam spam", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r
        for r in mx.dsir_weights(
            df, F.col("tgt"), key_col="doc_id", n_buckets=64, portable=True
        ).collect()
    }
    # bucket counts: wiki cr=3 ct=2 -> w = ilog2(3)-ilog2(4) = 1-2 = -1?
    # no: w = ilog2(ct+1)-ilog2(cr+1) = ilog2(3)-ilog2(4) = 1 - 2 = -1
    # (the absolute offset is shared; what matters is the ORDER)
    assert all(r["n_grams"] == 3 for r in out.values())
    assert out[1]["is_target"] and not out[2]["is_target"]
    # doc 1 (all target-shared grams) must outscore doc 3 (no overlap)
    assert out[1]["dsir_q"] > out[3]["dsir_q"]
    assert out[1]["dsir_q"] >= out[2]["dsir_q"] >= out[3]["dsir_q"]


def test_dsir_weights_table_path_matches_inline(spark):
    """The production path — precomputed (bucket, w) table trained on a
    sample — must score identically to the inline counting path when
    given the table the inline path would build."""
    df = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta "),
            (F.col("id") % 7).cast("string"),
            F.lit(" gamma"),
        ).alias("text"),
        (F.col("id") % 3 == 0).alias("tgt"),
    )
    inline = mx.dsir_weights(
        df, F.col("tgt"), key_col="doc_id", n_buckets=128, portable=True
    )
    # rebuild the same weight table the inline path derives
    words = mx.dsir_grams(df)
    from pdf_parser_spark.functions.text_metrics import portable_hash64

    base = df.select(F.col("tgt"), words.alias("_w"))
    w = F.col("_w")
    nb = F.size(w) - F.lit(1)
    bigrams = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.concat(
                F.element_at(w, i), F.lit(" "), F.element_at(w, (i + F.lit(1)).cast("int"))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = base.select(
        F.explode(F.concat(w, bigrams)).alias("_gram"), "tgt"
    ).select((portable_hash64(F.col("_gram"), 0) % F.lit(128)).cast("int").alias("bucket"), "tgt")
    tab = (
        ex.groupBy("bucket")
        .agg(
            F.count("*").alias("cr"),
            F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
        )
        .select(
            "bucket",
            (
                (F.length(F.bin(F.col("ct") + 1)) - 1)
                - (F.length(F.bin(F.col("cr") + 1)) - 1)
            ).cast("int").alias("w"),
        )
    )
    tabled = mx.dsir_weights(
        df,
        F.col("tgt"),
        key_col="doc_id",
        n_buckets=128,
        portable=True,
        weights_table=tab,
    )
    a = {r["doc_id"]: (r["n_grams"], r["dsir_q"]) for r in inline.collect()}
    b = {r["doc_id"]: (r["n_grams"], r["dsir_q"]) for r in tabled.collect()}
    assert a == b


def test_host_cap_deterministic_and_per_host(spark):
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.mixing import host_cap, host_of

    df = spark.range(300).select(
        F.concat(
            F.lit("https://Host"),
            (F.col("id") % 4).cast("string"),
            F.lit(".Example/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.col("id").alias("payload"),
    )
    capped = host_cap(df, 30)
    per_host = (
        capped.groupBy(host_of(F.col("url")).alias("h")).count().collect()
    )
    assert {r["h"] for r in per_host} == {f"host{i}.example" for i in range(4)}
    assert all(r["count"] == 30 for r in per_host)
    # schema passthrough and determinism across re-runs
    assert set(capped.columns) == {"url", "payload"}
    again = sorted(r.url for r in host_cap(df.repartition(13), 30).collect())
    assert again == sorted(r.url for r in capped.collect())
    # schemeless keys degrade to one global group, nothing dropped below cap
    bare = spark.createDataFrame([(f"{i}",) for i in range(10)], "url string")
    assert host_cap(bare, 50).count() == 10
