"""Physical-plan assertions: the scale properties the engine promises.

These lock in the plan shapes that make the suite viable at 100 TB —
if a refactor regresses a broadcast into a shuffle, a pushed filter
into a post-scan filter, or the range join into a nested loop, these
fail before any benchmark notices.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.queries.suite import SPARK_QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return SPARK_QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark):
    assert plan_of(spark, "q02_top_revenue_orders").count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan_of(spark, "q03_nation_revenue")


def test_filters_pushed_to_scan(spark):
    plan = plan_of(spark, "q02_top_revenue_orders")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    pushed = [l for l in scans if "DataFilters: [isnotnull" in l or "PushedFilters: [" in l]
    assert len(pushed) >= 3, "date/segment filters must reach the parquet scans"
    # and the scans are column-pruned (no full-row reads)
    assert any("c_custkey" in l and "c_name" not in l for l in scans)


def test_semi_and_anti_joins(spark):
    assert "LeftSemi" in plan_of(spark, "q04_bulk_parts_semi")
    assert "LeftAnti" in plan_of(spark, "q05_customers_without_orders")


def test_range_gather_is_hash_join_on_url(spark):
    plan = plan_of(spark, "q18_chunk_page_gather")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # equi key = url; page range rides as the join residual
    joins = [l for l in plan.splitlines() if "Join" in l and "url" in l]
    assert joins and any("page_no" in l for l in joins)


def test_toc_parse_is_shuffle_free(spark):
    assert "Exchange" not in plan_of(spark, "q14_toc_parse")


def test_parent_repair_shuffles_on_url_key_only(spark):
    plan = plan_of(spark, "q15_toc_parent_repair")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "url" in line, line


def test_topk_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q30_cosine_topk")


def test_column_pruning_extraction_path(spark):
    """The html binary column must never be read on the text path."""
    from pdf_parser_spark.operators import extract as ox
    from pdf_parser_spark.sources.corpus import synthetic_documents

    docs = synthetic_documents(spark, 5, seed=42)
    plan = ox.extract_documents(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "html" not in plan.split("MapInArrow")[0], "html must be pruned before the UDF"


def _docs(spark, tmp_path):
    from pdf_parser_spark.sources.corpus import synthetic_documents

    return synthetic_documents(spark, 3, seed=42)


def _media(spark, tmp_path):
    from pdf_parser_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame([("u", "image", b"FIMG", "image/x-fimg")], MEDIA_SCHEMA)


def _pdfs(spark, tmp_path):
    return spark.createDataFrame([("u", b"%PDF-1.4")], "url string, pdf binary")


def _warc_file(spark, tmp_path):
    from pdf_parser_spark.sources import warc

    path = str(tmp_path / "a.warc.gz")
    warc.write_warc(path, [{"url": "http://a/", "warc_ts": None, "html": b"<p>x</p>"}])
    return path


def _row_operator(name):
    """Every per-row Python operator, called on a tiny input."""
    from pdf_parser_spark.operators import (
        extract as ox,
        html_extract as hx,
        multimodal as mm,
        similarity as sim,
    )
    from pdf_parser_spark.sources import corpus, jsonl, warc

    return {
        "extract_documents": lambda s, t: ox.extract_documents(_docs(s, t)),
        "pdf_pages_table": lambda s, t: ox.pdf_pages_table(_pdfs(s, t)),
        "extract_documents_from_pdf": lambda s, t: ox.extract_documents_from_pdf(_pdfs(s, t)),
        "html_blocks": lambda s, t: hx.html_blocks(_docs(s, t)),
        "html_main_text": lambda s, t: hx.html_main_text(_docs(s, t)),
        "html_content_spans": lambda s, t: hx.html_content_spans(_docs(s, t)),
        "html_metadata": lambda s, t: hx.html_metadata(_docs(s, t)),
        "media_metadata": lambda s, t: mm.media_metadata(_media(s, t)),
        "resize_images": lambda s, t: mm.resize_images(_media(s, t), 2, 2),
        "sample_frames": lambda s, t: mm.sample_frames(_media(s, t)),
        "media_embeddings": lambda s, t: mm.media_embeddings(_media(s, t)),
        "image_embeddings": lambda s, t: mm.image_embeddings(_media(s, t)),
        "read_warc": lambda s, t: warc.read_warc(s, _warc_file(s, t)),
        "write_warc_table": lambda s, t: warc.write_warc_table(_docs(s, t), str(t / "w")),
        "write_wet_table": lambda s, t: warc.write_wet_table(_docs(s, t), str(t / "e")),
        "synthetic_documents_distributed": lambda s, t: corpus.synthetic_documents_distributed(
            s, 3, partitions=2
        ),
        "coerce_chunks_column": lambda s, t: jsonl.coerce_chunks_column(
            s.createDataFrame([("u", "{}")], "url string, value string"), "value", keep=["url"]
        ),
        "ivf_assign": lambda s, t: sim.ivf_assign(
            s.createDataFrame([(1, [0.5, 0.5])], "vec_id long, embedding array<float>"),
            [[1.0, 0.0], [0.0, 1.0]],
        ),
    }[name]


ROW_OPERATORS = [
    "extract_documents", "pdf_pages_table", "extract_documents_from_pdf",
    "html_blocks", "html_main_text", "html_content_spans", "html_metadata",
    "media_metadata", "resize_images", "sample_frames", "media_embeddings", "image_embeddings",
    "read_warc", "write_warc_table", "write_wet_table",
    "synthetic_documents_distributed", "coerce_chunks_column", "ivf_assign",
]


@pytest.mark.parametrize("name", ROW_OPERATORS)
def test_row_operators_cross_one_arrow_boundary(spark, tmp_path, name):
    """Per-row Python runs as one mapInArrow; no pandas step remains."""
    df = _row_operator(name)(spark, tmp_path)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan


def test_salted_repartition_count_survives_aqe(spark):
    """The extraction shuffle's task count is explicit: with no count
    given it is the session's shuffle.partitions, and adaptive execution
    must not coalesce it by bytes (a few MB of text is tens of seconds
    of CPU-bound UDF time, and a merged partition becomes the stage's
    straggler). A tiny frame is the case AQE would merge hardest."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.extract import salted_repartition

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.range(0, 400).select(F.concat(F.lit("https://h/"), F.col("id")).alias("url"))
    tagged = salted_repartition(docs).select("url", F.spark_partition_id().alias("pid"))
    # execute THIS DataFrame's QueryExecution so the adaptive plan finalizes
    rows = tagged.collect()
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead" not in plan, plan
    assert len(rows) == 400
    assert {r["pid"] for r in rows} == set(range(n))


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "q22_maxima_total", "q28_quality_summary"],
)
def test_aggs_have_partial_phase(spark, name):
    """groupBy aggregates must map-side combine (partial_ markers)."""
    plan = plan_of(spark, name)
    assert "partial_" in plan, f"{name} lost map-side partial aggregation"


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Both sides bucketed on the join key → SortMergeJoin with zero
    Exchanges (the Iceberg bucket(N, key) pattern)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for df, table, key in ((orders, "b_orders", "o_orderkey"), (lineitem, "b_lineitem", "l_orderkey")):
        df.write.bucketBy(4, key).sortBy(key).format("parquet").mode("overwrite").option(
            "path", str(tmp_path / table)
        ).saveAsTable(table)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"),
                  on=spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey)
            .select("l_orderkey", "o_totalprice")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_aqe_splits_skewed_join(spark):
    """The session's AQE skew-join config must actually fire: a join
    with one hot key gets its oversized partition split at runtime
    (plan shows skew=true) instead of one straggler task."""
    from pyspark.sql import functions as F

    skewed = spark.range(0, 300_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    dim = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        joined = skewed.join(dim, on="k")
        # execute THIS DataFrame's QueryExecution (count() would build a
        # different one and the adaptive plan would never finalize)
        assert len(joined.collect()) == 275_000  # 270k hot-key + 5k tail
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_date_partition_pruning(spark, tmp_path):
    """days(warc_ts)-style layout: a warc_date range filter must reach
    the scan as a PartitionFilter and cut the partition count — the
    parquet stand-in for Iceberg hidden-partition pruning."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources.corpus import (
        read_documents_partitioned,
        synthetic_documents,
        write_documents_partitioned,
    )

    path = str(tmp_path / "docs_by_day")
    write_documents_partitioned(synthetic_documents(spark, 1500, seed=42), path)
    docs = read_documents_partitioned(spark, path)
    n_days = docs.select("warc_date").distinct().count()
    assert n_days > 1  # 137s spacing spans ~2.4 days at 1500 docs

    one_day = docs.where(F.col("warc_date") == F.lit(docs.agg(F.min("warc_date")).first()[0]))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "warc_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    # pruning is real: the filtered scan reads fewer partition dirs
    import re

    m = re.search(r"partition count: (\d+)", plan) or re.search(
        r"PartitionCount: (\d+)", plan
    )
    if m:
        assert int(m.group(1)) < n_days
    # and the data actually narrows
    assert 0 < one_day.count() < 1500


def test_c4_and_clf_scan_shaped(spark):
    """The hygiene rewrites stay WholeStageCodegen scans: no exchange,
    no UDF eval nodes, column-pruned parquet reads."""
    for name in ("q77_c4_line_clean", "q78_hashed_clf_score"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "*(" in plan, name + ": codegen stages expected"
        scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
        assert any("doc_id" in l and "n_chars" not in l for l in scans), (
            name + ": scan must prune to (doc_id, text)"
        )


def test_hll_sketch_single_exchange(spark):
    """Register build + estimate = exactly the two hash aggs' shuffles
    (group,idx) then (group); partial agg on the map side."""
    plan = plan_of(spark, "q79_hll_distinct_sketch")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_max" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_sweepline_no_join_no_bnlj(spark):
    """The interval containment query must never become a join over
    points x intervals: only the 1-row broadcasts (bounds/offsets) are
    allowed, and no nested loop anywhere."""
    plan = plan_of(spark, "q80_open_interval_counts")
    # the only BNLJ allowed is the 1-ROW bounds-array broadcast
    # (IdentityBroadcastMode); points and intervals themselves never
    # meet in a join of any kind
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
        assert "IdentityBroadcastMode" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one range repartition feeds the per-shard window; the offsets
    # attach via a broadcast hash join on the tiny shard table
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_keyword_topk_plan(spark):
    """BM25 leg: no explode (rows never multiply), corpus stats attach
    via a 1-row broadcast, ranking is TakeOrderedAndProject."""
    plan = plan_of(spark, "q81_keyword_topk_bm25")
    assert "TakeOrderedAndProject" in plan
    assert "Generate explode" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cms_and_bloom_probe_broadcast(spark):
    """Sketch probes must broadcast the bounded sketch side and never
    shuffle-join the (corpus-sized) probe frame; the sketch build is
    one hashpartitioning exchange with a map-side partial."""
    for name in ("q83_cms_heavy_hitters", "q84_bloom_membership"):
        plan = plan_of(spark, name)
        # the d/k chained per-seed probe joins, all broadcast
        assert plan.count("BroadcastHashJoin") >= 3, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "partial_count" in plan, name
        # exchanges belong to sketch builds / reporting aggs only — the
        # probe frame itself never shuffles (no groupBy after the joins
        # beyond the query's own reporting aggregate)
        assert plan.count("Exchange hashpartitioning") <= 5, name


def test_split_assignment_scan_shaped(spark):
    """Split assignment is one projected CASE column: the only
    exchange is the reporting agg's; no join, no window, no Python."""
    plan = plan_of(spark, "q85_split_assignment")
    assert plan.count("Exchange hashpartitioning") == 1
    for bad in ("Join", "Window", "BatchEvalPython", "Generate explode"):
        assert bad not in plan, bad


def test_ivf_assign_scales_in_k(spark):
    """VERDICT r4 #1: centroid assignment with k=4096 supplied AS DATA.

    Centroids inlined as k×dim literals with a k-arm strict-improvement
    CASE chain would blow the JVM 64 KB codegen method limit and
    plan-build itself at k=4096. ivf_assign keeps the plan O(1) in k:
    the centroid matrix travels as a broadcast variable and the argmin
    is one MapInArrow node — no unrolled CASE, no shuffle of the
    embedding side."""
    import time

    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import similarity as sim

    k, dim = 4096, 16
    cents = [[((i * (j + 3) + j) % 29 - 14) / 14.0 for i in range(dim)] for j in range(k)]
    cdf = sim.centroids_table(spark, cents)
    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 7)) % 23 - 11).cast("double") / 11.0 for i in range(dim)]
        ).alias("embedding"),
    )
    t0 = time.perf_counter()
    out = sim.ivf_assign(emb, cdf)
    rows = out.select("vec_id", "embedding", "list_id").collect()
    elapsed = time.perf_counter() - t0

    # correctness at k=4096: argmin over all centroids, lowest-j ties
    c2 = [sum(x * x for x in c) for c in cents]
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        best_j, best_s = -1, float("inf")
        for j in range(k):
            s = -2.0 * sum(a * b for a, b in zip(v, cents[j])) + c2[j]
            if s < best_s:
                best_j, best_s = j, s
        assert r["list_id"] == best_j, f"vec {r['vec_id']}: {r['list_id']} != {best_j}"

    plan = out._jdf.queryExecution().executedPlan().toString()
    # O(1) expression: no k-arm CASE chain, no per-centroid literals
    assert plan.count("CASE WHEN") < 10
    assert len(plan) < 20_000, f"plan string grew with k ({len(plan)} chars)"
    # one Arrow-batched kernel; emb never shuffles
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange hashpartitioning" not in plan
    # plan-build + execute stays interactive at k=4096 (the literal
    # path takes minutes to even ANALYZE here)
    assert elapsed < 60, f"table assignment too slow at k=4096: {elapsed:.1f}s"


def test_html_extract_legs_scan_shaped(spark):
    """q89/q90 (r5): render + DOM-strip must be pure scan passes — the
    parquet scan pruned to (doc_id, text), zero Exchanges, and no
    join of any kind. This is the plan the north rule needs at 10^12
    pages: the heavy html bytes exist only inside the pipeline, are
    produced and consumed in the same task, and never shuffle."""
    for name in ("q89_html_main_extract", "q90_html_content_spans"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name
        scan = plan[plan.index("ReadSchema") :].splitlines()[0]
        assert "doc_id" in scan and "text" in scan, scan
        assert "lang" not in scan and "source" not in scan, scan
    # q93 metadata harvest: same scan-pass contract (lang IS read —
    # it feeds the rendered <html lang> — but n_chars/source are not)
    plan = plan_of(spark, "q93_html_metadata")
    assert "Exchange" not in plan and "Join" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "n_chars" not in scan and "source" not in scan, scan


def test_dsir_scoring_is_scan_shaped(spark):
    """q92 (r5): the corpus-side scoring pass must not shuffle — the
    only Exchanges belong to the bounded bucket-count/weight-table
    build (n_buckets rows), and the weight map reaches the corpus via
    a 1-row broadcast, never a per-gram join. With weights_table
    supplied (the production sample-trained path), the WHOLE job is
    one scan: no Exchange on the corpus lineage at all."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import mixing as mx

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tab = spark.createDataFrame([(0, 1), (1, -1)], "bucket int, w int")
    out = mx.dsir_weights(
        docs, F.col("lang") == "en", key_col="doc_id", n_buckets=2,
        portable=True, weights_table=tab,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # corpus side: broadcast of the 1-row packed map, zero wide exchanges
    assert "BroadcastNestedLoopJoin" in plan
    corpus_side = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning" not in corpus_side
    # inline path: exactly one wide exchange (the bucket-count agg)
    inline = mx.dsir_weights(
        docs, F.col("lang") == "en", key_col="doc_id", n_buckets=64, portable=True
    )
    iplan = inline._jdf.queryExecution().executedPlan().toString()
    assert iplan.count("Exchange hashpartitioning") == 1, iplan.count(
        "Exchange hashpartitioning"
    )


def test_columnar_gate_legs_scan_shaped(spark):
    """q94 (robots gate) and q95 (outlinks) are codegen'd expressions
    over the html column: no Exchange, no Join of any kind — the
    cheapest possible plans, free to fuse into any scan."""
    for name in ("q94_robots_noindex", "q95_html_outlinks"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name


def test_host_cap_window_group_limit(spark):
    """q96: the per-host cap must compile to Catalyst's two-phase
    top-n — a PARTIAL WindowGroupLimit before the one host exchange
    (bounding a mega-host's post-shuffle group at n x P rows) and the
    Final limit after it. Losing the Partial node means the rank
    filter drifted away from its window and a mega-host once again
    ships every page into one task."""
    plan = plan_of(spark, "q96_host_cap")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan
    wgl = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    assert any("Partial" in l for l in wgl), plan
    assert any("Final" in l for l in wgl), plan


def test_curate_appends_batch_sized_plans(spark, tmp_path, monkeypatch):
    """Every frame curate appends (quarantine, curated, fingerprint
    store) starts at the last stage checkpoint, so its analyzed plan is
    a few nodes deep however many funnel stages ran. A plan that
    re-derives the funnel runs to thousands of tree lines on a resumed
    history-dedup call, and Spark then spends its time comparing those
    plans."""
    from pyspark.sql import functions as F

    import jobs.curate as jc
    from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents

    b1, b2 = str(tmp_path / "b1.parquet"), str(tmp_path / "b2.parquet")
    out = str(tmp_path / "out")
    write_documents(synthetic_documents(spark, 24, seed=11), b1)
    kw = dict(near_dups=True, history_dedup=True, host_cap=4)
    jc.run(b1, out, spark=spark, **kw)
    fresh = synthetic_documents(spark, 12, seed=12).withColumn("url", F.concat("url", F.lit("/b2")))
    spark.read.parquet(b1).unionByName(fresh).write.parquet(b2)

    lines = []
    orig = jc._append

    def spy(spark_, df, *a, **k):
        lines.append(df._jdf.queryExecution().analyzed().treeString().count("\n"))
        return orig(spark_, df, *a, **k)

    monkeypatch.setattr(jc, "_append", spy)
    r = jc.run(b2, out, spark=spark, resume=True, **kw)
    assert r["new_docs"] == 12
    assert len(lines) >= 3  # quarantine, curated, fingerprint store
    assert max(lines) < 200, lines


def test_curate_signature_pass_on_every_slot(spark, tmp_path, monkeypatch):
    """Curate builds each batch's shingle sets and MinHash signatures
    once, on an explicit url repartition that adaptive execution leaves
    alone: the shingling runs in spark.sql.shuffle.partitions tasks, and
    the signature hashing runs map-side over the same number of set
    partitions. A checkpoint forgets its partitioning under adaptive
    execution, so the signature merge re-exchanges one partial row per
    url; that merge alone may be coalesced. The near-dup candidate,
    prefilter and verify plan starts at exactly those two checkpoints
    and never shingles or hashes again."""
    from pyspark.sql.classic.dataframe import DataFrame

    import jobs.curate as jc
    from pdf_parser_spark.sources.corpus import synthetic_documents, write_documents

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    corpus = str(tmp_path / "docs.parquet")
    write_documents(synthetic_documents(spark, 24, seed=11), corpus)

    ckpts, pairs = {}, []
    orig_ckpt, orig_pairs = DataFrame.localCheckpoint, jc.dd.near_dup_pairs

    def spy_ckpt(self, *a, **k):
        out = orig_ckpt(self, *a, **k)
        ckpts.setdefault(tuple(self.columns), (self, out))
        return out

    def spy_pairs(*a, **k):
        pairs.append(orig_pairs(*a, **k))
        return pairs[-1]

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy_ckpt)
    monkeypatch.setattr(jc.dd, "near_dup_pairs", spy_pairs)
    jc.run(corpus, str(tmp_path / "out"), spark=spark, near_dups=True)

    def ckpt_rdd(df):
        return df._jdf.queryExecution().analyzed().rdd()

    def final_plan(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        return plan.split("== Initial Plan ==")[0]

    sets_src, sets = ckpts[("url", "sh")]
    plan = final_plan(sets_src)
    assert "hashpartitioning(url#" in plan and f", {n}), REPARTITION_BY_NUM" in plan, plan
    assert "AQEShuffleRead" not in plan, plan
    assert ckpt_rdd(sets).getNumPartitions() == n

    sigs_src, sigs = ckpts[("url", "signature")]
    plan = final_plan(sigs_src)
    # everything below the one exchange runs over the n set partitions
    assert plan.count("Exchange") == 1, plan
    below = plan.split("Exchange", 1)[1]
    assert "Generate explode(sh#" in below and "partial_min(xxhash64(shingle#" in below, plan

    def leaf_rdds(df) -> set[int]:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        found = set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            assert leaf.getClass().getSimpleName() == "LogicalRDD", leaf.toString()
            found.add(leaf.rdd().id())
        return found

    assert leaf_rdds(pairs[0]) == {ckpt_rdd(sets).id(), ckpt_rdd(sigs).id()}
    optimized = pairs[0]._jdf.queryExecution().optimizedPlan().toString()
    for marker in ("__ws", "collect_set", "explode(sh", "xxhash64(shingle"):
        assert marker not in optimized, marker


def test_session_page_size_bounds_broadcast_pins(spark):
    """Each string-keyed broadcast hash relation holds at least one memory
    page until the ContextCleaner drops the broadcast after a later GC.
    Spark's derived page size (64 MiB at a 4 GB heap on 4 cores) made a
    curate call's small anti-joins pin hundreds of MB by GC timing;
    get_spark fixes the page at 4 MiB. Checked on the running memory
    manager, so a default set too late to take effect also fails."""
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == 4 * 1024 * 1024
