"""Native-expression operators vs the pure-Python core / brute force."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

import pdf_parser_spark.core.toc as ctoc
import pdf_parser_spark.core.text as ctext
from pdf_parser_spark.functions.normalize import (
    normalize_text_native,
    strip_dot_leaders_native,
)
from pdf_parser_spark.operators.toc_native import toc_pipeline_native
from pdf_parser_spark.operators import dedup as dd
from pdf_parser_spark.operators import similarity as sim


def test_normalize_native_matches_core(spark):
    rng = random.Random(11)
    pool = "ABCdef123 \t.·•․…‐‑‒–—−ﬁﬂﬀﬃﬄ\xa0 ()"
    cases = [""] + ["".join(rng.choice(pool) for _ in range(rng.randint(1, 60))) for _ in range(300)]
    df = spark.createDataFrame([(c,) for c in cases], "s: string")
    rows = df.select(
        "s",
        normalize_text_native(F.col("s")).alias("norm"),
        strip_dot_leaders_native(F.col("s")).alias("strip"),
    ).collect()
    for r in rows:
        assert r["norm"] == ctext.normalize_text(r["s"]), ascii(r["s"])
        assert r["strip"] == ctext.strip_dot_leaders(r["s"]), ascii(r["s"])


def test_native_toc_pipeline_matches_core(spark):
    """Native parse + parent repair + ordering == core parser, per url,
    on inputs without the reference's data-specific quirks (special
    section '10' override, page-0 whole-doc nuke)."""
    rng = random.Random(12)
    titles = ["Introduction", "Power Rules", "Cable ﬁnal Assembly", "Data – Link Layer"]
    docs = {}
    for d in range(12):
        lines = ["Table Of Contents"]
        for _ in range(rng.randint(2, 15)):
            sid = ".".join(str(rng.randint(1, 9)) for _ in range(rng.randint(1, 3)))
            if sid == "10":
                continue
            lines.append(f"{sid} {rng.choice(titles)} {'.' * rng.randint(0, 9)} {rng.randint(1, 900)}")
        if rng.random() < 0.4:
            letter = rng.choice("AB")
            lines.append(f"{letter}.1 Appendix Topic ..... {rng.randint(1, 900)}")
        docs[f"u{d}"] = lines

    rows = [(u, ln) for u, lines in docs.items() for ln in lines]
    lines_df = spark.createDataFrame(rows, "url: string, line: string")
    got = toc_pipeline_native(lines_df).collect()

    by_url: dict[str, list] = {}
    for r in got:
        by_url.setdefault(r["url"], []).append(r)

    for u, lines in docs.items():
        expected = ctoc.parse_toc_lines(lines, doc_title=u)
        actual = by_url.get(u, [])
        assert len(actual) == len(expected), (u, len(actual), len(expected))
        for e, a in zip(expected, actual):
            for k in ("section_id", "title", "page", "level", "parent_id", "full_path"):
                assert a[k] == e[k], (u, k, e, a.asDict())


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A  B C"), (3, "unique text"), (4, "a b c")],
        "doc_id: long, text: string",
    )
    groups = {r["keep_doc_id"]: r["group_size"] for r in dd.exact_duplicates(df).collect()}
    assert groups == {1: 3, 3: 1}  # casefold + whitespace collapse
    kept = sorted(r["doc_id"] for r in dd.dedup_exact(df).collect())
    assert kept == [1, 3]


def test_minhash_lsh_finds_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(60))
    nearly = " ".join(f"w{i}" for i in range(59)) + " zz"
    different = " ".join(f"x{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, nearly), (3, different)], "doc_id: long, text: string"
    )
    sigs = dd.minhash_signatures(dd.shingles(df), num_hashes=32)
    cands = dd.lsh_candidate_pairs(sigs, bands=8)
    verified = dd.verified_near_dups(df, cands, threshold=0.8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in verified}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(100))
    nearly = base + " extraword"
    different = " ".join(f"y{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, nearly), (3, different)], "doc_id: long, text: string"
    )
    sims = dd.simhash(df)
    pairs = {(r["id_a"], r["id_b"]) for r in dd.simhash_near_dups(sims, max_hamming=4).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_cosine_topk_exact_vs_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id: long, embedding: array<float>",
    )
    q = [float(x) for x in vecs[0]]
    got = sim.cosine_topk(df, q, k=5).collect()
    qn = np.linalg.norm(vecs[0])
    cos = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * qn)
    expected = sorted(range(50), key=lambda i: (-cos[i], i))[:5]
    assert [r["vec_id"] for r in got] == expected
    assert abs(got[0]["cosine"] - 1.0) < 1e-6

    # ANN probe returns a subset ranked identically within its bucket
    ann = sim.ann_topk(df, q, k=5, bits=4)
    ann_rows = ann.collect()
    assert ann_rows[0]["vec_id"] == 0  # query's own vector shares its bucket
    got_cos = {r["vec_id"]: r["cosine"] for r in got}
    for r in ann_rows:
        if r["vec_id"] in got_cos:
            assert abs(r["cosine"] - got_cos[r["vec_id"]]) < 1e-9


def test_lsh_hot_bucket_cap(spark):
    """Degenerate LSH buckets (identical boilerplate clique) are dropped
    by max_bucket_size before the quadratic self-join."""
    from pyspark.sql import Row
    from pdf_parser_spark.operators import dedup

    sig = [1, 2, 3, 4, 5, 6, 7, 8]
    rows = [Row(doc_id=i, signature=sig) for i in range(40)]          # 40-doc clique
    rows += [Row(doc_id=100, signature=[9] * 8), Row(doc_id=101, signature=[9] * 8)]
    sigs = spark.createDataFrame(rows)

    uncapped = dedup.lsh_candidate_pairs(sigs, bands=4, max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2 + 1

    capped = dedup.lsh_candidate_pairs(sigs, bands=4, max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}  # clique suppressed, genuine pair kept


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with full probe = exact; partial probe stays deterministic
    and prunes the scan set."""
    from pdf_parser_spark.operators import similarity as sim
    from pdf_parser_spark.queries.suite import _QVEC

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.kmeans_centroids(emb, k=4, iters=3)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)

    exact = [r["vec_id"] for r in sim.cosine_topk(emb, _QVEC, k=10).collect()]
    full_probe = [r["vec_id"] for r in sim.ivf_topk(emb, _QVEC, cents, k=10, n_probe=4).collect()]
    assert full_probe == exact  # probing every list is exhaustive

    part = sim.ivf_topk(emb, _QVEC, cents, k=10, n_probe=1)
    ids1 = [r["vec_id"] for r in part.collect()]
    ids2 = [r["vec_id"] for r in sim.ivf_topk(emb, _QVEC, cents, k=10, n_probe=1).collect()]
    assert ids1 == ids2 and len(ids1) == 10  # deterministic
    # 1-probe recall against exact top-10 is meaningful (same ballpark)
    assert len(set(ids1) & set(exact)) >= 3


def test_kmeans_sampled_training(spark):
    """VERDICT r4 #1: `sample_fraction` makes the docstring's sampled-
    training claim invocable — the hash gate is deterministic (same
    centroids every run) and actually prunes the training set."""
    import pytest as _pt

    from pyspark.sql import functions as F

    from pdf_parser_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sim.kmeans_centroids(emb, k=4, iters=2, sample_fraction=0.5)
    b = sim.kmeans_centroids(emb, k=4, iters=2, sample_fraction=0.5)
    assert a == b and len(a) == 4  # deterministic, no RNG
    full = sim.kmeans_centroids(emb, k=4, iters=2)
    assert a != full  # the gate genuinely restricted the training set
    # the gate itself: ~half the rows survive
    m = 1_000_000
    kept = emb.where(F.pmod(F.xxhash64("vec_id"), F.lit(m)) < F.lit(m // 2)).count()
    assert 0 < kept < emb.count()
    with _pt.raises(ValueError):
        sim.kmeans_centroids(emb, k=4, sample_fraction=0.0)


def test_minhash_composite_equals_naive_composition(spark):
    """near_dup_pairs_minhash (single shared shingle pass) must produce
    the exact pairs of the naive shingles→sigs→lsh→verify composition."""
    from pdf_parser_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    composite = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dedup.near_dup_pairs_minhash(d, key_col="doc_id", threshold=0.7).collect()
    }
    sh = dedup.shingles(d, key_col="doc_id", n=3)
    sigs = dedup.minhash_signatures(sh, key_col="doc_id", num_hashes=32)
    cands = dedup.lsh_candidate_pairs(sigs, key_col="doc_id", bands=8)
    naive = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dedup.verified_near_dups(d, cands, key_col="doc_id", threshold=0.7).collect()
    }
    assert composite == naive and len(composite) > 0


def test_minhash_planted_twin_recall(spark):
    """Planted-pair recall of near_dup_pairs_minhash on generator docs,
    mega-docs included. Twins of docs with real text are planted: half
    exact copies (Jaccard 1.0), half with one appended word (Jaccard
    just under 1.0 on these multi-page docs). At 32 hashes and 8 bands
    the miss probability at J >= 0.99 is below 1e-6 per pair, so every
    planted pair must come back as (base, base + '#twin'). Designed-empty
    docs have no shingles, so a twin of one is undetectable by design
    and is not planted."""
    from pdf_parser_spark.sources.corpus import synthetic_documents_distributed

    docs = synthetic_documents_distributed(spark, 400, seed=42, partitions=4).select("url", "text")
    src = docs.where(F.length("text") >= 200).orderBy("url").limit(40)
    twins = src.select(
        F.concat("url", F.lit("#twin")).alias("url"),
        F.when(F.crc32("url") % 2 == 0, F.col("text"))
        .otherwise(F.concat("text", F.lit(" plantedtwin")))
        .alias("text"),
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.near_dup_pairs_minhash(
            docs.unionByName(twins), key_col="url", threshold=0.7
        ).collect()
    }
    planted = {
        r["url"]: r["exact"]
        for r in src.select("url", (F.crc32("url") % 2 == 0).alias("exact")).collect()
    }
    assert len(planted) == 40 and 0 < sum(planted.values()) < 40
    missed = [u for u in planted if (u, u + "#twin") not in pairs]
    assert not missed, f"planted recall {40 - len(missed)}/40, first missed {missed[:3]}"
    for u, exact in planted.items():
        j = pairs[(u, u + "#twin")]
        assert (j == 1.0) if exact else (0.99 <= j < 1.0), (u, j)


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing invariant: texts sharing a substring of length
    >= k + window - 1 share at least one fingerprint."""
    from pyspark.sql import Row
    from pdf_parser_spark.operators import dedup

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="AAAA " + shared + " BBBB"),
            Row(doc_id=2, text="cccccc " + shared + " dddd"),
            Row(doc_id=3, text="completely unrelated words entirely"),
        ]
    )
    fps = dedup.winnowed_fingerprints(df, k=8, window=4)
    sets = {
        r["doc_id"]: set(r["fps"])
        for r in fps.groupBy("doc_id").agg(
            __import__("pyspark.sql.functions", fromlist=["collect_set"]).collect_set("fp").alias("fps")
        ).collect()
    }
    assert sets[1] & sets[2], "shared substring must yield a shared fingerprint"
    assert not (sets[1] & sets[3]) or len(sets[1] & sets[3]) < len(sets[1] & sets[2])


def _uf_components(n_ids, edges):
    """Tiny reference union-find: id -> component-min map."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


def test_connected_components_random_vs_union_find(spark):
    import random

    rng = random.Random(1234)
    ids = list(range(200))
    edges = sorted({tuple(sorted(rng.sample(ids, 2))) for _ in range(120)})
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["cluster"]
        for r in dd.connected_components(pairs).collect()
    }
    want = _uf_components(ids, edges)
    # operator emits only non-roots; roots/singletons are implicit
    assert got == {i: c for i, c in want.items() if c != i}


def test_connected_components_chain_beats_loser_heuristic(spark):
    # (10,30),(20,30): pairwise "drop id_b" keeps 10 AND 20 even
    # though they share near-dup 30; closure puts all three in one
    # cluster. Plus a long chain (diameter 5) and string keys.
    pairs = spark.createDataFrame(
        [(10, 30), (20, 30), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["cluster"] for r in dd.connected_components(pairs).collect()}
    assert got == {2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 20: 10, 30: 10}

    spairs = spark.createDataFrame(
        [("u/b", "u/a"), ("u/b", "u/c"), ("u/x", "u/y")], "id_a string, id_b string"
    )
    sgot = {r["node"]: r["cluster"] for r in dd.connected_components(spairs).collect()}
    assert sgot == {"u/b": "u/a", "u/c": "u/a", "u/y": "u/x"}


def test_duplicate_clusters_and_keep_canonical(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(1, 8)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in dd.duplicate_clusters(df, pairs).collect()}
    assert len(out) == 7
    assert [out[i]["cluster_id"] for i in range(1, 8)] == [1, 1, 1, 4, 5, 5, 7]
    assert [out[i]["cluster_size"] for i in range(1, 8)] == [3, 3, 3, 1, 2, 2, 1]
    assert [out[i]["is_canonical"] for i in range(1, 8)] == [
        True, False, False, True, True, False, True,
    ]
    kept = sorted(r["doc_id"] for r in dd.dedup_keep_canonical(df, pairs).collect())
    assert kept == [1, 4, 5, 7]


def test_connected_components_empty_and_max_iter(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dd.connected_components(empty).count() == 0
    # self-loops and nulls are dropped before clustering
    junk = spark.createDataFrame([(1, 1), (None, 2), (3, None)], "id_a long, id_b long")
    assert dd.connected_components(junk).count() == 0


def test_hashed_linear_score_matches_manual(spark):
    import hashlib

    from pdf_parser_spark.operators import text_analysis as ta

    weights = [((i * 2654435761) % 2049 - 1024) / 1024.0 for i in range(256)]

    def bucket(tok):
        return int(hashlib.md5((tok.lower() + "#0").encode()).hexdigest()[:15], 16) % 256

    text = "The Quick brown FOX jumps"
    expected = sum(weights[bucket(t)] for t in text.split()) / 5
    df = spark.createDataFrame(
        [(1, text), (2, ""), (3, None), (4, "   ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in ta.hashed_linear_score(df, weights, portable=True).collect()}
    assert out[1]["clf_score"] == expected  # exact: dyadic weights
    assert out[1]["clf_score_n_words"] == 5
    assert out[1]["clf_score_keep"] == (expected > 0.0)
    for d in (2, 3, 4):
        assert out[d]["clf_score"] == 0.0 and out[d]["clf_score_n_words"] == 0
        assert out[d]["clf_score_keep"] is False

    # production twin: same shape, xxhash64 buckets, scores bounded by
    # the weight range and case-insensitive
    prod = ta.hashed_linear_score(df, weights, portable=False).collect()
    for r in prod:
        assert -1.0 <= r["clf_score"] <= 1.0
    up = ta.hashed_linear_score(
        spark.createDataFrame([(1, text.upper())], "doc_id long, text string"),
        weights, portable=False,
    ).first()["clf_score"]
    low = [r for r in prod if r["doc_id"] == 1][0]["clf_score"]
    assert up == low


def test_hll_estimate_accuracy_and_merge(spark):
    from pdf_parser_spark.operators import sketches as sk

    # 20k distinct keys, one group; p=12 → expected rel. error ~1.04/64
    df = spark.range(20_000).select(
        F.lit("g").alias("grp"), F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    regs = sk.hll_register_table(df, group_col="grp", key_col="k", p=12)
    assert regs.count() <= 4096
    est = sk.hll_estimate(regs, p=12).first()
    assert abs(est["est"] - 20_000) / 20_000 < 0.05

    # merge = sketch of the union (elementwise max), and idempotent
    a = df.where(F.col("k") < "key-3")             # lexicographic split
    b = df.where(F.col("k") >= "key-2")            # overlapping halves
    ra = sk.hll_register_table(a, group_col="grp", key_col="k", p=12)
    rb = sk.hll_register_table(b, group_col="grp", key_col="k", p=12)
    merged = sk.hll_merge(ra, rb)
    direct = sk.hll_register_table(df, group_col="grp", key_col="k", p=12)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0
    again = sk.hll_merge(merged, direct)
    assert again.exceptAll(direct).count() == 0

    # small-range correction engages for tiny cardinalities
    tiny = spark.createDataFrame(
        [("g", f"u{i}") for i in range(37)], "grp string, k string"
    )
    t = sk.hll_estimate(
        sk.hll_register_table(tiny, group_col="grp", key_col="k", p=12), p=12
    ).first()
    assert abs(t["est"] - 37) < 3  # linear counting is near-exact here
    # null keys contribute nothing
    withnull = tiny.union(
        spark.createDataFrame([("g", None)], "grp string, k string")
    )
    t2 = sk.hll_estimate(
        sk.hll_register_table(withnull, group_col="grp", key_col="k", p=12), p=12
    ).first()
    assert t2["est"] == t["est"]


def test_open_interval_counts_vs_brute_force(spark):
    import random

    from pdf_parser_spark.operators import sweepline as sw

    rng = random.Random(77)
    ivs = []
    for _ in range(300):
        s = rng.randint(0, 1000)
        ivs.append((s, s + rng.randint(0, 50)))
    pts = [(i, rng.randint(-5, 1060)) for i in range(120)]
    # exercise every tie case: probe == start, probe == end, and a
    # point-interval (s == e)
    ivs += [(200, 200), (300, 310)]
    pts += [(900, 200), (901, 300), (902, 310), (903, 311)]
    ivdf = spark.createDataFrame(ivs, "s long, e long")
    pdf = spark.createDataFrame(pts, "pid long, t long")

    expect = {
        pid: sum(1 for s, e in ivs if s <= t <= e) for pid, t in pts
    }
    got = {
        r["pid"]: r["open_count"]
        for r in sw.open_interval_counts(
            pdf, ivdf, id_col="pid", point_col="t", start_col="s", end_col="e"
        ).collect()
    }
    assert got == expect

    # sharded (default) == single-window oracle path, null endpoints ignored
    ivdf2 = ivdf.union(spark.createDataFrame([(None, 5), (5, None)], "s long, e long"))
    a = sw.open_interval_counts(
        pdf, ivdf2, id_col="pid", point_col="t", start_col="s", end_col="e", shards=None
    ).collect()
    b = sw.open_interval_counts(
        pdf, ivdf2, id_col="pid", point_col="t", start_col="s", end_col="e", shards=8
    ).collect()
    assert sorted((r["pid"], r["open_count"]) for r in a) == sorted(
        (r["pid"], r["open_count"]) for r in b
    )
    assert {r["pid"]: r["open_count"] for r in a} == expect


def test_keyword_topk_ranking(spark):
    from pdf_parser_spark.operators import retrieval as rt

    rows = [
        (1, "spark spark spark filler filler filler"),       # high tf, short
        (2, "spark filler " + "pad " * 50),                  # low tf, long
        (3, "merge merge " + "pad " * 5),                    # rare term
        (4, "pad only here nothing else"),
        (5, None),
    ] + [(10 + i, "common words " + "pad " * 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = rt.keyword_topk(df, ["spark", "merge"], k=3).collect()
    assert [r["doc_id"] for r in out][:2] in ([1, 3], [3, 1])
    top = {r["doc_id"]: r for r in out}
    assert top[1]["tf_0"] == 3 and top[1]["tf_1"] == 0
    assert top[3]["tf_1"] == 2
    assert all(out[i]["score"] >= out[i + 1]["score"] for i in range(len(out) - 1))

    # classic ln-idf variant keeps the same leaders here
    cls = rt.keyword_topk(df, ["spark", "merge"], k=3, classic=True).collect()
    assert {r["doc_id"] for r in cls[:2]} == {r["doc_id"] for r in out[:2]}

    # deterministic k-boundary: zero-score ties cut by doc_id
    z = rt.keyword_topk(df, ["absent"], k=5).collect()
    assert [r["doc_id"] for r in z] == [1, 2, 3, 4, 5]
    assert all(r["score"] == 0.0 for r in z)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rt.keyword_topk(df, [])


def test_log2_histogram_and_quantile(spark):
    from pdf_parser_spark.operators import sketches as sk

    vals = [0.2, 0.9, 1.0, 1.5, 3.0, 7.9, 8.0, 100.0, 1000.0, None, -4.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, v double"
    )
    h = {
        (r["bucket"]): (r["cnt"], r["lo"], r["hi"])
        for r in sk.log2_histogram(df, group_col="grp", value_col="v").collect()
    }
    # floor: 0.2/0.9 -> 0; -4 -> 0; 1/1.5 -> bucket 1 [1,1]; 3 -> 2 [2,3];
    # 7.9 -> 3 [4,7]; 8 -> 4 [8,15]; 100 -> 7 [64,127]; 1000 -> 10 [512,1023]
    assert h == {
        0: (3, 0, 0), 1: (2, 1, 1), 2: (1, 2, 3), 3: (1, 4, 7),
        4: (1, 8, 15), 7: (1, 64, 127), 10: (1, 512, 1023),
    }

    # merge(hist(A), hist(B)) == hist(A ∪ B)
    a, b = df.limit(5), df.subtract(df.limit(5))
    merged = sk.log2_histogram_merge(
        sk.log2_histogram(a, "grp", "v"), sk.log2_histogram(b, "grp", "v")
    )
    direct = sk.log2_histogram(df, "grp", "v")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))

    # quantile estimate lands inside the true quantile's bucket band
    import math

    big = spark.range(1, 10_001).select(
        F.lit("g").alias("grp"), (F.col("id") * F.col("id")).cast("double").alias("v")
    )
    hist = sk.log2_histogram(big, "grp", "v")
    est = sk.quantile_from_log2_histogram(hist, 0.5).first()
    true_p50 = 5000.0 * 5000.0  # id^2 median ~ (n/2)^2
    assert 2 ** (est["bucket"] - 1) <= true_p50 <= 2 ** est["bucket"]
    assert est["estimate"] == (2 ** (est["bucket"] - 1) + 2 ** est["bucket"] - 1) / 2.0
    with __import__("pytest").raises(ValueError):
        sk.quantile_from_log2_histogram(hist, 0.0)


def test_cms_overcount_merge_and_lookup(spark):
    from pdf_parser_spark.operators import sketches as sk

    # Zipf-ish key mix in one group: key-j appears ~200/(j+1) times
    df = spark.range(1200).select(
        F.lit("g").alias("group"),
        F.concat(F.lit("key-"), (F.col("id") % 40)).alias("k"),
    )
    sketch = sk.cms_table(df, "group", "k", d=3, w=32, portable=True)
    # counter table is bounded at |groups| * d * w regardless of input
    assert sketch.count() <= 3 * 32
    rows = sketch.collect()
    assert all(0 <= r["row"] < 3 and 0 <= r["col"] < 32 for r in rows)
    # each hash row conserves total mass
    per_row = {}
    for r in rows:
        per_row[r["row"]] = per_row.get(r["row"], 0) + r["cnt"]
    assert set(per_row.values()) == {1200}

    # one-sided guarantee: est >= true count for EVERY key
    truth = df.groupBy("group", "k").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = sk.cms_lookup(sketch, truth, key_col="k", d=3, w=32, portable=True)
    bad = est.where(F.col("est") < F.col("true_cnt")).count()
    assert bad == 0

    # merge(sketch(A), sketch(B)) == sketch(A ∪ B) — CMS is linear
    a = df.where(F.col("id") < 500)
    b = df.where(F.col("id") >= 500)
    merged = sk.cms_merge(
        sk.cms_table(a, "group", "k", d=3, w=32, portable=True),
        sk.cms_table(b, "group", "k", d=3, w=32, portable=True),
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, rows))

    # unseen keys and unseen groups read 0 (left join + coalesce)
    probe = spark.createDataFrame(
        [("g", "never-seen-key-xyzzy"), ("h", "key-1")], "group string, k string"
    )
    z = {(r["group"], r["k"]): r["est"] for r in
         sk.cms_lookup(sketch, probe, key_col="k", d=3, w=32, portable=True).collect()}
    # an unseen key can still collide into non-empty counters, but an
    # unseen GROUP has no counters at all -> exactly 0
    assert z[("h", "key-1")] == 0
    assert z[("g", "never-seen-key-xyzzy")] >= 0

    # xxhash64 production path: same properties, different hash
    prod = sk.cms_table(df, "group", "k", d=2, w=64)
    truth2 = sk.cms_lookup(prod, truth, key_col="k", d=2, w=64)
    assert truth2.where(F.col("est") < F.col("true_cnt")).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sk.cms_table(df, "group", "k", d=0)
    with _pytest.raises(ValueError):
        sk.cms_table(df, "group", "k", w=1)


def test_bloom_no_false_negatives_and_merge(spark):
    from pdf_parser_spark.operators import sketches as sk

    df = spark.range(300).select(
        F.lit("g").alias("group"),
        F.concat(F.lit("key-"), F.col("id")).alias("k"),
    )
    bloom = sk.bloom_table(df, "group", "k", k=3, m=256, portable=True)
    # bit table is bounded at |groups| * m regardless of input size
    n_bits = bloom.count()
    assert n_bits <= 256
    assert bloom.where((F.col("pos") < 0) | (F.col("pos") >= 256)).count() == 0

    # NO false negatives: every inserted key must read maybe_member
    probed = sk.bloom_contains(bloom, df, key_col="k", k=3, m=256, portable=True)
    assert probed.where(~F.col("maybe_member")).count() == 0

    # merge(bloom(A), bloom(B)) == bloom(A ∪ B) — set union
    a = df.where(F.col("id") < 150)
    b = df.where(F.col("id") >= 150)
    merged = sk.bloom_merge(
        sk.bloom_table(a, "group", "k", k=3, m=256, portable=True),
        sk.bloom_table(b, "group", "k", k=3, m=256, portable=True),
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, bloom.collect())
    )

    # an unseen GROUP has no set bits at all -> always False; an absent
    # key in a seen group is False unless all k positions collide
    probe = spark.createDataFrame(
        [("h", "key-1"), ("g", "absent-key-xyzzy-0")],
        "group string, k string",
    )
    z = {
        (r["group"], r["k"]): r["maybe_member"]
        for r in sk.bloom_contains(
            bloom, probe, key_col="k", k=3, m=256, portable=True
        ).collect()
    }
    assert z[("h", "key-1")] is False

    # false-positive rate sanity on the xxhash64 production path: 300
    # keys in m=4096 / k=3 -> theoretical fpr ~0.05%; 500 absent probes
    # should flag well under 10
    prod = sk.bloom_table(df, "group", "k", k=3, m=4096)
    absent = spark.range(500).select(
        F.lit("g").alias("group"),
        F.concat(F.lit("no-such-"), F.col("id")).alias("k"),
    )
    fp = (
        sk.bloom_contains(prod, absent, key_col="k", k=3, m=4096)
        .where(F.col("maybe_member"))
        .count()
    )
    assert fp < 10

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sk.bloom_table(df, "group", "k", k=0)
    with _pytest.raises(ValueError):
        sk.bloom_table(df, "group", "k", m=1)


def test_assign_splits_stable_disjoint_exhaustive(spark):
    from pdf_parser_spark.operators import mixing as mx

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    frac = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = mx.assign_splits(df, frac, key_col="doc_id", portable=True).cache()

    # exhaustive: every row gets exactly one split; rough proportions
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert counts["train"] > 1600 and counts["val"] < 250 and counts["test"] < 250

    # STABLE: assignment is a pure function of the key — a disjoint
    # re-run over a shuffled/filtered frame agrees row-for-row
    again = mx.assign_splits(
        df.orderBy(F.rand(7)).repartition(13), frac, key_col="doc_id", portable=True
    )
    diff = (
        out.alias("a")
        .join(again.alias("b"), "doc_id")
        .where(F.col("a.split") != F.col("b.split"))
        .count()
    )
    assert diff == 0

    # growing the corpus never reassigns existing keys
    grown = mx.assign_splits(
        spark.range(4000).select(F.col("id").alias("doc_id")),
        frac, key_col="doc_id", portable=True,
    )
    moved = (
        out.alias("a")
        .join(grown.alias("b"), "doc_id")
        .where(F.col("a.split") != F.col("b.split"))
        .count()
    )
    assert moved == 0

    # xxhash64 production path: same invariants
    prod = mx.assign_splits(df, frac, key_col="doc_id")
    assert prod.groupBy().agg(F.count(F.lit(1))).collect()[0][0] == 2000
    assert prod.select("split").distinct().count() == 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        mx.assign_splits(df, {}, key_col="doc_id")
    with _pytest.raises(ValueError):
        mx.assign_splits(df, {"a": 0.5, "b": 0.4}, key_col="doc_id")
    with _pytest.raises(ValueError):
        mx.assign_splits(df, frac, key_col="doc_id", buckets=2)


def test_assign_splits_zero_width_band_raises(spark):
    from pdf_parser_spark.operators import mixing as mx

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    import pytest as _pytest

    # 0.00005 of 10000 buckets rounds to a zero-width band — must
    # raise, not silently produce an empty named split
    with _pytest.raises(ValueError, match="empty bucket band"):
        mx.assign_splits(df, {"train": 0.99995, "tiny": 0.00005}, key_col="doc_id")
    # same fractions with enough buckets are fine
    out = mx.assign_splits(
        df, {"train": 0.99995, "tiny": 0.00005}, key_col="doc_id", buckets=100000
    )
    assert out.count() == 10


def test_sketch_lookups_preserve_duplicate_probe_rows(spark):
    """cms_lookup / bloom_contains are per-probe-row maps now (chained
    broadcast joins): duplicate probe rows stay distinct output rows
    instead of collapsing through a groupBy."""
    from pdf_parser_spark.operators import sketches as sk

    df = spark.range(100).select(
        F.lit("g").alias("group"),
        F.concat(F.lit("k-"), F.col("id") % 7).alias("k"),
    )
    probes = spark.createDataFrame(
        [("g", "k-1"), ("g", "k-1"), ("g", "k-2")], "group string, k string"
    )
    cms = sk.cms_table(df, "group", "k", d=3, w=64, portable=True)
    got = sk.cms_lookup(cms, probes, key_col="k", d=3, w=64, portable=True)
    assert got.count() == 3
    assert got.where(F.col("k") == "k-1").count() == 2

    bloom = sk.bloom_table(df, "group", "k", k=3, m=128, portable=True)
    got_b = sk.bloom_contains(bloom, probes, key_col="k", k=3, m=128, portable=True)
    assert got_b.count() == 3
    assert got_b.where(~F.col("maybe_member")).count() == 0


def test_semantic_dedup_cluster_prune(spark):
    from pdf_parser_spark.operators import dedup as dd

    # two tight paraphrase pairs near different centroids + singletons
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [10.0, 0.1, 0.0, 0.0]),   # cluster 0
        (2, [10.0, 0.11, 0.0, 0.0]),  # ~dup of 1 (same cluster)
        (3, [0.1, 9.0, 0.0, 0.0]),    # cluster 1
        (4, [0.1, 9.1, 0.0, 0.0]),    # ~dup of 3
        (5, [5.0, 0.0, 8.0, 0.0]),    # cluster 0, dissimilar
        (6, [9.9, 0.12, 0.0, 0.0]),   # ~dup of 1 AND 2 -> dup_of = 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           dd.semantic_dedup(emb, cents, threshold=0.99).collect()}

    # losers are the higher keys; dup_of is the SMALLEST similar mate
    assert set(out) == {2, 4, 6}
    assert out[2]["dup_of"] == 1 and out[6]["dup_of"] == 1
    assert out[4]["dup_of"] == 3
    # cross-cluster pairs are never compared; dissimilar survives
    assert 5 not in out and 3 not in out and 1 not in out
    assert all(r["cosine"] >= 0.99 for r in out.values())

    # hot-cluster guard: cap below cluster-0's size excludes it whole
    capped = dd.semantic_dedup(emb, cents, threshold=0.99, max_cluster_size=2)
    got = {r["vec_id"] for r in capped.collect()}
    assert got == {4}  # only cluster 1 (size 2) was paired
    excl = dd.semantic_dedup_excluded(emb, cents, max_cluster_size=2).collect()
    assert len(excl) == 1 and excl[0]["n_members"] == 4


def test_semantic_dedup_zero_norm_vector(spark):
    """ADVICE r4 (high): an all-zero embedding (empty doc / failed
    encode) must neither crash the job under ANSI (DIVIDE_BY_ZERO) nor
    pair with anything via NaN-is-largest — it is excluded from
    pairing entirely, like embedding_near_dups_lsh's nrm > 0 gate."""
    from pdf_parser_spark.operators import dedup as dd

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),    # zero vector: lowest key so a
        (1, [10.0, 0.1, 0.0, 0.0]),   # NaN-dup would claim ALL rows
        (2, [10.0, 0.11, 0.0, 0.0]),  # ~dup of 1
        (3, [0.0, 0.0, 0.0, 0.0]),    # second zero vector, cluster 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           dd.semantic_dedup(emb, cents, threshold=0.99).collect()}
    # the only pair is (1,2); neither zero vector appears on either side
    assert set(out) == {2}
    assert out[2]["dup_of"] == 1
    assert all(r["cosine"] == r["cosine"] for r in out.values())  # no NaN


def test_sketch_probe_param_validation(spark):
    """ADVICE r4: probing a CMS/Bloom with params that don't match the
    build must fail loudly (detectable cases), not silently break the
    one-sided guarantees."""
    import pytest

    from pdf_parser_spark.operators import sketches as sk

    df = spark.range(200).select(
        F.lit("g").alias("group"), F.concat(F.lit("k-"), F.col("id")).alias("k")
    )
    probes = spark.createDataFrame([("g", "k-1")], "group string, k string")

    cms = sk.cms_table(df, "group", "k", d=3, w=64, portable=True)
    with pytest.raises(ValueError, match="do not match the sketch"):
        sk.cms_lookup(cms, probes, key_col="k", d=2, w=64, portable=True).collect()
    with pytest.raises(ValueError, match="do not match the sketch"):
        sk.cms_lookup(cms, probes, key_col="k", d=3, w=32, portable=True).collect()
    ok = sk.cms_lookup(cms, probes, key_col="k", d=3, w=64, portable=True)
    assert ok.count() == 1

    bloom = sk.bloom_table(df, "group", "k", k=3, m=128, portable=True)
    with pytest.raises(ValueError, match="does not match the filter"):
        sk.bloom_contains(bloom, probes, key_col="k", k=3, m=64, portable=True).collect()
    good = sk.bloom_contains(bloom, probes, key_col="k", k=3, m=128, portable=True)
    assert good.where(F.col("maybe_member")).count() == 1


def _brute_force_list_ids(vecs, cents):
    """Nearest centroid by the IVF score -2·v·c + ‖c‖², each dot a
    sequential left-to-right float64 sum (np.add.accumulate), lowest
    index on ties — one vector at a time, no centroid blocks."""
    import numpy as np

    c = np.asarray(cents, dtype=np.float64)
    c2 = np.add.accumulate(c * c, axis=1)[:, -1]
    out = {}
    for key, v in vecs:
        dots = np.add.accumulate(np.asarray(v, dtype=np.float64) * c, axis=1)[:, -1]
        out[key] = int(np.argmin(-2.0 * dots + c2))
    return out


def test_ivf_assign_matches_brute_force(spark):
    """ivf_assign equals a brute-force argmin on the 500 sf0.01
    vectors, with k = 700 (two centroid blocks of 512) and k = 4096,
    for centroids given as a matrix and as a (list_id, centroid)
    table."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vecs = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    assert len(vecs) == 500
    dim = len(vecs[0][1])
    for k in (700, 4096):
        cents = np.random.default_rng(k).uniform(-1, 1, (k, dim)).tolist()
        # the last centroid repeats the first vector's winner: a tie
        # across blocks, which the lower index must win
        first = _brute_force_list_ids(vecs[:1], cents)[vecs[0][0]]
        cents[-1] = cents[first]
        want = _brute_force_list_ids(vecs, cents)
        assert want[vecs[0][0]] == first < k - 1
        assert max(want.values()) >= 512  # some winners lie past the first block
        for given in (cents, sim.centroids_table(spark, cents)):
            got = {r["vec_id"]: r["list_id"]
                   for r in sim.ivf_assign(emb, given).select("vec_id", "list_id").collect()}
            assert got == want, k


def test_ivf_assign_null_or_wrong_width_vector(spark):
    """A NULL vector or one of the wrong width keeps its row with a
    NULL list_id: it is neither dropped, nor put in a list, nor a
    crashed task. SemDeDup never pairs it and never reports a NULL
    cluster."""
    from pdf_parser_spark.operators import dedup as dd

    cents = [[1.0, 0.0], [0.0, 1.0]]
    emb = spark.createDataFrame(
        [(1, [0.1, 0.9]), (2, None), (3, [0.9, 0.1])], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r["list_id"] for r in sim.ivf_assign(emb, cents).collect()}
    assert got == {1: 1, 2: None, 3: 0}

    bad = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.02]), (3, [1.0, 0.0, 0.0]), (4, None), (5, [1.0, None])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["list_id"] for r in sim.ivf_assign(bad, cents).collect()}
    assert got == {1: 0, 2: 0, 3: None, 4: None, 5: None}
    pairs = {(r["vec_id"], r["dup_of"]) for r in dd.semantic_dedup(bad, cents, threshold=0.9).collect()}
    assert pairs == {(2, 1)}
    excl = dd.semantic_dedup_excluded(bad, cents, max_cluster_size=0).collect()
    assert [(r["list_id"], r["n_members"]) for r in excl] == [(0, 2)]


def test_near_dups_vs_history_null_signatures_never_pair(spark):
    """Unshingleable docs (empty/whitespace text) carry NULL
    signatures in doc_signatures — they must never band-collide with
    each other (a shared sentinel would make every short doc an
    est=1.0 'near-dup' of every other), while real near-dups across
    the batch/history split are found and self-urls are excluded."""
    from pdf_parser_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    hist_docs = spark.createDataFrame(
        [("h1", base), ("h2", ""), ("h3", "unrelated words entirely " * 8)],
        "url string, text string",
    )
    new_docs = spark.createDataFrame(
        [
            ("n1", base + " appended tail"),   # near-dup of h1
            ("n2", ""),                        # empty: unshingleable
            ("h1", base),                      # same url as history: excluded
        ],
        "url string, text string",
    )
    hist = dd.doc_signatures(hist_docs, text_col="text", key_col="url")
    new = dd.doc_signatures(new_docs, text_col="text", key_col="url")
    assert hist.where("signature IS NULL").count() == 1  # h2
    out = dd.near_dups_vs_history(new, hist, key_col="url", threshold=0.5).collect()
    got = {(r["url"], r["hist_url"]) for r in out}
    assert ("n1", "h1") in got
    assert all(u != "n2" and h != "h2" for u, h in got)  # NULLs never pair
    assert ("h1", "h1") not in got  # self-url excluded
