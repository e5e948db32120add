"""Corpus deduplication operators (training-data pipeline tier).

Exact + near-duplicate detection over a text column, all as native
DataFrame plans (no Python in the hot path):

  exact_duplicates      md5-fingerprint hash-groupBy (1 shuffle)
  minhash_signatures    k-permutation MinHash via xxhash64(shingle, seed)
  lsh_candidate_pairs   banded signature join (classic MinHash-LSH)
  verified_near_dups    candidates re-checked with exact Jaccard
  near_dup_pairs_minhash  shingle_sets → set_signatures → near_dup_pairs
                        (doc_signatures shares the first two steps)
  simhash               32-bit sign-of-sum SimHash per document
  blocked_jaccard_pairs SQL-oracle-able near-dup via (lang, n_chars)
                        blocking + distinct-word Jaccard
  embedding_near_dups   cosine near-dup within equality buckets (only
                        safe when the bucket key's cardinality grows
                        with n — see embedding_near_dups_lsh)
  embedding_near_dups_lsh  cosine near-dup with banded hyperplane-LSH
                        blocking (2^bits buckets/band, OR-amplified) —
                        the 100TB-safe block key
  winnowed_fingerprints segmented winnowing (bounded window groups)
  connected_components  alternating large-star/small-star closure over
                        near-dup pairs (O(log n) rounds)
  duplicate_clusters    per-doc (cluster_id, size, is_canonical)
  dedup_keep_canonical  drop non-canonical members (one anti-join)

Scale notes (10^12 docs):
  - every pairwise step is blocked (LSH bands / equality blocks /
    label buckets) — nothing is O(n²) across the corpus;
  - shingle explode is the big intermediate: size ≈ tokens × k via
    (shingle, seed) hashing, kept as one shuffle into
    groupBy(doc).agg(min ...) with map-side partial aggregation;
  - band join is an equi-join on (band, band_hash) — AQE handles the
    hot-bucket skew (identical boilerplate pages land in one bucket;
    cap with `max_bucket_size` salting guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_metrics import fingerprint, portable_hash64, word_array
from .similarity import _dot, _norm, ivf_assign, rhp_buckets


def exact_duplicates(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts: one row per duplicate group
    with the keeper (min key) and the group size."""
    return (
        df.select(F.col(key_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(key_col).alias("keep_" + key_col),
            F.count("*").alias("group_size"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min key) per identical text."""
    ranked = df.withColumn("fp", fingerprint(F.col(text_col)))
    keepers = ranked.groupBy("fp").agg(F.min(key_col).alias(key_col))
    return ranked.join(keepers, on=["fp", key_col], how="inner").drop("fp")


def shingles(df: DataFrame, text_col: str = "text", key_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (explode + window of
    the word array — stays native via transform/slice).

    The word array is HOISTED into its own projection before the
    transform() lambda. Inlining `split(text)` inside the lambda body
    makes Spark re-split the ENTIRE text once per word — O(W²) chars
    per document, invisible on 300-word pages but a 60× slowdown on
    15k-word mega-docs (measured at 50k docs, every 40th a mega-doc).
    CollapseProject keeps the hoist because the non-cheap split is
    referenced more than once."""
    base = df.select(F.col(key_col), word_array(F.col(text_col)).alias("__ws"))
    ws = F.col("__ws")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
    )
    return (
        base.select(F.col(key_col), F.explode(F.array_distinct(grams)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


# one hash per seed, as SQL text: the xxhash64 form hashes (shingle,
# seed) exactly as F.xxhash64(col, F.lit(seed)) does, and the portable
# form is functions.text_metrics.portable_hash64 spelled out
_HASH_SQL = {
    False: "xxhash64(shingle, {i})",
    True: "CAST(conv(substring(md5(concat(shingle, '#{i}')), 1, 15), 16, 10) AS BIGINT)",
}


def minhash_signatures(
    shingle_df: DataFrame,
    key_col: str = "doc_id",
    num_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """(key, signature array<long>) — min over xxhash64(shingle, seed)
    per seed.

    Columnar formulation: one groupBy whose single aggregate is
    `array(min(hash_0(shingle)), …, min(hash_{k-1}(shingle)))` — no
    ×num_hashes row explode, full map-side partial aggregation, seeds
    constant so every hash stays codegen'd. The signature is built as
    ONE SQL expression: composing it from 2·num_hashes Column objects
    cost ~70 Py4J round trips per hash (0.4–0.6 s of driver time per
    call at k=32), more than the aggregation itself on a small batch."""
    hashes = ", ".join(f"min({_HASH_SQL[portable].format(i=i)})" for i in range(num_hashes))
    return shingle_df.groupBy(key_col).agg(F.expr(f"array({hashes})").alias("signature"))


def set_signatures(
    sets_df: DataFrame, key_col: str = "doc_id", num_hashes: int = 32, portable: bool = False
) -> DataFrame:
    """(key, signature) from precomputed shingle sets (shingle_sets).
    The aggregation key is the sets' own key: straight after
    shingle_sets it adds no exchange, and over materialized sets the
    hashing still runs map-side, before the one exchange that merges a
    partial row per key."""
    exploded = sets_df.select(key_col, F.explode("sh").alias("shingle"))
    return minhash_signatures(exploded, key_col=key_col, num_hashes=num_hashes, portable=portable)


def banded_buckets(
    signatures: DataFrame,
    key_col: str = "doc_id",
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """(key, band, band_hash) — each signature split into `bands`
    contiguous slices, each slice hashed to one bucket key. The shared
    banding projection behind lsh_candidate_pairs (within-corpus
    self-join) and near_dups_vs_history (new-batch vs stored-signature
    join): both sides of any LSH join MUST band identically or buckets
    never collide, so the projection lives in exactly one place."""
    band_hash_fn = (lambda c: portable_hash64(c, 0)) if portable else F.xxhash64
    rows_per_band = F.floor(F.size("signature") / bands).cast("int")
    return (
        signatures.select(
            key_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        band_hash_fn(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        F.col("signature"), b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda v: v.cast("string"),
                                ),
                            )
                        ).alias("band_hash"),
                    ),
                )
            ).alias("bh"),
        ).select(key_col, "bh.band", "bh.band_hash")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    key_col: str = "doc_id",
    bands: int = 8,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Banded LSH: docs agreeing on any full band become a candidate
    pair. Equi-join per band → shuffle on (band, band_hash) only.

    `max_bucket_size` is the quadratic-blowup guard: a bucket of n docs
    emits n·(n-1)/2 pairs, and web corpora have degenerate buckets
    (identical boilerplate pages, empty documents) with n in the
    millions. Buckets above the cap are dropped before the self-join —
    their members are (near-)identical cliques better handled by exact
    fingerprint dedup upstream, not by pairwise verification. The cap
    costs one extra hash agg on the already-shuffled (band, band_hash)
    key (co-partitioned, map-side combined).
    """
    banded = banded_buckets(signatures, key_col=key_col, bands=bands, portable=portable)
    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("band", "band_hash")
        )
        banded = banded.join(ok_buckets, on=["band", "band_hash"], how="left_semi")
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{key_col}") < F.col(f"b.{key_col}"),
            ],
        )
        .select(F.col(f"a.{key_col}").alias("id_a"), F.col(f"b.{key_col}").alias("id_b"))
        .distinct()
    )


def verified_near_dups(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Re-check candidate pairs with exact shingle-set Jaccard."""
    return _jaccard_verify(
        candidates, shingle_sets(df, text_col, key_col, n=shingle_n), key_col, threshold
    )


def _jaccard_verify(
    candidates: DataFrame, sets_df: DataFrame, key_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate pairs whose exact
    shingle-set Jaccard reaches the threshold."""
    a = sets_df.select(F.col(key_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col(key_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.when(union == 0, F.lit(0.0)).otherwise(inter / union))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(key, sh: array<string>) distinct shingle set per doc — the
    shared upstream of both the MinHash signatures and the Jaccard
    verification. One groupBy(key) shuffle."""
    return (
        shingles(df, text_col, key_col, n=n)
        .groupBy(key_col)
        .agg(F.collect_set("shingle").alias("sh"))
    )


def sig_prefilter_min_matches(
    threshold: float, num_hashes: int, margin: float = 0.35
) -> int:
    """Integer signature-agreement floor for the verify-join prefilter:
    keep a candidate pair only if >= this many of the num_hashes
    signature components agree. Integer compare on BOTH engines —
    no float-literal typing hazards in the SQL replay."""
    import math

    return max(1, math.ceil((threshold - margin) * num_hashes - 1e-9))


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
    prefilter_margin: float | None = 0.35,
) -> DataFrame:
    """End-to-end MinHash near-dup pipeline sharing ONE shingle pass:
    shingle_sets → set_signatures → near_dup_pairs.

    `portable=True` swaps xxhash64 for the md5-derived portable hash
    so an ANSI-SQL oracle can replay the whole pipeline value-for-value
    (slower; the default stays xxhash64 for production).

    The naive composition (minhash_signatures(shingles(df)) +
    verified_near_dups(df, ...)) re-tokenizes the corpus twice; here
    both the signatures and the verification sets derive from
    `shingle_sets`, whose groupBy(key) exchange is the reuse point —
    signatures re-aggregate on the SAME key (no new shuffle: the
    child's hash partitioning already satisfies it), and the verify
    join reuses the exchange instead of re-scanning the text. A caller
    that materializes the sets and signatures itself (jobs/curate.py)
    calls near_dup_pairs directly.
    """
    sets_df = shingle_sets(df, text_col, key_col, n=shingle_n)
    sigs = set_signatures(sets_df, key_col=key_col, num_hashes=num_hashes, portable=portable)
    return near_dup_pairs(
        sets_df, sigs, key_col=key_col, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_bucket_size=max_bucket_size, portable=portable,
        prefilter_margin=prefilter_margin,
    )


def near_dup_pairs(
    sets_df: DataFrame,
    sigs: DataFrame,
    key_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
    prefilter_margin: float | None = 0.35,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-dup pairs from precomputed shingle
    sets and signatures: banded LSH candidates, the signature
    prefilter, then exact Jaccard on the sets.

    `prefilter_margin` (VERDICT r1 item 8): before shipping full
    shingle-set arrays into the verify join, candidates are screened on
    signature agreement — pairs matching fewer than
    sig_prefilter_min_matches(threshold, num_hashes, margin) of the
    already-computed minhash components are dropped. Signatures are
    ~num_hashes longs vs KB-scale shingle sets, so the expensive join's
    input shrinks to pairs with a real chance of passing. The floor
    sits ~3σ below the threshold's expected agreement (σ =
    sqrt(t(1-t)/k)), so true positives are kept w.p. >~99.9%; None
    disables the screen for exact candidate semantics.
    """
    cands = lsh_candidate_pairs(
        sigs, key_col=key_col, bands=bands, max_bucket_size=max_bucket_size,
        portable=portable,
    )
    if prefilter_margin is not None:
        min_matches = sig_prefilter_min_matches(threshold, num_hashes, prefilter_margin)
        sa = sigs.select(F.col(key_col).alias("id_a"), F.col("signature").alias("sig_a"))
        sb = sigs.select(F.col(key_col).alias("id_b"), F.col("signature").alias("sig_b"))
        agree = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
        )
        cands = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .where(agree >= min_matches)
            .select("id_a", "id_b")
        )
    return _jaccard_verify(cands, sets_df, key_col, threshold)


def doc_signatures(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """(key, fp, signature) — the per-document dedup STATE a corpus
    store persists instead of text: an exact md5 content fingerprint
    plus the MinHash signature. ~num_hashes longs + 32 hex chars per
    doc (a few hundred bytes — ~1-3% of typical web-page text), which
    is what makes dedup-against-history tractable at 10^12 docs: new
    batches join against this table, never against historical text.
    Same composition as near_dup_pairs_minhash: shingle_sets →
    set_signatures, then fingerprints_with_signatures."""
    sets_df = shingle_sets(df, text_col, key_col, n=shingle_n)
    sigs = set_signatures(sets_df, key_col=key_col, num_hashes=num_hashes, portable=portable)
    return fingerprints_with_signatures(df, sigs, text_col=text_col, key_col=key_col)


def fingerprints_with_signatures(
    df: DataFrame, sigs: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """(key, fp, signature): df's md5 fingerprints left-joined to
    precomputed signatures. Unshingleable documents (empty/whitespace
    text) have no signature row and keep a NULL signature — NOT a
    shared sentinel, which would make every such doc a spurious
    est=1.0 near-dup of every other. Near-dup passes filter NULL
    signatures out; the exact fp still covers those docs."""
    return df.select(key_col, fingerprint(F.col(text_col)).alias("fp")).join(
        sigs, on=key_col, how="left"
    )


def near_dups_vs_history(
    new_sigs: DataFrame,
    hist_sigs: DataFrame,
    key_col: str = "url",
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """New-batch documents that near-duplicate PREVIOUSLY-STORED ones:
    (key, hist_key, est_jaccard) with est_jaccard >= threshold.

    The incremental-ingest dedup step (each Common Crawl dump repeats
    earlier dumps heavily): both sides are (key, signature) frames —
    the new batch's from its text, history's from the persisted store
    — banded IDENTICALLY by banded_buckets, joined on (band,
    band_hash) so the shuffle key is the bucket, never the signature
    or text. Jaccard is then ESTIMATED by signature agreement
    (matching components / num_hashes — the unbiased MinHash
    estimator, σ = sqrt(t(1-t)/k)), because exact shingle
    verification would require historical text the store deliberately
    does not keep. With k=32 at t=0.8 σ≈0.07: callers wanting the
    exact-verify semantics within a batch keep near_dup_pairs_minhash;
    against history the estimator IS the design point.

    Hot buckets (identical-boilerplate cliques) are capped on EACH
    side independently before the join — a degenerate historical
    bucket must not fan every future batch out against it.
    Self-pairs (same key on both sides — a resumed batch re-checking
    itself against a store it already reached) are excluded, and NULL
    signatures (unshingleable docs, see doc_signatures) never pair."""
    new_sigs = new_sigs.where(F.col("signature").isNotNull())
    hist_sigs = hist_sigs.where(F.col("signature").isNotNull())
    nb = banded_buckets(new_sigs, key_col=key_col, bands=bands, portable=portable)
    hb = banded_buckets(hist_sigs, key_col=key_col, bands=bands, portable=portable)
    if max_bucket_size is not None:
        for side in ("nb", "hb"):
            frame = nb if side == "nb" else hb
            ok = (
                frame.groupBy("band", "band_hash")
                .agg(F.count("*").alias("n"))
                .where(F.col("n") <= max_bucket_size)
                .select("band", "band_hash")
            )
            capped = frame.join(ok, on=["band", "band_hash"], how="left_semi")
            if side == "nb":
                nb = capped
            else:
                hb = capped
    cands = (
        nb.alias("a")
        .join(
            hb.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{key_col}") != F.col(f"b.{key_col}"),
            ],
        )
        .select(
            F.col(f"a.{key_col}").alias("_k_new"), F.col(f"b.{key_col}").alias("hist_" + key_col)
        )
        .distinct()
    )
    sa = new_sigs.select(F.col(key_col).alias("_k_new"), F.col("signature").alias("_sig_a"))
    sb = hist_sigs.select(
        F.col(key_col).alias("hist_" + key_col), F.col("signature").alias("_sig_b")
    )
    agree = F.size(
        F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = agree.cast("double") / F.size("_sig_a")
    return (
        cands.join(sa, "_k_new")
        .join(sb, "hist_" + key_col)
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select(F.col("_k_new").alias(key_col), "hist_" + key_col, "est_jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 32,
    portable: bool = False,
) -> DataFrame:
    """Sign-of-sum SimHash over distinct words (native bit ops).

    Per bit i the ±1 sum s_i equals 2·(ones_i) - n, so the agg is a
    branch-free masked sum per bit plus one count — cheaper codegen
    than 32 CASE WHENs, identical sign (bit set ⟺ 2·ones_i > n)."""
    words = df.select(
        key_col, F.explode(F.array_distinct(word_array(F.col(text_col)))).alias("w")
    ).where(F.col("w") != "")
    word_hash = portable_hash64(F.col("w"), 0) if portable else F.xxhash64("w")
    hashed = words.select(key_col, word_hash.alias("h"))
    ones = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(bits)
    ]
    summed = hashed.groupBy(key_col).agg(*ones, F.count("*").alias("n"))
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(
            F.col(f"b{i}") * 2 > F.col("n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0))
    return summed.select(key_col, sig.alias("simhash"))


def simhash_near_dups(
    sim: DataFrame,
    key_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Hamming-ball near-dup pairs via band blocking + popcount check.

    Same quadratic-blowup guard as the MinHash path: (band, piece)
    buckets above `max_bucket_size` are near-identical cliques —
    dropped here, owned by exact dedup upstream."""
    width = bits // bands
    mask = (1 << width) - 1
    banded = sim.select(
        key_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("piece"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bp"),
    ).select(key_col, "simhash", "bp.band", "bp.piece")
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band", "piece")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("band", "piece")
        )
        banded = banded.join(ok, on=["band", "piece"], how="left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.piece") == F.col("b.piece"),
                F.col(f"a.{key_col}") < F.col(f"b.{key_col}"),
            ],
        )
        .select(
            F.col(f"a.{key_col}").alias("id_a"),
            F.col(f"b.{key_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming).where(hamming <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "n_chars"),
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """SQL-oracle-able near-dup: candidate pairs share an equality
    block; similarity = Jaccard over distinct words."""
    words = df.select(
        *block_cols, F.col(key_col), F.explode(F.array_distinct(word_array(F.col(text_col)))).alias("w")
    ).where(F.col("w") != "")
    sets_df = words.groupBy(*block_cols, key_col).agg(F.collect_set("w").alias("ws"))
    a = sets_df.select(*[F.col(c).alias(f"{c}") for c in block_cols], F.col(key_col).alias("id_a"), F.col("ws").alias("ws_a"))
    b = sets_df.select(*[F.col(c).alias(f"{c}_b") for c in block_cols], F.col(key_col).alias("id_b"), F.col("ws").alias("ws_b"))
    cond = [F.col(c) == F.col(f"{c}_b") for c in block_cols] + [F.col("id_a") < F.col("id_b")]
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size("ws_a") + F.size("ws_b") - inter
    return (
        a.join(b, on=cond)
        .withColumn("jaccard", F.when(union == 0, F.lit(0.0)).otherwise(inter / union))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dups(
    emb: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicates within equality buckets (e.g. label or a
    coarse LSH bucket) — the blocked form of embedding dedup."""
    base = emb.select(
        bucket_col, F.col(key_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
    ).where(F.col("nrm") > 0)
    a = base.select(F.col(bucket_col).alias("bk"), F.col(key_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("nrm").alias("n_a"))
    b = base.select(F.col(bucket_col).alias("bk_b"), F.col(key_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("nrm").alias("n_b"))
    dot = _dot(F.col("v_a"), F.col("v_b"))
    return (
        a.join(b, on=[F.col("bk") == F.col("bk_b"), F.col("id_a") < F.col("id_b")])
        .withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dups_lsh(
    emb: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 7,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Cosine near-dup with BANDED random-hyperplane LSH blocking — the
    scale path (VERDICT r1 item 5: equality-blocking on a low-card
    column like `label` keeps bucket count constant while n grows, so
    pairs grow ~n²; hyperplane buckets grow with 2^bits and amplify
    recall across bands).

    bands×bits_per_band planes are hashed per vector in one pass; a
    pair is a candidate iff it agrees on ALL bits of at least one band
    (OR-of-ANDs amplification, the hyperplane analogue of MinHash-LSH
    banding). Candidates are verified with exact cosine; the per-band
    buckets get the same hot-bucket cap as the text LSH (degenerate
    near-identical clusters emit n² pairs otherwise). `portable=True`
    derives plane signs from the md5 portable hash so an ANSI-SQL
    oracle replays the full pipeline (q32).
    """
    base = emb.select(
        F.col(key_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
    ).where(F.col("nrm") > 0)
    total_bits = bands * bits_per_band
    mask = (1 << bits_per_band) - 1
    bucketed = rhp_buckets(
        base, bits=total_bits, seed=seed, vec_col=vec_col, portable=portable
    )
    band_keys = F.array(
        *[
            F.shiftright(F.col("bucket"), b * bits_per_band).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    banded = bucketed.select(F.col(key_col), F.posexplode(band_keys).alias("band", "bkey"))
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band", "bkey")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("band", "bkey")
        )
        banded = banded.join(ok, on=["band", "bkey"], how="left_semi")
    la, lb = banded.alias("a"), banded.alias("b")
    cands = (
        la.join(
            lb,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bkey") == F.col("b.bkey"),
                F.col(f"a.{key_col}") < F.col(f"b.{key_col}"),
            ],
        )
        .select(F.col(f"a.{key_col}").alias("id_a"), F.col(f"b.{key_col}").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col(key_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("nrm").alias("n_a"))
    vb = base.select(F.col(key_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("nrm").alias("n_b"))
    dot = _dot(F.col("v_a"), F.col("v_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def winnowed_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    segment: int = 512,
    portable: bool = True,
    max_chars: int | None = None,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    character k-gram, keep the MINIMUM hash of each sliding window of
    `window` hashes, emit the distinct selected hashes as (key, fp)
    rows.

    Guarantees: any shared substring of length >= k + window - 1
    yields at least one shared fingerprint — the local plagiarism/
    near-copy detector the whole-text md5 fingerprint cannot provide.
    All native exprs (substring/sequence/md5), hashes use the
    md5-derived portable hash so the SQL oracle replays the selection
    exactly (q48).

    Scale shape (VERDICT r1 item 4): hashing every k-gram is inherent
    to winnowing, but the r1 version pushed every character position of
    a document through ONE per-doc window sort — a 1 MB doc serialized
    10^6 rows into a single task. This version splits each document
    into fixed `segment`-char spans first (carrying only the segment
    substring + a (k+window-2)-char lookahead, never the whole text),
    so the window-min runs over bounded (key, seg_id) groups: mega-doc
    skew is structurally impossible and sort memory is O(segment) per
    group. Selection is bit-identical to the unsegmented form because
    each segment's context rows reproduce the global sliding window at
    the boundary.

    Cost budget: winnowing hashes EVERY character position, so it
    dominates any funnel that includes it (~91% of a measured 50k-doc
    operator run: 46.8M fingerprints in 1,007 s). `max_chars=N`
    is the budgeted opt-in for curation funnels: fingerprint only the
    first N chars per document — cost becomes O(min(len, N)) per doc,
    and within that prefix every selection guarantee is unchanged
    (identical fingerprints to the uncapped run restricted to the
    prefix; docs sharing a >= k+window-1 substring inside their first
    N chars still collide). Shared substrings that START past the cap
    are not covered — the documented trade.
    """
    from pyspark.sql import Window

    s = F.col(text_col) if max_chars is None else F.substring(F.col(text_col), 1, max_chars)
    n = F.length(s)
    m = F.greatest(n - k + 1, F.lit(1))  # number of k-gram positions
    seg = int(segment)
    if seg < window:
        raise ValueError("segment must be >= window")
    # segment explode: one row per `seg`-char span of k-gram positions;
    # each carries only substring(base+1, seg + window-1 + k-1) — the
    # span's grams plus the lookahead needed to close its last window
    segs = df.select(
        F.col(key_col),
        m.alias("m"),
        F.explode(F.sequence(F.lit(0), ((m - 1) / seg).cast("long"))).alias("seg_id"),
        s.alias("_s"),
    )
    base = F.col("seg_id") * seg
    seg_text = F.substring(F.col("_s"), (base + 1).cast("int"), seg + window + k - 2)
    # positions within the segment, including window-1 context rows
    # past the span end (they feed mins, but emit no rows themselves)
    local_m = F.least(F.lit(seg + window - 1), F.col("m") - base).cast("int")
    pos_rows = segs.select(
        key_col,
        "m",
        "seg_id",
        base.alias("base"),
        seg_text.alias("_t"),
        F.explode(F.sequence(F.lit(1), local_m)).alias("lpos"),
    )
    # per-row hashing in codegen — a transform() HOF would evaluate
    # the hash chain interpreted per element, ~100× slower. portable
    # (md5-derived) replays in the SQL oracle (q48); portable=False is
    # the production path (xxhash64, ~3× cheaper per gram)
    gram = F.substring(F.col("_t"), F.col("lpos"), k)
    if portable:
        h = F.conv(F.substring(F.md5(F.concat(gram, F.lit("#0"))), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(gram, F.lit(0))
    hashed = pos_rows.select(key_col, "m", "seg_id", "base", "lpos", h.alias("h"))
    w = (
        Window.partitionBy(key_col, "seg_id")
        .orderBy("lpos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    emit = (F.col("lpos") <= seg) & (
        (F.col("base") + F.col("lpos")) <= F.greatest(F.col("m") - window + 1, F.lit(1))
    )
    mins = hashed.select(
        key_col,
        F.min("h").over(w).alias("fp"),
        "base",
        "lpos",
        "m",
    ).where(emit)
    return mins.select(key_col, "fp").distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair list —
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14), the O(log n)-round
    formulation that stays shuffle-bounded on a real cluster.

    Input: (src, dst) pairs, any orderable key type (long doc_id,
    string url). Output: one row per NON-ROOT node — (node, cluster)
    where cluster is the component's minimum key. Roots (the minima)
    and singletons don't appear; callers COALESCE to the node's own
    key (see duplicate_clusters) or anti-join to drop non-canonical
    members (dedup_keep_canonical).

    Why not pairwise loser-dropping (drop every id_b): with pairs
    (a,b), (c,b) it keeps BOTH a and c even though they share the
    near-dup b — transitive clusters need real closure. And why not
    plain min-label propagation: its round count is the component
    DIAMETER, which boilerplate chains can stretch to thousands;
    star-contraction halves path lengths every other round.

    Each round is two fixed-shape stages (symmetrize → groupBy-min →
    join), localCheckpoint-ed so the plan stays O(1) deep instead of
    O(rounds); on a real cluster point sparkContext.setCheckpointDir
    at durable storage and swap localCheckpoint for checkpoint.
    Convergence = edge-set fixpoint, detected by a (count,
    bit_xor(xxhash64)) checksum — one scalar collect per round,
    overflow-free under ANSI mode.
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst)))
        .distinct()
    )

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        o = ed.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _sig(ed: DataFrame):
        row = ed.agg(
            F.count(F.lit(1)).alias("c"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        return (row["c"], row["h"])

    e = e.localCheckpoint(eager=True)
    prev = _sig(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _sig(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(pairs={prev[0]}) — raise max_iter or check the pair generator"
        )
    # converged state is a star forest (member -> component min); the
    # groupBy-min is an idempotent safety net, not a semantic step
    return e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("cluster"))


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-document duplicate-cluster assignment: (key, cluster_id,
    cluster_size, is_canonical). Singletons are their own cluster of
    size 1; the canonical member is the component's minimum key (the
    RefinedWeb / SlimPajama keep-one convention)."""
    labels = connected_components(pairs, src=src, dst=dst).withColumnRenamed("node", key_col)
    out = (
        df.select(key_col)
        .join(labels, key_col, "left")
        .select(key_col, F.coalesce("cluster", F.col(key_col)).alias("cluster_id"))
    )
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return out.join(sizes, "cluster_id").select(
        key_col,
        "cluster_id",
        "cluster_size",
        (F.col(key_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop every non-canonical cluster member — the converged star
    forest's node set IS the drop list, so survivors are one left_anti
    join (no size/rank pass)."""
    losers = connected_components(pairs, src=src, dst=dst).select(
        F.col("node").alias(key_col)
    )
    return df.join(losers, key_col, "left_anti")


def semantic_dedup(
    emb: DataFrame,
    cents: "list[list[float]] | DataFrame",
    threshold: float = 0.95,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-
    prune semantic deduplication over an embedding column. Vectors are
    assigned to their nearest coarse centroid (the IVF dot-product
    identity — argmin-invariant and oracle-replayable, same scoring
    q66 proved bit-equal), then pairwise cosine runs ONLY within a
    cluster; a vector whose cosine to a lower-key cluster-mate meets
    the threshold is a semantic duplicate. Output: one row per LOSER —
    (key, list_id, dup_of, cosine) where dup_of is the smallest
    similar lower key (deterministic min-struct resolution).

    Complements the dedup ladder: exact (hash), MinHash/SimHash
    (lexical near-dup), embedding-LSH (cosine near-dup by random
    projection) — SemDeDup prunes PARAPHRASES that share no surface
    form, which LSH-on-shingles can never pair.

    Scale: the self-join is per-cluster — cost Σ|c_i|², bounded by the
    quantizer's granularity, and the join shuffles on list_id only
    (train k ∝ corpus size on a sample; at 10^12 rows list_id is the
    storage partition key, so the pairing is partition-local).
    `max_cluster_size` is the hot-cluster guard (the LSH hot-bucket
    cap's sibling): clusters larger than the cap are EXCLUDED from
    pairing entirely — deterministic and honest (their members are
    reported by the caller via the excluded-clusters frame of
    `semantic_dedup_excluded`), never a silent partial pairing.
    """
    # centroids as a matrix or a (list_id, centroid) table, one
    # assignment either way (a broadcast numpy kernel, O(1) plan in k).
    # A row ivf_assign leaves with a NULL list_id (NULL or wrong-width
    # vector) matches no cluster-mate in the list_id equi-join.
    assigned = ivf_assign(emb, cents, vec_col)
    if max_cluster_size is not None:
        sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("_n"))
        keep = sizes.where(F.col("_n") <= max_cluster_size).select("list_id")
        assigned = assigned.join(F.broadcast(keep), "list_id")
    # normalize each vector ONCE per row (norm hoisted to a projected
    # column — never inside the transform lambda, the O(n²) HOF trap):
    # cosine then costs one fold per PAIR instead of three. The
    # element-wise x/||v|| then Σ products is IEEE-replayable in the
    # oracle (q86 mirrors the exact expression order).
    #
    # Zero-norm guard (ADVICE r4, high): an all-zero embedding (empty
    # doc / failed encode) has no direction, so cosine is undefined —
    # under ANSI the division crashes the job, and with ANSI off the
    # NaN cosine compares >= threshold (NaN-is-largest), silently
    # marking real documents as duplicates of the zero vector. Exclude
    # zero-norm rows from pairing, same rule as embedding_near_dups_lsh.
    normed = (
        assigned.withColumn("_nrm", _norm(F.col(vec_col)))
        .where(F.col("_nrm") > 0)
        .withColumn(
            "_vn", F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_nrm"))
        )
    )
    a = normed.select(
        F.col("list_id"), F.col(key_col).alias("_ka"), F.col("_vn").alias("_va")
    )
    b = normed.select(
        F.col("list_id"), F.col(key_col).alias("_kb"), F.col("_vn").alias("_vb")
    )
    sims = (
        a.join(b, "list_id")
        .where(F.col("_ka") < F.col("_kb"))
        .withColumn("_cos", _dot(F.col("_va"), F.col("_vb")))
        .where(F.col("_cos") >= F.lit(float(threshold)))
    )
    return (
        sims.groupBy("list_id", "_kb")
        .agg(F.min(F.struct(F.col("_ka"), F.col("_cos"))).alias("_s"))
        .select(
            F.col("_kb").alias(key_col),
            "list_id",
            F.col("_s._ka").alias("dup_of"),
            F.col("_s._cos").alias("cosine"),
        )
    )


def semantic_dedup_excluded(
    emb: DataFrame,
    cents: "list[list[float]] | DataFrame",
    max_cluster_size: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """The clusters semantic_dedup's hot-cluster guard skipped:
    (list_id, n_members) for every cluster over the cap — the
    accounting frame that makes the cap auditable instead of silent."""
    return (
        ivf_assign(emb, cents, vec_col)
        .where(F.col("list_id").isNotNull())
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > max_cluster_size)
    )
