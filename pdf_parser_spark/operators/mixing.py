"""Deterministic data mixing: stratified down-/up-sampling by domain.

The pretraining "mixture" step (C4/Pile/Dolma domain weights): each
group (source domain, language, quality tier) gets a target rate —
rate<1 downsamples, rate>1 upsamples by emitting floor(rate) copies
plus one more for a hash-selected fraction of documents, rate=0 drops
the group. Selection is a pure function of (key, seed):

  - reproducible across runs, executors and engines (no RNG state,
    no partition-order dependence — unlike df.sample);
  - scan-shaped: zero shuffles, the rate lookup is a literal CASE
    (or any caller-supplied expression), the copy fan-out is a
    scan-local explode. At 10^12 rows the whole mix is one pass.

Rates are quantized to parts-per-million ON THE DRIVER (exact Python
ints), so the engine never does float math on the keep decision —
`hash(key) % 1e6 < ppm` replays bit-identically in ANSI SQL (q74).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text_metrics import portable_hash64

_PPM = 1_000_000


def _rate_to_ppm(rate: float) -> int:
    ppm = int(round(rate * _PPM))
    if ppm < 0:
        raise ValueError(f"negative sampling rate: {rate}")
    return ppm


def ppm_expr(rates: dict[str, float], group_col: str, default_rate: float = 1.0) -> Column:
    """Literal CASE mapping group values to exact ppm rates. Fine for
    up to a few thousand groups; past that, broadcast-join a rates
    table keyed on the group instead (same plan shape otherwise)."""
    expr = F.lit(_rate_to_ppm(default_rate))
    for g, r in sorted(rates.items()):
        expr = F.when(F.col(group_col) == g, F.lit(_rate_to_ppm(r))).otherwise(expr)
    return expr


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float] | Column,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 1.0,
    portable: bool = False,
) -> DataFrame:
    """Emit `n_copies` rows per surviving document (copy_idx 0..n-1),
    where n_copies = floor(rate) + (1 if the doc's hash fraction falls
    under the fractional remainder). `rates` is either a group→rate
    dict (compiled to a literal CASE) or a ready ppm Column expression
    (ints, 1e6 = keep-exactly-once).

    portable=True uses the md5-derived hash so the decision replays in
    DuckDB; the default xxhash64 path is the production hot path (same
    uniformity, ~5× cheaper).
    """
    if isinstance(rates, dict):
        ppm = ppm_expr(rates, group_col, default_rate)
    else:
        ppm = rates

    key = F.col(key_col).cast("string")
    if portable:
        h = portable_hash64(key, seed) % _PPM
    else:
        h = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_PPM))

    n_copies = (ppm / F.lit(_PPM)).cast("long") + F.when(
        h < ppm % _PPM, F.lit(1)
    ).otherwise(F.lit(0)).cast("long")

    return (
        df.withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_copies") - 1)))
    )


def mixture_report(
    before: DataFrame,
    after: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Per-group mixing accounting: input docs, output rows, achieved
    rate (exact int counts; one small agg per side)."""
    b = before.groupBy(group_col).agg(F.count(F.lit(1)).alias("in_docs"))
    a = after.groupBy(group_col).agg(F.count(F.lit(1)).alias("out_rows"))
    return (
        b.join(a, group_col, "left")
        .withColumn("out_rows", F.coalesce("out_rows", F.lit(0)))
        .withColumn(
            "achieved_rate",
            F.round(F.col("out_rows") / F.col("in_docs").cast("double"), 6) + F.lit(0.0),
        )
    )


def assign_splits(
    df: DataFrame,
    splits: dict[str, float],
    key_col: str = "url",
    seed: int = 0,
    buckets: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash: bucket =
    hash(key, seed) % buckets, split = the CASE band the bucket falls
    in (fractions quantized to whole buckets ON THE DRIVER, exact
    Python ints — the engine never does float math on the decision).

    Properties a 100 TB pipeline needs and df.randomSplit lacks:
      - STABLE: a document's split is a pure function of its key —
        re-runs, repartitions, appended shards, even other engines
        (portable=True replays in DuckDB — oracle q85) agree, so a
        held-out set never leaks into training when the corpus grows;
      - scan-shaped: zero shuffles, one projected CASE column;
      - disjoint + exhaustive: bands partition [0, buckets).

    `splits` maps name→fraction (must sum to ~1; the last band absorbs
    the rounding remainder). Band layout follows sorted(splits) so the
    dict's insertion order can't silently re-cut existing splits.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    if buckets < len(splits):
        raise ValueError(f"buckets={buckets} < {len(splits)} splits")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    names = sorted(splits)
    cuts: list[tuple[str, int]] = []  # (name, exclusive upper bucket)
    acc = 0.0
    for name in names[:-1]:
        acc += splits[name]
        cuts.append((name, int(round(acc * buckets))))
    cuts.append((names[-1], buckets))  # last band absorbs remainder
    lo = 0
    for name, hi in cuts:
        if hi <= lo:  # a fraction under ~half a bucket rounded to a
            raise ValueError(  # zero-width band — silently empty split
                f"split {name!r} ({splits[name]}) rounds to an empty "
                f"bucket band at buckets={buckets}; raise `buckets`"
            )
        lo = hi

    key = F.col(key_col).cast("string")
    if portable:
        b = portable_hash64(key, seed) % F.lit(buckets)
    else:
        b = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(buckets))

    # bind the hash once via a projected column so it is computed a
    # single time per row, not once per CASE branch
    expr = F.lit(cuts[-1][0])
    for name, hi in reversed(cuts[:-1]):
        expr = F.when(F.col("_split_bucket") < F.lit(hi), F.lit(name)).otherwise(expr)
    return (
        df.withColumn("_split_bucket", b)
        .withColumn("split", expr)
        .drop("_split_bucket")
    )


def _ilog2(x: Column) -> Column:
    """floor(log2(x)) for x >= 1 via INTEGER/string ops only —
    length(bin(x)) - 1. No float log enters the computation, so any
    engine replays it bit-for-bit (Math.log/libm differ in the last
    ulp; bin() cannot)."""
    return F.length(F.bin(x)) - F.lit(1)


def dsir_grams(df: DataFrame, text_col: str = "text") -> Column:
    """Unigram + bigram array from ASCII-alphanumeric runs, lowercased
    per token. Tokens are extracted from the RAW text and lowercased
    individually (pure-ASCII lowering is engine-identical; lowering
    whole unicode text first is not — ligatures/dotted-I differ)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    return F.transform(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+"), F.lit(0)), F.lower
    )


def dsir_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 4096,
    seed: int = 0,
    portable: bool = False,
    weights_table: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score each document by how much more likely its n-grams are under
    a TARGET distribution (e.g. curated/wiki-like docs) than under the
    RAW corpus, estimated over hashed n-gram buckets so the feature
    space is fixed at `n_buckets` regardless of vocabulary.

    Per document:  dsir_q = Σ_grams  w(bucket(gram)),  with
        w(b) = ilog2(ct_b + 1) − ilog2(cr_b + 1)
    where ct/cr are the bucket's gram counts in the target subset and
    the full corpus. The weight is the INTEGER-log2 quantization of
    the DSIR log-ratio log(p̂_t(b)/p̂_r(b)) — determinism contract:
    integer counts → integer weights → exact integer per-doc sums, so
    partial-agg order cannot wobble a bit and an ANSI oracle replays
    byte-for-byte (q92). The dropped normalizer log(N_r/N_t) is a
    per-gram constant (a rank-preserving shift at fixed gram count);
    a production variant can substitute float log-ratios in w(b)
    without touching the plan shape. Resample by rank or by
    hash-gated acceptance on dsir_q exactly as stratified_sample does
    on its ppm column.

    Plan shape at 10^12 docs:
      - grams/buckets are PROJECTED columns (hoisted once — the
        r3 HOF lesson), hashed once per gram per pass;
      - the ONLY wide exchange is the bucket-count agg (map-side
        partials into `n_buckets` groups); the weight table is then
        one collected row — bounded at n_buckets entries — broadcast
        back via the repo's 1-row crossJoin idiom, and scoring is a
        scan-local fold: no shuffle of the corpus, no join;
      - pass `weights_table` (bucket:int, w:int) to skip the counting
        pass entirely — the production path trains the table on a
        held-out sample (DSIR §2.2 does exactly this) and scores the
        full corpus in ONE scan-shaped pass.
    """
    words = dsir_grams(df, text_col)
    base = df.select(
        F.col(key_col), F.coalesce(target, F.lit(False)).alias("_is_target"), words.alias("_w")
    )
    w = F.col("_w")
    nb = F.size(w) - F.lit(1)
    bigrams = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.concat(F.element_at(w, i), F.lit(" "), F.element_at(w, (i + F.lit(1)).cast("int"))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if portable:
        bucket = lambda x: (portable_hash64(x, seed) % F.lit(n_buckets)).cast("int")  # noqa: E731
    else:
        bucket = lambda x: F.pmod(F.xxhash64(x, F.lit(seed)), F.lit(n_buckets)).cast("int")  # noqa: E731
    g = base.select(
        key_col,
        "_is_target",
        F.concat(w, bigrams).alias("_g"),
    ).withColumn("_b", F.transform(F.col("_g"), bucket))

    if weights_table is None:
        ex = g.select(F.explode("_b").alias("bucket"), "_is_target")
        weights_table = (
            ex.groupBy("bucket")
            .agg(
                F.count("*").alias("cr"),
                F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("ct"),
            )
            .select(
                "bucket",
                (_ilog2(F.col("ct") + 1) - _ilog2(F.col("cr") + 1)).cast("int").alias("w"),
            )
        )
    packed = weights_table.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("w").cast("int")))
        ).alias("_wmap")
    )
    joined = g.crossJoin(F.broadcast(packed))
    score = F.aggregate(
        F.col("_b"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.coalesce(F.element_at(F.col("_wmap"), b), F.lit(0)).cast("long"),
    )
    return joined.select(
        F.col(key_col),
        F.size("_g").cast("long").alias("n_grams"),
        score.alias("dsir_q"),
        F.col("_is_target").alias("is_target"),
    )


def host_of(url: Column) -> Column:
    """Registered host of a url, lowercased ('' when no scheme://host
    prefix — e.g. bare keys — so capping degrades to one global
    group instead of dropping rows)."""
    return F.lower(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)", 1)
    )


def host_cap(
    df: DataFrame,
    max_per_host: int,
    url_col: str = "url",
    portable: bool = False,
    seed: int = 0,
) -> DataFrame:
    """Keep at most `max_per_host` documents per host — the host-spam
    guard (mirror farms, forum archives and SEO spam put millions of
    near-worthless pages on one domain; C4/RefinedWeb-style corpora
    cap them). Survivors are the max_per_host smallest
    (hash(url), url) per host: a deterministic pseudo-random sample —
    re-runs pick the same set, and no content- or crawl-order bias
    leaks into what survives. xxhash64 in production; portable=True
    uses the md5-derived hash a SQL oracle replays (q96).

    Plan shape: the rank filter sits directly on its window, so
    Catalyst compiles it to Partial/Final WindowGroupLimit — the
    partial limit keeps max_per_host rows per host per input
    partition BEFORE the exchange, bounding a mega-host's one-task
    group at n x P rows instead of its full page count
    (test_plans.test_host_cap_window_group_limit locks the Partial
    node in)."""
    from pyspark.sql import Window

    ordered = df.withColumn("_hc_host", host_of(F.col(url_col))).withColumn(
        "_hc_ord",
        portable_hash64(F.col(url_col), seed)
        if portable
        else F.xxhash64(F.col(url_col), F.lit(seed)),
    )
    w = Window.partitionBy("_hc_host").orderBy(F.col("_hc_ord"), F.col(url_col))
    return (
        ordered.withColumn("_hc_rn", F.row_number().over(w))
        .where(F.col("_hc_rn") <= max_per_host)
        .drop("_hc_host", "_hc_ord", "_hc_rn")
    )
