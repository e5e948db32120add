"""Document-level text analysis stages (training-data pipeline tier).

Thin DataFrame stages over functions/text_metrics — all native exprs,
one scan, no shuffle until the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text_metrics as tm


def quality_summary(df: DataFrame, text_col: str = "text", by: str = "lang") -> DataFrame:
    """Per-group quality/token rollup (single hash agg).

    Determinism: double AVGs wobble with Spark's partial-agg order, so
    every average is an exact integer SUM followed by ONE double
    division. The punct ratio is quantized per row to an integer 1e-9
    grid (ROUND(punct*1e9/total)) before summing — per-row double math
    is order-free and bit-identical across engines.
    """
    c = F.col(text_col)
    total = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    pr_e9 = (
        F.when(total == 0, F.lit(0.0))
        .otherwise(F.round(punct.cast("double") * F.lit(1000000000.0) / total))
        .cast("long")
    )
    feats = df.select(
        F.col(by),
        tm.token_count(c).alias("tokens"),
        tm.quality_points(c).alias("qpoints"),
        pr_e9.alias("pr_e9"),
        tm.fingerprint(c).alias("fingerprint"),
    )
    n = F.count("*")
    return feats.groupBy(by).agg(
        n.alias("docs"),
        (F.round(F.sum("tokens").cast("double") / n, 4) + F.lit(0.0)).alias("avg_tokens"),
        (F.round(F.sum("qpoints").cast("double") / (n * F.lit(3.0)), 4) + F.lit(0.0)).alias(
            "avg_quality"
        ),
        (
            F.round(F.sum("pr_e9").cast("double") / n / F.lit(1000000000.0), 4) + F.lit(0.0)
        ).alias("avg_punct_ratio"),
        F.countDistinct("fingerprint").alias("distinct_texts"),
    )


def hashed_linear_score(
    df: DataFrame,
    weights: "list[float]",
    text_col: str = "text",
    out_col: str = "clf_score",
    threshold: float = 0.0,
    portable: bool = False,
) -> DataFrame:
    """fastText-style hashed linear classifier SCORING pass: token →
    hash bucket (mod len(weights)) → weight lookup → mean → threshold.
    The standard cheap quality/domain classifier a curation funnel runs
    over 10^12 docs after training offline — here only the (embarrass-
    ingly parallel) inference, all native exprs, scan-shaped.

    Adds `out_col` (mean bucket weight, 0.0 for empty docs), an
    `{out_col}_n_words` count, and `{out_col}_keep` (score > threshold).

    `portable=True` hashes with the md5-derived portable_hash64 so an
    ANSI engine can replay values bit-for-bit (oracle q78); default is
    xxhash64 (production). Determinism note: choose DYADIC weights
    (multiples of 2^-10 of modest magnitude) and the double sum is
    EXACT, so partial-agg order can't wobble the mean — same trick as
    quality_summary's integer-grid averages.

    The per-element hash inside the fold is inherent per-token work,
    not the hoisting bug class (no whole-doc expression re-evaluated
    per element); the word array itself IS hoisted.
    """
    n = len(weights)
    if n == 0:
        raise ValueError("weights must be non-empty")
    c = F.coalesce(F.col(text_col), F.lit(""))
    base = df.withColumn(
        "__hls_w", F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")
    ).withColumn("__hls_v", F.array(*[F.lit(float(w)) for w in weights]))
    words, wv = F.col("__hls_w"), F.col("__hls_v")
    if portable:
        bucket = lambda x: tm.portable_hash64(F.lower(x)) % F.lit(n)  # noqa: E731
    else:
        bucket = lambda x: F.pmod(F.xxhash64(F.lower(x)), F.lit(n))  # noqa: E731
    total = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, x: acc + F.element_at(wv, (bucket(x) + 1).cast("int")),
    )
    n_words = F.size(words)
    score = F.when(n_words == 0, F.lit(0.0)).otherwise(total / n_words)
    return (
        base.withColumn(out_col, score)
        .withColumn(f"{out_col}_n_words", n_words)
        .withColumn(f"{out_col}_keep", F.col(out_col) > F.lit(threshold))
        .drop("__hls_w", "__hls_v")
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "compression_ratio"
) -> DataFrame:
    """zlib-compressed bytes / raw utf-8 bytes per document — the
    classic redundancy signal (Gopher-family pipelines and the
    RedPajama-v2 quality signals both carry it): machine-generated
    or template-spam text compresses far below natural prose, and
    random/binary gibberish sits near (or above) 1.0. Keep-band
    thresholds are corpus-tuned by the caller; this just computes the
    signal.

    Arrow-batched pandas UDF — zlib runs at C speed and the ratio is
    a per-row scalar, so the pass is scan-shaped with zero shuffles.
    Level pinned for determinism within a zlib build; no SQL oracle
    exists for zlib output, so attestation is pytest-only (band
    assertions on constructed corpora), like the multimodal tier.
    NULL/empty text → NULL."""
    import pandas as pd

    @F.pandas_udf("double")
    def _ratio(s):
        import zlib

        out = []
        for t in s:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, 6)) / len(raw))
        return pd.Series(out, dtype="float64")

    return df.withColumn(out_col, _ratio(F.col(text_col)))
