"""Corpus construction: the composed training-set build pipeline.

The individual stages live in their own modules (dedup, contamination,
sampling, functions.text) and are each oracle-paired; this composes them
in the order a real pretraining-data build runs them, chosen so every
stage shrinks the data the next one sees:

    exact dedup -> quality gate -> benchmark decontamination -> stratified sample

Dedup first because identical boilerplate is the biggest volume cut and
its shuffle key (md5 fingerprint) is perfectly uniform; the quality gate
is a free filter on the survivors; contamination runs its n-gram join
only on quality survivors (the n-gram explode is the most expensive
intermediate — never feed it rows a cheaper stage would drop); sampling
last so rates apply to the CLEAN distribution (sampling before dedup
would re-weight by duplication factor — a subtle corpus-poisoning bug).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from relational_data_loader_spark.functions.text import (
    alpha_ratio,
    fingerprint,
    token_count,
)
from relational_data_loader_spark.operators.contamination import (
    ngram_contamination,
)
from relational_data_loader_spark.operators.sampling import stratified_sample
from relational_data_loader_spark.session import CacheScope


def build_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_tokens: int = 5,
    min_alpha: float = 0.5,
    max_contamination: float = 0.5,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    ngram_n: int = 3,
    *,
    scope: CacheScope,
) -> DataFrame:
    """One kept row per surviving document, with the audit columns each
    gate decided on: ``(doc_id, lang, n_tokens, alpha_ratio,
    contaminated_frac)``.

    Plan shape: dedup is a single window-min over the fingerprint
    partition (one uniform shuffle; no groupBy + join-back), the quality
    gate is a pure filter fused into the same stage, contamination
    broadcasts the benchmark n-gram set (eval suites are tiny next to the
    corpus) and left-joins its per-doc stats, and the sample is a
    filter on a content-derived hash — deterministic under retries and
    adding zero shuffles.

    The quality survivors feed THREE consumers (the kept side, and the
    n-gram sizes and hits branches inside contamination); without a cache
    Spark recomputes the scan + fingerprint window per consumer —
    measured 7 scans of the corpus in the uncached plan. One persist
    bounds it to a single corpus read, holding only the post-dedup,
    post-quality survivors (ids, lang, text) — the smallest frame that
    cuts the recompute. That cache feeds the returned plan and belongs to
    the caller's ``scope``.
    """
    base = docs.filter(F.length(text_col) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
    )
    fp_win = Window.partitionBy(fingerprint(F.col("text")))
    quality = scope.cache(
        base.withColumn("__keep_id", F.min("doc_id").over(fp_win))
        .filter(F.col("doc_id") == F.col("__keep_id"))
        .withColumn("n_tokens", token_count(F.col("text")))
        .withColumn("alpha_ratio", alpha_ratio(F.col("text")))
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("alpha_ratio") >= min_alpha)
        )
        .drop("__keep_id")
    )
    cont = ngram_contamination(
        quality, benchmark.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "text", "doc_id", n=ngram_n,
    ).select("doc_id", "contaminated_frac")
    kept = (
        quality.join(cont, "doc_id", "left")
        .withColumn(
            "contaminated_frac",
            F.coalesce("contaminated_frac", F.lit(0.0)),
        )
        .filter(F.col("contaminated_frac") <= max_contamination)
    )
    sampled = stratified_sample(
        kept, "lang", rates or {}, default_rate, "doc_id"
    )
    return sampled.select(
        "doc_id", "lang", "n_tokens", "alpha_ratio", "contaminated_frac"
    )
