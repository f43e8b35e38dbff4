"""Inverted-index maintenance: build and incrementally maintain a
token -> doc posting table from the engine's I/U/D change feed.

operators/incremental.py maintains ALGEBRAIC views (sums/counts) from the
feed; this maintains the other common derived-table shape, an EXPLODED
view (one row per token x doc — the search/dedup posting list). The IVM
contract is the same: ``apply_delta_postings(index(v1), changes(v1->v2))``
must equal ``posting_index(state(v2))`` exactly, which is what the
sink-integration test pins through the real change feed.

Delta algebra (doc-granular, not token-granular): a document's postings
are a pure function of its text, so the minimal correct update is
"remove every posting of every CHANGED doc, then re-derive postings from
the new text of I/U rows" — D rows contribute removal only. Token-level
diffing (remove only tokens that left) would save nothing: the new text
must be tokenized anyway, and the removal side is an anti-join either way.

Scale shape: the anti-join keys on doc_id, so at 10^9 docs the index
table should be stored bucketed by doc_id — the maintenance join then
co-locates with storage and touches only changed buckets (the same
argument as the sink's bucket-pruned MERGE). A serving copy partitioned
by token is a downstream projection, not this table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from relational_data_loader_spark.functions.text import normalize
from relational_data_loader_spark.session import CacheScope


def posting_index(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Full rebuild: distinct ``(tok, doc_id)`` postings over normalized,
    whitespace-split text (the same tokenization as operators/dedup.py, so
    index and dedup pipelines agree on what a token is)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(normalize(F.col(text_col)), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
        .select("tok", "doc_id")
    )


def apply_delta_postings(
    prev_index: DataFrame,
    changes: DataFrame,
    text_col: str,
    id_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """One incremental step: ``changes`` is the engine CDF envelope (one
    row per changed doc, op in I/U/D, NEW text on I/U, text irrelevant on
    D). Returns the maintained index — postings of unchanged docs carried
    by anti-join, postings of I/U docs re-derived from their new text.
    """
    changed_ids = changes.select(F.col(id_col).alias("doc_id")).distinct()
    kept = prev_index.join(changed_ids, "doc_id", "left_anti")
    added = posting_index(
        changes.where(F.col(op_col) != delete_op), text_col, id_col
    )
    return kept.select("tok", "doc_id").union(added)


def _token_bucket(tok_col, n_buckets: int):
    """JVM xxhash64 bucket id for a token — the ONE hash definition shared
    by writer and reader (re-implementing it driver-side is the same
    silent-desync trap SnapshotTable.read_keys documents)."""
    return F.pmod(F.xxhash64(tok_col), F.lit(n_buckets)).cast("int")


def write_serving_postings(
    index: DataFrame, path: str, n_buckets: int = 64
) -> None:
    """Materialize the doc_id-oriented IVM index as a TOKEN-bucketed
    serving copy (the downstream projection the module docstring promises):
    ``_bucket = pmod(xxhash64(tok), n_buckets)``, one repartition on the
    bucket id (so each bucket is one writer task's files, not
    n_tasks x n_buckets shards), written ``partitionBy("_bucket")`` so a
    point lookup is directory-pruned to the probed buckets. ``n_buckets``
    is persisted beside the data — reader desync on the bucket count would
    silently read the wrong directories.

    Scale: the serving copy is rebuilt per maintenance cycle from the IVM
    table (one shuffle of the postings); at 10^9 docs the alternative —
    serving straight from the doc_id-bucketed table — scans everything per
    token, which is the point of this projection.
    """
    import json
    import os

    (
        index.withColumn("_bucket", _token_bucket(F.col("tok"), n_buckets))
        .repartition("_bucket")
        .write.partitionBy("_bucket")
        .mode("overwrite")
        .parquet(path)
    )
    with open(os.path.join(path, "_serving_meta.json"), "w") as fh:
        json.dump({"n_buckets": n_buckets}, fh)


def lookup_postings(spark, path: str, toks: list[str]) -> DataFrame:
    """Point lookup on the serving copy: postings of ``toks``, reading ONLY
    the partition directories those tokens hash into. Bucket ids come from
    one tiny control-plane job over the probe list (len(toks) rows) using
    the same JVM hash as the writer; the partition-column IN filter then
    prunes at the file index — the plan gate pins ``PartitionFilters`` on
    ``_bucket``, so this stays O(probed buckets), never a table scan."""
    import json
    import os

    with open(os.path.join(path, "_serving_meta.json")) as fh:
        n_buckets = int(json.load(fh)["n_buckets"])
    probe = spark.createDataFrame([(t,) for t in toks], "tok string")
    buckets = sorted(
        r["b"]
        for r in probe.select(
            _token_bucket(F.col("tok"), n_buckets).alias("b")
        )
        .distinct()
        .collect()
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("_bucket").isin(buckets))
        .filter(F.col("tok").isin(toks))
        .select("tok", "doc_id")
    )


def bm25_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Ranked retrieval over the posting shape: BM25 top-``k`` documents
    for a bag of query terms (Lucene's always-positive idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``). With ``posting_index`` /
    ``write_serving_postings`` / ``lookup_postings`` this completes the
    search path: maintain → serve → rank.

    Plan: ZERO driver collects. Corpus stats (N, avgdl rounded to a 6dp
    grid so any oracle's own average agrees) are a 1-row aggregate
    broadcast-cross-joined; per-term document frequencies are a
    query-terms-sized broadcast. The explode filters to the query's terms
    immediately after the Generate, so the only shuffled stream is
    (docs containing a query term) — corpus-independent for rare terms.
    Scores are rounded before ranking and ties break on doc_id, making
    the top-k cut deterministic across engines and runs."""
    from relational_data_loader_spark.functions.text import _one_to_one, tokens

    based = docs.select(
        F.col(id_col).alias("doc_id"),
        _one_to_one(tokens(F.col(text_col)), "_toks"),
    )
    stats = based.select(F.size("_toks").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    # NOT cached: tf feeds the document-frequency aggregate AND the
    # scoring join, but with the cache cleared before every call the
    # persist made the entry no faster (see CHANGES.md), so both recompute
    tf = (
        based.select(
            "doc_id",
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("tok"),
        )
        .filter(F.col("tok").isin([str(t) for t in query_terms]))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    k1p1 = float(k1) + 1.0
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0) - F.lit(float(b))
        + F.lit(float(b)) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(k1p1)) / denom
    return (
        tf.join(F.broadcast(dfs), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    round_dp: int = 4,
) -> DataFrame:
    """Keyword extraction: the top-``k`` terms of each document by
    tf·idf (idf = ln(N/df)) — the per-document complement of
    :func:`bm25_topk` (which ranks documents for one query, this ranks
    terms for every document).

    Plan: tf is one groupBy over the exploded token stream (map-side
    combined to (doc, tok, count) state); df then re-aggregates the tf
    table — already one row per (doc, tok), so df is a count, not a
    count-distinct, and its input is the REDUCED table, not the raw
    stream. The df side joins back on ``tok``: vocabulary-sized, so a
    shuffle join on the token key — both sides are already small
    reductions of the corpus (no raw text crosses either exchange). N is
    a 1-row broadcast. Scores rank on the ROUNDED value with a term
    tie-break, so the cut is engine-stable.
    """
    from relational_data_loader_spark.functions.text import _one_to_one, tokens

    based = docs.select(
        F.col(id_col).alias("doc_id"),
        _one_to_one(tokens(F.col(text_col)), "_toks"),
    )
    # NOT cached, like bm25_topk's tf frame and for the same measured reason
    tf = (
        based.select("doc_id", F.explode("_toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(dfs, "tok")
        .join(F.broadcast(n_docs), F.lit(True), "inner")
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), round_dp
            )
            .cast("double")
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "tok", "tfidf", "rk")
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k0: int = 60,
    round_dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of per-retriever top-k lists:
    ``score(d) = Σ_r 1/(k0 + rank_r(d))`` — the standard hybrid-search
    combiner for sparse (BM25) + dense (embedding cosine) retrieval,
    rank-based so the retrievers' incomparable score scales never need
    calibration. ``ranked`` is ``[(df, score_col), ...]``; each frame is
    one retriever's candidates, re-ranked here by (score desc, id) so
    the fused ranks are deterministic under ties. Absent-from-a-list
    contributes 0 for that retriever (full-outer union of candidates).

    Scale shape: inputs are per-query TOP-K frames (k rows each), not
    corpora — the global-window re-rank and the full-outer joins run on
    k-sized data, so the single-partition window is control-plane sized
    by construction. Fusing many queries at once calls for a query_id
    partition column on both sides instead; this signature is the
    one-query serving shape.
    """
    fused: DataFrame | None = None
    contribs = []
    for i, (df, score_col) in enumerate(ranked):
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        r = df.select(id_col, F.row_number().over(w).alias(f"_r{i}"))
        fused = r if fused is None else fused.join(r, id_col, "full_outer")
        contribs.append(
            F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col(f"_r{i}")), F.lit(0.0)
            )
        )
    assert fused is not None, "rrf_fuse needs at least one ranked list"
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return fused.select(
        id_col, F.round(total, round_dp).cast("double").alias("rrf")
    )


def refresh_serving_postings(
    spark,
    new_index: DataFrame,
    prev_index: DataFrame,
    changes: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> int:
    """Incremental maintenance of the TOKEN-bucketed serving copy: rewrite
    ONLY the bucket partitions whose posting sets this epoch's changes
    touched, instead of `write_serving_postings`'s full rebuild.

    A bucket is affected iff some posting in it was added or removed —
    i.e. it holds a token of a changed doc's OLD text (posting removed;
    read from ``prev_index``, which the IVM pipeline already has in hand)
    or of an I/U doc's NEW text (posting added; re-derived exactly the way
    ``apply_delta_postings`` derives them, so the two stay in lockstep).
    Affected buckets get their FULL new content rewritten from
    ``new_index`` through Spark's dynamic partition overwrite — untouched
    bucket directories are not rewritten, not even listed.

    Scale: the affected-bucket id list is a control-plane collect of at
    most ``n_buckets`` rows (64 by default — bucket ids, never tokens or
    postings). The rewrite cost is (touched buckets / n_buckets) of a full
    rebuild; with drift-proportional changes and uniform token hashing
    that ratio is min(1, |changed tokens| / n_buckets)… i.e. small epochs
    touch few buckets ONLY when n_buckets is sized well above the typical
    per-epoch distinct-token count — size it for the drift, not the
    corpus. Worst case (every bucket touched) degenerates to exactly the
    full rebuild, never worse.

    Visibility: like ``write_serving_postings``'s full rebuild, the
    rewrite is per-partition-directory, NOT transactional — a reader
    scanning mid-refresh can see pre-epoch buckets beside post-epoch ones.
    The serving copy is a derived projection; point a fresh reader at it
    after the maintenance cycle (or serve from the manifest-committed IVM
    table when cross-bucket consistency matters mid-cycle).

    Returns the number of bucket partitions rewritten."""
    import json
    import os

    with open(os.path.join(path, "_serving_meta.json")) as fh:
        n_buckets = int(json.load(fh)["n_buckets"])

    changed = changes.select(F.col(id_col).alias("doc_id")).distinct()
    old_toks = prev_index.join(changed, "doc_id", "inner").select("tok")
    new_toks = posting_index(
        changes.where(F.col(op_col) != delete_op), text_col, id_col
    ).select("tok")
    affected = [
        r["b"]
        for r in old_toks.union(new_toks)
        .select(_token_bucket(F.col("tok"), n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    if not affected:
        return 0

    # persist before the write: the write AND the present-bucket probe
    # below both consume this lineage (an anti-join over prev_index plus
    # re-derived postings) — without the pin the probe would re-run the
    # whole refresh job a second time (measured as ~2x the refresh cost)
    with CacheScope() as scope:
        rows = scope.cache(
            new_index.withColumn("_bucket", _token_bucket(F.col("tok"), n_buckets))
            .filter(F.col("_bucket").isin(affected))
        )
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            rows.repartition("_bucket").write.partitionBy("_bucket").mode(
                "overwrite"
            ).parquet(path)
            # dynamic overwrite only replaces partitions it WRITES: an
            # affected bucket whose new posting set is EMPTY (its last
            # token lost its last doc) emits no rows, so its stale
            # directory must be dropped explicitly. Control-plane:
            # <= n_buckets ids, served from the pin.
            import shutil

            present = {
                r["_bucket"] for r in rows.select("_bucket").distinct().collect()
            }
            for b in set(affected) - present:
                shutil.rmtree(
                    os.path.join(path, f"_bucket={b}"), ignore_errors=True
                )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
    return len(affected)
