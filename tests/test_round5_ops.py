"""Round-5 additions: repeated n-gram spans, decimal-grid k-means
refinement, and the mid-stream schema-evolution replay entry."""

import pyspark.sql.functions as F

from relational_data_loader_spark.operators.contamination import repeated_ngrams
from relational_data_loader_spark.operators.similarity import (
    kmeans_refine_centroids,
    sample_centroids,
)
from relational_data_loader_spark.session import CacheScope

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_repeated_ngrams_no_expand_two_aggs(spark):
    """The distinct-doc count must come from the two-level aggregation,
    never from count_distinct's Expand (which would double the exploded
    n-gram stream before the first combine)."""
    out = repeated_ngrams(_docs(spark), "text", "doc_id", n=6, min_docs=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    # explode -> partial agg runs before ANY exchange: the first shuffle
    # key is (doc_id, ngram), already combined map-side
    assert plan.count("Exchange") == 2, plan


def test_repeated_ngrams_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),      # ngram 'a b c d e f' + 'b c d e f g'
            (2, "a b c d e f"),        # shares 'a b c d e f'
            (3, "a b c d e f a b c d e f"),  # shares it twice
            (4, "totally different words here now ok"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["ngram"]: (r["n_docs"], r["n_occurrences"])
        for r in repeated_ngrams(df, "text", "doc_id", n=6).collect()
    }
    assert rows["a b c d e f"] == (3, 4)
    assert "b c d e f g" not in rows  # single-doc span stays private


def test_kmeans_round_decimals_grid_and_determinism(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    init = sample_centroids(emb, 4)
    a = kmeans_refine_centroids(emb, init, n_iters=2, round_decimals=6)
    b = kmeans_refine_centroids(emb, init, n_iters=2, round_decimals=6)
    assert a == b  # bitwise-identical across invocations
    for c in a:
        for v in c:
            assert v == round(v, 6)  # every component on the decimal grid
        norm = sum(x * x for x in c) ** 0.5
        assert abs(norm - 1.0) < 1e-4  # unit direction (post-round slack)


def test_schema_evolution_winners_split_on_cut(spark):
    """Head-era winners carry NULL model after the additive evolve; tail
    winners carry the v2 value; the rename is visible on every row."""
    from relational_data_loader_spark.queries import q_cdc_schema_evolution_state

    out = q_cdc_schema_evolution_state(spark, SF)
    assert "tool_name" in out.columns and "tool" not in out.columns
    n_null = out.filter(F.col("model").isNull()).count()
    n_val = out.filter(F.col("model").startswith("m-")).count()
    assert n_null > 0 and n_val > 0
    assert n_null + n_val == out.count()


def test_context_windows_frame_semantics(spark):
    from relational_data_loader_spark.operators.transcript import context_windows

    df = spark.createDataFrame(
        [("c1", 1, "a"), ("c1", 2, "b"), ("c1", 3, "c"), ("c1", 4, "d"),
         ("c1", 5, "e"), ("c2", 1, "x")],
        ["conv", "turn", "text"],
    )
    out = {
        (r["conv"], r["turn"]): (r["n_ctx"], r["ctx_chars"])
        for r in context_windows(df, "conv", "turn", "text", k_prev=2).collect()
    }
    assert out[("c1", 1)] == (1, 1)       # no history yet
    assert out[("c1", 3)] == (3, 5)       # 'a<US>b<US>c'
    assert out[("c1", 5)] == (3, 5)       # frame caps at k_prev+1
    assert out[("c2", 1)] == (1, 1)       # partitions isolated


def test_context_windows_single_exchange(spark):
    from relational_data_loader_spark.operators.transcript import context_windows

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "event_type"
    )
    plan = (
        context_windows(ev, "user_id", "event_id", "event_type")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_dedup_conversations_finds_mirror(spark):
    from relational_data_loader_spark.operators.transcript import (
        dedup_conversations,
    )

    df = spark.createDataFrame(
        [(1, 1, "hi"), (1, 2, "yo"), (2, 1, "hi"), (2, 2, "yo"),
         (3, 1, "different")],
        ["conv", "turn", "text"],
    )
    rows = {r["keeper"]: r for r in dedup_conversations(df, "conv", "turn", "text").collect()}
    assert rows[1]["n_convs"] == 2 and rows[1]["n_turns"] == 2
    assert rows[3]["n_convs"] == 1


def test_ngram_containment_catches_subset_jaccard_misses(spark):
    from relational_data_loader_spark.operators.dedup import (
        ngram_containment_pairs,
        token_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{i} pad{i} extra{i}" for i in range(30))
    df = spark.createDataFrame([(1, small), (2, big)], ["doc_id", "text"])

    cont = ngram_containment_pairs(df, "text", "doc_id", n=3, threshold=0.8).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0

    # the same pair scores far below any usable Jaccard threshold
    jac = token_jaccard_pairs(df, "text", "doc_id", threshold=0.0).collect()
    assert jac[0]["jaccard"] < 0.1


def test_compaction_state_preserves_content(spark):
    """Maintenance invariance at the query-catalog surface: the compacted
    replay must equal the plain replay row-for-row."""
    from relational_data_loader_spark.queries import (
        q_cdc_compaction_state,
        q_cdc_full_refresh_state,
    )

    plain = q_cdc_full_refresh_state(spark, SF).orderBy("conv_id", "turn_idx")
    compacted = q_cdc_compaction_state(spark, SF).orderBy("conv_id", "turn_idx")
    assert [r.asDict() for r in plain.collect()] == [
        r.asDict() for r in compacted.collect()
    ]


def test_interval_overlap_no_nested_loop_exactly_once(spark):
    from relational_data_loader_spark.operators.range_join import (
        interval_overlap_join,
    )

    # long intervals spanning MANY shared buckets: the canonical-bucket
    # guard must keep each pair to exactly one output row
    li = spark.createDataFrame([(1, 0, 10_000), (2, 5_000, 6_000)],
                               ["l_id", "ls", "le"])
    ri = spark.createDataFrame([(10, 100, 9_900), (11, 20_000, 21_000)],
                               ["r_id", "rs", "re"])
    out = interval_overlap_join(li, ri, "ls", "le", "rs", "re", bucket_width=100)
    rows = sorted((r["l_id"], r["r_id"]) for r in out.collect())
    assert rows == [(1, 10), (2, 10)]  # one row per overlapping pair
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan, plan


def test_group_split_is_group_granular_and_exhaustive(spark):
    from relational_data_loader_spark.operators.sampling import group_split

    ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id", "event_id")
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    tagged = group_split(ev, "user_id", splits)
    import pyspark.sql.functions as _F

    # every group in exactly one split; every row tagged
    per_group = tagged.groupBy("user_id").agg(
        _F.count_distinct("split").alias("k")
    )
    assert per_group.filter(_F.col("k") != 1).count() == 0
    assert tagged.filter(_F.col("split").isNull()).count() == 0
    # deterministic across invocations
    a = sorted(r["user_id"] for r in tagged.filter(_F.col("split") == "val")
               .select("user_id").distinct().collect())
    b = sorted(r["user_id"] for r in group_split(ev, "user_id", splits)
               .filter(_F.col("split") == "val").select("user_id").distinct().collect())
    assert a == b


def test_bm25_ranks_term_dense_doc_first(spark):
    from relational_data_loader_spark.operators.index import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "merge merge merge scan"),
            (2, "merge scan sort window filter"),
            (3, "sort filter agg join"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(df, "text", "doc_id", ["merge"], k=3).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]  # doc 3 never matches
    assert rows[0]["score"] > rows[1]["score"]
    # zero driver collects: the plan contains the broadcast stats, not a
    # literal from a pre-collected aggregate
    plan = (
        bm25_topk(df, "text", "doc_id", ["merge"], k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_debezium_roundtrip_preserves_microseconds(spark):
    """Regression: from_json's pattern formatter truncated image
    timestamps to millis; envelope_schema now parses them as strings and
    casts (any fraction length survives)."""
    from relational_data_loader_spark.sources.debezium import parse_debezium
    from relational_data_loader_spark.spec import transcripts_spec

    doc = (
        '{"op":"u","ts_ms":1,"after":{"conv_id":"c1","turn_idx":1,'
        '"role":"user","text":"t","tool":null,'
        '"ts":"2024-01-21T03:16:16.963378"},"source":{"lsn":7}}'
    )
    spec = transcripts_spec(source="debezium://x")
    row = parse_debezium(
        spark.createDataFrame([(doc,)], ["value"]), spec
    ).first()
    assert row["ts"].microsecond == 963378


def test_incremental_near_dup_equals_full_filtered(spark):
    """The defining IVM equation: incremental(base, delta) must equal the
    full pipeline over base ∪ delta restricted to delta-touching pairs —
    same pairs, same jaccard values."""
    from relational_data_loader_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_signatures,
        near_dup_pairs,
    )

    docs = _docs(spark).filter(F.col("doc_id") < 200)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)

    with CacheScope() as scope:
        incr = incremental_near_dup_pairs(
            base, delta, "text", "doc_id",
            base_sigs=minhash_signatures(base, "text", "doc_id"),
            threshold=0.3, scope=scope,
        )
        got = {(r.doc_a, r.doc_b): r.jaccard for r in incr.collect()}

    with CacheScope() as scope:
        full = near_dup_pairs(docs, "text", "doc_id", threshold=0.3, scope=scope)
        want = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in full.collect()
            if r.doc_a % 5 == 0 or r.doc_b % 5 == 0
        }
    assert got == want and len(want) > 0


def test_incremental_near_dup_base_explode_is_candidate_bounded(spark):
    """A delta that collides with nothing must verify nothing: no
    candidate pairs, empty result (the semi-join keeps the base explode
    proportional to candidates, and zero candidates mean zero work)."""
    from relational_data_loader_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_signatures,
    )

    base = _docs(spark).filter(F.col("doc_id") < 100)
    delta = spark.createDataFrame(
        [(10_000, "qzx wvu tsr qpo nml kji")], ["doc_id", "text"]
    )
    with CacheScope() as scope:
        out = incremental_near_dup_pairs(
            base, delta, "text", "doc_id",
            base_sigs=minhash_signatures(base, "text", "doc_id"),
            threshold=0.1, scope=scope,
        )
        assert out.count() == 0


def test_ivf_cell_ivm_equals_rebuild_with_deletes(spark):
    """The assignment-view IVM equation, including the delete case the
    catalog entry can't exercise: cells(base) + delta(U rows re-embedded,
    D rows removed) == rebuild over the post-change corpus."""
    from relational_data_loader_spark.operators.similarity import (
        apply_delta_cells,
        ivf_cell_assignments,
        sample_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = sample_centroids(emb, 4)
    # v1 = everything; delta: ids %7==0 re-embedded (reversed vector), %11==0 deleted
    upd = (
        emb.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 11 != 0))
        .withColumn("embedding", F.reverse("embedding"))
        .withColumn("op", F.lit("U"))
    )
    dels = emb.filter(F.col("vec_id") % 11 == 0).withColumn("op", F.lit("D"))
    changes = upd.unionByName(dels)

    prev = ivf_cell_assignments(emb, centroids)
    inc = apply_delta_cells(prev, changes, centroids)

    v2 = emb.filter(F.col("vec_id") % 11 != 0).alias("e").join(
        upd.select("vec_id", F.col("embedding").alias("_new")), "vec_id", "left"
    ).select("vec_id", F.coalesce("_new", "embedding").alias("embedding"))
    full = ivf_cell_assignments(v2, centroids)

    got = sorted((r.vec_id, r.cell) for r in inc.collect())
    want = sorted((r.vec_id, r.cell) for r in full.collect())
    assert got == want and len(want) > 0
