"""Round-5 session-3 additions: SCD2 temporal join, calendar gap fill,
FK orphan audit, event transitions, doc chunking, curriculum sampling."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from relational_data_loader_spark.operators.chunking import chunk_documents
from relational_data_loader_spark.operators.events import event_transition_matrix
from relational_data_loader_spark.operators.integrity import (
    FkRelation,
    fk_orphan_audit,
)
from relational_data_loader_spark.operators.sampling import curriculum_sample
from relational_data_loader_spark.operators.temporal import (
    calendar_gapfill,
    scd2_temporal_join,
)
from relational_data_loader_spark.session import CacheScope


def _ts(d):
    return dt.datetime(2026, 3, d)


# --------------------------------------------------------------------------
# scd2_temporal_join


def _enrich(spark, facts_rows):
    dim = spark.createDataFrame(
        [(1, 10, "U", "v1"), (1, 30, "D", "dead"), (1, 50, "U", "v2")],
        ["k", "lsn", "op", "attr"],
    )
    facts = spark.createDataFrame(facts_rows, ["k", "flsn"])
    return scd2_temporal_join(
        facts, dim, keys=["k"], fact_lsn_col="flsn",
        dim_lsn_col="lsn", dim_attr_cols=["attr"],
    ).collect()


def test_scd2_join_version_boundaries(spark):
    rows = {r["flsn"]: r for r in _enrich(spark, [(1, 5), (1, 10), (1, 29)])}
    # before any version: unborn -> NULLs, not live
    assert rows[5]["attr"] is None and not rows[5]["dim_live"]
    # fact AT the version's lsn is covered by it (dim sorts first on ties)
    assert rows[10]["attr"] == "v1" and rows[10]["dim_lsn"] == 10
    assert rows[29]["attr"] == "v1" and rows[29]["dim_live"]


def test_scd2_join_delete_closes_interval_until_rebirth(spark):
    rows = {r["flsn"]: r for r in _enrich(spark, [(1, 40), (1, 60)])}
    # fact after the delete and before rebirth: dead interval, no backfill
    assert rows[40]["attr"] is None and rows[40]["dim_lsn"] is None
    assert not rows[40]["dim_live"]
    # rebirth at lsn 50 re-opens the key
    assert rows[60]["attr"] == "v2" and rows[60]["dim_live"]


def test_scd2_join_single_shuffle(spark):
    dim = spark.createDataFrame([(1, 10, "U", "x")], ["k", "lsn", "op", "attr"])
    facts = spark.createDataFrame([(1, 20)], ["k", "flsn"])
    out = scd2_temporal_join(
        facts, dim, keys=["k"], fact_lsn_col="flsn",
        dim_lsn_col="lsn", dim_attr_cols=["attr"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # union + one window on the key: exactly one exchange, no join operator
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


# --------------------------------------------------------------------------
# calendar_gapfill


def test_gapfill_zero_fills_and_carries(spark):
    df = spark.createDataFrame(
        [(_ts(1), 10.0), (_ts(1), 20.0), (_ts(4), 40.0)], ["ts", "v"]
    )
    out = (
        calendar_gapfill(
            df, "ts",
            [F.count(F.lit(1)).alias("n"), F.avg("v").alias("avg_v")],
            carry_cols=["avg_v"],
        )
        .orderBy("bucket")
        .collect()
    )
    assert [r["bucket"].day for r in out] == [1, 2, 3, 4]
    assert [r["n"] for r in out] == [2, None, None, 1]
    # gap days carry day-1's average forward; day 4 takes its own
    assert [r["avg_v_ffill"] for r in out] == [15.0, 15.0, 15.0, 40.0]


# --------------------------------------------------------------------------
# fk_orphan_audit


def test_fk_audit_orphans_and_null_fks(spark):
    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (None,)],
        "fk int",
    )
    rep = fk_orphan_audit(
        spark, [FkRelation("c->p", child, "fk", parent, "pk")]
    ).collect()[0]
    assert rep["child_rows"] == 6
    # NULL FK references nothing: counted apart, never an orphan
    assert rep["null_fk_rows"] == 1
    assert rep["orphan_rows"] == 2 and rep["orphan_keys"] == 1
    assert rep["orphan_ratio"] == 0.4  # 2 orphans / 5 non-NULL refs


def test_fk_audit_clean_relation_zero(spark):
    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    child = spark.createDataFrame([(1,), (2,)], ["fk"])
    rep = fk_orphan_audit(
        spark, [FkRelation("ok", child, "fk", parent, "pk")]
    ).collect()[0]
    assert rep["orphan_rows"] == 0 and rep["orphan_ratio"] == 0.0


# --------------------------------------------------------------------------
# event_transition_matrix


def test_transition_matrix_counts_and_probs(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(1), "a", 1),
            (1, _ts(2), "b", 2),
            (1, _ts(3), "a", 3),
            (1, _ts(4), "c", 4),
            (2, _ts(1), "a", 5),
            (2, _ts(2), "b", 6),
        ],
        ["user_id", "ts", "event_type", "event_id"],
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n_transitions"], r["prob"])
        for r in event_transition_matrix(ev).collect()
    }
    # user boundaries never produce a transition
    assert got == {
        ("a", "b"): (2, 0.6667),
        ("a", "c"): (1, 0.3333),
        ("b", "a"): (1, 1.0),
    }


# --------------------------------------------------------------------------
# chunk_documents


def test_chunking_exact_windows(spark):
    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = (
        chunk_documents(docs, chunk_tokens=4, overlap_tokens=2)
        .orderBy("chunk_idx")
        .collect()
    )
    # stride 2 over 10 tokens: starts 0,2,4,6,8; last chunk runs short
    assert [r["start_tok"] for r in out] == [0, 2, 4, 6, 8]
    assert [r["n_tokens"] for r in out] == [4, 4, 4, 4, 2]
    assert [r["chunk_text"] for r in out][0] == "t0 t1 t2 t3"
    assert out[-1]["chunk_text"] == "t8 t9"
    # overlap: chunk i ends with the 2 tokens chunk i+1 starts with
    assert out[0]["chunk_text"].split()[-2:] == out[1]["chunk_text"].split()[:2]


def test_chunking_short_doc_single_chunk(spark):
    docs = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    out = chunk_documents(docs, chunk_tokens=64, overlap_tokens=16).collect()
    assert len(out) == 1 and out[0]["n_tokens"] == 2


def test_chunking_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap_tokens=8)


def test_chunking_no_shuffle(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = (
        chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------------------
# curriculum_sample


def test_curriculum_sample_deterministic_and_bucketed(spark):
    docs = spark.createDataFrame(
        [(i, float(i % 11) / 10.0) for i in range(200)], ["doc_id", "q"]
    )
    kept1 = curriculum_sample(docs, F.col("q"), "doc_id")
    kept2 = curriculum_sample(docs.repartition(7), F.col("q"), "doc_id")
    a = sorted(r["doc_id"] for r in kept1.collect())
    b = sorted(r["doc_id"] for r in kept2.collect())
    assert a == b and 0 < len(a) < 200
    # score 1.0 lands in the top bucket (equi-width cap), always kept
    top = {r["doc_id"] for r in kept1.filter(F.col("bucket") == 9).collect()}
    assert {r["doc_id"] for r in docs.filter(F.col("q") == 1.0).collect()} <= top


# --------------------------------------------------------------------------
# winsorized_stats


def test_winsorized_clips_outlier_to_fence(spark):
    from relational_data_loader_spark.operators.events import winsorized_stats

    # 21 values 0..19 plus one absurd outlier in group 'g'
    rows = [("g", float(v)) for v in range(20)] + [("g", 1e9)]
    ev = spark.createDataFrame(rows, ["event_type", "value"])
    r = winsorized_stats(ev).collect()[0]
    assert r["n"] == 21
    # mean of clipped values is fence-bounded: nowhere near the outlier
    assert r["wins_mean"] < 25.0
    assert r["hi_fence"] < 1e9 and r["lo_fence"] >= 0.0


def test_winsorized_constant_group_zero_std(spark):
    from relational_data_loader_spark.operators.events import winsorized_stats

    ev = spark.createDataFrame(
        [("c", 5.0), ("c", 5.0), ("c", 5.0)], ["event_type", "value"]
    )
    r = winsorized_stats(ev).collect()[0]
    assert r["wins_mean"] == 5.0 and r["wins_std"] == 0.0


# --------------------------------------------------------------------------
# minhash_estimate_audit


def test_minhash_audit_identical_docs_perfect_estimate(spark):
    from relational_data_loader_spark.operators.dedup import (
        minhash_estimate_audit,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        ["doc_id", "text"],
    )
    with CacheScope() as scope:
        audit = minhash_estimate_audit(docs, "text", "doc_id", scope=scope)
        rows = {(r["doc_a"], r["doc_b"]): r for r in audit.collect()}
    r12 = rows[(1, 2)]
    # identical token sets: every component agrees, exact jaccard 1.0
    assert r12["est_jaccard"] == 1.0 and r12["exact_jaccard"] == 1.0
    assert r12["abs_err"] == 0.0
    # disjoint doc never becomes a candidate of the identical pair's bands
    assert all(3 not in pair for pair in rows)


# --------------------------------------------------------------------------
# doc_novelty


def test_doc_novelty_credit_goes_to_lowest_id(spark):
    from relational_data_loader_spark.operators.contamination import doc_novelty

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in doc_novelty(docs, "text", "doc_id").collect()}
    # doc 1 introduced both its 3-grams; doc 2 (exact copy) introduced none
    assert got[1]["novelty"] == 1.0
    assert got[2]["novelty"] == 0.0 and got[2]["n_ngrams"] == 2
    assert got[3]["novelty"] == 1.0


# --------------------------------------------------------------------------
# cross_source_overlap


def test_cross_source_overlap_copy_counts_collapse(spark):
    from relational_data_loader_spark.operators.dedup import cross_source_overlap

    docs = spark.createDataFrame(
        # "same" duplicated 3x in A and 2x in B: still ONE shared fp
        [(1, "same", "A"), (2, "same", "A"), (3, "same", "A"),
         (4, "same", "B"), (5, "same", "B"),
         (6, "only a", "A")],
        ["doc_id", "text", "source"],
    )
    got = {(r["source_a"], r["source_b"]): r["shared_fingerprints"]
           for r in cross_source_overlap(docs, "text", "doc_id", "source").collect()}
    assert got[("A", "B")] == 1
    assert got[("A", "A")] == 2  # both of A's distinct fingerprints
    assert got[("B", "B")] == 1


# --------------------------------------------------------------------------
# embedding_norm_audit


def test_embedding_norm_audit_flags(spark):
    from relational_data_loader_spark.operators.similarity import (
        embedding_norm_audit,
    )

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None), (4, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    r = embedding_norm_audit(emb).collect()[0]
    assert r["n_rows"] == 4 and r["null_vectors"] == 1
    assert r["zero_vectors"] == 1 and r["distinct_dims"] == 2
    assert r["max_norm"] == 5.0 and r["min_norm"] == 0.0


# --------------------------------------------------------------------------
# daily_rate_anomaly / funnel_latency / per_group_sample


def test_daily_rate_anomaly_flags_spike_day(spark):
    from relational_data_loader_spark.operators.events import daily_rate_anomaly

    rows = []
    # type 'x': 9 calm days of 10 events, one day of 100
    for d in range(1, 10):
        rows += [(i, _ts(d), "x") for i in range(10)]
    rows += [(i, _ts(10), "x") for i in range(100)]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    got = {r["day"].day: r for r in daily_rate_anomaly(ev).collect()}
    assert got[10]["is_anomaly"] and got[10]["z"] > 2.0
    assert not got[1]["is_anomaly"]


def test_daily_rate_anomaly_constant_group_dropped(spark):
    from relational_data_loader_spark.operators.events import daily_rate_anomaly

    ev = spark.createDataFrame(
        [(1, _ts(1), "c"), (2, _ts(2), "c")], ["event_id", "ts", "event_type"]
    )
    # sigma 0: no z is defined, group emits nothing rather than NULL/inf
    assert daily_rate_anomaly(ev).count() == 0


def test_funnel_latency_counts_and_order(spark):
    from relational_data_loader_spark.operators.events import funnel_latency

    ev = spark.createDataFrame(
        [
            (1, _ts(1), "signup"), (1, _ts(3), "purchase"),   # 2 days
            (2, _ts(2), "signup"),                            # never converts
            (3, _ts(5), "purchase"), (3, _ts(6), "signup"),   # purchase BEFORE
        ],
        ["user_id", "ts", "event_type"],
    )
    r = funnel_latency(ev, "signup", "purchase").collect()[0]
    assert r["n_started"] == 3
    # user 3's purchase precedes their signup: not a conversion
    assert r["n_converted"] == 1
    assert r["conversion_rate"] == 0.3333
    assert r["p50_latency_s"] == 2 * 86400.0


def test_per_group_sample_exact_k_and_deterministic(spark):
    from relational_data_loader_spark.operators.sampling import per_group_sample

    df = spark.createDataFrame(
        [(i, "g" if i % 2 else "h") for i in range(100)], ["k", "grp"]
    )
    s1 = per_group_sample(df, "grp", "k", 5)
    s2 = per_group_sample(df.repartition(9), "grp", "k", 5)
    a = sorted((r["grp"], r["k"]) for r in s1.collect())
    assert a == sorted((r["grp"], r["k"]) for r in s2.collect())
    assert len(a) == 10 and sum(1 for g, _ in a if g == "g") == 5
