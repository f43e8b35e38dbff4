"""Unit tests for operators/events.py and dedup_clusters (round 4).

The oracle-parity sweep in test_entry_contract covers the catalog entries
end-to-end; these pin the operator-level contracts that the corpus-shaped
entries can't isolate: multi-hop component convergence (the synthetic
corpus is one near-clique, diameter ~1), singleton handling, and the
deterministic tie order of the rolling frame.
"""

import pytest
from pyspark.sql import functions as F

from relational_data_loader_spark.operators.dedup import dedup_clusters
from relational_data_loader_spark.operators.events import (
    cohort_retention,
    group_quantiles,
    rolling_event_stats,
)


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id: bigint")


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a: bigint, doc_b: bigint"
    )


def test_dedup_clusters_path_graph_converges(spark):
    # 1-2-3-4 is a PATH (diameter 3): label 1 must propagate hop by hop,
    # which is exactly what a single-round implementation gets wrong
    got = dedup_clusters(
        _docs(spark, [1, 2, 3, 4, 5, 6, 7]),
        _pairs(spark, [(1, 2), (2, 3), (3, 4), (5, 6)]),
        "doc_id",
    )
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in got.collect()}
    assert rows == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        5: (5, True), 6: (5, False),
        7: (7, True),  # singleton: no edge, keeps itself
    }


def test_dedup_clusters_string_ids_path_graph(spark):
    """ADVICE r4: string doc ids (URLs, hashes) used to crash the numeric
    sum probe under ANSI — or silently stop after one round with ANSI off,
    mislabeling components of diameter >= 2. This path graph needs 3
    propagation rounds, so a one-round early exit cannot pass it."""
    docs = spark.createDataFrame(
        [("url/a",), ("url/b",), ("url/c",), ("url/d",), ("url/z",)],
        "doc_id: string",
    )
    pairs = spark.createDataFrame(
        [("url/a", "url/b"), ("url/b", "url/c"), ("url/c", "url/d")],
        "doc_a: string, doc_b: string",
    )
    got = dedup_clusters(docs, pairs, "doc_id")
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in got.collect()}
    assert rows == {
        "url/a": ("url/a", True), "url/b": ("url/a", False),
        "url/c": ("url/a", False), "url/d": ("url/a", False),
        "url/z": ("url/z", True),
    }


def test_dedup_clusters_merging_components(spark):
    # two chains that share a bridge edge collapse to ONE component
    got = dedup_clusters(
        _docs(spark, [10, 11, 20, 21]),
        _pairs(spark, [(10, 11), (20, 21), (11, 20)]),
        "doc_id",
    )
    assert {r["cluster_id"] for r in got.collect()} == {10}
    assert sum(r["keep"] for r in got.collect()) == 1


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_dedup_clusters_evaluates_pairs_upstream_once(spark, id_type):
    """ADVICE r6 #1: ``pairs`` feeds both branches of the symmetric edge
    union, so its cache must outlive the first action that fills the edge
    cache; dropping it earlier re-ran the whole upstream (LSH + Jaccard on
    the near-dup path) once per branch. A Python UDF in the upstream counts
    its row evaluations into an accumulator: one per pair means the
    upstream ran once. Both convergence probes (numeric sum, string
    join-back) are covered, since each fills the cache with a different
    first action."""
    raw = [(1, 2), (2, 3), (3, 4), (5, 6)]
    evaluated = spark.sparkContext.accumulator(0)

    def seen(a):
        evaluated.add(1)
        return a

    cast = int if id_type == "bigint" else str
    docs = spark.createDataFrame(
        [(cast(i),) for i in range(1, 8)], f"doc_id: {id_type}"
    )
    pairs = spark.createDataFrame(
        [(cast(a), cast(b)) for a, b in raw], f"doc_a: {id_type}, doc_b: {id_type}"
    ).select(F.udf(seen, id_type)("doc_a").alias("doc_a"), "doc_b")
    got = dedup_clusters(docs, pairs, "doc_id").collect()
    assert {r["doc_id"]: r["cluster_id"] for r in got} == {
        cast(d): cast(c) for d, c in
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7)]
    }
    assert evaluated.value == len(raw)


def test_rolling_stats_tie_order_is_event_id(spark):
    # two events share a timestamp: the frame order must break the tie on
    # event_id, or the rolling sums are nondeterministic across engines
    df = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:00:00", 1.0),
            (1, 101, "2024-01-01 00:00:00", 2.0),
            (1, 102, "2024-01-01 00:00:01", 4.0),
        ],
        "user_id: bigint, event_id: bigint, ts: string, value: double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["event_id"]: (r["roll_sum"], r["cum_events"]) for r in
           rolling_event_stats(df, n=2).collect()}
    assert got == {100: (1.0, 1), 101: (3.0, 2), 102: (6.0, 3)}


def test_cohort_retention_offsets_are_week_exact(spark):
    # user 1: first event Tue week0, again Mon week2 -> offsets {0, 2};
    # user 2 only week0 -> cohort size 2 at offset 0, 1 at offset 2
    df = spark.createDataFrame(
        [
            (1, "2024-01-02 10:00:00"),
            (1, "2024-01-15 09:00:00"),
            (2, "2024-01-03 10:00:00"),
        ],
        "user_id: bigint, ts: string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {(str(r["cohort_week"]), r["week_offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}
    assert got == {
        ("2024-01-01 00:00:00", 0): 2,
        ("2024-01-01 00:00:00", 2): 1,
    }


def test_group_quantiles_interpolates(spark):
    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4]],
        "event_type: string, value: double",
    )
    row = group_quantiles(df, quantiles=(0.5,)).collect()[0]
    assert row["p50"] == pytest.approx(2.5)  # (n-1)*q interpolation
    assert row["n"] == 4


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    return {i: find(i) for i in range(n_nodes)}


def test_dedup_clusters_random_graphs_match_union_find(spark):
    """Property check against a driver-side union-find oracle on a batch of
    seeded random graphs (one Spark call per graph is slow, so the graphs
    are fixed-seed rather than hypothesis-driven; shapes chosen to cover
    chains, cliques, stars, and isolated nodes)."""
    import random

    for seed, n, m in [(1, 12, 8), (2, 20, 25), (3, 30, 15), (4, 9, 40)]:
        rng = random.Random(seed)
        edges = [
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        ]
        want = _uf_components(n, edges)
        got = dedup_clusters(
            _docs(spark, list(range(n))),
            _pairs(spark, edges) if edges else _pairs(spark, []),
            "doc_id",
        )
        rows = {r["doc_id"]: r["cluster_id"] for r in got.collect()}
        assert rows == want, f"seed={seed}"
