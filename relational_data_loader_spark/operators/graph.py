"""Link-graph authority scoring (PageRank) — corpus-curation quality signal.

Web-scale training corpora weight documents by link authority (the
CommonCrawl/ClueWeb lineage: harmonic centrality and PageRank rank the
frontier and downweight spam farms). The reference loader has no graph
operator (SURVEY.md §2 — RDL copies tables); this is part of the
LLM-pipeline surface the brief asks for beyond reference parity.

Spark-first shape, sized for 100 TB:

- The graph lives as an **edge DataFrame** (src, dst) — never an adjacency
  matrix, never driver-side. Out-degrees are a one-off groupBy.
- Each power iteration is exactly **one equi-join** (ranks ⋈ edges on src)
  **plus one groupBy** (sum contributions by dst) — the same join+agg shape
  per round as dedup_clusters' label propagation, and like it the rank
  frame is `localCheckpoint`-truncated every round so the lineage (and the
  task-serialization cost that bit round 4's cluster loop) stays O(1) in
  the iteration count, with superseded blocks explicitly released.
- Dangling mass (rank parked on nodes with no out-links) is a **1-row
  control-plane aggregate** per iteration — the only `.first()` in the
  loop, same budget as dedup_clusters' convergence probe.
- Iteration count is FIXED (not convergence-tested): rank deltas shrink by
  the damping factor per round, so k rounds bound the error at d^k; a fixed
  k also keeps the operator oracle-able (the DuckDB twin unrolls the same k
  rounds as CTEs).

Determinism: every float is a double on both engines; per-destination
contribution sums have in-degree-sized term counts (FP order noise ~1 ulp),
and the final authority is rounded at 6 dp — twelve orders of magnitude of
margin. Edges are deduplicated so out-degree is well defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relational_data_loader_spark.session import CacheScope


def hash_link_graph(
    nodes: DataFrame,
    n_nodes: int,
    id_col: str = "doc_id",
    out_degree: int = 3,
    salt: str = "link",
) -> DataFrame:
    """Deterministic synthetic citation edges: node i links to
    ``md5(i:j:salt) % n_nodes`` for j in [0, out_degree).

    Content-hash derived — independent of partitioning, ordering and
    retries (the same contract as sampling.hash_uniform), and expressible
    verbatim in the DuckDB oracle. Self-loops are dropped and multi-edges
    collapsed, so a node's realized out-degree may be < out_degree (the
    degree table, not the constant, is what pagerank divides by).

    Requires ids in [0, n_nodes) for the modulo to land on real nodes —
    true for the driver's contiguous doc_id space; callers with sparse ids
    should map through a dense index first.
    """
    js = F.explode(F.array(*[F.lit(j) for j in range(out_degree)])).alias("j")
    e = nodes.select(F.col(id_col).alias("src"), js)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("src"), F.col("j"), F.lit(salt))),
            1,
            14,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        e.select("src", (h % F.lit(n_nodes)).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    id_col: str = "id",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list; returns (id, pr).

    pr is the stationary-ish probability after ``iterations`` rounds of

        pr'(v) = (1-d)/N + d * (Σ_{u→v} pr(u)/deg(u)  +  dangling_mass/N)

    with uniform 1/N initialization. Dangling mass is redistributed
    uniformly (the standard Page et al. correction), so Σ pr == 1 at every
    round — asserted cheaply by tests as a conservation invariant.
    """
    node_ids = nodes.select(F.col(id_col).alias("id"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # one partitioning of the (edge ⋈ degree) frame, reused every round —
    # at scale this is the big frame, and re-shuffling it per iteration
    # would dominate; the per-round ranks frame (|V| rows, 2 columns) is
    # the cheap side.
    with CacheScope() as scope:
        adj = scope.cache(edges.join(deg, "src"))
        ranks = node_ids.select("id", F.lit(1.0 / n_nodes).alias("pr"))
        for _ in range(iterations):
            dangling = (
                ranks.join(deg, ranks["id"] == deg["src"], "left_anti")
                .agg(F.sum("pr"))
                .first()[0]
                or 0.0
            )
            contrib = (
                adj.join(ranks, adj["src"] == ranks["id"])
                .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            new_ranks = (
                node_ids.join(contrib, node_ids["id"] == contrib["dst"], "left")
                .select(
                    "id",
                    (
                        F.lit((1.0 - damping) / n_nodes)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.lit(dangling / n_nodes)
                        )
                    ).alias("pr"),
                )
                # truncate lineage each round (dedup_clusters lesson:
                # without this the plan — and task serialization — grows
                # linearly in the round count). eager=False (r6): the NEXT
                # round's dangling-mass aggregate is the first action over
                # this frame and its anti-join scans every partition, so it
                # materializes the checkpoint in the same job — one job per
                # round instead of two (same fusion as
                # dedup_clusters/tree_paths).
                .localCheckpoint(eager=False)
            )
            ranks = new_ranks
    return ranks


def doc_authority(
    docs: DataFrame,
    n_docs: int,
    out_degree: int = 3,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank authority of each doc over the hash-derived link graph,
    scaled by N (1.0 == uniform / no signal) and rounded for cross-engine
    comparison."""
    edges = hash_link_graph(docs, n_docs, out_degree=out_degree)
    pr = pagerank(
        edges,
        docs.select("doc_id"),
        n_docs,
        id_col="doc_id",
        iterations=iterations,
        damping=damping,
    )
    return pr.select(
        F.col("id").alias("doc_id"),
        F.round(F.col("pr") * F.lit(float(n_docs)), 6)
        .cast("double")
        .alias("authority"),
    )
