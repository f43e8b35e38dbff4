"""Content-dedup and similarity operators against planted ground truth."""

import pyspark.sql.functions as F
import pytest

from relational_data_loader_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_signatures,
    token_jaccard_pairs,
)
from relational_data_loader_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from relational_data_loader_spark.session import CacheScope
from tests.util import cache_is_empty


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river shore"
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, near),                      # near dup of 0 (1 token changed)
        (3, "completely different text about spark shuffle partitions"),
        (4, "unrelated words concerning database merge upsert semantics"),
        (5, "THE  Quick   Brown fox jumps over the lazy dog near the river bank"),
        # 5 = dup of 0 modulo case/whitespace (normalization must catch it)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups_normalized_duplicates(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 3  # docs 0, 1, 5 share a fingerprint
    assert out[2] == 1 and out[3] == 1 and out[4] == 1


def test_minhash_lsh_finds_near_duplicates(docs):
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs).collect()
    }
    assert (0, 1) in pairs          # exact dups always collide
    assert (0, 5) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs or (2, 5) in pairs, (
        "near-dup (1 token of 12 changed) should share at least one band"
    )
    assert (3, 4) not in pairs


def test_simhash_identical_for_dups_and_close_for_near(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs, "text", "doc_id").collect()}
    assert sh[0] == sh[1] == sh[5]
    ham_near = sum(a != b for a, b in zip(sh[0], sh[2]))
    ham_far = sum(a != b for a, b in zip(sh[0], sh[3]))
    assert ham_near <= ham_far


def test_token_jaccard_ranks_near_dup_highest(docs):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in token_jaccard_pairs(docs, "text", "doc_id", threshold=0.0).collect()
    }
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] > 0.8
    assert out.get((0, 3), 0.0) < 0.3


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = []
    for i in range(50):
        if i == 1:
            v = base + rng.standard_normal(16) * 0.001    # near-dup of vec 0
        elif i == 2:
            v = base                                       # exact copy of vec 0
        elif i == 0:
            v = base
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_finds_planted_neighbors(vectors):
    out = cosine_topk(vectors.filter(F.col("vec_id") == 0), vectors, k=3)
    top = out.orderBy(F.desc("sim")).collect()
    assert {top[0]["c_id"], top[1]["c_id"]} == {1, 2}
    assert top[0]["sim"] > 0.99 and top[1]["sim"] > 0.99


def test_lsh_cosine_topk_keeps_exact_copy_in_bucket(vectors):
    """An identical vector is guaranteed the same hyperplane bucket (the
    bucket expression is deterministic); near-dups land together with
    probability 1 - O(perturbation) — mechanism, not luck, is asserted."""
    out = lsh_cosine_topk(
        vectors.filter(F.col("vec_id") == 0), vectors, dim=16, k=3, n_planes=4
    ).collect()
    assert any(r["c_id"] == 2 for r in out)


def test_ivf_cosine_topk_exact_copy_shares_cell(vectors):
    """IVF contract: an identical vector quantizes to the same cell as its
    copy (the cell expression is a deterministic function of the embedding),
    so the exact copy always survives the candidate restriction; returned
    sims are the exact rerank values; and every returned candidate lies in
    one of the query's probed cells."""
    from relational_data_loader_spark.operators.similarity import (
        ivf_cell_expr,
        ivf_cosine_topk,
        ivf_probe_expr,
        sample_centroids,
    )

    cents = sample_centroids(vectors.filter(F.col("vec_id") >= 40), 4)
    q = vectors.filter(F.col("vec_id") == 0)
    out = ivf_cosine_topk(q, vectors, cents, k=3, nprobe=2).collect()
    assert any(r["c_id"] == 2 for r in out)          # exact copy found
    assert all(r["sim"] <= 1.0 for r in out)

    # candidate cells ⊆ probed cells
    probed = q.select(
        F.explode(ivf_probe_expr("embedding", cents, 2)).alias("cell")
    ).collect()
    probed_cells = {r["cell"] for r in probed}
    got_ids = [r["c_id"] for r in out]
    cand_cells = {
        r["cell"]
        for r in vectors.filter(F.col("vec_id").isin(got_ids))
        .select(ivf_cell_expr("embedding", cents).alias("cell"))
        .collect()
    }
    assert cand_cells <= probed_cells

    # determinism: a second run returns the identical result set
    again = ivf_cosine_topk(q, vectors, cents, k=3, nprobe=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_embedding_near_dup_finds_planted_pair(vectors):
    """Identical/near-identical vectors always share the LSH bucket, so the
    planted exact copy (vec 2 of vec 0) must surface as a pair at any
    threshold below 1.0."""
    from relational_data_loader_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    with CacheScope() as scope:
        out = embedding_near_dup_pairs(
            vectors, dim=16, threshold=0.95, n_planes=4, scope=scope
        ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # the mechanism guarantee: an exact copy shares every hyperplane sign
    assert (0, 2) in pairs
    # (the 0.001-perturbed vec 1 may or may not share the bucket — that's
    # LSH's probabilistic recall, and with this seed it happens to flip one
    # plane; the top-k query family covers the recall knobs)
    assert all(r["sim"] >= 0.95 for r in out)
    # threshold is applied to the exact cosine, not the bucket estimate
    assert all(r["id_a"] < r["id_b"] for r in out)


def test_lang_id_ngram_discriminates(spark):
    from relational_data_loader_spark.functions import text as TXT

    samples = [
        (1, "the king and the queen were singing in the morning of the nation"),
        (2, "der könig und die königin singen ein schönes lied in der nacht"),
        (3, "les rois et les reines chantaient que la nuit était belle"),
        (4, "xq"),  # too short: no trigram evidence → excluded
    ]
    docs = spark.createDataFrame(samples, "doc_id int, text string")
    got = {r["doc_id"]: r["lang"] for r in TXT.lang_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr"}


def test_duplicate_ngram_fraction_semantics(spark):
    from relational_data_loader_spark.functions import text as TXT

    rows = [
        (1, "a b a b a b"),            # 2-grams: ab ba ab ba ab → 2 distinct / 5
        (2, "all words here differ"),  # no repeats
        (3, "x"),                      # too short for 2-grams → NULL
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    toked = df.select("doc_id", TXT.tokens(F.col("text")).alias("toks"))
    got = {
        r["doc_id"]: r["f"]
        for r in toked.select(
            "doc_id",
            F.round(
                TXT.duplicate_ngram_fraction_from_tokens(F.col("toks"), 2), 4
            ).alias("f"),
        ).collect()
    }
    assert got[1] == round(1 - 2 / 5, 4)
    assert got[2] == 0.0
    assert got[3] is None


def test_embedding_near_dup_caps_degenerate_bucket(spark):
    """A pathological bucket (many identical vectors → one sign-pattern)
    must be droppable via max_bucket, bounding the self-join's quadratic
    output; unaffected buckets still emit their pairs."""
    from relational_data_loader_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    hot = [(i, [1.0] * 16) for i in range(40)]           # one degenerate bucket
    cold = [(100, [-1.0] * 16), (101, [-1.0] * 16)]      # a small healthy bucket
    df = spark.createDataFrame(
        hot + cold, "vec_id int, embedding array<float>"
    )
    with CacheScope() as scope:
        capped = embedding_near_dup_pairs(
            df, dim=16, threshold=0.9, n_planes=4, max_bucket=10, scope=scope
        ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    # the 40-vector bucket (40·39/2 = 780 pairs) is dropped wholesale...
    assert not any(a < 100 for a, _ in pairs), pairs
    # ...while the healthy bucket's pair survives, un-half-pruned
    assert pairs == {(100, 101)}

    with CacheScope() as scope:
        uncapped = embedding_near_dup_pairs(
            df, dim=16, threshold=0.9, n_planes=4, max_bucket=10_000,
            scope=scope,
        ).count()
    assert uncapped == 780 + 1


def test_near_dup_posting_cache_is_releasable(spark):
    """The posting-list cache outlives the call and belongs to the caller's
    scope: held while the scope is open, released when it closes (closing
    twice is harmless), so long-lived sessions don't accumulate cached
    RDDs across specs."""
    from relational_data_loader_spark.operators.dedup import near_dup_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "unrelated words entirely here")],
        "doc_id int, text string",
    )

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_cached()
    with CacheScope() as scope:
        pairs = near_dup_pairs(docs, "text", "doc_id", scope=scope)
        assert pairs.count() == 1          # materializes → caches live
        # two cached frames since r6: the posting list AND the signature
        # table (the banded self-join reads the signature long-form three
        # times)
        assert n_cached() == base + 2
        assert not cache_is_empty(spark)
        scope.close()
        assert n_cached() == base
        assert cache_is_empty(spark)
    # __exit__ closes again: idempotent
    assert n_cached() == base


def test_kmeans_refined_centroids_improve_recall(spark):
    """Refined ≥ sampled recall vs the exact top-k (VERDICT r3 task #5).
    The lowest-id sample puts BOTH initial centroids inside cluster A, so
    unrefined IVF with nprobe=1 routes cluster-B queries through a foreign
    cell; two Lloyd iterations pull one centroid over to B."""
    import numpy as np

    from relational_data_loader_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        sample_centroids,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(30):       # cluster A owns the low ids → sampled init ⊂ A
        v = np.array([1.0] + [0.0] * 7) + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v]))
    for i in range(30, 60):   # cluster B
        v = np.array([0.0, 1.0] + [0.0] * 6) + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = vecs.filter((F.col("vec_id") % 10 == 0))

    exact = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk(q, vecs, k=3).collect()
    }

    def recall(cents):
        got = {
            (r["q_id"], r["c_id"])
            for r in ivf_cosine_topk(q, vecs, cents, k=3, nprobe=1).collect()
        }
        return len(got & exact) / len(exact)

    sampled = sample_centroids(vecs, 2)
    refined = sample_centroids(vecs, 2, kmeans_iters=2)
    r_sampled, r_refined = recall(sampled), recall(refined)
    assert r_refined >= r_sampled
    assert r_refined >= 0.9, (r_sampled, r_refined)
    # determinism: the refinement is a pure function of (data, init)
    assert refined == sample_centroids(vecs, 2, kmeans_iters=2)


def test_semantic_dedup_pairs_within_cell_only(spark):
    """SemDeDup semantics: pairs are emitted WITHIN a quantizer cell only
    — two near-identical vectors in the same cell pair up; an equally
    similar pair straddling the cell boundary is (by design) not emitted.
    The keep/drop composition with dedup_clusters keeps the min id."""
    import numpy as np

    from relational_data_loader_spark.operators.dedup import dedup_clusters
    from relational_data_loader_spark.operators.similarity import (
        ivf_cell_assignments,
        sample_centroids,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(11)
    a = np.array([1.0] + [0.0] * 7)
    b = np.array([0.0, 1.0] + [0.0] * 6)
    rows = []
    for i in range(20):  # cluster A (low ids seed the quantizer)
        rows.append((i, [float(x) for x in a + rng.normal(0, 0.05, 8)]))
    for i in range(20, 40):  # cluster B
        rows.append((i, [float(x) for x in b + rng.normal(0, 0.05, 8)]))
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = sample_centroids(vecs, 2, kmeans_iters=2)

    with CacheScope() as scope:
        pairs = semantic_dedup_pairs(vecs, cents, threshold=0.9, scope=scope)
        cells = {
            r["vec_id"]: r["cell"]
            for r in ivf_cell_assignments(vecs, cents).collect()
        }
        got = pairs.collect()
        assert got, "two tight planted clusters must yield within-cell pairs"
        for r in got:
            assert cells[r["id_a"]] == cells[r["id_b"]], "cross-cell pair leaked"
            assert r["id_a"] < r["id_b"] and r["sim"] >= 0.9

        verdict = dedup_clusters(
            vecs.select("vec_id"), pairs, "vec_id", a_col="id_a", b_col="id_b"
        )
    rows_v = {r["doc_id"]: r for r in verdict.collect()}
    assert len(rows_v) == 40  # one verdict per input vector
    # every cluster's keeper is its min id, and cluster_id == keeper id
    for r in rows_v.values():
        assert r["keep"] == (r["cluster_id"] == r["doc_id"])
        assert rows_v[r["cluster_id"]]["keep"]

    # degenerate-cell cap: capping below the cell size suppresses that
    # cell's pairs entirely (symmetric drop — no half-pruned pairs)
    with CacheScope() as scope:
        capped = semantic_dedup_pairs(
            vecs, cents, threshold=0.9, max_cell=10, scope=scope
        )
        assert capped.count() == 0
