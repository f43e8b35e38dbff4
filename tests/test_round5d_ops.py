"""Round-5 session-4 additions: char-level edit-distance near-dup
verification, BPE merge-candidate mining, vocab coverage curves, SQ8
quantized similarity search + its recall audit."""

import pyspark.sql.functions as F

from relational_data_loader_spark.operators.dedup import (
    edit_distance_near_dup,
    token_jaccard_pairs,
)
from relational_data_loader_spark.operators.similarity import (
    cosine_topk,
    sq8_cosine_topk,
    sq8_dequantized_expr,
    sq8_recall_audit,
)
from relational_data_loader_spark.operators.vocab import (
    bpe_merge_candidates,
    vocab_coverage,
)
from relational_data_loader_spark.session import CacheScope


# --------------------------------------------------------------------------
# edit_distance_near_dup


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _edit_pairs(docs, threshold):
    with CacheScope() as scope:
        return edit_distance_near_dup(
            docs, "text", "doc_id", threshold=threshold, scope=scope
        ).collect()


def test_edit_distance_identical_and_small_edit(spark):
    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = _docs(
        spark,
        [
            (1, base),
            (2, base),  # exact dup -> sim 1.0
            (3, base.replace("quick", "quack")),  # 2 char edits per repeat
            (4, "completely different words entirely here now"),
        ],
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["edit_sim"]
        for r in _edit_pairs(docs, threshold=0.8)
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.9 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_edit_distance_catches_what_jaccard_misses(spark):
    # a quarter of the tokens carry one in-word edit: token-set Jaccard
    # punishes each as a whole-token delete+insert (0.6) while the
    # char-level verifier sees the true edit fraction (~0.97) — the gap is
    # the operator's reason to exist. Enough tokens stay shared that the
    # token-based LSH still buckets the pair (the verifier only reads LSH
    # candidates; a FULLY retokenized pair is out of its reach by design).
    shared = " ".join(f"common{i}" for i in range(30))
    a = shared + " " + " ".join(f"word{i}alpha" for i in range(10))
    b = shared + " " + " ".join(f"word{i}alphb" for i in range(10))
    docs = _docs(spark, [(1, a), (2, b)])
    jac = token_jaccard_pairs(docs, "text", "doc_id", threshold=0.0).collect()
    assert len(jac) == 1 and jac[0]["jaccard"] == 0.6
    ed = _edit_pairs(docs, threshold=0.8)
    assert len(ed) == 1 and ed[0]["edit_sim"] >= 0.95


def test_edit_distance_banded_pruning_is_exact(spark):
    # the threshold-banded JVM levenshtein must not change the SURVIVING
    # set vs an unbounded computation — only prune below-threshold pairs
    rows = [(i, f"document body shared prefix words {i % 3} tail") for i in range(12)]
    docs = _docs(spark, rows)
    banded = _edit_pairs(docs, threshold=0.8)
    unbounded = [r for r in _edit_pairs(docs, threshold=0.0) if r["edit_sim"] >= 0.8]
    assert sorted(map(tuple, banded)) == sorted(map(tuple, unbounded))


# --------------------------------------------------------------------------
# bpe_merge_candidates / vocab_coverage


def test_bpe_merge_counts_weighted_by_word_frequency(spark):
    # "aaa" x3 contributes pair "aa" twice per occurrence = 6; "ab" x2 once
    # each = 2; single-char words contribute nothing
    docs = _docs(spark, [(1, "aaa aaa ab a"), (2, "aaa ab a a")])
    rows = bpe_merge_candidates(docs, "text", k=10).collect()
    counts = {r["pair"]: r["pair_count"] for r in rows}
    assert counts == {"aa": 6, "ab": 2}
    assert [r["pair"] for r in rows] == ["aa", "ab"]  # rank order
    assert [r["rk"] for r in rows] == [1, 2]


def test_vocab_coverage_curve(spark):
    # frequencies: the=4, cat=2, dog=1, emu=1 (total 8); top-1 covers 4/8,
    # top-2 covers 6/8, top-4 covers everything
    docs = _docs(spark, [(1, "the the cat dog"), (2, "the the cat emu")])
    rows = {
        r["vocab_size"]: r
        for r in vocab_coverage(docs, "text", cutoffs=[1, 2, 4]).collect()
    }
    assert rows[1]["covered_tokens"] == 4 and rows[1]["coverage"] == 0.5
    assert rows[2]["covered_tokens"] == 6 and rows[2]["coverage"] == 0.75
    assert rows[4]["covered_tokens"] == 8 and rows[4]["coverage"] == 1.0
    assert all(r["total_tokens"] == 8 for r in rows.values())


def test_vocab_coverage_rank_ties_deterministic(spark):
    # dog/emu tie at f=1; rank tie-breaks on the word, so a cutoff landing
    # mid-tie must pick 'dog' (lexicographically first) in every engine/run
    docs = _docs(spark, [(1, "the the dog emu")])
    rows = {
        r["vocab_size"]: r
        for r in vocab_coverage(docs, "text", cutoffs=[2]).collect()
    }
    assert rows[2]["covered_tokens"] == 3  # the(2) + dog(1), never emu


# --------------------------------------------------------------------------
# SQ8 quantized similarity


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_sq8_codes_bounded_and_zero_safe(spark):
    emb = _emb(
        spark,
        [(1, [3.0, -1.5, 0.75]), (2, [0.0, 0.0, 0.0])],
    )
    deq = emb.select(
        "vec_id", sq8_dequantized_expr("embedding").alias("d")
    ).collect()
    by_id = {r["vec_id"]: r["d"] for r in deq}
    # scale=3.0: codes 127, -63 (floor(-63.5 + 0.5) = floor(-63.0)),
    # 32 (floor(31.75 + 0.5)) -> exact deq values
    assert by_id[1] == [
        127 * 3.0 / 127.0,
        -63 * 3.0 / 127.0,
        32 * 3.0 / 127.0,
    ]
    # zero vector survives (scale guard), stays zero
    assert by_id[2] == [0.0, 0.0, 0.0]
    # dequantized error bounded by scale/254 per element (half a code step)
    assert abs(by_id[1][1] - (-1.5)) <= 3.0 / 254.0 + 1e-12


def test_sq8_recall_perfect_on_separated_vectors(spark):
    # well-separated directions: 4x compression must not reorder top-k
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
            (4, [0.7, 0.7, 0.0]),
        ],
    )
    q = emb.filter(F.col("vec_id") == 0)
    exact = cosine_topk(q, emb, k=3).collect()
    approx = sq8_cosine_topk(q, emb, k=3).collect()
    assert [r["c_id"] for r in exact] == [r["c_id"] for r in approx]
    audit = sq8_recall_audit(q, emb, k=3).collect()
    assert len(audit) == 1 and audit[0]["recall_at_k"] == 1.0


# --------------------------------------------------------------------------
# count-min sketch


def test_cms_estimate_never_undercounts_and_is_tight_when_sparse(spark):
    from relational_data_loader_spark.operators.sketch import (
        cms_cells,
        cms_estimate,
        cms_frequency_audit,
    )

    rows = [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 5
    df = spark.createDataFrame(rows, ["tok"])
    audit = {r["tok"]: r for r in cms_frequency_audit(df, "tok", k=3).collect()}
    assert audit["a"]["exact_count"] == 50
    # CM overestimates only — an estimate below exact means a broken sketch
    assert all(r["overestimate"] >= 0 for r in audit.values())
    # 3 distinct values in 4x256 cells: no collisions, estimates exact
    assert all(r["overestimate"] == 0 for r in audit.values())


def test_cms_cells_are_mergeable(spark):
    from relational_data_loader_spark.operators.sketch import cms_cells

    import pyspark.sql.functions as F

    d1 = spark.createDataFrame([("a",)] * 10 + [("b",)] * 3, ["tok"])
    d2 = spark.createDataFrame([("a",)] * 7 + [("c",)] * 2, ["tok"])
    merged = (
        cms_cells(d1, "tok")
        .unionByName(cms_cells(d2, "tok"))
        .groupBy("hash_row", "cell")
        .agg(F.sum("n").alias("n"))
    )
    whole = cms_cells(d1.unionByName(d2), "tok")
    key = lambda r: (r["hash_row"], r["cell"], r["n"])
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, whole.collect())
    )


def test_kmv_merge_rollup_is_lossless_vs_direct_sketch(spark):
    # the defining property: merging per-day sketches gives EXACTLY the
    # estimate a from-scratch sketch over the whole period would give
    from relational_data_loader_spark.operators.sketch import (
        kmv_distinct,
        kmv_merge_rollup,
    )

    rows = [
        ("a", d, f"user{(i * 7 + d * 13) % 200}")
        for d in range(5)
        for i in range(300)
    ] + [("b", d, f"user{i % 30}") for d in range(3) for i in range(50)]
    df = spark.createDataFrame(rows, ["grp", "day", "uid"])
    merged = {
        r["grp"]: r for r in kmv_merge_rollup(df, "grp", "day", "uid", k=16).collect()
    }
    direct = {
        r["grp"]: r for r in kmv_distinct(df, "grp", "uid", k=16).collect()
    }
    for g in ("a", "b"):
        assert merged[g]["n_estimate"] == direct[g]["n_estimate"]
        assert merged[g]["n_exact"] == direct[g]["n_exact"]
    assert merged["a"]["n_units"] == 5 and merged["b"]["n_units"] == 3
    assert merged["a"]["n_exact"] == 200 and merged["b"]["n_exact"] == 30


def test_pmi_collocations_ranks_fixed_pairs_over_frequent_noise(spark):
    from relational_data_loader_spark.operators.vocab import pmi_collocations

    # "san francisco" always co-occurs (perfect association); "the cat"
    # is frequent but 'the' precedes many words (weak association)
    docs = spark.createDataFrame(
        [
            (1, "san francisco is nice and the cat sat on the mat"),
            (2, "i love san francisco and the dog ate the food"),
            (3, "san francisco fog and the bird saw the tree"),
            (4, "san francisco hills and the fish in the bowl"),
            (5, "san francisco bay and the cow ate the grass"),
        ],
        ["doc_id", "text"],
    )
    rows = pmi_collocations(docs, "text", min_count=5, k=10).collect()
    got = {(r["prev"], r["cur"]): r for r in rows}
    assert ("san", "francisco") in got
    sf_pair = got[("san", "francisco")]
    assert sf_pair["rk"] == 1 and sf_pair["c_bg"] == 5
    # 'the X' pairs don't clear min_count individually except none do;
    # every surviving pair's pmi <= the perfectly-associated pair's
    assert all(r["pmi"] <= sf_pair["pmi"] for r in rows)


def test_volume_trend_recovers_known_slope(spark, tmp_path):
    import datetime as dt

    from relational_data_loader_spark.queries import q_volume_trend

    # an events table with an exact linear ramp: type 'up' has 10 + 5*d
    # events on day d -> slope 5, r2 1.0; 'flat' stays constant -> slope 0
    rows = []
    eid = 0
    for d in range(6):
        for _ in range(10 + 5 * d):
            rows.append((eid, "up", 1, 0.0, dt.datetime(2026, 1, 1 + d)))
            eid += 1
        for _ in range(20):
            rows.append((eid, "flat", 1, 0.0, dt.datetime(2026, 1, 1 + d)))
            eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "event_type", "user_id", "value", "ts"]
    )
    sf = str(tmp_path / "sf")
    ev.write.parquet(f"{sf}/events.parquet")
    got = {r["event_type"]: r for r in q_volume_trend(spark, sf).collect()}
    assert got["up"]["slope_per_day"] == 5.0 and got["up"]["r2"] == 1.0
    # constant series: slope 0, r2 undefined -> NULL (not a crash; this
    # case found an ANSI divide-by-zero in the first cut)
    assert got["flat"]["slope_per_day"] == 0.0
    assert got["flat"]["r2"] is None
    assert got["up"]["n_days"] == 6
