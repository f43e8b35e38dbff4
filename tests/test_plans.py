"""Physical-plan quality gates: pushdown, pruning, join strategy.

These assert the *plan*, not the result — the properties that decide
whether the engine survives a 100× scale-up (SURVEY.md §4).
"""

import pyspark.sql.functions as F

from relational_data_loader_spark.queries import (
    q_cdc_change_scan,
    q_cdc_projection_cast,
    q_revenue_by_nation,
)
from relational_data_loader_spark.session import CacheScope

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_change_scan_pushes_filter_and_prunes_columns(spark):
    df = q_cdc_change_scan(spark, SF)
    plan = _optimized(df)
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id" in plan, plan
    # props (unused) must not be read
    assert "props" not in plan.split("ReadSchema")[-1]


def test_projection_prunes_to_selected_columns(spark):
    df = q_cdc_projection_cast(spark, SF)
    read_schema = _optimized(df).split("ReadSchema: ")[-1]
    assert "props" not in read_schema


def test_dim_joins_are_broadcast(spark):
    plan = _plan(q_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_merge_uses_shuffle_hash_for_large_batches(spark):
    """The >1M-row guard swaps broadcast for shuffled hash join."""
    from relational_data_loader_spark.spec import transcripts_spec

    spec = transcripts_spec(source="parquet:///dev/null", target_buckets=8)
    target = spark.createDataFrame([], spec.destination_schema())
    keys = (
        spark.range(10)
        .select(
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
        )
        .hint("shuffle_hash")
    )
    plan = _plan(target.join(keys, ["conv_id", "turn_idx"], "left_anti"))
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_netting_is_single_shuffle_no_sort_aggregate(spark):
    """LWW netting must not plan as SortAggregate (the max_by trap)."""
    from relational_data_loader_spark.operators.lww import net_changes

    df = spark.range(100).select(
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
        (F.col("id") % 10).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    plan = _plan(net_changes(df, ["k"]))
    assert "SortAggregate" not in plan
    assert plan.count("Exchange") == 1, plan


def test_merge_window_and_write_share_one_shuffle(spark):
    """Round-3 fused merge: the LWW window over target ∪ batch and the
    bucketed write must ride a SINGLE exchange (the bucket repartition) —
    HashPartitioning([_bucket]) satisfies the window's clustering since
    _bucket prefixes the partition spec. WindowGroupLimit plans in Final
    mode only (Spark does not push the Partial below a user repartition);
    the hot-PK bound therefore comes from chunking + the salt pin — see
    _lww_merge_plan's docstring for the measured trade."""
    from relational_data_loader_spark.sinks.snapshot import (
        DELETED_COL,
        LSN_COL,
        SnapshotTable,
    )
    from relational_data_loader_spark.spec import transcripts_spec

    spec = transcripts_spec(source="parquet:///dev/null", target_buckets=8)
    t = SnapshotTable(spark, "/tmp/_plan_probe", spec)

    def env(src):
        return (
            spark.range(1000)
            .select(
                F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("conv_id"),
                (F.col("id") % 20).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.md5(F.col("id").cast("string")).alias("text"),
                F.lit("").alias("tool"),
                F.timestamp_seconds(F.col("id")).alias("ts"),
                F.col("id").alias(LSN_COL),
                F.lit(False).alias(DELETED_COL),
                F.lit(src).alias("_rdl_src"),
            )
        )

    plan = _plan(t._lww_merge_plan(env(0), env(1), layout=8))
    assert plan.count("Exchange") == 1, plan
    assert "WindowGroupLimit" in plan, plan
    # no fixed partition count: AQE may coalesce the exchange by its bytes
    assert "REPARTITION_BY_COL" in plan, plan


def test_fused_full_refresh_is_single_shuffle(spark, tmp_path):
    """Initial-load fusion: net + drop-deletes + stamp + bucketed write must
    plan exactly one exchange (full_refresh_from_envelopes), and that
    exchange must leave its width to AQE."""
    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.spec import transcripts_spec

    spec = transcripts_spec(source="parquet:///dev/null", target_buckets=8)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    env = spark.range(500).selectExpr(
        "id AS lsn",
        "CASE WHEN id % 11 = 0 THEN 'D' ELSE 'U' END AS op",
        "concat('c', id % 40) AS conv_id",
        "CAST(id % 10 AS INT) AS turn_idx",
        "'user' AS role",
        "md5(CAST(id AS STRING)) AS text",
        "'' AS tool",
        "timestamp_seconds(id) AS ts",
    )
    table = mgr.table(spec)
    # the sink's fused plan up to (not including) the write, built by the
    # same clustering helper full_refresh_from_envelopes calls
    projected = mgr.project(spec, env)
    plan = _plan(
        table._clustered(projected, table.n_buckets, lww=[F.desc("lsn")])
        .filter("op <> 'D'")
    )
    assert plan.count("Exchange") == 1, plan
    assert "REPARTITION_BY_COL" in plan, plan

    # and the end-to-end fused refresh equals the oracle replay
    n = table.full_refresh_from_envelopes(projected, epoch_id=500, watermark=500)
    got = table.read()
    assert n == got.count() > 0
    from relational_data_loader_spark.operators.lww import net_changes

    want = (
        net_changes(mgr.project(spec, env), spec.primary_keys)
        .filter("op <> 'D'")
        .count()
    )
    assert n == want


def test_ivf_plan_broadcasts_and_avoids_cartesian(spark):
    """The IVF candidate restriction must plan as a broadcast equi-join on
    the cell id — never a cartesian/BNLJ — and the cell assignment must be
    a projection (no shuffle before the join)."""
    from relational_data_loader_spark.queries import q_ivf_cosine_topk

    plan = _plan(q_ivf_cosine_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_debezium_parse_is_single_projection(spark):
    """Envelope parsing is one narrow stage: no shuffle, no Python eval."""
    from relational_data_loader_spark.queries import q_cdc_debezium_parse

    plan = _plan(q_cdc_debezium_parse(spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lang_id_is_shuffle_free_single_normalization(spark):
    """The round-4 lang_id plan: scan → project → filter. No join against a
    profile table, no aggregation, no window — and the normalization regexp
    is evaluated exactly ONCE per row (the _one_to_one Generate barrier;
    without it CollapseProject inlines it into all ~12 regexp_counts,
    measured 96 copies in the optimized plan)."""
    from relational_data_loader_spark.functions import text as TXT

    docs = spark.createDataFrame(
        [(i, "the king and the queen " * 5) for i in range(100)],
        "doc_id int, text string",
    )
    df = TXT.lang_id(docs)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("regexp_replace") == 1, opt
    plan = _plan(df)
    # createDataFrame already parallelizes to defaultParallelism, so the
    # conditional fan-out must NOT add an exchange here
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Aggregate" not in plan, plan


def test_lang_id_counts_overlapping_trigram_positions(spark):
    """Positional (overlapping) counting, matching the oracle's
    generate_series extraction: 'the the' holds the(×2,w5), 'he '(w4) and
    ' th'(w4) at overlapping positions → en score 18."""
    from relational_data_loader_spark.functions import text as TXT

    docs = spark.createDataFrame([(1, "the the")], "doc_id int, text string")
    row = TXT.lang_id(docs).collect()[0]
    assert (row["lang"], row["score"]) == ("en", 18)


def test_quarantine_split_is_pure_scan_filter(spark):
    """The dead-letter split adds NO shuffle and NO Python: both outputs
    are filters over the same scan with codegen try_cast flags."""
    from relational_data_loader_spark.queries import q_cdc_quarantine_split

    plan = _plan(q_cdc_quarantine_split(spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_stats_single_window_exchange(spark):
    """All three rolling outputs (sum/avg/count) ride ONE partition-by-user
    exchange — separate windows per aggregate would re-shuffle."""
    from relational_data_loader_spark.queries import q_rolling_event_stats

    plan = _plan(q_rolling_event_stats(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_build_broadcasts_benchmark_ngrams(spark):
    """The benchmark n-gram set joins by broadcast (eval suites are tiny
    next to the corpus); no cartesian anywhere in the composed plan. The
    catalog entry returns its result checkpointed, so the plan is taken
    from the operator on the entry's inputs."""
    from relational_data_loader_spark.operators.corpus import build_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with CacheScope() as scope:
        plan = _plan(build_corpus(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            min_tokens=5, min_alpha=0.3, max_contamination=0.5,
            rates={"en": 0.5}, scope=scope,
        ))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_group_quantiles_partial_aggregates(spark):
    """Exact percentile must still partial-aggregate map-side (two
    ObjectHashAggregate phases around one exchange), keeping the shuffle
    at per-group sketch size, not row count."""
    from relational_data_loader_spark.queries import q_group_quantiles

    plan = _plan(q_group_quantiles(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("ObjectHashAggregate") + plan.count("SortAggregate") >= 2


def test_posting_lookup_prunes_buckets(spark):
    """The serving-copy point lookup must be partition-pruned: the scan's
    PartitionFilters carry the _bucket IN list, and only the probed
    buckets' directories are in the file listing — O(probed buckets),
    never a table scan."""
    from relational_data_loader_spark.queries import q_posting_lookup

    import re

    df = q_posting_lookup(spark, SF)
    plan = _plan(df)
    # the _bucket IN (...) predicate must land in PartitionFilters (file-
    # index directory pruning), NOT merely in the data Filter above the
    # scan; inputFiles() can't witness this — it lists the relation's
    # files pre-pruning
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "_bucket" in m.group(1) and " IN (" in m.group(1), m.group(1)
    # <=3 probe tokens -> <=3 bucket ids in the pruning list
    in_list = re.search(r"IN \(([^)]*)\)", m.group(1)).group(1)
    assert len(in_list.split(",")) <= 3, in_list


def test_incremental_near_dup_no_cartesian_semi_pushdown(spark):
    """The IVM dedup step must stay equi-join-shaped at every stage: no
    nested-loop/cartesian anywhere (the band join is an equi-join on
    md5-uniform keys), and the base-corpus explode must sit behind a
    LEFT-SEMI join on candidate ids — the property that bounds
    verification cost by candidates, not corpus. The catalog entry
    returns its result checkpointed, so the plan is taken from the
    operator on the entry's inputs."""
    from relational_data_loader_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    base = docs.filter(F.col("doc_id") % 7 != 0)
    with CacheScope() as scope:
        plan = _plan(incremental_near_dup_pairs(
            base, delta, "text", "doc_id",
            base_sigs=minhash_signatures(base, "text", "doc_id"),
            threshold=0.5, scope=scope,
        ))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_zorder_assign_is_pure_projection(spark):
    """The z-code must stay inside whole-stage codegen: given ranges, the
    assignment adds NO exchange and NO Python — a projection over the
    scan, exactly what a 100-TB rewrite prepends to its one shuffle."""
    from relational_data_loader_spark.operators.layout import zorder_assign

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    df = zorder_assign(
        li, ["l_orderkey", "l_suppkey"], bits=8, n_files=64,
        ranges={"l_orderkey": (0, 2000), "l_suppkey": (0, 99)},
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_salted_join_no_cartesian_single_shuffle_pair(spark):
    """Targeted salting must stay an equi-join on (key, salt): no
    BroadcastNestedLoopJoin / CartesianProduct from the explode, and the
    hot-key replication happens dim-side only (a generator over the dim
    child, never the fact child)."""
    from relational_data_loader_spark.operators.skew import salted_join

    facts = spark.range(0, 10000).select(
        F.col("id").alias("fid"), (F.col("id") % 50).alias("k")
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("lab")
    )
    # disable auto-broadcast so the gate checks the SHUFFLE plan — the
    # regime salting exists for (dim too big to broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = salted_join(
            facts, dim, "k", salt_buckets=8, hot_keys=[7], salt_source="fid"
        )
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan  # dim-side replication


def test_sq8_topk_broadcasts_queries_no_cartesian(spark):
    """SQ8 search keeps cosine_topk's broadcast shape: the query side is
    broadcast, the dequantize transform is a projection on the candidate
    scan (no extra exchange before the ranking window)."""
    from relational_data_loader_spark.queries import q_sq8_cosine_topk

    plan = _plan(q_sq8_cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cms_cells_single_aggregation_shuffle(spark):
    """The sketch build is one scan + one hash-agg exchange (map-side
    partials bounded by d*w cells), never a union of per-row scans."""
    from relational_data_loader_spark.operators.sketch import cms_cells

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text")
    df = cms_cells(docs, "text")
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_role_audit_single_exchange(spark):
    """lag window and the audit groupBy both key on conv — Spark must
    reuse the window's hash partitioning, one exchange total."""
    from relational_data_loader_spark.queries import q_transcript_role_audit

    plan = _plan(q_transcript_role_audit(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_token_trim_single_exchange_no_python(spark):
    """Reverse-cumsum window + row_number + groupBy all key on conv: one
    exchange; token counting stays codegen (no Python workers)."""
    from relational_data_loader_spark.queries import q_transcript_token_trim

    plan = _plan(q_transcript_token_trim(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_scrub_two_exchanges_both_partial(spark):
    """Text-frequency groupBy + conv re-assembly = exactly two hash
    exchanges (the marker join rides one of them); no cartesian."""
    from relational_data_loader_spark.queries import q_boilerplate_turn_scrub

    plan = _plan(q_boilerplate_turn_scrub(spark, SF))
    # tiny flagged head at this SF broadcasts -> its join adds no exchange
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan


def test_join_view_ivm_no_view_scan_joins(spark):
    """Both IVM passes are equi-joins (anti + left); nothing compiles to
    a nested-loop or cartesian."""
    from relational_data_loader_spark.queries import q_cdc_join_view_ivm

    plan = _plan(q_cdc_join_view_ivm(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
