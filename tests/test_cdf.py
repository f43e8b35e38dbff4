"""Snapshot-sink time travel + change data feed (round 4).

Contracts pinned here:
- read(version=v) reproduces the exact committed state of version v, even
  after later merges (manifests pin file lists; merges never rewrite old
  commit dirs);
- changes_between(v0, v1) emits the I/U/D feed that transforms state(v0)
  into state(v1) — verified by applying it;
- only drifted buckets are read: _changed_buckets equals the merge's own
  touched-bucket report;
- a payload-identical re-upsert still reports U (the version guard advanced
  the row's lsn — an event WAS applied);
- deletes carry keys only (NULL payload); lsn rides on every row, with D
  rows sourcing it from the tombstone (same envelope as the Iceberg twin).
"""

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.session import CacheScope
from relational_data_loader_spark.spec import transcripts_spec
from tests.util import duck_final_state, write_log


@pytest.fixture(scope="module")
def cdf_rig(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cdf")
    logdir = str(root / "log")
    log = generate_change_log(n_events=2500, n_convs=50, seed=13)
    cut = pc.max(log["lsn"]).as_py() // 2
    write_log(log, logdir, lsn_upto=cut)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, str(root / "wh"))
    r1 = mgr.run(spec)  # v1: full refresh of the head
    write_log(log, logdir, lsn_from=cut)
    r2 = mgr.run(spec)  # v2: incremental merge of the tail
    return mgr, spec, logdir, cut, r1, r2


def _state(df):
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in df.collect()
    }


def test_time_travel_reproduces_old_version(spark, cdf_rig, tmp_path):
    mgr, spec, logdir, cut, r1, r2 = cdf_rig
    tbl = mgr.table(spec)
    old = tbl.read(version=1).toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    exp = duck_final_state(f"{logdir}/log-0000000000-*.parquet")
    assert len(old) == len(exp)
    assert (old["text"].sort_values().values == exp["text"].sort_values().values).all()
    # current read unaffected
    assert tbl.read().count() == len(duck_final_state(f"{logdir}/log-*.parquet"))


def test_missing_version_raises(spark, cdf_rig):
    mgr, spec, *_ = cdf_rig
    with pytest.raises(ValueError, match="not available"):
        mgr.table(spec).read(version=99)
    with pytest.raises(ValueError, match="v_from < v_to"):
        mgr.table(spec).changes_between(2, 1)


def test_changes_between_applies_to_old_state(spark, cdf_rig):
    mgr, spec, *_ = cdf_rig
    tbl = mgr.table(spec)
    state = _state(tbl.read(version=1))
    feed = tbl.changes_between(1, 2).collect()
    assert feed, "tail merge must produce changes"
    ops = {r["op"] for r in feed}
    assert ops <= {"I", "U", "D"}
    for r in feed:
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "D":
            # keys only — but the lsn IS the delete event's sequence
            # number, sourced from the tombstone (the Iceberg twin's
            # envelope; ADVICE r4 closed the NULL-lsn divergence)
            assert r["text"] is None and r["lsn"] is not None
            state.pop(k)
        else:
            assert r["lsn"] is not None
            state[k] = (r["role"], r["text"], r["tool"], r["ts"])
    assert state == _state(tbl.read(version=2))


def test_changed_buckets_subset_of_committed(spark, cdf_rig):
    mgr, spec, *_ = cdf_rig
    tbl = mgr.table(spec)
    m1, m2 = tbl.manifest_at(1), tbl.manifest_at(2)
    changed = tbl._changed_buckets(m1, m2)
    assert changed, "tail merge must drift at least one bucket"
    assert set(changed) <= set(m2["buckets"]), "changed buckets exist in v2"
    # unchanged buckets are carried by reference: identical relpath lists
    for b in set(m1["buckets"]) - set(changed):
        assert m1["buckets"][b] == m2["buckets"][b]


def test_cdf_feeds_incremental_rollup(spark, cdf_rig):
    """Composition: the sink's own change feed drives algebraic rollup
    maintenance (operators/incremental) — rollup(v1) + delta(CDF 1→2)
    equals a recompute over read(version=2), bit-exact. The before-images
    come from joining the feed's D/U keys back to the v1 state (the CDF
    carries new payload; old values live in the old version by definition).
    """
    from relational_data_loader_spark.operators.incremental import (
        apply_delta_rollup,
        finalize_rollup,
        group_rollup,
    )

    mgr, spec, *_ = cdf_rig
    tbl = mgr.table(spec)
    grp = F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("bigint")
    v1, v2 = tbl.read(version=1), tbl.read(version=2)
    measure = F.length("text").cast("double")

    prev = group_rollup(v1.select("conv_id", "turn_idx", measure.alias("m")), grp, "m")
    old_vals = v1.select(
        "conv_id", "turn_idx", measure.alias("m_old")
    )
    feed = tbl.changes_between(1, 2).select(
        "op", "conv_id", "turn_idx", F.length("text").cast("double").alias("m")
    )
    changes = feed.join(old_vals, ["conv_id", "turn_idx"], "left")
    inc = finalize_rollup(apply_delta_rollup(prev, changes, grp, "m", "m_old"))
    full = finalize_rollup(
        group_rollup(v2.select("conv_id", "turn_idx", measure.alias("m")), grp, "m")
    )
    a = {r["grp"]: (r["sum_value"], r["n_rows"]) for r in inc.collect()}
    b = {r["grp"]: (r["sum_value"], r["n_rows"]) for r in full.collect()}
    assert a == b


def test_read_keys_is_bucket_pruned_point_lookup(spark, cdf_rig):
    mgr, spec, *_ = cdf_rig
    tbl = mgr.table(spec)
    some = [r["conv_id"] for r in tbl.read().select("conv_id").distinct().limit(3).collect()]
    got = tbl.read_keys(some)
    want = tbl.read().filter(F.col("conv_id").isin(some))
    k = lambda r: (r["conv_id"], r["turn_idx"], r["text"])
    assert sorted(map(k, got.collect())) == sorted(map(k, want.collect()))
    # pruning: the lookup's scan covers at most 3 buckets of the 8
    m = tbl.current_manifest()
    n_files_all = sum(len(v) for v in m["buckets"].values())
    scanned = got.select(F.input_file_name()).distinct().count()
    assert scanned < n_files_all


def test_payload_identical_reupsert_reports_update(spark, tmp_path):
    # epoch 2 re-carries a row of epoch 1 with identical payload but a new
    # lsn: the version guard applies it, so the CDF must say U
    logdir = str(tmp_path / "log")
    import pyarrow as pa

    schema = pa.schema(
        [
            ("lsn", pa.int64()), ("op", pa.string()),
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us")),
        ]
    )

    def row(lsn, op, conv, turn, text):
        return {
            "lsn": lsn, "op": op, "conv_id": conv, "turn_idx": turn,
            "role": "user", "text": text, "tool": "",
            "ts": 1_700_000_000_000_000 + lsn,
        }

    head = pa.Table.from_pylist(
        [row(1, "I", "c1", 0, "same"), row(2, "I", "c2", 0, "other")],
        schema=schema,
    )
    tail = pa.Table.from_pylist([row(3, "U", "c1", 0, "same")], schema=schema)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=4)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    write_log(head, logdir, n_files=1)
    mgr.run(spec)
    write_log(tail, logdir, n_files=1, lsn_from=2)
    mgr.run(spec)
    tbl = mgr.table(spec)
    feed = tbl.changes_between(1, 2).collect()
    assert len(feed) == 1
    assert feed[0]["op"] == "U" and feed[0]["conv_id"] == "c1"
    assert feed[0]["text"] == "same" and feed[0]["lsn"] == 3

    # pruning: exactly c1's bucket drifted (if c2 shares it, the rewrite
    # still stays inside that one bucket — and the diff above proved c2's
    # identical row was not re-emitted)
    from relational_data_loader_spark.sinks.snapshot import bucket_expr

    bmap = {
        r["conv_id"]: str(r["b"])
        for r in spark.createDataFrame([("c1",), ("c2",)], "conv_id STRING")
        .select("conv_id", bucket_expr("conv_id", 4).alias("b"))
        .collect()
    }
    changed = tbl._changed_buckets(tbl.manifest_at(1), tbl.manifest_at(2))
    assert set(changed) == {bmap["c1"]}


def test_cdf_feeds_posting_index_ivm(spark, cdf_rig):
    """Composition: the sink's change feed maintains an inverted index
    (operators/index.py) — index(v1) + delta(CDF 1→2) equals a rebuild
    over read(version=2), row-exact. Composite PK folded to a surrogate
    doc key on both sides."""
    from relational_data_loader_spark.operators.index import (
        apply_delta_postings,
        posting_index,
    )

    mgr, spec, *_ = cdf_rig
    tbl = mgr.table(spec)
    key = F.concat_ws(":", F.col("conv_id").cast("string"), F.col("turn_idx").cast("string"))
    v1 = tbl.read(version=1).select(key.alias("doc"), "text")
    v2 = tbl.read(version=2).select(key.alias("doc"), "text")
    feed = tbl.changes_between(1, 2).select("op", key.alias("doc"), "text")

    inc = apply_delta_postings(
        posting_index(v1, "text", "doc"), feed, "text", "doc"
    )
    full = posting_index(v2, "text", "doc")
    a = sorted((r["tok"], r["doc_id"]) for r in inc.collect())
    b = sorted((r["tok"], r["doc_id"]) for r in full.collect())
    assert a == b and len(a) > 0


def test_cdf_feeds_incremental_near_dup(spark, cdf_rig):
    """Composition: the sink's change feed drives the IVM dedup step
    (operators/dedup.py incremental_near_dup_pairs) — pairs touching the
    CDF 1→2 delta, computed from v2-minus-delta + the delta's new text +
    the base signature table, must equal the FULL pipeline over read(v2)
    filtered to delta-touching docs. Composite PK folded to a surrogate
    doc key on both sides, low threshold so transcript turns collide."""
    from relational_data_loader_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_signatures,
        near_dup_pairs,
    )

    mgr, spec, *_ = cdf_rig
    tbl = mgr.table(spec)
    key = F.concat_ws(":", F.col("conv_id").cast("string"), F.col("turn_idx").cast("string"))
    v2 = tbl.read(version=2).select(key.alias("doc"), "text")
    feed = tbl.changes_between(1, 2).select("op", key.alias("doc"), "text")
    changed = feed.select("doc").distinct()
    delta = feed.filter(F.col("op") != "D").select("doc", "text")
    base = v2.join(changed, "doc", "left_anti")

    with CacheScope() as scope:
        inc = incremental_near_dup_pairs(
            base, delta, "text", "doc",
            base_sigs=minhash_signatures(base, "text", "doc"),
            threshold=0.2, scope=scope,
        )
        got = sorted((r.doc_a, r.doc_b, r.jaccard) for r in inc.collect())

    delta_ids = {r["doc"] for r in delta.select("doc").distinct().collect()}
    with CacheScope() as scope:
        full = near_dup_pairs(v2, "text", "doc", threshold=0.2, scope=scope)
        want = sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in full.collect()
            if r.doc_a in delta_ids or r.doc_b in delta_ids
        )
    assert got == want and len(want) > 0
