"""json_schema_drift (operators/quality.py): pinned semantics — baseline
epoch emits nothing, adds/removes report at the epoch where first
visible, keys present in only SOME rows of an epoch still count as
present (distinct-union, not intersection).
"""

from relational_data_loader_spark.operators.quality import json_schema_drift
from relational_data_loader_spark.session import CacheScope


def _drift(df):
    with CacheScope() as scope:
        return json_schema_drift(df, "j", "ep", scope=scope).collect()


def test_drift_semantics(spark):
    rows = [
        # epoch 0 (baseline): keys {a, b}
        (0, '{"a":1,"b":2}'),
        # epoch 1: b removed, c added; a only on ONE row -> still present
        (1, '{"a":1}'),
        (1, '{"c":3}'),
        # epoch 2: identical to 1 -> no drift
        (2, '{"a":0,"c":0}'),
    ]
    df = spark.createDataFrame(rows, "ep long, j string")
    got = {
        (r["epoch"], r["key"], r["status"])
        for r in _drift(df)
    }
    assert got == {(1, "c", "added"), (1, "b", "removed")}


def test_single_epoch_emits_nothing(spark):
    df = spark.createDataFrame([(5, '{"x":1}')], "ep long, j string")
    assert _drift(df) == []
