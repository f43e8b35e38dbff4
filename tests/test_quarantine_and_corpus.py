"""Unit tests: project_cast_quarantine dead-letter split and the composed
build_corpus pipeline (round 4). Catalog-level oracle parity lives in
test_entry_contract; these pin the operator contracts directly.
"""

from pyspark.sql import functions as F

from relational_data_loader_spark.operators.corpus import build_corpus
from relational_data_loader_spark.operators.project import (
    QUARANTINE_ERRORS_COL,
    project_cast_quarantine,
)
from relational_data_loader_spark.session import CacheScope
from relational_data_loader_spark.spec import ColumnSpec, IngestSpec


def _spec():
    return IngestSpec(
        name="t",
        source="",
        columns=[
            ColumnSpec("id", "id", "bigint", primary_key=True),
            ColumnSpec("num", "num_int", "int"),
            ColumnSpec("word", "word", "string"),
        ],
    )


def test_quarantine_splits_lossy_casts_only(spark):
    df = spark.createDataFrame(
        [
            (1, "42", "ok"),          # clean
            (2, "not-a-number", "x"), # lossy cast -> quarantined
            (3, None, "y"),           # NULL source is NOT lossy (absent, not bad)
            (4, "2147483648", "z"),   # int overflow -> lossy -> quarantined
        ],
        "id: bigint, num: string, word: string",
    )
    good, bad = project_cast_quarantine(df, _spec(), include_envelope=False)
    assert {r["id"] for r in good.collect()} == {1, 3}
    got_bad = {r["id"]: r[QUARANTINE_ERRORS_COL] for r in bad.collect()}
    assert got_bad == {2: ["num_int"], 4: ["num_int"]}
    # good side is the normal projection: cast applied, destinations renamed
    row = {r["id"]: r for r in good.collect()}
    assert row[1]["num_int"] == 42 and row[3]["num_int"] is None


def test_quarantine_reports_every_failing_column(spark):
    spec = IngestSpec(
        name="t",
        source="",
        columns=[
            ColumnSpec("a", "a_int", "int", primary_key=True),
            ColumnSpec("b", "b_int", "int"),
        ],
    )
    df = spark.createDataFrame([("x", "y")], "a: string, b: string")
    good, bad = project_cast_quarantine(df, spec, include_envelope=False)
    assert good.count() == 0
    assert bad.collect()[0][QUARANTINE_ERRORS_COL] == ["a_int", "b_int"]


def test_quarantine_preserves_raw_payload(spark):
    # dead-letter rows must carry the ORIGINAL source values for replay
    df = spark.createDataFrame([(1, "bad!", "w")], "id: bigint, num: string, word: string")
    _good, bad = project_cast_quarantine(df, _spec(), include_envelope=False)
    r = bad.collect()[0]
    assert r["num"] == "bad!" and r["word"] == "w"


def test_build_corpus_each_gate(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "alpha beta gamma delta epsilon zeta"),   # kept
            (2, "en", "alpha beta gamma delta epsilon zeta"),   # exact dup of 1 -> dropped
            (3, "en", "tiny doc"),                              # < min_tokens -> dropped
            (4, "en", "1234 5678 9999 0000 8888 7777"),         # alpha_ratio 0 -> dropped
            (5, "fr", "un deux trois quatre cinq six sept"),    # kept (fr: rate 1.0)
            (6, "en", "leak one two three four five six"),      # fully in benchmark -> dropped
        ],
        "doc_id: bigint, lang: string, text: string",
    )
    bench = spark.createDataFrame(
        [(100, "leak one two three four five six")], "doc_id: bigint, text: string"
    )
    with CacheScope() as scope:
        out = build_corpus(
            docs, bench, min_tokens=5, min_alpha=0.5, max_contamination=0.5,
            rates={}, default_rate=1.0, scope=scope,
        )
        rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 5}
    assert rows[1]["contaminated_frac"] == 0.0
    assert rows[1]["n_tokens"] == 6


def test_build_corpus_sampling_is_content_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "en", f"word{i} alpha beta gamma delta epsilon") for i in range(200)],
        "doc_id: bigint, lang: string, text: string",
    )
    bench = spark.createDataFrame([], "doc_id: bigint, text: string")
    with CacheScope() as scope:
        out = build_corpus(
            docs, bench, min_alpha=0.3, rates={"en": 0.5}, scope=scope
        )
        a = {r["doc_id"] for r in out.collect()}
        b = {r["doc_id"] for r in out.collect()}
    assert a == b  # hash-of-key sampling: stable across runs
    assert 40 < len(a) < 160  # ~half survive the en rate


def test_build_corpus_scope_releases_cache(spark):
    docs = spark.createDataFrame(
        [(i, "en", f"word{i} alpha beta gamma delta epsilon") for i in range(20)],
        "doc_id: bigint, lang: string, text: string",
    )
    bench = spark.createDataFrame([], "doc_id: bigint, text: string")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with CacheScope() as scope:
        out = build_corpus(docs, bench, min_alpha=0.3, scope=scope)
        out.count()
        assert jsc.getPersistentRDDs().size() > before
        scope.close()
        assert jsc.getPersistentRDDs().size() == before
    # __exit__ closes again: idempotent
    assert jsc.getPersistentRDDs().size() == before
