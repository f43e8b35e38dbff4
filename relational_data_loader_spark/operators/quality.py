"""Declarative data-quality expectations and column profiling.

The admission gate in front of a destination-of-record: before (or right
after) a load commits, evaluate a set of EXPECTATIONS — row predicates,
key uniqueness, referential integrity — and emit one verdict row per
check. RDL loads blind (SURVEY.md §5: its tests assert row counts only);
a lake destination needs the gate, and at 100 TB it must cost one scan,
not one scan per check.

Cost model, by check class:
- row predicates: ALL of them fold into ONE conditional-count aggregate —
  a single scan of only the referenced columns, fully map-side;
- key uniqueness: one partial-agged groupBy on the key (count>1 groups);
  the shuffle carries (key, count) state only;
- referential integrity: a left-anti join child→parent on the key —
  broadcast when the parent's key projection is small, shuffle otherwise
  (Spark/AQE picks; the check never moves non-key columns).

Verdicts are exact counts, so the report doubles as the drift metric a
scheduler alerts on (n_violations trending up), not just a boolean gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from relational_data_loader_spark.session import CacheScope


def _verdict(name: str, n: Column):
    return F.struct(
        F.lit(name).alias("check_name"),
        n.cast("bigint").alias("n_violations"),
        (n == 0).alias("passed"),
    )


def row_expectations(df: DataFrame, checks: list[tuple[str, Column]]) -> DataFrame:
    """Evaluate row-predicate expectations in ONE aggregate pass.

    ``checks``: (name, violation_condition) — the condition is true when
    the row VIOLATES the expectation (nulls count as violations for
    not-null checks because ``count(when(cond, 1))`` needs cond true;
    build conditions with null-safe predicates accordingly).
    Returns (check_name, n_violations, passed), one row per check.
    """
    agg = df.agg(
        F.array(
            *[_verdict(name, F.count(F.when(cond, 1))) for name, cond in checks]
        ).alias("_v")
    )
    return agg.select(F.explode("_v").alias("v")).select("v.*")


def unique_key_expectation(
    df: DataFrame, key_cols: list[str], name: str | None = None
) -> DataFrame:
    """Key-uniqueness verdict: violations = rows BEYOND the first per
    duplicated key (so n_violations == rows you would have to drop)."""
    name = name or f"unique({','.join(key_cols)})"
    dup = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).alias("_viol"))
    )
    return dup.select(
        F.lit(name).alias("check_name"),
        F.col("_viol").cast("bigint").alias("n_violations"),
        (F.col("_viol") == 0).alias("passed"),
    )


def referential_expectation(
    child: DataFrame,
    fk_col: str,
    parent: DataFrame,
    pk_col: str,
    name: str | None = None,
) -> DataFrame:
    """Referential-integrity verdict: child rows whose non-null ``fk_col``
    has no match in ``parent.pk_col``. Left-anti join moving only the two
    key columns; null FKs are not violations (SQL FK semantics)."""
    name = name or f"fk({fk_col}->{pk_col})"
    orphans = (
        child.select(F.col(fk_col).alias("_fk"))
        .filter(F.col("_fk").isNotNull())
        .join(
            parent.select(F.col(pk_col).alias("_fk")).distinct(),
            "_fk",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("_viol"))
    )
    return orphans.select(
        F.lit(name).alias("check_name"),
        F.col("_viol").cast("bigint").alias("n_violations"),
        (F.col("_viol") == 0).alias("passed"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile: rows, nulls, exact distinct count, min/max (as
    strings so heterogeneous columns stack into one report).

    One aggregate pass per column over a single-column projection —
    column pruning makes each pass read exactly one parquet column. The
    distinct count is exact (the oracle pairing needs it); at 100 TB swap
    ``count_distinct`` for ``approx_count_distinct`` (HLL++, mergeable,
    bounded state) — a one-token change, same report shape.
    """
    parts = []
    for c in cols:
        col = F.col(c)
        parts.append(
            df.select(col).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(col.isNull(), 1)).alias("n_nulls"),
                F.count_distinct(col).alias("n_distinct"),
                F.min(col).cast("string").alias("min_value"),
                F.max(col).cast("string").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class ExpectationFailedError(ValueError):
    """An enforce-mode data-quality gate rejected a batch; nothing was
    committed (the epoch is safely re-runnable after the source is fixed)."""

    def __init__(self, spec_name: str, violations: dict[str, int]):
        self.spec_name = spec_name
        self.violations = violations
        detail = ", ".join(f"{k}={v}" for k, v in sorted(violations.items()))
        super().__init__(
            f"spec {spec_name!r}: expectations failed before commit: {detail}"
        )


def gate_counts(df: DataFrame, checks: dict[str, str]) -> dict[str, int]:
    """Evaluate named violation expressions (SQL boolean strings, true =
    the row violates) in ONE conditional-count aggregate pass; returns
    {check_name: n_violations}. The collect is control-plane — one row of
    n_checks scalars."""
    aggs = [
        F.count(F.when(F.expr(expr), 1)).alias(name)
        for name, expr in checks.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: int(row[name]) for name in checks}


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 4,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic of each group's value
    distribution against the REST of the corpus pooled — the
    distribution-shift monitor that count-based checks (volume_trend,
    daily_rate_anomaly) cannot express: a source can keep its volume while
    its length/score distribution silently drifts (truncation bugs,
    boilerplate injection, scraper changes).

    KS = sup_x |F_g(x) − F_rest(x)|. Both ECDFs are step functions that
    only move at observed values, so the sup is attained on the pooled
    value grid — which is exactly what the plan builds:

    - one groupBy (group, value) → per-group counts; one groupBy (value) →
      pooled counts; the grid is groups × distinct values via a BROADCAST
      cross join of the per-group totals (#groups rows — sources, not
      data);
    - both cumulative counts come from the SAME per-group window ordered
      by value (the pooled count rides along on the grid rows), so there
      is no unpartitioned window — the global ordering lives inside each
      group's partition;
    - all cumulation is integer-exact; doubles appear only in the final
      two divisions, identically on both engines.

    Grid size is #groups × #distinct-values: integers (lengths, scores)
    are fine as-is; for continuous or unbounded domains bin the value
    first (compose with hist_quantile_rollup's bin expression) — the KS of
    the binned distribution is what a 100 TB monitor wants anyway.

    Returns (group, n, ks) with ks rounded; a single-group frame yields
    ks NULL (no rest to compare against) rather than a divide-by-zero.
    """
    from pyspark.sql import Window

    vals = df.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    )
    gv = vals.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    vt = gv.groupBy("v").agg(F.sum("cnt").alias("cnt_all"))
    gt = gv.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    tot = gt.agg(F.sum("n_g").alias("n_total"))
    grid = (
        vt.crossJoin(F.broadcast(gt))
        .join(gv, ["g", "v"], "left")
        .na.fill(0, ["cnt"])
        .crossJoin(F.broadcast(tot))
    )
    w = Window.partitionBy("g").orderBy("v")
    c = grid.select(
        "g",
        "n_g",
        "n_total",
        F.sum("cnt").over(w).alias("cum_g"),
        F.sum("cnt_all").over(w).alias("cum_all"),
    )
    f_g = F.col("cum_g").cast("double") / F.col("n_g")
    f_rest = (F.col("cum_all") - F.col("cum_g")).cast("double") / F.nullif(
        (F.col("n_total") - F.col("n_g")).cast("double"), F.lit(0.0)
    )
    return c.groupBy("g").agg(
        F.max("n_g").alias("n"),
        F.round(F.max(F.abs(f_g - f_rest)), round_dp)
        .cast("double")
        .alias("ks"),
    ).select(F.col("g").alias(group_col), "n", "ks")


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ts_col: str,
    n_bins: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Population Stability Index of each group's value distribution,
    comparing the second half of the time range against the first — the
    banking-standard drift score (PSI = Σ (p−q)·ln(p/q) over bins) that
    complements ks_drift: KS measures the worst single point of CDF
    divergence, PSI integrates shift across the whole histogram and is
    the metric monitoring stacks alert on (0.1 = moderate, 0.25 = major).

    Determinism contract (the oracle hash-matches at 4 dp):

    - the reference/current split is the integer midpoint of the global
      [min, max] event time in microseconds — exact on both engines;
    - bin edges are equal-width over the REFERENCE period's per-group
      [vmin, vmax] (exact min/max selections, identical IEEE divide and
      floor on both engines — no quantile estimation, whose engine-
      specific interpolation would never hash-match);
    - current-period values outside the reference range clamp into the
      edge bins, the standard PSI treatment of novel mass;
    - empty bins get Laplace-style smoothing (cnt + 0.5) /
      (n + 0.5·n_bins), so ln never sees zero and the score is finite.

    Plan shape: one groupBy (group, period, bin) over the data, then the
    full group × bin grid (a broadcast explode of #groups × n_bins rows —
    metadata-sized) left-joins the counts; everything after the first
    aggregation is driver-negligible. Single data shuffle.
    """
    from pyspark.sql import Window  # noqa: F401  (parity with ks_drift)

    ev = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
    )
    span = ev.agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    ).select(
        # floor-divide, NOT cast-after-divide: Spark's double→long cast
        # truncates while DuckDB's rounds, so the oracle twin must floor
        # explicitly on both engines (sum < 2^53, division exact-or-.5)
        F.floor((F.col("t0") + F.col("t1")) / 2).cast("long").alias("t_mid")
    )
    ev = ev.crossJoin(F.broadcast(span)).withColumn(
        "period", F.when(F.col("t") < F.col("t_mid"), "ref").otherwise("cur")
    )
    edges = (
        ev.filter(F.col("period") == "ref")
        .groupBy("g")
        .agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
        .withColumn("width", (F.col("vmax") - F.col("vmin")) / n_bins)
    )
    binned = (
        ev.join(F.broadcast(edges), "g")
        .withColumn(
            "bin",
            F.when(F.col("width") == 0.0, F.lit(0)).otherwise(
                # clamp in the wide type FIRST, cast after — an outlier in
                # the current period can floor to a value that overflows
                # int before the clamp would have bounded it
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(n_bins - 1),
                        F.floor(
                            (F.col("v") - F.col("vmin")) / F.col("width")
                        ),
                    ),
                ).cast("int")
            ),
        )
        .groupBy("g", "period", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = (
        edges.select("g")
        .withColumn("bin", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))))
    )
    totals = binned.groupBy("g", "period").agg(F.sum("cnt").alias("n"))
    full = (
        grid.join(
            binned.filter(F.col("period") == "ref").select(
                "g", "bin", F.col("cnt").alias("cnt_ref")
            ),
            ["g", "bin"],
            "left",
        )
        .join(
            binned.filter(F.col("period") == "cur").select(
                "g", "bin", F.col("cnt").alias("cnt_cur")
            ),
            ["g", "bin"],
            "left",
        )
        .na.fill(0, ["cnt_ref", "cnt_cur"])
        .join(
            F.broadcast(
                totals.groupBy("g").pivot("period", ["ref", "cur"]).sum("n")
            ).select(
                "g",
                F.coalesce("ref", F.lit(0)).alias("n_ref"),
                F.coalesce("cur", F.lit(0)).alias("n_cur"),
            ),
            "g",
        )
    )
    p = (F.col("cnt_ref") + 0.5) / (F.col("n_ref") + 0.5 * n_bins)
    q = (F.col("cnt_cur") + 0.5) / (F.col("n_cur") + 0.5 * n_bins)
    return (
        full.groupBy("g")
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            F.round(F.sum((p - q) * F.log(p / q)), round_dp)
            .cast("double")
            .alias("psi"),
        )
        .select(F.col("g").alias(group_col), "n_ref", "n_cur", "psi")
    )


def json_schema_drift(
    df: DataFrame, json_col: str, epoch_col: str, *, scope: CacheScope
) -> DataFrame:
    """Schema-on-read drift for semi-structured payloads: which JSON keys
    each epoch ADDED or REMOVED relative to the previous epoch — the
    payload-level twin of the engine's spec-level evolution gate
    (``spec.compat_level``). CDC sources routinely carry loosely-typed
    JSON columns whose producers evolve without any registry; this is
    the monitor that catches a renamed field before downstream
    ``get_json_object`` extractions silently go NULL.

    Output: ``(epoch, key, status)`` with status ``added`` | ``removed``
    (reported AT the epoch where the change is first visible); epochs
    with no drift emit nothing, and the first epoch is the baseline
    (nothing to compare against). ``epoch_col`` must be a dense integer
    epoch index (callers bucket lsn/ts however they version releases).

    Plan: ``json_object_keys`` + explode collapses immediately into a
    distinct (epoch, key) frame — partial aggregation absorbs the per-row
    key repetition, so the shuffled state is epochs × distinct keys, not
    rows × keys. Drift is two anti-joins of that tiny frame against its
    epoch-shifted self; nothing rescans the data after the one distinct.
    That one distinct is cached in the caller's ``scope``.
    """
    # persisted (r6): this tiny (epochs × keys) frame feeds FIVE consumers
    # (the epoch list, the shifted copy, and both anti-join sides twice);
    # without the cache each consumer re-ran the corpus-wide JSON
    # key-explode + distinct. The cache is epochs × distinct keys — bytes.
    keys = scope.cache(
        df.select(
            F.col(epoch_col).cast("long").alias("epoch"),
            F.explode(F.json_object_keys(F.col(json_col))).alias("key"),
        ).distinct()
    )
    epochs = keys.select("epoch").distinct()
    # epochs that HAVE a predecessor in the data (excludes the baseline
    # epoch without any driver-side collect)
    with_prev = epochs.select((F.col("epoch") + 1).alias("epoch")).join(
        epochs, "epoch", "left_semi"
    )
    prev = keys.select((F.col("epoch") + 1).alias("epoch"), "key")
    added = (
        keys.join(prev, ["epoch", "key"], "left_anti")
        .join(with_prev, "epoch", "left_semi")
        .select("epoch", "key", F.lit("added").alias("status"))
    )
    removed = prev.join(keys, ["epoch", "key"], "left_anti").join(
        epochs, "epoch", "left_semi"
    ).select("epoch", "key", F.lit("removed").alias("status"))
    return added.unionByName(removed)
