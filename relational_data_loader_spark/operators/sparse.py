"""Column-level (sparse) update envelopes: fold partial-image CDC feeds.

The engine's merge path (sinks/snapshot.py, sinks/iceberg.py) assumes
FULL-ROW envelopes — every U carries the complete after-image, so LWW is
one max-lsn row pick per PK. That matches MySQL binlog / SQL Server CT /
Debezium's default. But several real feeds are COLUMN-sparse:

- MongoDB change streams (``updateDescription.updatedFields``)
- Cassandra CDC (cell-level mutations)
- Debezium with ``column.exclude``/incomplete after-images
- application outbox tables that write only touched fields

There, a U row sets only the changed columns; folding it with full-row LWW
silently NULLs every untouched column. This module folds such feeds into
final state with column-granular last-writer-wins.

Two patch conventions, selected by ``mask_col``:

- ``mask_col=None`` — *null-means-unchanged*: a NULL payload column on a U
  row means "keep"; the convention cannot express "set to NULL" (the
  classic tradeoff — Iceberg ``MERGE … UPDATE SET c = coalesce(s.c, t.c)``
  has the same blind spot).
- ``mask_col="changed"`` — the row carries an ``array<string>`` of column
  names it sets; a masked column's value is applied EVEN IF NULL, so
  set-to-NULL round-trips. This is the lossless convention
  (MongoDB's updatedFields shape).

Fold semantics per PK over ops I (full image), U (patch), D (tombstone):

- ``anchor`` = max lsn of I rows: a full image RESETS the row, so patches
  below the anchor are superseded and discarded; an I row's own NULL
  column is a true NULL (full images have no "unchanged" notion).
- tombstone rule: the row is dead iff the latest D outranks the latest I
  (``dead > coalesce(anchor, -∞)``). A patch after a delete does NOT
  resurrect the row — orphan patches are dropped, matching the sinks'
  sequence-guarded tombstone semantics (snapshot.py).
- per column: the value set by the highest-lsn qualifying event at or
  above the anchor (qualifying = non-D, and the column is set under the
  active convention). No qualifying setter ⇒ NULL.
- keys with patches but no I at all fold the patches alone — the
  bootstrap-less tail case; callers seeding from a base table union the
  base in as I rows at their stored lsn.

Scale: ONE window max over the PK (to broadcast the anchor to the key's
rows) and ONE groupBy on the same key — Spark reuses the window's hash
partitioning, so the whole fold is a single exchange; every aggregate is
a scalar ``max_by``/conditional ``max`` with map-side partial combine.
Hot keys cost one combiner row per map task, never a row list. No python,
no collect, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fold_sparse_envelopes(
    df: DataFrame,
    pk_cols: list[str],
    lsn_col: str,
    op_col: str,
    payload_cols: list[str],
    mask_col: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Fold a column-sparse changelog into final state (one row per live
    PK): columns ``pk_cols + payload_cols + [lsn_col]`` where ``lsn_col``
    carries the key's highest applied lsn (its watermark — what a
    downstream merge would checkpoint).

    ``df`` columns: ``pk_cols``, ``lsn_col`` (bigint-comparable, totally
    ordered per key), ``op_col`` in {'I','U','D'}, ``payload_cols``, and
    ``mask_col`` (``array<string>`` of set column names) when the lossless
    convention is in use — on I rows the mask is ignored (a full image
    sets everything).

    ``keep_meta=True`` keeps DEAD keys too and exposes the fold's internal
    ``_anchor`` (max I lsn) / ``_dead`` (max D lsn) columns — the
    densify bridge needs both to decide stored-row coalescing and delete
    emission; plain callers leave it off.
    """
    if not pk_cols or not payload_cols:
        raise ValueError("fold_sparse_envelopes needs pk and payload columns")
    lsn = F.col(lsn_col)
    op = F.col(op_col)
    w = Window.partitionBy(*pk_cols)
    anchored = df.withColumn(
        "_rdl_anchor", F.max(F.when(op == "I", lsn)).over(w)
    )
    at_or_above = lsn >= F.coalesce(F.col("_rdl_anchor"), F.lit(-(2**62)))

    def _setter(c: str):
        if mask_col is None:
            sets = F.col(c).isNotNull()
        else:
            sets = (op == "I") | F.array_contains(
                F.coalesce(F.col(mask_col), F.array()), F.lit(c)
            )
        return F.when((op != "D") & sets & at_or_above, lsn)

    aggs = [
        F.max_by(F.col(c), _setter(c)).alias(c) for c in payload_cols
    ] + [
        F.max(F.when(op == "I", lsn)).alias("_anchor"),
        F.max(F.when(op == "D", lsn)).alias("_dead"),
        F.max(lsn).alias(lsn_col),
    ]
    folded = anchored.groupBy(*[F.col(c) for c in pk_cols]).agg(*aggs)
    if keep_meta:
        return folded
    alive = F.col("_dead").isNull() | (
        F.coalesce(F.col("_anchor"), F.lit(-(2**62))) > F.col("_dead")
    )
    return folded.filter(alive).drop("_anchor", "_dead")


def _stored_rows(table, live: DataFrame) -> DataFrame:
    """Current visible rows for the densify join. SnapshotTable reads only
    the buckets the live keys hash into (their distinct bucket ids — at
    most n_buckets ints collected) through its one file-selection rule,
    ``_assembled(m, buckets)``, so a selected bucket with pending deltas
    folds and the rest scan directly. Sinks without manifest internals
    (Iceberg — its MERGE reads the table anyway), and a table with no
    commit yet, fall back to ``table.read()``, whose scan the join's key
    predicate still prunes at the source."""
    m = table.current_manifest() if hasattr(table, "_assembled") else None
    if m is None:
        return table.read()
    from relational_data_loader_spark.operators.watermark import bucket_expr

    bucket_ids = {
        str(r["b"])
        for r in live.select(
            bucket_expr(table.bucket_key, table._layout(m)).alias("b")
        ).distinct().collect()
    }
    return table._visible(table._assembled(m, sorted(bucket_ids)))


def densify_sparse_batch(
    table,
    batch: DataFrame,
    pk_cols: list[str],
    lsn_col: str,
    op_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Turn a column-sparse change batch into FULL-ROW envelopes the
    engine's standard merge path applies unchanged — the pre-merge
    densification every full-image engine (Iceberg MERGE, Hudi COW)
    uses when fed a patch stream.

    Per PK in the batch:

    1. fold the batch's own envelopes column-wise
       (``fold_sparse_envelopes`` with meta kept);
    2. keys whose latest D outranks their latest I emit one D envelope at
       the key's max lsn (payload NULL — a tombstone);
    3. live keys WITHOUT a full image in the batch (no I ⇒ no anchor)
       left-join their stored row and coalesce per column — batch-set
       columns win, untouched columns keep the stored value;
    4. live keys WITH an I keep the fold result as-is: the full image
       reset the row, so stored values must NOT bleed into columns the
       image legitimately NULLed.

    The stored-row read is bucket-pruned: the batch's distinct bucket ids
    (≤ n_buckets values, one control-plane collect of ints) select the
    buckets the table reads (``_stored_rows``), so the join reads
    O(touched buckets), never the table. The output is one envelope
    per key (op 'U' or 'D', lsn = key's max) — ``netted`` by construction.

    Convention: null-means-unchanged only. The mask convention folds to
    final state directly (``fold_sparse_envelopes(mask_col=...)``);
    densifying it through a full-row merge would need the mask carried to
    the sink, which the full-row envelope cannot express.

    Ordering caveat: column-level LWW is exact WITHIN the batch; across
    epochs it relies on per-key in-order delivery (a later epoch's patch
    must carry a higher lsn), which binlog/WAL tailers guarantee. A
    cross-epoch permutation of two patches to DIFFERENT columns of one key
    cannot be repaired post-hoc by any full-row engine — the first applied
    epoch's densified image wins whole-row on lsn.
    """
    folded = fold_sparse_envelopes(
        batch, pk_cols, lsn_col, op_col, payload_cols, keep_meta=True
    )
    neg_inf = F.lit(-(2**62))
    dead = F.col("_dead").isNotNull() & (
        F.coalesce(F.col("_anchor"), neg_inf) <= F.col("_dead")
    )
    folded = folded.withColumn("_is_dead", dead).localCheckpoint(eager=True)

    deletes = folded.filter("_is_dead").select(
        F.col(lsn_col),
        F.lit("D").alias(op_col),
        *[F.col(c) for c in pk_cols],
        *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in payload_cols],
    )
    live = folded.filter(~F.col("_is_dead"))
    stored = _stored_rows(table, live)
    s = stored.select(
        *[F.col(c) for c in pk_cols],
        *[F.col(c).alias(f"_st_{c}") for c in payload_cols],
    )
    has_image = F.col("_anchor").isNotNull()
    upserts = live.join(s, on=pk_cols, how="left").select(
        F.col(lsn_col),
        F.lit("U").alias(op_col),
        *[F.col(c) for c in pk_cols],
        *[
            F.when(has_image, F.col(c))
            .otherwise(F.coalesce(F.col(c), F.col(f"_st_{c}")))
            .alias(c)
            for c in payload_cols
        ],
    )
    return upserts.unionByName(deletes)
