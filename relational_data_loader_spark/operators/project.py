"""Column mapping: projection + rename + cast + vectorized transforms.

Reference: the model JSON ``columns[]`` mapping applied in the generated
SELECT (only mapped columns leave the source) and pandas-side casting
(``modules/BatchDataLoader.py``; SURVEY.md §2.1 P1/P2). In Spark the
select/alias/cast below is column-pruned into the parquet scan by Catalyst,
so the reference's hand-rolled projection pushdown comes for free.

Transforms are the engine's single user extension point (the reference has
none): named, Arrow-vectorized functions from
``relational_data_loader_spark.functions.registry`` — never per-row Python.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_data_loader_spark.session import cached_columns
from relational_data_loader_spark.spec import IngestSpec


def ddl_type(dt: T.DataType) -> str:
    """``dt`` as a type string for ``Column.cast``/``try_cast``. A string
    cast is one py4j call; a ``DataType`` cast first resolves the active
    session and parses the type's JSON on the JVM (tens of calls per
    column). Timestamps are spelled ``timestamp_ltz`` so the parse does not
    follow a session's ``spark.sql.timestampType``."""
    return "timestamp_ltz" if isinstance(dt, T.TimestampType) else dt.simpleString()


def project_cast(df: DataFrame, spec: IngestSpec, include_envelope: bool = True) -> DataFrame:
    """Apply the spec's column mapping to a change batch or snapshot scan.

    Keeps the (lsn, op) envelope columns when present and requested; maps
    each spec column ``source -> destination`` with a cast to the declared
    type and the optional named transform. The columns are built once per
    spec (``cached_columns``): every epoch of a load projects alike.
    """
    from relational_data_loader_spark.functions.registry import get_transform

    # the checksum covers the column mapping; the envelope names and the
    # transforms (by function, so a re-registered name rebuilds) it does not
    transforms = tuple(
        (c.destination, get_transform(spec.transforms[c.destination]))
        for c in spec.columns
        if c.destination in spec.transforms
    )
    envelope, mapped = cached_columns(
        ("project_cast", spec.checksum(), spec.lsn_column, spec.op_column, transforms),
        lambda: _projection(spec, dict(transforms)),
    )
    if include_envelope:
        present = df.columns
        return df.select(
            *[c for name, c in envelope if name in present], *mapped
        )
    return df.select(*mapped)


def _projection(
    spec: IngestSpec, transforms: dict[str, Callable[[Column], Column]]
) -> tuple[list[tuple[str, Column]], list[Column]]:
    envelope = [(env, F.col(env)) for env in (spec.lsn_column, spec.op_column)]
    mapped: list[Column] = []
    for c in spec.columns:
        expr = F.col(c.source).cast(ddl_type(c.spark_type))
        if c.destination in transforms:
            expr = transforms[c.destination](expr)
        mapped.append(expr.alias(c.destination))
    return envelope, mapped


QUARANTINE_ERRORS_COL = "_rdl_errors"


def project_cast_quarantine(
    df: DataFrame, spec: IngestSpec, include_envelope: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split of a change batch: rows whose declared casts are
    LOSSY (source value present, cast result NULL) detour to a quarantine
    set instead of silently becoming NULLs (``cast`` under ANSI-off) or
    failing the whole load (ANSI-on). The reference aborts the batch on a
    bad value (pandas ``astype`` raising mid-load); a resident
    10^10-event pipeline cannot — poison rows must land somewhere
    inspectable while the batch commits.

    Returns ``(good, bad)``: ``good`` is ``project_cast`` over the rows
    with no lossy cast; ``bad`` carries the RAW source rows plus
    ``_rdl_errors: array<string>`` naming the failing destination columns
    (the dead-letter table shape — raw payload preserved for replay after
    a spec fix). Cost: the try_cast flags are one narrow codegen
    projection; both outputs filter the same scan, no shuffle, and
    Catalyst prunes the error array out of the good side's plan.
    """
    fails = [
        F.when(
            F.col(c.source).isNotNull()
            & F.col(c.source).try_cast(ddl_type(c.spark_type)).isNull(),
            F.lit(c.destination),
        )
        for c in spec.columns
    ]
    flagged = df.withColumn(
        QUARANTINE_ERRORS_COL, F.array_compact(F.array(*fails))
    )
    good = flagged.filter(F.size(QUARANTINE_ERRORS_COL) == 0).drop(
        QUARANTINE_ERRORS_COL
    )
    bad = flagged.filter(F.size(QUARANTINE_ERRORS_COL) > 0)
    return project_cast(good, spec, include_envelope), bad


def flag_lossy_casts(df: DataFrame, spec: IngestSpec) -> DataFrame:
    """Envelope-aware lossy-cast flags for the manager's dead-letter split
    (``spec.on_cast_error = "quarantine"``): adds ``_rdl_errors`` naming
    each destination column whose declared cast is LOSSY on this row.

    Differs from ``project_cast_quarantine``'s raw split in one envelope
    rule: DELETE rows are exempt on NON-PK columns — a delete applies by
    key alone (its payload is NULL-or-garbage by CT/CDC envelope contract,
    SURVEY §2 S2), so a poison payload must not quarantine the delete and
    resurrect the row. A lossy PK cast flags on every op: a row whose key
    cannot be decoded cannot be addressed at all. Cost: one codegen
    projection of try_cast null-checks, no shuffle, filter-pushable.
    """
    is_del = F.col(spec.op_column) == F.lit(spec.delete_op)
    fails = []
    for c in spec.columns:
        lossy = (
            F.col(c.source).isNotNull()
            & F.col(c.source).try_cast(ddl_type(c.spark_type)).isNull()
        )
        if not c.primary_key:
            lossy = lossy & ~is_del
        fails.append(F.when(lossy, F.lit(c.destination)))
    return df.withColumn(
        QUARANTINE_ERRORS_COL, F.array_compact(F.array(*fails))
    )
