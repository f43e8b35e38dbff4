"""Source dispatch + change-log scan + change-tracking probe.

Reference mapping (SURVEY.md §2.1):
- S5 source dispatch: connection-string-prefix factory
  (``modules/data_sources/DataSourceFactory.py::create_source`` — ``mssql+pyodbc://``
  vs ``csv://``). Ours dispatches on a URI scheme: ``parquet://``, ``csv://``,
  ``jdbc://`` (gated: needs a driver jar).
- S1/S2 scans: the reference keyset-paginates with ``SELECT TOP(n) … WHERE pk > ?``;
  Spark's partitioned columnar scan replaces pagination wholesale — bounded
  memory per task comes from ``spark.sql.files.maxPartitionBytes``, restart
  comes from the commit manifest, not a cursor.
- S3 change-tracking probe: ``CHANGE_TRACKING_CURRENT_VERSION()`` /
  ``CHANGE_TRACKING_MIN_VALID_VERSION()`` become a min/max aggregate over the
  change log's lsn column. The aggregate scans every log row: parquet is
  read through DSv1, and ``spark.sql.parquet.aggregatePushdown`` (which
  would answer min/max from footer statistics) applies only to DSv2 scans.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from urllib.parse import parse_qsl

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_data_loader_spark.spec import IngestSpec

# Spark JDBC options we interpret; anything else in the URI's query string is
# passed through verbatim (Spark forwards unknown options to the driver as
# connection properties, which is what e.g. mysql's useSSL=false needs).
_JDBC_DEFAULT_FETCHSIZE = 10_000
_JDBC_DEFAULT_NUM_PARTITIONS = 32

# The engine's csv:// conventions — ONE definition shared by the batch reader
# below and the streaming tail (streaming/runner.py), so the two paths cannot
# desync on a log they must replay identically:
# - \N nulls: csv cannot otherwise tell NULL (delete-envelope payloads) from
#   "" (a legitimate transcript text);
# - multiLine: transcript text legitimately carries newlines (quoted by the
#   writer; the reader must parse whole files);
# - ISO-8601 'T' timestamps with OPTIONAL microseconds ([.SSSSSS]): the csv
#   default truncates to milliseconds, which LWW replay equality cannot
#   afford to lose, while second-precision producers still parse;
# - FAILFAST: a producer violating the convention (e.g. space-separated
#   timestamps) must fail the load LOUDLY — the permissive default would
#   silently load NULL payloads into LWW state (data corruption, not an
#   error).
CSV_OPTIONS: dict[str, str] = {
    "header": "true",
    "multiLine": "true",
    "nullValue": "\\N",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]",
    "mode": "FAILFAST",
}


def build_jdbc_options(
    uri: str,
    spec: IngestSpec | None = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Assemble the full Spark JDBC reader option map from a ``jdbc://`` URI.

    Reference contract: ``modules/data_sources/MsSqlDataSource.py::
    get_next_data_frame`` (SURVEY.md §2.1 S1) keyset-paginates with
    ``SELECT TOP(n) … WHERE pk > ? ORDER BY pk``; Spark's JDBC source
    replaces that with range-partitioned parallel reads —
    ``partitionColumn/lowerBound/upperBound/numPartitions`` is the exact
    analog of the reference's cursor loop, and ``fetchsize`` bounds per-task
    transfer the way the reference's batch_size bounded its pandas frames.

    URI shape: ``jdbc://<real-jdbc-url>?dbtable=schema.tbl&user=…`` — e.g.
    ``jdbc://jdbc:sqlserver://host:1433;databaseName=src?dbtable=dbo.t``.
    Interpreted keys: dbtable | query, user, password, driver, fetchsize,
    partitionColumn, lowerBound, upperBound, numPartitions. Credentials fall
    back to ``RDL_SPARK_JDBC_USER`` / ``RDL_SPARK_JDBC_PASSWORD`` env vars so
    specs checked into VCS never embed secrets.

    Pure option assembly — no SparkSession, no driver jar — so it is fully
    unit-testable in jar-less environments (tests/test_jdbc_source.py).
    """
    _, _, rest = uri.partition("://")
    url, _, qs = rest.partition("?")
    if not url.startswith("jdbc:"):
        raise ValueError(f"jdbc:// URI must wrap a real JDBC url, got {url!r}")
    opts: dict[str, str] = {"url": url}
    opts.update(parse_qsl(qs))

    if "dbtable" not in opts and "query" not in opts:
        raise ValueError(
            f"jdbc source needs dbtable= or query= in the URI query string: {uri!r}"
        )
    if "dbtable" in opts and "query" in opts:
        raise ValueError("dbtable= and query= are mutually exclusive")

    opts.setdefault("fetchsize", str(_JDBC_DEFAULT_FETCHSIZE))
    if "user" not in opts and os.environ.get("RDL_SPARK_JDBC_USER"):
        opts["user"] = os.environ["RDL_SPARK_JDBC_USER"]
    if "password" not in opts and os.environ.get("RDL_SPARK_JDBC_PASSWORD"):
        opts["password"] = os.environ["RDL_SPARK_JDBC_PASSWORD"]

    # parallel-read partitioning: default to the spec's change-version column
    # (monotone, dense — the ideal range key) unless the URI pins one
    if "partitionColumn" not in opts and spec is not None:
        opts["partitionColumn"] = spec.lsn_column
    if "partitionColumn" in opts:
        opts.setdefault(
            "numPartitions",
            str(num_partitions or _JDBC_DEFAULT_NUM_PARTITIONS),
        )
    return opts


def jdbc_bounds_query(opts: dict[str, str]) -> str:
    """Bounds-probe subquery for ``lowerBound``/``upperBound`` (pushed to the
    source database, one row back — the reference's CT version probe twin)."""
    col = opts["partitionColumn"]
    src = opts.get("dbtable") or f"({opts['query']}) q"
    return f"(SELECT min({col}) AS lo, max({col}) AS hi FROM {src}) bounds"


def jdbc_probe_options(opts: dict[str, str]) -> dict[str, str]:
    """Option map for the 1-row bounds probe: the real source swapped for the
    bounds subquery, and the WHOLE partition-option group dropped — Spark's
    JDBC source all-or-none-checks (partitionColumn, lowerBound, upperBound),
    so a URI pinning exactly one bound would otherwise make the probe itself
    throw before the real read ever plans."""
    probe = dict(opts)
    for k in ("dbtable", "query", "partitionColumn", "numPartitions",
              "lowerBound", "upperBound"):
        probe.pop(k, None)
    probe["dbtable"] = jdbc_bounds_query(opts)
    return probe


def read_jdbc(
    spark: SparkSession, uri: str, spec: IngestSpec | None = None
) -> DataFrame:
    """Partitioned JDBC scan; probes range bounds when the URI omits them.

    Needs the driver jar on the classpath, so it is exercised only where one
    exists; everything up to ``.load()`` (option assembly, bounds SQL) is
    unit-tested without one.
    """
    opts = build_jdbc_options(uri, spec)
    if "partitionColumn" in opts and (
        "lowerBound" not in opts or "upperBound" not in opts
    ):
        probe = jdbc_probe_options(opts)
        row = spark.read.format("jdbc").options(**probe).load().collect()[0]
        if row["lo"] is None:  # empty source table: no parallel read to plan
            for k in ("partitionColumn", "numPartitions", "lowerBound", "upperBound"):
                opts.pop(k, None)
        else:
            opts["lowerBound"] = str(row["lo"])
            opts["upperBound"] = str(row["hi"])
    return spark.read.format("jdbc").options(**opts).load()


def read_source(
    spark: SparkSession,
    uri: str,
    schema: T.StructType | None = None,
    spec: IngestSpec | None = None,
) -> DataFrame:
    """URI-scheme dispatch, the factory pattern of the reference's S5."""
    scheme, _, path = uri.partition("://")
    if scheme == "debezium":
        # Debezium JSON-lines change events (sources/debezium.py); the
        # envelope's row-image schema comes from the spec, so this scheme is
        # change-log-only (it has no meaning without a spec)
        if spec is None:
            raise ValueError("debezium:// sources need an IngestSpec")
        from relational_data_loader_spark.sources.debezium import parse_debezium

        return parse_debezium(spark.read.text(path), spec)
    if scheme == "kafka":
        # Debezium envelopes over their standard transport (sources/kafka.py);
        # batch mode = bounded offset-range backfill. Needs the
        # spark-sql-kafka connector jar (kafka_available gates).
        if spec is None:
            raise ValueError("kafka:// sources need an IngestSpec")
        from relational_data_loader_spark.sources.kafka import kafka_batch

        return kafka_batch(spark, uri, spec)
    if scheme == "parquet":
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(path)
    if scheme == "csv":
        r = spark.read.options(**CSV_OPTIONS)
        if schema is not None:
            r = r.schema(schema)
        else:
            r = r.option("inferSchema", "true")
        return r.csv(path)
    if scheme == "jdbc":
        return read_jdbc(spark, uri)
    raise ValueError(f"unknown source scheme {scheme!r} in {uri!r}")


def read_change_log(spark: SparkSession, spec: IngestSpec) -> DataFrame:
    """Batch scan of the LSN-ordered change log for this spec's source."""
    if spec.source.startswith("jdbc://"):
        # schema comes from the database; spec supplies the range-partition
        # column (the lsn) for the parallel read
        return read_jdbc(spark, spec.source, spec)
    schema = spec.change_schema()
    if spec.on_cast_error == "quarantine":
        # quarantine mode defers typing to the engine: the scan must
        # surface RAW wire values for the try_cast flags (a typed scan
        # fails — or silently coerces — exactly the rows the dead-letter
        # split exists to catch). Parquet is self-describing; text
        # sources read the payload as strings.
        schema = (
            None
            if spec.source.startswith("parquet://")
            else spec.untyped_change_schema()
        )
    return read_source(spark, spec.source, schema, spec)


@dataclass
class ChangeTrackingInfo:
    current_version: int       # max lsn present in the log
    min_valid_version: int     # min lsn retained in the log
    force_full: bool           # last synced < min valid ⇒ incremental unsafe


def change_tracking_info(
    log: DataFrame, last_synced: int, lsn_col: str = "lsn"
) -> ChangeTrackingInfo:
    """The reference's get_change_tracking_info (S3) over a log DataFrame.

    ``last_synced < min_valid - 1`` means the log head was truncated past our
    watermark: events we never applied are gone, so incremental apply would
    silently lose them — force a full refresh (SURVEY.md §1.3 invariant 6).
    """
    row = log.agg(
        F.max(lsn_col).alias("cur"), F.min(lsn_col).alias("mn")
    ).collect()[0]
    cur = row["cur"] if row["cur"] is not None else -1
    mn = row["mn"] if row["mn"] is not None else -1
    force = last_synced >= 0 and mn >= 0 and last_synced < mn - 1
    if last_synced < 0:
        force = True  # never synced ⇒ initial full load
    return ChangeTrackingInfo(cur, mn, force)
