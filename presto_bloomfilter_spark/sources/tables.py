"""Loaders for the driver-generated testdata tables (TESTDATA.md).

Keep scans narrow: callers should ``.select`` only needed columns so
Catalyst pushes column pruning into the parquet reader.
"""

from __future__ import annotations

import os

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark, sf_dir: str, name: str):
    if name not in TABLES:
        raise ValueError(f"unknown table {name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_source(spark, source: str, snapshot_id: int | str | None = None):
    """Load the north-rule input table from either backend:

    - ``"iceberg:<catalog.db.table>"`` — an Iceberg table, optionally
      pinned to ``snapshot_id`` (time-travel read: the SAME rows on
      every retry/resume; resumable builds take parquet files or a
      Delta snapshot instead, see ``store.incremental_aggregate``);
    - any other string — a parquet path (this sandbox's testdata; the
      production layout is identical minus the catalog).

    The Iceberg branch needs the iceberg-spark runtime on the
    classpath; without it Spark raises its normal data-source-not-found
    error at load time — no silent fallback to a different table.
    """
    if source.startswith("iceberg:"):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(source[len("iceberg:"):])
    if snapshot_id is not None:
        raise ValueError(
            "snapshot_id requires an 'iceberg:' source; parquet paths "
            "have no snapshot log (pin a path-per-snapshot instead)")
    return spark.read.parquet(source)


def _quarantine_schema(schema, corrupt_col: str):
    """Validate/normalize the caller's schema and append the corrupt
    column — THE shared ingestion contract of load_jsonl/load_csv: an
    explicit schema (inference would scan the input twice; at 100 TB
    that doubles ingest I/O, so these loaders refuse to infer) plus a
    PERMISSIVE corrupt-line column so one bad crawl record cannot kill
    a million-task ingest."""
    from pyspark.sql.types import StringType, StructType

    if schema is None:
        raise ValueError(
            "schema is required: inference would scan the input twice "
            "(pass the DDL string for the expected layout)")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(schema, StructType):
        raise ValueError(f"schema must be a StructType/DDL string, got {schema}")
    if corrupt_col not in schema.fieldNames():
        # StructType.add mutates in place — copy so the caller's schema
        # object doesn't silently grow a _corrupt_record field
        schema = StructType(list(schema.fields)).add(corrupt_col, StringType())
    return schema


def load_jsonl(spark, path: str, schema, corrupt_col: str = "_corrupt_record"):
    """Schema-enforced JSONL ingestion with corrupt-line quarantine —
    the raw-crawl entry point (web dumps arrive as JSONL long before
    they are parquet).  See ``_quarantine_schema`` for the shared
    contract and ``split_corrupt`` to fork clean rows from the
    quarantine stream (write the quarantine out for inspection rather
    than dropping it silently).

    Scale notes: JSON has no column pruning or predicate pushdown
    (every byte of every line is parsed) — ingest once, convert to
    parquet, and run the pipeline on the parquet.  Files split by line
    boundaries, so parallelism follows file count/size as usual.
    """
    schema = _quarantine_schema(schema, corrupt_col)
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def load_csv(spark, path: str, schema, sep: str = ",", header: bool = True,
             corrupt_col: str = "_corrupt_record",
             null_value: str | None = None):
    """Schema-enforced CSV/TSV ingestion with corrupt-line quarantine —
    same contract as ``load_jsonl`` (explicit schema, PERMISSIVE,
    malformed/arity-mismatched lines land whole in ``corrupt_col``).
    For TSV label/metadata files pass ``sep="\\t"``.

    NULL vs empty string: CSV cannot distinguish them without a
    convention.  Spark's default (``null_value=None`` here) reads BOTH
    an unquoted empty field and a quoted ``\"\"`` as NULL — empty
    strings silently become NULLs on the clean side.  When the
    producer writes nulls as a sentinel (e.g. Spark writer
    ``option(\"nullValue\", \"\\\\N\")``), pass the same sentinel as
    ``null_value`` and empty strings round-trip faithfully (the
    ``csv_ingest`` gate value-checks exactly this recipe, including
    quotes/commas/edge whitespace).  Note the WRITER side must also
    disable its default edge-whitespace trimming to preserve padding.

    Same scale posture as JSONL: no pruning/pushdown into the text
    scan — ingest once, convert to parquet.  Multiline (embedded
    newline) records are NOT enabled: multiline CSV defeats line-split
    parallelism; such rows parse as arity mismatches and land in the
    quarantine — pre-clean them upstream instead.
    """
    schema = _quarantine_schema(schema, corrupt_col)
    reader = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("sep", sep)
        .option("header", str(bool(header)).lower())
        .option("enforceSchema", "false")
    )
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    return reader.csv(path)


def split_corrupt(df, corrupt_col: str = "_corrupt_record"):
    """Fork a PERMISSIVE-read DataFrame into (clean, quarantine):
    clean rows with the corrupt column dropped, quarantined full rows
    (data columns NULL, raw line in ``corrupt_col``).  Both sides are
    lazy projections of the same scan.  The quarantine keeps every
    column because Spark disallows queries over a raw JSON scan that
    reference ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).

    The same restriction bites a bare ``.count()`` on either side:
    column pruning leaves only the corrupt column in the scan and
    Spark raises.  Count via a query that keeps a data column (e.g.
    ``clean.select("id").collect()`` / an aggregation over real
    columns), or ``.cache()`` the loaded frame first — Spark's own
    documented workaround."""
    from pyspark.sql import functions as F

    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return clean, bad
