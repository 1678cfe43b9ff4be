"""Table loaders for the test datasets (and any parquet directory).

The ``events.ts`` column has been written two different ways across
driver testdata generations: as nanosecond parquet timestamps (which
Spark's vectorized reader rejects unless read as raw int64 via
``spark.sql.legacy.parquet.nanosAsLong``) and as native microsecond
timestamps (``timestamp[us]``, which Spark reads directly as
TIMESTAMP_NTZ). The loaders here are dtype-robust: they read whatever
encoding is on disk and normalize ``ts`` to a plain session-timezone
TIMESTAMP (the session TZ is UTC — see session.py — so the NTZ→TZ cast
is value-identical). Reference analogue: the loaders in
thoth/testing/dataframe.py:43-52 take schemas as given rather than
assuming an encoding.

Predicate pushdown and column pruning still apply: the normalization is
a single projection on top of the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: timestamp columns per table that must be normalized to TIMESTAMP
_TS_COLUMNS = {"events": ["ts"]}

#: substrings identifying Spark's "can't convert nanosecond parquet
#: timestamps" schema error — anything else (missing file, permissions)
#: must propagate, not be masked as the nanosecond case.
_NANO_ERROR_MARKERS = ("Illegal Parquet type", "TIMESTAMP(NANOS", "nanosAsLong")


def _is_nano_schema_error(exc: Exception) -> bool:
    msg = str(exc)
    return any(m in msg for m in _NANO_ERROR_MARKERS)


def _read_parquet_ts_robust(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file whose timestamp columns may be stored as
    nanosecond INT64 (legacy driver testdata) or native timestamps.

    A plain read handles every native encoding (us/ms, NTZ or not). Only
    if schema inference rejects the file with the nanosecond-timestamp
    conversion error do we fall back to ``nanosAsLong`` — the conf is
    set just for schema capture and restored immediately; any other
    exception (missing file, permissions) propagates unchanged.
    """
    try:
        return spark.read.parquet(path)
    except Exception as exc:
        if not _is_nano_schema_error(exc):
            raise
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            return spark.read.parquet(path)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def _normalize_ts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize each named column to session-timezone TIMESTAMP.

    - LongType (nanosAsLong int64 nanos) → exact integer ``DIV 1000`` to
      micros, no double rounding;
    - TIMESTAMP_NTZ (native timestamp[us] parquet) → cast to TIMESTAMP
      (value-identical under the UTC session TZ);
    - already TIMESTAMP → untouched.
    """
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, normalizing timestamp columns (dtype-aware)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts_cols = _TS_COLUMNS.get(name, [])
    if not ts_cols:
        return spark.read.parquet(path)
    return _normalize_ts(_read_parquet_ts_robust(spark, path), ts_cols)


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load_table(..., "events")``: a readStream over
    the events parquet with the same dtype-robust ``ts`` normalization.

    The schema is captured from a batch read (cheap footer-only job). In
    the legacy nanosecond case the ``nanosAsLong`` conf must also be
    active while the stream's micro-batches scan the file — so that path
    builds the stream on a CLONED session (``spark.newSession()`` shares
    the SparkContext but has isolated SQL conf) with the conf enabled,
    leaving the caller's session conf untouched. Non-nano files take the
    plain path on the caller's own session.
    """
    path = os.path.join(sf_dir, "events.parquet")
    reader = spark
    try:
        raw_schema = spark.read.parquet(path).schema
    except Exception as exc:
        if not _is_nano_schema_error(exc):
            raise
        reader = spark.newSession()
        reader.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw_schema = reader.read.parquet(path).schema
    stream = (
        reader.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(stream, ["ts"])
