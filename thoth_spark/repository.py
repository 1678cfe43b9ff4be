"""Metrics repository: one contract, two storage adapters.

Spark-native replacement for the reference's SQLModel/RDBMS store
(the reference's ``thoth/repository.py:258-347``). :class:`RepositoryPort`
holds, once for both adapters, every method body that does not touch
storage: the registration and granularity validation of
``add_profiling``, the column projections, the upsert of metrics and
scorings by ``(dataset_uri, ts)``, the replace-by-dataset of
optimizations, the range scans and the point lookups. An adapter
supplies only the storage primitives declared on the port: ``_read``,
``_exists``, ``_replace_dataset_rows`` and the registry row codec.

Every frame here is metric-sized (rows ∝ #metrics × #timestamps), so
the port computes each input once and keeps each step in as few Spark
jobs as it can: an upsert reads its new rows once, inside the job that
writes them, and a range scan sorts one dataset in one task.

:class:`MetricsRepository` (here) stores parquet tables partitioned by
``dataset_uri``: every per-dataset read prunes to one partition
directory and a write replaces only the touched partition, reading it
in the same job (dynamic partition overwrite; ``MERGE INTO`` on a
Delta/Iceberg cluster).
:class:`thoth_spark.repository_jdbc.JdbcMetricsRepository` stores the
same tables in an RDBMS.

Tables under ``base_path``:

- ``datasets``   — registry: (dataset_uri, ts_column, columns, granularity)
- ``metrics``    — (dataset_uri, ts, granularity, entity, instance, name, value)
- ``optimizations`` — per-metric best model + threshold (+ confidence)
- ``scorings``   — (dataset_uri, ts, entity, instance, name, predicted, error)
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_METRICS_SCHEMA = (
    "dataset_uri string, ts timestamp, granularity string, entity string,"
    " instance string, name string, value double"
)
_DATASETS_SCHEMA = (
    "dataset_uri string, ts_column string, columns array<string>, granularity string"
)
_OPT_SCHEMA = (
    "dataset_uri string, entity string, instance string, name string,"
    " best_model_name string, threshold double, mean_error double,"
    " below_threshold_proportion double, confidence double"
)
_SCORING_SCHEMA = (
    "dataset_uri string, ts timestamp, entity string, instance string,"
    " name string, value double, predicted double, error double"
)


class DatasetValidationError(Exception):
    """Profiling data inconsistent with the registered dataset metadata
    (parity with the reference's ``_validate_profiling_records``,
    ``repository.py:28-55``)."""


class RepositoryPort(ABC):
    """The reference's AbstractRepository: the storage-independent half
    of both adapters (see the module docstring for the primitives an
    adapter supplies)."""

    spark: SparkSession
    #: the registry as stored; the default codec keeps ``columns`` an array
    _REGISTRY_SCHEMA = _DATASETS_SCHEMA

    # -- storage primitives ----------------------------------------------------

    @abstractmethod
    def _read(self, table: str, schema: str) -> DataFrame:
        """The whole table; empty while it does not exist. Any OTHER read
        error must propagate: the upserts are read-merge-write, so
        treating a transient or corruption failure as "empty" would
        replace stored history with only the new batch — a data-loss bug,
        not a recoverable condition."""

    @abstractmethod
    def _exists(self, table: str) -> bool:
        """Whether the table has been written."""

    @abstractmethod
    def _replace_dataset_rows(
        self, table: str, schema: str, dataset_uri: str, rows: DataFrame
    ) -> None:
        """Make ``rows`` the dataset's whole content of ``table``; every
        other dataset's rows stay as they are."""

    @abstractmethod
    def _write_registry(self, registry: DataFrame) -> None:
        """Overwrite the registry table with ``registry``."""

    def _encode_dataset(self, dataset_uri, ts_column, columns, granularity) -> tuple:
        return (dataset_uri, ts_column, list(columns), granularity)

    def _decode_dataset(self, row) -> dict:
        return row.asDict()

    # -- dataset registry ------------------------------------------------------

    def registry_exists(self) -> bool:
        """True once a dataset has been registered — the reference's
        ``is_db_initialized`` checks for its ``dataset`` table."""
        return self._exists("datasets")

    def add_dataset(
        self,
        dataset_uri: str,
        ts_column: str,
        columns: list[str],
        granularity: str = "DAY",
    ) -> None:
        """Upsert dataset metadata by uri."""
        # registry is tiny — collect, replace, rewrite
        rows = [
            tuple(r)
            for r in self._read("datasets", self._REGISTRY_SCHEMA).collect()
            if r["dataset_uri"] != dataset_uri
        ]
        rows.append(self._encode_dataset(dataset_uri, ts_column, columns, granularity))
        self._write_registry(self.spark.createDataFrame(rows, self._REGISTRY_SCHEMA))

    def get_dataset(self, dataset_uri: str) -> dict | None:
        rows = (
            self._read("datasets", self._REGISTRY_SCHEMA)
            .where(F.col("dataset_uri") == dataset_uri)
            .collect()
        )
        return self._decode_dataset(rows[0]) if rows else None

    def get_datasets(self) -> list[dict]:
        return [
            self._decode_dataset(r)
            for r in self._read("datasets", self._REGISTRY_SCHEMA)
            .orderBy("dataset_uri")
            .collect()
        ]

    # -- shared read/write shapes ----------------------------------------------

    def _upsert_by_ts(
        self, table: str, schema: str, dataset_uri: str, new: DataFrame
    ) -> None:
        """Keep the dataset's stored rows at every ts that ``new`` does
        not carry, replace the rest.

        The stored rows and ``new`` meet in one partition, where a window
        over ts keeps a stored row only when no new row shares its ts.
        One partition is clustered by any key, so the window plans no
        exchange; ``new`` is read once, inside the job that writes it, so
        a lazy profile under it runs once, and no job materializes it or
        broadcasts its ts set first. A null ts is a key like any other."""
        existing = self._read(table, schema).where(F.col("dataset_uri") == dataset_uri)
        replaced = F.max("__new__").over(Window.partitionBy("ts"))
        rows = (
            existing.select(*new.columns, F.lit(False).alias("__new__"))
            .unionByName(new.withColumn("__new__", F.lit(True)))
            .coalesce(1)
            .withColumn("__keep__", F.col("__new__") | ~replaced)
            .where("__keep__")
            .select(*new.columns)
        )
        self._replace_dataset_rows(table, schema, dataset_uri, rows)

    def _scan(self, table: str, schema: str, dataset_uri: str, start_ts, end_ts) -> DataFrame:
        """Closed-interval range scan of one dataset, sorted by ts. One
        dataset's rows are metric-sized, so they are sorted in one task:
        a global ``orderBy`` would add a range-sampling job and a shuffle."""
        df = self._read(table, schema).where(F.col("dataset_uri") == dataset_uri)
        if start_ts is not None:
            df = df.where(F.col("ts") >= F.lit(start_ts))
        if end_ts is not None:
            df = df.where(F.col("ts") <= F.lit(end_ts))
        return df.coalesce(1).sortWithinPartitions("ts")

    def _lookup(self, table: str, schema: str, dataset_uri: str, ts) -> DataFrame:
        return self._read(table, schema).where(
            (F.col("dataset_uri") == dataset_uri) & (F.col("ts") == F.lit(ts))
        )

    # -- profiling metrics -------------------------------------------------------

    def add_profiling(
        self,
        dataset_uri: str,
        metrics_df: DataFrame,
        granularity: str = "DAY",
        dataset: dict | None = None,
    ) -> None:
        """Upsert metric rows by (dataset_uri, ts): re-profiling the same
        timestamp replaces the previous report — the reference's tested
        re-assessment semantics (``service_layer.py:481-486``).

        ``dataset`` is the registration record when the caller has just
        read it (the service profiles with it); it is read here otherwise."""
        if dataset is None:
            dataset = self.get_dataset(dataset_uri)
        if dataset is None:
            raise DatasetValidationError(
                f"Dataset '{dataset_uri}' is not registered; call add_dataset first."
            )
        if dataset["granularity"] != granularity:
            raise DatasetValidationError(
                f"Granularity mismatch: registered {dataset['granularity']},"
                f" got {granularity}."
            )
        new = metrics_df.select(
            F.lit(dataset_uri).alias("dataset_uri"),
            "ts",
            F.lit(granularity).alias("granularity"),
            "entity",
            "instance",
            "name",
            F.col("value").cast("double"),
        )
        self._upsert_by_ts("metrics", _METRICS_SCHEMA, dataset_uri, new)

    def select_profiling(
        self, dataset_uri: str, start_ts=None, end_ts=None
    ) -> DataFrame:
        """Closed-interval range scan (reference ``repository.py:294-303``)."""
        return self._scan("metrics", _METRICS_SCHEMA, dataset_uri, start_ts, end_ts)

    def get_profiling(self, dataset_uri: str, ts) -> DataFrame:
        """Point lookup of one profiling report (the reference addresses it
        by ``sha1(uri + ts.isoformat())`` — ``profiler.py:198-204``; the
        natural key (uri, ts) is the same identity without the digest)."""
        return self._lookup("metrics", _METRICS_SCHEMA, dataset_uri, ts)

    # -- optimizations -------------------------------------------------------------

    def add_optimization(
        self, dataset_uri: str, optimization_df: DataFrame, confidence: float
    ) -> None:
        """Replace the dataset's optimization (one per dataset)."""
        new = optimization_df.select(
            F.lit(dataset_uri).alias("dataset_uri"),
            "entity",
            "instance",
            "name",
            "best_model_name",
            F.col("threshold").cast("double"),
            F.col("mean_error").cast("double"),
            F.col("below_threshold_proportion").cast("double"),
            F.lit(confidence).alias("confidence"),
        )
        self._replace_dataset_rows("optimizations", _OPT_SCHEMA, dataset_uri, new)

    def get_optimization(self, dataset_uri: str) -> DataFrame:
        return self._read("optimizations", _OPT_SCHEMA).where(
            F.col("dataset_uri") == dataset_uri
        )

    # -- scorings -------------------------------------------------------------------

    def add_scoring(self, dataset_uri: str, scoring_df: DataFrame) -> None:
        """Upsert by (dataset_uri, ts)."""
        new = scoring_df.select(
            F.lit(dataset_uri).alias("dataset_uri"),
            "ts",
            "entity",
            "instance",
            "name",
            F.col("value").cast("double"),
            F.col("predicted").cast("double"),
            F.col("error").cast("double"),
        )
        self._upsert_by_ts("scorings", _SCORING_SCHEMA, dataset_uri, new)

    def get_scoring(self, dataset_uri: str, ts) -> DataFrame:
        """Point lookup of one scoring event (reference ``scoring.py:38-40``
        sha1 id ≙ natural key (uri, ts))."""
        return self._lookup("scorings", _SCORING_SCHEMA, dataset_uri, ts)

    def select_scoring(self, dataset_uri: str, start_ts=None, end_ts=None) -> DataFrame:
        return self._scan("scorings", _SCORING_SCHEMA, dataset_uri, start_ts, end_ts)


class MetricsRepository(RepositoryPort):
    """Parquet adapter: tables partitioned by ``dataset_uri``."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path

    def _path(self, table: str) -> str:
        return os.path.join(self.base_path, table)

    def _read(self, table: str, schema: str) -> DataFrame:
        if not self._exists(table):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(self._path(table))

    def _exists(self, table: str) -> bool:
        """Through Hadoop's FileSystem API so it works on any supported
        filesystem (local, HDFS, object stores), not just the driver's
        local disk."""
        jvm = self.spark.sparkContext._jvm
        jsc = self.spark.sparkContext._jsc
        hadoop_path = jvm.org.apache.hadoop.fs.Path(self._path(table))
        fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
        return bool(fs.exists(hadoop_path))

    def _replace_dataset_rows(
        self, table: str, schema: str, dataset_uri: str, rows: DataFrame
    ) -> None:
        """Dynamic partition overwrite of the ``dataset_uri`` partition
        (Delta equivalent: MERGE INTO ... ON dataset_uri AND key), set on
        the writer so the session's overwrite mode does not matter.

        ``rows`` may read the very partition it replaces (the upserts
        do). Only a static overwrite deletes the target before the job
        runs; a dynamic one stages its files and swaps the partition in
        at job commit, after every read has finished, so no
        materialization is needed first. All rows belong to one dataset:
        one task writes them as one file."""
        (
            rows.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dataset_uri")
            .parquet(self._path(table))
        )

    def _write_registry(self, registry: DataFrame) -> None:
        registry.coalesce(1).write.mode("overwrite").parquet(self._path("datasets"))
