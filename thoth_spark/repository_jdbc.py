"""JDBC metrics repository (embedded Apache Derby).

Second adapter of the repository port, mirroring the reference's RDBMS
store (the reference's ``thoth/repository.py:258-347`` — SQLModel over
SQLite/Postgres). Every public method comes from
:class:`thoth_spark.repository.RepositoryPort`, the contract the parquet
adapter implements too; this module supplies only the storage
primitives, persisting through Spark's JDBC source into an embedded
Derby database (Derby ships in Spark's own ``jars/``, so no extra
dependency). Swap the URL/driver for Postgres etc. on a real deployment.

Scale note: this adapter exists for dashboard/RDBMS parity. The tables
it holds are post-aggregation metrics (rows ∝ #metrics × #days — metadata
scale, not data scale), so "replace this dataset's rows" is a read of the
other datasets' rows and a whole-table overwrite; the parquet adapter
remains the partition-pruned path for large metric stores.

Derby/JDBC quirks handled here:

- Spark maps ``StringType`` to CLOB on Derby, and Derby refuses ``=``
  comparisons on CLOB — every string column is pinned to VARCHAR via
  ``createTableColumnTypes``;
- JDBC has no array type: the registry codec stores the dataset's
  ``columns`` list unit-separator-joined and re-splits it on read;
- a missing table (first use) reads as empty; any OTHER read error
  propagates — the no-data-loss contract of ``RepositoryPort._read``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thoth_spark.repository import RepositoryPort
from thoth_spark.session import release_checkpoints

_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

#: JDBC flat twin of the registry schema (array<string> → joined string)
_DATASETS_FLAT_SCHEMA = (
    "dataset_uri string, ts_column string, columns_joined string, granularity string"
)

_SEP = "\x1f"

#: explicit VARCHAR widths so Derby gets comparable/groupable columns
_COLUMN_TYPES = {
    "datasets": (
        "dataset_uri VARCHAR(512), ts_column VARCHAR(256),"
        " columns_joined VARCHAR(4096), granularity VARCHAR(32)"
    ),
    "metrics": (
        "dataset_uri VARCHAR(512), granularity VARCHAR(32), entity VARCHAR(64),"
        " instance VARCHAR(256), name VARCHAR(256)"
    ),
    "optimizations": (
        "dataset_uri VARCHAR(512), entity VARCHAR(64), instance VARCHAR(256),"
        " name VARCHAR(256), best_model_name VARCHAR(128)"
    ),
    "scorings": (
        "dataset_uri VARCHAR(512), entity VARCHAR(64), instance VARCHAR(256),"
        " name VARCHAR(256)"
    ),
}


#: JDBC URL scheme → driver class, for the URL-override path. Postgres
#: mirrors the reference's ``DATABASE_URL=postgresql+pg8000://...``
#: deployment knob (/root/reference/docker-compose.yaml,
#: thoth/service_layer.py:20-26) — the day a server exists, point
#: ``THOTH_SPARK_DATABASE_URL`` (or the ``url=`` argument) at it and no
#: code changes are needed. The Postgres JDBC driver jar must be on the
#: Spark classpath (``spark.jars``); it is not bundled here.
_DRIVERS_BY_SCHEME = {
    "jdbc:derby:": _DRIVER,
    "jdbc:postgresql:": "org.postgresql.Driver",
}


def _infer_driver(url: str) -> str | None:
    for scheme, driver in _DRIVERS_BY_SCHEME.items():
        if url.startswith(scheme):
            return driver
    return None


class JdbcMetricsRepository(RepositoryPort):
    """Derby-backed port of the reference's SqlRepository. Any other
    RDBMS is a URL away: pass ``url=`` (full JDBC URL, e.g.
    ``jdbc:postgresql://host/db?user=u&password=p``) or set
    ``THOTH_SPARK_DATABASE_URL`` — both beat ``db_path``; the driver
    class is inferred from the URL scheme (override with ``driver=``
    for schemes not in ``_DRIVERS_BY_SCHEME``)."""

    _REGISTRY_SCHEMA = _DATASETS_FLAT_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        db_path: str | None = None,
        url: str | None = None,
        driver: str | None = None,
    ):
        self.spark = spark
        env_url = os.environ.get("THOTH_SPARK_DATABASE_URL")
        if url or env_url:
            self.url = url or env_url
        elif db_path is not None:
            self.url = f"jdbc:derby:{db_path};create=true"
        else:
            raise ValueError(
                "JdbcMetricsRepository needs db_path, url=, or the "
                "THOTH_SPARK_DATABASE_URL environment variable"
            )
        self._driver = driver or _infer_driver(self.url)

    # -- storage primitives --------------------------------------------------

    def _with_driver(self, rw):
        """Attach the driver option when one is known; an unknown scheme
        lets Spark's JDBC source resolve the driver from the URL."""
        return rw.option("driver", self._driver) if self._driver else rw

    def _load(self, table: str) -> DataFrame | None:
        """The table as the database types it; None while it does not
        exist."""
        try:
            return (
                self._with_driver(
                    self.spark.read.format("jdbc").option("url", self.url)
                )
                .option("dbtable", table)
                .load()
            )
        except Exception as e:  # noqa: BLE001 — inspect & re-raise below
            msg = str(e)
            # Derby's table-missing error (first use); everything else
            # is a real failure that must propagate
            if "does not exist" in msg or "42X05" in msg:
                return None
            raise

    def _exists(self, table: str) -> bool:
        return self._load(table) is not None

    def _read(self, table: str, schema: str) -> DataFrame:
        df = self._load(table)
        expected = self._local_frame([], schema)
        if df is None:
            return expected
        return df.select(
            *[F.col(f.name).cast(f.dataType) for f in expected.schema.fields]
        )

    def _overwrite(self, df: DataFrame, table: str) -> None:
        """Replace the whole table (the frame is materialized first —
        JDBC can't read a table it is overwriting). The checkpoint's
        blocks are released once the write is done, not left for a JVM
        garbage collection to find."""
        materialized = df.localCheckpoint(eager=True)
        try:
            writer = (
                self._with_driver(
                    materialized.write.format("jdbc").option("url", self.url)
                )
                .option("dbtable", table)
                .mode("overwrite")
            )
            if table in _COLUMN_TYPES:
                writer = writer.option("createTableColumnTypes", _COLUMN_TYPES[table])
            writer.save()
        finally:
            release_checkpoints(materialized)

    def _replace_dataset_rows(
        self, table: str, schema: str, dataset_uri: str, rows: DataFrame
    ) -> None:
        others = self._read(table, schema).where(F.col("dataset_uri") != dataset_uri)
        self._overwrite(others.select(*rows.columns).unionByName(rows), table)

    # -- registry codec --------------------------------------------------------

    def _encode_dataset(self, dataset_uri, ts_column, columns, granularity) -> tuple:
        return (dataset_uri, ts_column, _SEP.join(columns), granularity)

    def _decode_dataset(self, row) -> dict:
        d = row.asDict()
        joined = d.pop("columns_joined")
        d["columns"] = joined.split(_SEP) if joined else []
        return d

    def _write_registry(self, registry: DataFrame) -> None:
        self._overwrite(registry, "datasets")
