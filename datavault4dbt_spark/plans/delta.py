"""Delta Lake-backed table store behind the ParquetStore interface.

The reference materializes every incremental entity as a warehouse
table and cleans PITs with targeted DELETE (reference:
macros/hooks/clean_up_pits.sql:128-137); ``ParquetStore`` reproduces
that with hive-partition drops and temp-and-swap rewrites. This module
is the production storage story: the same store interface over Delta
Lake, where

- ``append`` / ``overwrite`` are transactional log commits (no swap
  dance, no repair()/crash-window protocol needed),
- ``delete_where`` is a native ``DeltaTable.delete`` — with a
  predicate on partition columns Delta rewrites nothing and commits a
  metadata-only remove-file action, which is exactly what the
  ParquetStore hive fast path emulates,
- deleted-row counts come from the commit's operation metrics
  (``numDeletedRows``), so ``clean_up_pit`` never scans the PIT to
  report its work.

``delta-spark`` is not baked into this container, so everything is
gated behind an import-try; ``make_store`` falls back to ParquetStore.
The Spark session must carry the Delta extensions
(``configure_delta_session_builder``) — a plain session silently lacks
the DELETE/MERGE SQL surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT  # noqa: F401 (interface parity)
from .incremental import ParquetStore, listing_token


def delta_available() -> bool:
    try:
        import delta  # noqa: F401
        return True
    except ImportError:
        return False


def configure_delta_session_builder(builder):
    """Add the Delta extensions + catalog to a SparkSession builder
    (public pattern: delta.io quickstart). Raises ImportError when
    delta-spark is absent — callers decide whether to fall back."""
    from delta import configure_spark_with_delta_pip

    builder = (builder
               .config("spark.sql.extensions",
                       "io.delta.sql.DeltaSparkSessionExtension")
               .config("spark.sql.catalog.spark_catalog",
                       "org.apache.spark.sql.delta.catalog.DeltaCatalog"))
    return configure_spark_with_delta_pip(builder)


class DeltaStore(ParquetStore):
    """Insert-only table store over a directory of Delta tables.

    Inherits the ParquetStore interface; every override swaps a
    filesystem protocol for a Delta transaction. Storage layout is one
    Delta table per entity under ``root`` (path-addressed, no
    metastore), so the two stores are drop-in interchangeable for
    `run_pipeline` / `run_replay` / `clean_up_pit`.
    """

    # clean_up_pit: delete_where returns the deleted-row count from the
    # commit's operation metrics — no before/after count scans needed.
    DELETE_RETURNS_METRICS = True

    def __init__(self, spark, root: str):
        from delta.tables import DeltaTable  # ImportError when absent
        self._DeltaTable = DeltaTable
        super().__init__(spark, root)

    # -- protocol points that are no-ops under a transaction log ------
    def _check_recovered(self, name: str):
        """Delta commits are atomic: a crashed write never becomes
        visible, so there is no swap crash window to detect."""

    def repair(self, name: str):
        """No-op: nothing to restore — the inherited rename/rmtree
        protocol must never run against a Delta table path."""

    def exists(self, name: str) -> bool:
        return self._DeltaTable.isDeltaTable(self.spark, self.path(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.format("delta").load(self.path(name))

    def listing(self, name: str) -> str | None:
        """Token of the table's transaction log: every commit (an empty
        append too) adds a log file and so changes it."""
        import os
        return listing_token(os.path.join(self.path(name), "_delta_log"))

    def append(self, name: str, df: DataFrame, partition_by: tuple = ()):
        w = df.write.format("delta").mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.path(name))

    def overwrite(self, name: str, df: DataFrame, partition_by: tuple = ()):
        """Transactional replace — readers of the old version are
        unaffected mid-write; no temp-and-swap, no read-own-path
        hazard (Delta snapshots the version at plan time)."""
        w = (df.write.format("delta").mode("overwrite")
             .option("overwriteSchema", "true"))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.path(name))

    def _num_files(self, name: str) -> int:
        t = self._DeltaTable.forPath(self.spark, self.path(name))
        return int(t.detail().select("numFiles").first()[0])

    def compact(self, name: str, partition_by: tuple = ()) -> int:
        """Native OPTIMIZE bin-packing compaction: no table rewrite, no
        reader interruption (Delta swaps files transactionally). On
        engine versions without the optimize API, fall back to a
        TRANSACTIONAL read-then-overwrite through this class's own
        ``overwrite`` — never the parquet directory swap, which would
        strip the _delta_log and brick the table. File count comes from
        table metadata (``detail().numFiles``), not a data scan."""
        t = self._DeltaTable.forPath(self.spark, self.path(name))
        if hasattr(t, "optimize"):
            t.optimize().executeCompaction()
        else:
            self.overwrite(name, self.read(name), partition_by=partition_by)
        return self._num_files(name)

    def cluster(self, name: str, order_by: tuple, n_files: int = 0,
                partition_by: tuple = ()) -> int:
        """Native OPTIMIZE ZORDER when the engine exposes it (multi-
        dimensional locality, transactional swap); otherwise the
        range-cluster rewrite through this class's TRANSACTIONAL
        ``overwrite`` (same reasoning as ``compact``'s fallback — the
        parquet directory swap would strip the _delta_log)."""
        if not order_by:
            raise ValueError("cluster() needs at least one order_by col")
        t = self._DeltaTable.forPath(self.spark, self.path(name))
        if hasattr(t, "optimize"):
            t.optimize().executeZOrderBy(*order_by)
        else:
            df = self.read(name)
            df = (df.repartitionByRange(n_files, *order_by) if n_files
                  else df.repartitionByRange(*order_by))
            self.overwrite(name, df.sortWithinPartitions(*order_by),
                           partition_by=partition_by)
        return self._num_files(name)

    def delete_where(self, name: str, condition) -> int:
        """Native targeted DELETE. With a partition-column predicate
        Delta drops whole files from the log (metadata-only); otherwise
        it rewrites only the files containing matches. Returns rows
        deleted, from the commit's operation metrics.

        The metrics read is guarded: if the latest history entry is not
        a DELETE (a concurrent writer committed in between) or the
        engine omitted numDeletedRows, this raises instead of returning
        a silently wrong 0 — callers that don't need the count can
        ignore the exception path by not racing writers during
        maintenance windows (the reference's cleanup assumption too)."""
        t = self._DeltaTable.forPath(self.spark, self.path(name))
        pre = t.history(1).select("version").first()
        pre_version = pre[0] if pre else -1
        t.delete(condition)
        last = t.history(1).select("version", "operation",
                                   "operationMetrics").first()
        # Delta skips committing empty transactions: a DELETE matching
        # zero rows leaves the version unchanged (idempotent cleanup
        # reruns land here) — that IS the count, not a race
        if last is not None and last[0] == pre_version:
            return 0
        if last is None or last[1] != "DELETE":
            raise RuntimeError(
                f"delete_where({name}): latest commit is "
                f"{last[1] if last else 'absent'!r}, not the DELETE just "
                f"issued — concurrent writer? Deleted-count unavailable.")
        metrics = last[2] or {}
        if "numDeletedRows" not in metrics:
            raise RuntimeError(
                f"delete_where({name}): DELETE commit reported no "
                f"numDeletedRows metric on this engine version; count "
                f"rows around delete_where instead of relying on it")
        return int(metrics["numDeletedRows"])

    # -- hive-layout protocol: superseded by native DELETE ------------
    def partitions(self, name: str, col: str) -> dict:
        """Always empty: the hive directory-drop fast path exists to
        emulate what Delta's partition-predicate DELETE does natively,
        so `clean_up_pit` must route to `delete_where` here."""
        return {}

    def has_flat_files(self, name: str) -> bool:
        return False

    def drop_partitions(self, name: str, col: str, values) -> int:
        """Partition drop as a native delete (metadata-only commit).
        Matches the ParquetStore contract: returns the number of
        requested values actually PRESENT (a partition-pruned distinct
        over the partition column, answered from file metadata), not
        the number requested."""
        vals = list(values)
        if not vals:
            return 0
        present = (self.read(name).filter(F.col(col).isin(vals))
                   .select(col).distinct().count())
        self.delete_where(name, F.col(col).isin(vals))
        return present

    def partition_row_count(self, name: str, dirs) -> int:
        raise ValueError(
            "DeltaStore has no hive partition directories; deleted-row "
            "counts come from delete_where's operation metrics")


def make_store(spark, root: str, prefer: str = "auto"):
    """Store factory: ``auto`` uses Delta when delta-spark is importable
    AND the session carries the Delta extension, else ParquetStore;
    ``delta`` requires Delta (raises); ``parquet`` forces the fallback."""
    if prefer not in ("auto", "delta", "parquet"):
        raise ValueError(f"prefer must be auto|delta|parquet, got {prefer!r}")
    if prefer == "parquet":
        return ParquetStore(spark, root)
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        if "DeltaSparkSessionExtension" not in ext:
            raise ImportError(
                "session lacks DeltaSparkSessionExtension "
                "(use configure_delta_session_builder)")
        return DeltaStore(spark, root)
    except ImportError:
        if prefer == "delta":
            raise
        return ParquetStore(spark, root)
