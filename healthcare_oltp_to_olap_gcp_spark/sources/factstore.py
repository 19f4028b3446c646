"""Versioned-parquet fact store: the MERGE sink of the streaming fact
path (streaming/pipeline.incremental_fact_sink) and of the refresh
cycle's incremental fact.

This environment ships no lakehouse jars, so transactional MERGE is
emulated over plain parquet: each merge writes a complete new ``v=N``
snapshot directory and readers take the max version (poor-man's
snapshot isolation; old versions pruned past ``RETAIN_VERSIONS``).
Each snapshot carries the schema it was written with as
``v=N/_schema.json`` (sources/known_schema), so reading the live
snapshot, in ``read`` and at the start of every merge, runs no
schema-inference job; a snapshot without the file (one copied in as
``v=0``) is read with inference. Correct on any Hadoop filesystem, but
every merge rewrites the full store — fine for the test corpus,
O(store) per batch at warehouse scale.

A lakehouse store (a Delta Lake or Iceberg table) plugs in through
``incremental_fact_sink(..., store=...)``: any object with the same
``read(spark)`` and ``merge(delta, key, order, batch_id)`` methods.
With a real table format the merge becomes transactional and touches
only the files holding matched keys (data-skipping on the join key),
so the per-batch cost drops from O(store) to O(delta ∪ matched files)
— the property that makes 10-minute-cadence replication viable at
100 TB. Snapshot isolation and time travel then come from the table
log instead of ``v=N`` directories; concurrent writers are arbitrated
by optimistic commit instead of being forbidden; compaction/clustering
(OPTIMIZE / rewrite_data_files) replaces sources/compact.py; and the
CDC diff (operators/merge.snapshot_diff) can read the table's own
change feed instead of comparing snapshots. The PLAN SHAPE of every
operator in this repo is unchanged — only the sink/source commit
mechanics move.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..functions.rank import top_k
from .known_schema import read_parquet, save_schema


class VersionedParquetStore:
    """Snapshot-versioned parquet store: the jar-free MERGE emulation."""

    # Newest version = the live snapshot; one predecessor kept so an
    # in-flight reader of the previous max never loses its files mid-scan.
    RETAIN_VERSIONS = 2

    def __init__(self, store_dir: str):
        self.store_dir = store_dir

    def _fs_and_versions(self, spark: SparkSession):
        """List v=N child dirs through the Hadoop FileSystem API, so the
        store can live on any supported filesystem (local, HDFS, GCS,
        S3), not just a driver-local path."""
        path = spark._jvm.org.apache.hadoop.fs.Path(self.store_dir)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return fs, []
        versions = []
        for status in fs.listStatus(path):
            name = status.getPath().getName()
            if name.startswith("v="):
                try:
                    versions.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
        return fs, versions

    def _prune_versions(self, spark: SparkSession) -> None:
        fs, versions = self._fs_and_versions(spark)
        Path = spark._jvm.org.apache.hadoop.fs.Path
        for v in sorted(versions)[: -self.RETAIN_VERSIONS]:
            fs.delete(Path(f"{self.store_dir}/v={v}"), True)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Live snapshot (max version dir), or None before the first merge."""
        _, versions = self._fs_and_versions(spark)
        if not versions:
            return None
        return read_parquet(spark, f"{self.store_dir}/v={max(versions)}")

    def merge(self, delta: DataFrame, key: str, order: tuple[Column, ...],
              batch_id: int) -> None:
        """Upsert ``delta``, keeping per ``key`` the first row under
        ``order`` across store ∪ delta (newest-wins dedup)."""
        spark = delta.sparkSession
        current = self.read(spark)
        merged = delta if current is None else current.unionByName(delta)
        out = top_k(merged, [key], order, 1)
        snapshot = f"{self.store_dir}/v={batch_id}"
        out.write.mode("overwrite").parquet(snapshot)
        save_schema(out, snapshot)
        self._prune_versions(spark)
