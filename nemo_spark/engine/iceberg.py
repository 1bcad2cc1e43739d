"""Iceberg-backed storage, behind a runtime feature probe.

The north-rule storage substrate is an Iceberg catalog: fixpoint snapshots
as Iceberg table versions. No Iceberg runtime jar ships with this package,
so everything here is gated on :func:`iceberg_available`: with the jar + a
configured catalog the Iceberg store activates; without, callers keep the
parquet stand-in ``CheckpointStore``, whose layout mirrors Iceberg's
snapshot model (see COVERAGE.md).

To activate on a cluster::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.nemo=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.nemo.type=hadoop \
      --conf spark.sql.catalog.nemo.warehouse=<dfs path> ...

then ``IcebergCheckpointStore(spark, catalog="nemo")`` is a drop-in for
``CheckpointStore`` (same snapshot/load/lineage/metrics surface, asserted
by tests that skip when the jar is absent).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True when the Iceberg Spark runtime is on the classpath (and, if
    ``catalog`` is given, that catalog is configured)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    if catalog is not None:
        try:
            return spark.conf.get(f"spark.sql.catalog.{catalog}") is not None
        except Exception:
            return False
    return True


class IcebergCheckpointStore:
    """`CheckpointStore`-shaped snapshot store over an Iceberg catalog.

    Mapping: one Iceberg table per snapshot name under
    ``<catalog>.<namespace>``; ``snapshot(name, df, step)`` replaces the
    table (one Iceberg snapshot per fixpoint step — history stays queryable
    via ``VERSION AS OF``); lineage and metrics land in sibling tables so a
    resumed run can audit per-partition row counts exactly like the parquet
    store's ``_lineage`` directory."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "nemo_ckpt") -> None:
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"Iceberg runtime/catalog '{catalog}' not available; "
                "use engine.checkpoint.CheckpointStore (parquet) instead"
            )
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _tbl(self, name: str) -> str:
        import hashlib
        import re

        safe = re.sub("[^A-Za-z0-9_]", "_", name)
        if safe != name:
            # collision-safe: 'stage.a' and 'stage a' must not share one
            # table while meta/lineage keep them distinct
            hashed = f"{self.prefix}.{safe}_{hashlib.md5(name.encode()).hexdigest()[:8]}"
            # legacy warehouses (pre-hash naming) keep resolving: only fall
            # back when the hashed table is absent AND the plain one exists
            if not self.spark.catalog.tableExists(hashed) and self.spark.catalog.tableExists(
                f"{self.prefix}.{safe}"
            ):
                return f"{self.prefix}.{safe}"
            return hashed
        return f"{self.prefix}.{safe}"

    def snapshot(self, name: str, df: DataFrame, step: int, metrics: dict | None = None) -> DataFrame:
        t0 = time.time()
        tbl = self._tbl(name)
        df.writeTo(tbl).createOrReplace()
        out = self.spark.table(tbl)
        # one scan total: collect the per-partition counts, write the tiny
        # lineage rows from the driver, and reuse their sum for meta rows
        lineage_rows = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        lineage = self.spark.createDataFrame(
            [(name, step, r["partition_id"], r["rows"]) for r in lineage_rows],
            "name string, step int, partition_id int, rows long",
        )
        lineage.writeTo(f"{self.prefix}.lineage").append() if self.spark.catalog.tableExists(
            f"{self.prefix}.lineage"
        ) else lineage.writeTo(f"{self.prefix}.lineage").create()
        snap_rows = self.spark.sql(
            f"SELECT snapshot_id FROM {tbl}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        meta = {
            "name": name,
            "step": step,
            # summed from THIS write's lineage rows (collected above) — a
            # table-level sum over (name, step) would double-count when the
            # same step is re-snapshotted (lineage is append-only), and a
            # separate out.count() would re-scan the whole snapshot
            "rows": sum(r["rows"] for r in lineage_rows),
            "wall_sec": time.time() - t0,
            "metrics": metrics or {},
            "ts": time.time(),
            # literal step -> Iceberg snapshot id, so load(name, step)
            # resolves historical steps exactly (steps are caller-chosen
            # round indices — NOT 0-based consecutive ordinals)
            "snapshot_id": snap_rows[0][0] if snap_rows else None,
        }
        meta_df = self.spark.createDataFrame(
            [(name, step, json.dumps(meta))], "name string, step int, meta string"
        )
        meta_df.writeTo(f"{self.prefix}.meta").append() if self.spark.catalog.tableExists(
            f"{self.prefix}.meta"
        ) else meta_df.writeTo(f"{self.prefix}.meta").create()
        return out

    def latest_step(self, name: str) -> int | None:
        if not self.spark.catalog.tableExists(f"{self.prefix}.meta"):
            return None
        rows = (
            self.spark.table(f"{self.prefix}.meta")
            .filter(F.col("name") == name)
            .agg(F.max("step"))
            .collect()
        )
        return rows[0][0] if rows and rows[0][0] is not None else None

    def load(self, name: str, step: int | None = None) -> DataFrame | None:
        tbl = self._tbl(name)
        if not self.spark.catalog.tableExists(tbl):
            return None
        if step is None:
            return self.spark.table(tbl)
        # explicit step: resolve via the snapshot id recorded at snapshot()
        # time. Steps are caller-chosen round indices — not consecutive,
        # not necessarily monotone — so neither positional indexing nor a
        # current-table shortcut for step==max(step) is sound (an
        # out-of-order later snapshot may have replaced the table contents
        # under a lower step number).
        saw_step = False
        for m in self.metrics(name):
            if m["step"] == step:
                saw_step = True
                if m.get("snapshot_id") is not None:
                    return self.spark.read.option("snapshot-id", m["snapshot_id"]).table(tbl)
        if saw_step and step == self.latest_step(name):
            # legacy meta rows without a snapshot_id: the latest step's data
            # IS the current table unless an out-of-order snapshot happened,
            # which the id-recording code path would have captured — fall
            # back instead of reporting an existing checkpoint as missing
            return self.spark.table(tbl)
        return None

    def lineage(self) -> DataFrame:
        return self.spark.table(f"{self.prefix}.lineage")

    def metrics(self, name: str) -> list[dict]:
        if not self.spark.catalog.tableExists(f"{self.prefix}.meta"):
            return []
        return [
            json.loads(r.meta)
            for r in self.spark.table(f"{self.prefix}.meta")
            .filter(F.col("name") == name)
            .orderBy("step")
            .collect()
        ]
