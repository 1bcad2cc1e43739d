"""Resumable snapshot store with per-part-file lineage + metrics.

nemo analogy: nemo tags every derived subtable with its execution step
(``nemo/src/table_manager.rs:67``) and answers provenance queries from those
step tags (``nemo/src/execution/tracing/trace.rs``). Here each fixpoint stage
snapshot is a parquet directory ``<root>/<name>/step=<n>/`` plus lineage rows
(name, step, partition_id, rows) and a JSON metrics sidecar — so any run can
resume mid-fixpoint from the latest snapshot.

Like nemo's step tags, the lineage is metadata, not a rescan: a snapshot is
one parquet write job. Row counts (per part file; ``partition_id`` is the part
file's index) and the schema of the returned frame come from the new files'
parquet footers, and the lineage file is written on the driver with pyarrow.
The store therefore assumes a local filesystem root, as its ``_meta``
sidecars already do. An empty frame records no lineage rows.

On a cluster with an Iceberg catalog the same interface maps to
``df.writeTo(table).createOrReplace()`` / snapshot reads; the parquet layout
here is the catalog-free stand-in (this sandbox ships no Iceberg runtime jar),
and the layout (snapshot per step, metadata sidecar) mirrors Iceberg's
snapshot model so the swap is mechanical.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the frame's schema
# JSON (ParquetReadSupport.SPARK_METADATA_KEY); schema inference reads it too
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_LINEAGE_SCHEMA = "name string, step int, partition_id int, rows long"
_LINEAGE_ARROW = pa.schema(
    [("name", pa.string()), ("step", pa.int32()), ("partition_id", pa.int32()), ("rows", pa.int64())]
)


def _safe_name(name: str) -> str:
    """Snapshot names become filesystem path components: IRI predicate
    names carry '/' and ':' which break both local paths and Hadoop Path
    parsing (same sanitization as export filenames, parser/runner.py).
    Names the sanitizer ALTERS get a content-hash suffix so distinct
    predicates that sanitize identically ('http://x/p' vs 'http://x:p')
    cannot share — and silently overwrite — one snapshot directory."""
    import hashlib
    import re

    safe = re.sub(r"[^A-Za-z0-9_.\-]", "_", name)
    if safe != name:
        safe += "_" + hashlib.md5(name.encode()).hexdigest()[:8]
    return safe


class CheckpointStore:
    def __init__(self, root: str, spark: SparkSession) -> None:
        self.root = root
        self.spark = spark
        os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)

    # ------------------------------------------------------------- snapshots

    def snapshot(self, name: str, df: DataFrame, step: int, metrics: dict | None = None) -> DataFrame:
        """Persist ``df`` as snapshot ``step`` of ``name``; record lineage +
        metrics; return the re-read (lineage-truncated) DataFrame.

        Runs exactly the Spark jobs of the parquet write and nothing else:
        each part file's row count and the snapshot's schema come from the
        parquet footers (Spark stores its schema JSON in every footer), read
        on the driver, and the lineage file is written from the driver.
        ``partition_id`` in the lineage rows is the part file's index among
        the snapshot's sorted part files; only non-empty part files get a
        row, so an empty frame records no lineage rows and ``rows`` 0."""
        t0 = time.time()
        path = self._path(name, step)
        df.write.mode("overwrite").parquet(path)
        # the part files, by the rule Spark's file index uses: names
        # starting with '_' or '.' (_SUCCESS, .crc checksums) are not data.
        # Spark writes at least one part file, with its schema key in the
        # footer, even for an empty frame
        footers = [
            pq.read_metadata(os.path.join(path, f))
            for f in sorted(os.listdir(path))
            if not f.startswith(("_", "."))
        ]
        schema = StructType.fromJson(json.loads(footers[0].metadata[_SPARK_SCHEMA_KEY]))
        lineage_rows = [
            {"name": name, "step": step, "partition_id": i, "rows": md.num_rows}
            for i, md in enumerate(footers)
            if md.num_rows
        ]
        # one REPLACED subdirectory per (name, step), not a shared append:
        # streaming redelivers a batch whose snapshot ran but whose offset
        # never committed, and the re-run must be idempotent — an append
        # would double that step's lineage rows
        lineage_dir = self._lineage_path(name, step)
        shutil.rmtree(lineage_dir, ignore_errors=True)
        os.makedirs(lineage_dir)
        pq.write_table(
            pa.Table.from_pylist(lineage_rows, schema=_LINEAGE_ARROW),
            os.path.join(lineage_dir, "part-00000.parquet"),
        )
        meta = {
            "name": name,
            "step": step,
            "rows": sum(r["rows"] for r in lineage_rows),
            "wall_sec": time.time() - t0,
            "metrics": metrics or {},
            "ts": time.time(),
        }
        with open(self._meta_path(name, step), "w") as f:
            json.dump(meta, f)
        return self.spark.read.schema(schema).parquet(path)

    def steps(self, name: str) -> list[int]:
        """All COMPLETE snapshot steps of ``name``, ascending (steps need
        not be dense — streaming batch ids can skip)."""
        base = os.path.join(self.root, _safe_name(name))
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("step=") and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        )

    def latest_step(self, name: str) -> int | None:
        steps = self.steps(name)
        return steps[-1] if steps else None

    def load_all(self, name: str) -> DataFrame | None:
        """ONE flat multi-path scan over every complete step of ``name``.
        Restoring hundreds of streamed batch snapshots must not build an
        N-deep union of N separate reads — Catalyst analysis cost grows
        with plan depth (a known plan-blowup hazard here)."""
        paths = [self._path(name, s) for s in self.steps(name)]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def load(self, name: str, step: int | None = None) -> DataFrame | None:
        """Resume: read a snapshot (latest complete one by default). An
        explicit ``step`` is held to the same _SUCCESS completeness check as
        steps()/latest_step — a crash mid-write must not resume from a
        partial snapshot."""
        if step is None:
            step = self.latest_step(name)
            if step is None:
                return None
        elif not os.path.exists(os.path.join(self._path(name, step), "_SUCCESS")):
            raise ValueError(f"snapshot {name!r} step {step} is missing or incomplete")
        return self.spark.read.parquet(self._path(name, step))

    # --------------------------------------------------------------- lineage

    def lineage(self) -> DataFrame:
        path = os.path.join(self.root, "_lineage")
        entries = sorted(os.listdir(path)) if os.path.isdir(path) else []
        sources = [
            os.path.join(path, d) for d in entries if os.path.isdir(os.path.join(path, d))
        ]
        # pre-r5 stores appended flat part-*.parquet directly into _lineage/;
        # those rows must keep appearing after the per-(name,step) layout
        # change — read them alongside the subdirectories
        sources += [
            os.path.join(path, f)
            for f in entries
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        if not sources:
            # fresh store: no lineage rows yet (read.parquet on an empty
            # directory raises instead of returning an empty frame)
            return self.spark.createDataFrame([], _LINEAGE_SCHEMA)
        return self.spark.read.parquet(*sources)

    def _lineage_path(self, name: str, step: int) -> str:
        return os.path.join(self.root, "_lineage", f"{_safe_name(name)}__{step:06d}")

    def metrics(self, name: str) -> list[dict]:
        out = []
        base = os.path.join(self.root, "_meta")
        safe = _safe_name(name)
        for fn in sorted(os.listdir(base)):
            # parse from the RIGHT: snapshot names may themselves contain
            # '__' (sanitized IRI predicates), so a prefix match would mix
            # 'a' with 'a__b' metrics
            if fn.endswith(".json") and fn[: -len(".json")].rsplit("__", 1)[0] == safe:
                with open(os.path.join(base, fn)) as f:
                    out.append(json.load(f))
        return out

    def _path(self, name: str, step: int) -> str:
        return os.path.join(self.root, _safe_name(name), f"step={step}")

    def _meta_path(self, name: str, step: int) -> str:
        return os.path.join(self.root, "_meta", f"{_safe_name(name)}__{step:06d}.json")
