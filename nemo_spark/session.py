"""SparkSession construction tuned for the fixpoint / KG workload.

Scale rationale (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting replaces nemo's
  hand-tuned column orders (`nemo-physical/src/management/database/order.rs`).
- shuffle partitions sized by parallelism; at cluster scale this is set to
  2-3x total cores via spark-submit conf, not hardcoded.
- Arrow enabled for the pandas-UDF extraction path (no per-row Python).
- Driver-held rows cross the JVM boundary as Arrow both ways
  (:func:`local_rows`, :func:`local_frame`), so a driver-local fast path
  starts no Python worker; on a local master the workers the UDFs do start
  fork from a daemon that already imported their libraries
  (:mod:`nemo_spark.worker_daemon`).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    AnsiIntervalType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DatetimeType,
    DayTimeIntervalType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
)


def get_spark(
    app_name: str = "nemo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cores = _parallelism_of(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 13x the 10k default: the JVM<->Python Arrow boundary dominates the
        # mapInArrow/mapInPandas stages (measured: a passthrough UDF costs
        # 75% of the full feature-extract wall), and per-batch overhead
        # (IPC framing + flushes, per-call RE2 recompiles) shrinks with
        # batch size — 10k->131k cut the extract stage 23% at local[8].
        # Python-side per-batch memory stays bounded: every batch consumer
        # that builds super-linear intermediates chunks internally
        # (kg/link.py link_embedding caps its cosine matrix at 64 MB).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", _daemon_module(master))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    active = SparkSession.getActiveSession()
    if active is not None and active.sparkContext.master != master:
        # getOrCreate returns the EXISTING session with its original master
        # and configs; measurements would silently run at the wrong
        # parallelism (benchmark legs avoid this with subprocess isolation)
        import warnings

        warnings.warn(
            f"get_spark: active session has master={active.sparkContext.master!r}, "
            f"requested {master!r} ignored (stop the session first)",
            stacklevel=2,
        )
    return b.getOrCreate()


# the directory that holds the nemo_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _daemon_module(master: str) -> str:
    """The module Spark starts as its Python worker daemon: the preloading
    :mod:`nemo_spark.worker_daemon` when the workers fork on this host (a
    ``local[...]`` master) and the daemon can import this package from its
    path (the JVM's working directory, ``PYTHONPATH`` or site-packages);
    else the stock ``pyspark.daemon``. A cluster executor receives the
    package as ``--py-files`` only when a task runs, after its daemon
    started."""
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        import site

        path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
        if os.path.realpath(_PACKAGE_ROOT) in {os.path.realpath(d) for d in path}:
            return "nemo_spark.worker_daemon"
    return "pyspark.daemon"


# a shuffle exchange node in a plan tree string; BroadcastExchange is not one
_SHUFFLE = re.compile(r"^[ :|+-]*Exchange\b", re.M)


def fan_out(df, min_parallelism: int | None = None):
    """Spread a narrow scan across the cores: when the frame's physical
    partitioning is below the session's default parallelism, round-robin
    repartition it to that width.

    Why: a one-file / one-row-group parquet table produces a single scan
    split, which pins EVERY downstream map-side operator (shingle and
    minhash construction, per-row feature expressions) to one core — the
    optimization guide's "one huge unsplittable file" input-skew case, whose
    fix is "repartition immediately after the read". The gate makes it
    scale-adaptive: a production table arrives in hundreds of splits, the
    condition is false, and no shuffle is added. Predicate pushdown and
    column pruning survive the repartition (filters push through
    RepartitionOperation; verified in the scan's PushedFilters)."""
    spark = df.sparkSession
    p = min_parallelism or spark.sparkContext.defaultParallelism
    # only gate plans without a SHUFFLE exchange: on a frame with an
    # upstream shuffle, materializing .rdd to read its partition count
    # EXECUTES the shuffle stages as their own job under AQE (measured: a
    # groupBy frame's getNumPartitions ran the full stage), and post-shuffle
    # width is governed by spark.sql.shuffle.partitions / AQE anyway. A
    # broadcast join keeps its stream side's width, so it is gated too
    # (reading that width runs only the small broadcast job).
    if _SHUFFLE.search(df._jdf.queryExecution().executedPlan().toString()):
        return df
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def local_frame(spark, rows, schema: StructType | str) -> DataFrame:
    """Driver-held ``rows`` (tuples, struct cells as tuples) as a frame of
    ``schema`` (a struct type or its DDL string), handed to the JVM as Arrow
    record batches: a Catalyst ``LocalRelation``, built with no job and no
    Python worker. ``createDataFrame(list)`` instead pickles the rows into
    an RDD that a Python worker re-serializes on the first job that reads
    it. Every driver-local result in the library is built here: the small
    CC and TC paths, the engine's local strata and its inline facts.

    Arrow carries the :func:`_arrow_exact` types exactly. A timestamp or
    year-month interval column keeps the pickled path: collected timestamps
    are naive local-time datetimes, which Arrow would re-localize from the
    session time zone, and year-month intervals have no Arrow conversion.

    The frame is tagged ``_nemo_local``: its rows are already materialized,
    so pipeline stages skip re-checkpointing it, and the benchmark's tracer
    reads the tag off CC and TC outputs to count which path ran. The tag is
    a Python attribute set only here; a projection drops it, so a caller
    that projects a local frame re-tags the result
    (``canonical_map_from_alias_dict``). Detecting it from the plan (a
    ``LocalRelation`` leaf under projections) would cost a Py4J plan walk
    per stage to learn what this function already knows. The relation has
    up to ``defaultParallelism`` slices, so a snapshot of it writes up to
    that many part files."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if all(_arrow_exact(f.dataType) for f in schema.fields):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
        out = spark.createDataFrame(table, schema)
    else:
        out = spark.createDataFrame(list(rows), schema)
    out._nemo_local = True
    return out


# types whose Python values cross Arrow unchanged both ways: createDataFrame
# from an Arrow table builds what createDataFrame(list) builds, and toArrow()
# yields what collect() yields (a struct as a dict of its fields, so field
# names must be distinct). Not a timestamp: toArrow() returns it UTC-aware,
# collect() naive in local time.
_ARROW_EXACT = (
    NumericType, StringType, BinaryType, BooleanType, DateType, TimestampNTZType, DayTimeIntervalType,
)


def _arrow_exact(dt, nested: bool = False) -> bool:
    if isinstance(dt, StructType):
        names = dt.fieldNames()
        return (
            not nested
            and len(set(names)) == len(names)
            and all(_arrow_exact(f.dataType, True) for f in dt.fields)
        )
    return isinstance(dt, _ARROW_EXACT)


def observed_checkpoint(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """``df`` eagerly local-checkpointed (ONE Spark action), and what an
    :class:`~pyspark.sql.Observation` of that same job saw: ``rows`` (the
    row count) and one value per aggregate column in ``aggs``, by name.

    The one form of "materialize, then count" in the library: a lazy
    ``localCheckpoint`` runs its AQE map stages as jobs anyway, and the
    ``count()`` after it is one more job than this checkpoint alone."""
    obs = Observation()
    out = df.observe(
        obs, F.count(F.lit(1)).alias("rows"), *[c.alias(n) for n, c in aggs.items()]
    ).localCheckpoint(eager=True)
    return out, obs.get


# column types whose collected Python values are hashable and compare the way
# Spark compares them (a collated string does not: 'A' = 'a' under UTF8_LCASE)
_LOCAL_TYPES = (NumericType, BinaryType, BooleanType, DatetimeType, AnsiIntervalType)


def _local_type(dt, nested: bool = False) -> bool:
    if isinstance(dt, StringType):
        return dt.collation == "UTF8_BINARY"
    if isinstance(dt, StructType):
        return not nested and all(_local_type(f.dataType, True) for f in dt.fields)
    return isinstance(dt, _LOCAL_TYPES)


def _declined(c) -> bool:
    # NULL, or NaN (the one value unequal to itself) directly or in a field
    return c is None or c != c or (isinstance(c, tuple) and any(v != v for v in c))


def local_rows(frame, max_rows: int | None = None) -> list[tuple] | None:
    """The rows of ``frame`` as hashable tuples for a driver-local fast path,
    or ``None`` when the caller must run its distributed path instead.

    The one gate shared by the small-graph CC and TC paths and the engine's
    local stratum. ``max_rows`` bounds the collect at ``max_rows + 1`` rows
    (so a data-sized frame is never materialized on the driver) and declines
    frames longer than that; ``None`` collects the frame whole, for callers
    that already passed their own count gate.

    The single fallback policy: every column must be atomic or a struct of
    atomic fields (arrays, maps and the like collect as unhashable or
    differently-compared Python values), and no cell may be NULL or NaN —
    SQL never joins NULL to NULL but Python's ``None == None`` does, and SQL
    joins NaN to NaN where Python's ``nan != nan`` does not. A NULL inside a
    struct cell is fine: struct equality treats it like Python does. Struct
    cells come back as plain tuples.

    The rows cross as Arrow (``toArrow()``, no Python worker) when every
    column is of a type whose Arrow values equal ``collect()``'s
    (:func:`_arrow_exact`); a frame with any other column collects ``Row``
    objects. Local results go back through :func:`local_frame`."""
    fields = frame.schema.fields
    if not all(_local_type(f.dataType) for f in fields):
        return None
    if max_rows is not None:
        frame = frame.limit(max_rows + 1)
    if all(_arrow_exact(f.dataType) for f in fields):
        cols = [c.to_pylist() for c in frame.toArrow().columns]
        rows = [tuple(tuple(c.values()) if isinstance(c, dict) else c for c in r) for r in zip(*cols)]
    else:
        rows = [tuple(tuple(c) if isinstance(c, Row) else c for c in r) for r in frame.collect()]
    if max_rows is not None and len(rows) > max_rows:
        return None
    if any(_declined(c) for r in rows for c in r):
        return None
    return rows


def run_concurrently(spark, fn, items) -> list:
    """``[fn(item) for item in items]``, the calls submitted together as
    concurrent Spark jobs from driver threads (in order when there is at most
    one item). Independent jobs then cost max(job) instead of sum(job).

    Pool threads start with empty Spark local properties (pinned thread
    mode): each submission gets its own ``inheritable_thread_target`` clone
    of the caller's properties, created on the calling thread, so every job
    keeps the caller's job group, description and scheduler pool without one
    call's properties leaking into a sibling's (one wrapper shared across
    submissions would share one clone)."""
    items = list(items)
    if len(items) <= 1:
        return [fn(item) for item in items]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(len(items), 12)) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(fn), item) for item in items]
        return [f.result() for f in futures]


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
