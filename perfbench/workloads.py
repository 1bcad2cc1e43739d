"""The benchmark's workloads. Each drives nemo_spark only through its public
entry points and checks every repeat's output against :mod:`oracle`.

A workload is built from a seed, a work directory and optionally smaller
sizes (the tests use tiny ones). ``prepare()`` writes the input and computes
the expected output (none of this is timed); ``repeat(spark, tracer)`` runs
the program once and returns whether its output was correct. ``tracer`` is
a :class:`spans.Tracer` in traced repeats and a :class:`spans.NullTracer`
otherwise; the workload opens the span of the call that forces the
program's lazy work.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
import oracle


def spark_fingerprint(df: DataFrame) -> tuple[int, int]:
    """Spark-side twin of :func:`oracle.fingerprint` (string-cast cells)."""
    key = F.concat_ws(oracle.SEP, *[F.col(c).cast("string") for c in df.columns])
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    row = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))).first()
    return int(row[0]), int(row[1])


class Workload:
    name = ""
    item = ""  # what one unit of items_per_s is
    SIZES: dict = {}

    def __init__(self, seed: int, workdir: str, sizes: dict | None = None) -> None:
        self.seed = seed
        self.workdir = workdir
        self.sizes = sizes or self.SIZES
        self.expected = None
        self.items = 0  # work units one repeat completes
        self.input_rows = 0
        self.input_bytes = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def repeat(self, spark, tracer) -> bool:
        raise NotImplementedError


class KgEntities(Workload):
    """``run_pipeline`` with a fresh parquet ``CheckpointStore`` per repeat,
    then ``materialized_triples``, over transcripts that mention a
    14k-entity universe. The alias dictionary (43k rows, below CC's 100k
    gate) closes in the driver-local CC path; the 11k-edge located_in tree
    (above TC's 10k gate) takes the distributed TC doubling path; the store
    snapshots every stage, so the full feature extractor runs and is
    written."""

    name = "kg_entities"
    item = "turns"
    SIZES = dict(n_turns=60_000, n_entities=14_000, n_located=11_000, n_other=2_000)

    def prepare(self) -> None:
        inp = gen.kg_entities_input(self.seed, **self.sizes)
        self.input_bytes = gen.write_parquet(gen.transcript_table(inp, self.seed), self.path("turns"))
        self.input_bytes += gen.write_alias_dict(inp.alias_rows, self.path("alias"))
        self.expected = oracle.fingerprint(oracle.kg_triples(inp))
        self.items = inp.n_turns
        self.input_rows = inp.n_turns + len(inp.alias_rows)

    def repeat(self, spark, tracer) -> bool:
        from nemo_spark.engine.checkpoint import CheckpointStore
        from nemo_spark.kg.pipeline import materialized_triples, run_pipeline

        turns = spark.read.parquet(self.path("turns"))
        alias_dict = spark.read.parquet(self.path("alias"))
        store_dir = self.path("store")
        try:
            with tracer.span("kg.pipeline"):
                store = CheckpointStore(store_dir, spark)
                result = run_pipeline(spark, turns, alias_dict=alias_dict, checkpoint_store=store)
                got = spark_fingerprint(materialized_triples(result))
        finally:
            shutil.rmtree(store_dir, ignore_errors=True)
        return got == self.expected


class DatalogClosure(Workload):
    """``RlsRunner(...).run()`` + ``write_exports`` on gen.DATALOG_PROGRAM:
    CSV imports, a linear ``reach`` recursion over chain blocks, negation,
    ``#count``/``#max`` aggregates and a small side stratum."""

    name = "datalog_closure"
    item = "facts"
    SIZES = dict(blocks=5_000, chain=3, n_tiers=300)
    # strata with every input below this many rows run in LocalFixpoint:
    # the tier side stratum does, the edge-driven strata stay distributed
    LOCAL_THRESHOLD = 2_000

    def prepare(self) -> None:
        inp = gen.datalog_input(self.seed, **self.sizes)
        self.input_bytes = gen.write_datalog(inp, self.workdir)
        self.expected = {
            pred: {oracle.row_key(r).replace(oracle.SEP, ",") for r in rows}
            for pred, rows in oracle.datalog_exports(inp).items()
        }
        self.items = self.input_rows = len(inp.edges) + len(inp.blocked) + len(inp.tiers)

    def repeat(self, spark, tracer) -> bool:
        from nemo_spark.parser.runner import RlsRunner

        out = self.path("export")
        shutil.rmtree(out, ignore_errors=True)
        try:
            with RlsRunner(
                spark, rls_path=self.path("program.rls"), local_stratum_threshold=self.LOCAL_THRESHOLD
            ) as runner:
                runner.run()
                runner.write_exports(out)
            return read_exports(out) == self.expected
        finally:
            shutil.rmtree(out, ignore_errors=True)


def read_exports(out_dir: str) -> dict[str, set[str]]:
    """{pred: set of CSV lines} over the part files of each export."""
    got = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "*.csv"))):
        lines: set[str] = set()
        for part in glob.glob(os.path.join(d, "part-*")):
            with open(part) as f:
                lines.update(line.rstrip("\n") for line in f)
        got[os.path.basename(d)[: -len(".csv")]] = lines
    return got


class DedupDocs(Workload):
    """``dedup_clusters`` over documents with planted near-duplicates."""

    name = "dedup_docs"
    item = "docs"
    SIZES = dict(n_docs=6_000)

    def prepare(self) -> None:
        docs = gen.dedup_input(self.seed, **self.sizes)
        self.input_bytes = gen.write_docs(docs, self.path("docs"))
        self.expected = oracle.fingerprint(sorted(oracle.dedup(docs)["clusters"].items()))
        self.items = self.input_rows = len(docs)

    def repeat(self, spark, tracer) -> bool:
        from nemo_spark.ops.dedup import dedup_clusters

        with tracer.span("ops.dedup"):
            got = spark_fingerprint(dedup_clusters(spark.read.parquet(self.path("docs"))))
        return got == self.expected


WORKLOADS = {w.name: w for w in (KgEntities, DatalogClosure, DedupDocs)}
