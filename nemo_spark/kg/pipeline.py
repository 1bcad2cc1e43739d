"""End-to-end KG construction: transcripts -> canonical (subj, pred, obj)
triples -> fixpoint closure.

Stages (each checkpointable to a :class:`CheckpointStore` snapshot with
per-partition lineage + metrics, so runs resume mid-pipeline; stages 1 and
2+3 share no input and run concurrently):

1. extract   — vectorized Arrow-batched triple extraction per turn
2. link      — broadcast alias-dictionary join (exact) per mention
3. canonical — connected components over the alias/entity graph, each
               node labeled with its component's min id (driver-local
               union-find for dimension-sized graphs, star CC otherwise)
4. triples   — canonicalized, set-semantics (subj, pred, obj)
5. closure   — semi-naive fixpoint: transitive predicates materialized by
               ``ops/graph.transitive_closure`` (path doubling over
               (a, b, shortest length), one Spark action per round, or a
               driver-local closure for small graphs)

The closure stage follows nemo's evaluation core: derived triples are
produced by repeatedly joining a delta against the accumulating fact table
until no new facts appear (``nemo/src/execution/execution_engine.rs:295-345``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nemo_spark.engine.checkpoint import CheckpointStore
from nemo_spark.kg import transcripts as T
from nemo_spark.kg.canonicalize import canonical_map_from_alias_dict
from nemo_spark.kg.extract import extract_turn_features_arrow
from nemo_spark.session import run_concurrently


@dataclass
class PipelineResult:
    triples_raw: DataFrame
    canonical_map: DataFrame
    triples: DataFrame
    closure: DataFrame
    metrics: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame | None = None,
    checkpoint_store: CheckpointStore | None = None,
    transitive_preds: tuple[str, ...] = ("located_in",),
) -> PipelineResult:
    metrics: dict = {}
    t_start = time.time()

    # resume support: skip completed stages when a store is given.
    # materialize=True: without a store, eagerly localCheckpoint the stage
    # output so downstream broadcasts/reuses never recompute its lineage
    # (the CC loop would otherwise re-run once per broadcast).
    def stage(name: str, build, step: int, materialize: bool = False) -> DataFrame:
        if checkpoint_store is not None:
            cached = checkpoint_store.load(name)
            if cached is not None:
                metrics[name] = {"resumed": True}
                return cached
        t0 = time.time()
        df = build()
        if checkpoint_store is not None:
            df = checkpoint_store.snapshot(name, df, step)
        elif materialize and not getattr(df, "_nemo_local", False):
            # _nemo_local frames (driver-computed small CC/TC results) are
            # Arrow-built local relations: already materialized, cheap to
            # broadcast — a localCheckpoint would only re-ship them as one
            # more job
            df = df.localCheckpoint(eager=True)
        metrics[name] = {"wall_sec": time.time() - t0}
        return df

    alias_dict = alias_dict if alias_dict is not None else T.alias_dict(spark)

    # 1. extract — the one-pass per-turn feature kernel (triple + mention
    # count + quality + langid + dedup fingerprint) in Arrow/RE2. Looked up
    # through this module's global at call time, so a wrapper patched onto
    # ``pipeline.extract_turn_features_arrow`` sees the call.
    # 2+3. canonical map: CC over the (alias, entity) bipartite graph.
    # The alias dictionary is dimension-sized, so the canonical map is small
    # and broadcastable; mentions never shuffle for linking.
    # The two stages share no input, so they are submitted together: the
    # driver's union-find overlaps the executors' extraction snapshot.
    triples_raw, canonical_map = run_concurrently(
        spark,
        lambda run: run(),
        [
            partial(stage, "triples_raw", lambda: extract_turn_features_arrow(transcripts), 1),
            partial(stage, "canonical_map", lambda: canonical_map_from_alias_dict(alias_dict), 1, materialize=True),
        ],
    )

    # 4. canonical triples (set semantics); materialized once — extraction
    # and linking feed both the closure stage and the final union
    def build_triples() -> DataFrame:
        cm = F.broadcast(canonical_map)
        s = cm.withColumnRenamed("node", "__sn").withColumnRenamed("canonical_id", "subj")
        o = cm.withColumnRenamed("node", "__on").withColumnRenamed("canonical_id", "obj")
        # dedup BEFORE the joins: the alias-level distinct is a map-side
        # partial aggregate that shrinks O(turns) rows to O(|alias triples|),
        # so the canonical joins and final dedup touch only dimension-sized data
        if checkpoint_store is None:
            # project early THROUGH the opaque extractor (r7): this stage
            # consumes only the three alias columns, but mapInArrow defeats
            # column pruning — selecting them from the full feature
            # extractor still runs all eight RE2 passes and ships eleven
            # columns per turn across the Arrow boundary. The dedicated
            # triples-only pass (same regex, same engine) reads just `text`
            # and returns per-batch-distinct triples; triples_raw stays the
            # lazily-computed full feature table for consumers that ask.
            # With a checkpoint_store, triples_raw is already materialized —
            # reading the snapshot beats re-extracting. Imported at call
            # time so a wrapper patched onto the extract module sees it.
            from nemo_spark.kg.extract import extract_alias_triples_arrow

            # no alias-level dropDuplicates here: the extractor already
            # returns per-batch-distinct rows (bounded at O(distinct per
            # batch)), the canonical mapping is a broadcast join (no
            # shuffle), and the post-join dropDuplicates below is the one
            # real exchange — a second pre-join distinct would only add a
            # full shuffle stage for rows the final dedup removes anyway
            alias_triples = extract_alias_triples_arrow(transcripts)
        else:
            alias_triples = triples_raw.select("subj_alias", "pred", "obj_alias").dropDuplicates()
        out = (
            alias_triples
            .join(s, F.concat(F.lit("a:"), F.col("subj_alias")) == F.col("__sn"), "inner")
            .join(o, F.concat(F.lit("a:"), F.col("obj_alias")) == F.col("__on"), "inner")
            .select("subj", "pred", "obj")
            .dropDuplicates()
        )
        return out

    triples = stage("triples", build_triples, 1, materialize=True)

    # 5. fixpoint closure of transitive predicates — path-doubling semi-naive
    # (O(log diameter) rounds; the generic linear-recursion engine is
    # SemiNaiveEngine, exercised by the Datalog query surface)
    def build_closure() -> DataFrame:
        from nemo_spark.ops.graph import transitive_closure

        out = None
        # dedupe preds: a repeated predicate would union identical closure
        # parts, and (with the per-part sets now relied on for distinctness)
        # duplicate rows would survive to the output
        for pred in dict.fromkeys(transitive_preds):
            edges = triples.filter(F.col("pred") == pred).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            # graph.py's 10k default stands: TC OUTPUT is quadratic in nodes,
            # so the single-task fast path must stay tightly bounded even
            # though CC tolerates 100k (its output is linear)
            part = transitive_closure(edges).select(
                F.col("src").alias("subj"), F.lit(pred).alias("pred"), F.col("dst").alias("obj")
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            return triples.limit(0)
        # no dropDuplicates: transitive_closure returns a distinct pair set
        # on both of its paths, and the per-pred parts are disjoint (each
        # carries its own pred literal), so the union is already a set —
        # the former dedup was a full extra shuffle stage for nothing
        return out

    closure = stage("closure", build_closure, 1)

    metrics["total_wall_sec"] = time.time() - t_start
    return PipelineResult(triples_raw, canonical_map, triples, closure, metrics)


def materialized_triples(result: PipelineResult) -> DataFrame:
    """Final KG: canonical triples plus closure-derived facts (set union)."""
    return result.triples.unionByName(result.closure).dropDuplicates()
