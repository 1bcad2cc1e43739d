"""Connected components for entity canonicalization.

Every node is labeled with the minimum node id in its component — the
hash-min canonicalization convention (nemo analogy: a recursive Datalog
program ``label(x, min(l))``), specialized because the aggregate-in-recursion
pattern is not stratifiable.

Two paths, identical output:

- small graphs (below ``small_graph_threshold`` edges) are collected through
  the shared driver-local gate (:func:`nemo_spark.session.local_rows`) and
  closed by union-find on the driver in one Spark job;
- everything else runs alternating large-star / small-star rounds as a
  DataFrame fixpoint: O(log n) rounds regardless of diameter, each step one
  groupBy plus one join, a ``localCheckpoint`` per round and, with a
  CheckpointStore, a resumable parquet snapshot every ``checkpoint_every``
  rounds. Skewed hub nodes are handled by AQE skew-join splitting; the
  groupBy min is a partial (map-side) aggregate so hot labels don't hotspot.
"""

from __future__ import annotations

import logging
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from nemo_spark.session import local_frame, local_rows

log = logging.getLogger("nemo_spark.cc")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
    checkpoint_store: Any | None = None,
    max_rounds: int = 60,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Return (node, component) where component = min node id in the CC.

    ``edges`` is undirected input (each pair listed once is enough).
    Node ids must be orderable (string or numeric).

    ``small_graph_threshold`` > 0 enables a size-adaptive fast path: when the
    edge list is below the threshold (dimension-sized graphs, e.g. an alias
    dictionary), collect the gate's bounded scan and union-find driver-side
    — one Spark job instead of O(log n) shuffle rounds, and the result
    is a local relation that is free to broadcast. Output is identical
    (min node id per component). Above the threshold, or on input the gate
    declines, the alternating-star algorithm runs distributed.

    A half-NULL edge registers its non-null node as an isolated node (SQL
    join semantics — NULL connects nothing); a both-NULL edge drops.
    """
    dt = edges.schema[src].dataType
    # the local path unions both endpoint columns into one node domain: only
    # sound when their types agree (mixed types also make min-label CC
    # ill-defined — let the distributed path surface Spark's coercion), and
    # it orders nodes in Python, which cannot order a struct's NULL fields
    if small_graph_threshold and dt == edges.schema[dst].dataType and not isinstance(dt, StructType):
        rows = local_rows(edges.select(F.col(src), F.col(dst)), small_graph_threshold)
        if rows is not None:
            return _local_cc(edges.sparkSession, rows, dt)
    # NULL-endpoint normalization, gated behind a probe so null-free inputs
    # (the common case) don't carry the extra union in every round's plan;
    # the schema-nullability check skips the probe for provably non-null
    # columns
    nullable = edges.schema[src].nullable or edges.schema[dst].nullable
    both = F.col(src).isNotNull() & F.col(dst).isNotNull()
    if nullable and not edges.where(~both).limit(1).isEmpty():
        half = (
            edges.where(~both & (F.col(src).isNotNull() | F.col(dst).isNotNull()))
            .select(F.coalesce(F.col(src), F.col(dst)).alias(src))
            .select(F.col(src), F.col(src).alias(dst))
        )
        edges = edges.where(both).select(F.col(src), F.col(dst)).unionByName(half)
    return _star_cc(edges, src, dst, checkpoint_every, max_rounds, checkpoint_store)


def _star_cc(
    edges: DataFrame,
    src: str,
    dst: str,
    checkpoint_every: int,
    max_rounds: int,
    checkpoint_store: Any | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components — O(log n)
    rounds regardless of graph diameter, so a long-chain component never
    costs O(diameter) shuffles at cluster scale.

    large-star: every node points its LARGER neighbors at its minimum
    neighborhood label; small-star: every node and its smaller neighbors
    collapse onto that minimum. Both are one groupBy + one join per step;
    the edge set monotonically approaches a forest of stars (node -> root).
    Convergence is detected by an exact changed-edge anti-join (no
    fingerprint approximation)."""
    nodes = (
        edges.select(F.col(src).alias("n"))
        .unionByName(edges.select(F.col(dst).alias("n")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    if checkpoint_store is not None:
        # resume: the per-round edge set is a sound restart point (each
        # star round is a monotone transformation toward the star forest)
        resumed = checkpoint_store.load("cc_star_edges")
        if resumed is not None:
            e = resumed

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        out = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).dropDuplicates()

    def small_star(ed: DataFrame) -> DataFrame:
        # orient edges towards the smaller endpoint: (big, small)
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m = o.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        w = o.join(m, on="u")
        out = w.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
            m.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).dropDuplicates()

    rounds = 0
    changed = 0
    while rounds < max_rounds:
        rounds += 1
        t0 = time.time()
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        changed = (
            nxt.join(e, on=["u", "v"], how="left_anti")
            .unionByName(e.join(nxt, on=["u", "v"], how="left_anti"))
            .limit(1)
            .count()
        )
        e = nxt
        if checkpoint_store is not None and rounds % checkpoint_every == 0:
            e = checkpoint_store.snapshot("cc_star_edges", e, rounds)
        log.debug("star-cc round %d changed=%s %.2fs", rounds, bool(changed), time.time() - t0)
        if not changed:
            break
    if changed:
        raise ValueError(
            f"connected_components(star) did not converge in {max_rounds} rounds; "
            f"raise max_rounds (star CC needs O(log n) rounds — hitting a cap of "
            f"{max_rounds} indicates something is deeply wrong with the input)"
        )
    # stars: every remaining edge points node -> root; isolated nodes self-root
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(labels, nodes["n"] == labels["node"], "left")
        .select(F.col("n").alias("node"), F.coalesce("component", "n").alias("component"))
    )


def _local_cc(spark, rows, dt) -> DataFrame:
    """Driver-side union-find over the gate's rows — the caller already
    holds every edge, so this costs zero extra Spark jobs and returns a
    driver-local frame built from Arrow (:func:`local_frame`)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    schema = StructType([StructField("node", dt), StructField("component", dt)])
    return local_frame(spark, [(n, find(n)) for n in list(parent)], schema)


def canonical_map_from_alias_dict(alias_dict: DataFrame, small_graph_threshold: int = 100_000) -> DataFrame:
    """CC over the bipartite (alias, entity_id) graph; returns
    (node, canonical_id) for both alias and entity nodes. Node ids are
    namespaced ('a:' / 'e:') so aliases and entities cannot collide.

    Alias dictionaries are dimension-sized, so the size-adaptive fast path
    usually engages; huge dictionaries fall back to distributed star CC."""
    edges = alias_dict.select(
        F.concat(F.lit("a:"), F.col("alias")).alias("src"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
    )
    cc = connected_components(edges, small_graph_threshold=small_graph_threshold)
    out = cc.select(F.col("node"), F.col("component").alias("canonical_id"))
    if getattr(cc, "_nemo_local", False):
        out._nemo_local = True  # projection of a driver-local frame stays local
    return out
