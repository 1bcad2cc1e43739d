"""Graph operators: distributed transitive closure with path doubling.

The generic rule engine evaluates linear recursion in O(diameter) rounds
(nemo's round-robin fixpoint). For the KG pipeline's closure stage we use the
non-linear doubling form instead, which converges in O(log diameter) rounds —
at cluster scale, rounds and jobs are synchronization barriers, so fewer of
them beats cheaper ones.

The closure is kept as ``(a, b, len)``, ``len`` being the exact length of a
shortest walk from ``a`` to ``b``. After round ``k`` the relation holds
exactly the pairs within ``2^k`` steps. A prefix of a shortest walk is itself
a shortest walk, so a pair first reached in round ``k`` is the composition of
a pair at length exactly ``2^(k-1)`` (the frontier) with a pair already
known; round ``k`` joins only the frontier and keeps ``min(len)`` per pair.
No pair at length ``2^k`` means no longer walk exists either, so the loop
stops without a confirming round. Each round is one eagerly checkpointed
aggregate whose :class:`~pyspark.sql.Observation` also yields the next
frontier's size and byte width for the broadcast gate: no count or sample
jobs.

Dedup-vs-history / checkpoint cadence follow the engine's pattern
(``nemo/src/execution/planning/operations/duplicates.rs``, defrag
``execution_engine.rs:263-292``).
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from nemo_spark.session import local_frame, local_rows, observed_checkpoint

log = logging.getLogger("nemo_spark.graph")


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_threshold: int = 2_000_000,
    broadcast_max_bytes: int = 64 << 20,
    max_rounds: int = 64,
    small_graph_threshold: int = 10_000,
) -> DataFrame:
    """All (src, dst) pairs reachable via 1+ edges. Columns preserved.

    ``small_graph_threshold`` > 0 (default 10k edges): dimension-sized edge
    lists close driver-side off the gate's bounded collect (one job)
    instead of O(log d) distributed rounds — same output; data-sized inputs
    take the distributed doubling path automatically. The default is
    deliberately smaller than the CC threshold: closure OUTPUT is
    worst-case quadratic in nodes (a 100k-node chain closes to 5x10^9
    pairs), so the local path is additionally bounded by
    :data:`_LOCAL_TC_MAX_PAIRS`; CC output is linear in nodes, so its
    threshold can be 10x higher.

    The distributed path runs one Spark action per doubling round (see the
    module docstring): when the longest shortest walk has length ``L`` it
    runs ``ceil(log2 L)`` rounds, plus one when ``L`` is a power of two. The frontier joins as a
    broadcast while it has at most ``broadcast_threshold`` rows and its
    observed key bytes stay within ``broadcast_max_bytes``. Raises
    ``ValueError`` when ``max_rounds`` rounds leave a non-empty frontier.

    NULL endpoints follow SQL join semantics: they are carried outward
    through compositions ((NULL, y)∘(y, z) = (NULL, z)) but a path never
    continues through a NULL. Grouping by pair treats NULL = NULL and NaN =
    NaN, so each such pair appears once. Edges with NULL or NaN endpoints
    always take the distributed path, whose joins implement exactly that."""
    if small_graph_threshold and edges.schema[src].dataType == edges.schema[dst].dataType:
        # the local path types its output columns from src's type (closure
        # composes dst back into src positions, so the types must agree for
        # the operation to be meaningful anyway). The bounded gate collect
        # IS the data: one Spark job total when the graph fits.
        rows = local_rows(edges.select(F.col(src), F.col(dst)), small_graph_threshold)
        if rows is not None:
            local = _local_tc(edges.sparkSession, rows, edges.schema[src].dataType, src, dst)
            if local is not None:
                return local
    seed = edges.groupBy(F.col(src).alias("a"), F.col(dst).alias("b")).agg(
        F.lit(1).cast("long").alias("len")
    )
    tc, frontier, frontier_bytes, _ = _checkpoint_round(seed, 1)
    rounds = 0
    while frontier:
        if rounds == max_rounds:
            raise ValueError(
                f"transitive_closure did not converge in {max_rounds} rounds: "
                f"{frontier} pairs are {1 << rounds} steps apart and may extend; "
                f"raise max_rounds (doubling needs log2(longest path) rounds)"
            )
        rounds += 1
        t0 = time.time()
        reach = 1 << (rounds - 1)
        d = tc.filter(F.col("len") == reach)
        if frontier <= broadcast_threshold and frontier_bytes <= broadcast_max_bytes:
            # an explicit hint bypasses autoBroadcastJoinThreshold entirely,
            # so the byte bound keeps wide string keys (KG IRIs run 100+
            # bytes) from forcing multi-hundred-MB broadcasts
            d = F.broadcast(d)
        cand = d.alias("l").join(tc.alias("r"), F.col("l.b") == F.col("r.a")).select(
            F.col("l.a").alias("a"), F.col("r.b").alias("b"), (F.col("l.len") + F.col("r.len")).alias("len")
        )
        merged = tc.unionByName(cand).groupBy("a", "b").agg(F.min("len").alias("len"))
        tc, frontier, frontier_bytes, fresh = _checkpoint_round(merged, 2 * reach)
        log.debug("tc doubling round %d fresh=%d %.2fs", rounds, fresh, time.time() - t0)
    return tc.select(F.col("a").alias(src), F.col("b").alias(dst))


def _checkpoint_round(rel: DataFrame, reach: int) -> tuple[DataFrame, int, int, int]:
    """``rel`` eagerly checkpointed (the round's one action), with what an
    observation of that same job saw: the frontier (pairs at length exactly
    ``reach``), its byte width, and the fresh pairs (longer than ``reach //
    2``). A key's width is its string form's length (4 for NULL) and a row
    adds 16 bytes of overhead."""
    at_frontier = F.col("len") == reach
    width = sum(F.coalesce(F.length(F.col(c).cast("string")), F.lit(4)) for c in ("a", "b")) + 16
    out, seen = observed_checkpoint(
        rel,
        frontier=F.count_if(at_frontier),
        bytes=F.sum(F.when(at_frontier, width)),
        fresh=F.count_if(F.col("len") > reach // 2),
    )
    return out, seen["frontier"], seen["bytes"] or 0, seen["fresh"]


# driver-memory guard for the local path: closure OUTPUT is worst-case
# quadratic in nodes, so a gate-collected 10k-edge chain can still close to
# tens of millions of pairs; past this bound the caller falls back to the
# distributed doubling path instead of shipping a giant local relation
_LOCAL_TC_MAX_PAIRS = 500_000


def _local_tc(spark, rows, dt, src: str, dst: str) -> DataFrame | None:
    """Driver-side closure over the gate's rows (BFS per source) — the
    caller already holds every edge, so closing locally costs zero extra
    Spark jobs and returns a driver-local frame built from Arrow
    (:func:`local_frame`, cheap to broadcast downstream). Returns ``None``
    when the closed pair set exceeds :data:`_LOCAL_TC_MAX_PAIRS` (caller
    runs the distributed path)."""
    adj: dict = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
    data = []
    for s in adj:
        seen: set = set()
        stack = list(adj[s])
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            if len(data) + len(seen) > _LOCAL_TC_MAX_PAIRS:
                return None
            stack.extend(adj.get(x, ()))
        data.extend((s, x) for x in seen)
    schema = StructType([StructField(src, dt), StructField(dst, dt)])
    return local_frame(spark, data, schema)
