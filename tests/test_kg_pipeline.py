"""KG pipeline correctness: exact ground-truth comparison (P/R = 1.0 >= 0.95).

Ground truth is computed in pure Python from the deterministic generator
arithmetic (tests/ = the 'reference engine' role; the corpus plants known
triples), covering: per-turn text invariant, extraction parity (all-occurrence
vs first-match kernel), canonicalization (Spark CC vs union-find), final triple
set, fixpoint closure (vs Python transitive closure), and mid-run resume.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nemo_spark.engine.checkpoint import CheckpointStore
from nemo_spark.kg import transcripts as T
from nemo_spark.kg.extract import extract_triples_pandas, extract_turn_features_arrow
from nemo_spark.kg.pipeline import materialized_triples, run_pipeline

N_TURNS = 600


# ---------------------------------------------------------------- ground truth


def gt_alias(variant: int, k: int) -> str:
    return ["entity_%d" % k, "ent-%d" % k, "E.%d" % k][variant]


def gt_raw_triples(n: int) -> set[tuple[str, str, str]]:
    out = set()
    for i in range(n):
        subj = gt_alias(i % 3, i % T.N_ENTITIES)
        obj = gt_alias((i // 3) % 3, (i * 7 + 3) % T.N_ENTITIES)
        out.add((subj, T.PREDICATES[i % 3], obj))
    return out


def gt_canonical() -> dict[str, str]:
    """union-find over the alias/entity bipartite graph -> min node id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for k in range(T.N_ENTITIES):
        for v in range(3):
            union("a:" + gt_alias(v, k), "e:ent%d" % k)
        if k % 10 == 0:
            union("a:" + gt_alias(2, k), "e:ent%d" % ((k + 1) % T.N_ENTITIES))
    return {x: find(x) for x in list(parent)}


def gt_triples(n: int) -> set[tuple[str, str, str]]:
    cm = gt_canonical()
    return {
        (cm["a:" + s], p, cm["a:" + o]) for s, p, o in gt_raw_triples(n)
    }


def gt_closure(triples: set[tuple[str, str, str]], pred: str) -> set[tuple[str, str, str]]:
    edges = {(s, o) for s, p, o in triples if p == pred}
    closure = set(edges)
    while True:
        new = {(a, d) for (a, b) in closure for (c, d) in edges if b == c} - closure
        if not new:
            return {(s, pred, o) for s, o in closure}
        closure |= new


# ---------------------------------------------------------------------- tests


def test_per_turn_text_invariant(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    regenerating and window-ordering yields identical text per turn."""
    t1 = T.synth_transcripts(spark, N_TURNS).cache()
    t2 = T.synth_transcripts(spark, N_TURNS)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    a = t1.withColumn("rn", F.row_number().over(w)).select("conv_id", "rn", "text")
    b = t2.withColumn("rn", F.row_number().over(w)).select("conv_id", "rn", "text")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    # turn_idx unique per conversation and aligned with ts order
    dup = t1.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1)
    assert dup.isEmpty()
    mis = t1.withColumn("prev_ts", F.lag("ts").over(w)).filter(F.col("prev_ts") >= F.col("ts"))
    assert mis.isEmpty()
    assert t1.count() == N_TURNS


def test_extractors_agree(spark):
    """One planted relation per turn: the all-occurrence kernel and the
    pipeline's first-match kernel return the same triples."""
    t = T.synth_transcripts(spark, N_TURNS)
    a = extract_triples_pandas(t)
    b = (
        extract_turn_features_arrow(t)
        .where(F.col("subj_alias").isNotNull())
        .select("conv_id", "turn_idx", "subj_alias", "pred", "obj_alias")
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == N_TURNS  # one planted triple per turn


def test_extraction_matches_ground_truth(spark):
    t = T.synth_transcripts(spark, N_TURNS)
    got = {
        (r.subj_alias, r.pred, r.obj_alias)
        for r in extract_triples_pandas(t).select("subj_alias", "pred", "obj_alias").distinct().collect()
    }
    assert got == gt_raw_triples(N_TURNS)


def test_canonicalization_matches_union_find(spark):
    cm = {r.node: r.canonical_id for r in run_canonical(spark).collect()}
    want = gt_canonical()
    assert cm == want
    # ambiguous alias E.0 merged ent0 and ent1 into one component
    assert cm["e:ent0"] == cm["e:ent1"]
    assert cm["e:ent2"] != cm["e:ent1"]


def run_canonical(spark):
    from nemo_spark.kg.canonicalize import canonical_map_from_alias_dict

    return canonical_map_from_alias_dict(T.alias_dict(spark))


def test_pipeline_triples_and_closure(spark):
    t = T.synth_transcripts(spark, N_TURNS)
    res = run_pipeline(spark, t)
    got_triples = {(r.subj, r.pred, r.obj) for r in res.triples.collect()}
    want_triples = gt_triples(N_TURNS)
    assert got_triples == want_triples  # P = R = 1.0

    got_all = {(r.subj, r.pred, r.obj) for r in materialized_triples(res).collect()}
    want_all = want_triples | gt_closure(want_triples, "located_in")
    assert got_all == want_all


def test_pipeline_resume(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"), spark)
    t = T.synth_transcripts(spark, 120)
    res1 = run_pipeline(spark, t, checkpoint_store=store)
    assert not res1.metrics["triples"].get("resumed")
    # second run resumes every stage from snapshots
    res2 = run_pipeline(spark, t, checkpoint_store=store)
    assert res2.metrics["triples_raw"].get("resumed")
    assert res2.metrics["triples"].get("resumed")
    a = {(r.subj, r.pred, r.obj) for r in res1.triples.collect()}
    b = {(r.subj, r.pred, r.obj) for r in res2.triples.collect()}
    assert a == b
    # lineage rows recorded per stage snapshot
    lin = store.lineage()
    assert lin.filter(F.col("name") == "triples_raw").count() > 0
    assert {r.name for r in lin.select("name").distinct().collect()} >= {"triples_raw", "canonical_map", "triples"}


def test_star_cc_on_long_chain(spark):
    """large-star/small-star CC: O(log n) rounds on a high-diameter graph —
    a 2000-node chain converges well inside a 25-round cap, each node
    labeled with its component's min id."""
    import logging
    from nemo_spark.kg.canonicalize import connected_components

    n = 2000
    rows = [(i, i + 1) for i in range(n - 1)] + [(5000 + i, 6000 + i) for i in range(5)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = connected_components(edges, max_rounds=25, small_graph_threshold=0)
    got = {(r.node, r.component) for r in out.collect()}
    want = {(i, 0) for i in range(n)} | {(5000 + i, 5000 + i) for i in range(5)} | {
        (6000 + i, 5000 + i) for i in range(5)
    }
    assert got == want
