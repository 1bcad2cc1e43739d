"""Tests of the benchmark itself: inputs are a function of the seed, the
expected outputs are right, every output check rejects a corrupted result,
and span self times add up.

    python3 -m pytest perfbench/tests -q

The last group starts a small local Spark session (about a minute).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

import gen
import oracle
import spans
from spans import Span

# --------------------------------------------------------------- inputs


def _kg_arrays(inp: gen.KgInput) -> list:
    return [inp.subj, inp.sv, inp.pred, inp.obj, inp.ov, inp.filler]


def test_generators_are_deterministic_per_seed():
    sizes = dict(n_turns=500, n_entities=60, n_located=30, n_other=10)
    a, b, c = (gen.kg_entities_input(s, **sizes) for s in (7, 7, 8))
    assert all(np.array_equal(x, y) for x, y in zip(_kg_arrays(a), _kg_arrays(b)))
    assert a.alias_rows == b.alias_rows
    assert not all(np.array_equal(x, y) for x, y in zip(_kg_arrays(a), _kg_arrays(c)))
    assert gen.transcript_table(a, 7).equals(gen.transcript_table(b, 7))

    d1, d2, d3 = (gen.datalog_input(s, blocks=20, chain=4, n_tiers=15) for s in (7, 7, 8))
    assert d1 == d2 and d1 != d3

    assert gen.dedup_input(7, 50) == gen.dedup_input(7, 50) != gen.dedup_input(8, 50)


def test_written_inputs_are_byte_identical_per_seed(tmp_path):
    inp = gen.datalog_input(3, blocks=10, chain=3, n_tiers=5)
    gen.write_datalog(inp, str(tmp_path / "a"))
    gen.write_datalog(gen.datalog_input(3, blocks=10, chain=3, n_tiers=5), str(tmp_path / "b"))
    for name in ("program.rls", "edge.csv", "blocked.csv", "tier.csv"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


# ------------------------------------------------------ expected outputs


def test_closure_and_union_find():
    assert oracle.closure([(1, 2), (2, 3), (5, 5)]) == {(1, 2), (2, 3), (1, 3), (5, 5)}
    uf = oracle.UnionFind()
    uf.union("b", "c")
    uf.union("c", "a")
    assert uf.find("b") == uf.find("c") == "a"


def _kg_input(facts, ambiguous, n_entities=3):
    s, p, o = (np.array(col) for col in zip(*facts))
    n = len(facts)
    return gen.KgInput(
        subj=s, sv=np.arange(n) % 3, pred=p, obj=o, ov=(np.arange(n) + 1) % 3,
        filler=np.zeros(n, dtype=np.int64),
        alias_rows=gen.planted_alias_rows(n_entities, ambiguous),
    )


def test_kg_oracle_on_a_hand_checked_input():
    loc = gen.PREDICATES.index("located_in")
    works = gen.PREDICATES.index("works_at")
    # canonical id of entity k is its smallest node name, "a:E.<k>"
    inp = _kg_input([(0, loc, 1), (1, loc, 2), (2, works, 0)], ambiguous={})
    assert oracle.kg_triples(inp) == {
        ("a:E.0", "located_in", "a:E.1"),
        ("a:E.1", "located_in", "a:E.2"),
        ("a:E.0", "located_in", "a:E.2"),  # closure
        ("a:E.2", "works_at", "a:E.0"),
    }
    # E.0 also names entity 2: entities 0 and 2 are one canonical node
    inp = _kg_input([(0, loc, 1), (1, loc, 2)], ambiguous={0: 2})
    assert oracle.kg_triples(inp) == {
        ("a:E.0", "located_in", "a:E.1"),
        ("a:E.1", "located_in", "a:E.0"),
        ("a:E.0", "located_in", "a:E.0"),
        ("a:E.1", "located_in", "a:E.1"),
    }


def test_datalog_oracle_on_a_hand_checked_input():
    inp = gen.DatalogInput(edges=[(1, 2), (2, 3), (3, 4)], blocked=[3], tiers=[(0, 1), (1, 2)])
    got = oracle.datalog_exports(inp)
    assert got["open"] == {(1, 2), (1, 4), (2, 4), (3, 4)}
    assert got["fanout"] == {(1, 2), (2, 1), (3, 1)}
    assert got["above"] == {(0, 1), (1, 2), (0, 2)}


def test_dedup_oracle_on_a_hand_checked_input():
    base = [f"w{i}" for i in range(40)]
    near = base[:-1] + ["other"]  # one word changed: Jaccard 37/39
    far = [f"v{i}" for i in range(40)]
    got = oracle.dedup([" ".join(base), " ".join(far), " ".join(near)])
    assert got["clusters"] == {0: 0, 1: 1, 2: 0}
    assert got["verified_pairs"] == 1


def test_dedup_oracle_keeps_only_true_near_duplicates():
    docs = gen.dedup_input(5, 120)
    got = oracle.dedup(docs)
    sets = [oracle.shingles(d) for d in docs]
    for i, c in got["clusters"].items():
        if c != i:  # i joined a cluster: some member is a >= 0.8 neighbour
            members = [j for j, cj in got["clusters"].items() if cj == c and j != i]
            assert any(len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.8 for j in members)
    assert 0 < got["verified_pairs"] < got["candidate_pairs"]


def test_fingerprint_detects_corrupted_rows():
    rows = [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c")]
    ref = oracle.fingerprint(rows)
    assert oracle.fingerprint(list(reversed(rows))) == ref
    assert oracle.fingerprint(rows[:-1]) != ref  # dropped
    assert oracle.fingerprint(rows + [("c", "p", "d")]) != ref  # added
    assert oracle.fingerprint(rows[:-1] + [("a", "p", "d")]) != ref  # changed


# ---------------------------------------------------------------- spans


def test_self_times_add_up_to_the_parent_span():
    tree = [
        Span(0, "bench", None, 0.0, 10.0),
        Span(1, "kg.pipeline", 0, 1.0, 9.0),
        Span(2, "kg.extract", 1, 2.0, 3.0),
        Span(3, "engine.checkpoint", 1, 4.0, 8.0),
        Span(4, "kg.extract", 3, 5.0, 6.5),
    ]
    spans.self_times(tree)
    assert [s.self_s for s in tree] == pytest.approx([2.0, 3.0, 1.0, 2.5, 1.5])
    assert sum(s.self_s for s in tree) == pytest.approx(tree[0].wall_s)
    # every subtree: its spans' self times add up to its root's wall
    assert sum(s.self_s for s in tree[1:]) == pytest.approx(tree[1].wall_s)


def test_concurrent_children_share_the_time_they_overlap():
    tree = [Span(0, "engine.seminaive", None, 0.0, 10.0), Span(1, "x", 0, 1.0, 5.0), Span(2, "x", 0, 3.0, 7.0)]
    spans.self_times(tree)
    assert [s.self_s for s in tree] == pytest.approx([4.0, 3.0, 3.0])
    assert sum(s.self_s for s in tree) == pytest.approx(tree[0].wall_s)


DOT = """digraph G {
  0 [id="node0" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="AdaptiveSparkPlan isFinalPlan=true"];
      2 [id="node2" labelType="html" label="<b>BroadcastHashJoin</b><br><br>number of output rows: 1,500" tooltip="BroadcastHashJoin [x#1L], [x#4L], LeftAnti, BuildRight, false"];
  3 [id="node3" labelType="html" label="<br><b>Project</b><br><br>" tooltip="Project [x#1L]"];
  4 [id="node4" labelType="html" label="<b>HashAggregate</b><br><br>number of output rows: 2,000" tooltip="HashAggregate(keys=[x#1L])"];
  5 [id="node5" labelType="html" label="<b>Range</b><br><br>number of output rows: 50" tooltip="Range (0, 50)"];
  7 [id="node7" labelType="html" label="<b>MapInArrow</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>6.1 s (1.5 s, 1.5 s, 1.6 s (stage 4.0: task 10))<br>data returned from Python workers: 0.0 B<br>data sent to Python workers total (min, med, max (stageId: taskId))<br>2.0 MiB (8.8 KiB, 8.8 KiB, 8.8 KiB (stage 4.0: task 9))<br>number of output rows: 0" tooltip="MapInArrow extract(text#12)#13"];
  2->0;

  3->2;

  4->3;

  5->2;

}
"""


def test_operator_metrics_from_the_plan_graph():
    nodes, edges = spans.parse_dot(DOT)
    assert spans.anti_joins(nodes, edges) == [
        {"strategy": "BroadcastHashJoin", "fresh": 1500.0, "candidates": 2000.0}
    ]
    py = spans.py_metrics(nodes)
    assert py["py_run_s"] == pytest.approx(6.1)
    assert py["mb_to_py"] == pytest.approx(2.0)
    assert spans.parse_value("120 ms") == pytest.approx(0.12)


# ------------------------------------------------ through Spark, tiny seed

TINY = {
    "kg_entities": dict(n_turns=3_000, n_entities=300, n_located=150, n_other=60),
    "datalog_closure": dict(blocks=40, chain=4, n_tiers=20),
    "dedup_docs": dict(n_docs=300),
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from nemo_spark.session import get_spark

    wd = str(tmp_path_factory.mktemp("spark"))
    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(wd, "warehouse"),
            "spark.local.dir": wd,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _workload(name, tmp_path):
    from workloads import WORKLOADS

    wl = WORKLOADS[name](11, str(tmp_path / name), TINY[name])
    if name == "datalog_closure":
        wl.LOCAL_THRESHOLD = 50  # edges stay distributed, tiers go local
    wl.prepare()
    return wl


@pytest.mark.parametrize("name", sorted(TINY))
def test_program_matches_expected_output_on_a_tiny_seed(spark, tmp_path, name):
    wl = _workload(name, tmp_path)
    assert wl.repeat(spark, spans.NullTracer())
    # a wrong expectation is caught: the check compares, it does not pass
    # whatever comes back
    wl.expected = _corrupt(wl.expected)
    assert not wl.repeat(spark, spans.NullTracer())


def _corrupt(expected):
    if isinstance(expected, dict):  # Datalog exports: drop one line
        pred = sorted(expected)[0]
        return {**expected, pred: set(sorted(expected[pred])[1:])}
    n, total = expected  # fingerprint: one row changed
    return n, total + 1


def test_spark_fingerprint_rejects_corrupted_results(spark):
    from workloads import spark_fingerprint

    rows = [("a:E.0", "located_in", "a:E.1"), ("a:E.1", "works_at", "a:E.2")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    assert spark_fingerprint(df) == oracle.fingerprint(rows)
    changed = [rows[0], ("a:E.1", "works_at", "a:E.3")]
    assert spark_fingerprint(spark.createDataFrame(changed, df.schema)) != oracle.fingerprint(rows)
    clusters = spark.createDataFrame([(0, 0), (1, 0), (2, 2)], "doc_id long, cluster_id long")
    assert spark_fingerprint(clusters) == oracle.fingerprint([(0, 0), (1, 0), (2, 2)])
    assert spark_fingerprint(clusters) != oracle.fingerprint([(0, 0), (1, 1), (2, 2)])


def test_datalog_export_check_rejects_a_corrupted_export(spark, tmp_path):
    from workloads import read_exports

    wl = _workload("datalog_closure", tmp_path)
    out = str(tmp_path / "exports")
    from nemo_spark.parser.runner import RlsRunner

    with RlsRunner(spark, rls_path=wl.path("program.rls"), local_stratum_threshold=50) as runner:
        runner.run()
        runner.write_exports(out)
    assert read_exports(out) == wl.expected
    part = sorted(p for p in os.listdir(os.path.join(out, "open.csv")) if p.startswith("part-"))
    with open(os.path.join(out, "open.csv", part[0]), "a") as f:
        f.write("999999,999999\n")
    assert read_exports(out) != wl.expected
    shutil.rmtree(out)


@pytest.mark.parametrize("name", sorted(TINY))
def test_traced_repeat_accounts_for_its_wall(spark, tmp_path, name):
    wl = _workload(name, tmp_path)
    tracer = spans.Tracer(spark, f"t-{name}")
    tracer.install()
    try:
        with tracer.span("bench") as root:
            ok = wl.repeat(spark, tracer)
            tracer.run_deferred()
    finally:
        tracer.uninstall()
    tracer.collect()
    assert ok
    m = spans.layer_metrics(tracer, 1.0)
    assert set(m) == set(spans.metric_names()) - {spans.OVERHEAD}
    self_sum = sum(v for k, v in m.items() if k.endswith(".self_s"))
    assert self_sum == pytest.approx(root.wall_s, rel=1e-6)
    assert m["bench.self_s"] < 0.5 * root.wall_s
    layer = {"kg_entities": "kg.pipeline", "datalog_closure": "engine.seminaive", "dedup_docs": "ops.dedup"}[name]
    assert m[f"{layer}.wall_s"] > 0 and m[f"{layer}.tasks"] > 0
    if name == "datalog_closure":
        assert m["engine.local_fixpoint.strata"] >= 1
        assert m["engine.seminaive.smj_joins"] + m["engine.seminaive.bhj_joins"] > 0
        assert any(r["anti_joins"] for r in tracer.round_table())
    if name == "dedup_docs":
        assert 0 < m["ops.dedup.verify_ratio"] < 1
    if name == "kg_entities":
        assert m["engine.checkpoint.snapshots"] == 4
        assert m["kg.extract.py_run_s"] > 0
    # patches are gone once the repeat is over
    from nemo_spark.ops import dedup

    assert not hasattr(dedup.lsh_candidate_pairs, "__wrapped__")
