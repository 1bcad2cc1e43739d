"""Evaluation by the rule dependency graph: one group per SCC, each run to
its fixpoint once, in topological order (nemo's "dependency graph"
strategy, ``strategy_graph.rs``). None of these tests read reference
testcase files."""

from __future__ import annotations

import threading

import pytest

from nemo_spark.engine.seminaive import SemiNaiveEngine
from nemo_spark.engine.stratify import stratify
from nemo_spark.model.rules import Atom, Program, Rule, Var
from nemo_spark.parser import runner as runner_mod
from nemo_spark.parser.runner import RlsRunner

X = Var("x")


def test_stratify_one_group_per_scc_in_topological_order():
    chain = Program(
        rules=[
            Rule(head=Atom("r", X), body=[Atom("q", X)]),
            Rule(head=Atom("q", X), body=[Atom("p", X)]),
            Rule(head=Atom("q", X), body=[Atom("q", X), Atom("p", X)]),
        ]
    )
    groups = stratify(chain)
    assert [[r.head.pred for r in g] for g in groups] == [["q", "q"], ["r"]]


def test_stratify_rejects_negation_inside_an_scc():
    prog = Program(
        rules=[
            Rule(head=Atom("a", X), body=[Atom("e", X)], negated=[Atom("b", X)]),
            Rule(head=Atom("b", X), body=[Atom("a", X)]),
        ]
    )
    with pytest.raises(ValueError, match="not stratifiable"):
        stratify(prog)


def test_extend_seeds_later_groups(spark):
    """Fresh facts of an earlier group seed the groups after it: with q and
    r in groups of their own, r must still see q's new fact."""
    prog = Program(
        rules=[
            Rule(head=Atom("q", X), body=[Atom("p", X)]),
            Rule(head=Atom("r", X), body=[Atom("q", X)]),
        ]
    )
    eng = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng.register("p", spark.createDataFrame([(1,)], "v long"))
    eng.run(prog)
    eng.extend(prog, {"p": spark.createDataFrame([(2,)], "v long")})
    assert sorted(r.c0 for r in eng.table("q").collect()) == [1, 2]
    assert sorted(r.c0 for r in eng.table("r").collect()) == [1, 2]


def test_auto_labels_are_program_positions(spark):
    """An unnamed rule is labelled by its index in the program as written,
    not by its group or by its index after dead-rule pruning."""
    prog = Program(
        rules=[
            Rule(head=Atom("dead", X), body=[Atom("e", X)]),
            Rule(head=Atom("a", X), body=[Atom("e", X)]),
            Rule(head=Atom("b", X), body=[Atom("e", X)], negated=[Atom("a", X)]),
        ]
    )
    eng = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng.register("e", spark.createDataFrame([(1,)], "v long"))
    stats = eng.run(prog, outputs={"b"})
    assert {m.rule for m in stats.per_rule} == {"rule_1", "rule_2"}


# the shape of perfbench's DATALOG_PROGRAM on a hand-checked input
_DATALOG = """\
@import edge :- csv{resource="edge.csv", format=(int, int)} .
@import blocked :- csv{resource="blocked.csv", format=(int)} .
@import tier :- csv{resource="tier.csv", format=(int, int)} .

reach(?x, ?y) :- edge(?x, ?y) .
reach(?x, ?z) :- reach(?x, ?y), edge(?y, ?z) .
open(?x, ?y) :- reach(?x, ?y), ~blocked(?y) .
fanout(?x, #count(?y)) :- open(?x, ?y) .
widest(#max(?n)) :- fanout(?x, ?n) .
narrow(?w) :- widest(?w), ?w < 0 .
above(?x, ?y) :- tier(?x, ?y), ~narrow(?x) .
above(?x, ?z) :- above(?x, ?y), tier(?y, ?z) .

@export open :- csv{} .
@export fanout :- csv{} .
@export above :- csv{} .
"""


@pytest.mark.parametrize("threshold", [0, 100_000])
def test_non_recursive_scc_applied_once(spark, tmp_path, threshold):
    (tmp_path / "edge.csv").write_text("1,2\n2,3\n4,5\n5,6\n")
    (tmp_path / "blocked.csv").write_text("3\n")
    (tmp_path / "tier.csv").write_text("1,2\n2,3\n")
    with RlsRunner(
        spark, source=_DATALOG, workdir=str(tmp_path), local_stratum_threshold=threshold
    ) as r:
        r.run()
        rep = r.report()
        # rls rules are labelled r{index}: open is r2, narrow is r5
        assert rep["rules"]["r2"]["applications"] == 1
        assert rep["rules"]["r5"]["applications"] == 1
        # reach 6, open 4, fanout 3, widest 1, narrow 0, above 3
        assert rep["derived_total"] == 17
        assert sorted(map(tuple, r.serialized("fanout").collect())) == [
            ("1", "1"), ("4", "2"), ("5", "1")
        ]


def test_import_resolution_stays_serial(spark, tmp_path, monkeypatch):
    """Two format-less imports of a predicate no rule mentions: the first
    fixes the arity (one field-count probe, on the calling thread) and the
    second reads with it, dropping its lines of another arity."""
    (tmp_path / "a.csv").write_text("1,2\n3,4\n")
    (tmp_path / "b.csv").write_text("5,6,7\n8,9\n")
    calls = []
    peek = runner_mod.peek_field_count

    def counted_peek(*args, **kwargs):
        calls.append(threading.current_thread() is threading.main_thread())
        return peek(*args, **kwargs)

    monkeypatch.setattr(runner_mod, "peek_field_count", counted_peek)
    src = """
@import p :- csv{resource="a.csv"} .
@import p :- csv{resource="b.csv"} .
@output p .
"""
    with RlsRunner(spark, source=src, workdir=str(tmp_path)) as r:
        r.run()
        rows = sorted(tuple(c.i for c in row) for row in r.table("p").collect())
    assert calls == [True]
    assert rows == [(1, 2), (3, 4), (8, 9)]


def test_inline_facts_are_a_set(spark):
    """Inline program facts enter as a set: a repeated fact is stored and
    counted once, like a registered or derived one."""
    prog = Program(
        rules=[Rule(head=Atom("q", X), body=[Atom("p", X)])],
        facts={"p": [(1,), (1,), (2,)]},
    )
    eng = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng.run(prog)
    assert sorted(r.c0 for r in eng.table("p").collect()) == [1, 2]
    assert eng._table_counts["p"] == 2
    assert sorted(r.c0 for r in eng.table("q").collect()) == [1, 2]
