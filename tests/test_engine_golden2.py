"""More golden parity: arithmetic semantics + aggregate distinct/filtered/
stratification suites from the reference's testcases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var, agg
from nemo_spark.functions import ops
from tests.golden import assert_golden, load_csv_facts, reference_available

# only the tests that read reference testcase files need them present
needs_reference = pytest.mark.skipif(not reference_available, reason="reference testcases not present")

A, B, X, Y, Z, T, R = Var("A"), Var("B"), Var("X"), Var("Y"), Var("Z"), Var("T"), Var("R")


@needs_reference
def test_arithmetic_filter(spark):
    # testcases/arithmetic/filter.rls — division errors drop rows
    eng = SemiNaiveEngine(spark)
    prog = Program(
        rules=[
            Rule(Atom("r0", A, B), [Atom("a", A, B)],
                 filters=[lambda c: ops.num_division(c["A"], c["B"]) < 2]),
            Rule(Atom("r1", X), [Atom("a", X, Y)],
                 filters=[lambda c: ops.num_division(F.lit(2), c["Y"]) == 1]),
            Rule(Atom("r2", X), [Atom("a", X, Y)],
                 filters=[lambda c: ops.num_division(F.lit(2), c["Y"]) != 1]),
            Rule(Atom("r3", X), [Atom("a", X, Y)],
                 assignments=[("Z", lambda c: ops.num_sum(c["X"], c["Y"]))],
                 filters=[lambda c: c["Z"] == 4]),
            Rule(Atom("r4", X, Y), [Atom("a", X, Y)],
                 filters=[lambda c: ops.bool_or(c["X"] > 2, c["Y"] == 0)]),
        ],
        facts={"a": [(1, 0), (1, 1), (2, 2), (3, 1)]},
    )
    eng.run(prog)
    for p in ["r0", "r1", "r2", "r3", "r4"]:
        assert_golden(eng.table(p), f"arithmetic/filter/{p}.csv")


@needs_reference
def test_arithmetic_negation(spark):
    # testcases/arithmetic/negation.rls — negated atom over assigned variables
    eng = SemiNaiveEngine(spark)
    prog = Program(
        rules=[
            Rule(
                Atom("r", X, Y),
                [Atom("a", X, Y)],
                assignments=[
                    ("Z", lambda c: ops.num_subtraction(c["Y"], c["X"])),
                    ("R", lambda c: ops.num_product(F.lit(2), c["Z"])),
                    ("T", lambda c: ops.num_product(F.lit(3), c["Z"])),
                ],
                filters=[lambda c: c["Z"] != 2, lambda c: c["R"] != 14],
                negated=[Atom("b", Z, T, T)],
            )
        ],
        facts={
            "a": [(0, 3), (1, 2), (2, 3), (2, 4), (3, 10)],
            "b": [(1, 3, 3), (3, 1, 5), (3, 4, 4)],
        },
    )
    eng.run(prog)
    assert_golden(eng.table("r"), "arithmetic/negation/r.csv")


@needs_reference
def test_arithmetic_numeric_bounds(spark):
    # testcases/arithmetic/numeric_bounds.rls
    eng = SemiNaiveEngine(spark)
    eng.register("data", load_csv_facts(spark, "arithmetic/sources/data.csv", 2, types="ii"))
    d = [Atom("data", X, Y)]
    prog = Program(
        rules=[
            Rule(Atom("x_less_than_three", X, Y), d, filters=[lambda c: c["X"] < 3]),
            Rule(Atom("y_less_than_eq_five", X, Y), d, filters=[lambda c: c["Y"] <= 5]),
            Rule(Atom("y_equals_nine", X, Y), d, filters=[lambda c: c["Y"] == 9]),
            Rule(Atom("x_greater_than_five", X, Y), d, filters=[lambda c: c["X"] > 5]),
            Rule(Atom("y_greater_than_eq_seven", X, Y), d, filters=[lambda c: c["Y"] >= 7]),
            Rule(Atom("x_unequals_three", X, Y), d, filters=[lambda c: c["X"] != 3]),
            Rule(Atom("y_unequals_five", X, Y), d, filters=[lambda c: c["Y"] != 5]),
            Rule(
                Atom("complex", X, Y), d,
                filters=[lambda c: ops.num_absolute(ops.num_subtraction(c["X"], c["Y"])) >= ops.num_product(c["X"], c["X"])],
            ),
        ]
    )
    eng.run(prog)
    for p in ["x_less_than_three", "y_less_than_eq_five", "y_equals_nine", "x_greater_than_five",
              "y_greater_than_eq_seven", "x_unequals_three", "y_unequals_five", "complex"]:
        assert_golden(eng.table(p), f"arithmetic/numeric_bounds/{p}.csv")


@needs_reference
def test_aggregate_distinct(spark):
    # testcases/aggregate/distinct.rls — distinct-qualified aggregates
    X1, X2, X3, X4 = Var("X1"), Var("X2"), Var("X3"), Var("X4")
    S = Var("S")
    eng = SemiNaiveEngine(spark)
    eng.register("sourceA", load_csv_facts(spark, "aggregate/sources/dataA.csv", 3, types="iii"))
    eng.register("sourceB", load_csv_facts(spark, "aggregate/sources/dataB.csv", 4, types="iiii"))
    eng.register("sourceC", load_csv_facts(spark, "aggregate/sources/dataC.csv", 1, types="i"))
    eng.register("sourceD", load_csv_facts(spark, "aggregate/sources/dataD.csv", 2, types="ii"))
    sa = [Atom("sourceA", X, Y, Z)]
    prog = Program(
        rules=[
            Rule(Atom("r0", agg.count(X, distinct=[Y])), sa),
            Rule(Atom("r1", agg.count(X, distinct=[Y, Z])), sa),
            Rule(Atom("r2", X, agg.count(Y, distinct=[Z])), sa),
            Rule(Atom("r3", X1, agg.sum(X2, distinct=[X4])), [Atom("sourceB", X1, X2, X3, X4)]),
            Rule(Atom("r4", agg.count(X, distinct=[X])), sa),
            Rule(Atom("r5", X, agg.count(Y, distinct=[Z, X])), sa),
            Rule(Atom("r6", agg.max(X, distinct=[X])), [Atom("sourceC", X)]),
            Rule(
                Atom("r7", agg.sum(S, distinct=[A, A])),
                [Atom("sourceD", A, B)],
                assignments=[("S", lambda c: ops.num_sum(c["A"], c["B"]))],
            ),
            Rule(Atom("r8", agg.max(B, distinct=[A, A])), [Atom("sourceD", A, B)]),
            Rule(Atom("r9", agg.max(A, distinct=[A])), [Atom("sourceD", A, B)]),
        ]
    )
    eng.run(prog)
    for i in range(10):
        assert_golden(eng.table(f"r{i}"), f"aggregate/distinct/r{i}.csv")


@needs_reference
def test_aggregate_filtered(spark):
    # testcases/aggregate/filtered.rls — self-join + comparison under count
    W1, W2, W3, W4 = Var("W1"), Var("W2"), Var("W3"), Var("W4")
    eng = SemiNaiveEngine(spark)
    eng.register("sourceA", load_csv_facts(spark, "aggregate/sources/dataA.csv", 3, types="iii"))
    prog = Program(
        rules=[
            Rule(
                Atom("r0", X, agg.count(Y)),
                [Atom("sourceA", X, W1, W2), Atom("sourceA", Y, W3, W4)],
                filters=[lambda c: c["X"] > c["Y"]],
            )
        ]
    )
    eng.run(prog)
    assert_golden(eng.table("r0"), "aggregate/filtered/r0.csv")


@needs_reference
def test_aggregate_stratification(spark):
    # testcases/aggregate/stratification.rls — aggregate feeding a positive
    # recursion, second aggregate above it
    eng = SemiNaiveEngine(spark)
    prog = Program(
        rules=[
            Rule(Atom("r1", agg.max(X)), [Atom("r0", X)]),
            Rule(Atom("r2", X), [Atom("r1", X)]),
            Rule(Atom("r1", X), [Atom("r2", X)]),
            Rule(Atom("r3", agg.count(X)), [Atom("r1", X)]),
        ],
        facts={"r0": [(1,), (2,), (3,)], "r1": [(2,)], "r2": [(8,), (10,)]},
    )
    eng.run(prog)
    for p in ["r1", "r2", "r3"]:
        assert_golden(eng.table(p), f"aggregate/stratification/{p}.csv")


def test_bucketed_history_no_exchange_on_history_side(spark):
    """bucket_history mode: the dedup-vs-history anti-join reads the
    accumulated table co-partitioned — no Exchange above the history scan
    in round t>1 — and the fixpoint output is unchanged."""
    from pyspark.sql import functions as F

    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    prog = Program(
        rules=[
            Rule(head=Atom("reach", X, Y), body=[Atom("edge", X, Y)]),
            Rule(head=Atom("reach", X, Z), body=[Atom("reach", X, Y), Atom("edge", Y, Z)]),
        ]
    )
    edges = [(i, i + 1) for i in range(8)]
    # bucket from the first merge and force the distributed path: this test
    # exercises the per-round anti-join shape, not the size-adaptive gates
    eng = SemiNaiveEngine(
        spark, bucket_history=4, bucket_history_threshold=0, local_stratum_threshold=0
    )
    eng.register("edge", spark.createDataFrame(edges, "a long, b long"))
    eng.run(prog)
    want = {(a, b) for a in range(9) for b in range(a + 1, 9)}
    got = {(r.c0, r.c1) for r in eng.table("reach").collect()}
    assert got == want

    # plan assertion: replicate the round-t merge join; the bucketed history
    # scan must not be re-exchanged (only the delta side shuffles)
    tbl = eng.history_table_name("reach")
    assert tbl is not None
    history = spark.table(tbl)
    delta = spark.createDataFrame([(100, 101)], "c0 long, c1 long")
    # testcase-sized history broadcasts (right choice when small); force the
    # at-scale shape (sort-merge) to show the bucketed layout is picked up
    plan = (
        delta.join(history.hint("merge"), on=["c0", "c1"], how="left_anti")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly the delta-side exchange; none above the FileScan of the table
    import re

    scan_part = plan.split("FileScan")[-1]
    assert "Exchange" not in scan_part, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_bucket_history_auto_migration_default_mode(spark):
    """DEFAULT engine (bucket count 32, size-adaptive engagement): once a
    predicate's accumulated history crosses bucket_history_threshold, the
    in-memory history migrates to the bucketed layout mid-fixpoint, later
    rounds append, output is unchanged, and the post-migration anti-join's
    main branch reads the history scan with no Exchange above it."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    prog = Program(
        rules=[
            Rule(head=Atom("reach", X, Y), body=[Atom("edge", X, Y)]),
            Rule(head=Atom("reach", X, Z), body=[Atom("reach", X, Y), Atom("edge", Y, Z)]),
        ]
    )
    # chain of 8: reach accumulates 36 facts over 8 rounds; threshold 10 is
    # crossed mid-run, exercising the in-memory -> bucketed migration
    edges = [(i, i + 1) for i in range(8)]
    eng = SemiNaiveEngine(spark, bucket_history_threshold=10, local_stratum_threshold=0)
    eng.register("edge", spark.createDataFrame(edges, "a long, b long"))
    eng.run(prog)
    assert eng.history_table_name("reach") is not None, "migration did not engage"
    want = {(a, b) for a in range(9) for b in range(a + 1, 9)}
    got = {(r.c0, r.c1) for r in eng.table("reach").collect()}
    assert got == want

    # the real merge shape: plain-equi main branch (bucketed, no Exchange
    # above the history scan) + null-safe side branch for NULL-bearing rows
    from pyspark.sql import functions as F

    history = spark.table(eng.history_table_name("reach"))
    delta = spark.createDataFrame([(100, 101), (None, 5)], "c0 long, c1 long")
    null_cond = F.col("c0").isNull() | F.col("c1").isNull()
    main = delta.filter(~null_cond).join(history.hint("merge"), on=["c0", "c1"], how="left_anti")
    plan = main._jdf.queryExecution().executedPlan().toString()
    scan_part = plan.split("FileScan")[-1]
    assert "Exchange" not in scan_part, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_null_head_vars_dropped(spark):
    """Invariant the bucketed history's plain equi-join dedup relies on:
    rows binding a head variable to SQL NULL are dropped at head projection
    (nemo error-row semantics), so no merged fact table ever contains NULLs
    and the fixpoint terminates."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y = Var("x"), Var("y")
    prog = Program(
        rules=[
            Rule(head=Atom("copy", X, Y), body=[Atom("src", X, Y)]),
            Rule(head=Atom("copy", X, Y), body=[Atom("copy", X, Y)]),
        ]
    )
    src = spark.createDataFrame([(1, 2), (None, 3), (4, None)], "a long, b long")
    eng = SemiNaiveEngine(
        spark, bucket_history=4, bucket_history_threshold=0, local_stratum_threshold=0,
        max_rounds=25,
    )
    eng.register("src", src)
    eng.run(prog)
    got = {(r.c0, r.c1) for r in eng.table("copy").collect()}
    assert got == {(1, 2)}
    assert eng.stats.rounds < 25, "fixpoint did not terminate"


def test_local_fixpoint_equals_distributed(spark):
    """The size-adaptive local fixpoint must produce exactly the distributed
    engine's output (joins, negation, aggregate, existential under restricted
    chase) — nulls compared up to renaming."""
    import re

    from pyspark.sql import functions as F

    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, EVar, Program, Rule, Var, agg

    X, Y, Z = Var("x"), Var("y"), Var("z")
    V = EVar("v")
    prog = Program(
        rules=[
            Rule(head=Atom("reach", X, Y), body=[Atom("edge", X, Y)]),
            Rule(head=Atom("reach", X, Z), body=[Atom("reach", X, Y), Atom("edge", Y, Z)]),
            Rule(head=Atom("nosink", X), body=[Atom("edge", X, Y)], negated=[Atom("edge", Y, X)]),
            Rule(head=Atom("succ", X, V), body=[Atom("edge", X, Y)]),
        ]
    )
    agg_prog = Program(rules=[Rule(head=Atom("outdeg", X, agg.count(Y)), body=[Atom("edge", X, Y)])])
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 6)]
    NR = re.compile(r"^_:\S+$")

    def run(threshold):
        eng = SemiNaiveEngine(spark, local_stratum_threshold=threshold)
        eng.register("edge", spark.createDataFrame(edges, "a long, b long"))
        eng.run(prog)
        eng.run(agg_prog)
        out = {}
        for p in ("reach", "nosink", "succ", "outdeg"):
            rows = [tuple("*" if isinstance(c, str) and NR.match(c) else c for c in r)
                    for r in eng.table(p).collect()]
            out[p] = sorted(rows)
        return out

    assert run(0) == run(1_000_000)


def test_semi_join_reduction_triangle(spark):
    """Yannakakis-style semi-join reduction (the Spark answer to the
    reference's leapfrog WCOJ): a cyclic triangle query produces identical
    results with the reducer forced on, and the reduced evaluation plans a
    broadcast LEFT SEMI on each large atom before the main joins."""
    import random

    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    random.seed(11)
    edges = list({(random.randrange(60), random.randrange(60)) for _ in range(400)})
    tri_rule = Rule(
        head=Atom("tri", X, Y, Z),
        body=[Atom("e", X, Y), Atom("e", Y, Z), Atom("e", Z, X)],
    )
    prog = Program(rules=[tri_rule])

    def run(threshold):
        eng = SemiNaiveEngine(
            spark, semi_join_reduction=threshold, local_stratum_threshold=0
        )
        eng.register("e", spark.createDataFrame(edges, "a long, b long"))
        eng.run(prog)
        return eng, sorted((r.c0, r.c1, r.c2) for r in eng.table("tri").collect())

    _, plain = run(0)
    eng, reduced = run(1)  # force: every atom counts as "large"
    assert plain == reduced
    assert len(plain) > 0

    # white-box: the reduced single-rule evaluation semi-joins before joining
    parts = eng._eval_rule(tri_rule, {}, {}, use_delta_atom=None)
    plan = parts["tri"]._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_semi_join_reduction_delta_reduces_edb(spark):
    """In the semi-naive delta variants of a 3-atom body, a large EDB atom
    is reduced by the other atoms' keys before the chain join — recursion
    results unchanged. (2-atom bodies never reduce: the single broadcast
    join already streams the big side once.)"""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    prog = Program(
        rules=[
            Rule(head=Atom("reach", X, Y), body=[Atom("seed", X), Atom("e", X, Y)]),
            Rule(
                head=Atom("reach", X, Z),
                body=[Atom("reach", X, Y), Atom("e", Y, Z), Atom("alive", Z)],
            ),
        ]
    )
    edges = [(i, i + 1) for i in range(50)]
    alive = [(i,) for i in range(0, 50, 2)]  # only even nodes survive

    def run(threshold):
        eng = SemiNaiveEngine(
            spark, semi_join_reduction=threshold, local_stratum_threshold=0
        )
        eng.register("seed", spark.createDataFrame([(0,), (40,)], "a long"))
        eng.register("e", spark.createDataFrame(edges, "a long, b long"))
        eng.register("alive", spark.createDataFrame(alive, "a long"))
        eng.run(prog)
        return sorted((r.c0, r.c1) for r in eng.table("reach").collect())

    assert run(0) == run(1)


def test_local_fixpoint_overflow_falls_back_distributed(spark):
    """Small INPUTS do not bound local-fixpoint OUTPUT: a quadratic rule
    (cross product) over inputs under the size threshold trips the derived-
    fact budget and the stratum transparently re-runs distributed — same
    results, engine state unpolluted."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y = Var("x"), Var("y")
    prog = Program(rules=[Rule(head=Atom("pairs", X, Y), body=[Atom("a", X), Atom("b", Y)])])
    eng = SemiNaiveEngine(spark, local_stratum_threshold=1_000_000)
    eng.register("a", spark.createDataFrame([(i,) for i in range(80)], "v long"))
    eng.register("b", spark.createDataFrame([(i,) for i in range(80)], "v long"))

    # shrink the budget so the 6400-row cross product overflows it
    import nemo_spark.engine.local_fixpoint as lf_mod

    orig = lf_mod.LocalFixpoint.__init__

    def patched(self, tables, chase, typed, max_derived=5_000_000, **kw):
        orig(self, tables, chase, typed, max_derived=1_000, **kw)

    lf_mod.LocalFixpoint.__init__ = patched
    try:
        eng.run(prog)
    finally:
        lf_mod.LocalFixpoint.__init__ = orig
    assert eng.table("pairs").count() == 6400


def test_semi_join_reduction_shuffled_all_big(spark):
    """Shuffled reducers AUTO-ENGAGE (no opt-in flag) for the all-big
    cyclic case — every triangle atom is the same 'large' relation, so no
    broadcastable reducer exists; shuffled left-semi reducers still bound
    the intermediates, results identical to the unreduced plan."""
    import random

    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    random.seed(13)
    edges = list({(random.randrange(50), random.randrange(50)) for _ in range(300)})
    tri = Rule(
        head=Atom("tri", X, Y, Z),
        body=[Atom("e", X, Y), Atom("e", Y, Z), Atom("e", Z, X)],
    )

    def run(reduce_):
        eng = SemiNaiveEngine(
            spark,
            semi_join_reduction=1 if reduce_ else 0,
            # no option forces shuffled reducers: the cyclic-body
            # auto-engage is what must allow them
            broadcast_threshold=1,  # nothing is broadcastable
            local_stratum_threshold=0,
        )
        eng.register("e", spark.createDataFrame(edges, "a long, b long"))
        eng.run(Program(rules=[tri]))
        got = sorted((r.c0, r.c1, r.c2) for r in eng.table("tri").collect())
        return eng, tri, got

    _, _, plain = run(False)
    eng, rule, reduced = run(True)
    assert plain == reduced and len(plain) > 0
    parts = eng._eval_rule(rule, {}, {}, use_delta_atom=None)
    plan = parts["tri"]._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_semi_join_reduction_shuffle_not_engaged_acyclic(spark):
    """Auto-engaged shuffled reducers are scoped to CYCLIC bodies: an
    acyclic 3-atom chain over all-big atoms must not pay per-atom semi-join
    exchanges (binary joins already stream each side once along a tree)."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine, _body_is_cyclic
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    chain = Rule(
        head=Atom("out", X, Z),
        body=[Atom("e", X, Y), Atom("e", Y, Z), Atom("alive", Z)],
    )
    tri = Rule(
        head=Atom("tri", X, Y, Z),
        body=[Atom("e", X, Y), Atom("e", Y, Z), Atom("e", Z, X)],
    )
    assert not _body_is_cyclic(chain.body)
    assert _body_is_cyclic(tri.body)

    eng = SemiNaiveEngine(
        spark,
        semi_join_reduction=1,
        broadcast_threshold=1,
        local_stratum_threshold=0,
    )
    edges = [(i, i + 1) for i in range(40)]
    eng.register("e", spark.createDataFrame(edges, "a long, b long"))
    eng.register("alive", spark.createDataFrame([(i,) for i in range(0, 40, 2)], "a long"))
    eng.run(Program(rules=[chain]))
    assert eng.table("out").count() > 0
    parts = eng._eval_rule(chain, {}, {}, use_delta_atom=None)
    plan = parts["out"]._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan, plan


def test_dead_rule_pruning(spark, tmp_path):
    """Rules from which no @output/@export predicate is reachable are never
    evaluated (active.rs); their imports are never read (filter_imports.rs).
    Without outputs, everything still evaluates (set_default_outputs.rs)."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var
    from nemo_spark.parser.runner import RlsRunner

    X, Y = Var("x"), Var("y")
    rules = [
        Rule(head=Atom("wanted", X, Y), body=[Atom("e", X, Y)]),
        Rule(head=Atom("junk", X, Y), body=[Atom("e", X, Y), Atom("e", Y, X)]),
        Rule(head=Atom("junk2", X), body=[Atom("junk", X, X)]),
    ]
    edges = [(1, 2), (2, 1), (3, 3)]

    # engine API: explicit outputs prune; no outputs evaluate everything
    eng = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng.register("e", spark.createDataFrame(edges, "a long, b long"))
    stats = eng.run(Program(rules=rules), outputs={"wanted"})
    labels = {m.rule for m in stats.per_rule}
    assert not any("junk" in lbl for lbl in labels), labels
    assert eng.table("wanted").count() == 3
    assert eng.table("junk").count() == 0  # never derived

    eng2 = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng2.register("e", spark.createDataFrame(edges, "a long, b long"))
    eng2.run(Program(rules=rules))  # default outputs: nothing pruned
    assert eng2.table("junk").count() == 3

    # rls path: the dead rule's import resource is never read
    missing = tmp_path / "never_read.csv"  # does NOT exist: load would fail
    (tmp_path / "edge.csv").write_text("1,2\n2,1\n")
    src = f'''
@import edge :- csv{{resource="edge.csv", format=(int, int)}} .
@import ghost :- csv{{resource="{missing}", format=(int, int)}} .
wanted(?x, ?y) :- edge(?x, ?y) .
junk(?x) :- ghost(?x, ?y) .
@export wanted :- csv{{}} .
'''
    r = RlsRunner(spark, source=src, workdir=str(tmp_path)).run()
    assert r.serialized("wanted").count() == 2
    labels = {m.rule for m in r.engine.stats.per_rule}
    assert not any("junk" in lbl for lbl in labels), labels


def test_history_table_lifecycle_close(spark):
    """uuid-named history tables; close() (or context exit) drops them,
    already-obtained table() frames stay usable, and two sequential engines
    in one session cannot collide."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    prog = Program(
        rules=[
            Rule(head=Atom("reach", X, Y), body=[Atom("edge", X, Y)]),
            Rule(head=Atom("reach", X, Z), body=[Atom("reach", X, Y), Atom("edge", Y, Z)]),
        ]
    )
    edges = [(i, i + 1) for i in range(6)]

    def run_one():
        eng = SemiNaiveEngine(
            spark, bucket_history=4, bucket_history_threshold=0, local_stratum_threshold=0
        )
        eng.register("edge", spark.createDataFrame(edges, "a long, b long"))
        eng.run(prog)
        return eng

    eng1, eng2 = run_one(), run_one()
    t1, t2 = eng1.history_table_name("reach"), eng2.history_table_name("reach")
    assert t1 and t2 and t1 != t2  # uuid names: no collision between engines
    n = eng1.table("reach").count()

    eng1.close()
    assert eng1.history_table_name("reach") is None
    assert not spark.catalog.tableExists(t1)
    assert spark.catalog.tableExists(t2)  # the other engine is untouched
    assert eng1.table("reach").count() == n  # table() keeps answering
    eng1.close()  # idempotent

    with eng2:
        pass  # context exit closes
    assert not spark.catalog.tableExists(t2)

    # no engine-owned leftovers for these uids
    leftovers = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("nemo_hist_") and (eng1._uid in t.name or eng2._uid in t.name)
    ]
    assert leftovers == []


def test_local_fixpoint_constant_type_mismatch_stays_distributed(spark):
    """An int constant against a STRING column matches under Spark's
    implicit-cast equality; the local path's strict Python equality would
    disagree — such strata must stay distributed so both table sizes give
    the same answer."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X = Var("x")
    prog = Program(rules=[Rule(head=Atom("hit", X), body=[Atom("p", X, 5)])])

    def run(threshold):
        eng = SemiNaiveEngine(spark, local_stratum_threshold=threshold)
        eng.register("p", spark.createDataFrame([("a", "5"), ("b", "7")], "k string, v string"))
        eng.run(prog)
        return sorted(r.c0 for r in eng.table("hit").collect())

    assert run(0) == run(1_000_000) == ["a"]


def test_extend_nonmonotone_restores_base_facts(spark):
    """Non-monotone extend(): registered EDB facts of predicates that are
    ALSO rule heads survive the reset, and previously DERIVED facts of
    injected predicates that are no longer derivable are retracted."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X = Var("x")
    prog = Program(
        rules=[
            Rule(head=Atom("p", X), body=[Atom("q", X)], negated=[Atom("r", X)]),
            Rule(head=Atom("r", X), body=[Atom("s", X)]),
        ]
    )
    eng = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng.register("q", spark.createDataFrame([(1,), (2,)], "v long"))
    eng.register("s", spark.createDataFrame([(9,)], "v long"))
    # p is ALSO registered EDB (base facts) and a rule head
    eng.register("p", spark.createDataFrame([(100,)], "v long"))
    eng.run(prog)
    assert sorted(r.c0 for r in eng.table("p").collect()) == [1, 2, 100]

    # inject s(1): p(1) is no longer derivable (r(1) now holds); the base
    # fact p(100) must survive the reset
    eng.extend(prog, {"s": spark.createDataFrame([(1,)], "v long")})
    assert sorted(r.c0 for r in eng.table("p").collect()) == [2, 100]
    assert sorted(r.c0 for r in eng.table("r").collect()) == [1, 9]

    # injecting facts into an IDB predicate: stale derived facts retract,
    # the injected fact persists as base
    eng.extend(prog, {"p": spark.createDataFrame([(500,)], "v long"),
                      "s": spark.createDataFrame([(2,)], "v long")})
    assert sorted(r.c0 for r in eng.table("p").collect()) == [100, 500]


def test_rule_labels_unique_across_strata(spark):
    """Unnamed rules in different strata get distinct auto labels, so
    trace_tree resolves the right rule for later-stratum facts."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X = Var("x")
    prog = Program(
        rules=[
            Rule(head=Atom("a", X), body=[Atom("e", X)]),
            # negation forces 'b' into a later stratum
            Rule(head=Atom("b", X), body=[Atom("e", X)], negated=[Atom("a", X)]),
        ]
    )
    eng = SemiNaiveEngine(spark, trace=True, local_stratum_threshold=0)
    eng.register("e", spark.createDataFrame([(1,)], "v long"))
    eng.run(prog)
    labels = {lbl for lbl in eng._rules_by_label}
    assert len(labels) == 2, labels
    tree = eng.trace_tree("a", (1,))
    assert tree is not None and tree["premises"], tree  # subtree not lost


def test_local_sum_matches_distributed_on_mixed_types(spark):
    """#sum semantics must be identical on the local and distributed paths:
    non-numeric operands are IGNORED (not group-dropping), and a non-finite
    double total drops the group (wrap_double parity) instead of crashing
    the local evaluator."""
    from nemo_spark.parser.runner import RlsRunner

    prog = """
    v(a, 1) . v(a, "ignored") . v(b, 1.5e308) . v(b, 1.4e308) . v(c, 2.5) .
    s(?x, #sum(?y)) :- v(?x, ?y) .
    @output s .
    """
    results = []
    for threshold in (100_000, 0):  # local fast path vs distributed
        with RlsRunner(spark, source=prog, local_stratum_threshold=threshold) as r:
            r.run()
            results.append({(row[0].s, row[1].i, row[1].d) for row in r.table("s").collect()})
    assert results[0] == results[1]
    # group a: string ignored, sum=1; group b: inf -> dropped; c: 2.5
    names = {t[0] for t in results[0]}
    assert names == {"a", "c"}


def test_skolem_labels_distinct_per_rule(spark):
    """Two UNNAMED existential rules with the same head predicate must mint
    DISTINCT labeled nulls per rule (the reference skolemizes per rule);
    labeling by head predicate alone conflated their witnesses."""
    from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var
    from nemo_spark.model.rules import EVar

    X, V = Var("X"), EVar("V")
    prog = Program(
        rules=[
            Rule(Atom("p", X, V), [Atom("a", X)]),
            Rule(Atom("p", X, V), [Atom("b", X)]),
        ]
    )
    eng = SemiNaiveEngine(spark, chase="skolem", local_stratum_threshold=0)
    eng.register("a", spark.createDataFrame([(1,)], "x long"))
    eng.register("b", spark.createDataFrame([(1,)], "x long"))
    eng.run(prog)
    rows = eng.table("p").collect()
    assert len(rows) == 2 and len({r.c1 for r in rows}) == 2, rows


def test_fixpoint_round_cap_is_loud(spark):
    """Hitting max_rounds with deltas pending must raise, not silently
    return a strict subset of the model."""
    import pytest as _pytest

    from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var

    X, Y, Z = Var("X"), Var("Y"), Var("Z")
    prog = Program(
        rules=[
            Rule(Atom("tc", X, Y), [Atom("e", X, Y)]),
            Rule(Atom("tc", X, Z), [Atom("tc", X, Y), Atom("e", Y, Z)]),
        ]
    )
    eng = SemiNaiveEngine(spark, max_rounds=2, local_stratum_threshold=0)
    eng.register("e", spark.createDataFrame([(i, i + 1) for i in range(8)], "a long, b long"))
    with _pytest.raises(RuntimeError, match="max_rounds"):
        eng.run(prog)


def test_extend_drops_null_cells(spark):
    """Injected facts with SQL-NULL cells are outside the fact domain and
    would re-fire as 'fresh' on every bucketed-history merge (plain-key
    anti-joins never match NULL); extend() filters them."""
    from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var

    X = Var("X")
    prog = Program(rules=[Rule(Atom("q", X), [Atom("p", X)])])
    eng = SemiNaiveEngine(spark)
    eng.register("p", spark.createDataFrame([(1,)], "x long"))
    eng.run(prog)
    eng.extend(prog, {"p": spark.createDataFrame([(2,), (None,)], "x long")})
    got = {r.c0 for r in eng.table("q").collect()}
    assert got == {1, 2}


def test_constraint_propagation_restored_on_close(spark):
    from nemo_spark.engine.seminaive import _CP_KEY, SemiNaiveEngine

    before = spark.conf.get(_CP_KEY)
    e1 = SemiNaiveEngine(spark)
    e2 = SemiNaiveEngine(spark)
    assert spark.conf.get(_CP_KEY) == "false"
    e1.close()
    # refcounted: e2 still needs it disabled
    assert spark.conf.get(_CP_KEY) == "false"
    e1.close()  # idempotent double-close releases only once
    assert spark.conf.get(_CP_KEY) == "false"
    e2.close()
    assert spark.conf.get(_CP_KEY) == before


def test_runner_run_is_idempotent(spark):
    from nemo_spark.parser.runner import RlsRunner

    with RlsRunner(spark, source="p(1) . q(?x) :- p(?x) . @output q .") as r:
        r.run()
        r.run()  # no-op, not a deferred/register error
        assert r.table("q").count() == 1


def test_local_fixpoint_overflow_fires_before_materializing(spark):
    # the cartesian budget must trip while BUILDING bindings, not after the
    # full quadratic list is in driver memory
    import pytest as _pytest

    from nemo_spark.engine.local_fixpoint import LocalFixpoint, LocalOverflow
    from nemo_spark.model.rules import Atom, Rule, Var

    X, Y = Var("X"), Var("Y")
    tables = {"a": {(i,) for i in range(2000)}, "b": {(i,) for i in range(2000)}}
    lf = LocalFixpoint(tables, chase="restricted", typed=False, max_derived=10_000)
    with _pytest.raises(LocalOverflow):
        lf.run([Rule(Atom("h", X, Y), [Atom("a", X), Atom("b", Y)])])


def test_inline_facts_survive_bucketed_history(spark):
    # a predicate whose history lives in the managed bucketed table must not
    # lose inline program facts on the next merge
    from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var

    X, Y, Z = Var("X"), Var("Y"), Var("Z")
    prog1 = Program(
        rules=[
            Rule(Atom("tc", X, Y), [Atom("edge", X, Y)]),
            Rule(Atom("tc", X, Z), [Atom("tc", X, Y), Atom("edge", Y, Z)]),
        ]
    )
    eng = SemiNaiveEngine(
        spark, bucket_history=4, bucket_history_threshold=0, local_stratum_threshold=0
    )
    eng.register("edge", spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"]))
    eng.run(prog1)
    assert "tc" in eng._history_tables  # precondition: history is bucketed
    # second program adds an INLINE tc fact + a rule that must see it
    prog2 = Program(
        rules=[
            Rule(Atom("tc", X, Y), [Atom("edge", X, Y)]),
            Rule(Atom("tc", X, Z), [Atom("tc", X, Y), Atom("edge", Y, Z)]),
        ],
        facts={"tc": [(9, 1)]},
    )
    eng.run(prog2)
    got = {tuple(r) for r in eng.table("tc").collect()}
    assert (9, 1) in got  # the inline fact itself survived the merges
    assert (9, 2) in got and (9, 3) in got  # and the fixpoint extended it
    eng.close()
