"""Differential harness for the size-gated driver-local paths.

Connected components, transitive closure and the engine's local stratum
each run twice on the same edges: with the gate on (the default
thresholds) and forced off (``small_graph_threshold=0``,
``local_stratum_threshold=0``). CC and TC outputs must be
``exceptAll``-equal with equal schemas, engine tables equal as value
multisets, or both runs must raise the same error. The gate must take the
local path exactly when the documented policy admits the input
(``session.local_rows``): every column atomic or a struct of atomic
fields and no NULL or NaN cell; for CC and TC both endpoint columns of one
type (CC also declines structs, whose NULL fields Python cannot order);
for the engine no rule joining columns of different types. Anything else
falls back to the distributed path. The local paths hand their rows back
through Arrow (``session.local_frame``), so every local run here also
crosses it.
"""

from __future__ import annotations

import math
from unittest import mock

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from nemo_spark.engine.local_fixpoint import LocalFixpoint
from nemo_spark.engine.seminaive import SemiNaiveEngine
from nemo_spark.kg.canonicalize import connected_components
from nemo_spark.model.rules import Atom, Program, Rule, Var
from nemo_spark.ops.graph import transitive_closure

NAN = float("nan")

# endpoint type -> a small pool of its values (small, so that random edge
# lists repeat nodes: duplicates, self-loops, cycles and shared components)
_POOLS = {
    "bigint": [0, 1, 2, 3, -(1 << 63)],
    "double": [0.5, -0.0, 2.0, NAN, float("inf")],
    "string": ["a", "b", "", "größe", "a\x00"],
    "binary": [b"", b"\x00", b"x", b"\xff\xfe"],
    "struct<a:int,b:string>": [(1, "x"), (1, None), (2, "x"), (None, None)],
    "array<int>": [[1], [1, 2], [], [None]],
}

_edge_types = st.sampled_from(sorted(_POOLS)).map(lambda t: (t, t)) | st.just(("bigint", "string"))


@st.composite
def edge_lists(draw):
    """(src type, dst type, rows): up to 8 edges over the types' pools, any
    endpoint possibly NULL. A mixed-type list draws each column from its own
    pool."""
    src_t, dst_t = draw(_edge_types)
    nullable = draw(st.booleans())

    def cell(t):
        v = st.sampled_from(_POOLS[t] if t != "string" or src_t == dst_t else ["0", "1", "x"])
        return v | st.none() if nullable else v

    rows = draw(st.lists(st.tuples(cell(src_t), cell(dst_t)), max_size=8))
    return src_t, dst_t, rows


def _frame(spark, src_t, dst_t, rows):
    return spark.createDataFrame(rows, f"src {src_t}, dst {dst_t}")


def _admitted(src_t, dst_t, rows, struct_ok: bool) -> bool:
    """Whether the documented gate policy takes the local path."""
    if src_t != dst_t or src_t.startswith("array") or (src_t.startswith("struct") and not struct_ok):
        return False
    return not any(c is None or (isinstance(c, float) and math.isnan(c)) for r in rows for c in r)


def _outcome(run):
    """What ``run()`` returned, or the class of the Spark error it raised
    (mixed-type endpoints go distributed, where ANSI casts may fail)."""
    try:
        return run()
    except Exception as e:  # noqa: BLE001 - compared across the two runs
        return type(e).__name__


def _same(a, b) -> bool:
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return a.schema == b.schema and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def _values(frame) -> list:
    """The rows as a sorted multiset of plain tuples (NaN made comparable)."""

    def cell(c):
        if isinstance(c, tuple):  # a struct Row
            return tuple(cell(v) for v in c)
        return "NaN" if isinstance(c, float) and math.isnan(c) else c

    return sorted((tuple(cell(c) for c in r) for r in frame.collect()), key=repr)


# the documented input classes, pinned as explicit examples: each runs on
# every hypothesis run whatever the random draws
_CASES = [
    ("bigint", "bigint", [(0, 1), (1, 2), (2, 0), (3, 3), (0, 1)]),  # cycle, self-loop, duplicate
    ("bigint", "bigint", []),  # empty input
    ("bigint", "bigint", [(0, None), (None, 1), (1, 2), (None, None)]),  # NULL, half-NULL
    ("double", "double", [(NAN, 0.5), (0.5, 2.0), (2.0, NAN), (-0.0, 0.5)]),  # NaN
    ("binary", "binary", [(b"x", b"\x00"), (b"\x00", b""), (b"", b"x")]),  # BinaryType
    ("struct<a:int,b:string>", "struct<a:int,b:string>", [((1, None), (2, "x")), ((2, "x"), (1, "x"))]),
    ("array<int>", "array<int>", [([1], [1, 2]), ([1, 2], [])]),  # arrays
    ("bigint", "string", [(0, "1"), (1, "x")]),  # mixed types
    ("bigint", "string", [(0, "1"), (1, "0")]),  # mixed types Spark joins by a cast
    ("string", "string", [("a", "b"), ("b", "a"), ("größe", "a\x00")]),
]

_settings = settings(
    max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck)
)


def _with_cases(test):
    for case in _CASES:
        test = example(case)(test)
    return test


@_settings
@_with_cases
@given(edge_lists())
def test_cc_gate_differential(spark, case):
    src_t, dst_t, rows = case
    edges = _frame(spark, src_t, dst_t, rows)
    on = _outcome(lambda: connected_components(edges))
    off = _outcome(lambda: connected_components(edges, small_graph_threshold=0))
    assert getattr(on, "_nemo_local", False) == _admitted(src_t, dst_t, rows, struct_ok=False)
    assert not getattr(off, "_nemo_local", False)
    assert _same(on, off), case


@_settings
@_with_cases
@given(edge_lists())
def test_tc_gate_differential(spark, case):
    src_t, dst_t, rows = case
    edges = _frame(spark, src_t, dst_t, rows)
    on = _outcome(lambda: transitive_closure(edges))
    off = _outcome(lambda: transitive_closure(edges, small_graph_threshold=0))
    assert getattr(on, "_nemo_local", False) == _admitted(src_t, dst_t, rows, struct_ok=True)
    assert not getattr(off, "_nemo_local", False)
    assert _same(on, off), case


X, Y, Z = Var("x"), Var("y"), Var("z")


def test_local_stratum_declines_cross_type_join(spark):
    """A join of a bigint column with a string column matches '1' to 1 in
    Spark (an implicit cast) but not in Python: the local stratum declines
    a rule that joins across types, and the result is Spark's."""
    edges = spark.createDataFrame([(0, "1"), (1, "0")], "src bigint, dst string")
    prog = Program(rules=[Rule(Atom("back", X, Y), [Atom("edge", X, Y), Atom("edge", Y, X)])])
    eng = SemiNaiveEngine(spark)
    eng.register("edge", edges)
    eng.run(prog)
    assert sorted(map(tuple, eng.table("back").collect())) == [(0, "1"), (1, "0")]
# a recursive closure, a projection and a join on both columns: the local
# stratum evaluates joins and projections in Python
_PROGRAM = Program(
    rules=[
        Rule(Atom("reach", X, Y), [Atom("edge", X, Y)]),
        Rule(Atom("reach", X, Z), [Atom("reach", X, Y), Atom("edge", Y, Z)]),
        Rule(Atom("node", X), [Atom("edge", X, Y)]),
        Rule(Atom("back", X, Y), [Atom("edge", X, Y), Atom("edge", Y, X)]),
    ]
)


@_settings
@_with_cases
@given(edge_lists())
def test_local_stratum_gate_differential(spark, case):
    src_t, dst_t, rows = case
    edges = _frame(spark, src_t, dst_t, rows)
    out, local = {}, []
    run = LocalFixpoint.run
    with mock.patch.object(LocalFixpoint, "run", autospec=True, side_effect=lambda lf, rules: local.append(1) or run(lf, rules)):
        for threshold in (10_000, 0):
            eng = SemiNaiveEngine(spark, local_stratum_threshold=threshold)
            eng.register("edge", edges)
            out[threshold] = _outcome(lambda: (eng.run(_PROGRAM), eng)[1])
    # one local fixpoint per SCC group (node, reach, back), all in the gated
    # run; across mixed endpoint types only `node`, which joins nothing (or
    # fewer, when a distributed group failed first)
    want = 3 if _admitted(src_t, dst_t, rows, struct_ok=True) else 0
    if src_t != dst_t and _admitted(src_t, src_t, rows, struct_ok=True):
        want = 1
    assert len(local) == want or (isinstance(out[10_000], str) and len(local) < want), case
    on, off = out[10_000], out[0]
    if isinstance(on, str) or isinstance(off, str):
        assert on == off, case
        return
    # values, not schemas: a local stratum types its derived columns by
    # Spark's inference from the Python rows (SemiNaiveEngine._local_frame)
    for pred in ("reach", "node", "back"):
        assert _values(on.table(pred)) == _values(off.table(pred)), (pred, case)
