"""The engine's merge path: one observed Spark action per merge (the
registration count is pinned in ``test_sources.py``), typed #min/#max
ordered in Catalyst, and local strata handed back through Arrow. None of
these tests read reference testcase files."""

from __future__ import annotations

import datetime
import decimal

import pytest

from nemo_spark.engine import seminaive
from nemo_spark.engine.seminaive import SemiNaiveEngine
from nemo_spark.model.rules import Atom, Program, Rule, Var, agg
from nemo_spark.model.values import Value
from nemo_spark.session import local_frame, local_rows
from nemo_spark.sources.dsv_typed import typed_rows_df

G, X, Y = Var("g"), Var("x"), Var("y")


def _jobs(spark, group, action):
    """(Spark jobs ``action`` ran under its own job group, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_merge_is_one_observed_action(spark):
    """A merge of a 10k-row derived frame against a 10k-row table runs the
    anti-join's map stages and ONE checkpoint job whose observation counts
    the fresh rows: 2 jobs on local[4]. A lazy checkpoint followed by
    ``count()`` ran 3 on the same frames."""
    eng = SemiNaiveEngine(spark, local_stratum_threshold=0)
    eng.register("p", spark.range(10_000).toDF("v"))
    for k in (5_000, 10_000):
        derived = spark.range(k, k + 10_000).toDF("c0")
        n, (fresh, cnt) = _jobs(spark, f"merge-{k}", lambda: eng._merge("p", derived))
        assert n == 2
        assert cnt == fresh.count() == 5_000
    assert eng._table_counts["p"] == eng.table("p").count() == 20_000


# ------------------------------------------------------ Arrow hand-back

_TYPED = "c0 struct<t:int,i:bigint,d:double,s:string>, c1 struct<t:int,i:bigint,d:double,s:string>"

# (name, DDL, rows, handed back through Arrow)
_LOCAL_TYPES = [
    ("long", "c0 bigint", [(-(1 << 63),), (0,), ((1 << 63) - 1,)], True),
    ("int", "c0 int", [(-(1 << 31),), (7,)], True),
    ("double", "c0 double", [(-0.0,), (1.5,), (float("inf"),), (-1e308,)], True),
    ("float", "c0 float", [(0.1,), (-3.0,)], True),
    ("decimal", "c0 decimal(20,4)", [(decimal.Decimal("-12.3456"),), (decimal.Decimal("1E+10"),)], True),
    ("string", "c0 string", [("",), ("a\x00b",), ("größe ✓",)], True),
    ("binary", "c0 binary", [(b"",), (b"\x00\xff",)], True),
    ("boolean", "c0 boolean", [(True,), (False,)], True),
    ("date", "c0 date", [(datetime.date(1, 1, 1),), (datetime.date(2024, 2, 29),)], True),
    (
        "struct",
        "c0 struct<x:bigint,y:string,z:double>",
        [((1, "a", 0.5),), ((2, None, -1.0),)],
        True,
    ),
    (
        "timestamp",
        "c0 timestamp",
        [(datetime.datetime(2024, 3, 31, 1, 30, 0, 123456),), (datetime.datetime(1970, 1, 1),)],
        False,
    ),
    ("timestamp_ntz", "c0 timestamp_ntz", [(datetime.datetime(2024, 1, 1, 12),)], False),
]


@pytest.mark.parametrize("name, ddl, rows, arrow", _LOCAL_TYPES, ids=[t[0] for t in _LOCAL_TYPES])
def test_local_frame_equals_pickled_frame(spark, name, ddl, rows, arrow):
    """The Arrow-built frame of a local stratum's rows equals the frame
    ``createDataFrame(list)`` built from the same rows: same schema, same
    rows. The rows are what ``local_rows`` collects from a table of that
    type. Timestamps keep the pickled path (a Python worker shows in the
    lineage as a PythonRDD); every other admitted type takes Arrow."""
    table = spark.createDataFrame(rows, ddl)
    got_rows = local_rows(table)
    assert got_rows is not None
    new = local_frame(spark, got_rows, table.schema)
    old = spark.createDataFrame(got_rows, table.schema)
    assert new.schema == old.schema == table.schema
    assert sorted(map(tuple, new.collect()), key=repr) == sorted(map(tuple, old.collect()), key=repr)
    lineage = new._jdf.queryExecution().toRdd().toDebugString()
    assert ("PythonRDD" not in lineage) == arrow


def test_local_frame_typed_values_and_empty(spark):
    """Typed value-struct rows (the local stratum of an .rls run) and the
    empty frame both come back through Arrow, equal to the pickled frame."""
    vals = [Value.int(-(1 << 63)), Value.int((1 << 64) - 1), Value.double(-0.0), Value.string("a\x00"),
            Value.lang_string("chat", "FR"), Value.tuple_of([Value.int(1)]), Value.boolean(True)]
    rows = [(a.as_row(), b.as_row()) for a, b in zip(vals, reversed(vals))]
    new = local_frame(spark, rows, _TYPED)
    old = spark.createDataFrame(rows, _TYPED)
    assert new.schema == old.schema
    assert sorted(map(repr, new.collect())) == sorted(map(repr, old.collect()))
    assert "PythonRDD" not in new._jdf.queryExecution().toRdd().toDebugString()
    empty = local_frame(spark, [], _TYPED)
    assert empty.schema == old.schema and empty.count() == 0


@pytest.mark.parametrize("typed", [False, True])
def test_local_stratum_hands_back_arrow_frames(spark, typed):
    """A local stratum's derived table and its trace records are Arrow
    frames (no PythonRDD in their lineage) equal to the distributed run's."""
    if typed:
        edges = typed_rows_df(spark, [(Value.int(a), Value.int(a + 1)) for a in range(20)], 2)
    else:
        edges = spark.createDataFrame([(a, a + 1) for a in range(20)], "a bigint, b bigint")
    prog = Program(
        rules=[
            Rule(Atom("reach", X, Y), [Atom("edge", X, Y)]),
            Rule(Atom("reach", X, Var("z")), [Atom("reach", X, Y), Atom("edge", Y, Var("z"))]),
        ]
    )
    got = {}
    for threshold in (0, 1_000):
        eng = SemiNaiveEngine(spark, local_stratum_threshold=threshold, trace=True)
        eng.register("edge", edges)
        eng.run(prog)
        got[threshold] = eng.table("reach")
        if threshold:
            frames = [eng.table("reach")] + [rec[4] for rec in eng._provenance]
            assert all("PythonRDD" not in f._jdf.queryExecution().toRdd().toDebugString() for f in frames)
    assert got[0].schema == got[1_000].schema
    assert got[0].exceptAll(got[1_000]).count() == got[1_000].exceptAll(got[0]).count() == 0
    assert got[0].count() == 20 * 21 // 2


# ------------------------------------------------------ typed #min/#max

_ATOMIC = [
    Value.int(-(1 << 63)), Value.int((1 << 63) - 1), Value.int(3), Value.int((1 << 64) - 1),
    Value.int(1 << 63), Value.double(-1.5), Value.double(2.25), Value.float32(0.5),
    Value.string(""), Value.string("a\x00b"), Value.string("größe"), Value.iri("http://ex/ü"),
    Value.lang_string("chat", "fr"), Value.lang_string("chat", "en"),
    Value.other("2024-01-01", "http://www.w3.org/2001/XMLSchema#date"),
    Value.boolean(False), Value.boolean(True), Value.null("n1"),
]
_STRUCTURED = [
    Value.tuple_of([Value.int(2), Value.int(9)]), Value.tuple_of([Value.int(2), Value.int(10)]),
    Value.map_of([(Value.string("k"), Value.int(1))]), Value.int(7), Value.string("z"),
]


def _min_max(spark, threshold, rows):
    eng = SemiNaiveEngine(spark, local_stratum_threshold=threshold)
    eng.register("p", typed_rows_df(spark, rows, 2))
    eng.run(
        Program(
            rules=[
                Rule(Atom("lo", G, agg.min(X)), [Atom("p", G, X)]),
                Rule(Atom("hi", G, agg.max(X)), [Atom("p", G, X)]),
            ]
        )
    )
    return {p: sorted(repr(tuple(map(tuple, r))) for r in eng.table(p).collect()) for p in ("lo", "hi")}


@pytest.mark.parametrize("values, byte_key", [(_ATOMIC, False), (_STRUCTURED, True)], ids=["atomic", "tuple_map"])
def test_min_max_mixed_tags_match_local_fixpoint(spark, monkeypatch, values, byte_key):
    """Distributed #min/#max (``local_stratum_threshold=0``) over groups of
    mixed tags equals the LocalFixpoint result. Atomic values order by the
    Catalyst key; a tuple or map anywhere in the aggregated column makes
    the one probe pick the byte key."""
    rows = [(Value.int(g), v) for g in range(4) for j, v in enumerate(values) if (j + g) % 4 != 0]
    calls = []
    real = seminaive._sort_key_col
    monkeypatch.setattr(seminaive, "_sort_key_col", lambda c: calls.append(1) or real(c))
    distributed = _min_max(spark, 0, rows)
    assert bool(calls) == byte_key
    assert distributed == _min_max(spark, 1_000_000, rows)
