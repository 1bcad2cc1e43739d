"""Incremental/streaming fixpoint maintenance."""

from __future__ import annotations

from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var
from nemo_spark.streaming.incremental import stream_facts_into

X, Y, Z = Var("X"), Var("Y"), Var("Z")

TC_PROG = Program(
    rules=[
        Rule(Atom("tc", X, Y), [Atom("edge", X, Y)]),
        Rule(Atom("tc", X, Z), [Atom("tc", X, Y), Atom("edge", Y, Z)]),
    ]
)


def _tc(pairs):
    """python transitive closure oracle"""
    closure = set(pairs)
    while True:
        new = {(a, d) for a, b in closure for c, d in pairs if b == c} - closure
        if not new:
            return closure
        closure |= new


def test_incremental_extend_matches_full_run(spark):
    base = [(1, 2), (2, 3), (5, 6)]
    extra = [(3, 4), (6, 1)]
    eng = SemiNaiveEngine(spark)
    eng.register("edge", spark.createDataFrame(base, ["a", "b"]))
    eng.run(TC_PROG)
    # incremental: new edges continue the fixpoint from deltas only
    eng.extend(TC_PROG, {"edge": spark.createDataFrame(extra, ["a", "b"])})
    got = {(r.c0, r.c1) for r in eng.table("tc").collect()}
    want = _tc(set(base) | set(extra))
    assert got == want


def test_streaming_facts(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame([(1, 2), (2, 3)], "a long, b long").write.parquet(str(src / "f1"))
    spark.createDataFrame([(3, 4)], "a long, b long").write.parquet(str(src / "f2"))

    eng = SemiNaiveEngine(spark)
    eng.register("edge", spark.createDataFrame([], "a long, b long"))
    eng.run(TC_PROG)

    stream = spark.readStream.schema("a long, b long").option("recursiveFileLookup", "true").parquet(str(src))
    q = stream_facts_into(
        eng, TC_PROG, stream, "edge", checkpoint_location=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {(r.c0, r.c1) for r in eng.table("tc").collect()}
    assert got == _tc({(1, 2), (2, 3), (3, 4)})







def test_streaming_restart_resumes_from_store(spark, tmp_path):
    """Restart protocol: Structured Streaming's checkpoint skips committed
    batches, so without the delta store a fresh engine would silently lose
    them; restore_streamed_facts re-injects the persisted batch deltas."""
    from nemo_spark.engine.checkpoint import CheckpointStore
    from nemo_spark.streaming.incremental import restore_streamed_facts

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame([(1, 2), (2, 3)], "a long, b long").write.parquet(str(src / "f1"))
    store = CheckpointStore(str(tmp_path / "store"), spark)
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("a long, b long").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))

    eng = SemiNaiveEngine(spark)
    eng.register("edge", spark.createDataFrame([], "a long, b long"))
    eng.run(TC_PROG)
    q = stream_facts_into(eng, TC_PROG, stream, "edge", checkpoint_location=ckpt, store=store)
    q.awaitTermination(120)
    assert {(r.c0, r.c1) for r in eng.table("tc").collect()} == _tc({(1, 2), (2, 3)})

    # "restart": a brand-new engine + a late file; the committed first batch
    # is NOT redelivered (same checkpoint), so it must come from the store
    spark.createDataFrame([(3, 4)], "a long, b long").write.parquet(str(src / "f2"))
    eng2 = SemiNaiveEngine(spark)
    eng2.register("edge", spark.createDataFrame([], "a long, b long"))
    eng2.run(TC_PROG)
    # same checkpoint_location as the query: the default snapshot name folds
    # it in so concurrent queries into one predicate can't collide
    assert restore_streamed_facts(eng2, TC_PROG, store, "edge", checkpoint_location=ckpt) >= 1
    stream2 = spark.readStream.schema("a long, b long").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q2 = stream_facts_into(eng2, TC_PROG, stream2, "edge", checkpoint_location=ckpt, store=store)
    q2.awaitTermination(120)
    got = {(r.c0, r.c1) for r in eng2.table("tc").collect()}
    assert got == _tc({(1, 2), (2, 3), (3, 4)})


def test_stream_store_names_disjoint_per_query(tmp_path):
    from nemo_spark.streaming.incremental import _store_name

    # two queries into the SAME predicate with different checkpoints must
    # snapshot under different names (batch ids both start at 0)
    a = _store_name("edge", None, str(tmp_path / "ckptA"))
    b = _store_name("edge", None, str(tmp_path / "ckptB"))
    assert a != b and a.startswith("stream_edge_") and b.startswith("stream_edge_")
    # explicit store_name always wins; no checkpoint = legacy bare name
    assert _store_name("edge", "mine", str(tmp_path / "ckptA")) == "mine"
    assert _store_name("edge", None, None) == "stream_edge"
