"""Operator semantics tests not covered by the DuckDB oracles."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from nemo_spark.kg.link import best_candidate, jaccard, char_ngrams, link_embedding, link_scored
from nemo_spark.ops.dedup import exact_dedup, jaccard_verify, lsh_candidate_pairs, simhash64
from nemo_spark.ops.graph import transitive_closure
from nemo_spark.ops.similarity import brute_force_topk, bucketed_topk, cosine, pandas_cosine_scores


def test_link_scored_exact_and_fuzzy(spark):
    mentions = spark.createDataFrame([("entity_7",), ("entity7",), ("zzz",)], ["mention"])
    aliases = spark.createDataFrame(
        [("entity_7", "ent7"), ("entity_8", "ent8"), ("alpha", "ent9")], ["alias", "entity_id"]
    )
    scored = link_scored(mentions, aliases, min_score=0.4)
    best = {r.mention: (r.entity_id, r.score) for r in best_candidate(scored, ["mention"]).collect()}
    assert best["entity_7"] == ("ent7", 1.0)  # exact alias
    assert best["entity7"][0] == "ent7" and 0.4 <= best["entity7"][1] < 1.0  # fuzzy
    assert "zzz" not in best  # below threshold / blocked


def test_link_scored_wide_blocking_bounds_candidates(spark):
    # skewed dictionary: 60% of aliases start with "sa" (think "Saint …",
    # "San …" gazetteers). 1-char blocking hands every s-mention the whole
    # 60% block; 2-char blocking must cap the worst block, and pairs whose
    # 2-char prefixes agree must link identically under both widths.
    rows = [(f"sa_place_{i:04d}", f"e{i}") for i in range(600)]
    rows += [(f"s{chr(98 + i % 24)}_other_{i:04d}", f"f{i}") for i in range(200)]
    rows += [(f"{chr(97 + i % 26)}x_misc_{i:04d}", f"g{i}") for i in range(200)]
    aliases = spark.createDataFrame(rows, ["alias", "entity_id"])

    # measured per-block dictionary fraction: the candidate count each
    # mention in that block meets, as a fraction of the dictionary
    def max_block_fraction(chars: int) -> float:
        frac = (
            aliases.groupBy(F.substr("alias", F.lit(1), F.lit(chars)).alias("b"))
            .count()
            .agg((F.max("count") / F.lit(len(rows))).alias("f"))
            .collect()[0]["f"]
        )
        return frac

    assert max_block_fraction(1) >= 0.6  # the skew is real: 's' block dominates
    assert max_block_fraction(2) <= 0.61  # 'sa' block = exactly the 600 sa-aliases
    assert max_block_fraction(2) < max_block_fraction(1)

    # ground-truth parity across widths: near-miss mentions of sa-aliases
    # (2-char prefixes agree, so blocking width can't change the result)
    mentions = spark.createDataFrame(
        [("sa_place_0007x",), ("sa_place_0400",), ("ax_misc_0003y",)], ["mention"]
    )
    narrow = {
        (r.mention, r.entity_id)
        for r in link_scored(mentions, aliases, min_score=0.5, block_chars=1).collect()
    }
    wide = {
        (r.mention, r.entity_id)
        for r in link_scored(mentions, aliases, min_score=0.5, block_chars=2).collect()
    }
    assert narrow == wide and ("sa_place_0400", "e400") in wide

    # adaptive default on a dimension-sized dictionary stays at 1 char
    # (identical rows to the explicit block_chars=1 call)
    adaptive = {
        (r.mention, r.entity_id)
        for r in link_scored(mentions, aliases, min_score=0.5).collect()
    }
    assert adaptive == narrow


def test_link_embedding_matches_catalyst_cosine(spark):
    # A/B: the Arrow-batched broadcast scorer vs a Catalyst cross-join cosine
    import random

    rng = random.Random(7)
    dim = 8
    mentions = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
        + [(99, [0.0] * dim)],  # zero vector scores 0.0 everywhere
        "vec_id int, embedding array<double>",
    )
    ents = spark.createDataFrame(
        [(f"e{j}", [rng.uniform(-1, 1) for _ in range(dim)]) for j in range(5)],
        "entity_id string, embedding array<double>",
    )
    got = link_embedding(mentions, ents, min_score=0.2, top1=False).select(
        "vec_id", "entity_id", F.round("score", 9).alias("score")
    )
    m = mentions.select("vec_id", F.col("embedding").alias("__mv"))
    e = ents.select("entity_id", F.col("embedding").alias("__ev"))
    want = (
        m.crossJoin(F.broadcast(e))
        .select("vec_id", "entity_id", cosine(F.col("__mv"), F.col("__ev")).alias("score"))
        .filter(F.col("score") >= 0.2)
        .select("vec_id", "entity_id", F.round("score", 9).alias("score"))
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_link_embedding_top1_min_id_tiebreak(spark):
    # two entities with the IDENTICAL vector: top1 must pick the min entity_id
    mentions = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<double>")
    ents = spark.createDataFrame(
        [("b", [1.0, 0.0]), ("a", [1.0, 0.0]), ("c", [0.0, 2.0])],
        "entity_id string, embedding array<double>",
    )
    rows = {r.vec_id: (r.entity_id, r.score) for r in link_embedding(mentions, ents).collect()}
    assert rows[1] == ("a", 1.0)  # tie between a and b -> min id
    assert rows[2] == ("c", 1.0)  # scale-invariant cosine
    # min_score drops sub-threshold mentions entirely in top1 mode
    orth = link_embedding(mentions.filter("vec_id = 2"), ents.filter("entity_id <> 'c'"), min_score=0.5)
    assert orth.count() == 0


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], ["doc_id", "text"]
    )
    kept = {r.doc_id for r in exact_dedup(df).collect()}
    assert kept == {1, 3}


def test_jaccard_verify_known_pair(spark):
    a = "w1 w2 w3 w4 w5 w6"
    b = "w1 w2 w3 w4 w5 zz"  # shares 3 of (4+4-3)? shingles: a has 4, b has 4, common 3
    df = spark.createDataFrame([(1, a), (2, b), (3, "x y z q r s")], ["doc_id", "text"])
    pairs = lsh_candidate_pairs(df)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got
    j = {(r.a, r.b): r.jaccard for r in jaccard_verify(pairs, df, threshold=0.0).collect()}
    assert abs(j[(1, 2)] - 3 / 5) < 1e-9


def test_simhash_hamming(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "kappa2")
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame([(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"])
    s = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    assert s[1] == s[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(s[1], s[3]) < ham(s[1], s[4])


def test_topk_brute_vs_pandas_and_bucketed(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [r[0] for r in emb.filter(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    rest = emb.filter(F.col("vec_id") != 0)
    brute = {r.vec_id: r.score for r in brute_force_topk(rest, qv, k=10).collect()}
    # pandas scorer agrees with Catalyst scorer
    pscores = {r.vec_id: r.score for r in pandas_cosine_scores(rest, qv).collect()}
    for vid, s in brute.items():
        assert abs(pscores[vid] - s) < 1e-9
    # bucketed ANN returns correctly-scored rows from the query bucket
    approx = {r.vec_id: r.score for r in bucketed_topk(rest, qv, k=10).collect()}
    full = {r.vec_id: r.score for r in pandas_cosine_scores(rest, qv).collect()}
    for vid, s in approx.items():
        assert abs(full[vid] - s) < 1e-6


def test_transitive_closure_matches_engine(spark):
    from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var

    edges = [(i, (i * 3 + 1) % 17) for i in range(17)] + [(1, 2), (5, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    tc = {(r.src, r.dst) for r in transitive_closure(df).collect()}
    eng = SemiNaiveEngine(spark)
    eng.register("edge", df)
    X, Y, Z = Var("X"), Var("Y"), Var("Z")
    eng.run(
        Program(
            rules=[
                Rule(Atom("tc", X, Y), [Atom("edge", X, Y)]),
                Rule(Atom("tc", X, Z), [Atom("tc", X, Y), Atom("edge", Y, Z)]),
            ]
        )
    )
    want = {(r.c0, r.c1) for r in eng.table("tc").collect()}
    assert tc == want


def test_filter_pushdown_reaches_scan(spark):
    import __spark_entry__ as entrymod

    df = entrymod.q_filter_pushdown_orders(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1][:200]
    # projection pruning: scan reads only the 3 needed columns
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:300]


def test_embedding_near_dups_lsh_default_plan_and_recall(spark):
    """Banded-LSH default: plan must be an equi-join (no
    BroadcastNestedLoopJoin / CartesianProduct), and recall vs the exact
    all-pairs path must be high for strongly-similar vectors."""
    from nemo_spark.ops.similarity import embedding_near_dups
    import random

    rng = random.Random(7)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    rows = []
    vid = 0
    for v in base:
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        # planted near-dup: tiny perturbation => cosine ~ 1
        rows.append((vid, [float(x + rng.gauss(0, 0.01)) for x in v]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    nd = embedding_near_dups(emb, threshold=0.95, dim=dim)
    plan = nd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    got = {(r.a, r.b) for r in nd.collect()}
    exact = {
        (r.a, r.b)
        for r in embedding_near_dups(emb, threshold=0.95, dim=dim, exact=True).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= exact
    # recall of the banded-LSH candidates vs exact at cos>=0.95
    assert len(got & exact) / len(exact) >= 0.9
    assert got <= exact  # every reported pair is a verified true pair


def test_extend_nonmonotone_resets_idb(spark):
    """Non-monotone extend: facts derived under negation must be RETRACTED
    when new EDB invalidates them (append-only re-run would keep them)."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X = Var("x")
    prog = Program(
        rules=[
            Rule(head=Atom("lonely", X), body=[Atom("node", X)], negated=[Atom("edge", X)]),
        ]
    )
    eng = SemiNaiveEngine(spark)
    eng.register("node", spark.createDataFrame([(1,), (2,)], ["a"]))
    eng.register("edge", spark.createDataFrame([(2,)], ["a"]))
    eng.run(prog)
    assert {r.c0 for r in eng.table("lonely").collect()} == {1}
    # new edge fact invalidates lonely(1)
    eng.extend(prog, {"edge": spark.createDataFrame([(1,)], ["a"])})
    assert {r.c0 for r in eng.table("lonely").collect()} == set()


def test_extend_nonmonotone_resets_bucketed_history(spark):
    """The same retraction with BUCKETED history engaged: the reset must
    also drop the predicate's bucketed managed table, or the next merge's
    anti-join would read stale facts and resurrect them."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X = Var("x")
    prog = Program(
        rules=[
            Rule(head=Atom("lonely", X), body=[Atom("node", X)], negated=[Atom("edge", X)]),
        ]
    )
    eng = SemiNaiveEngine(
        spark, bucket_history=4, bucket_history_threshold=0, local_stratum_threshold=0
    )
    eng.register("node", spark.createDataFrame([(1,), (2,)], ["a"]))
    eng.register("edge", spark.createDataFrame([(2,)], ["a"]))
    eng.run(prog)
    assert {r.c0 for r in eng.table("lonely").collect()} == {1}
    assert eng.history_table_name("lonely") is not None
    eng.extend(prog, {"edge": spark.createDataFrame([(1,)], ["a"])})
    assert {r.c0 for r in eng.table("lonely").collect()} == set()
    assert eng.history_table_name("lonely") is None


def test_extend_nonmonotone_aggregate_no_stale_rows(spark):
    """Aggregate rules under extend must not keep stale aggregate values."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var, agg

    X, Y = Var("x"), Var("y")
    prog = Program(rules=[Rule(head=Atom("cnt", X, agg.count(Y)), body=[Atom("r", X, Y)])])
    eng = SemiNaiveEngine(spark)
    eng.register("r", spark.createDataFrame([(1, 10), (1, 11)], ["a", "b"]))
    eng.run(prog)
    assert {(r.c0, r.c1) for r in eng.table("cnt").collect()} == {(1, 2)}
    eng.extend(prog, {"r": spark.createDataFrame([(1, 12)], ["a", "b"])})
    # count=2 must be gone, only count=3 remains
    assert {(r.c0, r.c1) for r in eng.table("cnt").collect()} == {(1, 3)}


def test_trace_tree_symmetric_tc(spark):
    """Recursive derivation trees (nemo ExecutionTraceTree shape): a derived
    closure fact traces back through the deriving rule to EDB leaves."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    X, Y, Z = Var("x"), Var("y"), Var("z")
    prog = Program(
        rules=[
            Rule(head=Atom("conn", X, Y), body=[Atom("edge", X, Y)], name="base"),
            Rule(head=Atom("conn", X, Z), body=[Atom("conn", X, Y), Atom("edge", Y, Z)], name="step"),
        ]
    )
    eng = SemiNaiveEngine(spark, trace=True)
    eng.register("edge", spark.createDataFrame([("a", "b"), ("b", "c")], ["s", "o"]))
    eng.run(prog)

    tree = eng.trace_tree("conn", ("a", "c"))
    assert tree is not None and tree["rule"] == "step"
    # premises: conn(a,b) via base <- edge(a,b); edge(b,c) as input leaf
    kinds = {(p["fact"][0], p["rule"]) for p in tree["premises"]}
    assert ("conn", "base") in kinds and ("edge", None) in kinds
    base_node = next(p for p in tree["premises"] if p["fact"][0] == "conn")
    assert base_node["premises"][0]["fact"] == ("edge", ("a", "b"))
    ascii_out = SemiNaiveEngine.format_trace(tree)
    assert "conn(a, c) <- step" in ascii_out and "edge(a, b) (input)" in ascii_out


def test_simhash_hamming_banded_complete(spark):
    """Pigeonhole-banded Hamming candidates (the documented 100-TB path for
    SimHash near-dups) return EXACTLY the pairs within max_hamming — the
    banding guarantees no false negatives, the bit_count(xor) filter kills
    band-collision false positives. Verified against brute force over the
    collected signatures, and the hex variant against its DuckDB oracle."""
    import random

    import duckdb
    import pandas as pd

    from nemo_spark.ops.dedup import (
        simhash_hamming_candidates,
        simhash_hex_hamming_candidates,
        simhash_hex_hamming_oracle_sql,
    )

    random.seed(7)
    vocab = [f"w{i}" for i in range(200)]
    docs = []
    for i in range(30):
        toks = random.sample(vocab, 30)
        docs.append((i, " ".join(toks)))
        near = list(toks)
        near[0] = random.choice(vocab)
        docs.append((1000 + i, " ".join(near)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    D = 3
    sigs = {r.doc_id: r.simhash for r in simhash64(df).collect()}

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    want = sorted(
        (a, b) for a in sigs for b in sigs if a < b and ham(sigs[a], sigs[b]) <= D
    )
    got = sorted((r.a, r.b) for r in simhash_hamming_candidates(df, max_hamming=D).collect())
    assert got == want and len(want) > 0

    got_hex = sorted(
        (r.a, r.b, r.hamming)
        for r in simhash_hex_hamming_candidates(df, max_hamming=D).collect()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want_hex = sorted(tuple(r) for r in con.execute(simhash_hex_hamming_oracle_sql()).fetchall())
    assert got_hex == want_hex


def test_mention_spans_mid_text(spark):
    """MENTION_RE is unanchored: spans must come from the actual match
    offsets, not assume the relation sentence starts at offset 0."""
    from nemo_spark.kg.extract import extract_mentions_pandas

    tr = spark.createDataFrame(
        [("c1", 0, "note: entity_1 works_at ent-2 .")],
        "conv_id string, turn_idx int, text string",
    )
    rows = {r.mention: (r.span_start, r.span_end) for r in extract_mentions_pandas(tr).collect()}
    assert rows["entity_1"] == (6, 14)
    assert rows["ent-2"] == (24, 29)


def test_mention_spans_match_per_row_search(spark):
    """The vectorized span extractor (prefix-capture ``str.extract``) must
    agree exactly with the per-row ``re.search`` model on adversarial texts:
    decoy near-matches before the real match, multi-line prefixes, repeated
    identical sentences (leftmost wins), None/empty/no-match rows."""
    import re

    from nemo_spark.kg.extract import MENTION_RE, extract_mentions_pandas

    texts = [
        "entity_1 works_at ent-2 .",
        "entity_9 works_near ent-3 . then entity_7 located_in E.4 .",  # decoy pred
        "line one\nline two entity_5 part_of entity_6 . trailing",
        "ent- entity_ E. entity_12 works_at E.13 .",  # decoy alias prefixes
        "E.1 part_of E.2 . E.1 part_of E.2 .",  # repeated: leftmost only
        "no relation sentence here",
        "",
        None,
        "x" * 500 + " ent-88 located_in entity_99 .",
    ]
    tr = spark.createDataFrame(
        [(f"c{i}", i, t) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, text string",
    )
    got = sorted(
        (r.conv_id, r.turn_idx, r.mention, r.span_start, r.span_end)
        for r in extract_mentions_pandas(tr).collect()
    )
    pat = re.compile(MENTION_RE)
    want = []
    for i, t in enumerate(texts):
        m = pat.search(t) if t is not None else None
        if m is None:
            continue
        for g in (1, 3):
            want.append((f"c{i}", i, m.group(g), m.start(g), m.end(g)))
    assert got == sorted(want)


def test_turn_features_keep_non_relation_turns(spark):
    """The one-pass feature extractor keeps a row per turn — quality/langid/
    fingerprint features of turns WITHOUT a relation sentence must survive
    (they feed dedup and quality filtering); triple columns are null."""
    from nemo_spark.kg.extract import extract_turn_features_pandas

    tr = spark.createDataFrame(
        [
            ("c1", 0, "entity_1 works_at ent-2 . more text"),
            ("c1", 1, "just chatting about the weather"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    out = extract_turn_features_pandas(tr).collect()
    assert len(out) == 2
    by_idx = {r.turn_idx: r for r in out}
    assert by_idx[0].subj_alias == "entity_1"
    assert by_idx[1].subj_alias is None
    assert by_idx[1].n_tokens == 5 and by_idx[1].fp is not None


def test_feature_extractors_identical(spark):
    """The Arrow/RE2 feature extractor (pipeline default) must be a value
    drop-in for the pandas one on every column, including edge turns:
    multilingual text, ties in language scores, relation-free turns, and
    empty-ish strings."""
    from nemo_spark.kg.extract import (
        extract_turn_features_arrow,
        extract_turn_features_pandas,
    )
    from nemo_spark.kg.transcripts import synth_transcripts

    tr = synth_transcripts(spark, 20_000)
    edge = spark.createDataFrame(
        [
            ("e", 0, "entity_1 works_at ent-2 . the el der le"),  # 4-way lang tie
            ("e", 1, "x"),
            ("e", 2, "la la la que y"),
            ("e", 3, "E.9 part_of E.10 . der und das ist"),
            ("e", 4, None),  # null text = empty turn on BOTH paths
            ("e", 5, ""),
        ],
        "conv_id string, turn_idx int, text string",
    )
    for df in (tr, edge):
        a = extract_turn_features_pandas(df)
        b = extract_turn_features_arrow(df)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_alias_triples_extractor_matches_feature_extractor(spark):
    """The triples-only map-side-distinct extractor (the pipeline's r7
    canonical-triples input) must yield exactly the distinct non-null triple
    set of the full feature extractor — same regex, same engine, minus the
    per-turn features and the no-match rows the inner joins drop anyway."""
    from pyspark.sql import functions as F

    from nemo_spark.kg.extract import (
        extract_alias_triples_arrow,
        extract_turn_features_arrow,
    )
    from nemo_spark.kg.transcripts import synth_transcripts

    tr = synth_transcripts(spark, 20_000)
    edge = spark.createDataFrame(
        [
            ("e", 0, "entity_1 works_at ent-2 . filler"),
            ("e", 1, "no relation here"),
            ("e", 2, None),
            ("e", 3, ""),
            ("e", 4, "entity_1 works_at ent-2 . filler"),  # duplicate triple
            # MID-TEXT relation: both extractors search anywhere (unanchored
            # NAMED_MENTION_RE); a ^-anchored fast path would drop this row
            ("e", 5, "note: E.7 part_of ent-9 . trailing"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    for df in (tr, edge):
        a = extract_alias_triples_arrow(df).dropDuplicates()
        b = (
            extract_turn_features_arrow(df)
            .select("subj_alias", "pred", "obj_alias")
            .where(F.col("subj_alias").isNotNull())
            .dropDuplicates()
        )
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_cc_nan_endpoints_use_sql_semantics(spark):
    """NaN node ids must not hang the driver-local union-find (Python's
    nan != nan breaks dict-keyed find) and must keep SQL semantics, where
    NaN = NaN: the small gate falls through to the distributed path."""
    import math

    from nemo_spark.kg.canonicalize import connected_components

    nan = float("nan")
    edges = spark.createDataFrame(
        [(nan, 1.0), (nan, 2.0), (5.0, 6.0)], "src double, dst double"
    )
    out = {
        (None if r.node is None else ("nan" if math.isnan(r.node) else r.node)): r.component
        for r in connected_components(edges).collect()
    }
    # 1 and 2 connect THROUGH the shared NaN node (SQL NaN = NaN)
    assert out[1.0] == out[2.0] == out["nan"] == 1.0
    assert out[5.0] == out[6.0] == 5.0


def test_jaccard_verify_empty_shingles(spark):
    """Identical docs shorter than k tokens (empty shingle sets) must score
    1.0, not NULL (which silently dropped true duplicates)."""
    from nemo_spark.ops.dedup import jaccard_verify

    docs = spark.createDataFrame(
        [(1, "hi"), (2, "hi"), (3, "completely different text right here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    out = jaccard_verify(pairs, docs, k=3, threshold=0.8).collect()
    assert [(r.a, r.b, r.jaccard) for r in out] == [(1, 2, 1.0)]


def test_cosine_scores_string_ids(spark):
    """pandas_cosine_scores derives the id column type from the input
    schema instead of hardcoding bigint."""
    from nemo_spark.ops.similarity import pandas_cosine_scores

    emb = spark.createDataFrame(
        [("v-1", [1.0, 0.0]), ("v-2", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    got = {r.vec_id: r.score for r in pandas_cosine_scores(emb, [1.0, 0.0]).collect()}
    assert abs(got["v-1"] - 1.0) < 1e-9 and abs(got["v-2"]) < 1e-9


def test_small_graph_gates_require_matching_types(spark):
    """Mixed src/dst types skip the single-task fast paths (whose output
    schema unifies both endpoint columns) and take the distributed path."""
    from nemo_spark.ops.graph import transitive_closure

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    mixed = edges.selectExpr("src", "CAST(dst AS STRING) AS dst")
    # same-typed input under threshold -> single task path, correct closure;
    # array keys collect as unhashable lists -> the gate declines them
    arrays = spark.createDataFrame([([1], [2]), ([2], [3])], "src array<int>, dst array<int>")
    for threshold in (10_000, 0):
        got = {(r.src, r.dst) for r in transitive_closure(edges, small_graph_threshold=threshold).collect()}
        assert got == {(1, 2), (1, 3), (2, 3)}, threshold
        got = {
            (tuple(r.src), tuple(r.dst))
            for r in transitive_closure(arrays, small_graph_threshold=threshold).collect()
        }
        assert got == {((1,), (2,)), ((1,), (3,)), ((2,), (3,))}, threshold
    # mixed types: must not crash in the fast path (falls back distributed;
    # Spark coerces the join keys)
    out = transitive_closure(mixed)
    assert out.count() >= 2


def test_salted_join_tolerates_map_columns(spark):
    """xxhash64 rejects MapType; the row salt must skip unhashable columns
    instead of failing analysis for frames carrying a properties map."""
    from nemo_spark.ops.skew import salted_join

    big = spark.createDataFrame(
        [(1, {"k": "v"}), (1, {"k2": "v2"}), (2, {})],
        "id int, props map<string,string>",
    )
    small = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    got = salted_join(big, small, on="id").select("id", "name").collect()
    assert sorted((r.id, r.name) for r in got) == [(1, "a"), (1, "a"), (2, "b")]


def test_embedding_dim_mismatch_fails_loudly(spark):
    """A wrong `dim` must raise, not silently zero every LSH signature
    (which degenerates the (band, sig) join into a cross product and makes
    bucketed top-k return empty)."""
    import pytest as _pytest

    from nemo_spark.ops.similarity import bucketed_topk, embedding_near_dups

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    with _pytest.raises(Exception, match="dim mismatch"):
        embedding_near_dups(emb, dim=8).collect()
    with _pytest.raises(Exception, match="dim mismatch"):
        bucketed_topk(emb, [1.0] * 8, k=1).collect()
    # correct dim still works on both paths
    assert embedding_near_dups(emb, dim=4, threshold=0.5).count() >= 0
    assert embedding_near_dups(emb, exact=True, threshold=0.5).count() == 1


def test_dedup_clusters_transitive(spark):
    """A~B and B~C must land in ONE cluster even without a direct A~C pair —
    the property pairwise dedup decisions cannot express."""
    from nemo_spark.ops.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [
            (10, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (11, "w1 w2 w3 w4 w5 w6 w7 zz"),   # near 10
            (12, "w1 w2 w3 w4 w5 w6 yy zz"),   # near 11, farther from 10
            (13, "a b c d e f g h"),           # unrelated
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert got[10] == got[11] == got[12] == 10
    assert got[13] == 13


def test_tc_null_endpoints_both_paths_agree(spark):
    """SQL join semantics on BOTH closure paths: a NULL endpoint never
    composes (the edge itself stays in the closure). The single-task path
    previously composed through Python None == None."""
    from nemo_spark.ops.graph import transitive_closure

    edges = spark.createDataFrame(
        [("a", None), (None, "b"), ("b", "c"), ("c", None)], "src string, dst string"
    )
    # NULLs carry outward ((NULL,b)∘(b,c) = (NULL,c); (b,c)∘(c,NULL) =
    # (b,NULL); (NULL,b)…(c,NULL) = (NULL,NULL)) but never join THROUGH:
    # 'a' does not reach 'b'
    want = {
        ("a", None), (None, "b"), ("b", "c"), ("c", None),
        (None, "c"), ("b", None), (None, None),
    }
    small = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    dist = {(r.src, r.dst) for r in transitive_closure(edges, small_graph_threshold=0).collect()}
    assert small == want and dist == want


def test_tc_cc_keyword_column_names(spark):
    """src/dst names that are not Python identifiers ('from' is a keyword —
    itertuples would rename it) work on the single-task paths."""
    from nemo_spark.kg.canonicalize import connected_components
    from nemo_spark.ops.graph import transitive_closure

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["from", "to"])
    tc = {(r["from"], r["to"]) for r in transitive_closure(edges, src="from", dst="to").collect()}
    assert tc == {(1, 2), (2, 3), (1, 3)}
    cc = {(r.node, r.component) for r in connected_components(edges, src="from", dst="to").collect()}
    assert cc == {(1, 1), (2, 1), (3, 1)}


def test_cc_null_endpoints_normalized(spark):
    """A half-NULL edge registers its non-null node as isolated; a full-NULL
    edge drops; no bogus NULL node row on either path."""
    from nemo_spark.kg.canonicalize import connected_components

    cases = [
        (
            spark.createDataFrame([(1, 2), (3, None), (None, None)], "src int, dst int"),
            {(1, 1), (2, 1), (3, 3)},
        ),
        # array keys collect as unhashable lists -> the gate declines them
        (
            spark.createDataFrame(
                [([1], [2]), ([3], None), (None, None)], "src array<int>, dst array<int>"
            ),
            {((1,), (1,)), ((2,), (1,)), ((3,), (3,))},
        ),
        # a NULL struct field sorts first in Spark; Python cannot order it
        (
            spark.createDataFrame(
                [((1, None), (1, 2))], "src struct<a:int,b:int>, dst struct<a:int,b:int>"
            ),
            {((1, None), (1, None)), ((1, 2), (1, None))},
        ),
    ]

    def key(v):
        return tuple(v) if isinstance(v, (list, tuple)) else v

    for edges, want in cases:
        for threshold in (100_000, 0):
            got = {
                (key(r.node), key(r.component))
                for r in connected_components(edges, small_graph_threshold=threshold).collect()
            }
            assert got == want, (threshold, got)


def test_local_path_declines_null_cells(spark):
    # SQL-NULL cells have no local-evaluator equivalent (None == None would
    # join where SQL NULL never matches): a stratum over a NULL-celled EDB
    # table must fall to the distributed path and produce Spark semantics
    from nemo_spark import Atom, Program, Rule, SemiNaiveEngine, Var

    X, Y = Var("X"), Var("Y")
    nan = float("nan")
    cases = [
        # row (1, NULL): head var X=1 is non-null -> h(1) survives (Spark
        # keeps it; only NULL HEAD cells drop). row (NULL, 5): X=NULL -> drops.
        (
            [Rule(Atom("h", X), [Atom("r", X, Y)])],
            {"r": ([(1, None), (None, 5), (2, 3)], "a int, b int")},
            {(1,), (2,)},
        ),
        # NaN join key: SQL joins NaN = NaN, Python's nan != nan does not
        (
            [Rule(Atom("h", X, Y), [Atom("r", X, Y), Atom("s", X)])],
            {
                "r": ([(nan, 1.0), (2.0, 2.0)], "a double, b double"),
                "s": ([(nan,), (2.0,)], "a double"),
            },
            {("nan", 1.0), (2.0, 2.0)},
        ),
        # array cells collect as unhashable lists
        (
            [Rule(Atom("h", Y), [Atom("r", X, Y), Atom("s", X)])],
            {
                "r": ([([1, 2], 3), ([4], 5)], "a array<int>, b int"),
                "s": ([([1, 2],)], "a array<int>"),
            },
            {(3,)},
        ),
    ]
    for rules, tables, want in cases:
        runs = []
        for threshold in (100_000, 0):  # local-eligible vs forced-distributed
            eng = SemiNaiveEngine(spark, local_stratum_threshold=threshold)
            for name, (rows, schema) in tables.items():
                eng.register(name, spark.createDataFrame(rows, schema))
            eng.run(Program(rules=rules))
            runs.append(
                {tuple("nan" if c != c else c for c in r) for r in eng.table("h").collect()}
            )
            eng.close()
        assert runs == [want, want], (tables, runs)


def test_tokens_whitespace_runs(spark):
    """Tokenization collapses any whitespace (newlines, tabs, runs); empty
    text yields zero tokens; langid no longer misclassifies newline-wrapped
    English; edge punctuation and case don't hide stopwords."""
    from nemo_spark.ops.text import langid_heuristic, token_counts

    docs = spark.createDataFrame(
        [
            (1, "the\ncat\nis\non\nthe\nmat"),
            (2, "The cat, the mat."),
            (3, "a  b\tc "),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    toks = {r.doc_id: r.n_tokens for r in token_counts(docs).collect()}
    assert toks == {1: 6, 2: 4, 3: 3, 4: 0}
    lang = {r.doc_id: r.pred_lang for r in langid_heuristic(docs).collect()}
    assert lang[1] == "en" and lang[2] == "en"


def test_fingerprint_whitespace_invariant(spark):
    """Whitespace-variant duplicates share a fingerprint (the normalization
    the docstring promises — previously an identity transform)."""
    from nemo_spark.ops.text import fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b\tc"), (3, " a b c "), (4, "a b d")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.fp_md5 for r in fingerprint(docs).collect()}
    assert fp[1] == fp[2] == fp[3] != fp[4]


def test_plane_components_decorrelated():
    """LSH hyperplanes must be mutually near-orthogonal: the old affine hash
    made plane p+22 nearly parallel to plane p (|cos| 0.9993), collapsing
    band independence."""
    import math

    from nemo_spark.ops.similarity import plane

    dim = 64
    planes = [plane(p, dim) for p in range(32)]

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / math.sqrt(sum(a * a for a in u) * sum(b * b for b in v))

    worst = max(
        abs(cos(planes[i], planes[j])) for i in range(32) for j in range(i + 1, 32)
    )
    # random 64-dim directions concentrate around |cos| ~ 1/sqrt(64) = 0.125
    assert worst < 0.5, worst


def test_salted_join_rejects_bad_salt_factor(spark):
    from nemo_spark.ops.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "y")], "k long, w string")
    with pytest.raises(ValueError, match="salt_factor"):
        salted_join(big, small, on="k", salt_factor=0)


def test_pandas_cosine_scores_null_embedding(spark):
    """NULL embeddings score 0.0 on the Arrow path, matching Catalyst's
    when(norm > 0) guard, instead of a TypeError that kills the task."""
    from nemo_spark.ops.similarity import pandas_cosine_scores

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.score for r in pandas_cosine_scores(emb, [1.0, 0.0]).collect()}
    assert got[1] == 1.0 and got[2] == 0.0


def test_link_embedding_empty_and_null(spark):
    """Empty entity dictionary => empty result (not an np.stack crash);
    NULL mention vector => zero vector => dropped by min_score=0... kept
    with score 0.0 (best >= 0.0)."""
    from nemo_spark.kg.link import link_embedding

    mentions = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "mention_id long, vec array<double>"
    )
    empty_ents = spark.createDataFrame([], "entity_id long, evec array<double>")
    assert (
        link_embedding(
            mentions, empty_ents, id_col="mention_id", vec_col="vec",
            entity_id_col="entity_id", entity_vec_col="evec",
        ).count()
        == 0
    )
    ents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], "entity_id long, evec array<double>"
    )
    got = {
        r.mention_id: (r.entity_id, r.score)
        for r in link_embedding(
            mentions, ents, id_col="mention_id", vec_col="vec",
            entity_id_col="entity_id", entity_vec_col="evec",
        ).collect()
    }
    assert got[1] == (10, 1.0)
    # null vector: cosine 0.0 vs every entity, min-id tie-break, kept at
    # the default min_score=0.0 boundary
    assert got[2] == (10, 0.0)


def test_constraint_propagation_per_session(spark):
    # ADVICE r6: the CP-disable refcount must be keyed per SparkSession —
    # spark.sql.constraintPropagation.enabled is a per-session SQLConf, so a
    # second engine on spark.newSession() needs its own disable, and each
    # session's last close() restores the value saved from THAT session.
    from nemo_spark.engine.seminaive import _CP_KEY, SemiNaiveEngine

    s2 = spark.newSession()
    s2.conf.set(_CP_KEY, "true")
    spark_prev = spark.conf.get(_CP_KEY)
    e1 = SemiNaiveEngine(spark)
    assert spark.conf.get(_CP_KEY) == "false"
    assert s2.conf.get(_CP_KEY) == "true"  # untouched so far
    e2 = SemiNaiveEngine(s2)
    assert s2.conf.get(_CP_KEY) == "false"  # disabled despite e1 being open
    e2.close()
    assert s2.conf.get(_CP_KEY) == "true"  # restored from s2's own saved value
    assert spark.conf.get(_CP_KEY) == "false"  # e1 still open on its session
    e1.close()
    assert spark.conf.get(_CP_KEY) == spark_prev


def test_exact_dedup_null_text_kept(spark):
    # NULL text must dedup to ONE representative, not vanish: a plain
    # equality rejoin on a NULL md5 key matches nothing
    from nemo_spark.ops.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], "doc_id long, text string"
    )
    got = {(r.doc_id, r.text) for r in exact_dedup(df).collect()}
    assert got == {(1, None), (2, "x")}


def test_lsh_short_docs_pair_on_exact_text(spark):
    # docs under k tokens have empty shingles (all band minhashes NULL), so
    # band joins can never propose them; byte-identical short docs must
    # still pair (exact-normalized-text fallback), different ones must NOT
    from nemo_spark.ops.dedup import dedup_clusters, jaccard_verify, lsh_candidate_pairs

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "hello   world"),  # same after whitespace normalization
            (3, "bye moon"),
            (4, "a proper long document with many tokens inside it"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.a, r.b) for r in lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # the verified pair survives (empty-vs-empty shingles => jaccard 1.0)
    verified = {(r.a, r.b) for r in jaccard_verify(lsh_candidate_pairs(df), df).collect()}
    assert (1, 2) in verified and all(3 not in p for p in verified)
    clusters = {r.doc_id: r.cluster_id for r in dedup_clusters(df).collect()}
    assert clusters == {1: 1, 2: 1, 3: 3, 4: 4}


def test_fingerprint_edge_whitespace_invariant(spark):
    # trailing newline (ubiquitous in scraped docs) must collide with the
    # clean text: collapse-then-trim, not trim-then-collapse
    from nemo_spark.ops.text import fingerprint

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world\n"), (3, "\t hello world \n")],
        "doc_id long, text string",
    )
    fps = {r.fp_md5 for r in fingerprint(df).collect()}
    assert len(fps) == 1


def test_langid_preserves_existing_count_columns(spark):
    # langid must not clobber-and-drop a caller's n_tokens/n_stopwords
    from nemo_spark.ops.text import langid_heuristic, token_counts

    df = spark.createDataFrame([(1, "the cat sat on the mat")], "doc_id long, text string")
    out = langid_heuristic(token_counts(df))
    row = out.select("n_tokens", "n_distinct_tokens", "pred_lang", "en_score").collect()[0]
    assert row.n_tokens == 6 and row.pred_lang == "en"


def test_cc_unconverged_raises_loudly(spark):
    # star CC on a 7-node chain with max_rounds=1: returning
    # still-changing labels would be silent corruption — must raise
    from nemo_spark.kg.canonicalize import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, small_graph_threshold=0, max_rounds=1).collect()


def test_broadcast_cache_hits_on_value_equal_string_ids(spark):
    # object-dtype id arrays: the digest must hash VALUES, not PyObject
    # pointers — a rebuilt identical dictionary must reuse the broadcast,
    # and same-vectors/different-ids must NOT collide
    import numpy as np

    from nemo_spark.kg.link import _BC_CACHE, _broadcast_cached

    _BC_CACHE.clear()
    vecs = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    a = _broadcast_cached(spark, np.asarray(["e1", "e2"], dtype=object), vecs)
    b = _broadcast_cached(spark, np.asarray(["e" + "1", "e" + "2"], dtype=object), vecs.copy())
    assert a is b  # fresh string objects, same values -> cache hit
    c = _broadcast_cached(spark, np.asarray(["f1", "f2"], dtype=object), vecs)
    assert c is not a  # different ids, same vectors -> distinct broadcast
    _BC_CACHE.clear()


def test_pipeline_unknown_extractor_raises(spark):
    from nemo_spark.kg.pipeline import run_pipeline
    from nemo_spark.kg.transcripts import synth_transcripts

    with pytest.raises(ValueError, match="unknown extractor"):
        run_pipeline(spark, synth_transcripts(spark, 100), extractor="features-pandas")
