"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full KG pipeline (extract -> link -> canonicalize
-> fixpoint closure) over transcripts derived from sf0.001 documents.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 plus the training-data-pipeline operators; every SQL oracle
runs on DuckDB over the pre-registered parquet views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# DuckDB fragments matching nemo_spark.ops.text tokenization exactly (both
# engines' regexes are RE2) — single-sourced so Spark and oracle can't drift
from nemo_spark.ops.text import EN_STOPWORDS as _EN_STOPWORDS
from nemo_spark.ops.text import normalized_sql as _normalized_sql
from nemo_spark.ops.text import token_key_sql as _token_key_sql
from nemo_spark.ops.text import tokens_sql as _tokens_sql

_TOKS = _tokens_sql("text")
_TOKKEY = _token_key_sql("x")
_STOPS = "(" + ",".join(f"'{w}'" for w in _EN_STOPWORDS) + ")"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c, p: int = 18, s: int = 2):
    return F.col(c).cast(f"decimal({p},{s})") if isinstance(c, str) else c.cast(f"decimal({p},{s})")


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    from nemo_spark.kg.pipeline import materialized_triples, run_pipeline
    from nemo_spark.kg.transcripts import transcripts_from_documents

    docs = _t(spark, SF0001, "documents")
    res = run_pipeline(spark, transcripts_from_documents(docs))
    return materialized_triples(res)


# ---------------------------------------------------------- relational layer


def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q1 shape: filter -> groupBy -> multi-agg (partial agg map-side).
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_customer_order_nation(spark: SparkSession, sf: str) -> DataFrame:
    # two shuffles max: orders⋈customer on custkey; nation broadcast (dim).
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


def q_anti_customers_no_orders(spark: SparkSession, sf: str) -> DataFrame:
    # negation as left_anti (nemo Subtract)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on="c_custkey", how="left_anti").select("c_custkey", "c_name")


def q_semi_parts_ordered(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return p.join(li, on="p_partkey", how="left_semi").select("p_partkey", "p_brand")


def q_union_nationkeys(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    return c.unionByName(s).dropDuplicates()


def q_minmax_orders(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_count_distinct_events(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_try_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    # nemo error-is-no-result: division by zero drops the row (try_divide -> null filter)
    li = _t(spark, sf, "lineitem")
    ratio = F.try_divide(F.col("l_quantity"), F.col("l_linenumber") - F.lit(1))
    return (
        li.select("l_orderkey", "l_linenumber", ratio.alias("ratio"))
        .filter(F.col("ratio").isNotNull())
    )


def q_string_ops(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substr(F.col("p_name"), F.lit(1), F.lit(8)).alias("prefix8"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.contains(F.col("p_name"), F.lit("a")).alias("has_a"),
    )


def q_salted_join_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit skew salting (ops/skew.py): orders joined to customer with
    the fact side's hot keys spread over 8 salt buckets — row-identical to
    the plain equi-join (the oracle), which is exactly the property that
    makes salting a safe drop-in when a key distribution melts a reducer."""
    from nemo_spark.ops.skew import salted_join

    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_name")
    return salted_join(o, c, on="c_custkey", salt_factor=8).select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


def q_filter_pushdown_orders(spark: SparkSession, sf: str) -> DataFrame:
    # predicate + projection pushdown to the parquet scan
    return (
        _t(spark, sf, "orders")
        .filter((F.col("o_totalprice") > 150000) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------- datalog fixpoint layer


def q_tc_nations(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive closure over a deterministic nation graph (i -> (2i+3) mod
    25) via the path-doubling operator (O(log diameter) rounds). The generic
    linear-recursion engine computes the identical relation
    (tests/test_ops.py::test_transitive_closure_matches_engine) but pays
    O(diameter) fixpoint barriers — doubling is the scale-path choice."""
    from nemo_spark.ops.graph import transitive_closure

    n = _t(spark, sf, "nation")
    edges = n.select(
        F.col("n_nationkey").cast("long").alias("src"),
        ((F.col("n_nationkey") * 2 + 3) % 25).cast("long").alias("dst"),
    )
    return transitive_closure(edges)


def q_datalog_negation(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-driven rule with negation: nations that have customers but no
    suppliers — cust_nation(N) :- customer(...,N); supp_nation(N) :- ...;
    result(N) :- cust_nation(N), ~supp_nation(N)."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    eng = SemiNaiveEngine(spark)
    eng.register("customer", _t(spark, sf, "customer").select(F.col("c_nationkey").cast("long")))
    eng.register("supplier", _t(spark, sf, "supplier").select(F.col("s_nationkey").cast("long")))
    N = Var("N")
    eng.run(
        Program(
            rules=[
                Rule(Atom("cust_nation", N), [Atom("customer", N)]),
                Rule(Atom("supp_nation", N), [Atom("supplier", N)]),
                Rule(Atom("result", N), [Atom("cust_nation", N)], negated=[Atom("supp_nation", N)]),
            ]
        )
    )
    return eng.table("result").select(F.col("c0").alias("nationkey"))


def q_datalog_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-driven aggregate rule (nemo #count semantics: distinct
    bindings): per order priority, number of distinct customers."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var, agg

    eng = SemiNaiveEngine(spark)
    eng.register("orders", _t(spark, sf, "orders").select("o_orderpriority", F.col("o_custkey").cast("long")))
    P, C = Var("P"), Var("C")
    eng.run(Program(rules=[Rule(Atom("r", P, agg.count(C)), [Atom("orders", P, C)])]))
    return eng.table("r").select(F.col("c0").alias("o_orderpriority"), F.col("c1").alias("n_custs"))


def q_cc_users(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components (min node id per component) over a deterministic user graph."""
    from nemo_spark.kg.canonicalize import connected_components

    u = _t(spark, sf, "events").select(F.col("user_id").cast("long").alias("a")).dropDuplicates()
    edges = u.select(F.col("a").alias("src"), (F.col("a") % 7).alias("dst"))
    cc = connected_components(edges)
    return cc.select(F.col("node").cast("long").alias("node"), F.col("component").cast("long").alias("component"))


# ------------------------------------------------------------- KG pipeline


def _kg_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.transcripts import transcripts_from_documents

    return transcripts_from_documents(_t(spark, sf, "documents"))


def q_kg_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    return _kg_transcripts(spark, sf)


def q_kg_turns_per_conv(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _kg_transcripts(spark, sf)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("min_turn"),
            F.max("turn_idx").alias("max_turn"),
        )
    )


def q_kg_extract(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.extract import extract_triples_pandas

    return extract_triples_pandas(_kg_transcripts(spark, sf))


def q_kg_mentions(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.extract import extract_mentions_pandas

    return extract_mentions_pandas(_kg_transcripts(spark, sf))


def q_kg_linked(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.extract import extract_triples_pandas
    from nemo_spark.kg.link import link_exact
    from nemo_spark.kg.transcripts import alias_dict

    ext = extract_triples_pandas(_kg_transcripts(spark, sf)).select("conv_id", "turn_idx", "subj_alias")
    return link_exact(ext, alias_dict(spark), mention_col="subj_alias")


def q_kg_link_scored(spark: SparkSession, sf: str) -> DataFrame:
    # fuzzy Jaccard candidates; DuckDB oracle replicates blocking + 3-gram
    # Jaccard + best-candidate tie-breaking
    from nemo_spark.kg.extract import extract_triples_pandas
    from nemo_spark.kg.link import best_candidate, link_scored
    from nemo_spark.kg.transcripts import alias_dict

    m = (
        extract_triples_pandas(_kg_transcripts(spark, sf))
        .select(F.col("subj_alias").alias("mention"))
        .dropDuplicates()
    )
    # block_chars pinned to 1: the DuckDB oracle replicates first-char
    # blocking unconditionally, so the adaptive default must never diverge
    # from it (it would at >100k aliases)
    scored = link_scored(m, alias_dict(spark), min_score=0.5, block_chars=1)
    best = best_candidate(scored, ["mention"])
    return best.select("mention", "entity_id", F.round("score", 6).alias("score"))


def q_kg_alias_dict(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.transcripts import alias_dict

    return alias_dict(spark)


def q_kg_canonical_map(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.canonicalize import canonical_map_from_alias_dict
    from nemo_spark.kg.transcripts import alias_dict

    return canonical_map_from_alias_dict(alias_dict(spark))


def q_kg_triples(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.pipeline import run_pipeline

    return run_pipeline(spark, _kg_transcripts(spark, sf), transitive_preds=()).triples


def q_kg_closure(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.pipeline import run_pipeline

    return run_pipeline(spark, _kg_transcripts(spark, sf)).closure


def q_kg_materialized(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.kg.pipeline import materialized_triples, run_pipeline

    return materialized_triples(run_pipeline(spark, _kg_transcripts(spark, sf)))


# ---------------------------------------------------- training-data operators


def q_text_tokens(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.text import token_counts

    return token_counts(_t(spark, sf, "documents")).select("doc_id", "n_tokens", "n_distinct_tokens")


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.text import quality_features

    return quality_features(_t(spark, sf, "documents")).select(
        "doc_id", "n_chars_actual", "n_dots", "n_tokens", "n_stopwords", "stopword_ratio"
    )


def q_text_langid(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.text import langid_heuristic

    return langid_heuristic(_t(spark, sf, "documents")).select("doc_id", "lang", "en_score", "pred_lang")


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf, "documents"))


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.dedup import signatures

    return signatures(_t(spark, sf, "documents")).select("doc_id", "band0", "band1", "band2", "band3")


def q_dedup_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.dedup import lsh_candidate_pairs, signatures

    return lsh_candidate_pairs(signatures(_t(spark, sf, "documents")))


def q_dedup_jaccard_verify(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.dedup import jaccard_verify, lsh_candidate_pairs, signatures

    sig = signatures(_t(spark, sf, "documents"))
    return jaccard_verify(lsh_candidate_pairs(sig), sig, threshold=0.5).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clusters: banded-LSH pairs -> exact Jaccard verify ->
    connected components -> (doc_id, cluster_id = min doc of component).
    The transitive-closure step is what a pairwise dedup decision cannot
    express (A~B, B~C must keep ONE doc even without the A~C pair); the
    oracle reproduces it with a recursive CTE."""
    from nemo_spark.ops.dedup import dedup_clusters

    return dedup_clusters(_t(spark, sf, "documents"), threshold=0.5)


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming<=3 SimHash near-dup pairs via pigeonhole banding (the scale
    path: (band, bits) equi-join, never all-pairs; exact bit_count(xor)
    verify), emitting BOTH endpoints' md5-derived hex signatures so one
    driver row attests signature values and pair semantics together.

    Consolidated from the former dedup_simhash + dedup_simhash_hamming pair
    in round 6: the driver sweep attests at most 50 queries, and the
    signatures ride the band join for free (include_signatures=True), so the
    merged row loses nothing — DuckDB recomputes signatures from scratch and
    compares all pairs (correctness reference, not the 100-TB plan)."""
    from nemo_spark.ops.dedup import simhash_hex_hamming_candidates

    return simhash_hex_hamming_candidates(
        _t(spark, sf, "documents"), max_hamming=3, include_signatures=True
    )


def q_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.text import fingerprint

    return fingerprint(_t(spark, sf, "documents")).select("doc_id", "fp_md5")


def q_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    # banded-LSH default (equi-join on (band, signature) buckets — no
    # BroadcastNestedLoopJoin); the oracle replicates the exact same planes
    from nemo_spark.ops.similarity import embedding_near_dups

    # (8, 4) pinned to match the oracle's literals — sized for the fixture;
    # the function's own defaults are the scale-sane (16, 8)
    nd = embedding_near_dups(
        _t(spark, sf, "embeddings"), threshold=0.35, dim=64, n_bands=8, band_planes=4
    )
    return nd.select("a", "b", F.round("score", 6).alias("score"))


def q_events_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Window functions over the event stream: per-user ordering, gap to
    previous event, session-start flag (gap > 1h). (No windows exist in the
    reference — this is training-pipeline surface, like kg_turns_per_conv.)"""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf, "events")
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    gap = epoch - F.lag(epoch).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        gap.alias("gap_sec"),
        F.coalesce(gap > 3600.0, F.lit(True)).alias("session_start"),
    )


def q_knn_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    # ANN path; integer-hash planes make the bucket reproducible in DuckDB
    from nemo_spark.ops.similarity import bucketed_topk

    emb = _t(spark, sf, "embeddings")
    qv = [r[0] for r in emb.filter(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    top = bucketed_topk(emb.filter(F.col("vec_id") != 0), qv, k=10)
    return top.select("vec_id", F.round("score", 6).alias("score"))


def q_kg_link_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding entity linking: top-1 entity per mention vector, cosine
    scored in Arrow batches against a broadcast unit-normalized dictionary
    (the first 32 vectors stand in for the entity catalogue)."""
    from nemo_spark.kg.link import link_embedding

    emb = _t(spark, sf, "embeddings")
    ents = emb.filter(F.col("vec_id") < 32).select(F.col("vec_id").alias("entity_id"), "embedding")
    mentions = emb.filter(F.col("vec_id") >= 32)
    out = link_embedding(mentions, ents)
    return out.select("vec_id", "entity_id", F.round("score", 6).alias("score"))


def q_knn_cosine(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.ops.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    qv = [r[0] for r in emb.filter(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    top = brute_force_topk(emb.filter(F.col("vec_id") != 0), qv, k=10)
    return top.select("vec_id", F.round("score", 6).alias("score"))


# ------------------------------------------------------- rls parser surface

_RLS_DEMO = """
p(a, 1). p(b, 2). p(c, 3). p(c, 30).
q(b).
r(?x, ?y + 10) :- p(?x, ?y), ~q(?x), ?y >= 1 .
s(?x, #count(?y)) :- p(?x, ?y) .
@output r, s.
"""

_RLS_DATATYPES = """
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
v("hello"). v(42). v(-7). v(3.5). v(2.0E0). v(world). v("t"@en).
v("2023"^^xsd:gYear). v(true).
out(?s, ?f, ?d) :- v(?x), ?s = STR(?x), ?f = fullStr(?x), ?d = DATATYPE(?x).
@output out.
"""


_RLS_PARAMS = """
@parameter $lo = 5 .
@parameter $scale = $lo * 2 .
v(1) . v(4) . v(7) . v(9) .
keep(?x, ?x * $scale) :- v(?x), ?x >= $lo .
@output keep .
"""


def q_rls_params(spark: SparkSession, sf: str) -> DataFrame:
    """External @parameter override (``nmo --param`` parity,
    nemo-cli/src/cli.rs:220): the program defaults to $lo=5, the external
    value 3 wins and the DEPENDENT parameter $scale = $lo * 2 re-evaluates
    against it (TransformationGlobal fixpoint) — so the oracle rows only
    match if both the override and the dependency re-evaluation happened."""
    from nemo_spark.parser import RlsRunner

    r = RlsRunner(spark, source=_RLS_PARAMS, workdir="/tmp", params={"lo": "3"}).run()
    return r.serialized("keep")


def q_json_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """JSON import with reader-side filter/transform patterns
    (nemo/src/io/formats/json.rs:24-27 + filter_imports.rs): the nation
    names round-trip through a JSON document; the single rule over the
    import internalizes into the reader, so the filter (<> 'ALGERIA') and
    the (node,key,value)->(name) projection run INSIDE the parse task and
    only matching names cross the Arrow boundary."""
    import json as _json
    import os
    import tempfile

    from nemo_spark.parser import RlsRunner

    names = [
        r[0]
        for r in spark.read.parquet(f"{sf}/nation.parquet")
        .select("n_name")
        .orderBy("n_name")
        .collect()
    ]
    doc = [{"name": n} for n in names]
    fd, path = tempfile.mkstemp(suffix=".json", prefix="nemo_spark_jsonpat_")
    with os.fdopen(fd, "w") as f:
        _json.dump(doc, f)
    try:
        src = f"""
@import data :- json {{resource="{path}"}} .
named(?v) :- data(?n, <value>, ?v), ?v != "NATION_0" .
@export named :- csv {{}} .
"""
        r = RlsRunner(spark, source=src, workdir="/tmp").run()
        # the rule must have been internalized into the import (the plan
        # gate: no rules remain to evaluate); explicit raise so the gate
        # survives python -O, like the sibling WCOJ/merged-SPARQL gates
        if r.compiled.program.rules != []:
            raise AssertionError("json filter rule was not internalized")
        return r.serialized("named")
    finally:
        os.unlink(path)


def q_rls_datalog(spark: SparkSession, sf: str) -> DataFrame:
    """Run a .rls text program through the full parser -> typed-value ->
    semi-naive pipeline (negation, arithmetic assignment, comparison filter);
    result serialized in nemo's DSV export form."""
    from nemo_spark.parser import RlsRunner

    r = RlsRunner(spark, source=_RLS_DEMO, workdir="/tmp").run()
    return r.serialized("r")


def q_rls_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    from nemo_spark.parser import RlsRunner

    r = RlsRunner(spark, source=_RLS_DEMO, workdir="/tmp").run()
    return r.serialized("s")


def q_rls_datatypes(spark: SparkSession, sf: str) -> DataFrame:
    """Typed value model + RDF introspection (STR / fullStr / DATATYPE) over
    mixed-domain values; oracle rows are generated independently by the
    driver-side Python value model (two implementations cross-checked)."""
    from nemo_spark.parser import RlsRunner

    r = RlsRunner(spark, source=_RLS_DATATYPES, workdir="/tmp").run()
    return r.serialized("out")


def q_sparql_import(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL endpoint import (nemo/src/io/formats/sparql.rs): serve the
    nation table from an in-process SPARQL-protocol endpoint as result-TSV,
    import it with read_sparql_typed (GET + Accept: text/tab-separated-values,
    typed 'anything' cell decode), and emit the lexical columns. The HTTP
    exchange happens at import-build time on the driver; parsing is
    distributed over the usual Arrow-batched cell decoder."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    rows = (
        spark.read.parquet(f"{sf}/nation.parquet")
        .select("n_nationkey", "n_name")
        .collect()
    )
    body = "\n".join(
        ["?s\t?name"]
        + [f'<http://ex/nation/{r.n_nationkey}>\t"{r.n_name}"' for r in rows]
    ).encode()

    class _H(BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/tab-separated-values")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from nemo_spark.sources.sparql import read_sparql_typed

        df = read_sparql_typed(
            spark,
            f"http://127.0.0.1:{srv.server_address[1]}/sparql",
            query="SELECT ?s ?name WHERE { ?s <http://ex/name> ?name }",
        )
    finally:
        srv.shutdown()
        srv.server_close()
    return df.select(
        F.col("c0.s").alias("nation_iri"), F.col("c1.s").alias("n_name")
    )


def _rls_datatypes_oracle_sql() -> str:
    from nemo_spark.model.values import XSD, Value, from_typed_literal

    vals = [
        Value.string("hello"),
        Value.int(42),
        Value.int(-7),
        Value.double(3.5),
        Value.double(2.0),
        Value.iri("world"),
        Value.lang_string("t", "en"),
        from_typed_literal("2023", XSD + "gYear"),
        Value.boolean(True),
    ]
    rows = []
    for v in vals:
        s = Value.string(v.lexical()).dsv_any()
        f = Value.string(v.canonical()).dsv_any()
        d = Value.iri(v.datatype_iri()).dsv_any()
        rows.append((s, f, d))

    def q(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    values = ", ".join(f"({q(a)}, {q(b)}, {q(c)})" for a, b, c in rows)
    return f"SELECT * FROM (VALUES {values}) AS t(c0, c1, c2)"


_RLS_TUPLES = """
p(f(1, 2)) .
p((3, "x")) .
p(()) .
p({a = 1, b = 2}) .
q(?x, DATATYPE(?x)) :- p(?x) .
sel(?x) :- p(?x), ?x = (3, "x") .
"""


def q_rls_tuples(spark: SparkSession, sf: str) -> DataFrame:
    """Tuple/Map value domains through the full .rls path (construction in
    facts, propagation, DATATYPE introspection, equality selection against a
    tuple constant); serialized in nemo's DSV export form. Oracle rows are
    generated independently from the driver-side Python value model."""
    from nemo_spark.parser import RlsRunner

    r = RlsRunner(spark, source=_RLS_TUPLES, workdir="/tmp").run()
    return r.serialized("q")


def _rls_tuples_oracle_sql() -> str:
    from nemo_spark.model.values import Value

    vals = [
        Value.tuple_of([Value.int(1), Value.int(2)], label=Value.iri("f")),
        Value.tuple_of([Value.int(3), Value.string("x")]),
        Value.tuple_of([]),
        Value.map_of([(Value.iri("a"), Value.int(1)), (Value.iri("b"), Value.int(2))]),
    ]
    rows = [(v.dsv_any(), Value.iri(v.datatype_iri()).dsv_any()) for v in vals]

    def q(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    values = ", ".join(f"({q(a)}, {q(b)})" for a, b in rows)
    return f"SELECT * FROM (VALUES {values}) AS t(c0, c1)"


def q_sparql_merged(spark: SparkSession, sf: str) -> DataFrame:
    """merge_sparql parity (nemo/src/rule_model/pipeline/transformations/
    merge_sparql.rs): THREE SPARQL imports against one endpoint, joined in
    one rule, coalesce into ONE remote query whose pattern is the join of
    the originals — the in-process endpoint evaluates the merged
    conjunctive query over a triple store built from nation/region and
    counts requests (more than one request fails the query loudly)."""
    import re
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    nations = (
        spark.read.parquet(f"{sf}/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    regions = spark.read.parquet(f"{sf}/region.parquet").select("r_regionkey", "r_name").collect()
    store = []
    for n in nations:
        store.append((f"<http://ex/nation/{n.n_nationkey}>", "<http://ex/inRegion>", f"<http://ex/region/{n.n_regionkey}>"))
        store.append((f"<http://ex/nation/{n.n_nationkey}>", "<http://ex/name>", f'"{n.n_name}"'))
    for r in regions:
        store.append((f"<http://ex/region/{r.r_regionkey}>", "<http://ex/rname>", f'"{r.r_name}"'))
    requests = []

    class _H(BaseHTTPRequestHandler):
        def do_GET(self):
            import urllib.parse

            q = urllib.parse.parse_qs(urllib.parse.urlsplit(self.path).query).get("query", [""])[0]
            requests.append(q)
            sel = re.search(r"SELECT\s+((?:\?\w+\s*)+)\s*WHERE\s*\{(.*)\}\s*$", q, re.DOTALL)
            out_vars = re.findall(r"\?(\w+)", sel.group(1))
            toks = re.findall(r'\?\w+|<[^>]*>|"(?:[^"\\]|\\.)*"|\.', sel.group(2))
            terms = [t for t in toks if t != "."]
            patterns = [tuple(terms[i : i + 3]) for i in range(0, len(terms), 3)]
            bindings = [{}]
            for pat in patterns:
                nxt = []
                for b in bindings:
                    for t in store:
                        b2 = dict(b)
                        ok = True
                        for pt, tt in zip(pat, t):
                            if pt.startswith("?"):
                                if b2.setdefault(pt[1:], tt) != tt:
                                    ok = False
                                    break
                            elif pt != tt:
                                ok = False
                                break
                        if ok:
                            nxt.append(b2)
                bindings = nxt
            rows = sorted({tuple(b.get(v, "") for v in out_vars) for b in bindings})
            body = "\n".join(["\t".join("?" + v for v in out_vars)] + ["\t".join(r) for r in rows]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/tab-separated-values")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from nemo_spark.parser.runner import RlsRunner

        ep = f"http://127.0.0.1:{srv.server_address[1]}/sparql"
        src = f'''
@import inr :- sparql{{endpoint="{ep}", query="SELECT ?n ?r WHERE {{ ?n <http://ex/inRegion> ?r . }}"}} .
@import nn :- sparql{{endpoint="{ep}", query="SELECT ?n ?m WHERE {{ ?n <http://ex/name> ?m . }}"}} .
@import rn :- sparql{{endpoint="{ep}", query="SELECT ?r ?m WHERE {{ ?r <http://ex/rname> ?m . }}"}} .
out(?nm, ?rm) :- inr(?n, ?r), nn(?n, ?nm), rn(?r, ?rm) .
@export out :- csv{{}} .
'''
        runner = RlsRunner(spark, source=src, workdir="/tmp").run()
        out = runner.table("out").select(
            F.col("c0.s").alias("n_name"), F.col("c1.s").alias("r_name")
        ).localCheckpoint(eager=True)
    finally:
        srv.shutdown()
        srv.server_close()
    if len(requests) != 1:  # the merged import must be ONE remote exchange
        raise AssertionError(f"expected 1 merged request, saw {len(requests)}")
    return out


def q_triangles_wcoj(spark: SparkSession, sf: str) -> DataFrame:
    """Cyclic (triangle) conjunctive query through the engine with the
    worst-case-join path FORCED: every atom counts as big
    (broadcast_threshold=1) so the GYO-cyclic body auto-engages shuffled
    semi-join reducers (the Spark answer to nemo's leapfrog WCOJ,
    nemo-physical/src/tabular/operations/join.rs:196) — each atom is
    semi-join-bounded by its neighbors' key sets before any binary join.
    The deriving plan is asserted to contain the LeftSemi reducers; results
    are oracled against DuckDB's 3-way self-join."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine
    from nemo_spark.model.rules import Atom, Program, Rule, Var

    o = _t(spark, sf, "orders")
    e = (
        o.select(
            (F.col("o_custkey") % 13).cast("long").alias("a"),
            (F.col("o_orderkey") % 13).cast("long").alias("b"),
        )
        .dropDuplicates()
        .filter((F.col("a") * 5 + F.col("b") * 7) % 11 < 4)
    )
    eng = SemiNaiveEngine(
        spark, broadcast_threshold=1, semi_join_reduction=1, local_stratum_threshold=0
    )
    eng.register("e", e)
    X, Y, Z = Var("x"), Var("y"), Var("z")
    tri = Rule(
        head=Atom("tri", X, Y, Z),
        body=[Atom("e", X, Y), Atom("e", Y, Z), Atom("e", Z, X)],
    )
    eng.run(Program(rules=[tri]))
    plan = (
        eng._eval_rule(tri, {}, {}, use_delta_atom=None)["tri"]
        ._jdf.queryExecution().executedPlan().toString()
    )
    if "LeftSemi" not in plan:  # reducers must be ON by default for this shape
        raise AssertionError("shuffled semi-join reducers did not engage")
    return eng.table("tri").select(
        F.col("c0").alias("x"), F.col("c1").alias("y"), F.col("c2").alias("z")
    )


# ------------------------------------------------------------------ registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "join_customer_order_nation": q_join_customer_order_nation,
        "anti_customers_no_orders": q_anti_customers_no_orders,
        "semi_parts_ordered": q_semi_parts_ordered,
        "union_nationkeys": q_union_nationkeys,
        "minmax_orders": q_minmax_orders,
        "count_distinct_events": q_count_distinct_events,
        "try_arithmetic": q_try_arithmetic,
        "string_ops": q_string_ops,
        "filter_pushdown_orders": q_filter_pushdown_orders,
        "salted_join_orders": q_salted_join_orders,
        "tc_nations": q_tc_nations,
        "cc_users": q_cc_users,
        "datalog_negation": q_datalog_negation,
        "datalog_aggregate": q_datalog_aggregate,
        "kg_transcripts": q_kg_transcripts,
        "kg_turns_per_conv": q_kg_turns_per_conv,
        "kg_extract": q_kg_extract,
        "kg_mentions": q_kg_mentions,
        "kg_linked": q_kg_linked,
        "kg_link_scored": q_kg_link_scored,
        "kg_link_embedding": q_kg_link_embedding,
        "kg_alias_dict": q_kg_alias_dict,
        "kg_canonical_map": q_kg_canonical_map,
        "kg_triples": q_kg_triples,
        "kg_closure": q_kg_closure,
        "kg_materialized": q_kg_materialized,
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_lsh_pairs": q_dedup_lsh_pairs,
        "dedup_jaccard_verify": q_dedup_jaccard_verify,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "text_fingerprint": q_text_fingerprint,
        "knn_cosine": q_knn_cosine,
        "knn_bucketed": q_knn_bucketed,
        "embedding_near_dups": q_embedding_near_dups,
        "events_sessions": q_events_sessions,
        "rls_datalog": q_rls_datalog,
        "rls_aggregate": q_rls_aggregate,
        "rls_datatypes": q_rls_datatypes,
        "rls_params": q_rls_params,
        "json_patterns": q_json_patterns,
        "sparql_import": q_sparql_import,
        "sparql_merged": q_sparql_merged,
        "triangles_wcoj": q_triangles_wcoj,
        "rls_tuples": q_rls_tuples,
    }


def oracle_sql() -> dict[str, str]:
    from nemo_spark.kg import oracles as KG

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_customer_order_nation": """
            SELECT n_name,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "anti_customers_no_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "semi_parts_ordered": """
            SELECT p_partkey, p_brand FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        "union_nationkeys": """
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            UNION
            SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        """,
        "minmax_orders": """
            SELECT o_orderpriority, MIN(o_totalprice) AS min_price,
                   MAX(o_totalprice) AS max_price, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_orderpriority
        """,
        "count_distinct_events": """
            SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY event_type
        """,
        "try_arithmetic": """
            SELECT l_orderkey, l_linenumber, l_quantity / (l_linenumber - 1) AS ratio
            FROM lineitem WHERE l_linenumber <> 1
        """,
        "string_ops": """
            SELECT p_partkey, UPPER(p_name) AS name_upper,
                   CAST(LENGTH(p_name) AS BIGINT) AS name_len,
                   SUBSTR(p_name, 1, 8) AS prefix8,
                   p_brand || ':' || p_type AS brand_type,
                   CONTAINS(p_name, 'a') AS has_a
            FROM part
        """,
        "filter_pushdown_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
        """,
        "tc_nations": """
            WITH RECURSIVE e AS (
              SELECT CAST(n_nationkey AS BIGINT) AS s, CAST((n_nationkey*2+3) % 25 AS BIGINT) AS o FROM nation
            ),
            c(s, o) AS (SELECT s, o FROM e UNION SELECT c.s, e.o FROM c JOIN e ON c.o = e.s)
            SELECT s AS src, o AS dst FROM c
        """,
        "cc_users": """
            WITH RECURSIVE u AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS a FROM events),
            e0 AS (SELECT a, a % 7 AS b FROM u),
            edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
            reach(a, b) AS (SELECT a, a FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
            SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a
        """,
        "datalog_negation": """
            SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier)
        """,
        "datalog_aggregate": """
            SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
            FROM orders GROUP BY o_orderpriority
        """,
        "kg_transcripts": KG.KG_TRANSCRIPTS,
        "kg_turns_per_conv": KG.KG_TURNS_PER_CONV,
        "kg_extract": KG.KG_EXTRACT,
        "kg_mentions": KG.KG_MENTIONS,
        "kg_linked": KG.KG_LINKED,
        "kg_alias_dict": KG.KG_ALIAS_DICT,
        "kg_canonical_map": KG.KG_CANONICAL_MAP,
        "kg_triples": KG.KG_TRIPLES,
        "kg_closure": KG.KG_CLOSURE,
        "kg_materialized": KG.KG_MATERIALIZED,
        "text_tokens": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
            FROM t
        """,
        "text_quality": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
            s AS (SELECT doc_id, text, len(toks) AS n_tok,
                         len(list_filter(toks, x -> {_TOKKEY} IN {_STOPS})) AS n_stop
                  FROM t)
            SELECT doc_id,
                   CAST(LENGTH(text) AS BIGINT) AS n_chars_actual,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS BIGINT) AS n_dots,
                   CAST(n_tok AS BIGINT) AS n_tokens,
                   CAST(n_stop AS BIGINT) AS n_stopwords,
                   CASE WHEN n_tok > 0
                        THEN CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)
                        ELSE 0.0 END AS stopword_ratio
            FROM s
        """,
        "text_langid": f"""
            WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
            s AS (
              SELECT doc_id, lang,
                     CASE WHEN len(toks) > 0
                          THEN CAST(len(list_filter(toks, x -> {_TOKKEY} IN {_STOPS})) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END AS en_score
              FROM t
            )
            SELECT doc_id, lang, en_score,
                   CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang
            FROM s
        """,
        "dedup_exact": """
            SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash": _DEDUP_MINHASH_SQL,
        "dedup_lsh_pairs": _DEDUP_LSH_PAIRS_SQL,
        "dedup_jaccard_verify": _DEDUP_JACCARD_SQL,
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "dedup_simhash": _simhash_hamming_sql(),
        "rls_datalog": """
            WITH p(x, y) AS (VALUES ('a', 1), ('b', 2), ('c', 3), ('c', 30)),
                 q(x) AS (VALUES ('b'))
            SELECT x AS c0, CAST(y + 10 AS VARCHAR) AS c1
            FROM p WHERE x NOT IN (SELECT x FROM q) AND y >= 1
        """,
        "rls_aggregate": """
            WITH p(x, y) AS (VALUES ('a', 1), ('b', 2), ('c', 3), ('c', 30))
            SELECT x AS c0, CAST(COUNT(DISTINCT y) AS VARCHAR) AS c1
            FROM p GROUP BY x
        """,
        "rls_datatypes": _rls_datatypes_oracle_sql(),
        "rls_tuples": _rls_tuples_oracle_sql(),
        "rls_params": """
            WITH v(x) AS (VALUES (4), (7), (9))
            SELECT CAST(x AS VARCHAR) AS c0, CAST(x * 6 AS VARCHAR) AS c1
            FROM v
        """,
        "json_patterns": """
            -- serialized() emits nemo's DSV-any form: strings are quoted
            SELECT '"' || n_name || '"' AS c0 FROM nation WHERE n_name <> 'NATION_0'
        """,
        "salted_join_orders": """
            SELECT o_orderkey, o_custkey AS c_custkey, c_name,
                   o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "sparql_import": """
            SELECT concat('http://ex/nation/', CAST(n_nationkey AS VARCHAR)) AS nation_iri,
                   n_name
            FROM nation
        """,
        "sparql_merged": """
            SELECT n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "triangles_wcoj": """
            WITH e AS (
                SELECT a, b FROM (
                    SELECT DISTINCT o_custkey % 13 AS a, o_orderkey % 13 AS b
                    FROM orders
                ) WHERE (a * 5 + b * 7) % 11 < 4
            )
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e2.b = e3.a AND e3.b = e1.a
        """,
        "kg_link_scored": _kg_link_scored_sql(),
        "knn_bucketed": _knn_bucketed_sql(),
        "text_fingerprint": f"""
            SELECT doc_id, md5({_normalized_sql("text")}) AS fp_md5
            FROM documents
        """,
        "embedding_near_dups": _near_dups_sql(threshold=0.35, dim=64),
        "events_sessions": """
            SELECT event_id, user_id,
                   CAST(row_number() OVER w AS INTEGER) AS rn,
                   epoch(ts) - lag(epoch(ts)) OVER w AS gap_sec,
                   COALESCE(epoch(ts) - lag(epoch(ts)) OVER w > 3600.0, TRUE) AS session_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "kg_link_embedding": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            ents AS (SELECT vec_id AS entity_id, v FROM e WHERE vec_id < 32),
            m AS (SELECT vec_id, v FROM e WHERE vec_id >= 32),
            sc AS (SELECT m.vec_id, ents.entity_id, list_cosine_similarity(m.v, ents.v) AS score
                   FROM m CROSS JOIN ents),
            r AS (SELECT vec_id, entity_id, score,
                         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, entity_id) AS rn
                  FROM sc)
            -- score >= 0 mirrors link_embedding's default min_score=0.0:
            -- a mention anti-correlated with the whole catalogue drops
            SELECT vec_id, entity_id, ROUND(score, 6) AS score
            FROM r WHERE rn = 1 AND score >= 0.0
        """,
        "knn_cosine": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) AS score
              FROM embeddings WHERE vec_id <> 0
            )
            SELECT vec_id, ROUND(score, 6) AS score
            FROM scored ORDER BY score DESC, vec_id LIMIT 10
        """,
    }


def _simhash_hamming_sql() -> str:
    from nemo_spark.ops.dedup import simhash_hex_hamming_oracle_sql

    return simhash_hex_hamming_oracle_sql(max_hamming=3, include_signatures=True)


def _near_dups_sql(threshold: float, dim: int, n_bands: int = 8, band_planes: int = 4) -> str:
    """DuckDB replica of the banded-LSH near-dup plan: identical integer-hash
    plane literals, identical band signatures, same cosine verify."""
    from nemo_spark.ops.similarity import plane_component

    sig_exprs = []
    for band in range(n_bands):
        parts = []
        for p in range(band_planes):
            lits = ", ".join(repr(plane_component(band * band_planes + p, j)) for j in range(dim))
            parts.append(f"(CASE WHEN list_dot_product(v, [{lits}]) > 0 THEN {1 << p} ELSE 0 END)")
        sig_exprs.append(" + ".join(parts) + f" AS sig{band}")
    band_match = " OR ".join(f"a.sig{i} = b.sig{i}" for i in range(n_bands))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, {", ".join(sig_exprs)} FROM e),
cand AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
  FROM s a JOIN s b ON a.vec_id < b.vec_id AND ({band_match})
),
sc AS (
  SELECT c.a, c.b, list_cosine_similarity(ea.v, eb.v) AS score
  FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b
)
SELECT a, b, ROUND(score, 6) AS score FROM sc WHERE score >= {threshold}
"""


def _knn_bucketed_sql(n_planes: int = 8, dim: int = 64, k: int = 10) -> str:
    from nemo_spark.ops.similarity import plane_component

    parts = []
    for p in range(n_planes):
        lits = ", ".join(repr(plane_component(p, j)) for j in range(dim))
        parts.append(f"(CASE WHEN list_dot_product(v, [{lits}]) > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(parts)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
scored AS (
  SELECT vec_id, list_cosine_similarity(v, (SELECT qv FROM q)) AS score
  FROM b WHERE vec_id <> 0 AND bucket = (SELECT qb FROM q)
)
SELECT vec_id, ROUND(score, 6) AS score FROM scored ORDER BY score DESC, vec_id LIMIT {k}
"""


def _kg_link_scored_sql() -> str:
    """DuckDB replica of link_scored + best_candidate over the subject alias
    of EVERY relation occurrence (extract_triples_pandas semantics):
    first-char blocking, char-3gram Jaccard >= 0.5, best = max score then
    min entity_id."""
    from nemo_spark.kg.extract import MENTION_RE
    from nemo_spark.kg.transcripts import ALIAS_DICT_CTES, TRANSCRIPTS_SQL

    grams = (
        "list_distinct(list_transform(range(1, greatest(length({c}) - 2, 1) + 1), "
        "i -> substr({c}, CAST(i AS INTEGER), 3)))"
    )
    return f"""
WITH {ALIAS_DICT_CTES},
ext AS (
  SELECT DISTINCT unnest(regexp_extract_all(text, '{MENTION_RE}', 1)) AS mention
  FROM ({TRANSCRIPTS_SQL})
),
mg AS (SELECT mention, {grams.format(c="mention")} AS g, substr(mention, 1, 1) AS blk FROM ext),
ag AS (SELECT alias, entity_id, {grams.format(c="alias")} AS g, substr(alias, 1, 1) AS blk FROM ad),
sc AS (
  SELECT m.mention, a.entity_id,
         CAST(len(list_intersect(m.g, a.g)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(m.g, a.g))) AS DOUBLE) AS score
  FROM mg m JOIN ag a ON m.blk = a.blk
),
best AS (
  SELECT mention, entity_id, score,
         row_number() OVER (PARTITION BY mention ORDER BY score DESC, entity_id) AS rn
  FROM sc WHERE score >= 0.5
)
SELECT mention, entity_id, ROUND(score, 6) AS score FROM best WHERE rn = 1
"""





_MINHASH_CTES = f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(1, len(t) - 1),
              i -> list_extract(t, i) || ' ' || list_extract(t, i + 1) || ' ' || list_extract(t, i + 2)))
         ELSE [] END AS s
  FROM toks
),
mh AS (
  SELECT doc_id,
         list_aggregate(list_transform(s, x -> md5('b0|' || x)), 'min') AS band0,
         list_aggregate(list_transform(s, x -> md5('b1|' || x)), 'min') AS band1,
         list_aggregate(list_transform(s, x -> md5('b2|' || x)), 'min') AS band2,
         list_aggregate(list_transform(s, x -> md5('b3|' || x)), 'min') AS band3
  FROM sh
),
shortd AS (
  SELECT t.doc_id, md5({_normalized_sql("text")}) AS sk
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
  WHERE len(t.t) < 3
)
"""

_DEDUP_MINHASH_SQL = f"WITH {_MINHASH_CTES} SELECT doc_id, band0, band1, band2, band3 FROM mh"

_DEDUP_LSH_PAIRS_SQL = f"""
WITH {_MINHASH_CTES}
SELECT DISTINCT a, b FROM (
  SELECT x.doc_id AS a, y.doc_id AS b FROM mh x JOIN mh y ON x.band0 = y.band0 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band1 = y.band1 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band2 = y.band2 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band3 = y.band3 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT x.doc_id, y.doc_id FROM shortd x JOIN shortd y ON x.sk = y.sk AND x.doc_id < y.doc_id
)
"""

_DEDUP_CLUSTERS_SQL_TEMPLATE = """
WITH RECURSIVE {ctes},
cpairs AS (
  SELECT DISTINCT a, b FROM (
    SELECT x.doc_id AS a, y.doc_id AS b FROM mh x JOIN mh y ON x.band0 = y.band0 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band1 = y.band1 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band2 = y.band2 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band3 = y.band3 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM shortd x JOIN shortd y ON x.sk = y.sk AND x.doc_id < y.doc_id
  )
),
vpairs AS (
  SELECT p.a, p.b FROM cpairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b
  WHERE (CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0 THEN
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
         ELSE 1.0 END) >= 0.5
),
edges AS (SELECT a AS src, b AS dst FROM vpairs UNION SELECT b, a FROM vpairs),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a)
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""

_DEDUP_CLUSTERS_SQL = _DEDUP_CLUSTERS_SQL_TEMPLATE.format(ctes=_MINHASH_CTES)


_DEDUP_JACCARD_SQL = f"""
WITH {_MINHASH_CTES},
pairs AS (
  SELECT DISTINCT a, b FROM (
    SELECT x.doc_id AS a, y.doc_id AS b FROM mh x JOIN mh y ON x.band0 = y.band0 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band1 = y.band1 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band2 = y.band2 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM mh x JOIN mh y ON x.band3 = y.band3 AND x.doc_id < y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM shortd x JOIN shortd y ON x.sk = y.sk AND x.doc_id < y.doc_id
  )
),
j AS (
  SELECT p.a, p.b,
         (CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0 THEN
            CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
          ELSE 1.0 END) AS jaccard
  FROM pairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b
)
SELECT a, b, ROUND(jaccard, 6) AS jaccard FROM j WHERE jaccard >= 0.5
"""
