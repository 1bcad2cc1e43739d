"""Source/sink tests: the typed DSV, RDF and JSON readers and the export
encoders ``RlsRunner`` runs."""

from __future__ import annotations

import gzip
import re

from pyspark.sql import functions as F

from nemo_spark.model.values import T_NULL, Value
from nemo_spark.sources.dsv_typed import read_dsv_typed
from nemo_spark.sources.rdf_typed import read_rdf_typed, serialize_rdf_typed


def _values(df):
    return {tuple(Value.from_cell(c) for c in r) for r in df.collect()}


def test_dsv_anything_and_typed(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("1,foo,2.5\nx,bar,zzz\n3,baz,4.0\n")
    # any: nemo parses the lexical form, so "4.0" is the integer 4
    got = {tuple(v.lexical() for v in r) for r in _values(read_dsv_typed(spark, str(p), ["any"] * 3))}
    assert got == {("1", "foo", "2.5"), ("x", "bar", "zzz"), ("3", "baz", "4")}
    anys = _values(read_dsv_typed(spark, str(p), ["any", "skip", "skip"]))
    assert anys == {(Value.int(1),), (Value.iri("x"),), (Value.int(3),)}
    # int format: unparseable row dropped (nemo error-is-no-result)
    typed = _values(read_dsv_typed(spark, str(p), ["int", "string", "double"]))
    assert typed == {
        (Value.int(1), Value.string("foo"), Value.double(2.5)),
        (Value.int(3), Value.string("baz"), Value.double(4.0)),
    }
    # skip column
    assert read_dsv_typed(spark, str(p), ["any", "skip", "any"]).columns == ["c0", "c1"]


def test_dsv_gzip_and_roundtrip(spark, tmp_path):
    """A gzipped file imports exactly as its plain twin, on the line path
    and on the per-file multiline reader; an @export of the import reads
    back as the same values."""
    import glob

    from nemo_spark.parser.runner import RlsRunner

    text = 'a,1\n"b c",2\n<http://ex.org/x>,-3\n"q""uote",4.5\n'
    (tmp_path / "plain.csv").write_text(text)
    with gzip.open(tmp_path / "data.csv.gz", "wt") as f:
        f.write(text)
    fmts = ["any", "any"]
    want = _values(read_dsv_typed(spark, str(tmp_path / "plain.csv"), fmts))
    assert len(want) == 4
    for multiline in ("auto", True):
        gz = read_dsv_typed(spark, str(tmp_path / "data.csv.gz"), fmts, multiline=multiline)
        assert _values(gz) == want, multiline

    src = """
@import d :- csv{resource="data.csv.gz", format=(any, any)} .
@export d :- csv{} .
"""
    out = tmp_path / "out"
    with RlsRunner(spark, source=src, workdir=str(tmp_path)) as r:
        r.run()
        r.write_exports(str(out))
    (exported,) = glob.glob(str(out / "d.csv"))
    assert _values(read_dsv_typed(spark, exported, fmts)) == want


NT = """
# a comment
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .
<http://ex.org/b> <http://ex.org/name> "Bob" .
<http://ex.org/c> <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
_:blank1 <http://ex.org/p> "hi"@en .
malformed line without triple
"""


def _masked(rows):
    """Rows with blank-node labels masked: labels are scoped per document,
    so a re-import renames them (one blank node here, so masking loses no
    structure)."""
    return {tuple(Value.null("_") if v.t == T_NULL else v for v in r) for r in rows}


def test_ntriples_parse(spark, tmp_path):
    p = tmp_path / "t.nt"
    p.write_text(NT)
    rows = _values(read_rdf_typed(spark, str(p), "ntriples"))
    iri = Value.iri
    assert _masked(rows) == {
        (iri("http://ex.org/a"), iri("http://ex.org/knows"), iri("http://ex.org/b")),
        (iri("http://ex.org/b"), iri("http://ex.org/name"), Value.string("Bob")),
        (iri("http://ex.org/c"), iri("http://ex.org/age"), Value.int(42)),
        (Value.null("_"), iri("http://ex.org/p"), Value.lang_string("hi", "en")),
    }  # malformed line and comment skipped


def test_ntriples_roundtrip(spark, tmp_path):
    p = tmp_path / "t.nt"
    p.write_text(NT)
    df = read_rdf_typed(spark, str(p), "ntriples")
    out = tmp_path / "out_nt"
    serialize_rdf_typed(df, "ntriples").write.text(str(out))
    back = _values(read_rdf_typed(spark, str(out), "ntriples"))
    assert len(back) == 4
    assert _masked(back) == _masked(_values(df))


def test_turtle_blank_nodes_scoped(spark, tmp_path):
    """An explicit _:b1 must NOT merge with the first anonymous [...] node
    (disjoint label namespaces), and blank nodes in distinct documents of
    one read stay distinct (RDF document-local semantics)."""
    from nemo_spark.model.values import T_NULL, Value
    from nemo_spark.sources.rdf_typed import read_rdf_typed

    doc = '_:b1 <http://ex/p> "x" .\n_:b1 <http://ex/r> [ <http://ex/q> "y" ] .'
    f = tmp_path / "a.ttl"
    f.write_text(doc)
    rows = [
        tuple(Value(*c) for c in r) for r in read_rdf_typed(spark, str(f), "turtle").collect()
    ]
    nulls = {v.s for r in rows for v in r if v.t == T_NULL}
    assert len(nulls) == 2  # explicit b1 and the anonymous [..] node are distinct

    # two documents each using _:b1: no cross-document unification
    (tmp_path / "docs").mkdir()
    (tmp_path / "docs" / "one.ttl").write_text('_:b1 <http://ex/p> "1" .')
    (tmp_path / "docs" / "two.ttl").write_text('_:b1 <http://ex/p> "2" .')
    rows2 = [
        tuple(Value(*c) for c in r)
        for r in read_rdf_typed(spark, str(tmp_path / "docs"), "turtle").collect()
    ]
    assert len({r[0].s for r in rows2}) == 2


def test_dsv_multiline_quoted_record(spark, tmp_path):
    """A quoted field with an embedded newline is ONE record (csv-crate
    semantics) — the line-based scan previously shredded it into two
    skipped fragments and silently lost the fact."""
    from nemo_spark.sources.dsv_typed import read_dsv_typed

    p = tmp_path / "m.csv"
    p.write_text('a,"x\ny",b\nc,d,e\n')
    rows = read_dsv_typed(spark, str(p), ["any", "any", "any"]).collect()
    got = {tuple(c.s for c in r) for r in rows}
    assert got == {("a", "x\ny", "b"), ("c", "d", "e")}
    # multiline=False keeps the splittable line path (fragments skipped)
    fast = read_dsv_typed(spark, str(p), ["any", "any", "any"], multiline=False).collect()
    assert {tuple(c.s for c in r) for r in fast} == {("c", "d", "e")}


def test_dsv_peek_skips_blank_lines(spark, tmp_path):
    from nemo_spark.sources.dsv_typed import peek_field_count

    p = tmp_path / "b.csv"
    p.write_text("\n\nx,y,z\n")
    assert peek_field_count(spark, str(p)) == 3


def test_pattern_arity_mismatch_is_loud():
    from nemo_spark.sources.patterns import FilterTransformPattern, pattern_output_arity

    filt = FilterTransformPattern(filters=(), transforms=None)
    trans = FilterTransformPattern(filters=(), transforms=(lambda r: r[0], lambda r: r[1]))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="arity"):
        pattern_output_arity([filt, trans], input_arity=3)
    assert pattern_output_arity([trans, trans], input_arity=3) == 2
    assert pattern_output_arity([filt], input_arity=3) == 3


def test_checkpoint_store_hardening(spark, tmp_path):
    """(a) snapshot idempotency extends to lineage (streaming redelivery
    re-snapshots the same step); (b) distinct names that sanitize
    identically do not share a directory; (c) an explicitly requested
    incomplete step errors instead of resuming from partial data."""
    import os

    import pytest as _pytest

    from nemo_spark.engine.checkpoint import CheckpointStore, _safe_name

    store = CheckpointStore(str(tmp_path / "s"), spark)
    df = spark.createDataFrame([(1,), (2,)], "v long")
    # a store written by an older version holds a Spark-written lineage
    # directory (uuid part names) for the same (name, step): replaced
    spark.createDataFrame(
        [("p", 0, 0, 5)], "name string, step int, partition_id int, rows long"
    ).write.parquet(store._lineage_path("p", 0))
    store.snapshot("p", df, 0)
    store.snapshot("p", df, 0)  # redelivered batch
    assert store.lineage().groupBy().sum("rows").collect()[0][0] == 2
    # sanitization collisions get distinct hashed directories
    a, b = _safe_name("http://x/p"), _safe_name("http://x:p")
    assert a != b
    store.snapshot("http://x/p", df, 0)
    store.snapshot("http://x:p", spark.createDataFrame([(9,)], "v long"), 0)
    assert store.load("http://x/p").count() == 2
    assert store.load("http://x:p").count() == 1
    # explicit incomplete step: create the dir without _SUCCESS
    os.makedirs(str(tmp_path / "s" / "p" / "step=7"))
    with _pytest.raises(ValueError, match="incomplete"):
        store.load("p", 7)


def _jobs_in_group(spark, group, action):
    """Run ``action`` under its own job group; return how many Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_runs_only_its_write(spark, tmp_path):
    """A snapshot runs exactly the jobs of a plain parquet write of the same
    frame: row counts and schema come from the part files' footers and the
    lineage file is written on the driver."""
    import datetime

    from nemo_spark.engine.checkpoint import CheckpointStore

    store = CheckpointStore(str(tmp_path / "s"), spark)
    frames = {
        "range": spark.range(0, 1000, 1, 4),
        "repart": spark.range(1000).repartition(7),
        "empty": spark.createDataFrame([], "v long"),
    }
    for name, df in frames.items():
        plain = str(tmp_path / "plain" / name)
        want = _jobs_in_group(spark, f"plain-{name}", lambda: df.write.parquet(plain))
        got = _jobs_in_group(spark, f"snap-{name}", lambda: store.snapshot(name, df, 0))
        assert got == want, f"{name}: snapshot ran {got} jobs, plain write {want}"
        rows = store.lineage().where(F.col("name") == name)
        assert (rows.groupBy().sum("rows").collect()[0][0] or 0) == df.count()
    assert store.lineage().where(F.col("name") == "empty").count() == 0
    assert store.metrics("empty")[0]["rows"] == 0
    assert store.metrics("repart")[0]["rows"] == 1000

    rich = spark.createDataFrame(
        [
            (1, [1, None], (None, "x"), datetime.datetime(2024, 1, 2, 3, 4, 5), bytearray(b"\x00\x01")),
            (2, None, None, None, None),
        ],
        "id long not null, xs array<int>, s struct<a:int,b:string>, ts timestamp, bin binary",
    )
    out = store.snapshot("rich", rich, 0)
    reread = spark.read.parquet(store._path("rich", 0))
    assert out.schema == reread.schema
    assert out.orderBy("id").collect() == reread.orderBy("id").collect()
    assert out.orderBy("id").collect() == rich.orderBy("id").collect()


def test_register_materializes_in_one_job_fewer(spark):
    """register() materializes a relation with one eager localCheckpoint
    whose observation counts the rows: 2 jobs (the dedup map stage and the
    checkpoint) for a deduplicated 4-slice range on local[4], where a lazy
    checkpoint and its count() ran 3, and an eager checkpoint followed by a
    count ran 4."""
    from nemo_spark.engine.seminaive import SemiNaiveEngine

    with SemiNaiveEngine(spark) as eng:
        edb = spark.range(0, 1000, 1, 4).union(spark.range(0, 500, 1, 2))
        jobs = _jobs_in_group(spark, "register", lambda: eng.register("r", edb))
        assert eng.table("r").count() == eng._table_counts["r"] == 1000
    assert jobs == 2


def test_checkpoint_store_iri_names_and_empty_lineage(spark, tmp_path):
    """IRI predicate names sanitize into filesystem-safe snapshot paths;
    lineage() on a fresh store returns an empty frame instead of raising."""
    from nemo_spark.engine.checkpoint import CheckpointStore

    store = CheckpointStore(str(tmp_path / "ckpt"), spark)
    assert store.lineage().count() == 0  # fresh store: no lineage yet

    name = "https://example.org/result"
    df = spark.createDataFrame([(1,), (2,)], "v long")
    store.snapshot(name, df, 0)
    assert store.latest_step(name) == 0
    assert store.load(name).count() == 2
    assert [m["step"] for m in store.metrics(name)] == [0]
    # '__'-containing names do not cross-match in metrics
    store.snapshot("a", df, 1)
    store.snapshot("a__b", df, 2)
    assert [m["step"] for m in store.metrics("a")] == [1]
    assert [m["step"] for m in store.metrics("a__b")] == [2]


def test_nt_bnodes_scoped_per_file(spark, tmp_path):
    # the reference mints fresh nulls per reader (reader.rs:40-46): _:b1
    # from two files must NOT unify
    from nemo_spark.sources.rdf_typed import read_rdf_typed

    (tmp_path / "f1.nt").write_text("_:b1 <p> <o1> .\n")
    (tmp_path / "f2.nt").write_text("_:b1 <p> <o2> .\n")
    a = read_rdf_typed(spark, str(tmp_path / "f1.nt"), fmt="ntriples").collect()
    b = read_rdf_typed(spark, str(tmp_path / "f2.nt"), fmt="ntriples").collect()
    assert len(a) == 1 and len(b) == 1
    assert a[0]["c0"] != b[0]["c0"]  # document-scoped blank nodes


def test_nt_rejects_malformed_lines(spark, tmp_path):
    from nemo_spark.sources.rdf_typed import read_rdf_typed

    (tmp_path / "m.nt").write_text(
        '"literal subject" <p> <o> .\n'      # literal subject: malformed
        "<s> <p> <o> <g> .\n"                 # quad in ntriples: malformed
        "<s> <p> <o> .\n"                     # valid
    )
    rows = read_rdf_typed(spark, str(tmp_path / "m.nt"), fmt="ntriples").collect()
    assert len(rows) == 1


def test_turtle_base_resolves_relative_iris(spark, tmp_path):
    from nemo_spark.model.values import Value
    from nemo_spark.sources.rdf_typed import read_rdf_typed

    (tmp_path / "b.ttl").write_text("@base <http://ex/> .\n<foo> <bar> <> .\n")
    rows = read_rdf_typed(spark, str(tmp_path / "b.ttl"), fmt="turtle").collect()
    vals = [Value(r[c]["t"], r[c]["i"], r[c]["d"], r[c]["s"]) for r in rows for c in ("c0", "c1", "c2")]
    assert [v.lexical() for v in vals] == ["http://ex/foo", "http://ex/bar", "http://ex/"]


def test_rdf_gz_extension_sniffing(spark, tmp_path):
    import gzip

    from nemo_spark.sources.rdf_typed import read_rdf_typed

    p = tmp_path / "d.nt.gz"
    p.write_bytes(gzip.compress(b"<s> <p> <o> .\n"))
    rows = read_rdf_typed(spark, str(p), fmt="rdf").collect()
    assert len(rows) == 1


def test_json_multi_file_node_ids_disjoint(spark, tmp_path):
    from nemo_spark.model.values import Value
    from nemo_spark.sources.json_typed import read_json_typed

    (tmp_path / "a.json").write_text('{"k": "va"}')
    (tmp_path / "b.json").write_text('{"k": "vb"}')
    rows = read_json_typed(spark, str(tmp_path)).collect()
    # node 0 of file A must not merge with node 0 of file B: the two roots
    # have distinct ids, and each (id, <type>, "object") appears once
    roots = {
        r["c0"]["i"]
        for r in rows
        if Value(r["c2"]["t"], r["c2"]["i"], r["c2"]["d"], r["c2"]["s"]).lexical() == "object"
    }
    assert len(roots) == 2
    # single-file read keeps reference-exact ids (root = 0)
    one = read_json_typed(spark, str(tmp_path / "a.json")).collect()
    assert min(r["c0"]["i"] for r in one) == 0


def test_json_huge_int_falls_back_to_double(spark, tmp_path):
    # reader.rs:108-118: i64 -> u64 -> lossy f64, never an import error
    from nemo_spark.model.values import T_DOUBLE
    from nemo_spark.sources.json_typed import read_json_typed

    (tmp_path / "n.json").write_text("18446744073709551616")  # 2^64
    rows = read_json_typed(spark, str(tmp_path / "n.json")).collect()
    vals = [r["c2"] for r in rows]
    assert any(v["t"] == T_DOUBLE and v["d"] == float(2**64) for v in vals)


def test_dsv_blank_line_before_header(spark, tmp_path):
    # the csv crate skips blank lines BEFORE taking the header record: a
    # leading blank line must not burn the header skip (importing the real
    # header as a fact)
    from nemo_spark.model.values import Value
    from nemo_spark.sources.dsv_typed import read_dsv_typed

    (tmp_path / "h.csv").write_text("\nname,age\nalice,31\nbob,44\n")
    rows = read_dsv_typed(
        spark, str(tmp_path / "h.csv"), ["string", "int"], ignore_headers=True
    ).collect()
    got = {
        (
            Value(r["c0"]["t"], r["c0"]["i"], r["c0"]["d"], r["c0"]["s"]).lexical(),
            Value(r["c1"]["t"], r["c1"]["i"], r["c1"]["d"], r["c1"]["s"]).lexical(),
        )
        for r in rows
    }
    assert got == {("alice", "31"), ("bob", "44")}


def test_sparql_values_injection_skips_long_literals():
    from nemo_spark.sources.sparql import query_with_values
    from nemo_spark.model.values import Value

    q = 'SELECT ?s WHERE { ?s ?p """said " } done""" }'
    out = query_with_values(q, ["s"], [(Value.iri("x"),)])
    # the VALUES block lands before the real group close, not inside the
    # long literal's embedded '}'
    assert out.index("VALUES") > out.index('done"""')
    assert out.rstrip().endswith("}")


# one lexeme per file: each file takes whichever decoder its own shape picks
_INT_LEXEMES = [
    "5", "+5", "-0", "007", " 5", "5 ", "\t5", "5\u2028", "5\u0085", "\u00a05",
    "\u0661\u0662", "9223372036854775807", "9223372036854775808",
    "18446744073709551616", "1.0", "1e3", "0x10", "1_000", "", "abc",
]
_DOUBLE_LEXEMES = [
    "1.5", "-0.0", ".5", "5.", "1e400", "-1e400", "1e-400", "nan", "inf",
    "Infinity", "1_000.5", " 2.5", "1.0d", "0x1p3",
]
# a python-path marker in a physical plan
_PY_OPERATOR = re.compile(r"Python|InPandas|InArrow")


def _dsv_oracle(text, formats, delimiter=",", quoting=True):
    """Rows nemo imports from single-line records: csv.reader (or a plain
    split) plus the parse_dsv_* value parsers; blank lines, wrong arity and
    parse errors drop the row."""
    import csv

    from nemo_spark.model.values import (
        ValueError_,
        parse_dsv_double,
        parse_dsv_int,
        parse_dsv_string,
    )

    parsers = {"int": parse_dsv_int, "double": parse_dsv_double, "string": parse_dsv_string}
    out = []
    for line in text.split("\n"):
        if line == "":
            continue
        rec = next(csv.reader([line], delimiter=delimiter)) if quoting else line.split(delimiter)
        if len(rec) != len(formats):
            continue
        try:
            vals = [parsers[f](cell) for f, cell in zip(formats, rec) if f != "skip"]
        except ValueError_:
            continue
        out.append(tuple((v.t, v.i, repr(v.d), v.s) for v in vals))
    return sorted(out)


def _dsv_cells(df):
    return sorted(tuple((c.t, c.i, repr(c.d), c.s) for c in r) for r in df.collect())


def test_dsv_typed_decoders_match_python_parsers(spark, tmp_path):
    """Differential: on every adversarial lexeme the Catalyst decoder (or the
    Python fallback its probe chooses) imports exactly what csv.reader plus
    parse_dsv_int / parse_dsv_double / parse_dsv_string import."""
    from nemo_spark.sources.dsv_typed import read_dsv_typed

    cases = [(f"{lex},tag\n7,ok\n", ["int", "string"], ",", True) for lex in _INT_LEXEMES]
    cases += [(f"x,{lex}\ny,2.25\n", ["skip", "double"], ",", True) for lex in _DOUBLE_LEXEMES]
    cases += [
        ('"5",a\n6,"a,b"\n7,"x ""y"""\n', ["int", "string"], ",", True),
        ('8,a"b\n9,c\n', ["int", "string"], ",", True),
        ("1,a\n\n2\n3,b,c\n,\n4,d\n\n", ["int", "string"], ",", True),
        ("1\t2.5\tx y\n2\t-3e2\tü,v\n3\t4\n", ["int", "double", "string"], "\t", True),
        ('1,"a"\n2,b"c\n3,""\n', ["int", "string"], ",", False),
        ("-12,1e3,ümläut\n+4,.25,\n", ["int", "double", "string"], ",", True),
        # an unparseable int or double drops the row; skip drops the column
        ("1,foo,2.5\nx,bar,zzz\n3,baz,4.0\n", ["int", "string", "double"], ",", True),
        ("1,foo,2.5\nx,bar,zzz\n3,baz,4.0\n", ["int", "skip", "double"], ",", True),
        ("1,foo,2.5\nx,bar,zzz\n3,baz,4.0\n", ["skip", "string", "skip"], ",", True),
    ]
    for k, (text, formats, delimiter, quoting) in enumerate(cases):
        p = tmp_path / f"f{k}.csv"
        p.write_text(text, encoding="utf-8")
        got = _dsv_cells(read_dsv_typed(spark, str(p), formats, delimiter=delimiter, quoting=quoting))
        assert got == _dsv_oracle(text, formats, delimiter, quoting), (text, formats)


def test_dsv_typed_clean_file_decodes_in_catalyst(spark, tmp_path):
    """A clean int/double/string file runs no Python operator, and its frame
    has the Python reader's schema (a quoted file still takes that reader).
    Either way one probe job picks the decoder."""
    from nemo_spark.sources.dsv_typed import read_dsv_typed

    fmts = ["int", "double", "string"]
    (tmp_path / "clean.csv").write_text("1,2.5,a\n-2,1e-3,b c\n")
    (tmp_path / "quoted.csv").write_text('1,2.5,"a"\n')
    frames = {}
    for name in ("clean", "quoted"):

        def read(name=name):
            frames[name] = read_dsv_typed(spark, str(tmp_path / f"{name}.csv"), fmts)

        assert _jobs_in_group(spark, f"probe-{name}", read) == 1
    clean, quoted = frames["clean"], frames["quoted"]
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert not _PY_OPERATOR.search(plan), plan
    assert _PY_OPERATOR.search(quoted._jdf.queryExecution().executedPlan().toString())
    assert clean.schema == quoted.schema
    assert _dsv_cells(clean) == [
        ((100, -2, "0.0", ""), (52, 0, "0.001", ""), (20, 0, "0.0", "b c")),
        ((100, 1, "0.0", ""), (52, 0, "2.5", ""), (20, 0, "0.0", "a")),
    ]


_EXPORT_PROGRAM = r"""
p(1, <http://ex.org/a>, "back\\slash") .
p(-42, <urn:x>, "say \"hi\"") .
p(9223372036854775807, <http://ex.org/ü>, "cr\rlf\n end") .
p(-9223372036854775808, <http://ex.org/b>, "a,b;ümläut ✓") .
q(2.5e0, "18446744073709551615"^^<http://www.w3.org/2001/XMLSchema#unsignedLong>, "x"@en, "7"^^<http://ex.org/dt>, true) .
q(-1.0e-7, "18446744073709551615"^^<http://www.w3.org/2001/XMLSchema#unsignedLong>, "y\"z"@de-AT, "8"^^<http://ex.org/dt>, false) .
"""


def _dsv_any_rows(rows):
    from nemo_spark.model.values import Value

    return _sorted_rows(tuple(None if c is None else Value.from_cell(c).dsv_any() for c in r) for r in rows)


def _sorted_rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)  # cells may be None


def test_dsv_export_encoders_match_dsv_any(spark):
    """Differential: every export surface serializes each cell as
    Value.dsv_any. Integer, IRI, plain-string and NULL cells encode in
    Catalyst (no Python operator in the plan); a table holding any other tag
    takes the Arrow-batched Python serializer."""
    from nemo_spark.model.values import (
        T_BOOLEAN,
        T_DOUBLE,
        T_INT,
        T_IRI,
        T_LANG,
        T_OTHER,
        T_STRING,
        T_ULONG,
        VALUE_SCHEMA,
    )
    from nemo_spark.parser.runner import RlsRunner

    r = RlsRunner(spark, source=_EXPORT_PROGRAM).run()
    p_rows, q_rows = r.table("p").collect(), r.table("q").collect()
    assert {c.t for row in p_rows for c in row} == {T_INT, T_IRI, T_STRING}
    assert {c.t for row in q_rows for c in row} == {T_DOUBLE, T_ULONG, T_LANG, T_OTHER, T_BOOLEAN}

    schema = ", ".join(f"c{j} {VALUE_SCHEMA}" for j in range(3))
    with_nulls = spark.createDataFrame(
        [
            ((T_INT, 5, 0.0, ""), None, (T_STRING, 0, 0.0, 'x"y\\z')),
            (None, (T_IRI, 0, 0.0, "http://ex.org/n"), None),
        ],
        schema,
    )
    for pred, df, rows in [("p", r.table("p"), p_rows), ("p", with_nulls, with_nulls.collect())]:
        ser = r._dsv_frame(df, pred)
        assert not _PY_OPERATOR.search(ser._jdf.queryExecution().executedPlan().toString())
        assert _sorted_rows(ser.collect()) == _dsv_any_rows(rows)
    assert _sorted_rows(r.serialized("p").collect()) == _dsv_any_rows(p_rows)

    fallback = r._dsv_frame(r.table("q"), "q")
    assert _PY_OPERATOR.search(fallback._jdf.queryExecution().executedPlan().toString())
    assert _sorted_rows(fallback.collect()) == _dsv_any_rows(q_rows)
    assert _sorted_rows(r.serialized("q").collect()) == _dsv_any_rows(q_rows)
