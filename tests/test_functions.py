"""Scalar-function semantics tests — nemo's error-is-no-result contract.

Mirrors testcases under ``/root/reference/resources/testcases/arithmetic``
semantics: i64 overflow / division-by-zero / failed cast => row dropped.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nemo_spark.functions import ops

I64_MAX = 2**63 - 1


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_overflow_yields_null(spark):
    assert _one(spark, ops.num_sum(F.lit(I64_MAX), F.lit(1))) is None
    assert _one(spark, ops.num_product(F.lit(2**40), F.lit(2**40))) is None
    assert _one(spark, ops.num_subtraction(F.lit(-(2**63)), F.lit(1))) is None


def test_division_semantics(spark):
    assert _one(spark, ops.num_division(F.lit(1), F.lit(0))) is None
    assert _one(spark, ops.num_int_division(F.lit(7), F.lit(2))) == 3
    assert _one(spark, ops.num_int_division(F.lit(-7), F.lit(2))) == -3  # trunc toward zero
    assert _one(spark, ops.num_int_division(F.lit(7), F.lit(0))) is None
    assert _one(spark, ops.num_int_division(F.lit(I64_MAX), F.lit(1))) == I64_MAX
    assert _one(spark, ops.num_remainder(F.lit(-7), F.lit(2))) == -1  # Rust rem sign
    assert _one(spark, ops.num_remainder(F.lit(7), F.lit(0))) is None


def test_casts(spark):
    assert _one(spark, ops.cast_to_integer(F.lit("42"))) == 42
    assert _one(spark, ops.cast_to_integer(F.lit("4.2x"))) is None
    assert _one(spark, ops.cast_to_double(F.lit("4.5"))) == 4.5


def test_string_functions(spark):
    assert _one(spark, ops.str_before(F.lit("hello world"), F.lit(" "))) == "hello"
    assert _one(spark, ops.str_after(F.lit("hello world"), F.lit(" "))) == "world"
    assert _one(spark, ops.str_after(F.lit("hello"), F.lit("x"))) == ""
    assert _one(spark, ops.str_substring(F.lit("hello"), F.lit(2))) == "ello"
    assert _one(spark, ops.str_substring(F.lit("hello"), F.lit(2), F.lit(3))) == "ell"
    assert _one(spark, ops.str_levenshtein(F.lit("kitten"), F.lit("sitting"))) == 3
    assert _one(spark, ops.str_compare(F.lit("a"), F.lit("b"))) == -1
    assert _one(spark, ops.str_uriencode(F.lit("a b"))) == "a%20b"
    assert _one(spark, ops.fstring("x={} y={}", F.lit(1), F.lit("z"))) == "x=1 y=z"


def test_misc_numeric(spark):
    assert _one(spark, ops.num_lukasiewicz(F.lit(0.7), F.lit(0.6))) == 0.3 or abs(
        _one(spark, ops.num_lukasiewicz(F.lit(0.7), F.lit(0.6))) - 0.3
    ) < 1e-9
    assert _one(spark, ops.num_squareroot(F.lit(-1.0))) is None
    assert _one(spark, ops.num_minimum(F.lit(3), F.lit(1), F.lit(2))) == 1
    assert _one(spark, ops.num_maximum(F.lit(3), F.lit(1), F.lit(2))) == 3


def test_typed_edge_semantics(spark):
    """Round-4 review regressions over the typed expression layer: overflow
    boundaries, error propagation through booleans, f64-preserving
    ceil/floor, E-notation canonical strings, ANSI-safe INT() cast."""
    from nemo_spark.functions import typed as TY
    from nemo_spark.model.values import T_DOUBLE, T_INT, Value

    def ev(col):
        return spark.range(1).select(col.alias("v")).collect()[0]["v"]

    def lv(x):
        return TY.lit_value(x)

    # POW(2,63) overflows i64: no-result (was saturating to i64::MAX)
    assert ev(TY.t_power(lv(Value.int(2)), lv(Value.int(63)))) is None
    assert ev(TY.t_power(lv(Value.int(2)), lv(Value.int(62))))["i"] == 2**62

    # CEIL/FLOOR keep f64 beyond 2^63 (were saturating through LONG)
    big = 1e30
    assert ev(TY.t_ceil(lv(Value.double(big))))["d"] == big
    assert ev(TY.t_floor(lv(Value.double(-big))))["d"] == -big
    assert ev(TY.t_ceil(lv(Value.double(1.5))))["d"] == 2.0

    # INT(1e30): out-of-range cast is no-result, not an ANSI exception
    assert ev(TY.t_cast_int(lv(Value.double(1e30)))) is None
    assert ev(TY.t_cast_int(lv(Value.double(4.0))))["i"] == 4

    # AND/OR: an errored operand is never swallowed by the decided side
    err = TY.t_cast_int(lv(Value.string("abc")))  # evaluation error
    f = lv(Value.boolean(False))
    t = lv(Value.boolean(True))
    assert ev(TY.t_and(err, f)) is None
    assert ev(TY.t_or(err, t)) is None
    assert ev(TY.t_and(t, f))["i"] == 0

    # Lukasiewicz: i64 overflow is no-result, not the floor value 0
    assert ev(TY.t_lukasiewicz(lv(Value.int(2**62)), lv(Value.int(2**62)))) is None
    assert ev(TY.t_lukasiewicz(lv(Value.int(1)), lv(Value.int(1))))["i"] == 1

    # E-notation expansion drops Java's placeholder mantissa zero
    assert ev(TY.t_str(lv(Value.double(1e-4))))["s"] == "0.0001"
    assert ev(TY.t_str(lv(Value.double(1.05e-4))))["s"] == "0.000105"


def test_ansi_overflow_edges_no_result(spark):
    """Edges that previously ANSI-aborted the whole query or silently
    diverged from the reference's checked arithmetic."""
    from nemo_spark.functions import typed as TY
    from nemo_spark.model.values import Value

    df = spark.range(1)

    def ev(col):
        row = df.select(col.alias("v")).collect()[0].v
        return None if row is None or row.t is None else row.asDict()

    lv = TY.lit_value
    # SQRT near i64::MAX: the verification square overflows i64 — must
    # return the floor sqrt, not raise ARITHMETIC_OVERFLOW
    assert ev(TY.t_squareroot(lv(Value.int(2**63 - 1))))["i"] == 3037000499
    assert ev(TY.t_squareroot(lv(Value.int(9))))["i"] == 3
    # LUKA where x+y == i64::MIN: try_add passes, the -1 must not abort
    assert ev(TY.t_lukasiewicz(lv(Value.int(-(2**62))), lv(Value.int(-(2**62))))) is None
    # i64::MIN % -1: Spark returns 0, checked_rem overflows => no result
    assert ev(TY.t_remainder(lv(Value.int(-(2**63))), lv(Value.int(-1)))) is None
    assert ev(TY.t_remainder(lv(Value.int(7)), lv(Value.int(3))))["i"] == 1
    # radix casts in [10^18, i64::MAX] (19 decimal digits) are legal
    assert ev(TY.t_cast_int(lv(Value.string("0x7FFFFFFFFFFFFFFF"))))["i"] == 2**63 - 1
    assert ev(TY.t_cast_int(lv(Value.string("0x8000000000000000")))) is None  # > i64
    assert ev(TY.t_cast_int(lv(Value.string("0x00000000000000000000ff"))))["i"] == 255
    assert ev(TY.t_cast_int(lv(Value.string("0b0"))))["i"] == 0


def test_double_str_shortest_roundtrip(spark):
    """STR/fullStr double rendering must match Rust's shortest-round-trip
    digits — Java 17's Double.toString is NOT shortest (1.0e23 prints as
    9.999999999999999E22), so the formatter routes through the same
    Python formatter the export serializer uses."""
    from nemo_spark.functions import typed as TY
    from nemo_spark.model.values import Value, rust_f64_str

    df = spark.range(1)

    def s(col):
        return df.select(col.alias("v")).collect()[0].v.s

    for x in (1.0e23, 5.960464477539063e-08, 0.0001, 3.0, -2.5, 1.05e-4):
        assert s(TY.t_str(TY.lit_value(Value.double(x)))) == rust_f64_str(x), x


def test_round6_function_edge_fixes(spark):
    """Boundary fixes verified against the reference's checked arithmetic
    and the urlencoding crate / string.rs substring semantics."""
    from nemo_spark.parser.runner import RlsRunner

    src = """
    pair(-2, 63) . pair(2, 63) . pair(2, 10) .
    pw(?a, ?b, POW(?a, ?b)) :- pair(?a, ?b) .
    lg(9223372036854775807, 2) . lg(1000, 10) .
    lr(?a, ?b, LOG(?a, ?b)) :- lg(?a, ?b) .
    txt("hello", -3) .
    sub(?s, ?i, SUBSTR(?s, ?i)) :- txt(?s, ?i) .
    sub3(?s, ?i, SUBSTR(?s, ?i, 5)) :- txt(?s, ?i) .
    raw("~a b*c") . ur(?x, URIENCODE(?x)) :- raw(?x) .
    fs(f"100% of {?a}") :- pair(?a, 10) .
    @output pw . @output lr . @output sub . @output sub3 . @output ur . @output fs .
    """
    r = RlsRunner(spark, source=src).run()

    def rows(p):
        return sorted(tuple(x) for x in r.serialized(p).collect())

    # POW(-2,63) = i64::MIN (checked_pow Some); POW(2,63) overflows => dropped
    assert rows("pw") == [("-2", "63", "-9223372036854775808"), ("2", "10", "1024")]
    # ilog at the i64::MAX boundary: 62, not 64 (the old saturating sentinel
    # compared equal to the operand)
    assert rows("lr") == [("1000", "10", "3"), ("9223372036854775807", "2", "62")]
    # non-positive SUBSTR start clamps to 1 (string.rs val.max(1)); the
    # 3-arg end uses the PRE-clamp start, so a negative start eats length
    assert rows("sub") == [('"hello"', "-3", '"hello"')]
    assert rows("sub3") == [('"hello"', "-3", '"h"')]
    # RFC 3986 percent-encoding: '~' bare, '*' => %2A, space => %20
    assert rows("ur") == [('"~a b*c"', '"~a%20b%2Ac"')]
    # literal '%' in an f-string must not reach java.util.Formatter raw
    assert rows("fs") == [('"100% of 2"',)]


def test_map_keys_sorted_by_value_order():
    # BTreeMap order = nemo's element-wise cross-domain value order, NOT the
    # raw struct order (which sorts structured keys by length first)
    from nemo_spark.model.values import Value

    t9 = Value.tuple_of([Value.int(9)])
    t11 = Value.tuple_of([Value.int(1), Value.int(1)])
    m = Value.map_of([(t9, Value.int(0)), (t11, Value.int(0))])
    assert m.s.index("(1,1)") < m.s.index("(9)")


def test_ground_function_catalogue(spark):
    # the reference evaluates every operation over ground terms (facts like
    # p(SQRT(16)).); round 6 widened _GROUND_FNS from 13 to ~55 names
    from nemo_spark.parser.runner import RlsRunner

    src = """
    p(SQRT(16), POW(2, 10), LOG(1000, 10), ABS(-7), REM(-7, 3)) .
    q(SUBSTR("hello", -3), UCASE("ab"), STRAFTER("a-b", "-"), URIENCODE("~x y*"), STRLEN("abc")) .
    r(MAX(3, 9), NOT(false), isInteger(5), BITXOR(12, 10), STRBEFORE("a-b", "-")) .
    @output p . @output q . @output r .
    """
    run = RlsRunner(spark, source=src).run()

    def rows(pr):
        return [tuple(x) for x in run.serialized(pr).collect()]

    assert rows("p") == [("4", "1024", "3", "7", "-1")]  # REM sign = dividend
    assert rows("q") == [('"hello"', '"AB"', '"b"', '"~x%20y%2A"', "3")]
    assert rows("r") == [
        ("9", '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>',
         '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>', "6", '"a"')
    ]
    # a ground evaluation ERROR in a fact follows error-is-no-result: the
    # fact drops, the program still runs
    r2 = RlsRunner(spark, source="p(SQRT(-1)) . p(1) . @output p .").run()
    assert [tuple(x) for x in r2.serialized("p").collect()] == [("1",)]


def test_ground_float_branch_errors_drop_not_crash(spark):
    # legal inputs whose float evaluation raises a BUILT-IN exception (or
    # returns complex) must drop the fact like any other ground error, not
    # crash program load: POW(-2.0,0.5) -> complex, POW(0.0,-1.0) ->
    # ZeroDivisionError, POW(1e300,2.0) -> OverflowError, LOG(-1.0,2.0) and
    # REM(1.0,0.0) -> bare ValueError from math.log/math.fmod
    from nemo_spark.parser.runner import RlsRunner

    src = """
    p(POW(-2.0, 0.5)) .
    p(POW(0.0, -1.0)) .
    p(POW(1.0E300, 2.0)) .
    p(LOG(-1.0, 2.0)) .
    p(REM(1.0, 0.0)) .
    p(1) .
    @output p .
    """
    run = RlsRunner(spark, source=src).run()
    assert [tuple(x) for x in run.serialized("p").collect()] == [("1",)]


def test_ground_float_branch_keeps_type_errors():
    # only the built-in errors of legal float inputs mean "no result"; a
    # TypeError inside the float branch is a bug and must not drop the fact
    import pytest

    from nemo_spark.parser.compile import _gv_dbl

    def buggy(x, y):
        raise TypeError("unsupported operand")

    with pytest.raises(TypeError, match="unsupported operand"):
        _gv_dbl(buggy, 1.0, 2.0)
