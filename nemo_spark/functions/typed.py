"""Catalyst expressions over typed value structs (see model/values.py).

Every function takes/returns Columns of type ``VALUE_SCHEMA``
(struct<t:int,i:bigint,d:double,s:string>) and mirrors one nemo operation
(``nemo/src/rule_model/components/term/operation/operation_kind.rs:78-403``,
physical impls ``nemo-physical/src/function/definitions/**``).

Error semantics: a nemo evaluation error (wrong operand domain, integer
overflow, division by zero, non-finite float result, failed cast) produces NO
RESULT — encoded as SQL NULL on the whole struct; the engine drops
null-valued assignment rows and null/false filter rows.

Numeric dispatch (definitions/numeric.rs NumericPair): int op int => checked
i64; float op float => f32; anything else numeric => both cast to double.
NaN/±Inf results are rejected (the reference's Double/Float domains exclude
them). Everything here is pure Catalyst — JVM codegen, no Python in the
executor path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nemo_spark.model.values import (
    NEMO_MAP,
    NEMO_TUPLE,
    RDF_LANGSTRING,
    SEP,
    T_BOOLEAN,
    T_DOUBLE,
    T_FLOAT,
    T_INT,
    T_IRI,
    T_LANG,
    T_MAP,
    T_NULL,
    T_OTHER,
    T_STRING,
    T_TUPLE,
    T_ULONG,
    VALUE_SCHEMA,
    XSD,
    Value,
)

I64_MAX = (1 << 63) - 1
I64_MIN = -(1 << 63)

def NULLV() -> Column:
    """Typed-null literal (built lazily: Column creation needs a live session)."""
    return F.lit(None).cast(VALUE_SCHEMA)


# ------------------------------------------------------------ struct helpers


def vt(c: Column) -> Column:
    return c.getField("t")


def vi(c: Column) -> Column:
    return c.getField("i")


def vd(c: Column) -> Column:
    return c.getField("d")


def vs(c: Column) -> Column:
    return c.getField("s")


def mk(t, i, d, s) -> Column:
    return F.struct(
        F.lit(t).cast("int").alias("t") if isinstance(t, int) else t.cast("int").alias("t"),
        F.lit(i).cast("long").alias("i") if isinstance(i, int) else i.cast("long").alias("i"),
        F.lit(d).cast("double").alias("d") if isinstance(d, float) else d.cast("double").alias("d"),
        F.lit(s).alias("s") if isinstance(s, str) else s.alias("s"),
    )


def lit_value(v: Value) -> Column:
    return mk(v.t, v.i, v.d, v.s)


def _guard(cond: Column, value: Column) -> Column:
    return F.when(cond, value).otherwise(NULLV())


# ------------------------------------------------------------------ wrappers


def wrap_int(i: Column) -> Column:
    """i64 result; SQL-null input => no result."""
    return _guard(i.isNotNull(), mk(T_INT, i, 0.0, ""))


def wrap_double(d: Column) -> Column:
    """f64 result; null / NaN / ±Inf => no result (Double domain excludes them)."""
    ok = d.isNotNull() & ~F.isnan(d) & (F.abs(d) != F.lit(float("inf")))
    return _guard(ok, mk(T_DOUBLE, 0, d, ""))


def wrap_float(d: Column) -> Column:
    """f32 result (computed in f64, rounded to f32)."""
    f = d.cast("float")
    ok = f.isNotNull() & ~F.isnan(f) & (F.abs(f) != F.lit(float("inf")))
    return _guard(ok, mk(T_FLOAT, 0, f.cast("double"), ""))


def wrap_bool(b: Column) -> Column:
    return _guard(b.isNotNull(), mk(T_BOOLEAN, F.when(b, F.lit(1)).otherwise(F.lit(0)), 0.0, ""))


def wrap_string(s: Column) -> Column:
    return _guard(s.isNotNull(), mk(T_STRING, 0, 0.0, s))


def wrap_iri(s: Column) -> Column:
    return _guard(s.isNotNull(), mk(T_IRI, 0, 0.0, s))


# ----------------------------------------------------------- numeric helpers


def num_d(c: Column) -> Column:
    """Numeric payload as double, SQL-null when the value isn't numeric.
    UnsignedLong (> i64::MAX) is numeric in nemo but excluded from arithmetic
    (NumericValue::from_any_datavalue returns None for it)."""
    return (
        F.when(vt(c) == T_INT, vi(c).cast("double"))
        .when((vt(c) == T_DOUBLE) | (vt(c) == T_FLOAT), vd(c))
        .otherwise(F.lit(None).cast("double"))
    )


def is_numeric_dom(c: Column) -> Column:
    """CheckIsNumeric domain test (includes UnsignedLong)."""
    return c.isNotNull() & vt(c).isin(T_INT, T_ULONG, T_DOUBLE, T_FLOAT)


def _arith2(a: Column, b: Column, int_fn, dbl_fn) -> Column:
    both_int = (vt(a) == T_INT) & (vt(b) == T_INT)
    both_float = (vt(a) == T_FLOAT) & (vt(b) == T_FLOAT)
    an, bn = num_d(a), num_d(b)
    numeric = an.isNotNull() & bn.isNotNull()
    return (
        F.when(a.isNull() | b.isNull(), NULLV())
        .when(both_int, wrap_int(int_fn(vi(a), vi(b))))
        .when(both_float & numeric, wrap_float(dbl_fn(an, bn)))
        .when(numeric, wrap_double(dbl_fn(an, bn)))
        .otherwise(NULLV())
    )


def _arith1(a: Column, int_fn, dbl_fn) -> Column:
    is_int = vt(a) == T_INT
    is_float = vt(a) == T_FLOAT
    an = num_d(a)
    return (
        F.when(a.isNull(), NULLV())
        .when(is_int, wrap_int(int_fn(vi(a))))
        .when(is_float & an.isNotNull(), wrap_float(dbl_fn(an)))
        .when(an.isNotNull(), wrap_double(dbl_fn(an)))
        .otherwise(NULLV())
    )


def _int_div(a: Column, b: Column) -> Column:
    # exact i64 truncating division; /0 => null (integer64.rs:48 checked_div)
    exact = (a - (a % b)).cast("decimal(38,0)") / b.cast("decimal(38,0)")
    ok = (b != F.lit(0)) & ~((a == F.lit(I64_MIN)) & (b == F.lit(-1)))
    return F.when(ok, exact.cast("long")).otherwise(F.lit(None).cast("long"))


def _int_pow(a: Column, b: Column) -> Column:
    # checked_pow: negative exponent => None; overflow => None. Computed in
    # double with an exactness check (exact up to 2^53; larger exact powers
    # of magnitude < 2^63 are extremely sparse — documented approximation).
    d = F.pow(a.cast("double"), b.cast("double"))
    # bounds: float(I64_MAX) rounds to exactly 2^63, so the upper check is
    # STRICT < (POW(2,63) must be no-result); the lower bound ADMITS
    # -2^63 == i64::MIN exactly — abs(d) < 2^63 wrongly rejected POW(-2,63),
    # which the reference's checked_pow returns as Some(i64::MIN)
    ok = (
        (b >= F.lit(0))
        & (d >= F.lit(float(I64_MIN)))
        & (d < F.lit(float(I64_MAX)))
        & ~F.isnan(d)
    )
    return F.when(ok, d.try_cast("long")).otherwise(F.lit(None).cast("long"))


def _int_sqrt(a: Column) -> Column:
    # floor integer sqrt (integer64.rs:72 Roots::sqrt), with float-error
    # nudge. try_multiply for the verification squares: (s+1)^2 overflows
    # i64 for a >= 3037000499^2 and a bare multiply would ANSI-abort the
    # whole query on that legal input; a null (overflowed) square certainly
    # exceeds a, so the comparison treats it as "too big".
    s = F.floor(F.sqrt(a.cast("double"))).cast("long")
    up = F.try_multiply(s + 1, s + 1)
    s = F.when(up.isNotNull() & (up <= a), s + 1).otherwise(s)
    sq = F.try_multiply(s, s)
    s = F.when(sq.isNull() | (sq > a), s - 1).otherwise(s)
    return F.when(a >= 0, s).otherwise(F.lit(None).cast("long"))


def _int_log(a: Column, b: Column) -> Column:
    # ilog: floor(log_base(value)); value <= 0 or base < 2 => None
    # (integer64.rs:84). float log then integer verification.
    # F.log(base, col) needs a literal base; compute log-ratio instead
    approx = F.floor(F.log(a.cast("double")) / F.log(b.cast("double"))).cast("long")
    # verify via exact integer powers around the approximation; an
    # overflowed power is NULL = "beyond i64" (a saturating I64_MAX
    # sentinel compared EQUAL to a == i64::MAX, so LOG(i64::MAX, 2)
    # returned 64 where ilog2 is 62)
    lo = F.when(_int_pow_exactish(b, approx + 1) <= a, approx + 1).otherwise(approx)
    pe = _int_pow_exactish(b, lo)
    # NULL power == overflowed == certainly > a
    res = F.when(pe.isNull() | (pe > a), lo - 1).otherwise(lo)
    return F.when((a > 0) & (b >= 2), res).otherwise(F.lit(None).cast("long"))


def _int_pow_exactish(base: Column, e: Column) -> Column:
    # base >= 2, e >= 0 here, so d is positive; NULL = overflows i64
    d = F.pow(base.cast("double"), e.cast("double"))
    return F.when(d < F.lit(float(I64_MAX)), d.try_cast("long")).otherwise(
        F.lit(None).cast("long")
    )


def t_sum(a: Column, b: Column) -> Column:
    return _arith2(a, b, F.try_add, lambda x, y: x + y)


def t_subtraction(a: Column, b: Column) -> Column:
    return _arith2(a, b, F.try_subtract, lambda x, y: x - y)


def t_product(a: Column, b: Column) -> Column:
    return _arith2(a, b, F.try_multiply, lambda x, y: x * y)


def t_division(a: Column, b: Column) -> Column:
    return _arith2(a, b, _int_div, lambda x, y: F.try_divide(x, y))


def t_remainder(a: Column, b: Column) -> Column:
    return _arith2(
        a,
        b,
        # i64::MIN % -1 must be no-result (checked_rem overflow in the
        # reference); Spark's long remainder quietly returns 0 there
        lambda x, y: F.when(
            (y != F.lit(0)) & ~((x == F.lit(I64_MIN)) & (y == F.lit(-1))), x % y
        ).otherwise(F.lit(None).cast("long")),
        lambda x, y: F.when(y != F.lit(0.0), x % y).otherwise(F.lit(None).cast("double")),
    )


def t_power(a: Column, b: Column) -> Column:
    return _arith2(a, b, _int_pow, lambda x, y: F.pow(x, y))


def t_logarithm(a: Column, b: Column) -> Column:
    # nemo: log(value, base)
    return _arith2(a, b, _int_log, lambda x, y: F.log(x) / F.log(y))


def t_minimum(a: Column, b: Column) -> Column:
    return _arith2(a, b, F.least, F.least)


def t_maximum(a: Column, b: Column) -> Column:
    return _arith2(a, b, F.greatest, F.greatest)


def t_lukasiewicz(a: Column, b: Column) -> Column:
    return _arith2(
        a,
        b,
        # overflow must stay no-result: greatest() IGNORES null args, so
        # a try_add overflow would otherwise collapse to the floor value 0.
        # The -1 must be try_subtract too: x+y == i64::MIN passes the
        # try_add guard but the bare subtraction would ANSI-abort the query
        lambda x, y: F.when(
            F.try_subtract(F.try_add(x, y), F.lit(1)).isNotNull(),
            F.greatest(F.lit(0).cast("long"), F.try_subtract(F.try_add(x, y), F.lit(1))),
        ).otherwise(F.lit(None).cast("long")),
        lambda x, y: F.greatest(F.lit(0.0), x + y - F.lit(1.0)),
    )


def t_absolute(a: Column) -> Column:
    return _arith1(a, lambda x: F.try_multiply(F.signum(x.cast("double")).cast("long"), x), F.abs)


def t_negation(a: Column) -> Column:
    return _arith1(a, lambda x: F.try_subtract(F.lit(0).cast("long"), x), lambda x: -x)


def t_squareroot(a: Column) -> Column:
    return _arith1(a, _int_sqrt, lambda x: F.when(x >= 0, F.sqrt(x)).otherwise(F.lit(None).cast("double")))


def t_sin(a: Column) -> Column:
    return _float_only(a, F.sin)


def t_cos(a: Column) -> Column:
    return _float_only(a, F.cos)


def t_tan(a: Column) -> Column:
    return _float_only(a, F.tan)


def _float_only(a: Column, fn) -> Column:
    """sin/cos/tan exist only for float/double in the reference (no integer
    variant) — integer input is an eval error."""
    is_float = vt(a) == T_FLOAT
    is_double = vt(a) == T_DOUBLE
    return (
        F.when(a.isNull(), NULLV())
        .when(is_float, wrap_float(fn(vd(a))))
        .when(is_double, wrap_double(fn(vd(a))))
        .otherwise(NULLV())
    )


def _f64_preserving(fn):
    # |x| >= 2^53: every such double is already an integer, and Spark's
    # ceil/floor return LONG (saturating at 2^63) — pass the value through
    # instead (Rust f64::ceil/floor keep f64)
    def g(x):
        return F.when(F.abs(x) < F.lit(2.0**53), fn(x).cast("double")).otherwise(x)

    return g


def t_ceil(a: Column) -> Column:
    return _arith1(a, lambda x: x, _f64_preserving(F.ceil))


def t_floor(a: Column) -> Column:
    return _arith1(a, lambda x: x, _f64_preserving(F.floor))


def t_round(a: Column) -> Column:
    return _arith1(a, lambda x: x, lambda x: F.round(x, 0))


# -------------------------------------------------------------------- bit ops
# defined on integers only (integer64.rs bitwise group)


def _int2(a: Column, b: Column, fn) -> Column:
    ok = (vt(a) == T_INT) & (vt(b) == T_INT)
    return _guard(ok, wrap_int(fn(vi(a), vi(b))))


def t_bit_and(a: Column, b: Column) -> Column:
    return _int2(a, b, lambda x, y: x.bitwiseAND(y))


def t_bit_or(a: Column, b: Column) -> Column:
    return _int2(a, b, lambda x, y: x.bitwiseOR(y))


def t_bit_xor(a: Column, b: Column) -> Column:
    return _int2(a, b, lambda x, y: x.bitwiseXOR(y))


def t_bit_shl(a: Column, b: Column) -> Column:
    return _int2(a, b, lambda x, y: F.call_function("shiftleft", x, y.cast("int")))


def t_bit_shr(a: Column, b: Column) -> Column:
    return _int2(a, b, lambda x, y: F.call_function("shiftright", x, y.cast("int")))


def t_bit_shru(a: Column, b: Column) -> Column:
    return _int2(a, b, lambda x, y: F.call_function("shiftrightunsigned", x, y.cast("int")))


# ------------------------------------------------------------------- boolean


def as_bool(a: Column) -> Column:
    """Boolean payload, SQL-null if not a boolean value."""
    return F.when(vt(a) == T_BOOLEAN, vi(a) == 1).otherwise(F.lit(None).cast("boolean"))


def t_and(a: Column, b: Column) -> Column:
    # NOT SQL three-valued logic: an errored/non-boolean operand makes the
    # whole expression no-result even when the other operand would decide
    # it (AND(<error>, false) is an error in the reference's StackProgram)
    ok = (vt(a) == T_BOOLEAN) & (vt(b) == T_BOOLEAN)
    return F.when(ok, wrap_bool(as_bool(a) & as_bool(b))).otherwise(NULLV())


def t_or(a: Column, b: Column) -> Column:
    ok = (vt(a) == T_BOOLEAN) & (vt(b) == T_BOOLEAN)  # see t_and
    return F.when(ok, wrap_bool(as_bool(a) | as_bool(b))).otherwise(NULLV())


def t_not(a: Column) -> Column:
    return wrap_bool(~as_bool(a))


# --------------------------------------------------------------- comparisons


def t_equal(a: Column, b: Column) -> Column:
    """Equality across ALL values; disjoint domains are unequal."""
    return _guard(a.isNotNull() & b.isNotNull(), wrap_bool(a == b))


def t_unequal(a: Column, b: Column) -> Column:
    return _guard(a.isNotNull() & b.isNotNull(), wrap_bool(a != b))


def _num_cmp(a: Column, b: Column, int_cmp, dbl_cmp) -> Column:
    """Numeric comparison: both numeric required (else eval error); int/int
    exact, otherwise double (numeric.rs NumericPair::from_any_pair_castable)."""
    both_int = (vt(a) == T_INT) & (vt(b) == T_INT)
    an, bn = num_d(a), num_d(b)
    numeric = an.isNotNull() & bn.isNotNull()
    return (
        F.when(a.isNull() | b.isNull(), NULLV())
        .when(both_int, wrap_bool(int_cmp(vi(a), vi(b))))
        .when(numeric, wrap_bool(dbl_cmp(an, bn)))
        .otherwise(NULLV())
    )


def t_lt(a: Column, b: Column) -> Column:
    return _num_cmp(a, b, lambda x, y: x < y, lambda x, y: x < y)


def t_le(a: Column, b: Column) -> Column:
    return _num_cmp(a, b, lambda x, y: x <= y, lambda x, y: x <= y)


def t_gt(a: Column, b: Column) -> Column:
    return _num_cmp(a, b, lambda x, y: x > y, lambda x, y: x > y)


def t_ge(a: Column, b: Column) -> Column:
    return _num_cmp(a, b, lambda x, y: x >= y, lambda x, y: x >= y)


# ------------------------------------------------------------------- strings


def as_string(a: Column) -> Column:
    """Plain-string payload; non-strings => SQL null (string functions are
    defined on PlainString only, definitions/string.rs)."""
    return F.when(vt(a) == T_STRING, vs(a)).otherwise(F.lit(None).cast("string"))


def t_strlen(a: Column) -> Column:
    return wrap_int(F.length(as_string(a)).cast("long"))


def t_concat(*cols: Column) -> Column:
    return wrap_string(F.concat(*[as_string(c) for c in cols]))


def t_contains(a: Column, b: Column) -> Column:
    return wrap_bool(F.contains(as_string(a), as_string(b)))


def t_starts(a: Column, b: Column) -> Column:
    return wrap_bool(F.startswith(as_string(a), as_string(b)))


def t_ends(a: Column, b: Column) -> Column:
    return wrap_bool(F.endswith(as_string(a), as_string(b)))


def t_strbefore(a: Column, b: Column) -> Column:
    s, sep = as_string(a), as_string(b)
    r = F.when(F.contains(s, sep), F.substr(s, F.lit(1), F.instr(s, sep) - F.lit(1))).otherwise(
        F.lit("")
    )
    return _guard(s.isNotNull() & sep.isNotNull(), wrap_string(r))


def t_strafter(a: Column, b: Column) -> Column:
    s, sep = as_string(a), as_string(b)
    r = F.when(F.contains(s, sep), F.substr(s, F.instr(s, sep) + F.length(sep))).otherwise(F.lit(""))
    return _guard(s.isNotNull() & sep.isNotNull(), wrap_string(r))


def t_substring(a: Column, start: Column, length: Column | None = None) -> Column:
    """SUBSTR, 1-based; start/length are integer values.

    Non-positive start CLAMPS to 1 (string.rs:423 ``val.max(1)`` — the
    reference's own test: start=-1 returns the whole string); Spark's bare
    ``substr`` would instead count a negative start from the string END.
    3-arg form (string.rs:700-718): length < 1 => empty string; the slice
    end is ``start + length`` computed BEFORE the clamp, so a negative
    start eats into the length; a negative end (usize conversion failure)
    => no result."""
    s = as_string(a)
    st = F.when(vt(start) == T_INT, vi(start).cast("int")).otherwise(F.lit(None).cast("int"))
    st1 = F.greatest(st, F.lit(1))
    if length is None:
        return _guard(s.isNotNull() & st.isNotNull(), wrap_string(F.substr(s, st1)))
    ln = F.when(vt(length) == T_INT, vi(length).cast("int")).otherwise(F.lit(None).cast("int"))
    end = st + ln  # pre-clamp start: string.rs:708 uses the raw start here
    eff = F.greatest(end - st1, F.lit(0))
    result = F.when(ln < 1, F.lit("")).otherwise(F.substr(s, st1, eff))
    ok = s.isNotNull() & st.isNotNull() & ln.isNotNull() & ((ln < 1) | (end >= 0))
    return _guard(ok, wrap_string(result))


def t_regex(a: Column, pattern: Column) -> Column:
    # regexp_like accepts a column-valued pattern (Column.rlike does not)
    return wrap_bool(F.regexp_like(as_string(a), as_string(pattern)))


def t_reverse(a: Column) -> Column:
    return wrap_string(F.reverse(as_string(a)))


def t_lower(a: Column) -> Column:
    return wrap_string(F.lower(as_string(a)))


def t_upper(a: Column) -> Column:
    return wrap_string(F.upper(as_string(a)))


def t_uriencode(a: Column) -> Column:
    # RFC 3986 percent-encoding (urlencoding::encode parity): Java's
    # form-style url_encode differs on space, '*' and '~'
    from nemo_spark.functions.ops import str_uriencode

    return wrap_string(str_uriencode(as_string(a)))


def t_uridecode(a: Column) -> Column:
    return wrap_string(F.try_url_decode(as_string(a)))


def t_levenshtein(a: Column, b: Column) -> Column:
    return wrap_int(F.levenshtein(as_string(a), as_string(b)).cast("long"))


def t_strcompare(a: Column, b: Column) -> Column:
    sa, sb = as_string(a), as_string(b)
    r = F.when(sa < sb, F.lit(-1)).when(sa == sb, F.lit(0)).otherwise(F.lit(1))
    return _guard(sa.isNotNull() & sb.isNotNull(), wrap_int(r.cast("long")))


# ----------------------------------------------- RDF / type introspection


def t_str(a: Column) -> Column:
    """STR / LexicalValue: lexical form as a plain string
    (operation_kind.rs:403 LexicalValue). Doubles/floats use the reference's
    shortest-round-trip formatting — see lexical_double_col."""
    return _guard(a.isNotNull(), wrap_string(lexical_col(a)))


def lexical_col(a: Column) -> Column:
    """Lexical form of any value as a string column."""
    return (
        F.when(vt(a) == T_INT, vi(a).cast("string"))
        .when(vt(a) == T_ULONG, (vi(a).cast("decimal(38,0)") + F.lit(str(1 << 64)).cast("decimal(38,0)")).cast("string"))
        .when(vt(a) == T_DOUBLE, _rust_double_str(vd(a)))
        .when(vt(a) == T_FLOAT, _rust_float_str(vd(a)))
        .when(vt(a) == T_LANG, F.substring_index(vs(a), SEP, 1))
        .when(vt(a) == T_OTHER, F.substring_index(vs(a), SEP, 1))
        .when(vt(a) == T_BOOLEAN, F.when(vi(a) == 1, F.lit("true")).otherwise(F.lit("false")))
        .otherwise(vs(a))
    )


def _rust_double_str(d: Column) -> Column:
    """Rust f64 Display (shortest decimal, no exponent, no trailing .0).

    Arrow-batched through the SAME driver-side formatter the export
    serializer uses (values.rust_f64_str): Java's Double.toString only
    picks shortest round-trip digits on JDK 19+ — on the JDK 17 this
    environment runs, Double.toString(1.0e23) is "9.999999999999999E22",
    so the old cast("string") path printed different digits than both the
    reference and our own export files. Only the STR/fullStr function
    surface pays the UDF cost; exports never route through here."""
    return _f64_str_udf()(d)


def _rust_float_str(d: Column) -> Column:
    """Rust f32 Display for the f32 value stored widened in a double."""
    return _f32_str_udf()(d)


_F64_UDF = _F32_UDF = None


def _mk_str_udf(fmt_fn):
    import pandas as pd

    def fmt(s):
        return s.map(lambda v: None if pd.isna(v) else fmt_fn(float(v)))

    # real type objects, not strings: the module's `from __future__ import
    # annotations` would stringify inline hints and pandas is not resolvable
    # in this module's globals when pyspark re-evaluates them
    fmt.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(fmt, "string")


def _f64_str_udf():
    global _F64_UDF
    if _F64_UDF is None:
        from nemo_spark.model.values import rust_f64_str

        _F64_UDF = _mk_str_udf(rust_f64_str)
    return _F64_UDF


def _f32_str_udf():
    global _F32_UDF
    if _F32_UDF is None:
        from nemo_spark.model.values import rust_f32_str

        _F32_UDF = _mk_str_udf(rust_f32_str)
    return _F32_UDF


def t_fullstr(a: Column) -> Column:
    """fullStr / CanonicalString: the canonical serialization as a string."""
    return _guard(a.isNotNull(), wrap_string(canonical_col(a)))


def _quote_str_col(s: Column) -> Column:
    esc = F.regexp_replace(s, r"\\", r"\\\\")
    esc = F.regexp_replace(esc, '"', '\\\\"')
    esc = F.regexp_replace(esc, r"\r", r"\\r")
    esc = F.regexp_replace(esc, r"\n", r"\\n")
    return F.concat(F.lit('"'), esc, F.lit('"'))


def canonical_col(a: Column) -> Column:
    """nemo canonical_string as a Catalyst expression (float/double use the
    shortest-round-trip formatter above)."""
    lang_text = F.substring_index(vs(a), SEP, 1)
    lang_tag = F.substring_index(vs(a), SEP, -1)
    other_lex = F.substring_index(vs(a), SEP, 1)
    other_dt = F.substring_index(vs(a), SEP, -1)
    return (
        F.when(vt(a) == T_INT, vi(a).cast("string"))
        .when(vt(a) == T_ULONG, (vi(a).cast("decimal(38,0)") + F.lit(str(1 << 64)).cast("decimal(38,0)")).cast("string"))
        .when(
            vt(a) == T_DOUBLE,
            F.concat(_quote_str_col(_rust_double_str(vd(a))), F.lit(f"^^<{XSD}double>")),
        )
        .when(
            vt(a) == T_FLOAT,
            F.concat(_quote_str_col(_rust_float_str(vd(a))), F.lit(f"^^<{XSD}float>")),
        )
        .when(vt(a) == T_STRING, _quote_str_col(vs(a)))
        .when(vt(a) == T_LANG, F.concat(_quote_str_col(lang_text), F.lit("@"), lang_tag))
        .when(vt(a) == T_IRI, F.concat(F.lit("<"), vs(a), F.lit(">")))
        .when(
            vt(a) == T_BOOLEAN,
            F.concat(
                F.lit('"'),
                F.when(vi(a) == 1, F.lit("true")).otherwise(F.lit("false")),
                F.lit(f'"^^<{XSD}boolean>'),
            ),
        )
        .when(vt(a) == T_NULL, F.concat(F.lit("_:"), vs(a)))
        .when(vt(a) == T_TUPLE, F.concat(_quote_str_col(vs(a)), F.lit(f"^^<{NEMO_TUPLE}>")))
        .when(vt(a) == T_MAP, F.concat(_quote_str_col(vs(a)), F.lit(f"^^<{NEMO_MAP}>")))
        .otherwise(F.concat(_quote_str_col(other_lex), F.lit("^^<"), other_dt, F.lit(">")))
    )


def t_datatype(a: Column) -> Column:
    """Datatype: IRI value of the datatype (operation_kind.rs Datatype);
    IRIs report xsd:anyURI (ValueDomain::type_iri); nulls have none =>
    eval error."""
    dt = (
        F.when(vt(a) == T_STRING, F.lit(XSD + "string"))
        .when(vt(a) == T_IRI, F.lit(XSD + "anyURI"))
        .when(vt(a) == T_LANG, F.lit(RDF_LANGSTRING))
        .when(vt(a) == T_DOUBLE, F.lit(XSD + "double"))
        .when(vt(a) == T_FLOAT, F.lit(XSD + "float"))
        .when(vt(a) == T_BOOLEAN, F.lit(XSD + "boolean"))
        .when(vt(a) == T_ULONG, F.lit(XSD + "unsignedLong"))
        .when(
            vt(a) == T_INT,
            F.when(
                (vi(a) >= -(1 << 31)) & (vi(a) < (1 << 31)), F.lit(XSD + "int")
            ).otherwise(F.lit(XSD + "long")),
        )
        .when(vt(a) == T_OTHER, F.substring_index(vs(a), SEP, -1))
        .when(vt(a) == T_TUPLE, F.lit(NEMO_TUPLE))
        .when(vt(a) == T_MAP, F.lit(NEMO_MAP))
        .otherwise(F.lit(None).cast("string"))
    )
    return wrap_iri(dt)


def t_lang(a: Column) -> Column:
    """LANG: language tag of a language-tagged string (else eval error)."""
    return _guard(vt(a) == T_LANG, wrap_string(F.substring_index(vs(a), SEP, -1)))


def t_strlang(a: Column, tag: Column) -> Column:
    """STRLANG(string, tag) -> language-tagged string."""
    s, tg = as_string(a), as_string(tag)
    return _guard(
        s.isNotNull() & tg.isNotNull(),
        mk(T_LANG, 0, 0.0, F.concat(s, F.lit(SEP), F.lower(tg))),
    )


# ------------------------------------------------------------------- checks


def t_is_integer(a: Column) -> Column:
    return wrap_bool(a.isNotNull() & vt(a).isin(T_INT, T_ULONG))


def t_is_float(a: Column) -> Column:
    return wrap_bool(a.isNotNull() & (vt(a) == T_FLOAT))


def t_is_double(a: Column) -> Column:
    return wrap_bool(a.isNotNull() & (vt(a) == T_DOUBLE))


def t_is_iri(a: Column) -> Column:
    return wrap_bool(a.isNotNull() & (vt(a) == T_IRI))


def t_is_numeric(a: Column) -> Column:
    return wrap_bool(is_numeric_dom(a))


def t_is_null(a: Column) -> Column:
    return wrap_bool(a.isNotNull() & (vt(a) == T_NULL))


def t_is_string(a: Column) -> Column:
    return wrap_bool(a.isNotNull() & (vt(a) == T_STRING))


# -------------------------------------------------------------------- casts



def _lex_str_other(a: Column) -> Column:
    """Lexical form for STRING/OTHER values only — a slim alternative to
    lexical_col for cast paths (avoids dragging the float-formatting branches
    into every cast expression; plan-size control)."""
    return F.when(vt(a) == T_OTHER, F.substring_index(vs(a), SEP, 1)).otherwise(vs(a))


def t_cast_int(a: Column) -> Column:
    """INT cast (casting.rs CastingIntoInteger64): ints pass; integral
    floats/doubles truncate; booleans 0/1; strings/other parse decimal or
    0b/0o/0x radix literals."""
    lex = F.when(vt(a).isin(T_STRING, T_OTHER), _lex_str_other(a))
    dec = F.trim(lex)

    def _radix_long(digits: Column, base: int, max_len: int) -> Column:
        # max_len = the longest digit string that can still fit i64
        # (63 bits / 21 octal / 16 hex): longer always exceeds i64::MAX =>
        # no-result, and the cap also keeps F.conv inside u64 (its ANSI
        # overflow would abort the query). The 19-nines format admits every
        # 19-digit decimal rendering (the old 18-nines silently rejected
        # legal values in [10^18, i64::MAX]); try_cast nulls the >i64 tail.
        sig = F.regexp_replace(digits, "^0+", "")
        n = F.try_to_number(F.conv(sig, base, 10), F.lit("9" * 19)).try_cast("long")
        return (
            F.when(F.length(sig) == 0, F.lit(0).cast("long"))
            .when(F.length(sig) <= max_len, n)
            .otherwise(F.lit(None).cast("long"))
        )

    radix = F.when(dec.rlike("^0b[01]+$"), _radix_long(F.substr(dec, F.lit(3)), 2, 63)) \
        .when(dec.rlike("^0o[0-7]+$"), _radix_long(F.substr(dec, F.lit(3)), 8, 21)) \
        .when(dec.rlike("^0x[0-9A-Fa-f]+$"), _radix_long(F.substr(dec, F.lit(3)), 16, 16)) \
        .otherwise(dec.try_cast("long"))
    from_num = F.when(
        vt(a).isin(T_DOUBLE, T_FLOAT) & (F.round(vd(a), 0) == vd(a)),
        # try_cast: ANSI mode's plain cast throws CAST_OVERFLOW for doubles
        # beyond i64 range; the contract is no-result (NULL -> row dropped)
        vd(a).try_cast("long"),
    )
    return (
        F.when(a.isNull(), NULLV())
        .when(vt(a) == T_INT, a)
        .when(vt(a).isin(T_STRING, T_OTHER), wrap_int(radix))
        .when(vt(a).isin(T_DOUBLE, T_FLOAT), wrap_int(from_num))
        .when(vt(a) == T_BOOLEAN, wrap_int(vi(a)))
        .otherwise(NULLV())
    )


def t_cast_double(a: Column) -> Column:
    """DOUBLE cast: numerics widen; strings/other parse f64."""
    return (
        F.when(a.isNull(), NULLV())
        .when(vt(a) == T_DOUBLE, a)
        .when(vt(a) == T_FLOAT, wrap_double(vd(a)))
        .when(vt(a) == T_INT, wrap_double(vi(a).cast("double")))
        .when(
            vt(a) == T_ULONG,
            wrap_double((vi(a).cast("decimal(38,0)") + F.lit(str(1 << 64)).cast("decimal(38,0)")).cast("double")),
        )
        .when(vt(a).isin(T_STRING, T_OTHER), wrap_double(F.trim(_lex_str_other(a)).try_cast("double")))
        .otherwise(NULLV())
    )


def t_cast_float(a: Column) -> Column:
    return (
        F.when(a.isNull(), NULLV())
        .when(vt(a) == T_FLOAT, a)
        .when(vt(a) == T_DOUBLE, wrap_float(vd(a)))
        .when(vt(a) == T_INT, wrap_float(vi(a).cast("double")))
        .when(
            vt(a) == T_ULONG,
            wrap_float((vi(a).cast("decimal(38,0)") + F.lit(str(1 << 64)).cast("decimal(38,0)")).cast("double")),
        )
        .when(vt(a).isin(T_STRING, T_OTHER), wrap_float(F.trim(_lex_str_other(a)).try_cast("double")))
        .otherwise(NULLV())
    )


def t_cast_iri(a: Column) -> Column:
    """IRI cast (casting.rs CastingIntoIri): plain strings and IRIs only."""
    return (
        F.when(a.isNull(), NULLV())
        .when(vt(a) == T_IRI, a)
        .when(vt(a) == T_STRING, wrap_iri(vs(a)))
        .otherwise(NULLV())
    )
