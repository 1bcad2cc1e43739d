"""Property-based tests (hypothesis) for the typed value model.

The struct encoding (t, i, d, s) carries three load-bearing invariants the
whole engine leans on (joins, #min/#max, dedup, export parity):

1. equality of Values == equality of nemo data values (injective encoding),
2. tuple ordering of ``as_row()`` == nemo's cross-domain total order
   (``datavalue.rs:163-221`` relative_domain_position, numeric within-domain),
3. DSV 'anything' serialization round-trips (``dsv/value_format.rs``).
"""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from nemo_spark.model.values import (
    I64_MAX,
    I64_MIN,
    T_DOUBLE,
    T_FLOAT,
    T_MAP,
    T_TUPLE,
    U64_MAX,
    XSD,
    Value,
    f32_round,
    parse_dsv_any,
    rust_f32_str,
    rust_f64_str,
)

_ints = st.integers(min_value=I64_MIN, max_value=I64_MAX).map(Value.int)
# -0.0 excluded: the REFERENCE's float values derive PartialEq on the raw
# f64 (float_datavalues.rs:95 — so 0.0 == -0.0, IEEE) while canonical_string
# renders "-0" vs "0" — nemo's own canonical form is non-injective exactly
# at signed zero, and we reproduce that behavior bit-for-bit.
_doubles = (
    st.floats(allow_nan=False, allow_infinity=False, width=64)
    .map(lambda d: 0.0 if d == 0.0 else d)
    .map(Value.double)
)
_floats = (
    st.floats(allow_nan=False, allow_infinity=False, width=32)
    .map(lambda d: 0.0 if d == 0.0 else d)
    .map(Value.float32)
)
_strings = st.text(max_size=40).map(Value.string)
# IRIs: the DSV 'anything' heuristic treats any token without '>'/' '/newline
# as an IRI (token.rs:406), so generated IRIs stay in that shape
_iri_alpha = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters=":/#._-"),
    min_size=1,
    max_size=40,
)
_iris = _iri_alpha.map(Value.iri)
_langs = st.tuples(
    st.text(max_size=20), st.sampled_from(["en", "de", "pt-br"])
).map(lambda t: Value.lang_string(*t))
_bools = st.booleans().map(Value.boolean)
_nulls = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")), min_size=1, max_size=12
).map(Value.null)

_values = st.one_of(_ints, _doubles, _floats, _strings, _iris, _langs, _bools, _nulls)

# Round-trip subset: DSV 'anything' is lexically ambiguous BY DESIGN, in the
# reference too (value_format.rs:176-216): a bare IRI '0' reimports as the
# integer 0, quoted strings are not unescaped on parse (value_format.rs:
# 197-203 takes the raw slice), and labeled nulls reimport under fresh
# labels. The round-trip law therefore holds exactly on the unambiguous
# subset: no escapes in strings, IRIs starting with a letter.
# \x00 additionally excluded: LANG/OTHER payloads use NUL as the in-band
# separator inside ``s`` (values.py SEP), so a lang-text containing NUL is
# outside the encoding's domain (plain strings carry NUL fine)
_plain_text = st.text(max_size=40).filter(lambda s: not any(c in s for c in '"\\\n\r\x00'))
_rt_strings = _plain_text.map(Value.string)
_rt_langs = st.tuples(_plain_text, st.sampled_from(["en", "de", "pt-br"])).map(
    lambda t: Value.lang_string(*t)
)
_rt_iris = _iri_alpha.filter(lambda s: s[0].isalpha()).map(Value.iri)
# floats excluded: the reference's new_from_typed_literal has NO xsd:float
# branch (any_datavalue.rs:202-250), so "1.5"^^<xsd:float> reimports as
# Other — in nemo too, f32 values don't survive a DSV round trip
_roundtrip_values = st.one_of(_ints, _doubles, _rt_strings, _rt_iris, _rt_langs, _bools)


@settings(max_examples=300, deadline=None)
@given(_values, _values)
def test_equality_iff_canonical_equal(a: Value, b: Value):
    """The encoding is injective: two values are equal exactly when their
    canonical serializations are equal (nemo: canonical_string is unique)."""
    assert (a == b) == (a.canonical() == b.canonical())


@settings(max_examples=300, deadline=None)
@given(_values, _values, _values)
def test_struct_order_is_total_and_transitive(a: Value, b: Value, c: Value):
    ra, rb, rc = a.as_row(), b.as_row(), c.as_row()
    # totality: exactly one of <, ==, > (Python tuple order gives this for
    # identically-typed fields; the encoding guarantees the fields compare)
    assert (ra < rb) + (ra == rb) + (ra > rb) == 1
    if ra < rb and rb < rc:
        assert ra < rc


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=I64_MIN, max_value=I64_MAX),
    st.integers(min_value=I64_MIN, max_value=I64_MAX),
)
def test_int_order_matches_numeric(x: int, y: int):
    """Within the integer domain, struct order == numeric order (nemo keeps
    the natural number order inside the i64 block)."""
    assert (Value.int(x).as_row() < Value.int(y).as_row()) == (x < y)


@settings(max_examples=300, deadline=None)
@given(_values)
def test_domain_rank_governs_cross_domain_order(v: Value):
    """Cross-domain: nulls(10) < IRIs(13) < strings(20..) < booleans(30) <
    floats(50..) < integers(100..) — SPARQL-compatible domain order."""
    null = Value.null("n")
    iri = Value.iri("x")
    assert null.as_row() < iri.as_row()
    if v.t > iri.t:
        assert iri.as_row() < v.as_row()


@settings(max_examples=300, deadline=None)
@given(_roundtrip_values)
def test_dsv_any_round_trips(v: Value):
    """serialize -> parse is the identity for every DSV-expressible domain
    (the blackbox export/import parity in property form)."""
    assert parse_dsv_any(v.dsv_any()) == v


@settings(max_examples=300, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_rust_f64_str_round_trips(d: float):
    """The Rust-Display-style double formatter picks digits that round-trip."""
    assert float(rust_f64_str(d)) == d


@settings(max_examples=300, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=32))
def test_rust_f32_str_round_trips(d: float):
    assert f32_round(float(rust_f32_str(d))) == f32_round(d)


@settings(max_examples=200, deadline=None)
@given(st.lists(_values, max_size=4), st.lists(st.tuples(_values, _values), max_size=4))
def test_tuple_map_encoding_injective(elems, pairs):
    """Tuples/maps: same elements <=> equal values; maps ignore pair order."""
    t1 = Value.tuple_of(elems)
    t2 = Value.tuple_of(list(elems))
    assert t1 == t2
    m1 = Value.map_of(pairs)
    m2 = Value.map_of(list(reversed(pairs)))
    # reversed insert order only differs when duplicate keys pick different
    # values (last-wins); without duplicate keys the maps must be equal
    keys = [k.as_row() for k, _ in pairs]
    if len(set(keys)) == len(keys):
        assert m1 == m2


# --------------------------------------------- nemo total order (order_key)

_scalar_values = _values
_structured_values = st.recursive(
    _scalar_values,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3).map(Value.tuple_of),
        st.lists(st.tuples(inner, inner), max_size=3).map(Value.map_of),
        st.tuples(st.lists(inner, max_size=2), _iris).map(
            lambda t: Value.tuple_of(t[0], label=t[1])
        ),
    ),
    max_leaves=6,
)


@given(st.lists(_structured_values, min_size=1, max_size=8))
@settings(deadline=None, max_examples=200)
def test_sort_key_bytes_realizes_order_key(vals):
    """The byte encoding is order-isomorphic to the Python comparator —
    the invariant the distributed min_by/max_by aggregation rests on."""
    a = sorted(vals, key=lambda v: v.order_key())
    b = sorted(vals, key=lambda v: v.sort_key_bytes())
    assert [v.as_row() for v in a] == [v.as_row() for v in b]


@given(_scalar_values, _scalar_values)
@settings(deadline=None, max_examples=300)
def test_order_key_matches_struct_order_on_scalars(a, b):
    """For non-structured domains order_key agrees with the raw struct
    (as_row) order — the ordering every pre-round-4 result was computed
    under; only tuples/maps order differently (element-wise)."""
    assert (a.order_key() < b.order_key()) == (a.as_row() < b.as_row())


@given(st.lists(st.lists(_scalar_values, max_size=3).map(Value.tuple_of), min_size=2, max_size=6))
@settings(deadline=None, max_examples=200)
def test_tuple_order_is_elementwise(tuples):
    """min/max over tuples follow nemo's derived slice Ord (label, then
    element-wise AnyDataValue order), not canonical-string order."""

    def ref_key(v):
        label, elems = v.structured_parts()
        lk = (0, "") if label is None else (1, label.s)
        return (lk, tuple(e.order_key() for e in elems))

    got = min(tuples, key=lambda v: v.order_key())
    want = min(tuples, key=ref_key)
    assert got.order_key() == want.order_key()


# ------------------------------- Catalyst #min/#max key (_order_key_col)

_key_text = st.text(alphabet=st.sampled_from("a\x00zé中") | st.characters(), max_size=6)
_key_atomic = st.one_of(
    st.sampled_from([I64_MIN, I64_MIN + 1, -1, 0, 1, I64_MAX]).map(Value.int),
    st.integers(min_value=I64_MIN, max_value=I64_MAX).map(Value.int),
    st.integers(min_value=I64_MAX + 1, max_value=U64_MAX).map(Value.int),  # ULONG
    # raw payloads: -0.0, infinities and NaN, which the constructors reject
    st.floats(width=64).map(lambda d: Value(T_DOUBLE, d=d)),
    st.floats(width=32).map(lambda d: Value(T_FLOAT, d=d)),
    st.booleans().map(Value.boolean),
    _key_text.map(Value.string),
    _key_text.map(Value.iri),
    _key_text.map(Value.null),
    st.tuples(_key_text, st.sampled_from(["en", "de", "pt-br", "x\x00y"])).map(
        lambda t: Value.lang_string(*t)
    ),
    st.tuples(_key_text, st.sampled_from([XSD + "date", "http://ex/dt", ""])).map(
        lambda t: Value.other(*t)
    ),
)
_key_values = st.one_of(
    _key_atomic,
    st.lists(_key_atomic, max_size=2).map(Value.tuple_of),
    st.lists(st.tuples(_key_atomic, _key_atomic), max_size=2).map(Value.map_of),
)
_KEY_EDGES = [
    Value.int(I64_MIN), Value.int(I64_MAX), Value.int(I64_MAX + 1), Value.int(U64_MAX),
    Value(T_DOUBLE, d=-0.0), Value(T_DOUBLE, d=0.0), Value(T_DOUBLE, d=math.inf),
    Value(T_DOUBLE, d=-math.inf), Value(T_DOUBLE, d=math.nan), Value(T_FLOAT, d=-0.0),
    Value(T_FLOAT, d=math.nan), Value.boolean(False), Value.boolean(True),
    Value.string(""), Value.string("\x00"), Value.string("a\x00b"), Value.string("a"),
    Value.iri("ü"), Value.null("a"), Value.lang_string("a\x00b", "en"),
    Value.lang_string("a", "en"), Value.other("a", "http://ex/dt"),
    Value.tuple_of([Value.int(1)]), Value.map_of([(Value.int(1), Value.string("x"))]),
]


@given(st.lists(_key_values, min_size=2, max_size=10))
@example(_KEY_EDGES)
@settings(deadline=None, max_examples=30)
def test_order_key_col_orders_like_sort_key_bytes(spark, vals):
    """The Catalyst #min/#max key compares every pair of values exactly as
    their ``sort_key_bytes`` do (both orders and ties, evaluated by Spark),
    and the fallback predicate flags precisely the values it cannot order:
    tuples, maps and NaN floats."""
    from pyspark.sql import functions as F

    from nemo_spark.engine.seminaive import _needs_byte_key, _order_key_col
    from nemo_spark.sources.dsv_typed import typed_rows_df

    df = typed_rows_df(spark, [(Value.int(n), v) for n, v in enumerate(vals)], 2)
    a, b = F.col("a.c1"), F.col("b.c1")
    got = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.c0.i").alias("x"),
        F.col("b.c0.i").alias("y"),
        (_order_key_col(a) < _order_key_col(b)).alias("lt"),
        (_order_key_col(b) < _order_key_col(a)).alias("gt"),
        _needs_byte_key(a).alias("flag"),
    ).collect()
    assert len(got) == len(vals) ** 2
    for r in got:
        va, vb = vals[r.x], vals[r.y]
        flagged = va.t in (T_TUPLE, T_MAP) or (va.t in (T_FLOAT, T_DOUBLE) and math.isnan(va.d))
        assert r.flag == flagged, va
        if flagged or vb.t in (T_TUPLE, T_MAP) or (vb.t in (T_FLOAT, T_DOUBLE) and math.isnan(vb.d)):
            continue
        ka, kb = va.sort_key_bytes(), vb.sort_key_bytes()
        assert (r.lt, r.gt) == (ka < kb, kb < ka), (va, vb)
