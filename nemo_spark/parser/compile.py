"""Translate a parsed ``.rls`` AST into an executable engine Program.

Mirrors the reference's AST -> rule-model translation + normalization
(``nemo/src/rule_model/translation.rs:38``,
``nemo/src/execution/planning/normalization/{program,rule}.rs``):

- prefixed names / bare constants resolve to IRIs against @prefix/@base
- global $parameters are substituted as constants (driver-side evaluation,
  like the reference's global-parameter transformation)
- nested term expressions are flattened into assignment operations
  (normalize.rs): a head term ``?a + ?b`` becomes a fresh assignment variable
- ``?V = expr`` body items become assignments when ?V is not yet bound, and
  equality filters otherwise
- aggregates over expressions get an assignment for the aggregated expression;
  remaining aggregate arguments are the DISTINCT variables
- wildcards become fresh, per-occurrence variables

All runtime expressions compile to Catalyst Columns over typed value structs
(:mod:`nemo_spark.functions.typed`); ground expressions (facts, parameters)
are evaluated driver-side on :class:`nemo_spark.model.values.Value`.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from pyspark.sql import Column

from nemo_spark.functions import typed as T
from nemo_spark.model.rules import Aggregate, Atom, EVar, Program, Rule, Var
from nemo_spark.model.values import (
    T_BOOLEAN,
    Value,
    ValueError_,
    XSD,
    f32_round,
    from_typed_literal,
)
from nemo_spark.parser.rls import (
    AtomAST,
    ProgramAST,
    RuleAST,
    TAgg,
    TCall,
    TEVar,
    TFString,
    TIri,
    TMap,
    TName,
    TNum,
    TParam,
    TPName,
    TString,
    TTuple,
    TVar,
    TWildcard,
)

WELL_KNOWN_PREFIXES = {
    "xsd": XSD,
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
}


@dataclass
class CompiledProgram:
    program: Program
    imports: list  # ImportAST with resolved predicate names
    exports: list  # ExportAST
    outputs: list[str]
    prefixes: dict
    base: str | None
    # inline facts as typed Value rows per resolved predicate
    fact_rows: dict = field(default_factory=dict)
    # nullary (0-arity) predicates, physically stored with one unit column
    # (reference: tabular/operations/zero.rs) — strip the column on export
    nullary: set = field(default_factory=set)
    # evaluated @parameter values (import options may reference them)
    params: dict = field(default_factory=dict)


class CompileError(ValueError):
    pass


class UndefinedParameter(CompileError):
    """A ``$param`` reference with no definition (in-program or external).

    Distinct class so the parameter-resolution fixpoint can retry only
    not-yet-defined lookups without masking genuine compile errors."""


# ------------------------------------------------------------ name resolving


class Resolver:
    def __init__(self, prefixes: dict, base: str | None) -> None:
        self.prefixes = dict(WELL_KNOWN_PREFIXES)
        self.prefixes.update(prefixes)
        self.base = base

    def pname(self, prefix: str, local: str) -> str:
        if prefix not in self.prefixes:
            raise CompileError(f"unknown prefix {prefix!r}")
        return self.prefixes[prefix] + local

    def bare(self, name: str) -> str:
        """Bare name constant / predicate: relative IRI against @base."""
        if self.base:
            return self.base + name
        return name

    def pred(self, name: str) -> str:
        if name.startswith("<") and name.endswith(">"):
            # bracketed IRI predicate (the parser preserves the brackets):
            # never prefix-resolved — <ex:local> IS the absolute IRI
            # ex:local even when @prefix ex: is declared; scheme-less
            # (relative) IRIs resolve against @base
            inner = name[1:-1]
            if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", inner):
                return inner
            return self.bare(inner)
        if ":" in name and not name.startswith(("http:", "https:")):
            p, _, l = name.partition(":")
            if p in self.prefixes:
                return self.prefixes[p] + l
            if re.match(r"^[A-Za-z][\w.-]*$", p):
                # pname-shaped predicate with an UNDECLARED prefix: raise
                # like term-position pnames do (the silent fallthrough wrote
                # to a literal 'exx:p' predicate and outputs vanished)
                raise CompileError(f"unknown prefix {p!r} in predicate {name!r}")
        if re.match(r"^[A-Za-z][A-Za-z0-9_%]*$", name):
            return self.bare(name)
        return name


# -------------------------------------------------------- ground evaluation

_GROUND_FNS = {}


def _ground(name):
    def deco(fn):
        _GROUND_FNS[name] = fn
        return fn
    return deco


def _gv_num(v: Value):
    from nemo_spark.model.values import T_DOUBLE, T_FLOAT, T_INT

    if v.t == T_INT:
        return ("i", v.i)
    if v.t == T_DOUBLE:
        return ("d", v.d)
    if v.t == T_FLOAT:
        return ("f", v.d)
    raise ValueError_("not numeric")


def _gv_arith(a: Value, b: Value, int_fn, dbl_fn) -> Value:
    ka, va = _gv_num(a)
    kb, vb = _gv_num(b)
    if ka == kb == "i":
        r = int_fn(va, vb)
        return Value.int(_check_i64(r))
    if ka == kb == "f":
        return Value.float32(_gv_dbl(dbl_fn, va, vb))
    return Value.double(_gv_dbl(dbl_fn, float(va), float(vb)))


def _gv_dbl(dbl_fn, *args) -> float:
    """Evaluate a float branch under error-is-no-result semantics: legal
    inputs can raise built-in exceptions the fact loop does not catch
    (POW(0.0,-1.0) -> ZeroDivisionError, POW(1e300,2.0) -> OverflowError,
    LOG(-1.0,2.0)/REM(1.0,0.0) -> bare ValueError from math) or return a
    complex (POW(-2.0,0.5)) that Value.double would TypeError on. All map
    to ValueError_ so the value is simply "no result", like the reference.
    A TypeError is a bug in the branch, not a domain error: it propagates."""
    try:
        r = dbl_fn(*args)
    except (ValueError, ZeroDivisionError, OverflowError) as e:
        raise ValueError_(f"float evaluation error: {e}") from None
    if isinstance(r, complex):
        raise ValueError_("complex result")
    return r


def _check_i64(r: int) -> int:
    if not (-(1 << 63) <= r < (1 << 63)):
        raise ValueError_("i64 overflow")
    return r


@_ground("SUM")
def _g_sum(a, b):
    return _gv_arith(a, b, lambda x, y: x + y, lambda x, y: x + y)


@_ground("SUBTRACTION")
def _g_sub(a, b):
    return _gv_arith(a, b, lambda x, y: x - y, lambda x, y: x - y)


@_ground("PRODUCT")
def _g_mul(a, b):
    return _gv_arith(a, b, lambda x, y: x * y, lambda x, y: x * y)


@_ground("DIVISION")
def _g_div(a, b):
    def idiv(x, y):
        if y == 0:
            raise ValueError_("div by zero")
        q = abs(x) // abs(y)
        return q if (x >= 0) == (y >= 0) else -q

    def ddiv(x, y):
        return x / y

    return _gv_arith(a, b, idiv, ddiv)


@_ground("INVERTSIGN")
def _g_neg(a):
    from nemo_spark.model.values import T_DOUBLE, T_FLOAT, T_INT

    if a.t == T_INT:
        return Value.int(_check_i64(-a.i))
    if a.t == T_DOUBLE:
        return Value.double(-a.d)
    if a.t == T_FLOAT:
        return Value.float32(-a.d)
    raise ValueError_("not numeric")


@_ground("CONCAT")
def _g_concat(*vals):
    from nemo_spark.model.values import T_STRING

    if any(v.t != T_STRING for v in vals):
        raise ValueError_("CONCAT needs strings")
    return Value.string("".join(v.s for v in vals))


@_ground("STR")
def _g_str(a):
    return Value.string(a.lexical())


@_ground("EQUALITY")
def _g_eq(a, b):
    return Value.boolean(a == b)


@_ground("UNEQUALITY")
def _g_neq(a, b):
    return Value.boolean(a != b)


def _g_numcmp(a, b, op):
    ka, va = _gv_num(a)
    kb, vb = _gv_num(b)
    if ka == kb == "i":
        return Value.boolean(op(va, vb))
    return Value.boolean(op(float(va), float(vb)))


@_ground("NUMLESS")
def _g_lt(a, b):
    return _g_numcmp(a, b, lambda x, y: x < y)


@_ground("NUMLESSEQ")
def _g_le(a, b):
    return _g_numcmp(a, b, lambda x, y: x <= y)


@_ground("NUMGREATER")
def _g_gt(a, b):
    return _g_numcmp(a, b, lambda x, y: x > y)


@_ground("NUMGREATEREQ")
def _g_ge(a, b):
    return _g_numcmp(a, b, lambda x, y: x >= y)


# ---- round-6 widening: the reference evaluates EVERY operation over ground
# terms (facts like p(SQRT(16)).); these mirror the Catalyst layer's
# semantics (functions/typed.py), with Python integers making the checked
# i64 arithmetic exact.


def _gv_arith1(a: Value, int_fn, dbl_fn) -> Value:
    k, v = _gv_num(a)
    if k == "i":
        return Value.int(_check_i64(int_fn(v)))
    if k == "f":
        return Value.float32(_gv_dbl(dbl_fn, v))
    return Value.double(_gv_dbl(dbl_fn, float(v)))


def _gv_str(v: Value) -> str:
    from nemo_spark.model.values import T_STRING

    if v.t != T_STRING:
        raise ValueError_("not a plain string")
    return v.s


def _gv_bool(v: Value) -> bool:
    from nemo_spark.model.values import T_BOOLEAN

    if v.t != T_BOOLEAN:
        raise ValueError_("not a boolean")
    return bool(v.i)


def _gv_int(v: Value) -> int:
    from nemo_spark.model.values import T_INT

    if v.t != T_INT:
        raise ValueError_("not an integer")
    return v.i


@_ground("ABS")
def _g_abs(a):
    return _gv_arith1(a, abs, abs)


@_ground("REM")
def _g_rem(a, b):
    import math

    # Rust % truncates toward zero: sign follows the DIVIDEND; /0 and
    # i64::MIN % -1 are checked_rem errors
    def irem(x, y):
        if y == 0 or (x == -(1 << 63) and y == -1):
            raise ValueError_("rem overflow")
        q = abs(x) // abs(y)
        q = q if (x >= 0) == (y >= 0) else -q
        return x - q * y

    return _gv_arith(a, b, irem, math.fmod)


@_ground("POW")
def _g_pow(a, b):
    def ipow(x, y):
        if y < 0:
            raise ValueError_("negative exponent")  # checked_pow domain
        return x**y  # exact; _gv_arith's _check_i64 rejects overflow

    return _gv_arith(a, b, ipow, lambda x, y: x**y)


@_ground("LOG")
def _g_log(a, b):
    import math

    def ilog(x, y):
        if x <= 0 or y < 2:
            raise ValueError_("ilog domain")  # integer64.rs:84
        r, p = 0, 1
        while p * y <= x:
            p *= y
            r += 1
        return r

    return _gv_arith(a, b, ilog, lambda x, y: math.log(x) / math.log(y))


@_ground("SQRT")
def _g_sqrt(a):
    import math

    def isqrt_(x):
        if x < 0:
            raise ValueError_("sqrt of negative")
        return math.isqrt(x)

    def fsqrt(x):
        if x < 0:
            raise ValueError_("sqrt of negative")
        return math.sqrt(x)

    return _gv_arith1(a, isqrt_, fsqrt)


@_ground("MAX")
def _g_max(a, b):
    return _gv_arith(a, b, max, max)


@_ground("MIN")
def _g_min(a, b):
    return _gv_arith(a, b, min, min)


@_ground("LUKA")
def _g_luka(a, b):
    return _gv_arith(
        a, b, lambda x, y: max(0, x + y - 1), lambda x, y: max(0.0, x + y - 1.0)
    )


def _round_half_away(x: float) -> float:
    import math

    return float(math.floor(x + 0.5)) if x >= 0 else float(math.ceil(x - 0.5))


@_ground("ROUND")
def _g_round(a):
    return _gv_arith1(a, lambda x: x, _round_half_away)


@_ground("CEIL")
def _g_ceil(a):
    import math

    return _gv_arith1(a, lambda x: x, lambda x: float(math.ceil(x)))


@_ground("FLOOR")
def _g_floor(a):
    import math

    return _gv_arith1(a, lambda x: x, lambda x: float(math.floor(x)))


@_ground("SIN")
def _g_sin(a):
    import math

    return _gv_arith1(a, lambda x: _non_int("SIN"), math.sin)


@_ground("COS")
def _g_cos(a):
    import math

    return _gv_arith1(a, lambda x: _non_int("COS"), math.cos)


@_ground("TAN")
def _g_tan(a):
    import math

    return _gv_arith1(a, lambda x: _non_int("TAN"), math.tan)


def _non_int(name: str):
    raise ValueError_(f"{name} is not defined on integers")


@_ground("BITAND")
def _g_bitand(a, b):
    return Value.int(_gv_int(a) & _gv_int(b))


@_ground("BITOR")
def _g_bitor(a, b):
    return Value.int(_gv_int(a) | _gv_int(b))


@_ground("BITXOR")
def _g_bitxor(a, b):
    return Value.int(_gv_int(a) ^ _gv_int(b))


@_ground("NOT")
def _g_not(a):
    return Value.boolean(not _gv_bool(a))


@_ground("AND")
def _g_and(*vals):
    bs = [_gv_bool(v) for v in vals]  # every operand checked (t_and parity)
    return Value.boolean(all(bs))


@_ground("OR")
def _g_or(*vals):
    bs = [_gv_bool(v) for v in vals]
    return Value.boolean(any(bs))


@_ground("STRLEN")
def _g_strlen(a):
    return Value.int(len(_gv_str(a)))


@_ground("STRREV")
def _g_strrev(a):
    return Value.string(_gv_str(a)[::-1])


@_ground("UCASE")
def _g_ucase(a):
    return Value.string(_gv_str(a).upper())


@_ground("LCASE")
def _g_lcase(a):
    return Value.string(_gv_str(a).lower())


@_ground("CONTAINS")
def _g_contains(a, b):
    return Value.boolean(_gv_str(b) in _gv_str(a))


@_ground("STRSTARTS")
def _g_strstarts(a, b):
    return Value.boolean(_gv_str(a).startswith(_gv_str(b)))


@_ground("STRENDS")
def _g_strends(a, b):
    return Value.boolean(_gv_str(a).endswith(_gv_str(b)))


@_ground("STRBEFORE")
def _g_strbefore(a, b):
    s, sep = _gv_str(a), _gv_str(b)
    i = s.find(sep)
    return Value.string(s[:i] if i >= 0 else "")


@_ground("STRAFTER")
def _g_strafter(a, b):
    s, sep = _gv_str(a), _gv_str(b)
    i = s.find(sep)
    return Value.string(s[i + len(sep):] if i >= 0 else "")


@_ground("SUBSTR")
def _g_substr(a, start, length=None):
    # string.rs:423 / :700-718 semantics, same as functions/typed.t_substring:
    # non-positive start clamps to 1; 3-arg end uses the PRE-clamp start
    s = _gv_str(a)
    st = _gv_int(start)
    st1 = max(st, 1)
    if length is None:
        return Value.string(s[st1 - 1:])
    ln = _gv_int(length)
    if ln < 1:
        return Value.string("")
    end = st + ln
    if end < 0:
        raise ValueError_("substring end underflow")
    return Value.string(s[st1 - 1 : max(end - 1, st1 - 1)])


@_ground("URIENCODE")
def _g_uriencode(a):
    from urllib.parse import quote

    # RFC 3986 unreserved set, urlencoding::encode parity
    return Value.string(quote(_gv_str(a), safe="-_.~"))


@_ground("URIDECODE")
def _g_uridecode(a):
    from urllib.parse import unquote

    return Value.string(unquote(_gv_str(a)))


@_ground("STRLANG")
def _g_strlang(a, tag):
    return Value.lang_string(_gv_str(a), _gv_str(tag))


@_ground("LANG")
def _g_lang(a):
    from nemo_spark.model.values import T_LANG

    if a.t != T_LANG:
        raise ValueError_("LANG needs a language-tagged string")
    return Value.string(a.lang_pair()[1])


@_ground("DATATYPE")
def _g_datatype(a):
    dt = a.datatype_iri()
    if dt is None:
        raise ValueError_("value has no datatype")  # nulls: eval error
    return Value.iri(dt)


@_ground("isInteger")
def _g_is_integer(a):
    from nemo_spark.model.values import T_INT, T_ULONG

    return Value.boolean(a.t in (T_INT, T_ULONG))


@_ground("isFloat")
def _g_is_float(a):
    from nemo_spark.model.values import T_FLOAT

    return Value.boolean(a.t == T_FLOAT)


@_ground("isDouble")
def _g_is_double(a):
    from nemo_spark.model.values import T_DOUBLE

    return Value.boolean(a.t == T_DOUBLE)


@_ground("isIri")
def _g_is_iri(a):
    from nemo_spark.model.values import T_IRI

    return Value.boolean(a.t == T_IRI)


@_ground("isNumeric")
def _g_is_numeric(a):
    from nemo_spark.model.values import T_DOUBLE, T_FLOAT, T_INT, T_ULONG

    return Value.boolean(a.t in (T_INT, T_ULONG, T_DOUBLE, T_FLOAT))


@_ground("isNull")
def _g_is_null(a):
    from nemo_spark.model.values import T_NULL

    return Value.boolean(a.t == T_NULL)


@_ground("isString")
def _g_is_string(a):
    from nemo_spark.model.values import T_STRING

    return Value.boolean(a.t == T_STRING)


class GroundEval:
    """Driver-side evaluation of ground expressions (facts, parameters)."""

    def __init__(self, resolver: Resolver, params: dict) -> None:
        self.resolver = resolver
        self.params = params

    def eval(self, node) -> Value:
        if isinstance(node, TNum):
            return _num_value(node)
        if isinstance(node, TString):
            return _string_value(node, self.resolver)
        if isinstance(node, TIri):
            return Value.iri(node.iri)
        if isinstance(node, TPName):
            return Value.iri(self.resolver.pname(node.prefix, node.local))
        if isinstance(node, TName):
            if node.name == "true":
                return Value.boolean(True)
            if node.name == "false":
                return Value.boolean(False)
            return Value.iri(self.resolver.bare(node.name))
        if isinstance(node, TParam):
            if node.name not in self.params:
                raise UndefinedParameter(f"undefined parameter ${node.name}")
            return self.params[node.name]
        if isinstance(node, TFString):
            out = []
            for p in node.parts:
                out.append(p if isinstance(p, str) else self.eval(p).lexical())
            return Value.string("".join(out))
        if isinstance(node, TCall):
            fn = _GROUND_FNS.get(node.fn)
            if fn is None:
                raise CompileError(f"ground evaluation of {node.fn} not supported")
            return fn(*[self.eval(a) for a in node.args])
        if isinstance(node, TTuple):
            # ground tuple / function term -> TupleDataValue (ground.rs:118-127)
            return Value.tuple_of(
                [self.eval(e) for e in node.elems],
                label=self._label_iri(node.label),
            )
        if isinstance(node, TMap):
            return Value.map_of(
                [(self.eval(k), self.eval(v)) for k, v in node.pairs],
                label=self._label_iri(node.label),
            )
        raise CompileError(f"not a ground term: {node!r}")

    def _label_iri(self, node) -> Value | None:
        """Tuple/map label tag -> IRI value (nemo Tag -> IriDataValue)."""
        if node is None:
            return None
        if isinstance(node, TIri):
            return Value.iri(node.iri)
        if isinstance(node, TPName):
            return Value.iri(self.resolver.pname(node.prefix, node.local))
        if isinstance(node, TName):
            return Value.iri(self.resolver.bare(node.name))
        raise CompileError(f"invalid tuple/map label: {node!r}")


def _num_value(node: TNum) -> Value:
    if node.radix != 10:
        neg = node.text.startswith("-")
        n = int(node.text, node.radix)
        if -(1 << 63) <= n < (1 << 63):
            return Value.int(n)
        # beyond i64: the reference keeps the decimal digits as an Other
        # value with the LITERAL datatype string "xsd:integer" (not expanded;
        # translation/basic/enc_number.rs:27)
        return Value.other(str(n), "xsd:integer")
    text = node.text
    if node.marker == "f":
        return Value.float32(float(text))
    if node.marker == "d":
        return Value.double(float(text))
    # Number::value (number.rs:119): i64 first, then double, then float
    is_plain_int = "." not in text and "e" not in text and "E" not in text
    if is_plain_int:
        n = int(text)
        if -(1 << 63) <= n < (1 << 63):
            return Value.int(n)
        return Value.other(text.lstrip("+"), "xsd:integer")
    try:
        return Value.double(float(text))
    except (ValueError, OverflowError):
        pass
    return Value.other(text, "xsd:decimal")


def _string_value(node: TString, resolver: Resolver) -> Value:
    if node.lang:
        return Value.lang_string(node.text, node.lang)
    if node.datatype:
        if node.datatype[0] == "iri":
            dt = node.datatype[1]
        else:
            dt = resolver.pname(node.datatype[1], node.datatype[2])
        return from_typed_literal(node.text, dt)
    return Value.string(node.text)


# ------------------------------------------------------ expression compiler

def _fold2(f):
    """nemo's arithmetic/boolean/min-max builtins are n-ary
    (operation_kind.rs Nary variants): fold left over the binary typed op.
    Arguments are already flattened column refs, so nesting depth stays the
    argument count (small)."""
    from functools import reduce

    return lambda *args: reduce(f, args)


# typed.py implementations per canonical builtin name
_FN_IMPL = {
    "EQUALITY": T.t_equal,
    "UNEQUALITY": T.t_unequal,
    "NUMGREATER": T.t_gt,
    "NUMGREATEREQ": T.t_ge,
    "NUMLESS": T.t_lt,
    "NUMLESSEQ": T.t_le,
    "SUM": _fold2(T.t_sum),
    "SUBTRACTION": _fold2(T.t_subtraction),
    "PRODUCT": _fold2(T.t_product),
    "DIVISION": _fold2(T.t_division),
    "REM": T.t_remainder,
    "POW": T.t_power,
    "LOG": T.t_logarithm,
    "MIN": _fold2(T.t_minimum),
    "MAX": _fold2(T.t_maximum),
    "LUKA": _fold2(T.t_lukasiewicz),
    "ABS": T.t_absolute,
    "INVERTSIGN": T.t_negation,
    "SQRT": T.t_squareroot,
    "SIN": T.t_sin,
    "COS": T.t_cos,
    "TAN": T.t_tan,
    "CEIL": T.t_ceil,
    "FLOOR": T.t_floor,
    "ROUND": T.t_round,
    "BITAND": _fold2(T.t_bit_and),
    "BITOR": _fold2(T.t_bit_or),
    "BITXOR": _fold2(T.t_bit_xor),
    "BITSHL": T.t_bit_shl,
    "BITSHR": T.t_bit_shr,
    "BITSHRU": T.t_bit_shru,
    "AND": _fold2(T.t_and),
    "OR": _fold2(T.t_or),
    "NOT": T.t_not,
    "CONCAT": T.t_concat,
    "CONTAINS": T.t_contains,
    "STRSTARTS": T.t_starts,
    "STRENDS": T.t_ends,
    "STRBEFORE": T.t_strbefore,
    "STRAFTER": T.t_strafter,
    "SUBSTR": T.t_substring,
    "REGEX": T.t_regex,
    "STRLEN": T.t_strlen,
    "STRREV": T.t_reverse,
    "LCASE": T.t_lower,
    "UCASE": T.t_upper,
    "URIENCODE": T.t_uriencode,
    "URIDECODE": T.t_uridecode,
    "LEVENSHTEIN": T.t_levenshtein,
    "COMPARE": T.t_strcompare,
    "STR": T.t_str,
    "fullStr": T.t_fullstr,
    "DATATYPE": T.t_datatype,
    "LANG": T.t_lang,
    "STRLANG": T.t_strlang,
    "INT": T.t_cast_int,
    "DOUBLE": T.t_cast_double,
    "FLOAT": T.t_cast_float,
    "IRI": T.t_cast_iri,
    "isInteger": T.t_is_integer,
    "isFloat": T.t_is_float,
    "isDouble": T.t_is_double,
    "isIri": T.t_is_iri,
    "isNumeric": T.t_is_numeric,
    "isNull": T.t_is_null,
    "isString": T.t_is_string,
}


class ExprCompiler:
    """Compiles term expressions to Catalyst.

    CRITICAL SHAPE NOTE: typed operations (functions/typed.py) reference each
    argument several times (domain dispatch + guards), so NESTED calls inline
    naively would blow up exponentially (a 5-deep arithmetic chain becomes a
    ~10^5-node Catalyst tree — observed as a 25 GB driver plan). Like the
    reference's StackProgram (nemo-physical/src/function/evaluation.rs:72),
    nested expressions are therefore flattened into one temporary column per
    operator node (``compile_steps``); every argument is then a plain column
    reference and expression size stays linear."""

    def __init__(self, ground: GroundEval) -> None:
        self.ground = ground

    def is_ground(self, node) -> bool:
        if isinstance(node, (TVar, TEVar, TWildcard, TAgg)):
            return False
        if isinstance(node, TCall):
            return all(self.is_ground(a) for a in node.args)
        if isinstance(node, TFString):
            return all(isinstance(p, str) or self.is_ground(p) for p in node.parts)
        if isinstance(node, TTuple):
            # non-ground structured terms are invalid programs in the
            # reference (normalization/atom/head.rs:144, body.rs:128)
            if not all(self.is_ground(e) for e in node.elems):
                raise CompileError("atom contains non-ground structured terms (tuple)")
            return True
        if isinstance(node, TMap):
            if not all(self.is_ground(k) and self.is_ground(v) for k, v in node.pairs):
                raise CompileError("atom contains non-ground structured terms (map)")
            return True
        return True

    def variables(self, node) -> set[str]:
        if isinstance(node, TVar):
            return {node.name}
        if isinstance(node, TCall):
            return set().union(*[self.variables(a) for a in node.args]) if node.args else set()
        if isinstance(node, TAgg):
            return set().union(*[self.variables(a) for a in node.args]) if node.args else set()
        if isinstance(node, TFString):
            out: set[str] = set()
            for p in node.parts:
                if not isinstance(p, str):
                    out |= self.variables(p)
            return out
        return set()

    def compile(self, node):
        """-> callable(colmap) -> struct Column.

        Ground CALLS still compile to Catalyst expressions over literals
        (constant-folded by the optimizer) — only leaf constants evaluate
        driver-side, so every builtin needs exactly one implementation."""
        if isinstance(node, TVar):
            name = node.name
            return lambda cols: cols[name]
        if isinstance(node, TCall):
            impl = _FN_IMPL.get(node.fn)
            if impl is None:
                raise CompileError(f"builtin {node.fn} not implemented")
            args = [self.compile(a) for a in node.args]
            return lambda cols: impl(*[a(cols) for a in args])
        if isinstance(node, TFString):
            pieces = []
            for p in node.parts:
                if isinstance(p, str):
                    pieces.append(lambda cols, s=p: T.lit_value(Value.string(s)))
                else:
                    sub = self.compile(p)
                    pieces.append(lambda cols, sub=sub: T.t_str(sub(cols)))
            return lambda cols: T.t_concat(*[p(cols) for p in pieces])
        v = self.ground.eval(node)
        return lambda cols, v=v: T.lit_value(v)

    def compile_steps(self, node, steps: list, fresh) -> "callable":
        """Flattening compiler: appends (tmp_name, fn) assignment steps for
        every nested call and returns a fn for the top node whose arguments
        are only column refs / literals."""
        if isinstance(node, TVar):
            name = node.name
            return lambda cols: cols[name]
        if isinstance(node, TCall):
            impl = _FN_IMPL.get(node.fn)
            if impl is None:
                raise CompileError(f"builtin {node.fn} not implemented")
            arg_fns = []
            for a in node.args:
                if isinstance(a, (TCall, TFString)):
                    sub = self.compile_steps(a, steps, fresh)
                    tmp = fresh("t")
                    steps.append((tmp, sub))
                    arg_fns.append(lambda cols, tmp=tmp: cols[tmp])
                else:
                    arg_fns.append(self.compile_steps(a, steps, fresh))
            return lambda cols: impl(*[f(cols) for f in arg_fns])
        if isinstance(node, TFString):
            part_fns = []
            for p in node.parts:
                if isinstance(p, str):
                    part_fns.append(lambda cols, s=p: T.lit_value(Value.string(s)))
                else:
                    sub = self.compile_steps(p, steps, fresh)
                    tmp = fresh("t")
                    steps.append((tmp, sub))
                    part_fns.append(lambda cols, tmp=tmp: T.t_str(cols[tmp]))
            return lambda cols: T.t_concat(*[f(cols) for f in part_fns])
        v = self.ground.eval(node)
        return lambda cols, v=v: T.lit_value(v)


# ------------------------------------------------------------- rule builder


UNIT = Value.boolean(True)  # physical filler for 0-arity predicates


def _rewrite_nullary(ast: ProgramAST) -> set:
    """Nullary atoms ``p()`` become unary ``p(<unit>)`` (zero.rs parity:
    0-arity tables are propositional truth — 1 row or 0 rows)."""
    from nemo_spark.parser.rls import TName

    nullary: set = set()

    def fix(atom: AtomAST) -> AtomAST:
        if len(atom.terms) == 0:
            nullary.add(atom.pred)
            return AtomAST(atom.pred, (TName("true"),))
        return atom

    ast.facts = [fix(f) for f in ast.facts]
    for r in ast.rules:
        r.heads = [fix(h) for h in r.heads]
        r.body = [(k, fix(i) if k in ("atom", "neg") else i) for k, i in r.body]
    return nullary


def _param_refs(ast: ProgramAST) -> set[str]:
    """Every ``$name`` referenced anywhere in the program (rule terms,
    facts, parameter expressions, import/export options)."""
    refs: set[str] = set()

    def walk(node) -> None:
        if isinstance(node, TParam):
            refs.add(node.name)
        elif isinstance(node, TCall):
            for a in node.args:
                walk(a)
        elif isinstance(node, TAgg):
            for a in node.args:
                walk(a)
        elif isinstance(node, TFString):
            for p in node.parts:
                if not isinstance(p, str):
                    walk(p)
        elif isinstance(node, TTuple):
            for e in node.elems:
                walk(e)
        elif isinstance(node, TMap):
            for k, v in node.pairs:
                walk(k)
                walk(v)
        elif isinstance(node, tuple):
            for e in node:
                walk(e)

    def walk_atom(atom) -> None:
        for t in atom.terms:
            walk(t)

    for _, expr in ast.parameters:
        if expr is not None:
            walk(expr)
    for fatom in ast.facts:
        walk_atom(fatom)
    for rule in ast.rules:
        for h in rule.heads:
            walk_atom(h)
        for kind, item in rule.body:
            if kind in ("atom", "neg"):
                walk_atom(item)
            else:
                walk(item)
    for spec in list(ast.imports) + list(ast.exports):
        for v in spec.options.values():
            walk(v)
        for kind, item in spec.body:
            walk_atom(item) if kind in ("atom", "neg") else walk(item)
        for rule in getattr(spec, "filter_rules", []):
            # rules internalized into the import still reference params
            for h in rule.heads:
                walk_atom(h)
            for kind, item in rule.body:
                walk_atom(item) if kind in ("atom", "neg") else walk(item)
    return refs


def _resolve_parameters(ast: ProgramAST, ground: GroundEval, external: dict) -> None:
    """Evaluate ``@parameter`` declarations into ``ground.params``, with
    externally supplied values taking precedence (the reference's
    TransformationGlobal: externally-ground variables never evaluate their
    in-program default; execution_parameters.rs:53 set_global + programs.rs
    validate_parameters for the error cases)."""
    params = ground.params
    for name, raw in external.items():
        if isinstance(raw, Value):
            params[name] = raw
        else:
            from nemo_spark.parser.rls import parse_term

            try:
                node = parse_term(str(raw))
            except SyntaxError as e:
                raise CompileError(f"invalid value for parameter ${name}: {e}") from e
            params[name] = ground.eval(node)

    declared: set[str] = set()
    pending: list[tuple[str, object]] = []
    for name, expr in ast.parameters:
        if name in declared:
            # ParameterRedefinition (programs.rs:326)
            raise CompileError(f"parameter ${name} declared twice")
        declared.add(name)
        if name in params:
            continue  # external override wins
        if expr is None:
            # ParameterMissingDefinition (programs.rs:333)
            raise CompileError(
                f"parameter ${name} has no expression and was not supplied externally"
            )
        pending.append((name, expr))

    # parameters may reference each other in any order; iterate to fixpoint
    # (TransformationGlobal::subsitution), cyclic/undefined leftovers error
    while pending:
        rest = []
        for name, expr in pending:
            try:
                params[name] = ground.eval(expr)
            except UndefinedParameter:
                rest.append((name, expr))
        if len(rest) == len(pending):
            names = ", ".join("$" + n for n, _ in rest)
            raise CompileError(f"cyclic or undefined parameter definitions: {names}")
        pending = rest

    if external:  # the AST walk is pointless on the common no-params path
        unknown = set(external) - declared - _param_refs(ast)
        if unknown:
            # loud failure: a typoed --param key must not silently no-op
            names = ", ".join("$" + n for n in sorted(unknown))
            raise CompileError(f"unknown external parameter(s): {names}")


def compile_program(ast: ProgramAST, params: dict | None = None) -> CompiledProgram:
    nullary_raw = _rewrite_nullary(ast)
    resolver = Resolver(ast.prefixes, ast.base)
    ground = GroundEval(resolver, {})
    _resolve_parameters(ast, ground, dict(params or {}))
    ec = ExprCompiler(ground)

    fact_rows: dict[str, list[tuple]] = {}
    for fatom in ast.facts:
        pred = resolver.pred(fatom.pred)
        try:
            row = tuple(ground.eval(t) for t in fatom.terms)
        except ValueError_:
            continue  # evaluation error in a fact => fact dropped
        fact_rows.setdefault(pred, []).append(row)

    rules = []
    for ridx, rast in enumerate(ast.rules):
        rules.extend(_compile_rule(rast, ridx, resolver, ec))

    outputs = [resolver.pred(p) for p in ast.outputs]
    imports = []
    for imp in ast.imports:
        imp.pred = resolver.pred(imp.pred)
        imports.append(imp)
    exports = []
    for exp in ast.exports:
        exp.pred = resolver.pred(exp.pred)
        exports.append(exp)

    program = Program(rules=rules, facts={}, outputs=outputs)

    # @declare arity validation (the reference's validate_arity includes
    # declarations in the per-predicate arity consistency check,
    # nemo/src/rule_model/programs.rs:208 via transformations/validate.rs:23)
    declared: dict[str, int] = {}
    nullary_preds = {resolver.pred(p) for p in nullary_raw}
    for pred_raw, types in getattr(ast, "declares", []):
        pred = resolver.pred(pred_raw)
        if len(types) == 0 and pred in nullary_preds:
            # nullary predicates are physically rewritten to one unit column
            # (_rewrite_nullary); a 0-arity declaration matches that use
            continue
        if pred in declared and declared[pred] != len(types):
            raise CompileError(
                f"@declare {pred}: conflicting declared arities "
                f"{declared[pred]} vs {len(types)}"
            )
        declared[pred] = len(types)
    if declared:
        used = program.predicates()
        for pred, arity in declared.items():
            if pred in used and used[pred] != arity:
                raise CompileError(
                    f"@declare {pred}: declared arity {arity} conflicts with "
                    f"use at arity {used[pred]} (validate_arity)"
                )
            for row in fact_rows.get(pred, []):
                if len(row) != arity:
                    raise CompileError(
                        f"@declare {pred}: declared arity {arity} conflicts "
                        f"with fact of arity {len(row)}"
                    )

    return CompiledProgram(
        program=program,
        imports=imports,
        exports=exports,
        outputs=outputs,
        prefixes=resolver.prefixes,
        base=ast.base,
        fact_rows=fact_rows,
        nullary={resolver.pred(p) for p in nullary_raw},
        params=ground.params,
    )


def _contains_agg(node) -> bool:
    if isinstance(node, TAgg):
        return True
    if isinstance(node, TCall):
        return any(_contains_agg(a) for a in node.args)
    if isinstance(node, TFString):
        return any(not isinstance(p, str) and _contains_agg(p) for p in node.parts)
    return False


def _count_aggs(node) -> int:
    if isinstance(node, TAgg):
        return 1
    if isinstance(node, TCall):
        return sum(_count_aggs(a) for a in node.args)
    if isinstance(node, TFString):
        return sum(_count_aggs(p) for p in node.parts if not isinstance(p, str))
    return 0


def _find_agg(node) -> TAgg | None:
    if isinstance(node, TAgg):
        return node
    if isinstance(node, TCall):
        for a in node.args:
            r = _find_agg(a)
            if r is not None:
                return r
    if isinstance(node, TFString):
        # aggregates inside f-strings normalize like any nested aggregate
        # (_contains_agg already descends here; without matching descent the
        # rewrite appended a None head term and died with a cryptic error)
        for p in node.parts:
            if not isinstance(p, str):
                r = _find_agg(p)
                if r is not None:
                    return r
    return None


def _replace_agg(node, repl):
    if isinstance(node, TAgg):
        return repl
    if isinstance(node, TCall):
        return TCall(node.fn, tuple(_replace_agg(a, repl) for a in node.args))
    if isinstance(node, TFString):
        return TFString(
            tuple(p if isinstance(p, str) else _replace_agg(p, repl) for p in node.parts)
        )
    return node


def _compile_rule(rast: RuleAST, ridx: int, resolver: Resolver, ec: ExprCompiler) -> list[Rule]:
    """One AST rule -> one or more engine rules.

    Aggregates nested in head expressions (``#count(?Z) * 2``,
    ``?X + #sum(?Y * ?Z)``) are normalized like the reference
    (rule_model normalization): the rule is rewritten into an intermediate
    aggregate rule grouping by ALL universal head variables, plus a
    projection rule applying the post-aggregation arithmetic. Multi-head
    rules with an aggregate are split per head atom first (each head atom
    evaluated over the same body, the aggregate local to its atom)."""
    has_nested = any(
        _contains_agg(t) and not isinstance(t, TAgg)
        for h in rast.heads
        for t in h.terms
    )
    multi_head_agg = len(rast.heads) > 1 and any(
        _contains_agg(t) for h in rast.heads for t in h.terms
    )
    if not (has_nested or multi_head_agg):
        return [_compile_simple_rule(rast, f"r{ridx}", resolver, ec)]

    out: list[Rule] = []
    for hidx, head in enumerate(rast.heads):
        sub = RuleAST([head], rast.body)
        tag = f"r{ridx}h{hidx}" if len(rast.heads) > 1 else f"r{ridx}"
        agg_terms = [t for t in head.terms if _contains_agg(t)]
        if not agg_terms:
            out.append(_compile_simple_rule(sub, tag, resolver, ec))
            continue
        # count AGGREGATES, not agg-containing terms: ``#sum(?X) + #count(?Y)``
        # is one term with two aggregates, and _replace_agg would alias both
        # to the single computed __aggout — silent wrong results
        if len(agg_terms) > 1 or sum(_count_aggs(t) for t in agg_terms) > 1:
            raise CompileError("at most one aggregate per rule")
        term = agg_terms[0]
        if isinstance(term, TAgg):
            out.append(_compile_simple_rule(sub, tag, resolver, ec))
            continue
        # nested aggregate: intermediate agg rule + projection rule.
        # Group-by = the head's OTHER terms (each non-var term becomes its
        # own computed group column) PLUS any variables appearing inside the
        # aggregate term but outside the aggregate itself (e.g. ?Z in
        # ``?Z * #sum(?Y)`` — verified against the reference's
        # aggregate/arithmetic golden outputs).
        agg = _find_agg(term)
        mid_pred = f"__agg_{tag}"
        mid_terms: list = []   # intermediate head terms (before the agg)
        proj_slots: list = []  # per final-head slot: term for the projection head
        proj_body_terms: list = []  # matching terms of the projection body atom
        gi = 0
        for t in head.terms:
            if _contains_agg(t):
                proj_slots.append(None)  # filled with the post-agg expression
                continue
            if isinstance(t, (TVar,)) or ec.is_ground(t):
                mid_terms.append(t)
                proj_body_terms.append(t)
                proj_slots.append(t)
            else:
                g = TVar(f"__g{gi}")
                gi += 1
                mid_terms.append(t)  # expression => assignment + group column
                proj_body_terms.append(g)
                proj_slots.append(g)
        post_expr = _replace_agg(term, TVar("__aggout"))
        known = {x.name for x in proj_body_terms if isinstance(x, TVar)}
        extra = [v for v in sorted(ec.variables(post_expr)) if v != "__aggout" and v not in known]
        mid_head = AtomAST(
            mid_pred, tuple(mid_terms) + tuple(TVar(v) for v in extra) + (agg,)
        )
        out.append(_compile_simple_rule(RuleAST([mid_head], rast.body), tag + "a", resolver, ec))
        proj_body = [
            (
                "atom",
                AtomAST(
                    mid_pred,
                    tuple(proj_body_terms) + tuple(TVar(v) for v in extra) + (TVar("__aggout"),),
                ),
            )
        ]
        proj_terms = tuple(post_expr if s is None else s for s in proj_slots)
        out.append(
            _compile_simple_rule(RuleAST([AtomAST(head.pred, proj_terms)], proj_body), tag + "p", resolver, ec)
        )
    return out


def _compile_simple_rule(rast: RuleAST, label: str, resolver: Resolver, ec: ExprCompiler) -> Rule:
    fresh = itertools.count()

    def fresh_var(tag: str) -> str:
        return f"__{tag}_{label}_{next(fresh)}"

    body_atoms: list[Atom] = []
    negated: list[Atom] = []
    filters = []
    assignments: list[tuple[str, object]] = []
    bound: set[str] = set()

    def atom_terms(aast: AtomAST, bind: bool) -> Atom:
        terms = []
        for t in aast.terms:
            if isinstance(t, TVar):
                terms.append(Var(t.name))
                if bind:
                    bound.add(t.name)
            elif isinstance(t, TWildcard):
                terms.append(Var(fresh_var("w")))
            elif isinstance(t, TEVar):
                raise CompileError("existential variable in rule body")
            elif ec.is_ground(t):
                terms.append(ec.ground.eval(t))
            else:
                raise CompileError(f"complex body atom term {t!r} (not normalized)")
        return Atom(resolver.pred(aast.pred), *terms)

    # positive atoms first (binding), then others
    exprs = []
    for kind, item in rast.body:
        if kind == "atom":
            body_atoms.append(atom_terms(item, bind=True))
        elif kind == "neg":
            negated.append(atom_terms(item, bind=False))
        else:
            exprs.append(item)

    # classify expressions: assignments vs filters; iterate so chained
    # assignments (?Q = ?R + ?S after ?R, ?S defined) resolve in order
    pending = list(exprs)
    progress = True
    while pending and progress:
        progress = False
        rest = []
        for e in pending:
            if (
                isinstance(e, TCall)
                and e.fn == "EQUALITY"
                and isinstance(e.args[0], TVar)
                and e.args[0].name not in bound
                and ec.variables(e.args[1]) <= bound
            ):
                var = e.args[0].name
                fn = ec.compile_steps(e.args[1], assignments, fresh_var)
                assignments.append((var, fn))
                bound.add(var)
                progress = True
            elif (
                isinstance(e, TCall)
                and e.fn == "EQUALITY"
                and isinstance(e.args[1], TVar)
                and e.args[1].name not in bound
                and ec.variables(e.args[0]) <= bound
            ):
                var = e.args[1].name
                fn = ec.compile_steps(e.args[0], assignments, fresh_var)
                assignments.append((var, fn))
                bound.add(var)
                progress = True
            elif ec.variables(e) <= bound:
                fn = ec.compile_steps(e, assignments, fresh_var)
                filters.append(lambda cols, fn=fn: T.as_bool(fn(cols)))
                progress = True
            else:
                rest.append(e)
        pending = rest
    if pending:
        raise CompileError(f"unbound variables in body expressions: {pending!r}")

    # heads: normalize expressions / aggregates into assignments
    head_atoms: list[Atom] = []
    agg_seen: Aggregate | None = None
    for hast in rast.heads:
        terms = []
        for t in hast.terms:
            if isinstance(t, TVar):
                terms.append(Var(t.name))
            elif isinstance(t, TEVar):
                terms.append(EVar(t.name))
            elif isinstance(t, TAgg):
                agg_var_node = t.args[0]
                if isinstance(agg_var_node, TVar):
                    avar = Var(agg_var_node.name)
                else:
                    name = fresh_var("agg")
                    fn = ec.compile_steps(agg_var_node, assignments, fresh_var)
                    assignments.append((name, fn))
                    avar = Var(name)
                distinct = []
                seen_d: set[str] = set()
                for a in t.args[1:]:
                    if not isinstance(a, TVar):
                        raise CompileError("aggregate distinct terms must be variables")
                    if a.name not in seen_d:
                        seen_d.add(a.name)
                        distinct.append(Var(a.name))
                agg = Aggregate(t.op, avar, tuple(distinct))
                agg_seen = agg
                terms.append(agg)
            elif ec.is_ground(t):
                terms.append(ec.ground.eval(t))
            else:
                # head expression over body vars -> assignment variable
                name = fresh_var("h")
                fn = ec.compile_steps(t, assignments, fresh_var)
                assignments.append((name, fn))
                terms.append(Var(name))
        head_atoms.append(Atom(resolver.pred(hast.pred), *terms))

    if agg_seen is not None and len(head_atoms) > 1:
        raise CompileError("aggregates require a single head atom")

    from nemo_spark.parser.render import render_rule

    return Rule(
        head=head_atoms[0],
        body=body_atoms,
        extra_heads=head_atoms[1:],
        negated=negated,
        filters=filters,
        assignments=assignments,
        name=label,
        display=render_rule(rast),
    )
