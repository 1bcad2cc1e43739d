"""Size-adaptive local fixpoint: evaluate a dimension-sized stratum in one
in-memory pass instead of one Spark barrier per semi-naive round.

Deep sequential recursion (e.g. the reference's LCS diff program, which
advances one successor-chain element per round) costs one distributed
synchronization barrier per derived element — milliseconds of work behind
seconds of scheduling, repeated hundreds of times. The reference engine is
single-node, so it never pays this. Our answer is the same size-adaptive
strategy as the small-graph fast paths in ops/graph.py / kg/canonicalize.py,
through the same gate (session.local_rows): when every table a stratum
touches is below a row threshold, collect once, run the complete fixpoint
with in-memory hash joins (this module), and parallelize the result back — identical output, one job instead of O(chain
length) barriers. Data-sized strata keep the distributed path.

Supported rule features: positive joins, negation, constants, repeated
variables, multi-atom heads, existentials under restricted or skolem chase,
and aggregates (set semantics) — everything pure Datalog programs (incl. the
LCS and restricted-chase suites) use. Rules with Catalyst expression
callables (filters/assignments) are NOT supported here; strata containing
them stay distributed.

Value cells are carried as the typed-struct tuples (t, i, d, s); #min/#max
over typed cells key on Value.order_key() — nemo's total order with
element-wise tuple/map comparison — matching the distributed path's
sort-key aggregation exactly.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from nemo_spark.model.rules import Aggregate, Atom, EVar, Rule, Var, rule_label
from nemo_spark.model.values import T_NULL, Value


def stratum_is_local_eligible(rules: list[Rule]) -> bool:
    return all(not r.filters and not r.assignments for r in rules)


class LocalOverflow(Exception):
    """The local fixpoint derived more than its budget: small INPUTS do not
    bound the OUTPUT (a quadratic rule over 100k rows can derive 10^10
    facts). The engine catches this and re-runs the stratum distributed."""


def _term_cell(t):
    """Constant term -> comparable cell (typed Values as their struct tuple)."""
    if isinstance(t, Value):
        return t.as_row()
    return t


def _skolem_cell(label: str, frontier_cells: tuple, typed: bool):
    h = hashlib.md5(repr((label, frontier_cells)).encode()).hexdigest()[:16]
    name = f"{label}:{h}"
    if typed:
        return (T_NULL, 0, 0.0, name)
    return f"_:{name}"


class LocalFixpoint:
    """In-memory semi-naive evaluation over dict-indexed tuple sets."""

    def __init__(
        self,
        tables: dict[str, set],
        chase: str,
        typed: bool,
        max_derived: int = 5_000_000,
        stratum_idx: int = 0,
    ) -> None:
        self.tables = {p: set(rows) for p, rows in tables.items()}
        # append-ordered row lists backing the incremental index cache:
        # tables grow monotonically, so a cached index only ever needs the
        # rows appended since its cursor
        self._rows_list: dict[str, list] = {p: list(rows) for p, rows in self.tables.items()}
        # (pred, key-signature) -> (index dict, consumed-rows cursor)
        self._idx_cache: dict[tuple, tuple[dict, int]] = {}
        self.chase = chase
        self.typed = typed
        self.stratum_idx = stratum_idx  # qualifies auto rule labels
        self.max_derived = max_derived  # raise LocalOverflow beyond this
        self._derived_count = 0
        self.derived: dict[str, set] = defaultdict(set)  # fresh facts per pred
        # per-rule derivation records (pred, rule_label, round, fresh rows):
        # the same shape as the distributed engine's _provenance, so
        # trace_tree attributes rules identically on both paths
        self.records: list[tuple[str, str, int, frozenset]] = []
        # per-rule-per-round report stats (label, round, wall_sec, fresh) —
        # feeds the engine's RoundMetrics so ``report()`` / ``timing()``
        # attribute time per rule on this path too
        self.round_stats: list[tuple[str, int, float, int]] = []

    def run(self, rules: list[Rule]) -> dict[str, set]:
        import time as _time

        # round 0 evaluates every rule over the FULL tables (variants =
        # [None] ignores deltas entirely), so no initial delta copy is needed
        deltas: dict[str, set] = {}
        first = True
        round_no = 0
        while True:
            new_any = False
            next_deltas: dict[str, set] = defaultdict(set)
            for ri, rule in enumerate(rules):
                variants = [None] if first else [
                    i for i, a in enumerate(rule.body) if a.pred in deltas and deltas[a.pred]
                ]
                t_rule = _time.perf_counter()
                fresh_rule = 0
                lbl = rule_label(rule, self.stratum_idx, ri)
                for variant in variants:
                    for derived_pred, rows in self._apply(rule, variant, deltas, lbl).items():
                        tbl = self.tables.setdefault(derived_pred, set())
                        fresh = rows - tbl
                        if fresh:
                            tbl |= fresh
                            self._rows_list.setdefault(derived_pred, []).extend(fresh)
                            self.derived[derived_pred] |= fresh
                            next_deltas[derived_pred] |= fresh
                            new_any = True
                            self.records.append(
                                (derived_pred, rule_label(rule, self.stratum_idx, ri), round_no, frozenset(fresh))
                            )
                            fresh_rule += len(fresh)
                            self._derived_count += len(fresh)
                            if self._derived_count > self.max_derived:
                                raise LocalOverflow(
                                    f"local fixpoint derived > {self.max_derived} facts"
                                )
                if variants:
                    self.round_stats.append(
                        (
                            rule_label(rule, self.stratum_idx, ri),
                            round_no,
                            _time.perf_counter() - t_rule,
                            fresh_rule,
                        )
                    )
            first = False
            round_no += 1
            deltas = next_deltas
            if not new_any:
                return dict(self.derived)

    # ----------------------------------------------------------- rule eval

    def _bindings(self, rule: Rule, variant, deltas) -> list[dict]:
        """Join the body atoms; variant i reads atom i from the delta set.

        Each atom is joined through a hash index on its (bound-variable,
        constant) positions — the naive nested scan was O(|bindings|*|src|)
        per atom, quadratic at the 100k default threshold."""
        out = [dict()]
        for i, atom in enumerate(rule.body):
            is_delta = variant is not None and i == variant
            src = deltas.get(atom.pred, set()) if is_delta else self.tables.get(atom.pred, set())
            if not src and not is_delta:
                return []
            # delta sources are small and transient — index them fresh;
            # full-table sources use the incremental per-(pred, key) cache
            out = self._join_atom(atom, src, out, cache_pred=None if is_delta else atom.pred)
            if not out:
                return []
        # negation: drop bindings with a matching negated fact (hash-probed
        # on the negated atom's bound positions)
        for natom in rule.negated:
            facts = self.tables.get(natom.pred, set())
            if not facts or not out:
                continue
            key_pos = self._key_positions(natom, set(out[0]))
            index = self._cached_index(natom.pred, key_pos)
            out = [
                b
                for b in out
                if not any(
                    self._match(natom, row, b) is not None
                    for row in index.get(self._probe_key(key_pos, b), ())
                )
            ]
        return out

    @staticmethod
    def _key_positions(atom: Atom, bound: set) -> list[tuple]:
        """(position, var_name_or_None, constant_cell_or_None) for every
        position usable as a hash key: already-bound variables + constants."""
        key_pos = []
        for j, t in enumerate(atom.terms):
            if isinstance(t, Var):
                if t.name in bound:
                    key_pos.append((j, t.name, None))
            else:
                key_pos.append((j, None, _term_cell(t)))
        return key_pos

    @staticmethod
    def _index(src, key_pos) -> dict:
        index: dict = {}
        for row in src:
            index.setdefault(tuple(row[j] for j, _, _ in key_pos), []).append(row)
        return index

    def _cached_index(self, pred: str, key_pos) -> dict:
        """Incremental hash index over a FULL table: tables only grow, so a
        cached index advances its cursor over the append-ordered row list
        instead of re-indexing the whole (near-static) table every variant
        of every rule of every round — the rebuild was O(rounds x |table|)
        on the deep-recursion workloads this module exists to accelerate."""
        sig = (pred, tuple((j, name, c) for j, name, c in key_pos))
        rows = self._rows_list.get(pred, [])
        index, cursor = self._idx_cache.get(sig, ({}, 0))
        for row in rows[cursor:]:
            index.setdefault(tuple(row[j] for j, _, _ in key_pos), []).append(row)
        self._idx_cache[sig] = (index, len(rows))
        return index

    @staticmethod
    def _probe_key(key_pos, binding: dict) -> tuple:
        return tuple(c if name is None else binding[name] for _, name, c in key_pos)

    def _check_binding_budget(self, nxt: list) -> None:
        if len(nxt) > self.max_derived:
            # cap INTERMEDIATE bindings too: small inputs do not bound a
            # cartesian/skewed join's output, and the documented fallback
            # must fire BEFORE the driver materializes billions of dicts
            raise LocalOverflow(
                f"local fixpoint built > {self.max_derived} intermediate bindings"
            )

    def _join_atom(self, atom: Atom, src, out: list[dict], cache_pred: str | None = None) -> list[dict]:
        if not out:
            return []
        key_pos = self._key_positions(atom, set(out[0]))
        nxt = []
        if not key_pos:
            # true cartesian step (no shared variables, no constants)
            for b in out:
                for row in src:
                    nb = self._match(atom, row, b)
                    if nb is not None:
                        nxt.append(nb)
                self._check_binding_budget(nxt)
            return nxt
        if cache_pred is not None:
            index = self._cached_index(cache_pred, key_pos)
        else:
            index = self._index(src, key_pos)
        for b in out:
            for row in index.get(self._probe_key(key_pos, b), ()):
                nb = self._match(atom, row, b)
                if nb is not None:
                    nxt.append(nb)
            if len(nxt) > self.max_derived:
                self._check_binding_budget(nxt)
        return nxt

    @staticmethod
    def _match(atom: Atom, row: tuple, binding: dict) -> dict | None:
        b = dict(binding)
        for t, cell in zip(atom.terms, row):
            if isinstance(t, Var):
                if t.name in b:
                    if b[t.name] != cell:
                        return None
                else:
                    b[t.name] = cell
            else:
                if _term_cell(t) != cell:
                    return None
        return b

    def _apply(self, rule: Rule, variant, deltas, label: str) -> dict[str, set]:
        bindings = self._bindings(rule, variant, deltas)
        if not bindings:
            return {}
        aggregate = rule.head_aggregate()
        if aggregate is not None:
            return {rule.head.pred: self._aggregate(rule, aggregate, bindings)}
        evars = rule.existential_vars()
        if evars:
            bindings = self._instantiate_nulls(rule, evars, bindings, label)
        out: dict[str, set] = defaultdict(set)
        for h in rule.heads():
            for b in bindings:
                row = tuple(b[t.name] if isinstance(t, Var) else _term_cell(t) for t in h.terms)
                out[h.pred].add(row)
        return out

    def _instantiate_nulls(self, rule: Rule, evars, bindings, label: str) -> list[dict]:
        frontier = sorted(
            {
                t.name
                for h in rule.heads()
                for t in h.terms
                if isinstance(t, Var) and not isinstance(t, EVar)
            }
        )
        if self.chase == "restricted":
            bindings = [b for b in bindings if not self._head_satisfied(rule, b, frontier)]
        # per-RULE skolem label (the stratum-qualified one, same policy as
        # the distributed path): ``rule.name or head.pred`` made two unnamed
        # same-head existential rules mint COLLIDING nulls
        out = []
        for b in bindings:
            fvals = tuple(b.get(v) for v in frontier)
            nb = dict(b)
            for ev in evars:
                nb[ev.name] = _skolem_cell(f"{label}:{ev.name}", fvals, self.typed)
            out.append(nb)
        return out

    def _head_satisfied(self, rule: Rule, binding: dict, frontier: list[str]) -> bool:
        """Restricted chase blocking: is the head conjunction already
        satisfiable (some witness for the existential variables) under the
        frontier binding? (forward/restricted.rs semantics)"""
        partial = {v: binding[v] for v in frontier if v in binding}
        stack = [(0, partial)]
        heads = rule.heads()
        while stack:
            i, b = stack.pop()
            if i == len(heads):
                return True
            atom = heads[i]
            for row in self.tables.get(atom.pred, set()):
                nb = self._match(atom, row, b)
                if nb is not None:
                    stack.append((i + 1, nb))
        return False

    def _aggregate(self, rule: Rule, aggregate: Aggregate, bindings) -> set:
        group_vars = [t.name for t in rule.head.terms if isinstance(t, Var)]
        extra = [v.name for v in aggregate.distinct]
        av = aggregate.var.name
        seen = set()
        groups: dict[tuple, set] = defaultdict(set)
        for b in bindings:
            key = tuple(b[v] for v in group_vars)
            dedup_key = key + tuple(b[v] for v in extra) + (b[av],)
            if dedup_key in seen:
                continue
            seen.add(dedup_key)
            groups[key].add(dedup_key)
        out = set()
        for key, rows in groups.items():
            vals = [r[-1] for r in rows]
            res = self._agg_value(aggregate.op, vals)
            if res is None:
                continue
            gb = dict(zip(group_vars, key))
            row = tuple(
                res if isinstance(t, Aggregate) else (gb[t.name] if isinstance(t, Var) else _term_cell(t))
                for t in rule.head.terms
            )
            out.add(row)
        return out

    def _agg_value(self, op: str, vals: list):
        if op == "count":
            n = len(vals)
            return Value.int(n).as_row() if self.typed else n
        if op in ("min", "max"):
            pick = min if op == "min" else max
            if self.typed:
                # nemo's total order (element-wise inside tuples/maps), not
                # the raw struct-tuple order — matches the distributed
                # path's sort_key_bytes-keyed min_by/max_by
                return pick(vals, key=lambda v: Value(*v).order_key())
            return pick(vals)
        # sum — replicate the distributed dispatch EXACTLY
        # (_project_aggregate_typed, seminaive.py): non-numeric operands are
        # IGNORED (not group-dropping); a u64-range operand in an
        # integer-only group means no exact i64 total => no result; floats
        # present => f32 (floats only) or f64 total, with non-finite totals
        # dropping the group like wrap_float/wrap_double
        if self.typed:
            from nemo_spark.model.values import T_DOUBLE, T_FLOAT, T_INT, T_ULONG, ValueError_

            si, su, sd = 0, 0.0, 0.0
            ni = nf = nd = nu = 0
            for v in vals:
                if v[0] == T_INT:
                    si += v[1]
                    ni += 1
                elif v[0] == T_FLOAT:
                    sd += v[2]
                    nf += 1
                elif v[0] == T_DOUBLE:
                    sd += v[2]
                    nd += 1
                elif v[0] == T_ULONG:
                    # wrapped u64 payload: i64 field + 2^64 recovers the value
                    su += float(v[1]) + float(1 << 64)
                    nu += 1
            if nf == 0 and nd == 0:
                if nu or ni == 0:
                    return None
                try:
                    return Value.int(si).as_row()
                except ValueError_:
                    return None
            total = sd + su + float(si)
            try:
                if ni == 0 and nd == 0 and nu == 0:
                    return Value.float32(total).as_row()
                return Value.double(total).as_row()
            except ValueError_:
                return None
        return sum(vals)
