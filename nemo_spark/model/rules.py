"""Rules-as-data: the logical layer of the engine.

Mirrors nemo's rule model (reference: ``nemo/src/rule_model/components/``) —
predicates are named n-ary relations (name + arity only, per
``nemo/src/table_manager.rs:468``), rules have positive body atoms, negated
atoms, filters, assignments (computed columns), and at most one aggregate in
the head (``nemo/src/execution/planning/normalization/rule.rs:44-70``).

There is no text parser here: programs are constructed programmatically
(the Spark-first analogue of nemo's Python API,
``nemo-python/src/lib.rs:60-72``).

Expressions (filters / assignments) are callables ``cols -> Column`` where
``cols`` maps variable names to Spark Columns. Use ``nemo_spark.functions``
for nemo-semantics operations (error => row dropped).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column

ColMap = dict[str, Column]
ExprFn = Callable[[ColMap], Column]


@dataclass(frozen=True)
class Var:
    """A rule variable (nemo: ``?X``)."""

    name: str

    def __repr__(self) -> str:  # pragma: no cover
        return f"?{self.name}"


@dataclass(frozen=True, repr=False)
class EVar(Var):
    """Existential head variable (nemo: ``!V``). Instantiated as a
    deterministic labeled null: skolem hash of the rule's frontier values
    (``nemo-physical/src/tabular/operations/null.rs`` analogue — deterministic
    skolem ids rather than counters, so retries/recomputation are stable)."""

    def __repr__(self) -> str:  # pragma: no cover
        return f"!{self.name}"


# A term is a Var, an Aggregate (head only), or a Python literal constant.
Term = Any


@dataclass(frozen=True)
class Aggregate:
    """Head aggregate, nemo syntax ``#op(?Var; ?Distinct...)``.

    Semantics (``nemo-physical/src/tabular/operations/aggregate.rs:21-32``):
    operates on the SET of distinct (group-by + distinct + aggregated) bindings.
    """

    op: str  # 'min' | 'max' | 'sum' | 'count'
    var: Var
    distinct: tuple[Var, ...] = ()

    def __post_init__(self) -> None:
        if self.op not in ("min", "max", "sum", "count"):
            raise ValueError(f"unsupported aggregate: {self.op}")


class agg:
    """Constructors: ``agg.min(X)``, ``agg.count(Z, distinct=[Y])``."""

    @staticmethod
    def min(var: Var, distinct: tuple[Var, ...] | list[Var] = ()) -> Aggregate:
        return Aggregate("min", var, tuple(distinct))

    @staticmethod
    def max(var: Var, distinct: tuple[Var, ...] | list[Var] = ()) -> Aggregate:
        return Aggregate("max", var, tuple(distinct))

    @staticmethod
    def sum(var: Var, distinct: tuple[Var, ...] | list[Var] = ()) -> Aggregate:
        return Aggregate("sum", var, tuple(distinct))

    @staticmethod
    def count(var: Var, distinct: tuple[Var, ...] | list[Var] = ()) -> Aggregate:
        return Aggregate("count", var, tuple(distinct))


@dataclass(frozen=True)
class Atom:
    """``pred(t1, ..., tn)`` — terms are Vars, constants, or (head) Aggregates."""

    pred: str
    terms: tuple[Term, ...]

    def __init__(self, pred: str, *terms: Term) -> None:
        object.__setattr__(self, "pred", pred)
        object.__setattr__(self, "terms", tuple(terms))

    @property
    def arity(self) -> int:
        return len(self.terms)

    def variables(self) -> list[Var]:
        return [t for t in self.terms if isinstance(t, Var)]

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.pred}({', '.join(map(repr, self.terms))})"


@dataclass
class Rule:
    """``head[, head2, ...] :- body, ~negated, filters, assignments``.

    Safety: every universal head variable must occur in a positive body atom
    or be defined by an assignment; every negated-atom variable must be bound
    positively (checked at evaluation time). ``EVar`` head variables are
    existential (skolemized); the same EVar in several head atoms of one rule
    denotes the SAME null. Extra head atoms go in ``extra_heads`` (nemo
    multi-atom heads, e.g. the LCS program).
    """

    head: Atom
    body: list[Atom]
    extra_heads: list[Atom] = field(default_factory=list)
    negated: list[Atom] = field(default_factory=list)
    # filters: cols -> BooleanColumn; null-valued results drop the row
    filters: list[ExprFn] = field(default_factory=list)
    # assignments: ordered (new_var_name, cols -> Column); null result drops
    # the row (nemo: evaluation error == no result,
    # nemo-physical/src/function/definitions/numeric/integer64.rs)
    assignments: list[tuple[str, ExprFn]] = field(default_factory=list)
    name: str | None = None
    # source-text rendering (the compiler stamps parsed rules with the
    # reference's Display form); used by __str__ so trace exports show rule
    # text, never the dataclass repr with its lambda memory addresses
    display: str | None = None

    def heads(self) -> list[Atom]:
        return [self.head, *self.extra_heads]

    def __str__(self) -> str:
        if self.display is not None:
            return self.display
        # structural fallback for API-built rules: filters/assignments are
        # opaque Python callables, so render placeholders — deterministic
        # output (no object reprs/addresses), stable across runs
        items = [repr(a) for a in self.body]
        items += ["~" + repr(a) for a in self.negated]
        items += ["<filter>"] * len(self.filters)
        items += [f"?{name} := <expr>" for name, _fn in self.assignments]
        heads = ", ".join(repr(h) for h in self.heads())
        return f"{heads} :- {', '.join(items)} ."

    def existential_vars(self) -> list["EVar"]:
        from nemo_spark.model.rules import EVar  # self-reference for clarity

        out: list[EVar] = []
        seen: set[str] = set()
        for h in self.heads():
            for t in h.terms:
                if isinstance(t, EVar) and t.name not in seen:
                    seen.add(t.name)
                    out.append(t)
        return out

    def head_aggregate(self) -> Aggregate | None:
        aggs = [t for h in self.heads() for t in h.terms if isinstance(t, Aggregate)]
        if len(aggs) > 1:
            raise ValueError("at most one aggregate per rule (nemo semantics)")
        if aggs and self.extra_heads:
            raise ValueError("aggregates require a single head atom")
        return aggs[0] if aggs else None


def rule_label(rule: "Rule", index: int) -> str:
    """Stable display label: the rule's name, or ``rule_{index}`` where
    ``index`` is the rule's position in the program as written (before
    dead-rule pruning). One label then names one rule whichever group it
    is evaluated in and whichever rules pruning drops."""
    return rule.name or f"rule_{index}"


@dataclass
class Program:
    """A set of rules + inline facts (EDB tables are registered on the engine).

    ``outputs`` limits materialization like nemo's ``@output`` /
    active-rule filtering (``rule_model/pipeline/transformations/active.rs``);
    empty = materialize everything.
    """

    rules: list[Rule]
    facts: dict[str, list[tuple]] = field(default_factory=dict)
    outputs: list[str] = field(default_factory=list)

    def predicates(self) -> dict[str, int]:
        """predicate -> arity, from all atoms and facts; arity conflicts raise."""
        seen: dict[str, int] = {}

        def visit(pred: str, arity: int) -> None:
            if pred in seen and seen[pred] != arity:
                raise ValueError(f"arity conflict for {pred}: {seen[pred]} vs {arity}")
            seen[pred] = arity

        for r in self.rules:
            for h in r.heads():
                visit(h.pred, h.arity)
            for a in r.body + r.negated:
                visit(a.pred, a.arity)
        for p, rows in self.facts.items():
            if rows:
                visit(p, len(rows[0]))
        return seen

    def idb_predicates(self) -> set[str]:
        return {h.pred for r in self.rules for h in r.heads()}

    def required(self, targets: "set[str]") -> "tuple[set[str], list[int]]":
        """Backward-reachable predicates and contributing rule indices from
        the output/export ``targets`` (nemo's active-rule filtering,
        ``rule_model/pipeline/transformations/active.rs``): a rule is
        required iff some head predicate is required; its body predicates
        (incl. negated) then become required, to fixpoint. Empty targets
        mean every derived predicate is an output and nothing is pruned
        (``set_default_outputs.rs``)."""
        if not targets:
            all_preds = set(self.predicates())
            return all_preds, list(range(len(self.rules)))
        preds = set(targets)
        kept: set[int] = set()
        changed = True
        while changed:
            changed = False
            for idx, r in enumerate(self.rules):
                if idx in kept:
                    continue
                if any(h.pred in preds for h in r.heads()):
                    kept.add(idx)
                    changed = True
                    for a in r.body + r.negated:
                        preds.add(a.pred)
        return preds, sorted(kept)

    def pruned(self, targets: "set[str]") -> "Program":
        """This program with rules not contributing to ``targets`` removed
        (inline facts are kept — materializing a fact table is cheap and
        preserves ``table()`` for library users; the reference also drops
        facts/imports of inactive predicates, which the runner mirrors for
        imports where it actually saves I/O)."""
        _, kept = self.required(targets)
        if len(kept) == len(self.rules):
            return self
        return Program(
            rules=[self.rules[i] for i in kept],
            facts=self.facts,
            outputs=self.outputs,
        )
