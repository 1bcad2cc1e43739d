"""Distributed semi-naive fixpoint evaluation over Spark DataFrames.

This is the Spark-first re-imagination of nemo's execution core
(reference: ``nemo/src/execution/execution_engine.rs:295-345`` fixpoint loop,
``nemo/src/execution/planning/operations/join_seminaive.rs:47-102`` delta
variants, ``nemo/src/execution/planning/operations/duplicates.rs:24-46``
dedup-vs-history, ``nemo/src/execution/selection_strategy/*`` scheduling).

Key mapping decisions:
- A predicate's facts = one DataFrame (``all``) + one per-round ``delta``,
  replacing nemo's step-tagged subtables (``nemo/src/table_manager.rs:67``).
- Rule application = chain of DataFrame equi-joins; Catalyst/AQE choose the
  physical join (vs nemo's single-threaded leapfrog triejoin,
  ``nemo-physical/src/tabular/operations/join.rs:196``). Small deltas are
  broadcast explicitly (row counts are already materialized for termination
  checks, so the decision is free).
- EDB relations are materialized once at registration (deduplicated,
  ``localCheckpoint``-ed and counted), as nemo loads each import once
  (``nemo/src/execution/execution_engine.rs`` ``add_imports``); only deltas
  and rule bodies stay lazy.
- Set semantics / dedup vs history = ``dropDuplicates`` + ``left_anti`` join
  against the accumulated table — THE hot operator of semi-naive.
- Plan-lineage control: iterative jobs grow logical plans without bound;
  ``localCheckpoint`` every ``checkpoint_every`` rounds is the analogue of
  nemo's subtable defragmentation (``execution_engine.rs:263-292``). With a
  ``CheckpointStore`` the engine instead persists parquet/Iceberg snapshots,
  making runs resumable mid-fixpoint.

Semi-naive soundness note: in round t, the variant for body atom i joins
atom i's previous-round delta against the FULL current tables of the other
atoms. This derives a superset of the textbook new/old split
(nemo's ``UnionRange`` windows); the extra derivations are removed by the
dedup-vs-history anti-join, so results are identical and the plan stays
simple (one cached table per predicate instead of per-step subtables).
"""

from __future__ import annotations

import logging
import time
import weakref
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nemo_spark.engine.stratify import stratify
from nemo_spark.model.rules import Aggregate, Atom, EVar, Program, Rule, Var
from nemo_spark.session import local_frame, observed_checkpoint, run_concurrently

log = logging.getLogger("nemo_spark.engine")

_AGG_FN = {"min": F.min, "max": F.max, "sum": F.sum, "count": F.count}


_CP_KEY = "spark.sql.constraintPropagation.enabled"
# Per-SESSION refcount/saved-value: spark.sql.constraintPropagation.enabled is
# a per-session SQLConf, so a second engine built on spark.newSession() (its
# own conf) must be disabled independently, and each session's last close()
# must restore the value saved from THAT session. Weak keys so a dropped
# session never pins its entry (or blocks a recycled id) after GC.
_CP_STATE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _cp_disable(spark) -> None:
    st = _CP_STATE.get(spark)
    if st is None:
        try:
            saved = spark.conf.get(_CP_KEY)
        except Exception:
            saved = None
        spark.conf.set(_CP_KEY, "false")
        st = _CP_STATE[spark] = {"count": 0, "saved": saved}
    st["count"] += 1


def _cp_restore(spark) -> None:
    st = _CP_STATE.get(spark)
    if st is None:
        return
    st["count"] -= 1
    if st["count"] <= 0:
        del _CP_STATE[spark]
        if st["saved"] is not None:
            try:
                spark.conf.set(_CP_KEY, st["saved"])
            except Exception:
                pass  # session already stopped


def _cols(n: int) -> list[str]:
    return [f"c{i}" for i in range(n)]


from nemo_spark.model.rules import rule_label as _rule_label


def _VALUE_SCHEMA_T() -> str:
    from nemo_spark.model.values import VALUE_SCHEMA

    return VALUE_SCHEMA


@dataclass
class RoundMetrics:
    stratum: int  # the SCC group's index in stratify() order
    round: int
    rule: str
    derived_rows: int
    wall_sec: float


@dataclass
class EngineStats:
    rounds: int = 0
    derived_total: int = 0
    per_rule: list[RoundMetrics] = field(default_factory=list)


class SemiNaiveEngine:
    """Evaluate a :class:`Program` to fixpoint over registered EDB DataFrames.

    Usage::

        eng = SemiNaiveEngine(spark)
        eng.register("edge", edge_df)          # EDB: any DataFrame, any col names; materialized once
        eng.run(program)
        result = eng.table("reach")            # columns c0..c{n-1}
    """

    def __init__(
        self,
        spark: SparkSession,
        broadcast_threshold: int = 2_000_000,
        checkpoint_every: int = 6,
        checkpoint_store: Any | None = None,
        max_rounds: int = 10_000,
        trace: bool = False,
        chase: str = "restricted",  # 'restricted' (nemo default) | 'skolem'
        bucket_history: int = 32,  # bucket count when history bucketing engages (0 = never)
        bucket_history_threshold: int = 1_000_000,  # rows before a predicate's history migrates to the bucketed layout (0 = from the first merge)
        local_stratum_threshold: int = 100_000,  # size-adaptive local fixpoint (0 = always distributed)
        semi_join_reduction: int = 2_000_000,  # rows before a body atom gets semi-join-reduced (0 = never)
    ) -> None:
        self.spark = spark
        self.broadcast_threshold = broadcast_threshold
        self.checkpoint_every = checkpoint_every
        self.checkpoint_store = checkpoint_store
        self.max_rounds = max_rounds
        self.trace = trace
        # bucket_history > 0: each predicate's accumulated table is persisted
        # as a bucketed managed table (bucketBy on all fact columns). The
        # dedup-vs-history anti-join then reads the history CO-PARTITIONED —
        # only the (small) delta side shuffles each round, instead of
        # re-exchanging the entire accumulated history every round (the
        # first thing to melt at 100x scale; SURVEY §7 "bucket/partition
        # all_facts by join key"). At cluster scale the same layout comes
        # from Iceberg bucket partition specs.
        #
        # Engagement is SIZE-ADAPTIVE and on by default: a predicate's
        # history migrates to the bucketed layout the first time its
        # accumulated row count reaches bucket_history_threshold (0 =
        # bucket from the very first merge). Testcase-sized fixpoints never
        # pay the managed-table write; data-sized ones stop re-shuffling
        # history automatically.
        self.bucket_history = bucket_history
        self.bucket_history_threshold = bucket_history_threshold
        self._history_tables: dict[str, str] = {}
        # unique per-engine id for managed-table names: id(self) was reusable
        # after GC (a new engine could clobber a table whose DataFrames were
        # still referenced); a uuid cannot collide across engine lifetimes
        import uuid as _uuid

        self._uid = _uuid.uuid4().hex[:12]
        # local_stratum_threshold > 0: SCC groups whose every input table is below
        # the threshold evaluate in ONE in-memory pass (engine/local_fixpoint)
        # instead of one Spark barrier per semi-naive round — the fix for
        # deep sequential recursion (LCS-class programs advance one chain
        # element per round; barriers dominate, not data). Same size-adaptive
        # strategy as the small-graph fast paths; outputs identical.
        self.local_stratum_threshold = local_stratum_threshold
        # semi_join_reduction > 0: before a body atom LARGER than the
        # threshold enters the n-ary join chain, its frame is semi-joined by
        # the variable projections of every broadcastable co-occurring atom
        # (Yannakakis-style reducer — the Spark-shaped answer to the
        # reference's leapfrog WCOJ, nemo-physical/src/tabular/operations/
        # join.rs:196). Cyclic bodies (triangles) otherwise build binary-join
        # intermediates larger than the output; the reducer bounds each
        # input by the other relations' key sets before any shuffle join.
        self.semi_join_reduction = semi_join_reduction
        # Only broadcastable atoms serve as reducers (the semi-join is then
        # shuffle-free on the big side) — EXCEPT for the all-big cyclic case
        # (triangles over huge relations, the query class the reference's
        # WCOJ exists for, nemo-physical/src/tabular/operations/join.rs:196),
        # where shuffled left-semi reducers engage: a body with >= 2 atoms
        # above the broadcast threshold whose hypergraph is cyclic
        # (GYO-irreducible) would otherwise build binary-join intermediates
        # larger than the output. Each shuffled semi-join costs one exchange
        # of the reduced atom but caps the join intermediate at the (much
        # smaller) reduced size.
        if chase not in ("restricted", "skolem"):
            raise ValueError(f"unknown chase variant: {chase}")
        self.chase = chase
        # Spark's Union constraint rewriting crashes ("key not found: c0#...")
        # when a multi-head rule unions two projections of one bound plan
        # (self-union) — a Catalyst bug our plans legitimately trigger.
        # Constraint propagation buys nothing for the fixpoint plan shapes
        # (explicit filters, checkpointed unions), so disable it —
        # refcounted so the LAST engine's close() restores the caller's
        # value (the session is usually shared with non-engine workloads,
        # and engines may overlap within one session)
        _cp_disable(spark)
        self._cp_released = False
        # provenance: (pred, rule_label, stratum, round, fresh facts) — the
        # Spark analogue of nemo's step-tagged subtables
        # (nemo/src/table_manager.rs:67), queried by trace_fact like nemo's
        # ExecutionTraceTree lookups (nemo/src/execution/tracing/trace.rs)
        self._provenance: list[tuple[str, str, int, int, DataFrame]] = []
        self._rules_by_label: dict[str, Rule] = {}
        # id(rule) -> program-stable label (rule_label): skolem minting must
        # be per-RULE unique (two unnamed existential rules with the same
        # head predicate would otherwise mint colliding labeled nulls)
        self._label_of: dict[int, str] = {}
        self._tables: dict[str, DataFrame] = {}
        # base (EDB) facts per predicate: registered tables + inline program
        # facts + extend() injections — what a non-monotone reset restores
        self._base_tables: dict[str, DataFrame] = {}
        # per-predicate union-depth since the last base compaction (extend)
        self._base_depth: dict[str, int] = {}
        self._deferred: dict[str, Any] = {}  # pred -> loader (register_deferred)
        # exact row counts per table, maintained at merge time: checkpointed
        # plans lose Catalyst statistics, so without explicit hints every
        # fixpoint join degrades to a shuffle join — we know the counts for
        # free and broadcast the small side ourselves
        self._table_counts: dict[str, int] = {}
        self._arity: dict[str, int] = {}
        # column types per predicate, recorded at register/first-merge so
        # never-derived predicates still return a correctly-typed empty frame
        self._schemas: dict[str, Any] = {}
        self.stats = EngineStats()

    # ------------------------------------------------------------------ setup

    def close(self) -> None:
        """Drop this engine's managed state (bucketed history tables).

        History tables are part of the engine's working set, not its output:
        leaving them would accumulate warehouse garbage across a long-lived
        session. Each accumulated table is checkpointed in-memory before its
        files drop, so ``table()`` keeps answering after close; DataFrames
        handed out BEFORE close still reference the dropped files — re-fetch
        them via ``table()``. Idempotent; also runs on context exit
        (``with SemiNaiveEngine(spark) as eng: ...``)."""
        for pred, tbl in list(self._history_tables.items()):
            if pred in self._tables:
                self._tables[pred] = self._tables[pred].localCheckpoint(eager=True)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        self._history_tables.clear()
        if not self._cp_released:
            self._cp_released = True  # close() is idempotent; release once
            _cp_restore(self.spark)

    def __enter__(self) -> "SemiNaiveEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def register(self, pred: str, df: DataFrame) -> None:
        """Register an EDB table; columns are positional (renamed c0..cn-1).
        Shorthand for ``register_all({pred: df})``."""
        self.register_all({pred: df})

    def register_all(self, frames: dict[str, DataFrame]) -> None:
        """Register EDB tables ``{pred: df}``; columns are positional
        (renamed c0..cn-1).

        Each deduplicated relation is materialized once, here, as a
        ``localCheckpoint`` (memory-and-disk blocks, like every IDB table the
        engine holds) — nemo likewise loads each import once into an
        in-memory table and then only joins it
        (``nemo/src/execution/execution_engine.rs`` ``add_imports``). Rule
        applications read that snapshot instead of re-running the source
        (a file scan, an import parser, the dedup shuffle) each time, and
        later changes to the source are not seen. Trade-off: a constant in a
        rule atom over a parquet-backed EDB no longer pushes into the file
        scan; it filters the materialized rows instead.

        Validation and engine bookkeeping run on the calling thread; only
        the materializations (one :func:`observed_checkpoint` per relation,
        whose observation is the row count) are submitted together
        (:func:`run_concurrently`)."""
        for pred in frames:
            if pred in self._deferred:
                # a deferred import's rows would silently vanish behind the
                # registered table (rule eval checks _tables first) — reject,
                # mirroring the idb-head check in run()
                raise ValueError(
                    f"predicate {pred} is a deferred import; register() would shadow it"
                )
        for pred in frames:
            tbl = self._history_tables.pop(pred, None)
            if tbl is not None:
                # the old history is part of the REPLACED state: keeping it
                # would suppress re-registered rows as "not fresh" and
                # resurrect old facts on the next bucketed merge
                self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # stale derivation records are also replaced state: trace_fact would
        # otherwise report rules for facts the new table no longer holds
        # (extend()'s non-monotone reset maintains the same invariant)
        self._provenance = [rec for rec in self._provenance if rec[0] not in frames]

        def materialize(item):
            pred, df = item
            df, seen = observed_checkpoint(df.toDF(*_cols(len(df.columns))).dropDuplicates())
            return pred, df, seen["rows"]

        for pred, df, cnt in run_concurrently(self.spark, materialize, frames.items()):
            self._tables[pred] = df
            # base (non-derived) facts: the restore point for non-monotone
            # resets — popping the whole table would delete registered EDB
            # rows of predicates that are also rule heads
            self._base_tables[pred] = df
            self._arity[pred] = len(df.columns)
            self._schemas[pred] = df.schema
            self._table_counts[pred] = cnt

    def register_deferred(self, pred: str, loader: Any, arity: int) -> None:
        """Register a binding-pushdown deferred import (reference:
        ``nemo/src/execution/planning/operations/join_imports_simple.rs`` /
        ``join_imports_general.rs`` — an import restricted by the bindings
        of the current rule body instead of loaded eagerly).

        ``loader(None)`` must return the FULL import frame (columns
        positional); ``loader((shared, keys_df))`` — where ``shared`` is a
        list of ``(column_position, var_name)`` pairs and ``keys_df`` holds
        the distinct current bindings of those variables (columns named by
        variable) — must return the frame restricted to rows matching some
        binding. Loaders that cannot push the restriction to the source
        should use :func:`semi_join_loader`; the SPARQL reader pushes it
        server-side as paged VALUES blocks. Restricted loads are evaluated
        per rule application (never cached); a full load is cached and the
        predicate behaves like a plain EDB table afterwards."""
        if pred in self._tables:
            raise ValueError(
                f"predicate {pred} already has a registered table; a deferred "
                "import would be silently ignored (register() wins rule eval)"
            )
        self._deferred[pred] = loader
        self._arity[pred] = arity

    def has_table(self, pred: str) -> bool:
        return pred in self._tables

    def table(self, pred: str) -> DataFrame:
        """Facts of a predicate (columns c0..cn-1). Empty-typed table if the
        predicate was never derived. A deferred import that was never loaded
        (or only ever loaded restricted) full-loads here."""
        if pred in self._deferred and pred not in self._tables:
            from nemo_spark.model.rules import Atom, Var

            probe = Atom(pred, *[Var(f"v{i}") for i in range(self._arity.get(pred, 1))])
            return self._deferred_frame(probe, None, [])
        if pred not in self._tables:
            return self._empty(self._arity.get(pred, 1), pred)
        return self._tables[pred]

    def tables(self) -> dict[str, DataFrame]:
        return dict(self._tables)

    # -------------------------------------------------------------- tracing

    def trace_fact(self, pred: str, values: tuple) -> list[dict]:
        """Which rule derived this fact, in which SCC group ("stratum") and
        round?

        Returns every provenance record containing the fact (EDB facts and
        runs without ``trace=True`` yield []). Answered with ONE filtered
        union scan over the per-round fresh frames (not one Spark job per
        record — nemo reads its step-tagged subtables the same way)."""
        frames = []
        for p, label, stratum, round_idx, fresh in self._provenance:
            if p != pred:
                continue
            # nullary fact: no value columns to match — membership alone
            # (the stored unit filler column is an implementation detail)
            cond = F.lit(True)
            for i, v in enumerate(values):
                cond = cond & F.col(f"c{i}").eqNullSafe(_lit_term(v))
            frames.append(
                fresh.filter(cond).select(
                    F.lit(label).alias("rule"),
                    F.lit(stratum).alias("stratum"),
                    F.lit(round_idx).alias("round"),
                )
            )
        if not frames:
            return []
        allf = frames[0]
        for f in frames[1:]:
            allf = allf.unionByName(f)
        return [
            {"pred": pred, "rule": r.rule, "stratum": r.stratum, "round": r.round}
            for r in allf.collect()
        ]

    def trace_tree(self, pred: str, values: tuple, max_depth: int = 32) -> dict | None:
        """Recursive rule-application tree for a derived fact — the Spark
        analogue of nemo's ExecutionTraceTree
        (``nemo/src/execution/tracing/trace.rs:93``, wasm ``lib.rs:347``).

        Returns {"fact": (pred, values), "rule": label, "premises": [...]}
        with EDB facts as {"fact": ..., "rule": None} leaves, or None when
        the fact is unknown. One witness body binding is reconstructed per
        node by re-running the deriving rule's body joined against the
        stored tables, restricted to the fact's head binding (nemo likewise
        answers traces by querying its step-tagged subtables backward).
        Requires ``trace=True`` at engine construction."""
        recs = self.trace_fact(pred, values)
        if not recs:
            # EDB fact? verify membership for a leaf
            if pred in self._tables:
                cond = F.lit(True)  # nullary: membership alone
                for i, v in enumerate(values):
                    cond = cond & F.col(f"c{i}").eqNullSafe(_lit_term(v))
                if not self._tables[pred].filter(cond).isEmpty():
                    return {"fact": (pred, values), "rule": None, "premises": []}
            return None
        rec = min(recs, key=lambda r: (r["stratum"], r["round"]))
        if max_depth <= 0:
            return {"fact": (pred, values), "rule": rec["rule"], "premises": []}
        # per-round merges join rule labels with '+': try each candidate rule
        # until one yields a witness body binding
        for label in rec["rule"].split("+"):
            rule = self._rules_by_label.get(label)
            if rule is None or all(h.pred != pred for h in rule.heads()):
                continue
            witness = self._body_witness(rule, pred, values)
            if witness is None:
                continue
            premises = []
            for atom in rule.body:
                fact_vals = tuple(
                    witness[t.name] if isinstance(t, Var) else t for t in atom.terms
                )
                sub = self.trace_tree(atom.pred, fact_vals, max_depth - 1)
                premises.append(
                    sub or {"fact": (atom.pred, fact_vals), "rule": None, "premises": []}
                )
            return {"fact": (pred, values), "rule": label, "premises": premises}
        return {"fact": (pred, values), "rule": rec["rule"], "premises": []}

    def _body_witness(self, rule: Rule, pred: str, values: tuple) -> dict | None:
        """One satisfying body binding whose head projection equals the fact."""
        derived = self._eval_rule(rule, {}, {}, use_delta_atom=None, project=False)
        if derived is None:
            return None
        head = next((h for h in rule.heads() if h.pred == pred), None)
        if head is None:
            return None
        cond = None
        for i, t in enumerate(head.terms):
            if isinstance(t, Aggregate):
                continue
            target = F.col(t.name) if isinstance(t, Var) else _lit_term(t)
            c = target.eqNullSafe(_lit_term(values[i]))
            cond = c if cond is None else (cond & c)
        rows = (derived.filter(cond) if cond is not None else derived).limit(1).collect()
        if not rows:
            return None
        return rows[0].asDict()

    @staticmethod
    def format_trace(tree: dict, indent: int = 0) -> str:
        """ASCII rendering of a trace tree (nemo's ascii tree output)."""
        pred, vals = tree["fact"]
        label = f" <- {tree['rule']}" if tree.get("rule") else " (input)"
        out = "  " * indent + f"{pred}({', '.join(map(str, vals))}){label}\n"
        for p in tree.get("premises", []):
            out += SemiNaiveEngine.format_trace(p, indent + 1)
        return out

    def provenance_table(self) -> DataFrame | None:
        """All derived facts with (rule, stratum, round) tags, one DataFrame."""
        frames = []
        for p, label, stratum, round_idx, fresh in self._provenance:
            frames.append(
                fresh.select(
                    F.lit(p).alias("pred"),
                    F.xxhash64(*[F.col(c) for c in fresh.columns]).alias("fact_hash"),
                    F.lit(label).alias("rule"),
                    F.lit(stratum).alias("stratum"),
                    F.lit(round_idx).alias("round"),
                )
            )
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # -------------------------------------------------------------------- run

    def run(self, program: Program, outputs: set[str] | None = None) -> EngineStats:
        """Evaluate to fixpoint. ``outputs`` (or ``program.outputs`` when not
        given) triggers dead-rule pruning: rules from which no output
        predicate is backward-reachable are never evaluated — they join no
        SCC group (active.rs parity). No outputs = everything is
        an output (set_default_outputs.rs); arity checks still cover the
        FULL program so a pruned-away inconsistency is not silently
        accepted."""
        arities = program.predicates()
        targets = set(outputs) if outputs is not None else set(program.outputs)
        self._label_rules(program)
        program = program.pruned(targets)
        for p, n in arities.items():
            if p in self._arity and self._arity[p] != n:
                raise ValueError(f"predicate {p}: registered arity {self._arity[p]} != program arity {n}")
            self._arity.setdefault(p, n)
        bad = self._deferred.keys() & program.idb_predicates()
        if bad:
            # a deferred import is an EDB source; deriving into it would
            # interleave loader frames with merged facts incoherently
            raise ValueError(f"deferred import predicates cannot be rule heads: {sorted(bad)}")
        bad = self._deferred.keys() & program.facts.keys()
        if bad:
            # inline facts would merge into _tables and shadow the loader:
            # the import's rows would silently never load
            raise ValueError(
                f"deferred import predicates cannot also have inline facts: {sorted(bad)}"
            )

        # inline facts (nemo: SimpleTable, management/database/sources.rs:14)
        # are a set like every other table: they enter through the merge
        # path derived facts use (dedup, anti-join against what the
        # predicate already holds, one observed checkpoint), which also
        # appends to a managed history table when the predicate has one
        for p, rows in program.facts.items():
            df = self.spark.createDataFrame(rows, _cols(self._arity[p]))
            self._merge(p, df)
            self._base_tables[p] = (
                self._base_tables[p].unionByName(df) if p in self._base_tables else df
            ).dropDuplicates()

        for stratum_idx, rules in enumerate(stratify(program)):
            self._run_stratum(stratum_idx, rules)
        return self.stats

    def _label_rules(self, program: Program) -> None:
        """Label every rule of ``program`` by its written position
        (:func:`rule_label`). OVERWRITE, not setdefault: auto labels
        ('rule_0') collide across run()/extend() calls on one engine, and
        trace_tree must resolve a label to the rule of the call that
        RECORDED the provenance — latest wins."""
        for i, r in enumerate(program.rules):
            self._rules_by_label[_rule_label(r, i)] = r
            self._label_of[id(r)] = _rule_label(r, i)

    def extend(self, program: Program, new_facts: dict[str, DataFrame]) -> EngineStats:
        """Incremental maintenance: add facts and continue the fixpoint from
        them as deltas (no from-scratch round 0) — sound for programs whose
        affected strata are negation/aggregate-free (monotone); otherwise the
        engine falls back to a full re-run of the affected strata.

        This is the Spark analogue of nemo's deferred/incremental imports
        (``nemo-physical/src/tabular/operations/incremental_import.rs``),
        and the hook the streaming layer drives per micro-batch."""
        arities = program.predicates()
        for p, n in arities.items():
            self._arity.setdefault(p, n)
        bad = self._deferred.keys() & new_facts.keys()
        if bad:
            # same hazard register() guards: a merged table would silently
            # shadow the deferred loader for every later rule evaluation
            raise ValueError(
                f"deferred import predicates cannot receive extend() facts: {sorted(bad)}"
            )
        deltas: dict[str, DataFrame] = {}
        counts: dict[str, int] = {}
        for pred, df in new_facts.items():
            # eager checkpoint: (a) truncates the batch's lineage so repeated
            # extend() calls (one per streaming micro-batch) don't grow
            # _base_tables' plan with live references to expired foreachBatch
            # frames — the non-monotone reset would otherwise re-read sources
            # that may be past retention; (b) bounds per-batch analysis cost.
            # SQL-NULL cells are dropped first: the fact domain has no NULL
            # cell (labeled nulls are typed T_NULL VALUES), and a NULL-celled
            # row would defeat the bucketed history's plain-key anti-join
            # (NULL never equals NULL), re-firing as "fresh" every batch
            df = df.toDF(*_cols(self._arity[pred]))
            for c in df.columns:
                df = df.where(F.col(c).isNotNull())
            df = df.dropDuplicates().localCheckpoint(eager=True)
            self._base_tables[pred] = (
                self._base_tables[pred].unionByName(df).dropDuplicates()
                if pred in self._base_tables
                else df
            )
            # compact the accumulated base every few batches: the union tree
            # of checkpointed batches still deepens linearly with batch count
            depth = self._base_depth.get(pred, 0) + 1
            if depth >= 16:
                self._base_tables[pred] = self._base_tables[pred].localCheckpoint(eager=True)
                depth = 0
            self._base_depth[pred] = depth
            fresh, cnt = self._merge(pred, df)
            if cnt:
                deltas[pred] = fresh
                counts[pred] = cnt
        if not deltas:
            return self.stats
        self._label_rules(program)
        groups = stratify(program)
        monotone = all(not r.negated and r.head_aggregate() is None for r in program.rules)
        if not monotone:
            # non-monotone: stale IDB facts derived under negation/aggregates
            # cannot be retracted from append-only tables — reset EVERY IDB
            # predicate (including ones that just received injections: their
            # previously DERIVED facts may no longer be derivable) back to
            # its BASE facts (registered + inline + injected; popping the
            # whole table would delete registered EDB rows of predicates
            # that are also rule heads) and recompute.
            reset = program.idb_predicates()
            for p in reset:
                if p in self._base_tables:
                    base = self._base_tables[p]
                    self._tables[p] = base
                    self._table_counts[p] = base.count()
                else:
                    self._tables.pop(p, None)
                    self._table_counts.pop(p, None)
                # a bucketed history table is part of the predicate's state:
                # leaving it would resurrect retracted facts on the next
                # merge (the anti-join would read the stale managed table)
                tbl = self._history_tables.pop(p, None)
                if tbl is not None:
                    self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            self._provenance = [rec for rec in self._provenance if rec[0] not in reset]
            for stratum_idx, rules in enumerate(groups):
                self._run_stratum(stratum_idx, rules)
            return self.stats
        # incremental continuation, no round 0: each group starts from the
        # injected facts AND the fresh facts of every group before it
        for stratum_idx, rules in enumerate(groups):
            idb = {h.pred for r in rules for h in r.heads()}
            derived: dict[str, list[tuple[DataFrame, int]]] = {}
            self._rounds_from(stratum_idx, rules, idb, 0, deltas, counts, True, derived)
            for p, parts in derived.items():
                for fresh, cnt in parts:
                    deltas[p] = deltas[p].unionByName(fresh) if p in deltas else fresh
                    counts[p] = counts.get(p, 0) + cnt
        return self.stats

    # ------------------------------------------------------------------ group

    def _run_stratum(self, stratum_idx: int, rules: list[Rule]) -> None:
        """Evaluate one SCC group (``stratum_idx`` is its index in
        :func:`stratify`'s order) to fixpoint over the current tables."""
        idb = {h.pred for r in rules for h in r.heads()}

        if self._try_local_stratum(stratum_idx, rules):
            return

        # Round 0: full evaluation of every rule against current tables.
        from nemo_spark.sources.sparql import release_staging, staging_mark

        round_idx = 0
        mark = staging_mark()
        delta: dict[str, DataFrame] = {}
        delta_counts: dict[str, int] = {}
        new_any = False
        try:
            for rule in rules:
                t0 = time.time()
                derived_map = self._eval_rule(rule, {}, {}, use_delta_atom=None)
                if derived_map is None:
                    continue
                label = self._label_of[id(rule)]
                for hp, derived in derived_map.items():
                    fresh, cnt = self._merge(hp, derived)
                    self._record(stratum_idx, round_idx, label, cnt, time.time() - t0)
                    t0 = time.time()
                    if cnt:
                        if self.trace:
                            self._provenance.append((hp, label, stratum_idx, round_idx, fresh))
                        new_any = True
                        # freshes of the same pred are disjoint (each anti-join ran
                        # against the table already containing earlier freshes),
                        # so plain union + summed counts are exact — no recount job.
                        delta[hp] = delta[hp].unionByName(fresh) if hp in delta else fresh
                        delta_counts[hp] = delta_counts.get(hp, 0) + cnt
        finally:
            # round-0 results are all checkpoint-materialized by their merges:
            # SPARQL pages staged for restricted per-application loads this
            # round are dead weight (bounds staging growth in long fixpoints).
            # finally: an evaluation/merge error must not leak the pages for
            # the session lifetime
            release_staging(mark)

        # Rounds 1..: semi-naive — only delta-reading variants of rules whose
        # body touches a predicate that changed last round (none in a
        # non-recursive group, whose bodies never read its own heads: it
        # ends after round 0). All variants with
        # the same head predicate are unioned and merged ONCE per round: one
        # dedup-anti-join + one materializing job per predicate, not per rule
        # (rounds are the latency unit of a fixpoint; fewer jobs per round
        # matter more than intra-round fact propagation, which dedup makes
        # redundant anyway).
        self._rounds_from(stratum_idx, rules, idb, round_idx, delta, delta_counts, new_any)

    def _rounds_from(
        self,
        stratum_idx: int,
        rules: list[Rule],
        idb: set[str],
        round_idx: int,
        delta: dict[str, DataFrame],
        delta_counts: dict[str, int],
        new_any: bool,
        derived_out: dict[str, list[tuple[DataFrame, int]]] | None = None,
    ) -> None:
        """Semi-naive rounds after ``round_idx`` from the given deltas, to
        the group's fixpoint. ``derived_out`` collects every round's fresh
        facts and counts per predicate."""
        from nemo_spark.sources.sparql import release_staging, staging_mark

        while new_any and round_idx < self.max_rounds:
            round_idx += 1
            mark = staging_mark()
            try:
                new_any = False
                per_pred: dict[str, DataFrame] = {}
                per_pred_rules: dict[str, list[str]] = {}
                t_eval: dict[str, float] = {}
                for rule in rules:
                    hot = [
                        i
                        for i, a in enumerate(rule.body)
                        if a.pred in delta and delta_counts.get(a.pred, 0) > 0
                    ]
                    if not hot:
                        continue
                    t0 = time.time()
                    parts = [
                        self._eval_rule(rule, delta, delta_counts, use_delta_atom=i)
                        for i in hot
                    ]
                    parts = [p for p in parts if p is not None]
                    if not parts:
                        continue
                    merged_map: dict[str, DataFrame] = {}
                    for pm in parts:
                        for hp, d in pm.items():
                            merged_map[hp] = merged_map[hp].unionByName(d) if hp in merged_map else d
                    # one shared body evaluation: split its wall across the head
                    # predicates (adding the FULL wall per head double-counted
                    # multi-head rules in report()'s totals)
                    wall = (time.time() - t0) / len(merged_map)
                    for hp, derived in merged_map.items():
                        per_pred[hp] = per_pred[hp].unionByName(derived) if hp in per_pred else derived
                        per_pred_rules.setdefault(hp, []).append(self._label_of[id(rule)])
                        t_eval[hp] = t_eval.get(hp, 0.0) + wall
                next_delta: dict[str, DataFrame] = {}
                next_counts: dict[str, int] = {}
                # merges of distinct predicates are independent: run them as
                # concurrent Spark jobs (driver threads) — a round's latency is
                # then max(merge) instead of sum(merge). The single-threaded
                # reference applies one rule at a time; this is the distributed
                # engine's structural win on wide programs.
                def do_merge(item):
                    hp, derived = item
                    t0 = time.time()
                    fresh, cnt = self._merge(hp, derived)
                    return hp, fresh, cnt, time.time() - t0

                results = run_concurrently(self.spark, do_merge, per_pred.items())
                for hp, fresh, cnt, wall in results:
                    self._record(
                        stratum_idx, round_idx, "+".join(per_pred_rules[hp]), cnt,
                        t_eval.get(hp, 0.0) + wall,
                    )
                    if cnt:
                        if self.trace:
                            self._provenance.append(
                                (hp, "+".join(per_pred_rules[hp]), stratum_idx, round_idx, fresh)
                            )
                        new_any = True
                        next_delta[hp] = fresh
                        next_counts[hp] = cnt
                        if derived_out is not None:
                            derived_out.setdefault(hp, []).append((fresh, cnt))
                delta, delta_counts = next_delta, next_counts
            finally:
                # this round's merges materialized every frame that read staged
                # SPARQL pages: release them (see _run_stratum round 0)
                # finally: a mid-round evaluation/merge error must not
                # leak this round's staged pages for the session lifetime
                release_staging(mark)
            # checkpoint cadence: truncate plan lineage (nemo defrag analogue).
            # Bucketed-history predicates are skipped: their handle is already
            # a trivial managed-table scan with no lineage growth, and eagerly
            # materializing the accumulated history would defeat the bucketing
            if round_idx % self.checkpoint_every == 0:
                for p in idb:
                    if p in self._tables and p not in self._history_tables:
                        self._tables[p] = self._checkpoint(p, self._tables[p], round_idx)
        if new_any:
            # deltas still pending at the round cap: the tables hold a strict
            # SUBSET of the model — fail loudly (the reference always runs to
            # fixpoint; a silent partial result is wrong answers)
            raise RuntimeError(
                f"fixpoint did not converge within max_rounds={self.max_rounds} "
                f"(group {stratum_idx}); raise SemiNaiveEngine(max_rounds=...)"
            )

    def _try_local_stratum(self, stratum_idx: int, rules: list[Rule]) -> bool:
        """Size-adaptive local fixpoint (see local_stratum_threshold)."""
        if not self.local_stratum_threshold:
            return False
        from nemo_spark.engine.local_fixpoint import LocalFixpoint, stratum_is_local_eligible

        if not stratum_is_local_eligible(rules):
            return False
        if self.chase == "skolem" and any(r.existential_vars() for r in rules):
            # local and distributed skolem terms are named by different hash
            # functions; a later extend() continues distributed and would
            # mint a SECOND null for the same witness — skolem-chase
            # existential strata stay on one (the distributed) path
            return False
        preds = {a.pred for r in rules for a in r.body + r.negated} | {
            h.pred for r in rules for h in r.heads()
        }
        # deferred imports have no collected table (and their size is
        # unknown until loaded): such strata stay distributed
        if any(p in self._deferred and p not in self._tables for p in preds):
            return False
        # constant body terms compare with strict Python equality locally,
        # but with Spark's implicit-cast equality distributed (an int
        # constant matches a '5' string cell there). Only run locally when
        # every constant's Python type is compatible with its column's
        # Spark type — otherwise the two paths could disagree.
        from nemo_spark.model.values import Value as _V

        for r in rules:
            for a in r.body + r.negated:
                if a.pred not in self._tables:
                    continue
                schema = self._tables[a.pred].schema
                for i, t in enumerate(a.terms):
                    if isinstance(t, (Var, _V)) or i >= len(schema.fields):
                        continue  # Values compare exactly on both paths
                    if not _py_const_matches_spark_type(t, schema.fields[i].dataType):
                        return False
        total = sum(self._table_counts.get(p, 0) for p in preds)
        if total > self.local_stratum_threshold:
            return False
        from nemo_spark.session import local_rows

        t0 = time.time()
        tables: dict[str, set] = {}
        typed_flags: list[bool] = []
        for p in preds:
            if p not in self._tables:
                continue
            # the count gate above already bounds the collect. NULL or NaN
            # cells and non-atomic columns have no local equivalent with
            # Spark semantics (and a None head cell would survive where
            # _project_head drops it) — such strata stay distributed
            rows = local_rows(self._tables[p])
            if rows is None:
                return False
            tables[p] = set(rows)
            typed_flags.append(_is_value_struct_df(self._tables[p]))
        # a MIXED stratum (typed value-struct tables alongside raw ones)
        # can't pick one schema/skolem/aggregate convention for its derived
        # predicates — stay distributed rather than misclassify
        if len(set(typed_flags)) > 1:
            return False
        typed = bool(typed_flags and typed_flags[0])
        lf = LocalFixpoint(tables, self.chase, typed, labels=self._label_of)
        from nemo_spark.engine.local_fixpoint import LocalOverflow

        try:
            derived = lf.run(rules)
        except LocalOverflow:
            # small inputs, huge output (quadratic-class rules): abandon the
            # local pass (engine state untouched) and run distributed
            return False
        for pred, rows in derived.items():
            if rows:
                self._merge(pred, self._local_frame(pred, rows, typed))
        # per-rule attribution (report()/timing() parity with the distributed
        # path): the local pass evaluates rule-by-rule in Python, so its
        # measured per-rule walls are real. The residual Spark collect/merge
        # time is split evenly over the group's rules (every rule has a
        # round-0 record), as the distributed path splits one shared body
        # evaluation across its head predicates
        residual = max(time.time() - t0 - sum(st[2] for st in lf.round_stats), 0.0) / len(rules)
        for label, round_no, wall, fresh_cnt in lf.round_stats:
            self._record(stratum_idx, round_no, label, fresh_cnt, wall + (residual if round_no == 0 else 0.0))
        if self.trace:
            # per-rule derivation records, same shape as the distributed
            # path's — trace_tree attributes rules identically whichever
            # path a stratum took (VERDICT r2 "What's wrong" #4)
            for pred, label, round_no, rows in lf.records:
                pf = self._local_frame(pred, rows, typed)
                self._provenance.append((pred, label, stratum_idx, round_no, pf))
        return True

    def _local_frame(self, pred: str, rows, typed: bool) -> DataFrame:
        """Rows a local stratum derived for ``pred``, handed back through
        Arrow (:func:`local_frame`) with the predicate's known schema: value
        structs for a typed stratum, else the schema Spark infers from the
        rows (what ``createDataFrame(list)`` would give)."""
        rows = list(rows)
        schema = self._schemas.get(pred)
        if schema is None:
            names = _cols(self._arity[pred])
            schema = (
                ", ".join(f"{c} {_VALUE_SCHEMA_T()}" for c in names)
                if typed
                else self.spark._inferSchemaFromList(rows, names=names)
            )
        return local_frame(self.spark, rows, schema)

    # ------------------------------------------------------------- rule eval

    def _eval_rule(
        self,
        rule: Rule,
        delta: dict[str, DataFrame],
        delta_counts: dict[str, int],
        use_delta_atom: int | None,
        project: bool = True,
    ) -> dict[str, DataFrame] | DataFrame | None:
        """Evaluate one rule body; returns {head_pred: head-layout DataFrame
        (c0..cn-1)}, or None when some positive atom's predicate has no facts
        at all. Multi-atom heads share one body evaluation and one skolem
        instantiation per existential variable."""
        bound: DataFrame | None = None
        bound_vars: list[str] = []
        # deferred imports evaluate AFTER the plain atoms (joins commute), so
        # their loader sees the richest available bindings — the Spark
        # analogue of the reference restricting the variable order of import
        # atoms to the positive body (join_imports_simple.rs:55-64)
        eager = [
            i
            for i, a in enumerate(rule.body)
            if a.pred not in self._deferred or a.pred in self._tables
        ]
        order = eager + [i for i in range(len(rule.body)) if i not in set(eager)]
        # shuffled reducers engage for the all-big cyclic body (see
        # __init__) — the decision is per rule application so it tracks the
        # tables' current sizes
        reduce_shuffle = (
            bool(self.semi_join_reduction)
            and len(rule.body) >= 3
            and sum(
                1
                for a in rule.body
                if self._table_counts.get(a.pred, 0) > self.broadcast_threshold
            )
            >= 2
            and _body_is_cyclic(rule.body)
        )
        merged_groups, merged_consumed = self._sparql_merge_groups(rule)
        for pos, i in enumerate(order):
            atom = rule.body[i]
            if i in merged_consumed:
                continue  # joined in by its merge-group leader below
            if i in merged_groups:
                # several SPARQL import atoms against one endpoint: ONE
                # remote query whose pattern is the join of the originals
                # (merge_sparql.rs); columns come back named by rule vars
                mdf, mvars = self._merged_sparql_frame(
                    *merged_groups[i], bound, bound_vars
                )
                if bound is None:
                    bound, bound_vars = mdf, list(mvars)
                else:
                    keys = [v for v in bound_vars if v in set(mvars)]
                    bound = bound.join(mdf, on=keys, how="inner") if keys else bound.crossJoin(mdf)
                    bound_vars = bound_vars + [v for v in mvars if v not in bound_vars]
                continue
            if use_delta_atom is not None and i == use_delta_atom:
                src = delta[atom.pred]
                small = delta_counts.get(atom.pred, 0) <= self.broadcast_threshold
            elif atom.pred in self._deferred and atom.pred not in self._tables:
                src = self._deferred_frame(atom, bound, bound_vars)
                small = False
            else:
                if atom.pred not in self._tables:
                    return None
                src = self._tables[atom.pred]
                small = (
                    pos > 0
                    and self._table_counts.get(atom.pred, self.broadcast_threshold + 1)
                    <= self.broadcast_threshold
                )
            adf = self._bind_atom(src, atom)
            if small:
                adf = F.broadcast(adf)
            elif (
                self.semi_join_reduction
                # >= 3 atoms: with two, the single (broadcast) join already
                # streams the big side once — reduction would scan it twice
                and len(rule.body) >= 3
                and (use_delta_atom is None or i != use_delta_atom)
                and atom.pred in self._tables
                and self._table_counts.get(atom.pred, 0) > self.semi_join_reduction
            ):
                adf = self._reduce_atom(
                    rule, i, adf, delta, delta_counts, use_delta_atom, reduce_shuffle
                )
            if bound is None:
                bound, bound_vars = adf, [v.name for v in _uniq(atom.variables())]
            else:
                atom_var_names = {x.name for x in atom.variables()}
                keys = [v for v in bound_vars if v in atom_var_names]
                new_vars = [v.name for v in _uniq(atom.variables()) if v.name not in bound_vars]
                bound = bound.join(adf, on=keys, how="inner") if keys else bound.crossJoin(adf)
                bound_vars = bound_vars + new_vars
        if bound is None:
            raise ValueError(f"rule {rule.name}: empty body not supported")

        # assignments (nemo Function op: computed columns; null/error => drop,
        # nemo-physical/src/function/definitions/numeric/integer64.rs).
        # NOTE: no per-step isNotNull filter here — the optimizer substitutes
        # pushed-down predicates into the alias definitions, re-inlining every
        # referenced step and exploding chained expressions exponentially
        # (observed: a 5-step arithmetic chain grew past 10^6 nodes). Every
        # operation propagates null operands, so error rows are dropped once,
        # at head/aggregate projection.
        for idx, (var_name, fn) in enumerate(rule.assignments):
            bound = bound.withColumn(var_name, fn(_colmap(bound)))
            bound_vars.append(var_name)
            # Plan barrier every few steps: Catalyst re-inlines alias
            # definitions at every reference (CollapseProject, predicate
            # pushdown, constraint propagation), and typed-value ops
            # reference operands ~10x each — so chained assignments re-grow
            # exponentially however flat the user plan is. A lazy local
            # checkpoint truncates the logical plan, bounding inline depth
            # (the reference's StackProgram register file, by other means).
            if (idx + 1) % 2 == 0:
                bound = bound.localCheckpoint(eager=False)

        # filters (nemo Filter op; null-valued predicate drops the row)
        for fn in rule.filters:
            bound = bound.filter(fn(_colmap(bound)))

        # negation: anti-join on shared variables (nemo Subtract,
        # tabular/operations/subtract.rs:166; planning negation.rs)
        for natom in rule.negated:
            if natom.pred in self._deferred and natom.pred not in self._tables:
                # a negated deferred import needs the complete table (rows
                # NOT matching any binding must also subtract): full load
                self._deferred_frame(natom, None, [])
            if natom.pred not in self._tables:
                continue  # negating an empty predicate filters nothing
            ndf = self._bind_atom(self._tables[natom.pred], natom)
            keys = [v.name for v in _uniq(natom.variables()) if v.name in bound_vars]
            if not keys:
                # no shared variables: the negated conjunct is propositional —
                # if ANY match exists, every row is dropped (nemo subtracts a
                # zero-arity table, tabular/operations/zero.rs + issue #428)
                marker = ndf.limit(1).select(F.lit(1).alias("__nk"))
                bound = (
                    bound.withColumn("__nk", F.lit(1))
                    .join(F.broadcast(marker), on="__nk", how="left_anti")
                    .drop("__nk")
                )
                continue
            ndf = ndf.select(*keys).dropDuplicates()
            if self._table_counts.get(natom.pred, self.broadcast_threshold + 1) <= self.broadcast_threshold:
                ndf = F.broadcast(ndf)
            bound = bound.join(ndf, on=keys, how="left_anti")

        aggregate = rule.head_aggregate()
        if aggregate is not None:
            if not project:
                return bound
            return {rule.head.pred: self._project_aggregate(bound, rule.head, aggregate)}

        # existential head variables: deterministic labeled nulls — skolem
        # hash over the frontier (universal head vars), shared by all head
        # atoms of this rule (nemo Null op, tabular/operations/null.rs:152)
        evars = rule.existential_vars()
        if evars and self.chase == "restricted" and project:
            # (trace witnesses skip the blocking filter: the traced fact
            # itself would block its own re-derivation)
            # restricted chase (nemo default,
            # execution/planning/strategy/forward/restricted.rs): only
            # instantiate fresh nulls for bindings whose head conjunction is
            # not ALREADY satisfiable with existing facts — anti-join the
            # frontier against the joined head-atom matches
            bound = self._restricted_filter(rule, bound, bound_vars)
        if evars:
            frontier = sorted(
                {
                    t.name
                    for h in rule.heads()
                    for t in h.terms
                    if isinstance(t, Var) and not isinstance(t, EVar) and t.name in bound_vars
                }
            )
            salt_cols = [F.col(v) for v in frontier] or [F.lit(0)]
            label = self._label_of.get(id(rule)) or rule.name or rule.head.pred
            # typed-null detection: a constant-only body binds NO columns, so
            # probe the body's source tables too (a typed program must mint
            # typed Nulls even when the witness frame carries no variables)
            typed = _is_value_struct_df(bound) or (
                not bound.columns
                and any(
                    _is_value_struct_df(self._tables[a.pred])
                    for a in rule.body
                    if a.pred in self._tables
                )
            )
            for ev in evars:
                skolem = F.concat(
                    F.lit(f"{label}:{ev.name}:"), F.xxhash64(*salt_cols).cast("string")
                )
                if typed:
                    # typed labeled null (Value domain Null, canonical "_:...")
                    from nemo_spark.functions.typed import mk
                    from nemo_spark.model.values import T_NULL

                    bound = bound.withColumn(ev.name, mk(T_NULL, 0, 0.0, skolem))
                else:
                    bound = bound.withColumn(ev.name, F.concat(F.lit("_:"), skolem))

        if not project:
            return bound
        out: dict[str, DataFrame] = {}
        for h in rule.heads():
            proj = self._project_head(bound, h)
            out[h.pred] = out[h.pred].unionByName(proj) if h.pred in out else proj
        return out

    def _reduce_atom(
        self,
        rule: Rule,
        i: int,
        adf: DataFrame,
        delta: dict[str, DataFrame],
        delta_counts: dict[str, int],
        use_delta_atom: int | None,
        allow_shuffle: bool,
    ) -> DataFrame:
        """Yannakakis-style semi-join reduction of one large body atom (see
        ``semi_join_reduction`` in ``__init__``): semi-join its frame by the
        shared-variable projections of every SMALL (broadcastable)
        co-occurring positive atom, including the delta atom — in the
        semi-naive variants this is what keeps a huge EDB atom from entering
        the join unfiltered when the delta is tiny. Semi-joins only remove
        rows that cannot contribute to the final join, so this is sound for
        any body shape; for cyclic (triangle-class) queries it is what
        bounds the binary-join intermediates the reference avoids with its
        worst-case-optimal leapfrog join."""
        my_vars = {v.name for v in rule.body[i].variables()}
        for j, other in enumerate(rule.body):
            if j == i:
                continue
            if use_delta_atom is not None and j == use_delta_atom:
                osrc = delta[other.pred]
                ocnt = delta_counts.get(other.pred, self.broadcast_threshold + 1)
            elif other.pred in self._tables:
                osrc = self._tables[other.pred]
                ocnt = self._table_counts.get(other.pred, self.broadcast_threshold + 1)
            else:
                continue
            broadcastable = ocnt <= self.broadcast_threshold
            if not broadcastable and not allow_shuffle:
                continue  # only cheap (broadcastable) reducers
            shared = [v.name for v in _uniq(other.variables()) if v.name in my_vars]
            if not shared:
                continue
            keys = self._bind_atom(osrc, other).select(*shared).dropDuplicates()
            if broadcastable:
                keys = F.broadcast(keys)
            adf = adf.join(keys, on=shared, how="left_semi")
        return adf

    def _sparql_merge_groups(self, rule: Rule) -> tuple[dict[int, list[int]], set[int]]:
        """Group this rule's positive deferred-SPARQL atoms by endpoint
        (merge_sparql.rs eligibility: still deferred, default formats,
        all-variable terms, merged query constructible). Returns
        ({leader_index: [member indices]}, {consumed non-leader indices})."""
        from nemo_spark.sources.sparql import merge_sparql_imports

        by_endpoint: dict[str, list[int]] = {}
        for i, a in enumerate(rule.body):
            if a.pred not in self._deferred or a.pred in self._tables:
                continue
            info = getattr(self._deferred[a.pred], "sparql_info", None)
            if (
                info
                and info.get("formats") is None
                and all(isinstance(t, Var) for t in a.terms)
            ):
                by_endpoint.setdefault(info["endpoint"], []).append(i)
        groups: dict[int, tuple[str, str, list[str]]] = {}
        consumed: set[int] = set()
        for endpoint, idxs in by_endpoint.items():
            if len(idxs) < 2:
                continue
            specs = []
            for j in idxs:
                info = self._deferred[rule.body[j].pred].sparql_info
                specs.append(
                    (info["query"], info["variables"], [t.name for t in rule.body[j].terms])
                )
            merged = merge_sparql_imports(specs)
            if merged is None:
                continue  # unmergeable query shape: atoms load separately
            groups[idxs[0]] = (endpoint, merged[0], merged[1])
            consumed.update(idxs[1:])
        return groups, consumed

    def _merged_sparql_frame(
        self, endpoint: str, merged_q: str, out_names: list[str],
        bound: DataFrame | None, bound_vars: list[str],
    ) -> tuple[DataFrame, list[str]]:
        """Fetch one merged remote query for a merge group (precomputed by
        :meth:`_sparql_merge_groups`); columns renamed to the rule
        variables. Delegates to :func:`sparql_deferred_loader`, so the
        binding-pushdown contract (paged VALUES, empty-bindings
        short-circuit, semi-join fallback above max_pushdown_keys, NULL
        cells as UNDEF) has exactly one implementation. Restricted loads
        are per rule application; unrestricted loads cache per
        (endpoint, query)."""
        from nemo_spark.sources.sparql import (
            release_staging,
            sparql_deferred_loader,
            staging_mark,
        )

        loader = sparql_deferred_loader(self.spark, endpoint, out_names, merged_q)
        shared = (
            [(out_names.index(v), v) for v in bound_vars if v in set(out_names)]
            if bound is not None
            else []
        )
        if shared:
            keys = bound.select(*[n for _, n in shared]).dropDuplicates()
            df = loader((shared, keys))
            return df.toDF(*out_names).dropDuplicates(), out_names
        cache = getattr(self, "_merged_sparql_cache", None)
        if cache is None:
            cache = self._merged_sparql_cache = {}
        key = (endpoint, merged_q)
        if key not in cache:
            mark = staging_mark()
            df = loader(None)
            cache[key] = observed_checkpoint(df.toDF(*out_names).dropDuplicates())[0]
            release_staging(mark)
        return cache[key], out_names

    def _deferred_frame(
        self, atom: Atom, bound: DataFrame | None, bound_vars: list[str]
    ) -> DataFrame:
        """Load a deferred import for one rule application (see
        :meth:`register_deferred`). With bindings available, the loader gets
        the distinct keys of the shared variables and returns a restricted
        frame (per-application, uncached); without, the full frame loads
        once and the predicate becomes a plain table."""
        loader = self._deferred[atom.pred]
        shared: list[tuple[int, str]] = []
        if bound is not None:
            bv = set(bound_vars)
            seen: set[str] = set()
            for i, t in enumerate(atom.terms):
                if isinstance(t, Var) and t.name in bv and t.name not in seen:
                    seen.add(t.name)
                    shared.append((i, t.name))
        if not shared:
            from nemo_spark.sources.sparql import release_staging, staging_mark

            mark = staging_mark()
            df, seen = observed_checkpoint(loader(None))
            # the full load is materialized: any SPARQL pages staged for it
            # are dead weight from here on
            release_staging(mark)
            self._tables[atom.pred] = df
            self._schemas.setdefault(atom.pred, df.schema)
            self._table_counts[atom.pred] = seen["rows"]
            # fully loaded: from here on the predicate IS a plain table
            self._deferred.pop(atom.pred, None)
            return df
        keys = bound.select(*[F.col(n) for _, n in shared]).dropDuplicates()
        return loader((shared, keys))

    def _restricted_filter(self, rule: Rule, bound: DataFrame, bound_vars: list[str]) -> DataFrame:
        """Drop bindings whose head conjunction is already satisfied by
        existing facts (with any witness for the existential variables)."""
        match: DataFrame | None = None
        for h in rule.heads():
            if h.pred not in self._tables:
                return bound  # some head atom has no facts: nothing satisfied
            m = self._bind_atom(self._tables[h.pred], h)
            if match is None:
                match = m
            else:
                common = [c for c in match.columns if c in set(m.columns)]
                match = match.join(m, on=common, how="inner") if common else match.crossJoin(m)
        assert match is not None
        frontier = sorted(
            {
                t.name
                for h in rule.heads()
                for t in h.terms
                if isinstance(t, Var) and not isinstance(t, EVar) and t.name in bound_vars
            }
        )
        if not frontier:
            # no universal vars: blocked entirely iff the conjunction holds
            return bound.limit(0) if not match.isEmpty() else bound
        sat = match.select(*frontier).dropDuplicates()
        return bound.join(sat, on=frontier, how="left_anti")

    def _bind_atom(self, df: DataFrame, atom: Atom) -> DataFrame:
        """Rename positional cols to variable names; constants -> filters;
        repeated variables -> equality filters; non-variable cols projected
        away (nemo ProjectReorder + constant/equality column scans,
        ``columnar/operations/filter_constant.rs`` / ``filter_equal.rs``)."""
        n = self._arity[atom.pred]
        if len(atom.terms) != n:
            raise ValueError(f"atom {atom} arity mismatch (expected {n})")
        conds: list[Column] = []
        rename: dict[str, str] = {}
        seen_var: dict[str, str] = {}
        for i, t in enumerate(atom.terms):
            c = f"c{i}"
            if isinstance(t, Var):
                if t.name in seen_var:
                    conds.append(F.col(c) == F.col(seen_var[t.name]))
                else:
                    seen_var[t.name] = c
                    rename[c] = t.name
            elif isinstance(t, Aggregate):
                raise ValueError("aggregate terms are head-only")
            else:
                conds.append(F.col(c) == _lit_term(t))
        out = df
        for cond in conds:
            out = out.filter(cond)
        return out.select(*[F.col(c).alias(v) for c, v in rename.items()])

    def _project_head(self, bound: DataFrame, head: Atom) -> DataFrame:
        exprs = []
        null_guard: Column | None = None
        for i, t in enumerate(head.terms):
            if isinstance(t, Var):
                exprs.append(F.col(t.name).alias(f"c{i}"))
                g = F.col(t.name).isNotNull()
                null_guard = g if null_guard is None else (null_guard & g)
            else:
                exprs.append(_lit_term(t).alias(f"c{i}"))
        # error rows (null-valued assignments) are dropped here, once
        if null_guard is not None:
            bound = bound.filter(null_guard)
        return bound.select(*exprs).dropDuplicates()

    def _project_aggregate(self, bound: DataFrame, head: Atom, aggregate: Aggregate) -> DataFrame:
        """Nemo aggregate semantics: set-based — dedup on (group + distinct +
        aggregated) before aggregating (``tabular/operations/aggregate.rs:21-32``)."""
        group_vars = [t.name for t in head.terms if isinstance(t, Var)]
        extra = [v.name for v in aggregate.distinct]
        proj = _uniq_str(group_vars + extra + [aggregate.var.name])
        guard = None
        for v in proj:
            g = F.col(v).isNotNull()
            guard = g if guard is None else (guard & g)
        deduped = bound.filter(guard).select(*proj).dropDuplicates() if guard is not None else bound.select(*proj).dropDuplicates()
        if _is_value_struct(deduped.schema[aggregate.var.name].dataType):
            return self._project_aggregate_typed(bound, deduped, head, aggregate, group_vars)
        agg_col = _AGG_FN[aggregate.op](F.col(aggregate.var.name))
        if aggregate.op == "count":
            agg_col = agg_col.cast("long")
        elif aggregate.op == "sum":
            # nemo's #sum keeps the operand's numeric type (sum of doubles is
            # a double) — only integral inputs get the exact i64 sum
            from pyspark.sql.types import IntegralType

            if isinstance(deduped.schema[aggregate.var.name].dataType, IntegralType):
                agg_col = agg_col.cast("long")
        agg_alias = "__agg__"
        res = deduped.groupBy(*group_vars).agg(agg_col.alias(agg_alias)) if group_vars else deduped.agg(agg_col.alias(agg_alias))
        exprs = []
        for i, t in enumerate(head.terms):
            if isinstance(t, Aggregate):
                exprs.append(F.col(agg_alias).alias(f"c{i}"))
            elif isinstance(t, Var):
                exprs.append(F.col(t.name).alias(f"c{i}"))
            else:
                exprs.append(_lit_term(t).alias(f"c{i}"))
        return res.select(*exprs)

    def _project_aggregate_typed(
        self, bound: DataFrame, deduped: DataFrame, head: Atom, aggregate: Aggregate,
        group_vars: list[str],
    ) -> DataFrame:
        """Aggregation over typed value structs. min/max are
        ``min_by``/``max_by`` under nemo's cross-domain AnyDataValue order
        (``Value.sort_key_bytes``): the Catalyst key :func:`_order_key_col`
        when every aggregated value is atomic and no float is NaN, else the
        byte key :func:`_sort_key_col` (element-wise tuple/map comparison —
        the raw struct ordering would sort tuples by canonical string). One
        probe job over ``bound`` picks the key. count wraps the row count as
        an integer value; sum follows the numeric dispatch (all-int => i64,
        floats-only => f32, otherwise f64)."""
        from nemo_spark.functions import typed as TY
        from nemo_spark.model.values import T_DOUBLE, T_FLOAT, T_INT

        col = F.col(aggregate.var.name)
        agg_alias = "__agg__"
        if aggregate.op in ("min", "max"):
            by = F.min_by if aggregate.op == "min" else F.max_by
            # a top-1 sort runs ONE job over every partition (limit(1) alone
            # would scan in growing waves of jobs)
            probe = bound.where(_needs_byte_key(col)).select(col.getField("t").alias("t"))
            key = _sort_key_col(col) if probe.orderBy("t").limit(1).collect() else _order_key_col(col)
            aggs = [by(col, key).alias(agg_alias)]
            wrap = F.col(agg_alias)
        elif aggregate.op == "count":
            aggs = [F.count(col).alias(agg_alias)]
            wrap = TY.mk(T_INT, F.col(agg_alias), 0.0, "")
        else:  # sum
            from nemo_spark.model.values import T_ULONG

            aggs = [
                F.sum(F.when(col.getField("t") == T_INT, col.getField("i"))).alias("__si"),
                F.sum(F.when(col.getField("t").isin(T_FLOAT, T_DOUBLE), col.getField("d"))).alias("__sd"),
                # u64 values beyond i64 (wrapped payloads): summed in f64
                # (they cannot contribute to an exact i64 total anyway)
                F.sum(
                    F.when(
                        col.getField("t") == T_ULONG,
                        col.getField("i").cast("double") + F.lit(float(1 << 64)),
                    )
                ).alias("__su"),
                F.count(F.when(col.getField("t") == T_FLOAT, F.lit(1))).alias("__nf"),
                F.count(F.when(col.getField("t") == T_DOUBLE, F.lit(1))).alias("__nd"),
                F.count(F.when(col.getField("t") == T_INT, F.lit(1))).alias("__ni"),
                F.count(F.when(col.getField("t") == T_ULONG, F.lit(1))).alias("__nu"),
            ]
            total_d = (
                F.coalesce(F.col("__sd"), F.lit(0.0))
                + F.coalesce(F.col("__su"), F.lit(0.0))
                + F.coalesce(F.col("__si"), F.lit(0).cast("long")).cast("double")
            )
            ints_only = (F.col("__nf") == 0) & (F.col("__nd") == 0)
            wrap = (
                # any u64-range operand makes an exact i64 total impossible:
                # integer-only groups containing one are no-result (overflow),
                # matching checked i64 summation; previously ULONG rows were
                # silently EXCLUDED from the total
                F.when(ints_only & (F.col("__nu") == 0), TY.wrap_int(F.col("__si")))
                .when(ints_only, F.lit(None).cast(_VALUE_SCHEMA_T()))
                .when(
                    (F.col("__ni") == 0) & (F.col("__nd") == 0) & (F.col("__nu") == 0),
                    TY.wrap_float(total_d),
                )
                .otherwise(TY.wrap_double(total_d))
            )
        res = deduped.groupBy(*group_vars).agg(*aggs) if group_vars else deduped.agg(*aggs)
        exprs = []
        for i, t in enumerate(head.terms):
            if isinstance(t, Aggregate):
                exprs.append(wrap.alias(f"c{i}"))
            elif isinstance(t, Var):
                exprs.append(F.col(t.name).alias(f"c{i}"))
            else:
                exprs.append(_lit_term(t).alias(f"c{i}"))
        # a null aggregate value (e.g. sum over an empty/non-numeric set)
        # means "no result" for that group
        out = res.select(*exprs)
        agg_idx = next(i for i, t in enumerate(head.terms) if isinstance(t, Aggregate))
        return out.filter(F.col(f"c{agg_idx}").isNotNull())

    # ------------------------------------------------------------ bookkeeping

    def _merge(self, pred: str, derived: DataFrame) -> tuple[DataFrame, int]:
        """Dedup derived facts against history; merge; return (fresh, count).

        nemo: new := candidate \\ union(all prior subtables)
        (``planning/operations/duplicates.rs:24-46``).
        """
        # localCheckpoint rather than persist: truncates the logical plan
        # every round — without this, round t's plan embeds round t-1's join
        # trees recursively and analysis cost grows exponentially. The fresh
        # rows are counted by an observation of the checkpoint's own job
        # (observed_checkpoint): one action per merge, whose AQE map stages
        # (the dedup and anti-join exchanges) run as jobs of their own.
        if self.bucket_history and (
            pred in self._history_tables
            or self._table_counts.get(pred, 0) >= self.bucket_history_threshold
        ):
            return self._merge_bucketed(pred, derived)
        if pred in self._tables:
            existing = self._tables[pred]
            # null-safe per-column condition: a plain `on=columns` anti-join
            # never matches rows with SQL NULLs, so such facts would be
            # re-derived as "fresh" every round and the fixpoint would spin
            d = derived.dropDuplicates().alias("__d")
            cond = None
            for c in existing.columns:
                cc = F.col(f"__d.{c}").eqNullSafe(F.col(f"__e.{c}"))
                cond = cc if cond is None else (cond & cc)
            fresh, seen = observed_checkpoint(d.join(existing.alias("__e"), on=cond, how="left_anti"))
            cnt = seen["rows"]
            if cnt:
                self._tables[pred] = existing.unionByName(fresh)
                self._table_counts[pred] = self._table_counts.get(pred, 0) + cnt
        else:
            fresh, seen = observed_checkpoint(derived.dropDuplicates())
            cnt = seen["rows"]
            self._schemas.setdefault(pred, fresh.schema)
            if cnt:
                self._tables[pred] = fresh
                self._table_counts[pred] = cnt
        return fresh, cnt

    def history_table_name(self, pred: str) -> str | None:
        return self._history_tables.get(pred)

    def _merge_bucketed(self, pred: str, derived: DataFrame) -> tuple[DataFrame, int]:
        """Dedup-vs-history with a bucketed managed table as the history.

        The history side of the anti-join is scanned in its bucket layout
        (no Exchange above it in the physical plan — asserted by tests);
        fresh rows append to the table, preserving the bucket spec. The
        delta side is the only thing shuffled per round.

        Engaged per-predicate once the accumulated history crosses
        ``bucket_history_threshold`` (see ``__init__``): on first entry any
        in-memory history accumulated below the threshold is migrated into
        the bucket layout once, and every later round appends."""
        import re as _re

        cols = list(derived.columns)
        tbl = self._history_tables.get(pred)
        if tbl is None and pred in self._tables:
            # threshold crossed mid-fixpoint: migrate accumulated history
            # into the bucketed layout (one write, amortized over every
            # remaining round's exchange-free anti-join)
            tbl = f"nemo_hist_{self._uid}_{_re.sub('[^A-Za-z0-9_]', '_', pred)}"
            self._tables[pred].write.bucketBy(
                self.bucket_history, cols[0], *cols[1:]
            ).mode("overwrite").format("parquet").saveAsTable(tbl)
            self._history_tables[pred] = tbl
            self._tables[pred] = self.spark.table(tbl)
        if tbl is None:
            tbl = f"nemo_hist_{self._uid}_{_re.sub('[^A-Za-z0-9_]', '_', pred)}"
            fresh, seen = observed_checkpoint(derived.dropDuplicates())
            cnt = seen["rows"]
            self._schemas.setdefault(pred, fresh.schema)
            if cnt:
                fresh.write.bucketBy(self.bucket_history, cols[0], *cols[1:]).mode(
                    "overwrite"
                ).format("parquet").saveAsTable(tbl)
                self._history_tables[pred] = tbl
                self._tables[pred] = self.spark.table(tbl)
                self._table_counts[pred] = cnt
            return fresh, cnt
        existing = self.spark.table(tbl)
        # PLAIN equi-join keys on purpose: they match the bucket spec, so
        # the history scan is read co-partitioned (no Exchange — asserted by
        # tests); eqNullSafe keys would be rewritten to coalesce/isnull
        # expressions, which disables the bucketed read. Plain `on=` never
        # matches SQL NULLs, but derived facts can't contain them: head
        # projection drops NULL-bearing rows (_project_head null_guard,
        # nemo's error-row semantics), so every row reaching a merge is
        # fully non-NULL — asserted by test_null_head_vars_dropped.
        fresh, seen = observed_checkpoint(derived.dropDuplicates().join(existing, on=cols, how="left_anti"))
        cnt = seen["rows"]
        if cnt:
            fresh.write.bucketBy(self.bucket_history, cols[0], *cols[1:]).mode(
                "append"
            ).format("parquet").saveAsTable(tbl)
            self._tables[pred] = self.spark.table(tbl)
            self._table_counts[pred] = self._table_counts.get(pred, 0) + cnt
        return fresh, cnt

    def _checkpoint(self, pred: str, df: DataFrame, round_idx: int) -> DataFrame:
        if self.checkpoint_store is not None:
            return self.checkpoint_store.snapshot(pred, df, round_idx)
        return df.localCheckpoint(eager=True)

    def _record(self, stratum: int, round_idx: int, rule: str, cnt: int, wall: float) -> None:
        self.stats.rounds = max(self.stats.rounds, round_idx + 1)
        self.stats.derived_total += cnt
        self.stats.per_rule.append(RoundMetrics(stratum, round_idx, rule, cnt, wall))
        log.debug("stratum=%d round=%d rule=%s derived=%d %.2fs", stratum, round_idx, rule, cnt, wall)

    def _empty(self, arity: int, pred: str | None = None) -> DataFrame:
        if pred is not None and pred in self._schemas:
            return local_frame(self.spark, [], self._schemas[pred])
        return local_frame(self.spark, [], ", ".join(f"{c} string" for c in _cols(max(arity, 1))))


def _order_key_col(col: Column) -> Column:
    """Catalyst ordering key of a value struct column that sorts exactly
    like ``Value.sort_key_bytes`` on atomic values whose float payload is
    not NaN: a struct of the tag, the integer payload (INT, ULONG as stored
    — its wrapped i64 keeps the u64 order — and BOOLEAN), ``d + 0.0``
    (FLOAT, DOUBLE; -0.0 ties 0.0) and the string payload (IRI, STRING,
    NULL, LANG, OTHER). Spark compares structs field by field and strings
    as UTF-8 bytes, which is the byte key's order; a LANG/OTHER payload
    ``text NUL tag`` compares like the key's escaped (text, tag) pair
    because the split is at its first NUL. Payload fields the tag does not
    use are masked, so they never break a tie the byte key calls equal.
    NULL cells get a NULL key (min_by/max_by skip them)."""
    from nemo_spark.model.values import (
        T_BOOLEAN,
        T_DOUBLE,
        T_FLOAT,
        T_INT,
        T_IRI,
        T_LANG,
        T_NULL,
        T_OTHER,
        T_STRING,
        T_ULONG,
    )

    t = col.getField("t")
    key = F.struct(
        t.alias("t"),
        F.when(t.isin(T_INT, T_ULONG, T_BOOLEAN), col.getField("i")).alias("i"),
        F.when(t.isin(T_FLOAT, T_DOUBLE), col.getField("d") + F.lit(0.0)).alias("d"),
        F.when(t.isin(T_IRI, T_STRING, T_NULL, T_LANG, T_OTHER), col.getField("s")).alias("s"),
    )
    return F.when(col.isNotNull(), key)


def _needs_byte_key(col: Column) -> Column:
    """True on the value cells :func:`_order_key_col` cannot order exactly:
    tuples and maps (element-wise order), and NaN floats (the byte key
    orders a NaN by its sign bit, Spark puts every NaN last)."""
    from nemo_spark.model.values import T_DOUBLE, T_FLOAT, T_MAP, T_TUPLE

    t = col.getField("t")
    return t.isin(T_TUPLE, T_MAP) | (t.isin(T_FLOAT, T_DOUBLE) & F.isnan(col.getField("d")))


_SORT_KEY_UDF = None


def _sort_key_col(col: Column) -> Column:
    """Order-preserving byte key (``Value.sort_key_bytes``) for a value
    struct column, via an Arrow-batched pandas UDF (a Python worker) over
    the FLATTENED fields — ``i`` travels as Catalyst's exact bigint->string
    cast because a batch containing any NULL cell reaches pandas as float64
    and would corrupt int64 magnitudes above 2^53 (same trap as the export
    serializer's _flatten_values). The typed #min/#max path uses it only
    when :func:`_needs_byte_key` finds a tuple, map or NaN cell."""
    global _SORT_KEY_UDF
    if _SORT_KEY_UDF is None:
        import pandas as pd

        from nemo_spark.model.values import Value

        def f(t, i, d, s):
            # a NULL struct cell arrives as NaN fields: emit a null key
            # (min_by/max_by skip null ordering keys, matching min/max)
            return pd.Series(
                [
                    None if pd.isna(tt) else Value(int(tt), int(ii), float(dd), ss).sort_key_bytes()
                    for tt, ii, dd, ss in zip(t, i, d, s)
                ]
            )

        _SORT_KEY_UDF = F.pandas_udf(f, "binary")
    return _SORT_KEY_UDF(
        col.getField("t"),
        col.getField("i").cast("string"),
        col.getField("d"),
        col.getField("s"),
    )


def _body_is_cyclic(atoms: list[Atom]) -> bool:
    """Is the body's join hypergraph cyclic (not alpha-acyclic)?

    GYO reduction: repeatedly (a) drop variables that occur in only one
    hyperedge (ears' private variables) and (b) drop hyperedges contained
    in another. The body is acyclic iff at most one non-empty edge remains.
    Cyclic bodies (triangles and friends) are where binary join plans build
    intermediates larger than the output — the case the reference handles
    with its worst-case-optimal leapfrog join (join.rs:196) and we handle
    with shuffled semi-join reducers."""
    from collections import Counter

    edges = [frozenset(v.name for v in a.variables()) for a in atoms]
    edges = [e for e in edges if e]
    while len(edges) > 1:
        occurrences = Counter(v for e in edges for v in e)
        pruned = [frozenset(v for v in e if occurrences[v] > 1) for e in edges]
        pruned = [e for e in pruned if e]
        if pruned != edges:
            edges = pruned
            continue
        for i, e in enumerate(edges):
            if any(i != j and e <= f for j, f in enumerate(edges)):
                edges.pop(i)
                break
        else:
            return True  # irreducible: no ear left to remove
    return False


def semi_join_loader(frame: DataFrame) -> Any:
    """Default deferred-import loader: restrict the import frame by a
    broadcast LEFT SEMI join against the current binding keys, so the
    import scan is filtered BEFORE entering the rule's main join (the
    generic half of nemo's join_imports; plan-asserted by tests). Sources
    that can evaluate the restriction themselves (SPARQL VALUES, JDBC
    predicates, Iceberg partition filters) should push it instead."""

    def loader(bindings: tuple[list[tuple[int, str]], DataFrame] | None) -> DataFrame:
        if bindings is None:
            return frame
        shared, keys = bindings
        cond = None
        for posn, name in shared:
            c = F.col(f"__imp.c{posn}") == F.col(f"__bind.{name}")
            cond = c if cond is None else (cond & c)
        # size-gate the broadcast hint: binding keys are usually
        # dimension-sized (distinct join-column values), but a rule binding
        # tens of millions of keys mid-fixpoint must not be force-broadcast
        # into driver memory — past the cap, let AQE pick the semi-join
        # strategy (the probe is one limit-bounded job)
        cap = 2_000_000
        kside = keys.alias("__bind")
        if keys.limit(cap + 1).count() <= cap:
            kside = F.broadcast(kside)
        return frame.alias("__imp").join(kside, on=cond, how="left_semi")

    return loader


def _py_const_matches_spark_type(t: Any, dtype: Any) -> bool:
    """Would strict Python equality on this constant agree with Spark's
    implicit-cast equality against a column of ``dtype``?"""
    from pyspark.sql.types import BooleanType, NumericType, StringType

    if isinstance(t, bool):
        return isinstance(dtype, BooleanType)
    if isinstance(t, (int, float)):
        return isinstance(dtype, NumericType)
    if isinstance(t, str):
        return isinstance(dtype, StringType)
    return False  # unknown shape: stay distributed


def _lit_term(t: Any) -> Column:
    """Literal column for a constant term: typed Values get struct literals;
    collected value-struct Rows (trace witnesses) convert the same way
    (F.lit on a Row builds an ARRAY literal that cannot compare against a
    struct column)."""
    from pyspark.sql import Row

    from nemo_spark.model.values import Value

    if isinstance(t, Row) and set(t.__fields__) == {"t", "i", "d", "s"}:
        t = Value(t["t"], t["i"], t["d"], t["s"])
    if isinstance(t, Value):
        from nemo_spark.functions.typed import lit_value

        return lit_value(t)
    return F.lit(t)


def _is_value_struct(dtype: Any) -> bool:
    from pyspark.sql.types import StructType

    return isinstance(dtype, StructType) and [f.name for f in dtype.fields] == ["t", "i", "d", "s"]


def _is_value_struct_df(df: DataFrame) -> bool:
    return any(_is_value_struct(f.dataType) for f in df.schema.fields)


def _colmap(df: DataFrame) -> dict[str, Column]:
    return {c: F.col(c) for c in df.columns}


def _uniq(vs: list[Var]) -> list[Var]:
    seen: set[str] = set()
    out = []
    for v in vs:
        if v.name not in seen:
            seen.add(v.name)
            out.append(v)
    return out


def _uniq_str(xs: list[str]) -> list[str]:
    seen: set[str] = set()
    return [x for x in xs if not (x in seen or seen.add(x))]
