"""Execute a parsed ``.rls`` program end-to-end on Spark.

The Spark-native counterpart of the reference CLI (``nmo program.rls``,
``nemo-cli/src/main.rs:154+``): parse -> compile -> attach imports (typed DSV
/ RDF readers) -> semi-naive fixpoint -> export / inspect tables. All values
flow as typed structs (model/values.py), so exported cells reproduce nemo's
DSV serialization byte-for-byte.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nemo_spark.engine.seminaive import SemiNaiveEngine
from nemo_spark.model.values import T_INT, T_IRI, T_STRING, Value
from nemo_spark.parser.compile import CompiledProgram, CompileError, GroundEval, compile_program
from nemo_spark.parser.rls import TVar, parse_rls
from nemo_spark.session import run_concurrently
from nemo_spark.sources.dsv_typed import (
    empty_typed_df,
    peek_field_count,
    read_dsv_typed,
    typed_rows_df,
)

_EXT = {
    "csv": "csv", "tsv": "tsv", "dsv": "dsv",
    "ntriples": "nt", "nquads": "nq", "turtle": "ttl", "trig": "trig",
    "rdfxml": "rdf", "rdf": "nt",
}
_DELIM = {"csv": ",", "tsv": "\t"}
_RDF_FMTS = ("ntriples", "nquads", "turtle", "trig", "rdfxml", "rdf")


@contextmanager
def _interpreted_expressions(spark: SparkSession):
    """Scope codegen-off to a parity run (save/restore, never session-wide).

    Typed-value expressions (casts, canonical serialization) exceed the
    JVM's 64KB generated-method limit; janino then spends seconds per stage
    FAILING to compile before falling back to interpreted eval. Inside a
    testcase-sized parity run, skipping the doomed compilation attempts is
    strictly faster — but it must not leak: any other workload evaluated on
    the same session afterwards gets its own (codegen-on) settings back."""
    keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    saved = []
    for k in keys:
        try:
            saved.append(spark.conf.get(k))
        except Exception:
            saved.append(None)
    spark.conf.set(keys[0], "false")
    spark.conf.set(keys[1], "NO_CODEGEN")
    try:
        yield
    finally:
        for k, v in zip(keys, saved):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _select_vars(query: str) -> list[str] | None:
    """Projected variable names of an explicit SELECT clause, in order
    (None for SELECT * / non-SELECT forms — those stay eager)."""
    m = re.search(r"SELECT\s+((?:\?\w+\s*)+)\s*WHERE", query, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    return re.findall(r"\?(\w+)", m.group(1))


def sanitize_pred(pred: str) -> str:
    """Export filename sanitization (IRIs become file-safe names, e.g.
    ``https://example.org/result`` -> ``https___example.org_result`` as in
    the reference's golden layout)."""
    return re.sub(r"[^A-Za-z0-9_.\-]", "_", pred)


class RlsRunner:
    def __init__(
        self,
        spark: SparkSession,
        rls_path: str | None = None,
        source: str | None = None,
        workdir: str | None = None,
        chase: str = "restricted",
        local_stratum_threshold: int = 100_000,
        params: dict | None = None,
        trace: bool = False,
    ) -> None:
        """``params`` overrides ``@parameter`` defaults (``nmo --param
        key=value``, nemo-cli/src/cli.rs:220): values are rls ground-term
        strings (or Values); unknown keys and missing expressionless
        parameters are loud compile errors. ``trace=True`` records rule
        provenance for ``trace_fact``/``trace_tree`` (``nmo --trace``)."""
        self.spark = spark
        if source is None:
            with open(rls_path) as f:
                source = f.read()
            workdir = workdir or os.path.dirname(os.path.abspath(rls_path))
        self.workdir = workdir or "."
        self.ast = parse_rls(source)
        from nemo_spark.parser.filter_imports import internalize_filter_imports

        internalize_filter_imports(self.ast)
        self.compiled: CompiledProgram = compile_program(self.ast, params=params)
        self.engine = SemiNaiveEngine(
            spark, chase=chase, local_stratum_threshold=local_stratum_threshold, trace=trace
        )
        self._ran = False

    # ------------------------------------------------------------- imports

    def _option_value(self, imp, key, default=None):
        node = imp.options.get(key)
        if node is None:
            return default
        if isinstance(node, tuple):
            return tuple(self._eval_option_node(n, imp) for n in node)
        return self._eval_option_node(node, imp)

    def _eval_option_node(self, node, imp) -> Value:
        from nemo_spark.parser.rls import TCall, TFString, TName

        # env/GroundEval cached per import AST: each option lookup was
        # rebuilding the resolver and re-evaluating every import-body
        # assignment (6+ lookups per DSV import)
        cache = getattr(self, "_opt_env_cache", None)
        if cache is None:
            cache = self._opt_env_cache = {}
        cached = cache.get(id(imp))
        if cached is not None:
            env, ge = cached
        else:
            env = {}
            ge = GroundEval(_ResolverView(self.compiled), self.compiled.params)
            for item in getattr(imp, "body", []):
                kind, e = item if isinstance(item, tuple) else ("expr", item)
                if (
                    isinstance(e, TCall)
                    and e.fn == "EQUALITY"
                    and isinstance(e.args[0], TVar)
                ):
                    env[e.args[0].name] = ge.eval(e.args[1])
            cache[id(imp)] = (env, ge)

        def ev(n):
            if isinstance(n, TName) and n.name not in ("true", "false"):
                # option keyword values (csv, gzip, string, int, ...) are
                # enum tokens, NOT IRIs to resolve: a program-level @base
                # must not expand format=(string, int) into
                # 'http://base/string' (which breaks the parser lookups)
                return Value.iri(n.name)
            if isinstance(n, TVar):
                if n.name not in env:
                    raise CompileError(f"unbound option variable ?{n.name}")
                return env[n.name]
            if isinstance(n, TFString):
                out = []
                for p in n.parts:
                    out.append(p if isinstance(p, str) else ev(p).lexical())
                return Value.string("".join(out))
            if isinstance(n, TCall):
                from nemo_spark.parser.compile import _GROUND_FNS

                fn = _GROUND_FNS.get(n.fn)
                if fn is None:
                    raise CompileError(f"option fn {n.fn} unsupported")
                return fn(*[ev(a) for a in n.args])
            return ge.eval(n)

        return ev(node)

    def _formats(self, imp, arity_hint: int | None) -> list[str]:
        fmt = self._option_value(imp, "format")
        if fmt is not None:
            if isinstance(fmt, tuple):
                return [v.lexical() for v in fmt]
            return [fmt.lexical()]
        n = arity_hint
        if n is None:
            res = self._resource(imp)
            n = peek_field_count(self.spark, res, self._delimiter(imp))
        return ["any"] * n

    def _delimiter(self, imp) -> str:
        if imp.fmt in _DELIM:
            return _DELIM[imp.fmt]
        d = self._option_value(imp, "delimiter")
        return d.lexical() if d is not None else ","

    def _resource(self, imp) -> str:
        r = self._option_value(imp, "resource")
        if r is None:
            name = sanitize_pred(imp.pred) + "." + _EXT.get(imp.fmt, imp.fmt)
            return os.path.join(self.workdir, name)
        path = r.lexical()
        if path == "":
            # empty resource = the stdin pipe (nemo-physical/src/resource.rs:400
            # ResourceBuilder::try_from "" -> Resource::Pipe;
            # resource_providers/stdin.rs)
            return self._stage_stdin()
        if re.match(r"^https?://", path):
            # HTTP resource provider (resource_providers/http.rs): one
            # driver-side GET, staged to a local temp file that Spark then
            # reads distributed (keeps the extension so .gz decompression
            # still applies). A remote HTTP file is a single-server source;
            # staging once is the right cluster behavior too.
            return self._stage_http(path)
        if re.match(r"^[a-z][a-z0-9+.-]*://", path):
            return path
        path = os.path.join(self.workdir, path)
        if self._compression(imp) == "gzip" and not path.endswith(".gz"):
            # explicit compression=gzip on a non-.gz name: Spark infers the
            # codec from the extension, so stage a .gz-suffixed link/copy
            # (compression_format.rs gzip; extension-independent in nemo)
            import shutil
            import tempfile

            cache = getattr(self, "_gz_cache", None)
            if cache is None:
                cache = self._gz_cache = {}
            if path not in cache:
                fd, p = tempfile.mkstemp(prefix="nemo_gz_", suffix=".gz")
                os.close(fd)
                try:
                    os.remove(p)
                    os.symlink(os.path.abspath(path), p)
                except OSError:
                    shutil.copyfile(path, p)
                cache[path] = p
            return cache[path]
        return path

    def _stage_stdin(self) -> str:
        import sys
        import tempfile

        if getattr(self, "_stdin_path", None) is None:
            fd, p = tempfile.mkstemp(prefix="nemo_stdin_", suffix=".dat")
            with os.fdopen(fd, "w") as f:
                f.write(sys.stdin.read())
            self._stdin_path = p
        return self._stdin_path

    def _stage_http(self, url: str) -> str:
        import tempfile
        import urllib.request

        cache = getattr(self, "_http_cache", None)
        if cache is None:
            cache = self._http_cache = {}
        if url not in cache:
            suffix = os.path.basename(url.split("?", 1)[0])
            suffix = "_" + re.sub(r"[^A-Za-z0-9_.\-]", "_", suffix)
            fd, p = tempfile.mkstemp(prefix="nemo_http_", suffix=suffix)
            req = urllib.request.Request(url)
            with urllib.request.urlopen(req, timeout=120) as resp, os.fdopen(fd, "wb") as f:
                f.write(resp.read())
            cache[url] = p
        return cache[url]

    def _compression(self, node) -> str:
        c = self._option_value(node, "compression")
        if c is None:
            return "none"
        name = c.lexical()
        if name not in ("none", "gzip"):
            raise CompileError(f"unsupported compression {name!r} (compression_format.rs)")
        return name

    def _import_reader(self, imp, arity_hint: int | None) -> tuple[Callable[[], DataFrame], int]:
        """Resolve one import on the calling thread and return its reader
        call, still to be made, with the import's arity.

        Resolution covers the resource (the stdin, HTTP and gzip staging
        caches are check-then-set, so not thread-safe), the formats (with
        the arity hint or a ``peek_field_count`` probe) and every option. A
        DSV reader call is left to the caller, who may run several at once;
        the other formats read here, since their arity comes from the
        frame."""
        res = self._resource(imp)
        lim = self._option_value(imp, "limit")

        def limited(df: DataFrame) -> DataFrame:
            # StandardParameter::Limit (reference DsvReader/RdfReader limit:
            # stop after N records; Spark's limit picks N rows without a
            # file-order guarantee — same cardinality contract)
            return df if lim is None else df.limit(lim.int_value())

        if imp.fmt in ("csv", "tsv", "dsv"):
            fmts = self._formats(imp, arity_hint)
            quoting = self._option_value(imp, "quoting")
            ignore_headers = self._option_value(imp, "ignore_headers")
            options = dict(
                delimiter=self._delimiter(imp),
                quoting=(quoting is None or quoting.lexical() == "true"),
                ignore_headers=(ignore_headers is not None and ignore_headers.lexical() == "true"),
            )
            return (
                lambda: limited(read_dsv_typed(self.spark, res, fmts, **options)),
                len([f for f in fmts if f != "skip"]),
            )
        df, n = self._read_non_dsv(imp, res)
        df = limited(df)
        return lambda: df, n

    def _read_non_dsv(self, imp, res: str) -> tuple[DataFrame, int]:
        if imp.fmt in ("rdf", "ntriples", "turtle", "nquads", "trig", "rdfxml"):
            from nemo_spark.sources.rdf_typed import read_rdf_typed

            df = read_rdf_typed(self.spark, res, imp.fmt)
            return df, len(df.columns)
        if imp.fmt == "json":
            from nemo_spark.sources.json_typed import read_json_typed

            rules = getattr(imp, "filter_rules", None)
            if rules:
                from nemo_spark.parser.filter_imports import build_patterns

                ge = GroundEval(_ResolverView(self.compiled), self.compiled.params)
                patterns, arity = build_patterns(rules, ge)
                # the internalized rules' head facts were set-semantic IDB
                # derivations before the rewrite; keep that observable
                # behavior (reference: rows land in a trie, a set)
                df = read_json_typed(self.spark, res, patterns=patterns).dropDuplicates()
                return df, arity
            return read_json_typed(self.spark, res), 3
        if imp.fmt == "sparql":
            from nemo_spark.sources.sparql import read_sparql_typed

            endpoint, q, fmts = self._sparql_params(imp)
            df = read_sparql_typed(self.spark, endpoint, q, formats=fmts)
            return df, len(df.columns)
        raise CompileError(f"unsupported import format {imp.fmt}")

    def _sparql_params(self, imp) -> tuple[str, str, list[str] | None]:
        from nemo_spark.sources.sparql import QUERY_DEFAULT

        endpoint = self._option_value(imp, "endpoint")
        if endpoint is None:
            raise CompileError("sparql import requires endpoint= (sparql.rs:69)")
        q = self._option_value(imp, "query")
        fmt_opt = self._option_value(imp, "format")
        fmts = None
        if fmt_opt is not None:
            fmts = (
                [v.lexical() for v in fmt_opt]
                if isinstance(fmt_opt, tuple)
                else [fmt_opt.lexical()]
            )
        return (
            endpoint.lexical(),
            q.lexical() if q is not None else QUERY_DEFAULT,
            fmts,
        )

    # ------------------------------------------------------------------ run

    def run(self) -> "RlsRunner":
        if self._ran:
            # idempotent, like repeated NemoEngine.reason(): the fixpoint is
            # already materialized; a second import pass would re-register
            # tables (rejected for deferred predicates) for no new facts
            return self
        with _interpreted_expressions(self.spark):
            arities = dict(self.compiled.program.predicates())
            for pred, rows in self.compiled.fact_rows.items():
                arities.setdefault(pred, len(rows[0]) if rows else 1)

            frames: dict[str, DataFrame] = {}
            deferred: set[str] = set()
            idb = self.compiled.program.idb_predicates()
            # dead-rule/import pruning targets (active.rs / filter_imports.rs):
            # @output and @export predicates; none declared = everything is
            # an output and nothing prunes (set_default_outputs.rs)
            targets = set(self.compiled.outputs) | {
                exp.pred for exp in self.compiled.exports
            }
            required = self.compiled.program.required(targets)[0] if targets else None
            import_count: dict[str, int] = {}
            readers: list[tuple[str, Callable[[], DataFrame]]] = []
            for imp in self.compiled.imports:
                import_count[imp.pred] = import_count.get(imp.pred, 0) + 1
            for imp in self.compiled.imports:
                if required is not None and imp.pred not in required:
                    # the import feeds no rule reachable from any output:
                    # never read the resource (reference drops the import
                    # statement itself)
                    continue
                # SPARQL imports are the reference's deferred-import case
                # (join_imports over a remote source): register them lazily
                # so rule bodies restrict them via pushed VALUES instead of
                # eagerly pulling the whole endpoint. Only when the predicate
                # is purely this one import (no union with facts/files/IDB)
                # and the SELECT projection is explicit (arity known).
                if (
                    imp.fmt == "sparql"
                    and import_count[imp.pred] == 1
                    and imp.pred not in self.compiled.fact_rows
                    and imp.pred not in idb
                    # options beyond endpoint/query (limit, format, ...)
                    # need the eager path's option handling
                    and set(imp.options) <= {"endpoint", "query"}
                ):
                    endpoint, q, fmts = self._sparql_params(imp)
                    vars_ = _select_vars(q)
                    if vars_ and fmts is None:
                        from nemo_spark.sources.sparql import sparql_deferred_loader

                        self.engine.register_deferred(
                            imp.pred,
                            sparql_deferred_loader(self.spark, endpoint, vars_, q),
                            len(vars_),
                        )
                        arities.setdefault(imp.pred, len(vars_))
                        deferred.add(imp.pred)
                        continue
                read, n = self._import_reader(imp, arities.get(imp.pred))
                arities.setdefault(imp.pred, n)
                readers.append((imp.pred, read))
            # every import is resolved; only the reader calls (one probe job
            # per DSV file) are submitted together, and their frames are
            # unioned in program order
            loaded = run_concurrently(self.spark, lambda r: r[1](), readers)
            for (pred, _), df in zip(readers, loaded):
                frames[pred] = frames[pred].unionByName(df) if pred in frames else df
            for pred, rows in self.compiled.fact_rows.items():
                df = typed_rows_df(self.spark, rows, arities[pred])
                frames[pred] = frames[pred].unionByName(df) if pred in frames else df
            # declared-but-empty predicates referenced in rule bodies
            for pred, n in arities.items():
                if pred not in frames and pred not in deferred and pred not in idb:
                    frames[pred] = empty_typed_df(self.spark, n)
            self.engine.register_all(frames)
            self.engine.run(self.compiled.program, outputs=targets or None)
        self._ran = True
        return self

    def table(self, pred: str) -> DataFrame:
        return self.engine.table(pred)

    def trace(self, fact: str) -> dict | None:
        """Derivation tree for a fact written in rule syntax, e.g.
        ``"P(a, 2)"`` (``nmo --trace``, nemo-cli/src/cli.rs:164: facts are
        parsed with the program's prefixes). Requires ``trace=True`` at
        construction; returns None for unknown facts."""
        from nemo_spark.parser.rls import parse_rls as _parse

        ast = _parse(fact.strip().rstrip(".") + " .")
        if not ast.facts:
            raise CompileError(f"not a fact: {fact!r}")
        fatom = ast.facts[0]
        view = _ResolverView(self.compiled)
        ge = GroundEval(view, self.compiled.params)
        vals = tuple(ge.eval(t) for t in fatom.terms)
        return self.engine.trace_tree(view.pred(fatom.pred), vals)

    def trace_all_idb(self) -> "list[tuple[str, tuple, dict | None]]":
        """Trace EVERY derived fact of every non-empty IDB predicate
        (``nmo --trace-all-idb-facts``, nemo-cli/src/tracing.rs:45-69: the
        reference enumerates chase_program().derived_predicates() with
        in-memory fact count > 0 and traces each fact). Returns
        ``(pred, values, tree)`` triples; requires ``trace=True``."""
        from nemo_spark.model.values import Value

        out = []
        for pred in sorted(self.compiled.program.idb_predicates()):
            if pred in self.compiled.nullary:
                if not self.table(pred).isEmpty():
                    out.append((pred, (), self.engine.trace_tree(pred, ())))
                continue
            for row in self.table(pred).collect():
                vals = tuple(Value.from_cell(c) for c in row)
                out.append((pred, vals, self.engine.trace_tree(pred, vals)))
        return out

    def report(self) -> dict:
        """Structured per-rule reasoning report (``nmo --report`` parity:
        nemo-cli/src/main.rs:75-94,136 prints the TimedCode tree whose
        ``Reasoning/Rules/Rule {i}`` nodes carry per-rule wall time,
        execution_engine.rs:227).

        Shape::

            {"total_wall_ms": float, "rounds": int, "derived_total": int,
             "rules": {label: {"stratum": int, "wall_ms": float,
                               "derived_rows": int, "applications": int}}}

        ``stratum`` is the index of the rule's SCC group: the engine
        evaluates one group per SCC of the dependency graph, in topological
        order (``engine/stratify.py``). ``applications`` counts semi-naive
        rounds the rule ran in, so a rule of a non-recursive group has one;
        ``derived_rows`` counts NEW facts only (dedup-vs-history survivors),
        matching the reference's "derived facts" number."""
        stats = self.engine.stats
        rules: dict[str, dict] = {}
        for m in stats.per_rule:
            r = rules.setdefault(
                m.rule,
                {"stratum": m.stratum, "wall_ms": 0.0, "derived_rows": 0, "applications": 0},
            )
            r["wall_ms"] += m.wall_sec * 1000.0
            r["derived_rows"] += m.derived_rows
            r["applications"] += 1
        return {
            "total_wall_ms": sum(r["wall_ms"] for r in rules.values()),
            "rounds": stats.rounds,
            "derived_total": stats.derived_total,
            "rules": rules,
        }

    def close(self) -> None:
        """Drop the engine's managed state (bucketed history tables)."""
        self.engine.close()

    def __enter__(self) -> "RlsRunner":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def export_frames(self) -> dict[str, tuple[DataFrame, object]]:
        """{sanitized_name.ext: (typed DataFrame, ExportAST)} per @export."""
        out = {}
        for exp in self.compiled.exports:
            r = self._option_value(exp, "resource")
            if r is not None:
                name = r.lexical()
            else:
                name = sanitize_pred(exp.pred) + "." + _EXT.get(exp.fmt, exp.fmt)
            df = self.table(exp.pred)
            lim = self._option_value(exp, "limit")
            if lim is not None:
                # writer stop_limit semantics. limit picks N rows with no
                # order guarantee, so a lazy checkpoint pins the pick: the
                # serializer's probe and the write then see the same rows
                df = df.limit(lim.int_value()).localCheckpoint(eager=False)
            out[name] = (df, exp)
        return out

    def serialized(self, pred: str) -> DataFrame:
        """Export serialization: each value column as its DSV-any string.

        Goes through :meth:`_dsv_frame`, so integer, IRI and plain-string
        tables encode in Catalyst and other tags in the Arrow-batched
        ``Value.dsv_any`` serializer. Measured on perfbench's
        datalog_closure workload (seed 1, traced, median of 3 runs, 4-vCPU
        host; three integer-only exports, now also written concurrently):
        the export span went from 0.44 s to 0.20 s and its Python run time
        from 0.21 s to 0. Materialized inside the interpreted-expression
        scope because callers collect outside it."""
        ser = self._dsv_frame(self.table(pred), pred)
        with _interpreted_expressions(self.spark):
            return ser.localCheckpoint(eager=True)

    def _dsv_frame(self, df: DataFrame, pred: str) -> DataFrame:
        """ONE DSV serializer for every surface (serialized(), write_exports,
        the bindings' write_result); 0-arity predicates serialize as a single
        empty-string column per truth row (the unit filler column is an
        implementation detail, zero.rs parity).

        A one-job probe picks the encoder: when every cell is an integer,
        IRI, plain string or NULL, a Catalyst ``CASE`` on the type tag
        encodes the frame with no Python worker; any other tag keeps the
        Arrow-batched ``Value.dsv_any`` serializer over flattened value
        fields."""
        if pred in self.compiled.nullary:
            return df.limit(1).select(F.lit("").alias("c0"))
        structs = [f.name for f in df.schema.fields if isinstance(f.dataType, StructType)]
        other = [F.when(~F.col(c)["t"].isin(T_INT, T_IRI, T_STRING), F.col(c)["t"]) for c in structs]
        # a top-1 sort runs ONE job over every partition (limit(1) alone
        # would scan in growing waves of jobs)
        if not other or not (
            df.select(F.coalesce(*other).alias("t")).where(F.col("t").isNotNull())
            .orderBy("t").limit(1).collect()
        ):
            return df.select(
                *[
                    (_dsv_any_col(F.col(c)) if c in structs else F.col(c).cast("string")).alias(c)
                    for c in df.columns
                ]
            )
        return _flatten_values(df).mapInPandas(
            _serialize_batches(df.columns),
            schema=", ".join(f"{c} string" for c in df.columns),
        )

    def _export_compression(self, exp) -> str:
        """Effective compression of one @export: explicit ``compression=``
        wins; otherwise a resource name ending in ``.gz`` implies gzip (the
        reference's ResourceBuilder infers the format from the extension)."""
        if "compression" in exp.options:
            return self._compression(exp)
        r = self._option_value(exp, "resource")
        if r is not None and r.lexical().endswith(".gz"):
            return "gzip"
        return "none"

    def serialize_export(
        self, df: DataFrame, exp, default_compression: str | None = None
    ) -> tuple[DataFrame, str, dict]:
        """(serialized frame, writer format ``'text'``/``'csv'``, writer
        options) for ONE @export — the single source of truth that both
        :meth:`write_exports` and the Python bindings' ``write_result``
        drive, so limit/delimiter/compression semantics can't drift.
        Must run (and the returned frame be written) inside an
        ``_interpreted_expressions`` scope.

        ``default_compression='gzip'`` is the CLI ``-g`` (ExportManager
        default, cli.rs:136-139): applied whenever the directive's RESOLVED
        compression is none — the reference's is_compressed() check
        (export_manager.rs:142, formats.rs:146-148) cannot distinguish an
        explicit ``compression="none"`` from an absent option, so ``-g``
        gzips both; only an already-compressed directive (explicit gzip or
        a ``.gz`` resource) is left alone."""
        if exp.fmt in _RDF_FMTS:
            from nemo_spark.sources.rdf_typed import serialize_rdf_typed

            fmt = exp.fmt
            if fmt == "rdf":
                fmt = "nquads" if len(df.columns) == 4 else "ntriples"
            ser, kind, opts = serialize_rdf_typed(df, fmt), "text", {}
        else:
            sep = _DELIM.get(exp.fmt) or (
                self._option_value(exp, "delimiter").lexical()
                if "delimiter" in exp.options
                else ","
            )
            ser = self._dsv_frame(df, exp.pred)
            # escape = quote char: standard CSV quote-doubling, matching
            # the reference's csv crate double_quote(true) writer
            # (dsv/writer.rs:42-44); Spark's default backslash-escape
            # would diverge on cells containing quotes
            kind, opts = "csv", {"sep": sep, "escape": '"'}
        if self._export_compression(exp) == "gzip":
            opts["compression"] = "gzip"
        elif default_compression == "gzip":
            opts["compression"] = "gzip"
        return ser, kind, opts

    def export_target_names(self, default_compression: str | None = None) -> list[str]:
        """Final on-disk names :meth:`write_exports` will produce (including
        any ``.gz`` the default compression appends) — for pre-write clash
        checks."""
        names = []
        for name, (_df, exp) in self.export_frames().items():
            if default_compression == "gzip" and self._export_compression(exp) != "gzip":
                name = name + ".gz"
            names.append(name)
        return names

    def write_exports(self, out_dir: str, default_compression: str | None = None) -> None:
        """Write every @export under ``out_dir``; the exports' serialize and
        write jobs are submitted together (:func:`run_concurrently`)."""
        os.makedirs(out_dir, exist_ok=True)

        def write(item):
            name, (df, exp) = item
            ser, kind, opts = self.serialize_export(df, exp, default_compression)
            w = ser.write.mode("overwrite")
            for k, v in opts.items():
                w = w.option(k, v)
            if default_compression == "gzip" and self._export_compression(exp) != "gzip":
                # ExportManager::sanitized_path appends the compression
                # extension exactly when the directive itself wasn't
                # already compressed (export_manager.rs:114)
                name = name + ".gz"
            target = os.path.join(out_dir, name)
            if kind == "text":
                w.text(target)
            else:
                w.csv(target)

        with _interpreted_expressions(self.spark):
            run_concurrently(self.spark, write, self.export_frames().items())


def _dsv_any_col(c: Column) -> Column:
    """``Value.dsv_any`` of an integer, IRI or plain-string value struct in
    Catalyst (NULL for a NULL cell or any other tag): integers as their
    decimal string, IRIs bare, strings through ``quote_string``'s four
    replacements in its order."""
    t, s = c["t"], c["s"]
    q = s
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\r", "\\r"), ("\n", "\\n")):
        q = F.replace(q, F.lit(a), F.lit(b))
    return (
        F.when(t == T_INT, c["i"].cast("string"))
        .when(t == T_IRI, s)
        .when(t == T_STRING, F.concat(F.lit('"'), q, F.lit('"')))
    )


def _flatten_values(df: DataFrame) -> DataFrame:
    """Project each value-struct column to its four primitive fields, so
    Arrow moves flat primitive arrays (fast path) instead of per-row
    struct->dict conversion. Non-struct columns (already-serialized strings,
    e.g. legacy plain-string frames) pass through as ``<col>__raw``."""
    exprs = []
    for field in df.schema.fields:
        c = field.name
        if isinstance(field.dataType, StructType):
            exprs.append(df[c].getField("t").alias(f"{c}__t"))
            # i travels as its exact decimal string: a batch containing any
            # NULL cell would otherwise reach pandas as float64 and corrupt
            # int64 magnitudes above 2^53 (Catalyst's bigint->string cast is
            # exact; the serializer consumes the string directly)
            exprs.append(df[c].getField("i").cast("string").alias(f"{c}__i"))
            exprs.append(df[c].getField("d").alias(f"{c}__d"))
            exprs.append(df[c].getField("s").alias(f"{c}__s"))
        else:
            exprs.append(df[c].cast("string").alias(f"{c}__raw"))
    return df.select(*exprs)


def _serialize_batches(cols):
    """Vectorized DSV-any serialization over flattened value fields: the
    dominant domains (integers, IRIs, plain strings) format as pandas
    vectorized operations; everything else (floats, langs, typed literals,
    tuples...) falls back to the parity-tested per-value ``Value.dsv_any``.
    Byte-identical to the per-cell serializer on the full blackbox suite."""
    import numpy as np
    import pandas as pd

    from nemo_spark.model.values import T_INT, T_IRI, T_STRING, T_ULONG

    def f(batches):
        for pdf in batches:
            out = {}
            for c in cols:
                if f"{c}__raw" in pdf.columns:
                    out[c] = pdf[f"{c}__raw"]
                    continue
                t = pdf[f"{c}__t"]
                i = pdf[f"{c}__i"]
                d = pdf[f"{c}__d"]
                s = pdf[f"{c}__s"]
                res = pd.Series(np.empty(len(t), dtype=object), index=pdf.index)
                null = t.isna()
                m = (t == T_INT) & ~null
                if m.any():
                    res[m] = i[m]  # already the exact decimal string
                m = (t == T_ULONG) & ~null
                if m.any():
                    # u64 values wrapped to i64: unwrap in python ints
                    res[m] = [str(int(x) + (1 << 64)) for x in i[m]]
                m = (t == T_IRI) & ~null
                if m.any():
                    res[m] = s[m]
                m = (t == T_STRING) & ~null
                if m.any():
                    # quote_string, vectorized (same replacement order)
                    q = (
                        s[m]
                        .str.replace("\\", "\\\\", regex=False)
                        .str.replace('"', '\\"', regex=False)
                        .str.replace("\r", "\\r", regex=False)
                        .str.replace("\n", "\\n", regex=False)
                    )
                    res[m] = '"' + q + '"'
                rest = ~t.isin((T_INT, T_ULONG, T_IRI, T_STRING)) & ~null
                if rest.any():
                    res[rest] = [
                        Value(int(tt), int(ii), float(dd), ss).dsv_any()
                        for tt, ii, dd, ss in zip(t[rest], i[rest], d[rest], s[rest])
                    ]  # ii is the exact decimal string; int() parses it
                if null.any():
                    res[null] = None
                out[c] = res
            yield pd.DataFrame(out)

    return f


class _ResolverView:
    """Adapter giving GroundEval resolver access from a CompiledProgram."""

    def __init__(self, compiled: CompiledProgram) -> None:
        from nemo_spark.parser.compile import Resolver

        self._r = Resolver(compiled.prefixes, compiled.base)

    def pname(self, p, l):
        return self._r.pname(p, l)

    def bare(self, n):
        return self._r.bare(n)

    def pred(self, n):
        return self._r.pred(n)


def run_rls(spark: SparkSession, rls_path: str, chase: str = "restricted") -> RlsRunner:
    return RlsRunner(spark, rls_path=rls_path, chase=chase).run()
