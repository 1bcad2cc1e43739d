"""``nmo``-parity command line (reference: nemo-cli/src/cli.rs, main.rs).

Usage::

    python -m nemo_spark program.rls                       # run + @export
    python -m nemo_spark program.rls -D out -o -g          # export dir opts
    python -m nemo_spark program.rls -e idb                # export overrides
    python -m nemo_spark program.rls --param k=v --report time
    python -m nemo_spark program.rls --trace "P(a,b);Q(c)" --trace-output t.graphml

Mirrors the reference flag surface: positional rule file (exactly one — the
reference errors on multiple, main.rs MultipleFilesNotImplemented),
``-e/--export keep|none|idb|edb|all``, ``-D/--export-dir`` (default
``results``), ``-o/--overwrite-results``, ``-g/--gzip``, ``--print-facts``,
``-I/--import-dir``, ``--param key=value`` (repeatable), ``--report``,
``--trace``/``--trace-input-file``/``--trace-all-idb-facts`` (mutually
exclusive, cli.rs group "trace-input") with ``--trace-output``, and the
``-q``/``-v``/``--log error|warn|info|debug|trace`` verbosity group.
Spark-specific extension: ``--master`` (defaults to ``local[*]``)."""

from __future__ import annotations

import argparse
import os
import sys
import time


def _parse_param(s: str) -> tuple[str, str]:
    key, sep, value = s.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"invalid key=value: {s!r}")
    return key, value


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m nemo_spark",
        description="Run a nemo .rls program on Spark (nmo-compatible surface).",
    )
    p.add_argument("rules", nargs="+", help="rule program file (exactly one)")
    p.add_argument(
        "-e", "--export", choices=["keep", "none", "idb", "edb", "all"], default="keep",
        help="override export directives: keep program's own / disable / whole predicate classes",
    )
    p.add_argument("-D", "--export-dir", default="results", help="base directory for exports")
    p.add_argument(
        "-o", "--overwrite-results", action="store_true",
        help="replace existing files during export (errors otherwise, as nmo does)",
    )
    p.add_argument("-g", "--gzip", action="store_true", help="gzip class exports")
    p.add_argument(
        "--print-facts", choices=["none", "idb", "edb", "all"], default="none",
        help="print all facts of the selected predicate class",
    )
    p.add_argument("-I", "--import-dir", help="base directory for imports (default: program dir)")
    p.add_argument(
        "--param", action="append", type=_parse_param, default=[], metavar="KEY=VALUE",
        help="override a global @parameter (repeatable)",
    )
    p.add_argument(
        "--report", choices=["none", "auto", "short", "time", "mem", "all"], default="auto",
        help="reporting: auto prints the short summary unless facts/traces were printed",
    )
    trace_in = p.add_mutually_exclusive_group()  # cli.rs group "trace-input"
    trace_in.add_argument(
        "--trace", help='facts to trace, separated by ";", e.g. "P(a,b);Q(c)"'
    )
    trace_in.add_argument(
        "--trace-input-file", action="append", default=[], metavar="FILE",
        help='file(s) of facts to trace, same ";"-separated format as --trace (repeatable)',
    )
    trace_in.add_argument(
        "--trace-all-idb-facts", action="store_true",
        help="trace every derived fact of every IDB predicate",
    )
    p.add_argument("--trace-output", help="write traces to FILE (.graphml or .json by extension)")
    verbosity = p.add_mutually_exclusive_group()  # cli.rs group "verbosity"
    verbosity.add_argument("-q", "--quiet", action="store_true")
    verbosity.add_argument("-v", "--verbose", action="count", default=0)
    verbosity.add_argument(
        "--log", choices=["error", "warn", "info", "debug", "trace"], default=None,
        help='set log verbosity (default "warn")',
    )
    p.add_argument("--no-warnings", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--master", default=None, help="Spark master (default local[*])")
    return p


def _class_predicates(runner, which: str) -> list[str]:
    idb = set(runner.compiled.program.idb_predicates())
    edb = {imp.pred for imp in runner.compiled.imports} | set(runner.compiled.fact_rows)
    if which == "idb":
        preds = idb
    elif which == "edb":
        preds = edb
    else:
        preds = idb | edb
    return sorted(preds)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if len(args.rules) > 1:
        print(
            "error: multiple rule files are not implemented (reference parity)",
            file=sys.stderr,
        )
        return 2
    rls_path = args.rules[0]
    if not os.path.exists(rls_path):
        print(f"error: no such file: {rls_path}", file=sys.stderr)
        return 2

    from nemo_spark.parser.runner import RlsRunner, sanitize_pred
    from nemo_spark.session import get_spark

    if args.trace_output and not (args.trace or args.trace_input_file or args.trace_all_idb_facts):
        # cli.rs: --trace-output requires a trace input
        print("error: --trace-output requires --trace/--trace-input-file/--trace-all-idb-facts",
              file=sys.stderr)
        return 2
    for path in args.trace_input_file:
        # fail BEFORE the reasoning run: a typo'd path surfacing as a
        # FileNotFoundError after the fixpoint wastes the whole run
        if not (os.path.isfile(path) and os.access(path, os.R_OK)):
            print(f"error: --trace-input-file {path}: not a readable file", file=sys.stderr)
            return 2

    spark = get_spark(app_name="nemo_spark_cli", master=args.master)
    if args.log is not None:
        # --log error|warn|info|debug|trace (cli.rs:88); grouped exclusive
        # with -q/-v like the reference's clap "verbosity" group
        level = {"error": "ERROR", "warn": "WARN", "info": "INFO",
                 "debug": "DEBUG", "trace": "TRACE"}[args.log]
    else:
        level = "ERROR" if args.quiet else ["WARN", "INFO", "DEBUG"][min(args.verbose, 2)]
    spark.sparkContext.setLogLevel(level)

    printed_something = False
    try:
        t0 = time.time()
        runner = RlsRunner(
            spark,
            rls_path=rls_path,
            workdir=args.import_dir,
            params=dict(args.param),
            trace=bool(args.trace or args.trace_input_file or args.trace_all_idb_facts),
        ).run()
        reasoning_ms = int((time.time() - t0) * 1000)

        t_exp = time.time()
        saved = False
        default_compression = "gzip" if args.gzip else None
        if args.export == "keep":
            targets = runner.export_target_names(default_compression)
            if targets:
                if not args.overwrite_results:
                    clash = [
                        n for n in targets if os.path.exists(os.path.join(args.export_dir, n))
                    ]
                    if clash:
                        print(
                            "error: export targets exist (use -o/--overwrite-results): "
                            + ", ".join(clash),
                            file=sys.stderr,
                        )
                        return 1
                # -g = ExportManager default compression (cli.rs:136-139):
                # gzips @export directives that don't specify their own
                runner.write_exports(args.export_dir, default_compression)
                saved = True
        elif args.export != "none":
            os.makedirs(args.export_dir, exist_ok=True)
            preds = _class_predicates(runner, args.export)
            # class exports have no directive-level compression, so -g both
            # gzips the content AND appends the .gz suffix — same
            # ExportManager sanitized_path naming rule the keep path follows
            # (export_manager.rs:114)
            suffix = ".csv.gz" if args.gzip else ".csv"
            # two predicates sanitizing to one filename would silently
            # overwrite each other WITHIN this run — always an error
            by_file: dict[str, list[str]] = {}
            for p in preds:
                by_file.setdefault(sanitize_pred(p) + suffix, []).append(p)
            dupes = {f: ps for f, ps in by_file.items() if len(ps) > 1}
            if dupes:
                msg = "; ".join(f"{f} <- {', '.join(ps)}" for f, ps in dupes.items())
                print(f"error: export filename collision: {msg}", file=sys.stderr)
                return 1
            if not args.overwrite_results:
                # check EVERY target before writing ANY — aborting halfway
                # would leave a partial export behind a failure exit code
                clash = [
                    sanitize_pred(p) + suffix
                    for p in preds
                    if os.path.exists(os.path.join(args.export_dir, sanitize_pred(p) + suffix))
                ]
                if clash:
                    print(
                        "error: export targets exist (use -o/--overwrite-results): "
                        + ", ".join(clash),
                        file=sys.stderr,
                    )
                    return 1
            for pred in preds:
                target = os.path.join(args.export_dir, sanitize_pred(pred) + suffix)
                w = runner.serialized(pred).write.mode("overwrite").option("escape", '"')
                if args.gzip:
                    w = w.option("compression", "gzip")
                w.csv(target)
                saved = True
        export_ms = int((time.time() - t_exp) * 1000)

        if args.print_facts != "none":
            for pred in _class_predicates(runner, args.print_facts):
                for row in runner.serialized(pred).collect():
                    print(f"{pred}({', '.join(row)}) .")
                    printed_something = True

        trace_failed = False
        trace_trees = []
        if args.trace_all_idb_facts:
            # tracing.rs:45-69: enumerate every non-empty IDB predicate and
            # trace each of its facts
            for _pred, _vals, tree in runner.trace_all_idb():
                if tree is None:
                    continue  # derived facts always have trees; belt+braces
                trace_trees.append(tree)
                if not args.trace_output:
                    print(runner.engine.format_trace(tree), end="")
                    printed_something = True
        elif args.trace or args.trace_input_file:
            fact_specs = [args.trace] if args.trace else []
            for path in args.trace_input_file:
                # tracing.rs:20-24: file contents use the same ";"-separated
                # fact format as --trace
                with open(path) as f:
                    fact_specs.append(f.read())
            for spec in fact_specs:
                for fact in spec.split(";"):
                    fact = fact.strip()
                    if not fact:
                        continue
                    tree = runner.trace(fact)
                    if tree is None:
                        print(f"{fact}: fact not derived", file=sys.stderr)
                        trace_failed = True  # exit nonzero: scripts must see it
                        continue
                    trace_trees.append(tree)
                    if not args.trace_output:
                        print(runner.engine.format_trace(tree), end="")
                        printed_something = True
        if args.trace_output and trace_trees:
            from nemo_spark.engine.trace_export import (
                trace_graphml,
                trace_inferences_json,
            )

            rules_by_label = getattr(runner.engine, "_rules_by_label", None)
            if args.trace_output.endswith(".json"):
                body = trace_inferences_json(trace_trees, rules_by_label)
            else:
                # one merged <graphml> document — per-tree documents
                # concatenated would be non-well-formed XML
                body = trace_graphml(trace_trees, rules_by_label)
            with open(args.trace_output, "w") as f:
                f.write(body)

        want_report = args.report not in ("none",) and not (
            args.report == "auto" and printed_something
        )
        if want_report:
            rep = runner.report()
            print(
                f"Reasoning completed in {reasoning_ms}ms. "
                f"Derived {rep['derived_total']} facts."
            )
            print(f"   Reasoning:     {reasoning_ms}ms")
            if saved:
                print(f"   Data export:   {export_ms}ms")
            if args.report in ("time", "mem", "all"):
                print("\nTiming report:\n")
                for label, s in sorted(
                    rep["rules"].items(), key=lambda kv: -kv[1]["wall_ms"]
                ):
                    print(
                        f"   Rule {label}: {s['wall_ms']:.0f}ms, "
                        f"{s['derived_rows']} facts, {s['applications']} applications "
                        f"(SCC group {s['stratum']})"
                    )
        return 1 if trace_failed else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
