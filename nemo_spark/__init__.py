"""nemo_spark — a from-scratch PySpark-native Datalog / knowledge-graph
construction engine with the capabilities of knowsys/nemo.

Re-imagines nemo's rule evaluation (reference: /root/reference, a single-process
in-memory Rust reasoner) as distributed semi-naive fixpoint iteration over Spark
DataFrames:

- ``nemo_spark.model``    — rules-as-data (predicates, atoms, rules, programs),
  mirroring nemo's rule model (``nemo/src/rule_model/``) without its AST/parser.
- ``nemo_spark.engine``   — stratified semi-naive fixpoint evaluation
  (mirrors ``nemo/src/execution/``: selection strategies, delta joins, dedup
  against history), expressed as DataFrame joins / anti-joins so that Catalyst +
  AQE pick physical strategies.
- ``nemo_spark.functions``— nemo's scalar-function semantics (error = no result)
  on Spark Columns (mirrors ``operation_kind.rs`` / ``nemo-physical/src/function``).
- ``nemo_spark.sources``  — typed DSV / RDF / JSON / SPARQL readers that
  ``@import`` runs (mirrors ``nemo/src/io/formats``).
- ``nemo_spark.kg``       — the KG-construction pipeline: transcript triple
  extraction, entity linking, connected-component canonicalization (star CC,
  driver-local union-find for small graphs), fixpoint materialize,
  checkpoint + lineage.
- ``nemo_spark.ops``      — large-scale data-pipeline operators (dedup families,
  similarity search, text analysis, transitive closure).
"""

from nemo_spark.model.rules import Var, Atom, Rule, Program, agg
from nemo_spark.engine.seminaive import SemiNaiveEngine, semi_join_loader

__all__ = ["Var", "Atom", "Rule", "Program", "agg", "SemiNaiveEngine", "semi_join_loader"]
__version__ = "0.1.0"
