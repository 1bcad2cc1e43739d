"""Deterministic synthetic transcript corpus (BASELINE.json input_hint shape).

Schema: (conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp). Every turn's text embeds one planted relation sentence
``<subj_alias> <pred> <obj_alias> .`` drawn from a closed entity/alias/relation
universe, so expected mentions, link targets, canonical groups, and (subj,
pred, obj) triples are exactly computable — the transcript analogue of the
reference's tiny golden CSVs (``resources/testcases/*``).

Two generators produce the SAME logical content:

- :func:`synth_transcripts` — from ``spark.range(n)``; scales to any size
  (bench uses this). Skew is planted: ~30%% of turns land in one hot
  conversation, exercising the salting / AQE-skew path.
- :func:`transcripts_from_documents` + :data:`TRANSCRIPTS_SQL` — the identical
  derivation over the driver's ``documents`` parquet table, expressed both as
  a DataFrame transform and as DuckDB SQL, so every downstream KG stage is
  oracle-checkable end-to-end.

Entity universe: 50 entities ``ent<k>``; aliases per k: ``entity_<k>``,
``ent-<k>``, ``E.<k>``. Alias ``E.<k>`` for k % 10 == 0 ALSO denotes entity
k+1 (ambiguous alias), which merges entity clusters — this is what makes
hash-min canonicalization non-trivial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_ENTITIES = 50
PREDICATES = ["works_at", "located_in", "part_of"]
ROLES = ["user", "assistant", "tool"]
HOT_CONV_FRACTION_MOD = 10  # doc_id % 10 < 3 => hot conversation
N_CONVS = 97


def _alias_expr(variant, k):
    """Spark expr: alias string for entity-index col k under variant col."""
    return (
        F.when(variant == 0, F.concat(F.lit("entity_"), k.cast("string")))
        .when(variant == 1, F.concat(F.lit("ent-"), k.cast("string")))
        .otherwise(F.concat(F.lit("E."), k.cast("string")))
    )


def _with_transcript_columns(df: DataFrame, id_col: str, filler_col) -> DataFrame:
    """Shared derivation: id -> transcript row. ``filler_col`` is a Column of
    trailing filler text (document body or deterministic padding)."""
    i = F.col(id_col).cast("long")
    subj_k = i % N_ENTITIES
    obj_k = (i * 7 + 3) % N_ENTITIES
    pred = F.element_at(F.array(*[F.lit(p) for p in PREDICATES]), (i % 3 + 1).cast("int"))
    subj_alias = _alias_expr(i % 3, subj_k)
    # exact integer division (SQL 'div', not '/'): float division loses low
    # bits past 2^53, silently desyncing the variant from the DuckDB
    # lockstep's doc_id // 3 for large (snowflake-style) ids
    obj_alias = _alias_expr(F.expr(f"CAST(`{id_col}` AS BIGINT) div 3") % 3, obj_k)
    conv_bucket = F.when(i % HOT_CONV_FRACTION_MOD < 3, F.lit(0)).otherwise(i % N_CONVS)
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]), (i % 3 + 1).cast("int"))
    return df.select(
        F.concat(F.lit("conv"), F.lpad(conv_bucket.cast("string"), 4, "0")).alias("conv_id"),
        i.alias("__i"),
        role.alias("role"),
        F.concat(subj_alias, F.lit(" "), pred, F.lit(" "), obj_alias, F.lit(" . "), filler_col).alias("text"),
        F.when(role == "tool", F.lit("search")).otherwise(F.lit(None).cast("string")).alias("tool"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=i.cast("double"))).alias("ts"),
    )


def _number_turns(df: DataFrame) -> DataFrame:
    """turn_idx = dense order of __i within conv_id (stable, deterministic)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("__i")
    return (
        df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def synth_transcripts(spark: SparkSession, n_turns: int, partitions: int | None = None) -> DataFrame:
    """Standalone deterministic corpus of ``n_turns`` turns.

    turn_idx = global id (unique + monotone within each conversation) rather
    than a dense per-conv rank: a rank would need a global window sort whose
    hot-conversation partition (~30% of rows) serializes — the exact skew this
    pipeline exists to avoid. The documents-derived variant (tiny, oracle-
    checked) keeps dense ranks."""
    if n_turns > 2**31 - 1:
        # the transcript contract types turn_idx int32; a global-id scheme
        # past 2^31 would wrap (or ANSI-error). Real corpora at that scale
        # have real conversation structure — synth callers should shard
        # into multiple tables instead of silently corrupting ordering.
        raise ValueError(f"synth_transcripts: n_turns {n_turns} exceeds int32 turn_idx")
    base = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    filler = F.concat(F.lit("filler "), F.conv(F.col("id").cast("string"), 10, 16))
    df = _with_transcript_columns(base, "id", filler)
    return df.select(
        "conv_id", F.col("__i").cast("int").alias("turn_idx"), "role", "text", "tool", "ts"
    )


def transcripts_from_documents(docs: DataFrame) -> DataFrame:
    """Same corpus derived from the driver's ``documents`` table (doc_id, text)
    — mirrored 1:1 by :data:`TRANSCRIPTS_SQL` for DuckDB oracles."""
    return _number_turns(_with_transcript_columns(docs.select("doc_id", "text"), "doc_id", F.col("text")))


# DuckDB SQL producing the identical table from the `documents` view.
# Keep in lockstep with the DataFrame derivation above.
TRANSCRIPTS_SQL = f"""
WITH base AS (
  SELECT
    'conv' || lpad(CAST(CASE WHEN doc_id % {HOT_CONV_FRACTION_MOD} < 3 THEN 0 ELSE doc_id % {N_CONVS} END AS VARCHAR), 4, '0') AS conv_id,
    doc_id AS __i,
    CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
    (CASE doc_id % 3
       WHEN 0 THEN 'entity_' || CAST(doc_id % {N_ENTITIES} AS VARCHAR)
       WHEN 1 THEN 'ent-' || CAST(doc_id % {N_ENTITIES} AS VARCHAR)
       ELSE 'E.' || CAST(doc_id % {N_ENTITIES} AS VARCHAR) END)
    || ' ' || (CASE doc_id % 3 WHEN 0 THEN 'works_at' WHEN 1 THEN 'located_in' ELSE 'part_of' END)
    || ' ' || (CASE (doc_id // 3) % 3
       WHEN 0 THEN 'entity_' || CAST((doc_id * 7 + 3) % {N_ENTITIES} AS VARCHAR)
       WHEN 1 THEN 'ent-' || CAST((doc_id * 7 + 3) % {N_ENTITIES} AS VARCHAR)
       ELSE 'E.' || CAST((doc_id * 7 + 3) % {N_ENTITIES} AS VARCHAR) END)
    || ' . ' || text AS text,
    CASE WHEN doc_id % 3 = 2 THEN 'search' ELSE NULL END AS tool,
    TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS ts
  FROM documents
)
SELECT conv_id,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY __i) - 1 AS INTEGER) AS turn_idx,
       role, text, tool, ts
FROM base
"""


def alias_dict(spark: SparkSession) -> DataFrame:
    """(alias, entity_id) ground-truth dictionary, broadcast side of linking.
    Includes the ambiguous ``E.<k>`` -> ent<k+1> edges for k % 10 == 0."""
    # single partition: a 50-row dimension sliced into defaultParallelism
    # pieces made every downstream job over the 4-branch union schedule
    # ~128 near-empty tasks (measured: >half the canonical-map stage wall)
    ks = spark.range(0, N_ENTITIES, 1, 1).select(F.col("id").cast("long").alias("k"))
    ent = F.concat(F.lit("ent"), F.col("k").cast("string"))
    rows = [
        ks.select(F.concat(F.lit("entity_"), F.col("k").cast("string")).alias("alias"), ent.alias("entity_id")),
        ks.select(F.concat(F.lit("ent-"), F.col("k").cast("string")).alias("alias"), ent.alias("entity_id")),
        ks.select(F.concat(F.lit("E."), F.col("k").cast("string")).alias("alias"), ent.alias("entity_id")),
        ks.filter(F.col("k") % 10 == 0).select(
            F.concat(F.lit("E."), F.col("k").cast("string")).alias("alias"),
            F.concat(F.lit("ent"), ((F.col("k") + 1) % N_ENTITIES).cast("string")).alias("entity_id"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# composable CTE fragments (DuckDB rejects nested WITH inside a CTE body).
# ks enumerates ALL {N_ENTITIES} entities — exactly like alias_dict() above.
# Deriving it from DISTINCT doc_id % N would silently diverge whenever the
# documents table's doc_ids don't cover every residue class (obj_k =
# (doc_id*7+3) % N can hit entities no doc_id maps to).
ALIAS_DICT_CTES = f"""
ks AS (SELECT range AS k FROM range({N_ENTITIES})),
ad AS (
  SELECT 'entity_' || CAST(k AS VARCHAR) AS alias, 'ent' || CAST(k AS VARCHAR) AS entity_id FROM ks
  UNION ALL
  SELECT 'ent-' || CAST(k AS VARCHAR), 'ent' || CAST(k AS VARCHAR) FROM ks
  UNION ALL
  SELECT 'E.' || CAST(k AS VARCHAR), 'ent' || CAST(k AS VARCHAR) FROM ks
  UNION ALL
  SELECT 'E.' || CAST(k AS VARCHAR), 'ent' || CAST((k + 1) % {N_ENTITIES} AS VARCHAR) FROM ks WHERE k % 10 = 0
)
"""

ALIAS_DICT_SQL = f"WITH {ALIAS_DICT_CTES} SELECT alias, entity_id FROM ad"
