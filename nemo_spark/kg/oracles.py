"""DuckDB oracle SQL for the KG pipeline stages over the ``documents`` view.

Each constant mirrors one Spark-side stage 1:1 (same column names, same
values), composed from the shared CTE pieces in
:mod:`nemo_spark.kg.transcripts`. Recursive CTEs stand in for our iterative
fixpoint jobs (connected components, transitive closure) — tractable because the
correctness corpus is small; at scale only the Spark side runs.
"""

from __future__ import annotations

from nemo_spark.kg.extract import _MENTION_SPAN_RE, MENTION_RE
from nemo_spark.kg.transcripts import ALIAS_DICT_CTES, ALIAS_DICT_SQL, TRANSCRIPTS_SQL

# the EXACT prefix-capture pattern the mentions extractor compiles — one
# source of truth, so a grammar change can never desynchronize the oracle
# (both engines are RE2-compatible: `(?s)\A(.*?)` works in DuckDB too)
_SPAN_RE = _MENTION_SPAN_RE.pattern

# ---------------------------------------------------------------- transcripts

KG_TRANSCRIPTS = TRANSCRIPTS_SQL

KG_TURNS_PER_CONV = f"""
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(min(turn_idx) AS INTEGER) AS min_turn,
       CAST(max(turn_idx) AS INTEGER) AS max_turn
FROM ({TRANSCRIPTS_SQL})
GROUP BY conv_id
"""

# ------------------------------------------------------------------ extract

# mirrors extract_triples_pandas: EVERY occurrence (str.extractall), not
# only a sentence-initial one — parallel unnests zip positionally in DuckDB
KG_EXTRACT = f"""
WITH m AS (
  SELECT conv_id, turn_idx,
         regexp_extract_all(text, '{MENTION_RE}', 1) AS ss,
         regexp_extract_all(text, '{MENTION_RE}', 2) AS ps,
         regexp_extract_all(text, '{MENTION_RE}', 3) AS oo
  FROM ({TRANSCRIPTS_SQL})
)
SELECT conv_id, turn_idx,
       unnest(ss) AS subj_alias, unnest(ps) AS pred, unnest(oo) AS obj_alias
FROM m
"""

# mirrors extract_mentions_pandas: first match ANYWHERE in the turn, true
# character offsets from the lazy prefix capture (span_start = len(prefix),
# not 0 — a mid-text relation sentence must report its real position)
KG_MENTIONS = f"""
WITH ext AS (
  SELECT conv_id, turn_idx,
         regexp_extract(text, '{_SPAN_RE}', 1) AS pre,
         regexp_extract(text, '{_SPAN_RE}', 2) AS s,
         regexp_extract(text, '{_SPAN_RE}', 3) AS p,
         regexp_extract(text, '{_SPAN_RE}', 4) AS o
  FROM ({TRANSCRIPTS_SQL})
  WHERE regexp_matches(text, '{MENTION_RE}')
)
SELECT conv_id, turn_idx, s AS mention,
       CAST(LENGTH(pre) AS INTEGER) AS span_start,
       CAST(LENGTH(pre) + LENGTH(s) AS INTEGER) AS span_end
FROM ext
UNION ALL
SELECT conv_id, turn_idx, o AS mention,
       CAST(LENGTH(pre) + LENGTH(s) + LENGTH(p) + 2 AS INTEGER) AS span_start,
       CAST(LENGTH(pre) + LENGTH(s) + LENGTH(p) + 2 + LENGTH(o) AS INTEGER) AS span_end
FROM ext
"""

KG_LINKED = f"""
WITH {ALIAS_DICT_CTES},
ext AS (
  SELECT conv_id, turn_idx,
         unnest(regexp_extract_all(text, '{MENTION_RE}', 1)) AS subj_alias
  FROM ({TRANSCRIPTS_SQL})
)
SELECT ext.conv_id, ext.turn_idx, ext.subj_alias, ad.entity_id
FROM ext JOIN ad ON ad.alias = ext.subj_alias
"""

# ---------------------------------------------------------------- alias dict

KG_ALIAS_DICT = ALIAS_DICT_SQL

# --------------------------------------------------------- canonicalization

_CANON_CTES = f"""
{ALIAS_DICT_CTES},
edges AS (
  SELECT 'a:' || alias AS src, 'e:' || entity_id AS dst FROM ad
  UNION
  SELECT 'e:' || entity_id AS src, 'a:' || alias AS dst FROM ad
),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
canon AS (SELECT a AS node, min(b) AS canonical_id FROM reach GROUP BY a)
"""

KG_CANONICAL_MAP = f"""
WITH RECURSIVE
{_CANON_CTES}
SELECT node, canonical_id FROM canon
"""

# ------------------------------------------------------------------- triples

_TRIPLES_CTES = f"""
{_CANON_CTES},
tr AS ({TRANSCRIPTS_SQL}),
ext AS (
  -- mirrors the pipeline's feature extractor: FIRST match anywhere
  SELECT regexp_extract(text, '{MENTION_RE}', 1) AS subj_alias,
         regexp_extract(text, '{MENTION_RE}', 2) AS pred,
         regexp_extract(text, '{MENTION_RE}', 3) AS obj_alias
  FROM tr
  WHERE regexp_extract(text, '{MENTION_RE}', 1) <> ''
),
triples AS (
  SELECT DISTINCT cs.canonical_id AS subj, ext.pred AS pred, co.canonical_id AS obj
  FROM ext
  JOIN canon cs ON cs.node = 'a:' || ext.subj_alias
  JOIN canon co ON co.node = 'a:' || ext.obj_alias
)
"""

KG_TRIPLES = f"""
WITH RECURSIVE
{_TRIPLES_CTES}
SELECT subj, pred, obj FROM triples
"""

KG_CLOSURE = f"""
WITH RECURSIVE
{_TRIPLES_CTES},
base AS (SELECT DISTINCT subj AS s, obj AS o FROM triples WHERE pred = 'located_in'),
clos(s, o) AS (
  SELECT s, o FROM base
  UNION
  SELECT c.s, b.o FROM clos c JOIN base b ON c.o = b.s
)
SELECT s AS subj, 'located_in' AS pred, o AS obj FROM clos
"""

KG_MATERIALIZED = f"""
WITH RECURSIVE
{_TRIPLES_CTES},
base AS (SELECT DISTINCT subj AS s, obj AS o FROM triples WHERE pred = 'located_in'),
clos(s, o) AS (
  SELECT s, o FROM base
  UNION
  SELECT c.s, b.o FROM clos c JOIN base b ON c.o = b.s
)
SELECT subj, pred, obj FROM triples
UNION
SELECT s AS subj, 'located_in' AS pred, o AS obj FROM clos
"""
