"""SPARQL endpoint import — the last reference source format.

Reference semantics (``nemo/src/io/formats/sparql.rs``,
``sparql/reader.rs``, ``sparql/queries.rs``):

- ``@import pred :- sparql{endpoint=..., query=...}``; the query defaults to
  ``SELECT ?s ?p ?o WHERE { ?s ?p ?o }`` (sparql.rs:48).
- The query is sent with ``Accept: text/tab-separated-values``; as an HTTP
  GET ``?query=`` parameter when it fits in 2 000 chars, form-encoded POST
  otherwise (sparql.rs:39, :188-192; resource_providers/http.rs:108-115).
- The response body is parsed as DSV with tab delimiter, ``quoting=false``,
  ``ignore_headers=true`` and the import's value formats (default
  ``anything`` per column) — reader.rs:137-171. SPARQL-TSV terms
  (``<iri>``, ``"lit"^^<dt>``, ``_:b``) are exactly what the DSV
  ``anything`` format decodes, so the cells reuse
  :func:`nemo_spark.model.values.parse_dsv_any` unchanged.
- Binding pushdown: restricting bindings are injected as ``VALUES`` blocks
  and paged at 32 000 bindings / 740 000 chars per query, halving the page
  on HTTP 413 (sparql.rs:42-45, reader.rs:99-135).

Spark mapping: the HTTP exchange is inherently a single-server boundary
(the endpoint, not Spark, is the bottleneck), so pages are fetched on the
driver — but each response body is STREAMED to a staging file in bounded
chunks (driver memory stays O(chunk), never O(result)) and the *parsing*
is distributed: ``spark.read.text`` over the staged pages feeds the same
Arrow-batched cell parser as the DSV reader. At cluster scale the staging
directory should live on the DFS (set ``NEMO_SPARK_SPARQL_STAGING``);
multiple VALUES pages fetch concurrently (thread pool), which is also how
a 1000-executor job should treat a remote endpoint: bounded client-side
parallelism, never one request per task hammering the server.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import urllib.error
import urllib.parse
import urllib.request
import uuid
from collections.abc import Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from nemo_spark.model.values import VALUE_SCHEMA, Value, ValueError_
from nemo_spark.sources.dsv_typed import _PARSERS

HTTP_GET_CHAR_LIMIT = 2_000  # sparql.rs:39
MAX_BINDINGS_PER_PAGE = 32_000  # sparql.rs:42
QUERY_PAGE_CHAR_LIMIT = 740_000  # sparql.rs:45
QUERY_DEFAULT = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"  # sparql.rs:48
_ACCEPT = "text/tab-separated-values"


def _sparql_request(endpoint: str, query: str) -> urllib.request.Request:
    """GET when the query fits the URL budget, form-POST otherwise
    (sparql.rs:39, :188-192; resource_providers/http.rs:108-115)."""
    if len(query) > HTTP_GET_CHAR_LIMIT:
        data = urllib.parse.urlencode({"query": query}).encode()
        return urllib.request.Request(
            endpoint,
            data=data,
            headers={
                "Accept": _ACCEPT,
                "Content-Type": "application/x-www-form-urlencoded",
            },
        )
    sep = "&" if "?" in endpoint else "?"
    return urllib.request.Request(
        endpoint + sep + urllib.parse.urlencode({"query": query}),
        headers={"Accept": _ACCEPT},
    )


_CHUNK = 1 << 20  # streaming read granularity: driver memory per page is O(this)
_HEADER_LIMIT = 8 << 20  # max bytes scanned for the TSV header line
_staging_dirs: list[str] = []


def _cleanup_staging() -> None:  # pragma: no cover - atexit
    for d in _staging_dirs:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_staging)


def _staging_dir() -> str:
    """Directory the staged TSV pages land in. Local temp by default; point
    ``NEMO_SPARK_SPARQL_STAGING`` at a DFS mount on a real cluster so the
    executors read the pages without driver involvement. Files must outlive
    the (lazy) DataFrame, so cleanup is deferred to process exit — or to
    :func:`release_staging` once a consumer has eagerly materialized."""
    base = os.environ.get("NEMO_SPARK_SPARQL_STAGING")
    d = tempfile.mkdtemp(prefix="nemo_sparql_", dir=base)
    _staging_dirs.append(d)
    return d


def staging_mark() -> int:
    """Marker for :func:`release_staging` (pair around an import that will
    be eagerly materialized)."""
    return len(_staging_dirs)


def release_staging(mark: int) -> None:
    """Delete staging dirs created since ``mark``. Call ONLY after every
    DataFrame read from those pages has been eagerly materialized
    (``localCheckpoint(eager=True)``) — lazy frames would re-scan the
    deleted files. Driver-thread-sequential by contract (import loads run
    on the driver's rule-evaluation thread)."""
    while len(_staging_dirs) > mark:
        shutil.rmtree(_staging_dirs.pop(), ignore_errors=True)


def fetch_sparql_to_file(
    endpoint: str, query: str, dest_dir: str, timeout: float = 120.0
) -> tuple[list[str], str]:
    """Stream one exchange's TSV body to ``dest_dir``, header line stripped
    while streaming (ignore_headers=true per page, reader.rs:166). Returns
    ``(header_variables, file_path)``. Driver memory stays O(_CHUNK): the
    body is copied to disk chunk-by-chunk, never held whole."""
    path = os.path.join(dest_dir, f"page-{uuid.uuid4().hex}.tsv")
    header: list[str] | None = None
    buf = b""
    with urllib.request.urlopen(_sparql_request(endpoint, query), timeout=timeout) as resp:
        with open(path, "wb") as f:
            while True:
                chunk = resp.read(_CHUNK)
                if not chunk:
                    break
                if header is None:
                    buf += chunk
                    nl = buf.find(b"\n")
                    if nl < 0:
                        if len(buf) > _HEADER_LIMIT:
                            # a TSV result's first line is its variable
                            # header; a multi-MB newline-free body is not a
                            # TSV result — fail loudly instead of buffering
                            # the whole response (the O(result) regime this
                            # streaming path exists to prevent)
                            raise ValueError(
                                f"SPARQL response has no newline in the first "
                                f"{_HEADER_LIMIT} bytes — not a TSV result"
                            )
                        continue
                    header = buf[:nl].decode("utf-8").rstrip("\r").split("\t")
                    f.write(buf[nl + 1 :])
                    buf = b""
                else:
                    f.write(chunk)
    if header is None:
        # headerless / empty body: the whole (tiny) buffer was the header
        header = buf.decode("utf-8").rstrip("\r").split("\t") if buf else []
    return header, path


def _term_sparql(v: Value | None) -> str:
    """Value -> SPARQL VALUES term (queries.rs ground_term_from_datavalue);
    labeled nulls have no ground form -> UNDEF."""
    from nemo_spark.model.values import T_IRI, T_LANG, T_NULL, T_STRING, quote_string

    if v is None or v.t == T_NULL:
        return "UNDEF"
    if v.t == T_IRI:
        return f"<{v.s}>"
    if v.t == T_STRING:
        return quote_string(v.s)
    if v.t == T_LANG:
        content, lang = v.lang_pair()
        return quote_string(content) + "@" + lang
    return quote_string(v.lexical()) + f"^^<{v.datatype_iri()}>"


def _skip_string(s: str, i: int) -> int:
    """``i`` points at an opening quote; return the index just past the
    string's close. Handles SPARQL long literals (\"\"\"...\"\"\" and
    '''...''') as well as short ones — a scanner that pairs the triple
    quotes as short strings leaves the literal's interior visible to brace
    counting / variable renaming and corrupts the query."""
    q = s[i]
    n = len(s)
    if s[i : i + 3] == q * 3:
        j = i + 3
        while j < n:
            if s[j] == "\\":
                j += 2
                continue
            if s[j : j + 3] == q * 3:
                return j + 3
            j += 1
        return n
    j = i + 1
    while j < n:
        if s[j] == "\\":
            j += 2
            continue
        if s[j] == q:
            return j + 1
        j += 1
    return n


def _last_group_close(query: str) -> int:
    """Index of the last '}' OUTSIDE quotes, IRIs and # comments — a brace
    inside a trailing comment must not receive the VALUES injection (the
    endpoint would ignore the whole block)."""
    last = -1
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c in ('"', "'"):
            i = _skip_string(query, i)
        elif c == "<":
            j = query.find(">", i)
            i = n if j < 0 else j + 1
        elif c == "#":
            j = query.find("\n", i)
            i = n if j < 0 else j + 1
        else:
            if c == "}":
                last = i
            i += 1
    return last


def query_with_values(query: str, variables: Sequence[str], rows: Sequence[tuple]) -> str:
    """Inject a VALUES block restricting ``variables`` into the query's
    outermost group pattern (textual analogue of queries.rs
    pattern_with_bindings: a Join of the pattern with VALUES)."""
    if not rows:
        return query
    var_list = " ".join(f"?{v}" for v in variables)
    bindings = " ".join("(" + " ".join(_term_sparql(c) for c in row) + ")" for row in rows)
    block = f" VALUES ({var_list}) {{ {bindings} }} "
    close = _last_group_close(query)
    if close < 0:
        raise ValueError(f"query has no group pattern to restrict: {query!r}")
    return query[:close] + block + query[close:]


def _paged_chunks(
    query: str, variables: Sequence[str], rows: Sequence[tuple]
) -> list[list[tuple]]:
    """Page binding ROWS into chunks whose rendered VALUES query fits the
    limits (reader.rs:99-135): at most MAX_BINDINGS_PER_PAGE bindings and
    QUERY_PAGE_CHAR_LIMIT chars per query; oversized chunks split in half
    recursively. Structured rows (not query strings) are the paging unit so
    the HTTP-413 retry path can re-split them exactly — never by re-parsing
    serialized query text."""

    def build(chunk: list[tuple]) -> list[list[tuple]]:
        q = query_with_values(query, variables, chunk)
        if len(q) < QUERY_PAGE_CHAR_LIMIT or len(chunk) == 1:
            return [chunk]
        mid = (len(chunk) + 1) // 2
        return build(chunk[:mid]) + build(chunk[mid:])

    out: list[list[tuple]] = []
    for start in range(0, len(rows), MAX_BINDINGS_PER_PAGE):
        out.extend(build(list(rows[start : start + MAX_BINDINGS_PER_PAGE])))
    return out


def _select_arity(query: str) -> int | None:
    """Number of projected variables of a SELECT query, or None when it
    can't be determined textually (SELECT *, expressions aside — AS-aliased
    expressions still count one ?var each, which is the alias)."""
    import re as _re

    m = _re.search(r"SELECT\s+(?:DISTINCT\s+|REDUCED\s+)?(.*?)\bWHERE\b", query, _re.I | _re.S)
    if not m or "*" in m.group(1) or "(" in m.group(1):
        # SELECT * / (expr AS ?alias) projections: not countable textually
        return None
    seen: list[str] = []
    for v in _re.findall(r"[?$](\w+)", m.group(1)):
        if v not in seen:
            seen.append(v)
    return len(seen) or None


def read_sparql_typed(
    spark: SparkSession,
    endpoint: str,
    query: str = QUERY_DEFAULT,
    formats: list[str] | None = None,
    bindings: tuple[Sequence[str], Sequence[tuple]] | None = None,
    timeout: float = 120.0,
    max_concurrent_requests: int = 4,
) -> DataFrame:
    """Run a SPARQL SELECT against ``endpoint`` and return typed value-struct
    columns c0..c{n-1} (n = result variables, from the TSV header).

    ``bindings=(variables, rows)`` restricts the query server-side via paged
    VALUES injection — the reader-side half of nemo's binding-pushdown
    imports (join_imports_simple.rs); rows are tuples of :class:`Value`.
    Pages are fetched with bounded concurrency, streamed to staging files
    (bounded driver memory, see :func:`_staging_dir`); an HTTP 413 splits
    the failing page's binding rows in half and retries (reader.rs:112-131).
    """
    if bindings is not None and not list(bindings[1]):
        # zero binding rows: the restricted result is empty by definition —
        # never fall through to an unrestricted whole-endpoint dump. Arity
        # comes from formats, else the query's SELECT projection (the
        # restricted variables are a SUBSET of the projection, so
        # len(bindings[0]) would under-count and break downstream unions)
        n = (
            len([f for f in (formats or []) if f != "skip"])
            or _select_arity(query)
            or len(bindings[0])
        )
        schema = ", ".join(f"c{i} {VALUE_SCHEMA}" for i in range(max(n, 1)))
        return spark.createDataFrame([], schema)
    chunks: list[list[tuple] | None] = (
        list(_paged_chunks(query, bindings[0], list(bindings[1]))) if bindings else []
    ) or [None]
    dest = _staging_dir()

    def fetch_page(chunk: list[tuple] | None) -> list[tuple[list[str], str]]:
        """(header, staged file) per exchange; each fetch derives its own
        header — no shared mutable state across pool threads. Recurses on
        HTTP 413 with the chunk's actual rows split in half."""
        q = query if chunk is None else query_with_values(query, bindings[0], chunk)
        try:
            return [fetch_sparql_to_file(endpoint, q, dest, timeout)]
        except urllib.error.HTTPError as e:
            if e.code != 413 or chunk is None or len(chunk) <= 1:
                raise
            mid = (len(chunk) + 1) // 2
            return fetch_page(chunk[:mid]) + fetch_page(chunk[mid:])

    if len(chunks) == 1:
        results = fetch_page(chunks[0])
    else:
        with ThreadPoolExecutor(max_workers=max_concurrent_requests) as ex:
            results = [r for part in ex.map(fetch_page, chunks) for r in part]

    header = next((h for h, _ in results if h), [])
    paths = [p for _, p in results]
    arity = max(len(header), 1)
    fmts = formats or ["anything"] * arity
    return _tsv_files_to_typed(spark, paths, fmts)


def _binding_rows(rows) -> list[tuple]:
    """Collected key rows -> Value tuples; a SQL NULL cell becomes None,
    which :func:`_term_sparql` renders as UNDEF (a VALUES wildcard — a safe
    over-fetch: the engine re-joins the restricted frame on the shared
    variables, where NULL never matches)."""
    return [
        tuple(None if c is None else Value(c["t"], c["i"], c["d"], c["s"]) for c in row)
        for row in rows
    ]


def merge_sparql_imports(
    specs: Sequence[tuple[str, Sequence[str], Sequence[str]]],
) -> tuple[str, list[str]] | None:
    """Merge several SPARQL SELECT queries used as import atoms of ONE rule
    into a single conjunctive query (nemo's TransformationMergeSparql,
    ``rule_model/pipeline/transformations/merge_sparql.rs``: positive import
    clauses against the same endpoint merge into one clause whose pattern is
    the Join of the originals).

    ``specs`` — per import: (query text, projection variable names, rule
    variable name per atom position). Each query's projection variables are
    renamed to the rule's variable names (so variables shared between atoms
    join SERVER-side); non-projected variables get import-scoped fresh names
    to avoid capture. Returns ``(merged_query, output_variable_names)`` or
    None when some query's shape cannot be merged (non-SELECT, duplicate
    projection)."""
    import re

    bodies: list[str] = []
    out_names: list[str] = []
    for idx, (query, proj, terms) in enumerate(specs):
        # anchored at ^: a PREFIX/BASE prologue would be silently dropped by
        # the textual merge (the copied body still uses the prefixed names),
        # so prologued queries are NOT mergeable — they load separately.
        # '$var' (the alternate SPARQL variable form) would escape the
        # ?-token renaming: also unmergeable.
        m = re.match(r"\s*SELECT\s+(.*?)\s*WHERE\s*\{(.*)\}\s*$", query, re.IGNORECASE | re.DOTALL)
        if (
            m is None
            or "$" in query
            or len(proj) != len(terms)
            or len(set(proj)) != len(proj)
        ):
            return None
        rename = dict(zip(proj, terms))
        body = _rename_query_vars(m.group(2), rename, idx).strip().rstrip(".").strip()
        bodies.append(body)
        for av in terms:
            if av not in out_names:
                out_names.append(av)
    merged = (
        "SELECT "
        + " ".join(f"?{v}" for v in out_names)
        + " WHERE { "
        + " . ".join(bodies)
        + " . }"
    )
    return merged, out_names


def _rename_query_vars(body: str, rename: dict, idx: int) -> str:
    """Rename ``?var`` tokens in a group pattern, import-scoping non-renamed
    ones — but ONLY outside <IRIs>, quoted literals (double OR single
    quoted, both legal SPARQL) and ``#`` comments, where a '?name' sequence
    (URL query strings, literal text) must stay untouched."""
    import re

    out: list[str] = []
    i, n = 0, len(body)
    var_re = re.compile(r"\?(\w+)")
    while i < n:
        c = body[i]
        if c == "<":
            j = body.find(">", i)
            j = n if j < 0 else j + 1
            out.append(body[i:j])
            i = j
        elif c in ('"', "'"):
            j = _skip_string(body, i)
            out.append(body[i:j])
            i = j
        elif c == "#":
            # SPARQL comment: opaque to end of line
            j = body.find("\n", i)
            j = n if j < 0 else j
            out.append(body[i:j])
            i = j
        elif c == "?":
            m = var_re.match(body, i)
            if m:
                v = m.group(1)
                out.append("?" + rename.get(v, f"__m{idx}_{v}"))
                i = m.end()
            else:
                out.append(c)
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def sparql_deferred_loader(
    spark: SparkSession,
    endpoint: str,
    variables: Sequence[str],
    query: str = QUERY_DEFAULT,
    formats: list[str] | None = None,
    max_pushdown_keys: int = 100_000,
):
    """Deferred-import loader for :meth:`SemiNaiveEngine.register_deferred`
    that pushes the rule body's bindings to the endpoint as paged VALUES
    blocks (nemo's join_imports over a SPARQL source). ``variables`` maps
    the import's column positions to the query's variable names.

    Binding keys are collected to the driver (they are the distinct values
    of a join column — dimension-sized by construction); above
    ``max_pushdown_keys`` the loader falls back to a full endpoint read
    restricted by a broadcast semi-join, which keeps the plan correct when
    a binding column is unexpectedly large."""
    from nemo_spark.engine.seminaive import semi_join_loader

    full_cache: list[DataFrame] = []  # one checkpointed full dump at most

    def loader(bindings):
        if bindings is None:
            if full_cache:
                return full_cache[0]
            return read_sparql_typed(spark, endpoint, query, formats=formats)
        shared, keys = bindings
        rows = keys.limit(max_pushdown_keys + 1).collect()
        if not rows:
            # no binding keys: the restricted result is empty by definition —
            # never fall through to an unrestricted whole-endpoint dump
            n = len([f for f in (formats or []) if f != "skip"]) or len(variables)
            schema = ", ".join(f"c{i} {VALUE_SCHEMA}" for i in range(max(n, 1)))
            return spark.createDataFrame([], schema)
        if len(rows) > max_pushdown_keys:
            # binding column too wide to push: restrict a FULL load with a
            # semi-join instead — fetched once per loader (a recursive rule
            # would otherwise re-download the endpoint every round)
            if not full_cache:
                mark = staging_mark()
                full_cache.append(
                    read_sparql_typed(spark, endpoint, query, formats=formats)
                    .localCheckpoint(eager=True)
                )
                release_staging(mark)
            return semi_join_loader(full_cache[0])(bindings)
        vars_ = [variables[pos] for pos, _ in shared]
        # materialize + release: a recursive rule calls this loader once per
        # application, and each call stages fetched TSV pages to disk — the
        # pages are already fully fetched (driver-side HTTP) by the time
        # read_sparql_typed returns, so checkpointing costs one small local
        # job and prevents unbounded staging-dir growth across rounds
        mark = staging_mark()
        out = read_sparql_typed(
            spark, endpoint, query, formats=formats, bindings=(vars_, _binding_rows(rows))
        ).localCheckpoint(eager=True)
        release_staging(mark)
        return out

    # merge metadata: lets the engine coalesce several import atoms of one
    # rule against the same endpoint into ONE remote query (merge_sparql.rs)
    loader.sparql_info = {
        "endpoint": endpoint,
        "query": query,
        "variables": list(variables),
        "formats": formats,
    }
    return loader


def _tsv_files_to_typed(
    spark: SparkSession, paths: list[str], formats: list[str]
) -> DataFrame:
    """Read staged SPARQL-TSV result pages distributed and decode them with
    the DSV cell parsers (quoting=false, tab delimiter — reader.rs:160-168)."""
    keep = [i for i, f in enumerate(formats) if f != "skip"]
    parsers = [(_PARSERS[formats[i]], i) for i in keep]
    total = len(formats)
    out_schema = ", ".join(f"c{j} {VALUE_SCHEMA}" for j in range(max(len(keep), 1)))
    src = spark.read.text(paths)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            cols: list[list] = [[] for _ in keep]
            for val in pdf["value"]:
                if val is None or val == "":
                    continue
                rec = val.split("\t")
                if len(rec) != total:
                    continue  # flexible records, as in the DSV reader
                try:
                    vals = [p(rec[i]) for p, i in parsers]
                except ValueError_:
                    continue
                for c, v in zip(cols, vals):
                    c.append({"t": v.t, "i": v.i, "d": v.d, "s": v.s})
            yield pd.DataFrame({f"c{j}": pd.Series(cols[j], dtype="object") for j in range(len(keep))})

    return src.mapInPandas(parse, schema=out_schema)
