"""RDF import and export over typed value structs — the parser-driven
engine's one RDF path.

Terms become proper Values (IRI / labeled null for blank nodes / typed
literals via the shared literal constructors), matching nemo's RDF reader
(``nemo/src/io/formats/rdf/reader.rs``). N-Triples / N-Quads parse per line;
Turtle / TriG / RDF-XML parse per document with a grammar subset that covers
the reference's test corpus. :func:`serialize_rdf_typed` writes all five
variants with the reference writer's drop semantics."""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from nemo_spark.model.values import (
    VALUE_SCHEMA,
    Value,
    ValueError_,
    from_typed_literal,
    unescape_string,
)

# subjects are IRIs or blank nodes ONLY (a literal subject is malformed
# N-Triples — the reference's rio parser rejects the line)
_NT_SUBJ = r"(<[^>]*>|_:\S+)"
_TERM = r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?)'
_NT_RE = re.compile(rf"^\s*{_NT_SUBJ}\s+(<[^>]*>)\s+{_TERM}\s*(?:(<[^>]*>|_:\S+)\s*)?\.\s*(?:#.*)?$")
_LIT_RE = re.compile(r'^"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?$')


def _term_value(tok: str, scope: str = "") -> Value:
    if tok.startswith("<"):
        return Value.iri(tok[1:-1])
    if tok.startswith("_:"):
        # blank nodes are DOCUMENT-scoped: the reference mints fresh nulls
        # per reader (reader.rs:40-46 bnode_map), so _:b1 from two files or
        # two imports must never unify — same convention as the Turtle
        # parser's '<scope>e.' namespace
        return Value.null(f"{scope}e.{tok[2:]}" if scope else tok[2:])
    m = _LIT_RE.match(tok)
    if not m:
        raise ValueError_(f"bad RDF term {tok!r}")
    lex = unescape_string(m.group(1))
    if m.group(3):
        return Value.lang_string(lex, m.group(3))
    if m.group(2):
        return from_typed_literal(lex, m.group(2))
    return Value.string(lex)


def read_rdf_typed(spark: SparkSession, path: str, fmt: str = "rdf") -> DataFrame:
    """Typed RDF facts: (subj, pred, obj) for N-Triples/Turtle/RDF-XML,
    (graph, subj, pred, obj) for N-Quads/TriG. Format by extension when
    ``fmt='rdf'`` (reference: nemo/src/io/formats/rdf.rs:67-91 variants)."""
    if fmt == "rdf":
        # sniff on the name with any compression extension stripped —
        # 'data.nt.gz' is gzipped N-Triples (spark.read.text decompresses
        # transparently; the reference strips the compression extension
        # before format sniffing too)
        name = path.lower()
        for comp in (".gz", ".bz2", ".zst"):
            if name.endswith(comp):
                name = name[: -len(comp)]
                break
        ext = name.rsplit(".", 1)[-1]
        fmt = {
            "nt": "ntriples", "nq": "nquads", "ttl": "turtle",
            "trig": "trig", "rdf": "rdfxml", "xml": "rdfxml",
        }.get(ext, ext)
    if fmt in ("turtle", "trig", "rdfxml"):
        return _read_rdf_doc(spark, path, fmt)
    if fmt not in ("ntriples", "nquads"):
        raise ValueError(f"RDF format {fmt!r} not supported")
    quads = fmt == "nquads"
    ncols = 4 if quads else 3
    schema = ", ".join(f"c{i} {VALUE_SCHEMA}" for i in range(ncols))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        scopes: dict[str, str] = {}
        for pdf in batches:
            cols: list[list] = [[] for _ in range(ncols)]
            for line, fname in zip(pdf["value"], pdf["__file"]):
                if not line or line.lstrip().startswith("#"):
                    continue
                m = _NT_RE.match(line)
                if not m:
                    continue  # malformed triples are skipped (reference behaviour)
                if not quads and m.group(4):
                    continue  # a 4-term line is malformed N-TRIPLES — skip it
                scope = scopes.get(fname)
                if scope is None:
                    scope = hashlib.md5(fname.encode()).hexdigest()[:8] + "."
                    scopes[fname] = scope
                toks = [m.group(1), m.group(2), m.group(3)]
                if quads:
                    # graph name comes FIRST in the predicate layout
                    # (reference rdf reader; see nquads testcase rule shape)
                    toks = [m.group(4) or f"<{DEFAULT_GRAPH_IRI}>"] + toks
                try:
                    vals = [_term_value(t, scope) for t in toks[:ncols]]
                except ValueError_:
                    continue
                for c, v in zip(cols, vals):
                    c.append({"t": v.t, "i": v.i, "d": v.d, "s": v.s})
            yield pd.DataFrame({f"c{i}": pd.Series(cols[i], dtype="object") for i in range(ncols)})

    from pyspark.sql import functions as F

    src = spark.read.text(path).select("value", F.input_file_name().alias("__file"))
    return src.mapInPandas(parse, schema=schema)


# ------------------------------------------------- Turtle / TriG / RDF-XML
#
# Whole-document formats parse per file inside an Arrow batch (one task per
# file, parallel across files — the same shape as the JSON reader). The
# Turtle grammar subset covers the reference's test corpus: prefixes (missing
# trailing dots tolerated, as the rdf-invalid-prefixes regression requires),
# statements with ';' / ',' lists, anonymous blank-node property lists
# ``[ ... ]``, literals with @lang / ^^datatype, bare numeric literals
# (xsd:integer / decimal / double rules), 'a' => rdf:type, TriG graph blocks.

_TTL_TOKEN = re.compile(
    r"""(?x)
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^>]*>)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<langdt>@[A-Za-z0-9-]+|\^\^)
  | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<pname>[A-Za-z_][\w.-]*:[\w.:#/-]*|:[\w.:#/-]*|_:[\w-]+)
  | (?P<kw>@prefix|@base|a\b|true\b|false\b|[A-Za-z_][\w-]*)
  | (?P<punct>[;,.\[\]{}()])
  | (?P<ws>\s+)
    """
)

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# the reference's default-graph marker (nemo/src/io/formats/rdf.rs:53):
# readers mint this IRI for quads in the default graph; writers map it back
# to "no graph term" on export
DEFAULT_GRAPH_IRI = "tag:nemo:defaultgraph"


def _ttl_tokens(text: str) -> list[str]:
    out = []
    i = 0
    while i < len(text):
        m = _TTL_TOKEN.match(text, i)
        if not m:
            raise ValueError_(f"turtle: cannot tokenize at {text[i:i+20]!r}")
        i = m.end()
        if m.lastgroup in ("ws", "comment"):
            continue
        out.append(m.group())
    return out


class _TurtleParser:
    def __init__(self, toks: list[str], quads: bool, scope: str = "") -> None:
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.bnode = 0
        # blank-node label scope: explicit labels live under '<scope>e.' and
        # anonymous property lists under '<scope>a.' — disjoint namespaces,
        # so an explicit _:b1 can never merge with the first [...] node, and
        # distinct documents in one read never unify their blank nodes
        # (RDF keeps blank nodes document-local, as does nemo's per-resource
        # import)
        self.scope = scope
        self.quads = quads
        self.graph = Value.iri(DEFAULT_GRAPH_IRI)
        self.out: list[tuple] = []

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def accept(self, tok):
        if self.peek() == tok:
            return self.next()
        return None

    def parse(self) -> list[tuple]:
        while self.peek() is not None:
            t = self.peek()
            if t == "@prefix":
                self.next()
                name = self.next()
                if name.endswith(":"):
                    name = name[:-1]
                iri = self.next()
                self.prefixes[name.rstrip(":")] = iri[1:-1]
                self.accept(".")  # tolerate a missing terminating dot
            elif t == "@base":
                self.next()
                self.base = self.next()[1:-1]
                self.accept(".")
            elif self.quads and t == "{":
                self._graph_block(self.graph)
            elif self.quads and (t.startswith("<") or (":" in t)) and self._peek_is_block():
                g = self._term(self.next())
                self._graph_block(g)
            else:
                self._statement()
        return self.out

    def _peek_is_block(self) -> bool:
        return self.i + 1 < len(self.toks) and self.toks[self.i + 1] == "{"

    def _graph_block(self, g: Value) -> None:
        old = self.graph
        self.graph = g
        assert self.next() == "{"
        while self.peek() != "}":
            self._statement()
        self.next()
        self.graph = old

    def _statement(self) -> None:
        subj = self._subject()
        self._predicate_object_list(subj)
        self.accept(".")

    def _predicate_object_list(self, subj: Value) -> None:
        while True:
            pred = self._predicate()
            while True:
                obj = self._object()
                self._emit(subj, pred, obj)
                if not self.accept(","):
                    break
            if not self.accept(";"):
                return
            if self.peek() in (".", "]", None):  # trailing ';'
                return

    def _emit(self, s: Value, p: Value, o: Value) -> None:
        if self.quads:
            self.out.append((self.graph, s, p, o))
        else:
            self.out.append((s, p, o))

    def _subject(self) -> Value:
        t = self.next()
        if t == "[":
            return self._bnode_props()
        return self._term(t)

    def _predicate(self) -> Value:
        t = self.next()
        if t == "a":
            return Value.iri(_RDF_TYPE)
        return self._term(t)

    def _object(self) -> Value:
        t = self.next()
        if t == "[":
            return self._bnode_props()
        if t.startswith('"'):
            lex = unescape_string(t[1:-1])
            nxt = self.peek()
            if nxt and nxt.startswith("@") and nxt not in ("@prefix", "@base"):
                return Value.lang_string(lex, self.next()[1:])
            if nxt == "^^":
                self.next()
                dt = self._term(self.next())
                return from_typed_literal(lex, dt.s)
            return Value.string(lex)
        return self._term(t)

    def _bnode_props(self) -> Value:
        self.bnode += 1
        node = Value.null(f"{self.scope}a.{self.bnode}" if self.scope else f"b{self.bnode}")
        if self.peek() != "]":
            self._predicate_object_list_for(node)
        assert self.next() == "]"
        return node

    def _predicate_object_list_for(self, subj: Value) -> None:
        while True:
            pred = self._predicate()
            while True:
                obj = self._object()
                self._emit(subj, pred, obj)
                if not self.accept(","):
                    break
            if not self.accept(";"):
                return
            if self.peek() in ("]", ".", None):
                return

    def _term(self, t: str) -> Value:
        if t.startswith("<"):
            iri = t[1:-1]
            if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
                # resolve relative IRIs against @base (RFC 3986 join;
                # '<>' denotes the base itself) — an unresolved relative
                # IRI silently fails to join with absolute IRIs from any
                # other source
                from urllib.parse import urljoin

                iri = urljoin(self.base, iri)
            return Value.iri(iri)
        if t.startswith("_:"):
            return Value.null(f"{self.scope}e.{t[2:]}" if self.scope else t[2:])
        if t.startswith('"'):
            return Value.string(unescape_string(t[1:-1]))
        if t in ("true", "false"):
            return Value.boolean(t == "true")
        if re.match(r"^[+-]?\d", t):
            from nemo_spark.model.values import XSD, from_decimal_literal

            if "e" in t.lower():
                return from_typed_literal(t, XSD + "double")
            return from_decimal_literal(t)
        if ":" in t:
            p, _, local = t.partition(":")
            if p not in self.prefixes:
                raise ValueError_(f"turtle: unknown prefix {p!r}")
            return Value.iri(self.prefixes[p] + local)
        raise ValueError_(f"turtle: unexpected term {t!r}")


def _rdfxml_triples(text: str, scope: str = "") -> list[tuple]:
    """RDF/XML subset (reference corpus shapes + what our own writer emits):
    rdf:Description with rdf:about / rdf:nodeID, attribute properties,
    nested descriptions, rdf:resource / rdf:nodeID objects, rdf:datatype
    typed literals and xml:lang language strings."""
    import xml.etree.ElementTree as ET

    RDF_NS = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
    XML_NS = "{http://www.w3.org/XML/1998/namespace}"
    root = ET.fromstring(text)
    out: list[tuple] = []
    bnode = [0]

    def expand(tag: str) -> str:
        return tag[1:].replace("}", "", 1) if tag.startswith("{") else tag

    def named_null(label: str) -> Value:
        # 'n.' namespace: disjoint from anonymous 'a.' and Turtle's 'e.'
        return Value.null(f"{scope}n.{label}" if scope else label)

    def node_value(el) -> Value:
        about = el.get(RDF_NS + "about")
        node_id = el.get(RDF_NS + "nodeID")
        if about is not None:
            v = Value.iri(about)
        elif node_id is not None:
            v = named_null(node_id)
        else:
            bnode[0] += 1
            v = Value.null(f"{scope}a.{bnode[0]}" if scope else f"x{bnode[0]}")
        # attribute properties (skip rdf:/xml: attrs)
        for k, val in el.attrib.items():
            if k.startswith(RDF_NS) or k.startswith(XML_NS):
                continue
            out.append((v, Value.iri(expand(k)), Value.string(val)))
        # property elements
        for prop in el:
            p = Value.iri(expand(prop.tag))
            res = prop.get(RDF_NS + "resource")
            if res is not None:
                out.append((v, p, Value.iri(res)))
                continue
            nid = prop.get(RDF_NS + "nodeID")
            if nid is not None:
                out.append((v, p, named_null(nid)))
                continue
            desc = list(prop)
            if desc:
                child = node_value(desc[0])
                out.append((v, p, child))
                continue
            lex = prop.text if prop.text is not None else ""
            dt = prop.get(RDF_NS + "datatype")
            lang = prop.get(XML_NS + "lang")
            if dt is not None:
                out.append((v, p, from_typed_literal(lex, dt)))
            elif lang is not None:
                out.append((v, p, Value.lang_string(lex, lang)))
            else:
                out.append((v, p, Value.string(lex)))
        return v

    for el in root:
        node_value(el)
    return out


def _read_rdf_doc(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    quads = fmt == "trig"
    ncols = 4 if quads else 3
    schema = ", ".join(f"c{i} {VALUE_SCHEMA}" for i in range(ncols))

    def parse(batches):
        for pdf in batches:
            cols: list[list] = [[] for _ in range(ncols)]
            for text in pdf["value"]:
                if not text or not text.strip():
                    continue
                import hashlib as _hl

                scope = _hl.md5(text.encode()).hexdigest()[:8] + "."
                if fmt == "rdfxml":
                    # a file may hold several concatenated standalone
                    # documents (our writer emits one per partition; a
                    # downstream coalesce merges them into one part file) —
                    # split on the XML declaration and parse each, with a
                    # per-document bnode scope
                    # split ONLY on the XML declaration — `<?xml-stylesheet`
                    # and other xml-prefixed processing instructions must
                    # not break a single document apart
                    docs = [d for d in re.split(r"(?=<\?xml[\s?])", text) if d.strip()]
                    rows = []
                    for k, doc in enumerate(docs):
                        rows.extend(_rdfxml_triples(doc, f"{scope}{k}." if len(docs) > 1 else scope))
                else:
                    rows = _TurtleParser(_ttl_tokens(text), quads, scope).parse()
                for row in rows:
                    for c, v in zip(cols, row):
                        c.append({"t": v.t, "i": v.i, "d": v.d, "s": v.s})
            yield pd.DataFrame({f"c{i}": pd.Series(cols[i], dtype="object") for i in range(ncols)})

    return spark.read.text(path, wholetext=True).mapInPandas(parse, schema=schema)


# local part of an XML QName (NCName subset; medial dots/dashes allowed)
_NCNAME_RE = re.compile(r"[A-Za-z_][\w.-]*$")


def _split_qname(iri: str) -> tuple[str, str] | None:
    """Split a predicate IRI into (namespace, local) at the last '#' / '/' /
    ':' whose remainder is a valid XML local name; None if unsplittable."""
    for i in range(len(iri) - 1, -1, -1):
        if iri[i] in "#/:":
            local = iri[i + 1 :]
            if local and _NCNAME_RE.match(local):
                return iri[: i + 1], local
            # an earlier split would put this separator char inside the
            # local name, which NCName forbids — unsplittable
            return None
    return None


_RDFXML_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
)


def _ncname_bnode(label: str) -> str:
    """rdf:nodeID must be an NCName (cannot start with a digit, limited
    charset); engine bnode labels carry md5-hex scopes and dots, so prefix
    with 'b' and sanitize. A changed label gets a short hash suffix so two
    distinct labels can never collide after sanitization; the mapping is a
    pure function of the label, preserving bnode identity across rows and
    partitions."""
    import hashlib as _hl

    safe = re.sub(r"[^\w.-]", "_", label)
    out = "b" + safe
    if safe != label:
        out += "." + _hl.md5(label.encode()).hexdigest()[:8]
    return out


def _xml_text(text: str) -> str:
    """Element-text escaping: besides &<>, carriage returns must become
    character references — a conforming XML parser end-of-line-normalizes
    raw \\r / \\r\\n to \\n, silently corrupting the literal."""
    from xml.sax.saxutils import escape

    return escape(text, {"\r": "&#13;"})


def _rdfxml_line(s: Value, p: Value, o: Value) -> str | None:
    """One self-contained rdf:Description element per triple. The predicate
    element declares its own namespace (xmlns:ns0) so every line is
    independent — no shared prefix table across partitions/rows, which is
    what makes the document safely writable in parallel."""
    from xml.sax.saxutils import quoteattr

    from nemo_spark.model.values import T_IRI, T_LANG, T_NULL, T_STRING

    split = _split_qname(p.s)
    if split is None:
        return None  # predicate not expressible as an XML QName
    ns, local = split
    subj_attr = (
        f"rdf:about={quoteattr(s.s)}"
        if s.t == T_IRI
        else f"rdf:nodeID={quoteattr(_ncname_bnode(s.s))}"
    )
    open_tag = f"ns0:{local} xmlns:ns0={quoteattr(ns)}"
    if o.t == T_IRI:
        prop = f"<{open_tag} rdf:resource={quoteattr(o.s)}/>"
    elif o.t == T_NULL:
        prop = f"<{open_tag} rdf:nodeID={quoteattr(_ncname_bnode(o.s))}/>"
    elif o.t == T_STRING:
        prop = f"<{open_tag}>{_xml_text(o.s)}</ns0:{local}>"
    elif o.t == T_LANG:
        text, tag = o.lang_pair()
        prop = f"<{open_tag} xml:lang={quoteattr(tag)}>{_xml_text(text)}</ns0:{local}>"
    else:
        prop = (
            f"<{open_tag} rdf:datatype={quoteattr(o.datatype_iri())}>"
            f"{_xml_text(o.lexical())}</ns0:{local}>"
        )
    return f"<rdf:Description {subj_attr}>{prop}</rdf:Description>"


def serialize_rdf_typed(df: DataFrame, fmt: str = "ntriples") -> DataFrame:
    """Typed value table -> one string column of RDF serialization lines.

    Reference semantics (``nemo/src/io/formats/rdf/writer.rs:241-305,389-397``):
    rows whose subject is not an IRI / blank node, or whose predicate (or
    graph, for quads) is not an IRI, are DROPPED (set_*_from_datavalue
    returning false skips the record); objects may be any term. Quads use
    the reader's (graph, s, p, o) column layout.

    Formats: ``ntriples`` / ``nquads`` emit one term-per-row line;
    ``turtle`` emits the same line set as ntriples (every N-Triples document
    is valid Turtle); ``trig`` emits default-graph triples bare and named
    graphs as one-line ``<g> { s p o . }`` blocks (valid TriG, line-oriented
    so partitions serialize independently); ``rdfxml`` wraps each PARTITION
    in its own well-formed RDF/XML document (header + one self-contained
    rdf:Description per triple + footer) — every part file parses standalone,
    which is how an XML format shards across a 1000-executor write. RDF/XML
    additionally drops triples whose predicate IRI cannot split into an XML
    QName (the underlying XML writer in the reference errors there; we keep
    the writer's skip-and-count discipline instead of failing the job)."""
    from nemo_spark.model.values import T_IRI, T_NULL

    quads = fmt in ("nquads", "trig")
    cols = list(df.columns)
    expected = 4 if quads else 3
    if len(cols) != expected:
        raise ValueError(f"{fmt} export needs arity {expected}, got {len(cols)}")

    def row_line(vals: list[Value]) -> str | None:
        if quads:
            g, s, p, o = vals
        else:
            s, p, o = vals
            g = None
        if s.t not in (T_IRI, T_NULL) or p.t != T_IRI:
            return None  # writer.rs drop semantics
        if g is not None and g.t not in (T_IRI, T_NULL):
            return None
        if fmt == "rdfxml":
            return _rdfxml_line(s, p, o)
        triple = f"{s.rdf_term()} {p.rdf_term()} {o.rdf_term()} ."
        if g is None:
            return triple
        if g.t == T_IRI and g.s == DEFAULT_GRAPH_IRI:
            # writer.rs:54 maps the marker IRI back to DefaultGraph: the
            # graph term is OMITTED (nquads) / the quad goes to the
            # top-level block (trig)
            return triple
        if fmt == "trig":
            return f"{g.rdf_term()} {{ {triple} }}"
        return f"{s.rdf_term()} {p.rdf_term()} {o.rdf_term()} {g.rdf_term()} ."

    def ser(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        started = False
        for pdf in batches:
            out = []
            for row in zip(*[pdf[c] for c in cols]):
                vals = [None if c is None else Value(c["t"], c["i"], c["d"], c["s"]) for c in row]
                if any(v is None for v in vals):
                    continue
                line = row_line(vals)
                if line is None:
                    continue
                out.append(line)
            if fmt == "rdfxml" and out and not started:
                out.insert(0, _RDFXML_HEADER)
                started = True
            if out:
                yield pd.DataFrame({"value": out})
        if started:
            yield pd.DataFrame({"value": ["</rdf:RDF>"]})

    return df.mapInPandas(ser, schema="value string")
