"""Expected outputs, computed in pure Python from the generators' data.

Nothing here imports Spark or nemo_spark: each oracle re-derives the
answer from the planted ground truth (entity indices, edge lists, document
texts) with textbook algorithms — union-find, BFS, a Python MinHash and
exact Jaccard — so a bug shared by the program and the oracle is
unlikely. Results are compared through :func:`fingerprint`, an
order-independent digest the benchmark also computes Spark-side over the
program's output (``workloads.spark_fingerprint``).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from collections.abc import Iterable

import numpy as np

from gen import PREDICATES, DatalogInput, KgInput, alias

SEP = "\x1f"


def row_key(row: Iterable) -> str:
    return SEP.join(str(v) for v in row)


def row_hash(row: Iterable) -> int:
    """First 32 bits of md5 over the ``SEP``-joined cells."""
    return int(hashlib.md5(row_key(row).encode()).hexdigest()[:8], 16)


def fingerprint(rows: Iterable[Iterable]) -> tuple[int, int]:
    """(row count, sum of row hashes): equal multisets give equal
    fingerprints; one changed, dropped or added row changes it."""
    n = total = 0
    for r in rows:
        n += 1
        total += row_hash(r)
    return n, total


class UnionFind:
    """Union-find whose representative is the smallest member."""

    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != x:
            gp = self.parent[p]
            self.parent[x] = gp
            x, p = p, gp
        return x

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def closure(edges: Iterable[tuple]) -> set[tuple]:
    """All (s, t) with t reachable from s over one or more edges (BFS)."""
    adj: dict = defaultdict(set)
    for s, t in edges:
        adj[s].add(t)
    out = set()
    for s in list(adj):
        seen: set = set()
        frontier = list(adj[s])
        while frontier:
            nxt = []
            for v in frontier:
                if v not in seen:
                    seen.add(v)
                    nxt.extend(adj.get(v, ()))
            frontier = nxt
        out.update((s, t) for t in seen)
    return out


# --------------------------------------------------------------------- KG


def kg_triples(inp: KgInput, transitive: str = "located_in") -> set[tuple[str, str, str]]:
    """The materialized KG: canonical triples plus the closure of the
    transitive predicate. A canonical id is the smallest node name
    (``a:<alias>`` / ``e:<entity>``) of the alias-entity component."""
    uf = UnionFind()
    for a, e in inp.alias_rows:
        uf.union("a:" + a, "e:" + e)
    n = int(max(inp.subj.max(), inp.obj.max())) + 1
    # one int64 code per (subj, sv, pred, obj, ov) turn, so np.unique runs
    # on a flat array
    code = (((inp.subj * 3 + inp.sv) * 3 + inp.pred) * n + inp.obj) * 3 + inp.ov
    triples = set()
    for c in np.unique(code).tolist():
        c, ov = divmod(c, 3)
        c, o = divmod(c, n)
        c, p = divmod(c, 3)
        s, sv = divmod(c, 3)
        triples.add((uf.find("a:" + alias(s, sv)), PREDICATES[p], uf.find("a:" + alias(o, ov))))
    edges = [(s, o) for s, p, o in triples if p == transitive]
    return triples | {(s, transitive, o) for s, o in closure(edges)}


# ---------------------------------------------------------------- Datalog


def datalog_exports(inp: DatalogInput) -> dict[str, set[tuple]]:
    """Rows of each ``@export`` of ``gen.DATALOG_PROGRAM``, by predicate."""
    reach = closure(inp.edges)
    blocked = set(inp.blocked)
    open_ = {(x, y) for x, y in reach if y not in blocked}
    count: dict[int, int] = defaultdict(int)
    for x, _ in open_:
        count[x] += 1
    narrow = {w for w in [max(count.values(), default=None)] if w is not None and w < 0}
    above = closure([(x, y) for x, y in inp.tiers if x not in narrow])
    return {"open": open_, "fanout": set(count.items()), "above": above}


# ------------------------------------------------------------------ dedup


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def minhash(sh: set[str], bands: int = 4) -> list[str]:
    """Per band, the smallest md5 hex digest of ``b<band>|<shingle>``."""
    return [min(hashlib.md5(f"b{b}|{s}".encode()).hexdigest() for s in sh) for b in range(bands)]


def dedup(docs: list[str], bands: int = 4, k: int = 3, threshold: float = 0.8) -> dict:
    """Near-duplicate clusters of ``docs`` (doc_id = index): LSH candidate
    pairs (shared band minhash), exact shingle Jaccard >= ``threshold``,
    then the smallest doc id of each connected component. Returns the
    clusters and the pair counts of the two steps."""
    sets = [shingles(d, k) for d in docs]
    if any(not s for s in sets):
        raise ValueError("documents shorter than k tokens are not generated")
    buckets: dict = defaultdict(list)
    for i, s in enumerate(sets):
        for b, h in enumerate(minhash(s, bands)):
            buckets[(b, h)].append(i)
    candidates = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    verified = [
        (a, b) for a, b in candidates if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold
    ]
    uf = UnionFind()
    for a, b in verified:
        uf.union(a, b)
    clusters = {i: uf.find(i) if i in uf.parent else i for i in range(len(docs))}
    return {"clusters": clusters, "candidate_pairs": len(candidates), "verified_pairs": len(verified)}
