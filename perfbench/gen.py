"""Seeded input generators for the workloads.

Every generator is a pure function of ``(seed, size)``: it draws from one
``numpy.random.default_rng(seed)`` stream and returns plain Python/NumPy
data, so the oracles in :mod:`oracle` can recompute the expected output
without Spark. ``write_*`` helpers put the data on disk in the form the
program reads (parquet for the KG and dedup workloads, CSV for the Datalog
workload); they are called before any timing starts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PREDICATES = ("works_at", "located_in", "part_of")
ALIAS_PREFIXES = ("entity_", "ent-", "E.")
ROLES = ("user", "assistant", "tool")
# filler vocabulary: lowercase words that can never form an alias or a
# relation sentence, so each turn holds at most the one planted triple
FILLER_WORDS = (
    "the a of and to in is it for on we can see that this was very good "
    "order report status ticket search result query update please thanks "
    "check again later today review draft plan meeting notes follow"
).split()
N_FILES = 8  # parquet files per table: the scan gets several splits


def alias(k: int, variant: int) -> str:
    return f"{ALIAS_PREFIXES[variant]}{k}"


# --------------------------------------------------------------------- KG


@dataclass
class KgInput:
    """Transcripts plus the alias dictionary that links them.

    ``subj``/``obj`` are entity indices, ``sv``/``ov`` alias variants,
    ``pred`` predicate indices and ``filler`` filler-text indices, one per
    turn. ``alias_rows`` lists every (alias, entity_id) pair of the
    dictionary."""

    subj: np.ndarray
    sv: np.ndarray
    pred: np.ndarray
    obj: np.ndarray
    ov: np.ndarray
    filler: np.ndarray
    alias_rows: list[tuple[str, str]]

    @property
    def n_turns(self) -> int:
        return len(self.subj)


def planted_alias_rows(n_entities: int, ambiguous: dict[int, int]) -> list[tuple[str, str]]:
    """Three aliases per entity, plus ``E.<k>`` also naming entity
    ``ambiguous[k]`` — the shared alias that merges two clusters."""
    rows = [(alias(k, v), f"ent{k}") for k in range(n_entities) for v in range(3)]
    rows += [(alias(k, 2), f"ent{t}") for k, t in sorted(ambiguous.items())]
    return rows


def _filler_pool(rng: np.random.Generator, size: int, words: int) -> list[str]:
    idx = rng.integers(0, len(FILLER_WORDS), size=(size, words))
    return [" ".join(FILLER_WORDS[i] for i in row) for row in idx]


def kg_entities_input(seed: int, n_turns: int, n_entities: int, n_located: int, n_other: int) -> KgInput:
    """An entity universe with a ``located_in`` tree of ``n_located`` edges,
    ``n_entities // 10`` ambiguous ``E.<k>`` aliases that merge two alias
    clusters each, and ``n_other`` random works_at / part_of facts. Turns
    cycle through every fact, with random alias variants.

    The seed only relabels: the tree is a complete 4-ary tree over randomly
    chosen entities (so its depth, the closure size and the number of
    doubling rounds are the same for every seed), and the merged pairs are
    drawn from the entities outside the tree."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_entities)
    tree, rest = perm[: n_located + 1], perm[n_located + 1 :]
    n_amb = min(n_entities // 10, len(rest) // 2)
    ambiguous = {int(k): int(t) for k, t in zip(rest[:n_amb], rest[n_amb : 2 * n_amb])}
    loc_s, loc_o = tree[1:], tree[np.arange(n_located) // 4]
    oth_s = rng.integers(0, n_entities, n_other)
    oth_o = rng.integers(0, n_entities, n_other)
    oth_p = np.where(rng.random(n_other) < 0.5, 0, 2)
    fs = np.concatenate([loc_s, oth_s])
    fo = np.concatenate([loc_o, oth_o])
    fp = np.concatenate([np.full(n_located, 1), oth_p])
    pick = rng.permutation(np.resize(np.arange(len(fs)), n_turns))
    return KgInput(
        subj=fs[pick],
        sv=rng.integers(0, 3, n_turns),
        pred=fp[pick],
        obj=fo[pick],
        ov=rng.integers(0, 3, n_turns),
        filler=rng.integers(0, 4096, n_turns),
        alias_rows=planted_alias_rows(n_entities, ambiguous),
    )


def _alias_array(k: np.ndarray, v: np.ndarray) -> pa.Array:
    prefixes = pa.array(ALIAS_PREFIXES).take(pa.array(v))
    return pc.binary_join_element_wise(prefixes, pa.array(k).cast(pa.string()), "")


def transcript_table(inp: KgInput, seed: int) -> pa.Table:
    """The transcript table (conv_id, turn_idx, role, text, tool, ts)."""
    n = inp.n_turns
    rng = np.random.default_rng(seed ^ 0x5EED)
    pool = pa.array(_filler_pool(rng, 4096, 10))
    filler = pool.take(pa.array(inp.filler))
    text = pc.binary_join_element_wise(
        _alias_array(inp.subj, inp.sv),
        pa.array(PREDICATES).take(pa.array(inp.pred)),
        _alias_array(inp.obj, inp.ov),
        ".",
        filler,
        " ",
    )
    # ~30% of turns land in one hot conversation (skew), the rest spread
    hot = rng.random(n) < 0.3
    conv = np.where(hot, 0, rng.integers(1, 97, n))
    conv_id = pc.binary_join_element_wise(
        "conv", pc.utf8_lpad(pa.array(conv).cast(pa.string()), 4, "0"), ""
    )
    role_idx = np.arange(n) % 3
    role = pa.array(ROLES).take(pa.array(role_idx))
    tool = pa.array(np.where(role_idx == 2, "search", None), pa.string())
    ts = pa.array(
        np.datetime64("2024-01-01T00:00:00", "us") + np.arange(n).astype("timedelta64[s]"),
        pa.timestamp("us", tz="UTC"),
    )
    return pa.table(
        {
            "conv_id": conv_id,
            "turn_idx": pa.array(np.arange(n, dtype=np.int32)),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )


def write_parquet(table: pa.Table, path: str, files: int = N_FILES) -> int:
    """Write ``table`` as ``files`` parquet files under ``path``; returns
    the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    total = 0
    for i in range(files):
        part = table.slice(i * step, step)
        fn = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, fn)
        total += os.path.getsize(fn)
    return total


def write_alias_dict(rows: list[tuple[str, str]], path: str) -> int:
    tbl = pa.table({"alias": [a for a, _ in rows], "entity_id": [e for _, e in rows]})
    return write_parquet(tbl, path, files=1)


# ---------------------------------------------------------------- Datalog


@dataclass
class DatalogInput:
    edges: list[tuple[int, int]]  # chain blocks: the recursive stratum
    blocked: list[int]  # negated in the `open` stratum
    tiers: list[tuple[int, int]]  # small side graph: a local stratum


def datalog_input(seed: int, blocks: int, chain: int, n_tiers: int) -> DatalogInput:
    """``blocks`` disjoint chains of ``chain`` nodes over shuffled ids, so
    the linear ``reach`` recursion needs ``chain - 1`` rounds; 5% of nodes
    are blocked; ``n_tiers`` random forward edges form the side graph."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(blocks * chain) + 1
    grid = ids.reshape(blocks, chain)
    edges = list(zip(grid[:, :-1].ravel().tolist(), grid[:, 1:].ravel().tolist()))
    order = rng.permutation(len(edges))
    edges = [edges[i] for i in order]
    blocked = sorted(rng.choice(ids, size=max(1, len(ids) // 20), replace=False).tolist())
    a = rng.integers(0, 400, n_tiers)
    b = a + rng.integers(1, 20, n_tiers)
    tiers = sorted(set(zip(a.tolist(), b.tolist())))
    return DatalogInput(edges, blocked, tiers)


# ``above`` negates ``narrow`` (empty: fanout counts are positive), which
# puts it in a stratum of its own after the aggregates; that stratum's
# inputs are small, so the engine evaluates it in LocalFixpoint, while
# ``reach`` (edges above the workload's local threshold) runs distributed
# semi-naive rounds.
DATALOG_PROGRAM = """\
@import edge :- csv{resource="edge.csv", format=(int, int)} .
@import blocked :- csv{resource="blocked.csv", format=(int)} .
@import tier :- csv{resource="tier.csv", format=(int, int)} .

reach(?x, ?y) :- edge(?x, ?y) .
reach(?x, ?z) :- reach(?x, ?y), edge(?y, ?z) .
open(?x, ?y) :- reach(?x, ?y), ~blocked(?y) .
fanout(?x, #count(?y)) :- open(?x, ?y) .
widest(#max(?n)) :- fanout(?x, ?n) .
narrow(?w) :- widest(?w), ?w < 0 .
above(?x, ?y) :- tier(?x, ?y), ~narrow(?x) .
above(?x, ?z) :- above(?x, ?y), tier(?y, ?z) .

@export open :- csv{} .
@export fanout :- csv{} .
@export above :- csv{} .
"""


def write_datalog(inp: DatalogInput, workdir: str) -> int:
    """Program plus its three CSV imports under ``workdir``; returns the
    bytes written."""
    os.makedirs(workdir, exist_ok=True)
    files = {
        "program.rls": DATALOG_PROGRAM,
        "edge.csv": "".join(f"{a},{b}\n" for a, b in inp.edges),
        "blocked.csv": "".join(f"{a}\n" for a in inp.blocked),
        "tier.csv": "".join(f"{a},{b}\n" for a, b in inp.tiers),
    }
    total = 0
    for name, body in files.items():
        with open(os.path.join(workdir, name), "w") as f:
            f.write(body)
        total += len(body)
    return total


# ------------------------------------------------------------------ dedup


def dedup_input(seed: int, n_docs: int) -> list[str]:
    """Documents ``doc_id = index`` in families of four that share a
    16-word prefix and differ in a 30-word tail (band collisions at
    Jaccard ~0.2: candidates the verifier rejects); every third family also
    holds two near-copies of its first member with one word changed
    (Jaccard >= 0.8: the true clusters). The seed only picks the words, so
    the family structure is the same for every seed."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(20000)]
    docs: list[str] = []
    family = 0
    while len(docs) < n_docs:
        prefix = rng.integers(0, len(vocab), 16)
        for m in range(4):
            words = [vocab[i] for i in np.concatenate([prefix, rng.integers(0, len(vocab), 30)])]
            docs.append(" ".join(words))
            if m == 0 and family % 3 == 0:
                for pos in rng.integers(0, len(words), 2):
                    copy = list(words)
                    copy[pos] = vocab[int(rng.integers(0, len(vocab)))]
                    docs.append(" ".join(copy))
        family += 1
    return docs[:n_docs]


def write_docs(docs: list[str], path: str) -> int:
    tbl = pa.table({"doc_id": pa.array(np.arange(len(docs), dtype=np.int64)), "text": docs})
    return write_parquet(tbl, path)
