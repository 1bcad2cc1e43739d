"""Evaluation order of rule programs: one group per SCC, in topological order.

Mirrors nemo's default selection strategy, "stratified negation ▸
dependency graph ▸ round robin" (reference:
``nemo/src/execution/selection_strategy/strategy_graph.rs:14``,
``strategy_stratified_negation.rs:27-52``). The rule dependency graph
(Tarjan SCC over predicates) is condensed, and each SCC's rules form one
group. The engine evaluates the groups one after another in topological
order, each to its own fixpoint, round-robining that group's rules
(``strategy_round_robin.rs:14-62``). A non-recursive group therefore costs a
single application per rule.

Rules with negation or aggregation over a predicate must see that
predicate complete. Topological order gives this for free, since every SCC
comes after the SCCs it reads; the one error left is a negative/aggregate
edge inside an SCC (a non-stratifiable program).
"""

from __future__ import annotations

from collections import defaultdict

from nemo_spark.model.rules import Program, Rule


def stratify(program: Program) -> list[list[Rule]]:
    """The rules of each SCC, one group per SCC, groups in topological order
    and rules in program order within a group."""
    # Edges between predicates, body -> head: neg edges (negation, aggregation)
    # must not close a cycle.
    pos_edges: dict[str, set[str]] = defaultdict(set)  # body -> head
    neg_edges: dict[str, set[str]] = defaultdict(set)
    idb = program.idb_predicates()
    for r in program.rules:
        has_agg = r.head_aggregate() is not None
        # heads of one rule are derived together: tie them into one SCC
        hs = [h.pred for h in r.heads()]
        for h1 in hs:
            for h2 in hs:
                if h1 != h2:
                    pos_edges[h1].add(h2)
        for h in r.heads():
            for a in r.body:
                if a.pred in idb:
                    (neg_edges if has_agg else pos_edges)[a.pred].add(h.pred)
            for a in r.negated:
                if a.pred in idb:
                    neg_edges[a.pred].add(h.pred)

    preds = sorted(idb | {p for p in program.facts} | set(pos_edges) | set(neg_edges))
    index = {p: i for i, p in enumerate(preds)}
    n = len(preds)
    adj: list[list[int]] = [[] for _ in range(n)]
    for src, dsts in list(pos_edges.items()) + list(neg_edges.items()):
        for dst in dsts:
            adj[index[src]].append(index[dst])

    comp = _tarjan_scc(n, adj)

    # negative edge inside an SCC => not stratifiable
    for src, dsts in neg_edges.items():
        for dst in dsts:
            if comp[index[src]] == comp[index[dst]]:
                raise ValueError(
                    f"program not stratifiable: negation/aggregation cycle through {src} -> {dst}"
                )

    # Tarjan numbers components in reverse topological order: the highest
    # id is a source, so evaluation runs from the highest id down
    groups: dict[int, list[Rule]] = defaultdict(list)
    for r in program.rules:
        groups[comp[index[r.head.pred]]].append(r)
    return [groups[c] for c in sorted(groups, reverse=True)]


def _tarjan_scc(n: int, adj: list[list[int]]) -> list[int]:
    """Iterative Tarjan; returns component id per node (reverse topo order)."""
    comp = [-1] * n
    low = [0] * n
    num = [-1] * n
    stack: list[int] = []
    on_stack = [False] * n
    counter = [0]
    ncomp = [0]

    for root in range(n):
        if num[root] != -1:
            continue
        work: list[tuple[int, int]] = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                num[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if num[w] == -1:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif on_stack[w]:
                    low[v] = min(low[v], num[w])
            if recurse:
                continue
            if low[v] == num[v]:
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    comp[w] = ncomp[0]
                    if w == v:
                        break
                ncomp[0] += 1
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
    return comp
