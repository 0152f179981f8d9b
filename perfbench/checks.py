"""Output checks. Each returns ``None`` when the output is right, or a
one-line reason when it is not.

Query oracles are plain pandas/Python over the committed tables collected
to the driver — independent of the Spark operators they check."""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint(df: DataFrame, col: str = "id") -> tuple:
    """Order-independent fingerprint of a column's value multiset."""
    h = F.xxhash64(col)
    r = df.agg(
        F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)")), F.bit_xor(h)
    ).first()
    return (int(r[0]), str(r[1]), int(r[2]))


def graph_fingerprint(nodes: DataFrame, edges: DataFrame) -> tuple:
    return fingerprint(nodes), fingerprint(edges)


def extractor_pr(got: set, want: set) -> str | None:
    missing, extra = want - got, got - want
    if missing or extra:
        return f"heuristic P/R below 1.0: {len(missing)} missing, {len(extra)} extra"
    return None


def typed_sets_equal(a_nodes, a_edges, b_nodes, b_edges) -> str | None:
    """(id, type) node and edge sets of two graphs are equal."""
    for what, a, b in (
        ("nodes", a_nodes.select("id", "node_type"), b_nodes.select("id", "node_type")),
        ("edges", a_edges.select("id", "edge_type"), b_edges.select("id", "edge_type")),
    ):
        a, b = a.distinct(), b.distinct()
        only_a, only_b = a.exceptAll(b).count(), b.exceptAll(a).count()
        if only_a or only_b:
            return f"{what} differ from the one-shot build: {only_a} only streamed, {only_b} only one-shot"
    return None


# -- graph-query oracles ------------------------------------------------------

class QueryOracle:
    """Reference answers for the query mix, from the collected graph."""

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.n = nodes.select("id", "node_type", "label").toPandas()
        self.e = edges.select("from_node_id", "to_node_id", "edge_type", "confidence").toPandas()
        self.label = dict(zip(self.n["id"], self.n["label"]))

    def counts(self):
        return (
            sorted(self.n["node_type"].value_counts().items()),
            sorted(self.e["edge_type"].value_counts().items()),
        )

    def influence_topk(self, k=20):
        e = self.e[self.e["edge_type"].isin(["INTRODUCES", "USES_CONCEPT"])]
        use = e.groupby("to_node_id")["from_node_id"].nunique()
        n = self.n[self.n["node_type"] == "concept"][["id", "label"]].drop_duplicates()
        n = n.assign(usage_count=n["id"].map(use).fillna(0).astype(int))
        n = n.sort_values(["usage_count", "label"], ascending=[False, True]).head(k)
        return list(zip(n["id"], n["label"], n["usage_count"]))

    def neighbors_out(self, node):
        e = self.e[self.e["from_node_id"] == node]
        return sorted(
            (t, et) for t, et in zip(e["to_node_id"], e["edge_type"]) if t in self.label
        )

    def similar_union(self, node):
        e = self.e[self.e["edge_type"] == "SIMILAR_TO"]
        best: dict[str, float] = {}
        for a, b, c in zip(e["from_node_id"], e["to_node_id"], e["confidence"]):
            for me, other in ((a, b), (b, a)):
                if me == node:
                    best[other] = max(best.get(other, c), c)
        return sorted((o, round(c, 9)) for o, c in best.items() if o in self.label)

    def _adj(self, directed_edge_type=None):
        adj = defaultdict(set)
        e = self.e if directed_edge_type is None else self.e[self.e["edge_type"] == directed_edge_type]
        for a, b in zip(e["from_node_id"], e["to_node_id"]):
            adj[a].add(b)
            if directed_edge_type is None:
                adj[b].add(a)
        return adj

    def bfs_subgraph(self, root, depth=2):
        adj, seen, frontier = self._adj(), {root: 0}, {root}
        for d in range(1, depth + 1):
            nxt = {v for u in frontier for v in adj[u]} - seen.keys()
            seen.update({v: d for v in nxt})
            frontier = nxt
        return sorted(seen.items())

    def two_hop(self, e1, e2, end_type):
        a = self.e[self.e["edge_type"] == e1][["from_node_id", "to_node_id"]]
        b = self.e[self.e["edge_type"] == e2][["from_node_id", "to_node_id"]]
        j = a.merge(b, left_on="to_node_id", right_on="from_node_id")
        ends = set(self.n.loc[self.n["node_type"] == end_type, "id"])
        out = {(s, c) for s, c in zip(j["from_node_id_x"], j["to_node_id_y"]) if c in ends}
        return sorted((s, c, self.label[c]) for s, c in out)

    def recursive_chain(self, starts, depth):
        # follow IMPROVES_ON edges INTO the frontier: child -> parent means
        # child improves on parent, so from parent we reach its children
        kids = defaultdict(set)
        e = self.e[self.e["edge_type"] == "IMPROVES_ON"]
        for child, parent in zip(e["from_node_id"], e["to_node_id"]):
            kids[parent].add(child)
        out = set()

        def walk(start, node, path, d):
            out.add((start, node, d))
            if d == depth:
                return
            for c in kids[node]:
                if c not in path:
                    walk(start, c, path | {c}, d + 1)

        for s in starts:
            walk(s, s, {s}, 0)
        return sorted(out)


def query_rows(q: str, df: DataFrame | tuple) -> object:
    """Collect an operator result into the oracle's shape."""
    if q == "counts":
        nodes_c, edges_c = df
        return (
            sorted((r[0], r[1]) for r in nodes_c.collect()),
            sorted((r[0], r[1]) for r in edges_c.collect()),
        )
    pdf: pd.DataFrame = df.toPandas()
    if q == "influence_topk":
        return list(zip(pdf["id"], pdf["label"], pdf["usage_count"].astype(int)))
    if q == "neighbors_out":
        return sorted(zip(pdf["neighbor_id"], pdf["edge_type"]))
    if q == "similar_union":
        return sorted((o, round(c, 9)) for o, c in zip(pdf["other_id"], pdf["confidence"]))
    if q == "bfs_subgraph":
        return sorted(zip(pdf["node_id"], pdf["depth"].astype(int)))
    if q == "two_hop":
        return sorted(zip(pdf["start_id"], pdf["end_id"], pdf["end_label"]))
    if q == "recursive_chain":
        return sorted(zip(pdf["start_id"], pdf["node_id"], pdf["depth"].astype(int)))
    raise ValueError(q)
