"""Answers computed with numpy/pandas on the driver, outside the engine.

Each function mirrors the engine's documented semantics, not its code:
degree = out + in over the undirected expansion; PageRank
r' = (1-d)/N + d·Σ r(u)/deg(u); CC component = minimum string id;
triangles and Jaccard counts over the distinct unordered part pairs that
share an order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class Graph:
    """Edge list over dense indices; ``ids`` is sorted, so index order is
    string order and the minimum index of a component is its minimum id."""

    def __init__(self, src, dst):
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        m = len(src)
        self.s, self.d = inv[:m], inv[m:]
        self.n = len(self.ids)

    def und(self):
        return np.concatenate([self.s, self.d]), np.concatenate([self.d, self.s])


def degree(g: Graph) -> pd.DataFrame:
    deg = np.bincount(g.s, minlength=g.n) + np.bincount(g.d, minlength=g.n)
    return pd.DataFrame({"id": g.ids, "degree": deg.astype(np.int64)})


def pagerank(g: Graph, fixed_iterations=None, tol=1e-6, max_iterations=100, damping=0.85):
    si, di = g.und()
    deg = np.bincount(si, minlength=g.n).astype(np.float64)
    r = np.full(g.n, 1.0 / g.n)
    base = (1.0 - damping) / g.n
    for _ in range(fixed_iterations or max_iterations):
        r2 = base + damping * np.bincount(di, weights=(r / deg)[si], minlength=g.n)
        done = fixed_iterations is None and np.abs(r2 - r).max() <= tol
        r = r2
        if done:
            break
    return pd.DataFrame({"id": g.ids, "rank": r})


def connected_components(g: Graph) -> pd.DataFrame:
    lab = np.arange(g.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, g.s, lab[g.d])
        np.minimum.at(new, g.d, lab[g.s])
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    return pd.DataFrame({"id": g.ids, "component": g.ids[lab]})


def part_pairs(lineitem: pd.DataFrame):
    """Sorted part keys and the dense 0/1 adjacency of the parts that
    share an order (each distinct unordered pair once, no self pairs)."""
    li = lineitem[["l_orderkey", "l_partkey"]].drop_duplicates()
    p = li.merge(li, on="l_orderkey")
    p = p[p["l_partkey_x"] < p["l_partkey_y"]]
    parts = np.unique(li["l_partkey"].to_numpy())
    a = np.searchsorted(parts, p["l_partkey_x"].to_numpy())
    b = np.searchsorted(parts, p["l_partkey_y"].to_numpy())
    adj = np.zeros((len(parts), len(parts)))
    adj[a, b] = adj[b, a] = 1.0
    return parts, adj


def triangles_and_jaccard(lineitem: pd.DataFrame):
    """(triangle count, Jaccard rows as ``_q_jaccard`` emits them)."""
    parts, adj = part_pairs(lineitem)
    common = adj @ adj  # exact: integer counts far below 2**53
    tri = int(round((common * adj).sum() / 6))
    deg = adj.sum(axis=1)
    a, b = np.nonzero(np.triu(adj))
    pa_, pb_ = np.char.add("p", parts[a].astype(str)), np.char.add("p", parts[b].astype(str))
    c = common[a, b]
    jac = pd.DataFrame(
        {
            "src": np.where(pa_ < pb_, pa_, pb_),
            "dst": np.where(pa_ < pb_, pb_, pa_),
            "common_cnt": c.astype(np.int64),
            "union_cnt": (deg[a] + deg[b] - c).astype(np.int64),
        }
    )
    return tri, jac


def same_rows(got: pd.DataFrame, want: pd.DataFrame, key: list[str], atol: float = 0.0) -> str | None:
    """None when ``got`` holds exactly ``want``'s rows (numeric columns
    within ``atol``), else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    g = got.sort_values(key, kind="stable").reset_index(drop=True)
    w = want.sort_values(key, kind="stable").reset_index(drop=True)
    for col in want.columns:
        x, y = g[col].to_numpy(), w[col].to_numpy()
        if atol and x.dtype.kind == "f":
            bad = np.flatnonzero(~(np.abs(x - y) <= atol))
        else:
            bad = np.flatnonzero(np.asarray(x != y))
        if len(bad):
            i = bad[0]
            return f"{len(bad)} rows differ in {col}, first {g.loc[i].to_dict()} want {w.loc[i].to_dict()}"
    return None
