"""Reference results computed outside Spark (NumPy / pandas).

Every operation the benchmark times is checked against a reference:
the graphs are rebuilt from the generated inputs, PageRank and WCC come
from ``fog_spark.oracles`` (pure NumPy), LPA and triangles from below. Vertex ids are compressed to 0..n-1
in ascending id order, so "smallest id" tie-breaks and min-id component
labels carry over unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class Graph:
    """Directed edge list over ascending vertex ids ``ids``; ``src``/``dst``
    index into ``ids``."""

    def __init__(self, ids: np.ndarray, src: np.ndarray, dst: np.ndarray):
        self.ids = ids
        self.src = src
        self.dst = dst

    @property
    def n(self) -> int:
        return len(self.ids)

    @classmethod
    def from_pairs(cls, src_ids: np.ndarray, dst_ids: np.ndarray) -> "Graph":
        """Graph over the endpoints of the given id pairs."""
        ids = np.unique(np.concatenate([src_ids, dst_ids]))
        return cls(ids, np.searchsorted(ids, src_ids), np.searchsorted(ids, dst_ids))


def cooccur_pairs(lineitem: pd.DataFrame) -> pd.DataFrame:
    """Distinct (src, dst) part pairs that share an order, src != dst."""
    li = lineitem[["l_orderkey", "l_partkey"]]
    pairs = li.merge(li, on="l_orderkey", suffixes=("_s", "_d"))
    pairs = pairs[pairs["l_partkey_s"] != pairs["l_partkey_d"]]
    return (
        pairs.rename(columns={"l_partkey_s": "src", "l_partkey_d": "dst"})[["src", "dst"]]
        .drop_duplicates()
        .reset_index(drop=True)
    )


def edge_array(g: Graph) -> np.ndarray:
    """The (m, 2) edge array the fog_spark.oracles functions take."""
    return np.stack([g.src, g.dst], axis=1)


def canonical_partition(labels: np.ndarray) -> np.ndarray:
    """Relabel a partition so each block is named by its smallest member
    index — two labelings describe the same partition iff these match."""
    order = np.argsort(labels, kind="stable")
    sorted_labels = labels[order]
    starts = np.r_[True, sorted_labels[1:] != sorted_labels[:-1]]
    block = np.cumsum(starts) - 1
    first = np.minimum.reduceat(order, np.flatnonzero(starts))
    out = np.empty_like(order)
    out[order] = first[block]
    return out


def label_propagation(g: Graph, max_iters: int) -> tuple[np.ndarray, int]:
    """Synchronous LPA over the distinct symmetrized simple graph: each
    round a vertex takes its neighbours' most frequent label, ties to the
    smallest; vertices without neighbours keep theirs. Stops at a fixed
    point or after ``max_iters`` rounds. Returns (label index, rounds)."""
    keep = g.src != g.dst
    sym = pd.DataFrame(
        {"src": np.r_[g.src[keep], g.dst[keep]], "dst": np.r_[g.dst[keep], g.src[keep]]}
    ).drop_duplicates()
    s, t = sym["src"].to_numpy(), sym["dst"].to_numpy()
    labels = np.arange(g.n)
    it = 0
    for it in range(1, max_iters + 1):
        cnt = pd.DataFrame({"dst": t, "label": labels[s]}).value_counts().reset_index(name="cnt")
        best = cnt.sort_values(["dst", "cnt", "label"], ascending=[True, False, True]).drop_duplicates("dst")
        new = labels.copy()
        new[best["dst"].to_numpy()] = best["label"].to_numpy()
        changed = int((new != labels).sum())
        labels = new
        if changed == 0:
            break
    return labels, it


def triangles(g: Graph) -> int:
    """Triangles of the undirected simple graph: trace(A^3) / 6 on a dense
    adjacency matrix (the workloads' graphs have a few thousand vertices;
    fog_spark.oracles.triangles walks neighbour sets in Python and takes
    seconds at this size)."""
    keep = g.src != g.dst
    a = np.zeros((g.n, g.n))
    a[g.src[keep], g.dst[keep]] = 1.0
    a[g.dst[keep], g.src[keep]] = 1.0
    return int(round(((a @ a) * a).sum() / 6.0))
