"""The benchmark's workloads: seeded inputs, timed operations, checks.

Each workload is a closed loop with one client: a round issues its
operations in a fixed order, each only after the previous returned.
The seed only relabels vertex keys through a seeded bijection (part
keys of the order table, repo names of the repo table); sizes and
structure are fixed, so every seed does the same work.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fog_spark import oracles
from fog_spark.algorithms import cc as cc_mod
from fog_spark.algorithms import lpa as lpa_mod
from fog_spark.algorithms import pagerank as pr_mod
from fog_spark.algorithms import triangles as tri_mod
from fog_spark.engine.checkpoint import RunContext
from fog_spark.graph import derive as derive_mod
from fog_spark.queries import cooccur_edges

from perfbench import reference as ref

# Structure of every generated input is fixed by this seed; the run
# seed only relabels keys.
STRUCTURE_SEED = 20240901

# Order table of cooccur_dense: order sizes and lines per part match the
# sf0.1 lineitem fixture (mean out-degree ~110), at 1000 parts so a run
# takes about a minute.
COOCCUR_PARTS = 1000
COOCCUR_ORDERS = 7300
COOCCUR_MEAN_LINES = 4.0

# Repo table of repo_import: 52k files, above BROADCAST_MERGE_MAX (50k),
# so PageRank's per-superstep merge takes the shuffle-hash path. Imports
# follow fog_spark.fixtures_spark: six candidate targets per file, each
# kept with probability 0.6 when language-compatible.
REPO_REPOS = 26
REPO_FILES = 2000
REPO_CANDIDATES = 6
REPO_KEEP = 0.6

FOG_ITERS = 10  # the crashed durable run of repo_import resumes from halfway
LPA_ITERS = 10


class CheckFailed(AssertionError):
    pass


class Op(NamedTuple):
    metric: str  # wall-time metric of this op, e.g. "cc_s"
    span: str  # trace span / layer name
    run: Callable[[dict], object]  # timed; must force the computation
    check: Callable[[dict, object], None]  # untimed; raises CheckFailed
    prep: Callable[[dict], None] | None = None  # untimed; runs before ``run``


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _collect(df, value: str, ids: np.ndarray) -> np.ndarray:
    """Collect (id, value) into an array aligned with ascending ``ids``."""
    pdf = df.select("id", value).toPandas()
    _require(len(pdf) == len(ids), f"{value}: {len(pdf)} rows, expected {len(ids)}")
    pdf = pdf.sort_values("id")
    _require(np.array_equal(pdf["id"].to_numpy(), ids), f"{value}: vertex set differs")
    return pdf[value].to_numpy()


def _check_ranks(df, g: ref.Graph, expected: np.ndarray, what: str) -> np.ndarray:
    got = _collect(df, "rank", g.ids)
    err = np.abs(got - expected) / np.maximum(1.0, np.abs(expected))
    _require(bool(err.max() <= 1e-6), f"{what}: max error {err.max():.3g} > 1e-6")
    return got


def _check_edges(st, m) -> None:
    expected = len(st["ref"]["src"])
    _require(m == expected, f"derive: {m} edges, expected {expected}")


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# ---------------------------------------------------------------------------
# cooccur_dense
# ---------------------------------------------------------------------------


def cooccur_lineitem(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(STRUCTURE_SEED)
    sizes = np.maximum(rng.poisson(COOCCUR_MEAN_LINES, COOCCUR_ORDERS), 1)
    orders = np.repeat(np.arange(COOCCUR_ORDERS, dtype=np.int64), sizes)
    parts = rng.integers(0, COOCCUR_PARTS, len(orders))
    relabel = np.random.default_rng(seed).permutation(COOCCUR_PARTS).astype(np.int64)
    return pd.DataFrame({"l_orderkey": orders, "l_partkey": relabel[parts]})


class CooccurDense:
    """Part co-occurrence graph: small broadcast state, many edges."""

    name = "cooccur_dense"

    def __init__(self, seed: int):
        self.lineitem = cooccur_lineitem(seed)

    def write_input(self, indir: str) -> None:
        self.indir = indir
        _write(self.lineitem, os.path.join(indir, "lineitem.parquet"))

    def reference(self) -> dict:
        pairs = ref.cooccur_pairs(self.lineitem)
        g = ref.Graph.from_pairs(pairs["src"].to_numpy(), pairs["dst"].to_numpy())
        e = ref.edge_array(g)
        lpa, _ = ref.label_propagation(g, LPA_ITERS)
        return {
            "ids": g.ids, "src": g.src, "dst": g.dst,
            "fog": oracles.pagerank_fog(e, g.n, FOG_ITERS),
            "cc": oracles.wcc(e, g.n),
            "lpa": lpa,
            "triangles": np.int64(ref.triangles(g)),
        }

    def ops(self, spark, workdir: str) -> list[Op]:
        """The timed operations, in order."""

        def derive(st):
            st["edges"] = cooccur_edges(spark, self.indir).persist()
            return st["edges"].count()

        def fog(st):
            out = pr_mod.pagerank_fog(st["edges"], niters=FOG_ITERS)
            out.count()
            return out

        def cc(st):
            out = cc_mod.connected_components(st["edges"])
            out.count()
            return out

        def lpa(st):
            out = lpa_mod.label_propagation(st["edges"], max_iters=LPA_ITERS)
            out.count()
            return out

        def triangles(st):
            return tri_mod.triangle_total(st["edges"])

        def check_fog(st, out):
            _check_ranks(out, st["g"], st["ref"]["fog"], "pagerank_fog")

        def check_cc(st, out):
            got = _collect(out, "component", st["g"].ids)
            same = np.array_equal(ref.canonical_partition(got), ref.canonical_partition(st["ref"]["cc"]))
            _require(same, "cc: component partition differs")

        def check_lpa(st, out):
            got = _collect(out, "label", st["g"].ids)
            expected = st["g"].ids[st["ref"]["lpa"]]
            _require(np.array_equal(got, expected), f"lpa: {int((got != expected).sum())} labels differ")

        def check_triangles(st, n):
            expected = int(st["ref"]["triangles"])
            _require(n == expected, f"triangles: {n}, expected {expected}")

        return [
            Op("derive_s", "op.derive", derive, _check_edges),
            Op("pagerank_fog_s", "op.pagerank_fog", fog, check_fog),
            Op("cc_s", "op.cc", cc, check_cc),
            Op("lpa_s", "op.lpa", lpa, check_lpa),
            Op("triangles_s", "op.triangles", triangles, check_triangles),
        ]

    def end_round(self, st: dict) -> None:
        if "edges" in st:
            st.pop("edges").unpersist()


# ---------------------------------------------------------------------------
# repo_import
# ---------------------------------------------------------------------------


def repo_table(seed: int) -> tuple[pd.DataFrame, ref.Graph]:
    """(repo, path, commit, lang, content) source table and its import
    graph by construction, over dense ids in sorted (repo, path) order.

    File ``i`` of a repo is ``src/mod{i:04d}.py`` (python, i % 3 == 0) or
    ``src/mod{i:04d}.h`` (c or cpp); python files import python modules,
    c/cpp files include c/cpp headers, never themselves."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    idx = np.arange(REPO_FILES)
    is_py = idx % 3 == 0
    langs = np.array(["python", "c", "cpp"])[idx % 3]
    paths = [f"src/mod{i:04d}.py" if py else f"src/mod{i:04d}.h" for i, py in zip(idx, is_py)]
    names = [f"repo{int(r):05d}" for r in np.random.default_rng(seed).permutation(REPO_REPOS)]
    rows, src, dst = [], [], []
    for r in range(REPO_REPOS):
        cand = rng.integers(0, REPO_FILES, (REPO_FILES, REPO_CANDIDATES))
        keep = (rng.random(cand.shape) < REPO_KEEP) & (is_py[cand] == is_py[:, None]) & (cand != idx[:, None])
        for i in idx:
            targets = np.unique(cand[i][keep[i]])
            if is_py[i]:
                lines = [f"# module {paths[i]}", *(f"import mod{t:04d}" for t in targets)]
            else:
                lines = [f"// module {paths[i]}", *(f'#include "mod{t:04d}.h"' for t in targets)]
            lines.append(f"filler_line = {i}")
            rows.append((names[r], paths[i], f"{r:05d}{i:05d}", langs[i], "\n".join(lines)))
            src.extend([r * REPO_FILES + i] * len(targets))
            dst.extend(r * REPO_FILES + targets)
    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    order = np.lexsort((files["path"].to_numpy(), files["repo"].to_numpy()))
    dense = np.empty(len(files), dtype=np.int64)
    dense[order] = np.arange(len(files))
    g = ref.Graph(np.arange(len(files), dtype=np.int64), dense[np.array(src)], dense[np.array(dst)])
    return files, g


class RepoImport:
    """Source-code repo table -> import graph -> durable, resumable PageRank."""

    name = "repo_import"

    def __init__(self, seed: int):
        self.files, self.graph = repo_table(seed)

    def write_input(self, indir: str) -> None:
        self.path = os.path.join(indir, "repos.parquet")
        _write(self.files, self.path)

    def reference(self) -> dict:
        g = self.graph
        return {"ids": g.ids, "src": g.src, "dst": g.dst,
                "fog": oracles.pagerank_fog(ref.edge_array(g), g.n, FOG_ITERS)}

    def ops(self, spark, workdir: str) -> list[Op]:
        """The timed operations, in order."""
        ckpt = os.path.join(workdir, "ckpt")

        def run_dir(tag: str) -> str:
            path = os.path.join(ckpt, tag)
            shutil.rmtree(path, ignore_errors=True)
            return path

        def derive(st):
            g = derive_mod.derive_graph(spark.read.parquet(self.path))
            st["edges"], st["vertices"] = g.edges.persist(), g.vertices
            return st["edges"].count()

        def fog_durable(st):
            st["full_dir"] = run_dir("full")
            ctx = RunContext(spark, st["full_dir"])
            out = pr_mod.pagerank_fog(st["edges"], st["vertices"], niters=FOG_ITERS, ctx=ctx)
            out.count()
            return out

        def crash(st):
            """Leave on disk what a run that crashed right after committing
            superstep FOG_ITERS // 2 leaves: the uninterrupted run's
            directory without any later snapshot or metric record."""
            st["resume_dir"] = run_dir("resume")
            shutil.copytree(st["full_dir"], st["resume_dir"])
            ctx = RunContext(spark, st["resume_dir"])
            for step in range(FOG_ITERS // 2 + 1, FOG_ITERS + 1):
                ctx.fmt.delete_partition("state", step)
                ctx.fmt.delete_record("metrics", step)
            _require(ctx.last_committed()["superstep"] == FOG_ITERS // 2, "resume: crash copy not truncated")

        def resume(st):
            ctx = RunContext(spark, st["resume_dir"])
            out = pr_mod.pagerank_fog(st["edges"], st["vertices"], niters=FOG_ITERS, ctx=ctx)
            out.count()
            return out

        def check_fog(st, out):
            st["fog_full"] = _check_ranks(out, st["g"], st["ref"]["fog"], "pagerank_fog")

        def check_resume(st, out):
            got = _collect(out, "rank", st["g"].ids)
            _require(np.array_equal(got, st.pop("fog_full")),
                     "resume: resumed ranks are not bit-identical to the uninterrupted run")

        return [
            Op("derive_s", "op.derive", derive, _check_edges),
            Op("pagerank_fog_s", "op.pagerank_fog", fog_durable, check_fog),
            Op("resume_s", "op.pagerank_fog", resume, check_resume, prep=crash),
        ]

    def end_round(self, st: dict) -> None:
        if "edges" in st:
            st.pop("edges").unpersist()
        st.pop("fog_full", None)


WORKLOADS = {"cooccur_dense": CooccurDense, "repo_import": RepoImport}
