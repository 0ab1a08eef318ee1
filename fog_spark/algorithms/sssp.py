"""Single-source shortest paths — frontier Bellman-Ford (TARGET pattern).

Reference semantics (application/sssp.hpp:38-106, SURVEY §2.8):
dist(source)=0 / else +inf, pred=-1; relax dist(u)+w(u,v) along
out-edges (self-loops skipped); a vertex absorbs a candidate iff it is
strictly smaller AND differs by more than epsilon=1e-3
(headers/types.hpp:17-19 FLOAT_EQ guard); improved vertices re-activate;
stop on empty frontier.

Gather is MIN-BY: the engine takes min(struct(dist, pred)) so equal
distances deterministically break ties toward the smallest predecessor
(the reference's arrival order is nondeterministic there; we pin the
deterministic choice, as FIXTURES.md's goldens do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.bfs import _frontier_preamble, _vertices_with_indeg
from fog_spark.engine.skew import HUB_DEGREE_THRESHOLD, HUB_FLAG, skewed_gather
from fog_spark.engine.superstep import (
    SuperstepLoop,
    active_metric,
    materialize_observed,
    merge_join,
    no_active,
    with_frontier_hint,
)

EPS = 1e-3


def sssp(
    edges: DataFrame,
    source: int = 0,
    vertices: DataFrame | None = None,
    max_iters: int = 10_000,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
) -> DataFrame:
    """Returns (id, dist, pred); unreached = (inf, -1). Requires a weight column."""
    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst", "weight")

    state = _vertices_with_indeg(edges, vertices).select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(float("inf"))).alias("dist"),
        F.lit(-1).cast("long").alias("pred"),
        (F.col("id") == source).alias("changed"),
        "indeg",
    )
    with SuperstepLoop(ctx, max_iters, stop=no_active) as loop:
        state, n_vertices, fwd, salted = _frontier_preamble(loop, state, fwd, vertices is not None, hub_threshold)

        def step(state, k, prev):
            active = prev["active"]
            frontier = with_frontier_hint(state.filter("changed").select("id", "dist"), active)
            msg_cols = [
                fwd["dst"],
                F.struct(
                    (F.col("dist") + F.col("weight")).alias("dist"),
                    frontier["id"].alias("pred"),
                ).alias("cand"),
            ] + ([fwd[HUB_FLAG]] if salted else [])
            msgs = fwd.join(frontier, fwd["src"] == frontier["id"]).select(*msg_cols)
            if salted:
                agg = skewed_gather(msgs, "dst", [("min", "cand", "cand")], n_salts)
            else:
                agg = msgs.groupBy("dst").agg(F.min("cand").alias("cand"))
            absorb = (F.col("cand.dist") < F.col("dist")) & (
                F.abs(F.col("cand.dist") - F.col("dist")) > EPS
            )
            state = (
                # fan-out guard: the agg is bounded by |V|, not frontier * 64
                merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n_vertices))
                .select(
                    "id",
                    F.when(absorb, F.col("cand.dist")).otherwise(F.col("dist")).alias("dist"),
                    F.when(absorb, F.col("cand.pred")).otherwise(F.col("pred")).alias("pred"),
                    F.coalesce(absorb, F.lit(False)).alias("changed"),
                )
            )
            state, om = materialize_observed(state, [active_metric()], ctx, k)
            return state, {"active": int(om["active"] or 0), "delta": None}

        # fresh: the root alone; resumed: |V| bounds the frontier when the
        # resumed step's metric record is unreadable
        state, _ = loop.run(state, step, first={"active": 1 if loop.state is None else n_vertices})
        return state.select("id", "dist", "pred")
