"""BFS levels (TARGET engine pattern).

Reference semantics (application/bfs.hpp:38-100): level(root)=0, all
others the u32 sentinel 4294967295; scatter level+1 along out-edges
(self-loops skipped, fogsrc/cpu_thread.cpp:236-240); gather = MIN;
re-activate improved vertices; stop on empty frontier. Default root 0
(headers/options_utils.h:45-46).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.skew import HUB_DEGREE_THRESHOLD, HUB_FLAG, pick_hub_keys, skewed_gather, tag_hubs, top_degree_keys
from fog_spark.engine.superstep import (
    SuperstepLoop,
    active_metric,
    materialize,
    materialize_observed,
    merge_join,
    no_active,
    prepare_gather_edges,
    with_frontier_hint,
)

UNREACHED = 4294967295


def _vertices_with_indeg(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """(id, indeg): the default vertex set + self-loop-free in-degree
    (hub keys) from ONE union-aggregate over the edge table instead of
    the vertices_of distinct plus a separate top_degree_keys probe scan
    (self-loop endpoints stay in the vertex set with a zero degree
    contribution, matching the probe's self-loop-filtered view). An
    explicit vertex set carries no in-degree."""
    if vertices is not None:
        return vertices.select("id").withColumn("indeg", F.lit(None).cast("long"))
    return (
        edges.select(F.col("src").alias("id"), F.lit(0).alias("_d"))
        .unionByName(
            edges.select(
                F.col("dst").alias("id"),
                (F.col("src") != F.col("dst")).cast("int").alias("_d"),
            )
        )
        .groupBy("id")
        .agg(F.sum("_d").alias("indeg"))
    )


def _frontier_preamble(loop, init: DataFrame, fwd: DataFrame, explicit_vertices: bool,
                       hub_threshold: int | None) -> tuple[DataFrame, int, DataFrame, bool]:
    """The bfs/sssp loop preamble; returns (state, |V|, fwd, salted).

    Step-0 materialize (unless resumed), hub keys read off the cached
    state's ``indeg`` (resumed or explicit-vertex runs have none — probe
    the edge table), hub tagging, and the gather-aligned edge cache
    (superstep.prepare_gather_edges): zero shuffle exchanges per
    superstep in the broadcast-state regime. Caches go to ``loop``."""
    resumed = loop.state is not None
    state = loop.state if resumed else materialize(init, loop.ctx, 0)
    n_vertices = state.count()
    salted = False
    if hub_threshold is not None:
        if resumed or explicit_vertices:
            salted, hubs = pick_hub_keys(probe=top_degree_keys(fwd, "dst", hub_threshold))
        else:
            salted, hubs = pick_hub_keys(
                state_keys=state.filter(F.col("indeg") > hub_threshold).select(F.col("id").alias("dst"))
            )
        loop.own(hubs)
        if salted:
            fwd = tag_hubs(fwd, hubs)
    if "indeg" in state.columns:
        state = state.drop("indeg")
    prepared = prepare_gather_edges(fwd, n_vertices, salted)
    if prepared is not fwd:
        fwd = loop.own(prepared)
    return state, n_vertices, fwd, salted


def bfs_levels(
    edges: DataFrame,
    root: int = 0,
    vertices: DataFrame | None = None,
    max_iters: int = 10_000,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
) -> DataFrame:
    """Returns (id, level); unreached vertices carry the 4294967295 sentinel."""
    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")

    state = _vertices_with_indeg(edges, vertices).select(
        "id",
        F.when(F.col("id") == root, F.lit(0)).otherwise(F.lit(UNREACHED)).cast("long").alias("level"),
        (F.col("id") == root).alias("changed"),
        "indeg",
    )
    with SuperstepLoop(ctx, max_iters, stop=no_active) as loop:
        state, n_vertices, fwd, salted = _frontier_preamble(loop, state, fwd, vertices is not None, hub_threshold)

        def step(state, k, prev):
            active = prev["active"]
            frontier = with_frontier_hint(state.filter("changed").select("id", "level"), active)
            msg_cols = [fwd["dst"], (F.col("level") + 1).alias("cand")] + ([fwd[HUB_FLAG]] if salted else [])
            msgs = fwd.join(frontier, fwd["src"] == frontier["id"]).select(*msg_cols)
            if salted:
                agg = skewed_gather(msgs, "dst", [("min", "cand", "cand")], n_salts)
            else:
                agg = msgs.groupBy("dst").agg(F.min("cand").alias("cand"))
            state = (
                # fan-out guard: the agg is bounded by |V|, not frontier * 64
                merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n_vertices))
                .select(
                    "id",
                    F.least("level", F.coalesce("cand", F.col("level"))).alias("level"),
                    (F.coalesce("cand", F.col("level")) < F.col("level")).alias("changed"),
                )
            )
            state, om = materialize_observed(state, [active_metric()], ctx, k)
            return state, {"active": int(om["active"] or 0), "delta": None}

        # fresh: the root alone; resumed: |V| bounds the frontier when the
        # resumed step's metric record is unreadable
        state, _ = loop.run(state, step, first={"active": 1 if loop.state is None else n_vertices})
        return state.select("id", "level")
