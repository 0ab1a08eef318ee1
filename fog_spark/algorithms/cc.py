"""Connected components by hash-min label propagation (WCC).

Reference semantics (SURVEY §2.8, application/cc.hpp:36-133): labels
start as own id; rounds alternate a forward pass over out-edges and a
backward pass over in-edges with a MIN gather; improved vertices
re-activate; fixed point = min vertex id of the weakly-connected
component. One pass per round over the SYMMETRIZED edge table converges
to the identical labels (and is how a distributed engine should do it —
no second reverse-CSR copy, reference convert/process_in_edge.cpp made
one on disk).

TARGET-engine frontier scheduling (fogsrc/fog_engine.cpp:159-209):
only changed vertices scatter; terminate when the frontier empties.
The frontier join is broadcast-hinted when it fits.

Scale hygiene:
- hub gather keys (in-degree > hub_threshold) route through the
  two-stage salted fold (engine/skew.skewed_gather) so no single
  reduce partition owns a hub's entire MIN gather;
- the per-superstep active count is observed on the materialize job
  itself (engine/superstep.materialize_observed) — one Spark job per
  superstep, not two.
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
    symmetrize,
    with_frontier_hint,
)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 200,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, component) — component = min id of the WCC. Exact.

    ``init_labels`` ((id, component)) warm-starts an incremental run —
    the previous fixed point after a delta batch grew the graph
    (``streaming.read_edge_log``). Two things happen: vertices start at
    their old label instead of their own id, and each (id, old-label)
    pair is unioned into the edge set as a SHORTCUT edge — old labels
    alone don't help (the new min still walks the old component's
    topology hop by hop), but the label star contracts every old
    component to diameter <= 2, so convergence needs only as many
    rounds as the contracted delta graph. The result is exactly the
    cold answer PROVIDED the old labels come from a run over a subset
    of the current graph (grow-only log): every old label is the id of
    a current member vertex, so min-over-labels = min id, and shortcut
    edges are chords inside components.
    """
    base = edges
    if init_labels is not None:
        star = init_labels.select(
            F.col("id").alias("src"), F.col("component").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        base = edges.select("src", "dst").unionByName(star)
    sym = symmetrize(base)  # self-loops dropped: TARGET rule cpu_thread.cpp:236-240

    # state carries a `changed` flag; the frontier is a projection of it.
    # Default vertex set + sym-degree (for the hub probe) come from ONE
    # union-aggregate over sym — sym reaches every endpoint of every
    # non-self-loop edge, and self-loop-only vertices ride along with a
    # zero degree contribution — instead of the two full passes the old
    # preamble paid (vertices_of distinct + top_degree_keys probe scan).
    if vertices is None:
        dv = (
            sym.select(F.col("dst").alias("id"), F.lit(1).alias("_d"))
            .unionByName(
                base.select("src", "dst")
                .filter(F.col("src") == F.col("dst"))
                .select(F.col("src").alias("id"), F.lit(0).alias("_d"))
            )
            .groupBy("id")
            .agg(F.sum("_d").alias("deg"))
        )
    else:
        dv = vertices.select("id").withColumn("deg", F.lit(None).cast("long"))
    if init_labels is not None:
        wl = init_labels.select(F.col("id").alias("wid"), F.col("component").alias("wcomp"))
        state = (
            dv.join(wl, dv["id"] == F.col("wid"), "left")
            .select(
                "id",
                F.coalesce("wcomp", F.col("id")).alias("comp"),
                F.lit(True).alias("changed"),
                "deg",
            )
        )
    else:
        state = dv.select("id", F.col("id").alias("comp"), F.lit(True).alias("changed"), "deg")
    with SuperstepLoop(ctx, max_iters, stop=no_active) as loop:
        resumed = loop.state is not None
        # a resumed snapshot persists the changed flag -> frontier restored
        state = loop.state if resumed else materialize(state, ctx, 0)
        n_vertices = state.count()

        salted, hubs = False, None
        if hub_threshold is not None:
            if resumed or vertices is not None:
                # no cached sym-degree available — probe the edge table
                salted, hubs = pick_hub_keys(probe=top_degree_keys(sym, "dst", hub_threshold))
            else:
                # hub keys read off the cached state — no separate probe scan
                salted, hubs = pick_hub_keys(
                    state_keys=state.filter(F.col("deg") > hub_threshold).select(F.col("id").alias("dst"))
                )
            loop.own(hubs)
            if salted:
                sym = tag_hubs(sym, hubs)
        if "deg" in state.columns:
            state = state.select("id", "comp", "changed")
        # gather-aligned edge cache: zero shuffle exchanges per superstep in
        # the broadcast-state regime (superstep.prepare_gather_edges)
        prepared = prepare_gather_edges(sym, n_vertices, salted)
        if prepared is not sym:
            sym = loop.own(prepared)

        def step(state, k, prev):
            active = prev["active"]
            frontier = with_frontier_hint(state.filter("changed").select("id", "comp"), active)
            msg_cols = [sym["dst"], F.col("comp")] + ([sym[HUB_FLAG]] if salted else [])
            msgs = sym.join(frontier, sym["src"] == frontier["id"]).select(*msg_cols)
            if salted:
                agg = skewed_gather(msgs, "dst", [("min", "comp", "new_comp")], n_salts)
            else:
                agg = msgs.groupBy("dst").agg(F.min("comp").alias("new_comp"))
            state = (
                # fan-out guard: the agg can have far more rows than the
                # frontier (hub out-neighborhoods) but never more than |V|
                merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n_vertices))
                .select(
                    "id",
                    F.least("comp", F.coalesce("new_comp", F.col("comp"))).alias("comp"),
                    (F.coalesce("new_comp", F.col("comp")) < F.col("comp")).alias("changed"),
                )
            )
            state, om = materialize_observed(state, [active_metric()], ctx, k)
            return state, {"active": int(om["active"] or 0), "delta": None}

        state, _ = loop.run(state, step, first={"active": n_vertices})
        return state.select("id", F.col("comp").alias("component"))
