"""Synchronous label propagation (LPA).

Not in FOG (its TODO lists community detection as future work,
TODO.list); defined per SURVEY §2.8 in FOG's vertex-centric vocabulary:
scatter own label along the symmetrized edge table; gather = mode of
neighbor labels with ties broken toward the smallest label; synchronous
rounds; stop at fixed point or max_iters (synchronous LPA can 2-cycle
on bipartite structures, so a cap is part of the semantics).

The mode gather is two aggregations — groupBy(dst, label).count() then
argmax per dst — both map-side combinable. The argmax-with-tiebreak is
one MIN over struct(-count, label): lexicographic struct ordering gives
"highest count, then smallest label" with no window function and no
second shuffle (the second groupBy reuses the first's hash partitioning
on dst prefix via AQE).

Scale hygiene: hub (dst) keys run the count stage through the salted
two-stage fold (engine/skew.skewed_gather) on the composite
(dst, label) key, and the changed count is observed on the materialize
job (one Spark job per superstep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.skew import HUB_DEGREE_THRESHOLD, HUB_FLAG, pick_hub_keys, skewed_gather, tag_hubs, top_degree_keys
from fog_spark.engine.superstep import (
    SuperstepLoop,
    active_metric,
    materialize,
    materialize_observed,
    maybe_broadcast,
    merge_join,
    no_active,
    prepare_gather_edges,
    symmetrize,
)


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 20,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
) -> DataFrame:
    """Returns (id, label). Isolated vertices keep their own id."""
    with SuperstepLoop(ctx, max_iters, stop=no_active) as loop:
        if loop.done:  # the resumed step is the fixed point
            return loop.state.select("id", "label")
        # mode counts must not double-count duplicate (src,dst) pairs.
        # The distinct is a full shuffle — cache it so the hub probe and the
        # aligned re-partition below read it once, not recompute it each.
        sym0 = loop.own(symmetrize(edges).distinct().persist())
        sym = sym0

        resumed = loop.state is not None
        if resumed:
            state = loop.state.select("id", "label")
        elif vertices is None:
            # default vertex set + sym-degree (for the hub probe) from ONE
            # union-aggregate over the cached sym0 (self-loop-only vertices
            # ride along with a zero contribution) — replaces the
            # vertices_of distinct AND the separate top_degree_keys probe scan
            state = (
                sym0.select(F.col("dst").alias("id"), F.lit(1).alias("_d"))
                .unionByName(
                    edges.select("src", "dst")
                    .filter(F.col("src") == F.col("dst"))
                    .select(F.col("src").alias("id"), F.lit(0).alias("_d"))
                )
                .groupBy("id")
                .agg(F.sum("_d").alias("deg"))
                .select("id", F.col("id").alias("label"), "deg")
            )
        else:
            state = vertices.select("id", F.col("id").alias("label"), F.lit(None).cast("long").alias("deg"))
        if not resumed:
            state = materialize(state, ctx, 0)
        n = state.count()

        salted, hubs = False, None
        if hub_threshold is not None:
            if resumed or vertices is not None:
                salted, hubs = pick_hub_keys(probe=top_degree_keys(sym0, "dst", hub_threshold))
            else:
                # hub keys read off the cached state — no separate probe scan
                salted, hubs = pick_hub_keys(
                    state_keys=state.filter(F.col("deg") > hub_threshold).select(F.col("id").alias("dst"))
                )
            loop.own(hubs)
            if salted:
                sym = tag_hubs(sym0, hubs)
        if "deg" in state.columns:
            state = state.select("id", "label")
        # gather-aligned cache: with broadcast state both mode aggregations
        # reuse hash(dst) — zero exchanges per superstep (see
        # superstep.prepare_gather_edges; the LPA composite (dst,label) key
        # shuffles near-|E| partials otherwise, the worst case of the folds)
        prepared = prepare_gather_edges(sym, n, salted)
        if prepared is not sym:  # new aligned cache: materialize it off sym0's
            sym = loop.own(prepared)
            sym.count()
            sym0.unpersist()
        # else (salted): the loop keeps reading through sym0's cache

        def step(state, k, prev):
            st = maybe_broadcast(state, n)
            msg_cols = [sym["dst"], F.col("label")] + ([sym[HUB_FLAG]] if salted else [])
            msgs = sym.join(st, sym["src"] == st["id"]).select(*msg_cols)
            if salted:
                counts = skewed_gather(msgs, ["dst", "label"], [("count", F.lit(1), "cnt")], n_salts)
            else:
                counts = msgs.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("cnt"))
            best = counts.groupBy("dst").agg(
                F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("lbl"))).alias("b")
            ).select("dst", F.col("b.lbl").alias("new_label"))
            state = (
                merge_join(state, best, state["id"] == best["dst"], n)
                .select(
                    "id",
                    F.coalesce("new_label", F.col("label")).alias("label"),
                    (F.coalesce("new_label", F.col("label")) != F.col("label")).alias("changed"),
                )
            )
            state, om = materialize_observed(state, [active_metric()], ctx, k)
            return state.select("id", "label"), {"active": int(om["active"] or 0), "delta": None}

        state, _ = loop.run(state, step)
        return state.select("id", "label")
