"""HITS (hubs & authorities, Kleinberg 1999) — link-graph centrality.

Not in FOG (its apps stop at PageRank-family, fogsrc/main.cpp:51-135);
a link-analysis engine without HITS is incomplete, and it exercises a
superstep shape PageRank does not: TWO alternating gathers per
iteration, one over in-edges (authority = sum of pointing hubs) and
one over out-edges (hub = sum of pointed authorities), with L2
normalization between them:

    a_k(v) = Σ_{u→v} h_{k-1}(u)   then  a_k ← a_k / ||a_k||_2
    h_k(v) = Σ_{v→w} a_k(w)       then  h_k ← h_k / ||h_k||_2

Plan shape per iteration: two scatter joins + two keyed aggregations
(the same cost envelope as two PageRank supersteps). Each L2 norm
rides its pass's materialization as an OBSERVED metric — two Spark
jobs per iteration, not four (a separate ``.agg().collect()`` per norm
used to re-execute the whole scatter join just for the scalar; pinned
by a job-count test). State is committed per iteration in its
NORMALIZED form, so the snapshot is exactly what resume needs —
checkpointable through the same RunContext seam as the other
algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    SuperstepLoop,
    materialize,
    materialize_observed,
    maybe_broadcast,
    vertices_of,
)


def hits(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    niters: int = 10,
    ctx=None,
) -> DataFrame:
    """(id, authority, hub) after ``niters`` full update+normalize
    rounds, starting from all-ones. Self-loops and duplicate edges are
    kept (each contributes to the sums), matching the textbook
    adjacency-matrix formulation A^T h / A a."""
    vertices = vertices if vertices is not None else vertices_of(edges)
    e = edges.select("src", "dst")

    with SuperstepLoop(ctx, niters) as loop:
        state = loop.state
        if state is None:
            state = materialize(
                vertices.select("id", F.lit(1.0).alias("authority"), F.lit(1.0).alias("hub")), ctx, 0
            )
        n = state.count()
        if n == 0:
            return state

        def step(state, it, prev):
            st = maybe_broadcast(state, n)
            # authority pass: gather hub mass over IN-edges
            amsg = e.join(st, e["src"] == st["id"]).select(e["dst"], F.col("hub").alias("m"))
            agg_a = amsg.groupBy("dst").agg(F.sum("m").alias("a_raw"))
            s1 = (
                state.join(maybe_broadcast(agg_a, n), state["id"] == agg_a["dst"], "left")
                .select("id", "hub", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"))
            )
            # the authority L2 norm RIDES the localCheckpoint job via
            # observe (one job for pass + norm; a separate .agg().collect()
            # used to re-execute the whole scatter join just for the scalar)
            s1, om_a = materialize_observed(
                s1, [F.sum(F.col("a_raw") * F.col("a_raw")).alias("ss")]
            )
            a_norm = float(om_a["ss"] or 0.0) ** 0.5 or 1.0
            # hubs see NORMALIZED a_k (textbook ordering), same iteration
            s1n = s1.select("id", (F.col("a_raw") / a_norm).alias("authority"), "hub")
            st1 = maybe_broadcast(s1n, n)
            hmsg = e.join(st1, e["dst"] == st1["id"]).select(e["src"], F.col("authority").alias("m"))
            agg_h = hmsg.groupBy("src").agg(F.sum("m").alias("h_raw"))
            s2 = (
                s1n.join(maybe_broadcast(agg_h, n), s1n["id"] == agg_h["src"], "left")
                .select("id", "authority", F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"))
            )
            s2, om_h = materialize_observed(
                s2, [F.sum(F.col("h_raw") * F.col("h_raw")).alias("ss")]
            )
            h_norm = float(om_h["ss"] or 0.0) ** 0.5 or 1.0
            norm = s2.select("id", "authority", (F.col("h_raw") / h_norm).alias("hub"))
            # with a ctx: the durable NORMALIZED snapshot (exactly what
            # resume needs) — a cheap projection scan of the just-
            # checkpointed s2; without one the projection over the
            # checkpointed s2 is already lineage-cut, no third job needed
            state = materialize(norm, ctx, it) if ctx is not None else norm
            return state, {"active": n, "delta": None}

        state, _ = loop.run(state, step)
    return state.select("id", "authority", "hub")
