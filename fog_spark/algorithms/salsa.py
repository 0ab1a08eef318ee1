"""SALSA (Lempel & Moran 2000) — stochastic hubs & authorities.

The link-analysis twin of HITS (algorithms/hits.py) where each update
is a RANDOM-WALK step instead of a raw adjacency sum: the authority
chain moves backward along a uniformly chosen in-link, then forward
along a uniformly chosen out-link,

    h_k(j) = Σ_{(j,i)∈E} a_{k-1}(i) / indeg(i)
    a_k(i) = Σ_{(j,i)∈E} h_k(j)     / outdeg(j)

Because both updates are column-stochastic, total mass is conserved —
no norm scalar is needed between passes, so unlike HITS the loop runs
with ZERO driver-side aggregations: two scatter joins + two keyed
aggregations per iteration, one materialize (plan cut) per iteration,
and the Σa≈1 invariant rides that job as an observed metric. The
degree normalizations are attached to the edge table ONCE before the
loop (the same pre-attachment as weighted PageRank's w/wsum).

Not in FOG (its apps stop at the PageRank family, fogsrc/main.cpp:
51-135); SALSA is the standard web-graph companion the reference's
own roadmap never reached.
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


def salsa(
    edges: DataFrame,
    niters: int = 10,
    ctx=None,
) -> DataFrame:
    """(id, authority, hub) after ``niters`` backward/forward rounds on
    the simple (deduplicated) directed graph. Authority mass starts
    uniform over vertices with indeg > 0 and stays summed to 1; hub
    mass likewise over outdeg > 0 vertices. Vertices outside either
    side report 0.0 for that score."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    verts = vertices_of(e).localCheckpoint(eager=False)
    n = verts.count()

    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # normalizations ride the edges once — the loop never recomputes them
    eb = (
        e.join(ind, "dst")
        .select("src", "dst", (F.lit(1.0) / F.col("ind")).alias("wb"))
        .localCheckpoint(eager=False)
    )
    ef = (
        e.join(od, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("od")).alias("wf"))
        .localCheckpoint(eager=False)
    )

    with SuperstepLoop(ctx, niters) as loop:
        state = loop.state
        if state is None:
            n_auth = ind.count()
            auth0 = ind.select(F.col("dst").alias("id"), F.lit(1.0 / max(n_auth, 1)).alias("authority"))
            state = (
                verts.join(auth0, "id", "left")
                .select("id", F.coalesce("authority", F.lit(0.0)).alias("authority"),
                        F.lit(0.0).alias("hub"))
            )
            state = materialize(state, ctx, 0)

        def step(state, it, prev):
            st = maybe_broadcast(state, n)
            # backward pass: authority mass -> hubs, 1/indeg per in-link
            hmsg = eb.join(st, eb["dst"] == st["id"]).select(
                eb["src"].alias("hid"), (F.col("authority") * F.col("wb")).alias("m")
            )
            agg_h = hmsg.groupBy("hid").agg(F.sum("m").alias("h"))
            # forward pass: hub mass -> authorities, 1/outdeg per out-link
            amsg = ef.join(maybe_broadcast(agg_h, n), ef["src"] == F.col("hid")).select(
                ef["dst"].alias("aid"), (F.col("h") * F.col("wf")).alias("m")
            )
            agg_a = amsg.groupBy("aid").agg(F.sum("m").alias("a"))
            nxt = (
                state.select("id")
                .join(maybe_broadcast(agg_a, n), state["id"] == F.col("aid"), "left")
                .join(maybe_broadcast(agg_h, n), state["id"] == F.col("hid"), "left")
                .select(
                    "id",
                    F.coalesce("a", F.lit(0.0)).alias("authority"),
                    F.coalesce("h", F.lit(0.0)).alias("hub"),
                )
            )
            state, om = materialize_observed(
                nxt, [F.sum("authority").alias("mass")], ctx, it
            )
            return state, {"active": n, "delta": float(om["mass"] or 0.0)}

        state, _ = loop.run(state, step)
    return state.select("id", "authority", "hub")
