"""Full core decomposition (coreness numbers) by h-index iteration.

``kcore.k_core`` answers one shell (the k-core for a GIVEN k); this
computes every vertex's coreness — the largest k whose k-core contains
it — in one run, using the distributed locality result of Montresor,
De Pellegrini & Miorandi 2011 ("Distributed k-core decomposition"):

    c_0(v)   = deg(v)
    c_t+1(v) = H({c_t(u) : u in N(v)})

where H is the h-index (largest h such that at least h neighbors have
value >= h). c_t decreases monotonically to the exact coreness: H of a
neighbor multiset never exceeds |N(v)| = c_0, and H is monotone in its
inputs, so pointwise decrease propagates by induction.

Superstep shape: one scatter of current values over the symmetrized
edges, then the h-index as max(least(value, rank)) over a per-vertex
descending rank — a single shuffle plus one window per round, the
changed-vertex count observed on the materialize job. The rank window
partitions by the gather vertex, so it shards exactly like every other
gather here; fixed-round form (``rounds=m``) is what the unrolled SQL
oracle replays, full convergence is pytest-oracled against the
Batagelj-Zaversnik peel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fog_spark.engine.superstep import (
    SuperstepLoop,
    active_metric,
    materialize,
    materialize_observed,
    no_active,
    symmetrize,
    vertices_of,
)


def coreness(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    rounds: int | None = None,
    max_iters: int = 10_000,
    ctx=None,
) -> DataFrame:
    """(id, coreness): every vertex's core number. ``rounds=m`` runs
    exactly m h-index refinements (fixed-depth oracle form — values are
    then an upper bound, exact once converged); ``rounds=None`` runs to
    the fixed point (exact coreness). ctx-resumable per round."""
    vertices = vertices if vertices is not None else vertices_of(edges)
    cap = rounds if rounds is not None else max_iters
    with SuperstepLoop(ctx, cap, stop=no_active if rounds is None else None) as loop:
        sym = loop.own(symmetrize(edges).distinct().persist())
        state = loop.state
        if state is None:
            deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("c"))
            state = (
                vertices.join(deg, "id", "left")
                .select("id", F.coalesce("c", F.lit(0)).cast("long").alias("c"),
                        F.lit(True).alias("changed"))
            )
            state = materialize(state, ctx, 0)

        def step(state, k, prev):
            st = state.select(F.col("id").alias("sid"), F.col("c").alias("sc"))
            msgs = sym.join(st, sym["src"] == F.col("sid")).select(
                sym["dst"].alias("id"), F.col("sc")
            )
            rn = F.row_number().over(Window.partitionBy("id").orderBy(F.col("sc").desc()))
            h = (
                msgs.withColumn("rn", rn)
                .groupBy("id")
                .agg(F.max(F.least(F.col("sc"), F.col("rn"))).cast("long").alias("h"))
            )
            state = (
                state.join(h.withColumnRenamed("id", "hid"), state["id"] == F.col("hid"), "left")
                .select(
                    "id",
                    F.coalesce("h", F.lit(0)).alias("c"),
                    (F.coalesce("h", F.lit(0)) != F.col("c")).alias("changed"),
                )
            )
            state, om = materialize_observed(state, [active_metric()], ctx, k)
            return state, {"active": int(om["active"] or 0), "delta": None}

        state, _ = loop.run(state, step)
        return state.select("id", F.col("c").alias("coreness"))
