"""k-core: maximal subgraph where every vertex keeps degree >= k.

Not in FOG (like LPA/triangles, a north-rule link-graph addition): the
standard corpus/link-graph densification primitive — peel vertices with
degree < k, recompute degrees, repeat to fixed point. Undirected
semantics over the symmetrized, de-duplicated, self-loop-free edge
table (a self-loop must not let a vertex keep itself alive).

Each peel round is one degree aggregation + one semi-join restriction;
the surviving-vertex count is OBSERVED on the materialize job
(engine/superstep.materialize_observed), so one Spark job per round.
The edge table is re-restricted lazily against the materialized
survivor set — at 100 TB the round cost is one keyed shuffle over the
still-alive edges, shrinking every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import SuperstepLoop, materialize_observed, symmetrize, vertices_of


def k_core(
    edges: DataFrame,
    k: int,
    vertices: DataFrame | None = None,
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """(id, degree): vertices surviving the k-core peel with their
    degree in the surviving subgraph.

    ``rounds=None`` peels to the fixed point (the true k-core);
    ``rounds=m`` runs exactly m peels (convergence-independent form for
    external fixed-depth oracles, like the fixed-round graph queries).

    ``ctx`` (engine/checkpoint.RunContext): per-round survivor
    snapshots + metrics, resumable mid-peel like cc/lpa — a killed run
    restarted with the same run dir continues from the last committed
    round and reaches the identical fixed point.
    """
    vertices = vertices if vertices is not None else vertices_of(edges)
    # fixed-point mode stops after the round in which nobody dropped or
    # everybody went (fixed-depth mode runs exactly ``rounds`` peels)
    fixed_point = False
    with SuperstepLoop(ctx, rounds, stop=lambda rec: fixed_point) as loop:
        # persist: every peel round re-reads the symmetrized edge table
        sym = loop.own(symmetrize(edges).distinct().persist())
        state = loop.state if loop.state is not None else vertices.select("id")

        def step(state, m, prev):
            nonlocal fixed_point
            alive = state.select("id")
            deg = (
                sym.join(alive.select(F.col("id").alias("src")), "src", "left_semi")
                .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).alias("degree"))
            )
            survivors, om = materialize_observed(
                deg.filter(F.col("degree") >= k), [F.count(F.lit(1)).alias("n")], ctx, m
            )
            n_surv = int(om["n"] or 0)
            if rounds is None:
                # |alive| = the previous round's survivors (counted once,
                # lazily, before the first round's record exists)
                n_alive = prev["active"] if prev is not None else alive.count()
                fixed_point = n_surv == n_alive or n_surv == 0
            return survivors, {"active": n_surv, "delta": None}

        state, _ = loop.run(state, step)
        return state.select("id", "degree")
