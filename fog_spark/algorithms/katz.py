"""Katz centrality by truncated power iteration.

    x_{k+1} = alpha * A^T x_k + beta * 1,   x_0 = 0

(Katz, Psychometrika 1953) — after k rounds x(v) = beta * sum over
paths of length < k into v of alpha^len, the attenuated-path centrality
the PageRank family (algorithms/pagerank.py) replaces with degree
normalization. Convergence needs alpha < 1/lambda_max; callers pick a
conservative alpha (default 0.1) or a fixed depth.

Scale shape is exactly PageRank's: one scatter join + one (dst, sum)
gather + one materialize per round, metrics riding the materialize as
observed aggregates — no extra driver jobs, no normalization scalar.

Not in FOG (its apps stop at PageRank/SpMV, fogsrc/main.cpp:51-135);
Katz completes the centrality family next to HITS/SALSA/betweenness.
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


def katz(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    niters: int = 5,
    ctx=None,
) -> DataFrame:
    """(id, katz) after ``niters`` rounds on the simple directed graph
    (duplicate edges are collapsed; self-loops kept, as in the
    reference's GLOBAL-mode semantics, SURVEY §2.2 F2)."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    verts = vertices_of(e).localCheckpoint(eager=False)
    n = verts.count()

    with SuperstepLoop(ctx, niters) as loop:
        state = loop.state
        if state is None:
            state = materialize(verts.select("id", F.lit(0.0).alias("katz")), ctx, 0)

        def step(state, it, prev):
            st = maybe_broadcast(state, n)
            msg = e.join(st, e["src"] == st["id"]).select(
                e["dst"].alias("mid"), F.col("katz").alias("m")
            )
            agg = msg.groupBy("mid").agg(F.sum("m").alias("s"))
            # x_{k+1} = alpha * (sum of in-neighbor x_k) + beta
            nxt = (
                state.select("id")
                .join(maybe_broadcast(agg, n), state["id"] == F.col("mid"), "left")
                .select(
                    "id",
                    (F.lit(alpha) * F.coalesce("s", F.lit(0.0)) + F.lit(beta)).alias("katz"),
                )
            )
            state, om = materialize_observed(nxt, [F.sum("katz").alias("mass")], ctx, it)
            return state, {"active": n, "delta": float(om["mass"] or 0.0)}

        state, _ = loop.run(state, step)
    return state.select("id", "katz")
