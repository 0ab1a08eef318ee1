"""k-truss decomposition by support peeling.

The k-truss (Cohen 2008, "Trusses: cohesive subgraphs for social
network analysis") is the maximal subgraph in which every edge closes
at least k-2 triangles WITHIN the subgraph — the edge-centric
sharpening of the k-core (kcore.py), and like triangles/MSF an operator
the reference never shipped (its TODO.list stops at SCC/triangles/MSF).

Peeling formulation, one superstep per round:

1. support: enumerate the current subgraph's triangles with the same
   degree-ordered orientation as ``triangles.triangle_counts`` (hub
   out-degrees bounded by ~sqrt(m); merge-hinted wedge join +
   shuffle-hash closure — the measured plan), then fold each triangle
   onto its three CANONICAL (a < b) edges;
2. peel: drop every edge with support < k-2;
3. repeat until no edge drops (or exactly ``rounds`` rounds for the
   fixed-depth oracle form).

Orientation is re-derived each round from the surviving edges (degrees
change as edges drop); the surviving-edge count rides the materialize
job as an observed metric, and rounds checkpoint/resume through the
same RunContext seam as k_core (a killed peel continues mid-
decomposition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import SuperstepLoop, materialize_observed


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, sup): triangles through each canonical edge of ``und``."""
    deg = (
        und.select(F.col("a").alias("v")).unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    lt = (F.col("da.deg") < F.col("db.deg")) | (
        (F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    e1 = o.select(F.col("lo").alias("x"), F.col("hi").alias("y")).hint("merge")
    e2 = o.select(F.col("lo").alias("y"), F.col("hi").alias("z")).hint("merge")
    e3 = o.select(F.col("lo").alias("x"), F.col("hi").alias("z")).hint("shuffle_hash")
    tris = e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
    sides = (
        tris.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .unionByName(tris.select(F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")))
        .unionByName(tris.select(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")))
    )
    return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """(a, b): the canonical edges of the k-truss of ``edges``.

    ``rounds=None`` peels to the fixed point; ``rounds=m`` runs exactly
    m peels (the convergence-independent form fixed-depth SQL oracles
    replay). ``ctx``: per-round surviving-edge snapshots, resumable.
    """
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    fixed_point = False  # see k_core: nobody dropped, or all edges gone
    with SuperstepLoop(ctx, rounds, stop=lambda rec: fixed_point) as loop:
        und = loop.state.select("a", "b") if loop.state is not None else _canonical(edges)

        def step(und, m, prev):
            nonlocal fixed_point
            sup = _edge_support(und)
            keep = (
                und.join(sup, ["a", "b"], "left")
                .filter(F.coalesce("sup", F.lit(0)) >= k - 2)
                .select("a", "b")
            )
            keep, om = materialize_observed(keep, [F.count(F.lit(1)).alias("n")], ctx, m)
            n_keep = int(om["n"] or 0)
            if rounds is None:
                n_alive = prev["active"] if prev is not None else und.count()
                fixed_point = n_keep == n_alive or n_keep == 0
            return keep, {"active": n_keep, "delta": None}

        und, _ = loop.run(und, step)
        return und.select("a", "b")
