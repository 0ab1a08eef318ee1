"""Minimum spanning forest — Borůvka supersteps.

Closes the reference's own future-work list (reference TODO.list:17-18
names "SCC, Triangle counting, MSF"; SCC and triangles shipped in
earlier rounds). Borůvka is the natural superstep formulation of MSF:

    round: every component picks its MINIMUM outgoing edge (the A4-style
           min-by fold, one scatter + one keyed aggregation), the picked
           edges join the forest, and touching components merge.

Components at least halve per round, so rounds = O(log |V|) regardless
of graph shape — the right bound at 10^12-edge scale. Each round costs
two hash joins of the edge table against the (small) component map plus
one aggregation; the merge step runs on the PICKS only (exactly one per
component that still has an outgoing edge), contracted by pointer
jumping in O(log depth) tiny self-joins — NOT hash-min propagation,
whose round count is the chain DIAMETER (a path graph's Borůvka picks
form one long chain: hash-min would need |V| rounds where jumping
needs log |V|).

Determinism: edges are canonicalized to (a < b, w = min weight over
either orientation and parallel duplicates) and every minimum is taken
over the struct (w, a, b) — a total order, no ties — so the forest is
unique and an external SQL oracle can replay it exactly.

Pointer-graph shape (why jumping terminates): parent[c] = the other
endpoint of c's OWN pick. Under a total edge order the pick values are
non-increasing along any pointer path, so every cycle has length
exactly 2 (two components mutually picking the same edge); resolving
each 2-cycle to its smaller endpoint leaves rooted trees. (Taking
"min partner over all picked edges touching c" instead is WRONG — a
bridge edge both of whose endpoints have smaller-id partners elsewhere
would vanish from the pointer graph and split a component.)
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


def canonical_edges(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """(a, b, w): undirected canonical form — a < b, self-loops dropped,
    parallel edges / reverse orientations collapsed to the MIN weight."""
    e = edges.filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )


def _contract(per_pick: DataFrame) -> DataFrame:
    """(comp, new_comp) relabel map from the per-component picks
    (columns c, e=(w, a, b, ca, cb))."""
    parent = per_pick.select(
        "c",
        F.when(F.col("e.ca") == F.col("c"), F.col("e.cb"))
        .otherwise(F.col("e.ca"))
        .alias("p"),
    )
    # 2-cycle resolution: c and p point at each other -> smaller is root
    pp = parent.select(F.col("c").alias("c2"), F.col("p").alias("p2"))
    parent = (
        parent.join(pp, parent["p"] == pp["c2"], "left")
        .select(
            "c",
            F.when(
                (F.col("p2") == F.col("c")) & (F.col("c") < F.col("p")), F.col("c")
            ).otherwise(F.col("p")).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    # pointer jumping: p <- parent[p] until nothing moves
    while True:
        pj = parent.select(F.col("c").alias("jc"), F.col("p").alias("jp"))
        jumped = parent.join(pj, parent["p"] == pj["jc"], "left").select(
            "c",
            F.coalesce("jp", "p").alias("np"),
            (F.coalesce("jp", "p") != F.col("p")).alias("moved"),
        )
        jumped, om = materialize_observed(
            jumped, [F.sum(F.col("moved").cast("long")).alias("moved")]
        )
        parent = jumped.select("c", F.col("np").alias("p"))
        if int(om["moved"] or 0) == 0:
            return parent.select(F.col("c").alias("comp"), F.col("p").alias("new_comp"))


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "weight",
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """The MSF edge set (a, b, w) — Borůvka to fixed point, or at most
    ``rounds`` rounds for fixed-depth oracle replay (converged rounds
    are no-ops, so any rounds >= the convergence count yields the MSF).

    Checkpointable through the same RunContext seam as the other
    algorithms: per round the component map is the ``state`` snapshot
    and the round's picked forest edges are a ``forest`` snapshot, so
    a killed run resumes mid-forest and returns the COMPLETE forest
    (already-picked rounds are read back from the run dir).
    """
    spark = edges.sparkSession
    with SuperstepLoop(ctx, rounds) as loop:
        ecan = loop.own(canonical_edges(edges, weight_col).persist())
        comp = loop.state
        if comp is None:
            comp = materialize(vertices_of(edges).select("id", F.col("id").alias("comp")), ctx, 0)
        n = comp.count()

        forest_parts: list[DataFrame] = []
        if loop.state is not None:
            # picked edges of completed rounds were committed alongside the
            # component map — read them back so resume returns the FULL forest
            for s in ctx.fmt.list_partitions("forest"):
                if s <= loop.start:
                    forest_parts.append(ctx.read_state(s, name="forest").select("a", "b", "w"))

        def step(comp, r, prev):
            cm = maybe_broadcast(comp, n)
            ca = cm.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
            cb = cm.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
            cross = ecan.join(ca, "a").join(cb, "b").where(F.col("ca") != F.col("cb"))
            # every cross edge offers itself to BOTH sides; per-component
            # min over struct (w, a, b) = the deterministic Borůvka pick
            offer = F.struct("w", "a", "b", "ca", "cb").alias("e")
            msgs = cross.select(F.col("ca").alias("c"), offer).unionByName(
                cross.select(F.col("cb").alias("c"), offer)
            )
            per_pick = msgs.groupBy("c").agg(F.min("e").alias("e")).localCheckpoint(eager=True)
            if per_pick.isEmpty():
                return None  # no component has an outgoing edge: the forest is complete
            picked = per_pick.select("e.w", "e.a", "e.b").distinct()
            if ctx is not None:
                picked = ctx.write_state(picked.select("a", "b", "w"), r, name="forest")
            forest_parts.append(picked.select("a", "b", "w"))
            relab = _contract(per_pick)
            comp = comp.join(maybe_broadcast(relab, n), "comp", "left").select(
                "id", F.coalesce("new_comp", "comp").alias("comp")
            )
            return materialize(comp, ctx, r), {"active": -1, "delta": None}

        loop.run(comp, step)

    if not forest_parts:
        return spark.createDataFrame([], "a long, b long, w double")
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    return out
