"""PageRank — FOG-exact, standard, weighted and personalized modes.

Modes
-----
- **FOG mode** (the correctness oracle): the reference's exact —
  non-standard — recurrence, traced in SURVEY §2.8 from
  application/pagerank.hpp:62-77,102-106 + fogsrc/cpu_thread.cpp:509-534:

      rank_0(v) = 1.0
      rank_k(v) = rank_{k-1}(v) + Σ_{u→v} [ d·rank_{k-1}(u)/outdeg(u) + (1−d) ]

  The attribute accumulates (gather is ``+=`` and init runs once), the
  (1−d) term is per IN-EDGE, self-loops participate (GLOBAL scatter has
  no self-loop filter), and vertices with no in-edges keep their rank.
  Fixed iteration count (default 10, headers/options_utils.h:40-41).

- **Standard mode** (the bench/convergence target): normalized PageRank
  with uniform dangling-mass redistribution, iterated until
  max_v |rank_k − rank_{k−1}| < tol (north_rule: 1e-6).

Kernel
------
Every mode runs its supersteps as pure DataFrame ops — scatter join +
partial-hash-agg shuffle, whole-stage-codegen'd, zero Python in the
loop — on the shared superstep driver (engine/superstep.SuperstepLoop).
A CSR-packed pandas-UDF kernel (cogrouped Arrow UDF over NumPy CSR
blocks) was measured and removed: df 46s vs csr 452s for 5 supersteps
over 40M edges (sandbox, 8 cores), because the packed arrays cross the
JVM<->Python Arrow boundary every superstep (~640MB/superstep there)
while the df kernel never leaves whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fog_spark.engine.skew import HUB_DEGREE_THRESHOLD, HUB_FLAG, pick_hub_keys, skewed_gather, tag_hubs, top_degree_keys
from fog_spark.engine.superstep import (
    SuperstepLoop,
    degrees_and_vertices,
    materialize,
    materialize_observed,
    maybe_broadcast,
    merge_join,
    prepare_gather_edges,
    vertices_of,
)

DAMPING = 0.85  # application/pagerank.hpp:22


def _hub_tagged(edges: DataFrame, base: DataFrame | None, hub_threshold: int | None) -> tuple[DataFrame, bool, "DataFrame | None"]:
    """Tag hub in-degree keys once before the loop (skew mitigation);
    returns (edges, salted, hubs).

    Hub keys are read off the cached (id, indeg) preamble frame
    ``base`` — no separate full-edge-table probe job. A resumed run has
    no such frame and probes the edge table; that (tiny) hub set is
    persisted, so the per-superstep tag join rebuilds its broadcast
    from the cache instead of re-aggregating degrees, and no second
    full-size copy of the edge table is cached. ``hubs`` is the
    caller's to release."""
    if hub_threshold is None:
        return edges, False, None
    if base is not None:
        salted, hubs = pick_hub_keys(
            state_keys=base.filter(F.col("indeg") > hub_threshold).select(F.col("id").alias("dst"))
        )
        return (tag_hubs(edges, hubs) if salted else edges), salted, hubs
    hubs = top_degree_keys(edges, "dst", hub_threshold).persist()
    if hubs.isEmpty():  # take(1) probe, not a full count job
        hubs.unpersist()
        return edges, False, None
    return tag_hubs(edges, hubs), True, hubs


def _degrees_with_indeg(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """(id, outdeg, indeg) loop-preamble frame — ONE union-aggregate
    shuffle (superstep.degrees_and_vertices) instead of the three passes
    the preamble used to pay (vertices distinct + out-degree groupBy +
    the top_degree_keys hub-probe scan). With an explicit ``vertices``
    frame the vertex set is joined on (semantics: callers may restrict
    or extend the vertex set); hub keys outside that set are then not
    detected — a performance-only caveat (salting never changes gather
    results), irrelevant when vertices ⊇ edge endpoints, the documented
    contract of every in-tree caller."""
    dv = degrees_and_vertices(edges)
    if vertices is None:
        return dv
    dva = dv.select(F.col("id").alias("_vid"), "outdeg", "indeg")
    return vertices.join(dva, vertices["id"] == F.col("_vid"), "left").select(
        vertices["id"],
        F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
        F.coalesce("indeg", F.lit(0)).alias("indeg"),
    )


def _sum_gather(edges: DataFrame, state: DataFrame, n: int, msg: Column, out: str,
                salted: bool, n_salts: int) -> DataFrame:
    """Scatter ``msg`` along the (tagged, gather-aligned) edges from the
    state (broadcast when it fits) and sum it per dst as ``out`` — hub
    keys through the salted two-stage fold."""
    st = maybe_broadcast(state, n)
    msg_cols = [edges["dst"], msg.alias("msg")] + ([edges[HUB_FLAG]] if salted else [])
    msgs = edges.join(st, edges["src"] == st["id"]).select(*msg_cols)
    if salted:
        return skewed_gather(msgs, "dst", [("sum", "msg", out)], n_salts)
    return msgs.groupBy("dst").agg(F.sum("msg").alias(out))


def _converged(tol: float):
    """Stop rule of the convergent modes, read off a metric record."""
    return lambda rec: rec["delta"] is not None and rec["delta"] < tol


def _materialize_delta(state: DataFrame, dangling: Column, ctx, it: int) -> tuple[DataFrame, float, float]:
    """Materialize a convergent-mode step with the convergence delta and
    the next step's dangling mass OBSERVED on the same job; returns
    (state, delta, dangling). Metrics are None on an empty vertex set —
    an empty graph is converged (matches bfs/cc/sssp's observed-metric
    null handling)."""
    state, om = materialize_observed(
        state,
        [
            F.max(F.abs(F.col("rank") - F.col("prev"))).alias("delta"),
            F.sum(F.when(dangling, F.col("rank")).otherwise(F.lit(0.0))).alias("dangling"),
        ],
        ctx,
        it,
    )
    return state, float(om["delta"] or 0.0), float(om["dangling"] or 0.0)


# ---------------------------------------------------------------------------
# FOG mode
# ---------------------------------------------------------------------------


def pagerank_fog(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    niters: int = 10,
    d: float = DAMPING,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
) -> DataFrame:
    """FOG-mode accumulating PageRank. Returns (id, rank)."""
    with SuperstepLoop(ctx, niters) as loop:
        state = loop.state
        if state is None:
            state = materialize(_degrees_with_indeg(edges, vertices).withColumn("rank", F.lit(1.0)), ctx, 0)
        n = state.count()  # known once; drives broadcast decisions every superstep

        # resumed snapshots past step 0 carry no indeg — probe edges
        edges, salted, hubs = _hub_tagged(edges, state if loop.state is None else None, hub_threshold)
        loop.own(hubs)
        if "indeg" in state.columns:
            state = state.select("id", "outdeg", "rank")
        # gather-aligned edge cache (superstep.prepare_gather_edges):
        # zero shuffle exchanges per superstep when the state broadcasts.
        # |E| = sum(outdeg) — a tiny agg over the materialized state —
        # feeds the amortization guard for this fixed-niters run.
        m = int(state.agg(F.sum("outdeg")).collect()[0][0] or 0)
        prepared = prepare_gather_edges(edges, n, salted, m_edges=m, expected_iters=niters - loop.start)
        if prepared is not edges:
            edges = loop.own(prepared)

        def step(state, k, prev):
            msg = d * F.col("rank") / F.col("outdeg") + (1.0 - d)
            agg = _sum_gather(edges, state, n, msg, "incoming", salted, n_salts)
            state = (
                merge_join(state, agg, state["id"] == agg["dst"], n)
                .select("id", "outdeg", (F.col("rank") + F.coalesce("incoming", F.lit(0.0))).alias("rank"))
            )
            return materialize(state, ctx, k), {"active": -1, "delta": None}

        state, _ = loop.run(state, step)
        return state.select("id", "rank")


# ---------------------------------------------------------------------------
# Standard mode (normalized, convergent)
# ---------------------------------------------------------------------------


def pagerank_standard(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    d: float = DAMPING,
    tol: float = 1e-6,
    max_iters: int = 200,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Normalized PageRank to tol; returns ((id, rank), iterations_run).

    The convergence delta and the next iteration's dangling mass are
    OBSERVED on the materialize job itself — one Spark job per
    superstep, no separate aggregation scan.

    ``init_ranks`` ((id, rank)) warm-starts the power iteration — e.g.
    the previous fixed point after a streaming delta batch grew the
    graph (``streaming.read_edge_log``). The iteration is an affine
    contraction with a unique fixed point, so ANY start converges to
    the same answer; a near-answer start just crosses ``tol`` in fewer
    supersteps. Vertices absent from ``init_ranks`` (newly arrived)
    start at 1/n; a ``ctx`` resume snapshot takes precedence.
    """
    with SuperstepLoop(ctx, max_iters, stop=_converged(tol)) as loop:
        if loop.done:
            return loop.state.select("id", "rank"), loop.start
        state, base = loop.state, None
        if state is None:
            # one materialized (id, outdeg, indeg) preamble frame: vertex
            # set, scatter degrees, and hub keys in a single shuffle, and
            # the init plan executes ONCE (the old count-then-checkpoint
            # flow re-executed the degree aggregation for each)
            base = materialize(_degrees_with_indeg(edges, vertices))
            n = base.count()
            if n == 0:  # an empty graph is converged (and 1/n is undefined)
                return base.select("id", F.lit(0.0).alias("rank")), 0
            state = base.select("id", "outdeg", F.lit(1.0 / n).alias("rank"), F.lit(0.0).alias("prev"))
            if init_ranks is not None:
                warm = init_ranks.select(F.col("id").alias("wid"), F.col("rank").alias("wrank"))
                state = base.join(maybe_broadcast(warm, n), base["id"] == F.col("wid"), "left").select(
                    "id", "outdeg", F.coalesce("wrank", F.lit(1.0 / n)).alias("rank"), F.lit(0.0).alias("prev")
                )
                # Normalize to sum 1: mass error lies along the principal
                # eigenvector and decays only at rate d (the SLOWEST mode) —
                # an unnormalized warm start from a grown graph measurably
                # converges slower than uniform (103 vs 30 supersteps at 1e-10
                # on a 31-vertex drive). Shape error decays at d·λ2, so the
                # normalized warm start is the fast path the docstring promises.
                tot = state.agg(F.sum("rank")).collect()[0][0] or 1.0
                state = state.withColumn("rank", F.col("rank") / tot)
            if ctx is not None:
                state = materialize(state, ctx, 0)
            elif init_ranks is not None:
                # the warm join is not a thin projection over the cached
                # base — checkpoint so superstep 1 doesn't execute it twice
                state = state.localCheckpoint(eager=True)
            # otherwise the thin projection over the cached base IS the
            # stable step-0 leaf — a second localCheckpoint would only copy it
        else:
            n = state.count()

        # resumed: no cached indeg frame — probe the edge table
        edges, salted, hubs = _hub_tagged(edges, base, hub_threshold)
        loop.own(hubs)
        state = state.select("id", "outdeg", "rank", "prev")
        # gather-aligned edge cache — see pagerank_fog (convergent run:
        # iteration budget unknown, assume enough supersteps to amortize)
        prepared = prepare_gather_edges(edges, n, salted)
        if prepared is not edges:
            edges = loop.own(prepared)

        # scalar pass: dangling mass of the current rank vector
        dangling = state.filter(F.col("outdeg") == 0).agg(F.sum("rank")).collect()[0][0] or 0.0

        def step(state, it, prev):
            nonlocal dangling
            agg = _sum_gather(edges, state, n, F.col("rank") / F.col("outdeg"), "contrib", salted, n_salts)
            state = (
                merge_join(state, agg, state["id"] == agg["dst"], n)
                .select(
                    "id",
                    "outdeg",
                    F.col("rank").alias("prev"),
                    ((1.0 - d) / n + d * (F.coalesce("contrib", F.lit(0.0)) + dangling / n)).alias("rank"),
                )
            )
            state, delta, dangling = _materialize_delta(state, F.col("outdeg") == 0, ctx, it)
            return state, {"active": n, "delta": delta}

        state, it = loop.run(state, step)
        return state.select("id", "rank"), it


# ---------------------------------------------------------------------------
# Weighted mode (edge-weight-proportional transitions, convergent)
# ---------------------------------------------------------------------------


def pagerank_weighted(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str = "weight",
    d: float = DAMPING,
    tol: float = 1e-6,
    max_iters: int = 200,
    ctx=None,
) -> tuple[DataFrame, int]:
    """Normalized PageRank with edge-weight-proportional transitions:
    a surfer at u follows edge (u, v) with probability
    weight(u,v) / Σ_x weight(u,x). Real link graphs are weighted
    (co-occurrence counts, import multiplicity); the uniform engine
    ignores that signal. Returns ((id, rank), iterations_run).

    The transition probability ``p = w / wsum(src)`` is attached to the
    edge table ONCE before the loop (one keyed join), so every
    superstep is the same scatter-join + sum-gather as the uniform
    engine — msg = rank * p instead of rank / outdeg. Dangling =
    vertices with no (positive-weight) out-edges, redistributed
    uniformly; delta and next-round dangling ride the materialize job
    as observed metrics (one job per superstep). ``tol=0.0`` +
    ``max_iters=k`` is the fixed-depth oracle form.
    """
    vertices = vertices if vertices is not None else vertices_of(edges)
    e = edges.select("src", "dst", F.col(weight_col).alias("w")).filter(F.col("w") > 0)
    wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    pe = (
        e.join(wsum, "src")
        .select("src", "dst", (F.col("w") / F.col("wsum")).alias("p"))
        .localCheckpoint(eager=False)  # one concrete RDD for all supersteps
    )
    state = (
        vertices.join(wsum, vertices["id"] == wsum["src"], "left")
        .select("id", F.col("wsum").isNotNull().alias("has_out"))
        .withColumn("rank", F.lit(0.0))
        .withColumn("prev", F.lit(0.0))
    )
    n = state.count()
    if n == 0:
        return state.select("id", "rank"), 0

    with SuperstepLoop(ctx, max_iters, stop=_converged(tol)) as loop:
        if loop.done:
            return loop.state.select("id", "rank"), loop.start
        if loop.state is None:
            state = state.withColumn("rank", F.lit(1.0 / n))
            state = materialize(state, ctx, 0) if ctx else state.localCheckpoint(eager=True)
        else:
            state = loop.state

        dangling = state.filter(~F.col("has_out")).agg(F.sum("rank")).collect()[0][0] or 0.0

        def step(state, it, prev):
            nonlocal dangling
            st = maybe_broadcast(state, n)
            msgs = pe.join(st, pe["src"] == st["id"]).select(
                pe["dst"], (F.col("rank") * F.col("p")).alias("msg")
            )
            agg = msgs.groupBy("dst").agg(F.sum("msg").alias("contrib"))
            state = (
                merge_join(state, agg, state["id"] == agg["dst"], n)
                .select(
                    "id",
                    "has_out",
                    F.col("rank").alias("prev"),
                    ((1.0 - d) / n + d * (F.coalesce("contrib", F.lit(0.0)) + dangling / n)).alias("rank"),
                )
            )
            state, delta, dangling = _materialize_delta(state, ~F.col("has_out"), ctx, it)
            return state, {"active": n, "delta": delta}

        state, it = loop.run(state, step)
        return state.select("id", "rank"), it


# ---------------------------------------------------------------------------
# Personalized mode (seeded teleport, convergent)
# ---------------------------------------------------------------------------


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame | None = None,
    d: float = DAMPING,
    tol: float = 1e-6,
    max_iters: int = 200,
    ctx=None,
    hub_threshold: int | None = HUB_DEGREE_THRESHOLD,
    n_salts: int = 16,
) -> tuple[DataFrame, int]:
    """Personalized PageRank: teleport mass goes to ``seeds`` (a
    DataFrame with an ``id`` column) instead of uniformly everywhere —
    the similarity/recommendation primitive an embedding-pipeline user
    reaches for next to the random-walk corpus. Returns
    ((id, rank), iterations_run).

        tele(v)  = 1/|S| if v in S else 0
        rank_0   = tele
        rank_k+1 = (1-d + d*dangling_k) * tele + d * Σ_{u→v} rank_k(u)/outdeg(u)

    Dangling mass is redistributed to the TELEPORT vector (not
    uniformly), the standard PPR formulation, so Σ rank stays 1 and
    ranks are exactly 0 outside the seeds' reachable set. Same
    superstep engine as pagerank_standard: observed delta + dangling on
    the materialize job, size-aware broadcasts, gather-aligned edge
    cache, salting seam. ``tol=0.0`` never converges early — with
    ``max_iters=k`` that is the fixed-depth form external fixed-k
    oracles replay.
    """
    # one materialized (id, outdeg, indeg) preamble frame (see
    # pagerank_standard): vertex set, scatter degrees, and hub keys in
    # a single shuffle, executed once
    base = materialize(_degrees_with_indeg(edges, vertices))
    n = base.count()
    if n == 0:
        return base.select("id", F.lit(0.0).alias("rank")), 0
    # intersect the seeds with the vertex set BEFORE sizing 1/|S|:
    # an unknown seed id would otherwise keep a share of teleport mass
    # that the state join then drops, deflating every rank and breaking
    # the sum-to-1 invariant this docstring promises
    seed_set = (
        seeds.select(F.col("id").alias("sid")).distinct()
        .join(base.select(F.col("id").alias("sid")), "sid", "left_semi")
    )
    n_seeds = seed_set.count()
    if n_seeds == 0:
        raise ValueError(
            "pagerank_personalized needs a non-empty seed set intersecting the graph's vertices"
        )

    with SuperstepLoop(ctx, max_iters, stop=_converged(tol)) as loop:
        if loop.done:
            return loop.state.select("id", "rank"), loop.start
        state = loop.state
        if state is None:
            state = (
                base.join(seed_set, base["id"] == seed_set["sid"], "left")
                .select(
                    "id",
                    "outdeg",
                    F.when(F.col("sid").isNotNull(), F.lit(1.0 / n_seeds))
                    .otherwise(F.lit(0.0))
                    .alias("tele"),
                )
                .withColumn("rank", F.col("tele"))
                .withColumn("prev", F.lit(0.0))
            )
            # the seed join is not a thin projection over the cached base —
            # checkpoint it so superstep 1 doesn't execute it twice
            state = materialize(state, ctx, 0) if ctx else state.localCheckpoint(eager=True)

        # resumed: no cached indeg frame — probe the edge table
        edges, salted, hubs = _hub_tagged(edges, base if loop.state is None else None, hub_threshold)
        loop.own(hubs)
        prepared = prepare_gather_edges(edges, n, salted)
        if prepared is not edges:
            edges = loop.own(prepared)

        dangling = state.filter(F.col("outdeg") == 0).agg(F.sum("rank")).collect()[0][0] or 0.0

        def step(state, it, prev):
            nonlocal dangling
            agg = _sum_gather(edges, state, n, F.col("rank") / F.col("outdeg"), "contrib", salted, n_salts)
            state = (
                merge_join(state, agg, state["id"] == agg["dst"], n)
                .select(
                    "id",
                    "outdeg",
                    "tele",
                    F.col("rank").alias("prev"),
                    (
                        (1.0 - d + d * dangling) * F.col("tele")
                        + d * F.coalesce("contrib", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            state, delta, dangling = _materialize_delta(state, F.col("outdeg") == 0, ctx, it)
            return state, {"active": n, "delta": delta}

        state, it = loop.run(state, step)
        return state.select("id", "rank"), it
