"""Shared building blocks of the scatter-gather superstep.

The superstep (reference: fogsrc/fog_engine.cpp:91-243's
scatter_updates/gather_updates cycle) maps onto one Spark job:

    messages = (frontier ⨝) state ⨝ edges    -- scatter (J1, SURVEY §2.3)
    agg      = messages.groupBy(dst).agg(..) -- gather  (J2 + §2.4 folds)
    state'   = state ⟕ agg                   -- merge (left-outer: untouched
                                                vertices keep their state,
                                                reference cpu_thread.cpp:650-676)

Physical notes (the part FOG does by hand that Spark gives us):

- FOG materializes EVERY per-edge update before gathering (no map-side
  combine, cpu_thread.cpp:295-306). Spark's partial hash aggregation is
  a strict improvement we get for free — the shuffle carries one partial
  per (map partition, dst), not one row per edge.
- Pre-shuffling the edge table once by join key and caching it
  (``prepare_edges``) keeps the big side of the scatter join exchange-free
  across all supersteps: only the small state/frontier side moves.
- Iterative plans MUST cut lineage every superstep (``materialize``) or
  the logical plan doubles per iteration and the driver melts.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation, functions as F

# Below this many active vertices, hint the frontier join to broadcast
# (replaces FOG's bitmap fast path, fogsrc/fog_engine.cpp:560-568).
BROADCAST_FRONTIER_MAX = 2_000_000

# Below this many rows, hint the vertex-state side of the scatter join to
# broadcast. CRITICAL: checkpointed state scans have UNKNOWN stats, so
# without the hint AQE broadcasts the (size-estimated) EDGE table every
# superstep — backwards, and catastrophic at scale. Above the threshold
# the join falls back to sort-merge against the pre-partitioned edges.
BROADCAST_STATE_MAX = 2_000_000


def maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    if n_rows is not None and 0 <= n_rows <= BROADCAST_STATE_MAX:
        return F.broadcast(df)
    return df


# Above this many (estimated) gather-output rows, the per-superstep
# state⟕gather merge stops broadcasting the gather side and plans a
# SHUFFLE_HASH join instead: rebuilding a multi-MB broadcast relation
# every superstep is a serial driver roundtrip, while the two small
# exchanges parallelize. Calibrated on full superstep loops (32 cores,
# warm): n=20k — broadcast 2.30s vs shuffle_hash 2.47s /10 steps;
# n=80k — broadcast 5.59s vs shuffle_hash 3.30s; n=200k — 2.18-2.84s
# vs 1.73-2.06s /5 steps. The shuffle-hash shape is also the only one
# that remains valid when the gather output outgrows broadcastability
# entirely, so this doubles as the scale regime.
BROADCAST_MERGE_MAX = 50_000


def merge_join(state: DataFrame, agg: DataFrame, cond, est_rows: int | None) -> DataFrame:
    """The superstep merge ``state ⟕ agg`` with a size-chosen strategy.

    ``est_rows`` is the caller's bound on the gather output (|V| for
    dense gathers like PageRank; min(active·64, |V|) for frontier
    algorithms, whose late rounds produce tiny aggregates where the
    broadcast is by far the cheaper plan).
    """
    if est_rows is not None and 0 <= est_rows <= BROADCAST_MERGE_MAX:
        return state.join(F.broadcast(agg), cond, "left")
    return state.join(agg.hint("shuffle_hash"), cond, "left")


def prepare_edges(edges: DataFrame, key: str = "src", partitions: int | None = None) -> DataFrame:
    """Hash-partition the edge table by the scatter join key and cache it.

    At cluster scale this is the moral equivalent of bucketing the edges
    table: every superstep's state⨝edges sort-merge join then reuses the
    cached partitioning and only exchanges the (much smaller) state side.
    """
    spark = edges.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = edges.repartition(n, key).persist()
    out.count()  # materialize the cache eagerly
    return out


def prepare_gather_edges(
    edges: DataFrame,
    n_state: int | None,
    salted: bool = False,
    partitions: int | None = None,
    m_edges: int | None = None,
    expected_iters: int | None = None,
) -> DataFrame:
    """Partition the (already tagged) edge table ONCE for a superstep
    loop, choosing the alignment by regime:

    - **broadcast-state, unsalted** (n_state <= BROADCAST_STATE_MAX):
      hash by the GATHER key ``dst``. The scatter join broadcasts the
      state, so its output keeps this partitioning, and hash(dst)
      satisfies the clustering required by groupBy(dst, ...) AND any
      follow-up groupBy(dst) — the whole superstep runs with ZERO
      shuffle exchanges (measured 3x per-superstep on LPA at sf0.1).
    - **salted, big-state, or unamortizable**: return the input
      UNCHANGED — the scatter join broadcasts the state (or shuffles it
      to the edges), exactly the pre-alignment plan. Salted gathers
      must NOT be dst-aligned — reusing a hash(dst) partitioning would
      put every salt bucket of a hub back on one partition,
      neutralizing the salt. (Callers that want src-bucketing for the
      big-state sort-merge regime call ``prepare_edges`` themselves —
      re-exchanging an input the caller may already have partitioned
      would pay |E| for nothing.)

    **Amortization guard**: the dst alignment costs one full |E|-row
    exchange up front, while each superstep it saves only the gather's
    partial-agg exchange, ~min(|E|, partitions x |V|) rows. When the
    caller knows both the edge count and the iteration budget (fixed-
    niters runs), dst-align only if the per-superstep savings cover the
    upfront exchange; convergent loops (expected_iters None) assume
    enough supersteps to amortize. Measured both ways: 40M edges /
    200k vertices / 5 iters loses ~30% dst-aligned; 2.4M edges / 20k
    vertices / 10 iters wins ~35%.

    When a new cache IS created the caller owns it (unpersist at loop
    end); test ownership with ``prepared is not edges``.
    """
    spark = edges.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # n_state == 0 (empty graph): nothing to align, never cache
    broadcastable = n_state is not None and 0 < n_state <= BROADCAST_STATE_MAX
    if not broadcastable or salted:
        return edges
    if m_edges and expected_iters is not None:
        per_step_exchange = min(m_edges, n * n_state)
        if expected_iters * per_step_exchange < m_edges:
            return edges
    return edges.repartition(n, "dst").persist()


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing on either side of any edge."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees_and_vertices(edges: DataFrame) -> DataFrame:
    """(id, outdeg, indeg) for every vertex of the edge table — ONE
    union-aggregate shuffle.

    Replaces three separate passes the loop preambles used to pay
    (vertices_of's distinct, the groupBy(src) out-degree aggregation,
    and the top_degree_keys hub-probe scan by dst): the caller reads
    vertices, out-degrees for the scatter message, and in-degree hub
    keys (indeg > HUB_DEGREE_THRESHOLD) off the same materialized frame.
    Self-loops count toward both degrees (GLOBAL-mode semantics;
    TARGET-mode callers filter self-loops before calling).
    """
    both = edges.select(F.col("src").alias("id"), F.lit(1).alias("_o")).unionByName(
        edges.select(F.col("dst").alias("id"), F.lit(0).alias("_o"))
    )
    return both.groupBy("id").agg(
        F.sum("_o").alias("outdeg"),
        (F.count(F.lit(1)) - F.sum("_o")).alias("indeg"),
    )


_MATERIALIZE_TICKS = 0
_GC_EVERY = 5


def _cleanup_tick(spark) -> None:
    """Nudge the GC-driven ContextCleaner every few supersteps.

    Spark frees shuffle files, broadcast blocks, and checkpoint RDDs only
    when the JVM garbage-collects their driver-side handles. Iterative
    jobs on a large, mostly-empty driver heap never trigger a natural GC,
    so the debris accumulates and superstep latency degrades severely
    (measured: 10s -> 114s per 10 supersteps after ~30 uncollected
    steps). One System.gc() per few supersteps keeps latency flat.
    """
    global _MATERIALIZE_TICKS
    _MATERIALIZE_TICKS += 1
    if _MATERIALIZE_TICKS % _GC_EVERY == 0:
        import gc

        gc.collect()  # drop py4j refs first so the JVM handles are dead
        spark.sparkContext._jvm.System.gc()


def _fresh_leaf(df: DataFrame) -> DataFrame:
    """Rebuild an already-materialized frame as a new LogicalRDD leaf
    with DEFAULT statistics.

    Dataset.localCheckpoint copies the origin plan's ESTIMATED stats
    onto the checkpoint leaf. In iterative plans whose rounds join
    their own cuts against each other (Borůvka's pointer jumping
    self-joins the parent map every jump), the estimated sizeInBytes
    COMPOUNDS multiplicatively cut over cut — by round 5 on a 3-row
    frame the driver burns 20+ seconds of pure CPU multiplying
    ~100k-digit BigIntegers inside SizeInBytesOnlyStatsPlanVisitor
    (jstack-verified: BigInteger.multiplyToomCook3 under
    LogicalRDD.rewriteStatsAndConstraints). Resetting every cut to a
    default-stats leaf bounds each round's stats arithmetic.

    Size-based broadcast decisions are unaffected in practice: this
    engine always broadcasts checkpointed state by EXPLICIT hint
    (maybe_broadcast — checkpoint stats were already unusable for
    that, see BROADCAST_STATE_MAX), and AQE re-plans from runtime
    shuffle sizes, not estimates."""
    spark = df.sparkSession
    jdf = df._jdf
    rdd = jdf.queryExecution().toRdd()
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(rdd, jdf.schema(), False), spark
    )


def materialize(df: DataFrame, ctx=None, step: int | None = None, name: str = "state") -> DataFrame:
    """Cut lineage. With a RunContext: durable parquet checkpoint (resume
    point, replaces FOG's .attr write-back fog_engine.cpp:245-261);
    without: eager localCheckpoint (fast, non-durable) rebased onto a
    fresh default-stats leaf (see _fresh_leaf).
    """
    if ctx is not None and step is not None:
        out = ctx.write_state(df, step, name=name)
    else:
        out = _fresh_leaf(df.localCheckpoint(eager=True))
    _cleanup_tick(df.sparkSession)
    return out


def materialize_observed(
    df: DataFrame,
    metrics: list[Column],
    ctx=None,
    step: int | None = None,
    name: str = "state",
) -> tuple[DataFrame, dict]:
    """``materialize`` + observed metrics in the SAME Spark job.

    The per-superstep active-vertex count used to be a second
    ``filter(changed).count()`` job after the materialize; ``observe``
    folds it into the write/localCheckpoint action, so each superstep
    costs exactly one job (at 1000s of supersteps the saved scan per
    step is real). Metrics must be pre-aliased aggregate columns.
    """
    obs = Observation()
    out = materialize(df.observe(obs, *metrics), ctx, step, name)
    return out, obs.get


def active_metric(col: str = "changed") -> Column:
    """Observed metric: number of rows with ``col`` true."""
    return F.sum(F.col(col).cast("long")).alias("active")


def with_frontier_hint(frontier: DataFrame, active_count: int) -> DataFrame:
    """Broadcast the frontier when it fits (north_star requirement)."""
    if 0 <= active_count <= BROADCAST_FRONTIER_MAX:
        return F.broadcast(frontier)
    return frontier


def symmetrize(edges: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """edges ∪ reverse(edges) — one pass per round then equals FOG's
    forward+backward alternation for WCC (SURVEY §2.6 I4). Duplicate
    pairs are kept: they are harmless under MIN/mode gathers and a
    distinct() would cost an extra shuffle.
    """
    e = edges.select("src", "dst")
    if drop_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def no_active(rec: dict) -> bool:
    """Stop rule of the frontier loops: the last step changed nothing."""
    return rec["active"] == 0


class SuperstepLoop:
    """The superstep protocol every algorithm loop shares — FOG's one
    scatter-gather engine with the algorithm as a vertex program
    (fogsrc/fog_engine.cpp:91-243). Use as a context manager:

    1. **Resume** (on construction). With a RunContext, continue from
       the newest committed snapshot at or below ``max_steps``
       (``resume_point_at_most``; the uncapped ``resume_point`` only
       when ``max_steps`` is None). ``state``/``start`` are that
       snapshot and its step (None/0 when fresh); ``last`` is the
       metric record OF the resumed step — never a newer commit whose
       snapshot was lost (read only when there is a stop rule) — and
       ``done`` says ``stop`` already holds on it, so the caller can
       skip its preamble.
    2. **Loop** (``run``): steps start+1..max_steps, each timed and
       committed with the state's lineage.
    3. **Stop**: before every step, on ``stop(record)`` of the previous
       step.
    4. **Cleanup**: every cache passed to ``own`` is unpersisted on
       exit — on success and when a step throws.

    The algorithm keeps its initial state, its preamble (hub probe,
    ``prepare_gather_edges``), the step-0 ``materialize`` and the step
    body, so those calls stay in the algorithm's own module.
    """

    def __init__(self, ctx, max_steps: int | None, stop=None):
        self.ctx, self.max_steps, self.stop = ctx, max_steps, stop
        self.start, self.state, self.last = 0, None, None
        self._owned: list[DataFrame] = []
        if ctx is not None:
            rp = ctx.resume_point() if max_steps is None else ctx.resume_point_at_most(max_steps)
            if rp is not None:
                self.start, self.state = rp
                if stop is not None:
                    self.last = next((m for m in reversed(ctx.metrics()) if m["superstep"] == self.start), None)
        self.done = self._stops(self.last)

    def _stops(self, rec: dict | None) -> bool:
        return rec is not None and self.stop is not None and self.stop(rec)

    def own(self, df: DataFrame | None) -> DataFrame | None:
        """Register a cache the loop releases on exit; returns it."""
        if df is not None:
            self._owned.append(df)
        return df

    def __enter__(self) -> "SuperstepLoop":
        return self

    def __exit__(self, *exc) -> None:
        for df in reversed(self._owned):
            df.unpersist()

    def run(self, state: DataFrame, step, first: dict | None = None) -> tuple[DataFrame, int]:
        """Run ``step(state, k, prev) -> (state, record)`` until
        ``max_steps`` or the stop rule; returns (state, last step run).

        ``record`` holds the metric fields (``active``, ``delta``, any
        extras) committed for step k; ``prev`` is the previous step's
        record. Before step 1 of a fresh run — and on resume when the
        resumed step's record is unreadable — ``first`` stands in for
        it. A step returns None instead when the loop is already at its
        fixed point: nothing is committed and the loop ends."""
        ctx = self.ctx
        prev = self.last if self.last is not None else first
        k = self.start
        while (self.max_steps is None or k < self.max_steps) and not self._stops(prev):
            t0 = time.time()
            out = step(state, k + 1, prev)
            if out is None:
                break
            k += 1
            state, prev = out
            if ctx is not None:
                ctx.commit(k, wall_s=time.time() - t0, lineage=ctx.lineage_of(state), **prev)
        return state, k
