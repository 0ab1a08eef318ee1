"""Headline benchmark: one JSON line for the round driver.

Runs the north-rule algorithm suite on the part co-occurrence link
graph derived from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
plus the pipeline headliners, on local[$SPARK_GRAFT_CPUS] (default: the
CPUs this process may run on, session.DEFAULT_CPUS).

Prints exactly one JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
tools/bench_scaling.py and recorded in BASELINE.md — one JVM per
parallelism level, so it cannot share this process.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from fog_spark.algorithms.cc import connected_components
from fog_spark.algorithms.lpa import label_propagation
from fog_spark.algorithms.pagerank import pagerank_standard
from fog_spark.algorithms.triangles import triangle_total
from fog_spark.datapipe.dedup import minhash_lsh_candidates
from fog_spark.queries import cooccur_edges, load
from fog_spark.session import DEFAULT_CPUS, get_spark


from fog_spark.benchutil import BoxMeter, foreign_busy_pct

# clean-window floors (builder-measured, same script/SF/cpus): any run
# whose BEST wall exceeds 2x its floor is suspect even at 0% steal —
# round 4 measured 33-51s walls at <2.4% steal on a query with an 8.4s
# floor three runs in a row (foreign CPU / cgroup throttle, invisible
# to the steal counter), so the defense can no longer key on steal alone
_FLOORS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOORS.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS

    floors: dict[str, float] = {}
    try:
        with open(_FLOORS_PATH) as f:
            rec = json.load(f)
            if rec.get("sf") == sf_dir.rstrip("/").rsplit("sf", 1)[-1] and rec.get("cpus") == cpus:
                floors = rec.get("floors", {})
    except (OSError, ValueError):
        pass

    extra: dict = {"runs": {}, "steal_pct": {}, "telemetry": {}}

    # pre-flight guard: a busy box (orphaned JVM from a timeout-killed
    # earlier invocation, sibling workload) poisons every number without
    # touching the steal counter — wait for it to drain, bounded
    fb0 = foreign_busy_pct(1.0)
    extra["startup_foreign_cpu_pct"] = fb0
    waited = 0.0
    while fb0 > 15.0 and waited < 90.0:
        time.sleep(5.0)
        waited += 5.0
        fb0 = foreign_busy_pct(1.0)
    if waited:
        extra["startup_foreign_wait_s"] = waited
        extra["startup_foreign_cpu_pct_after_wait"] = fb0

    spark = get_spark("fogspark-bench", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    timings: dict[str, float] = {}
    meter = BoxMeter()

    def timed(name, fn, repeats=2):
        """min-of-N wall time. This VM shows intermittent hypervisor
        noise episodes (measured: identical plans swinging 14s -> 61s
        at >10% steal, and whole bench invocations 54s vs 167s minutes
        apart); the min over repeats is the engine's number, the
        per-run list + telemetry (steal%, PSI stall, foreign CPU,
        cgroup throttle) make any spike auditable. If the first two
        runs disagree by >1.5x, one extra run disambiguates an episode
        from a real cost."""
        runs, out = [], None

        def one():
            nonlocal out
            meter.start()
            t0 = time.time()
            out = fn()
            runs.append(round(time.time() - t0, 3))
            tele = meter.stop()
            extra["steal_pct"].setdefault(name, []).append(tele["steal_pct"])
            extra["telemetry"].setdefault(name, []).append(tele)

        for _ in range(repeats):
            one()
        if len(runs) >= 2 and max(runs) > 1.5 * min(runs):
            one()
        # episode defense, two triggers (never for single-run queries —
        # those persist their result, so a re-run times the cache):
        # 1. steal: the best run saw >3% steal;
        # 2. floor: the best run exceeds 2x this query's clean-window
        #    floor — catches contention the steal counter cannot see.
        retries = 0
        while repeats > 1 and retries < 2 and extra["steal_pct"][name][runs.index(min(runs))] > 3.0:
            one()
            retries += 1
        floor = floors.get(name)
        retries = 0
        while repeats > 1 and retries < 3 and floor and min(runs) > 2.0 * floor:
            one()
            retries += 1
        timings[name] = min(runs)
        extra["runs"][name] = runs
        return out

    # edge derivation (the convert-replacement) — timed as its own query;
    # single run: it persists, so a repeat would time the cache instead
    edges = timed("derive_edges", lambda: cooccur_edges(spark, sf_dir).persist(), repeats=1)
    m = edges.count()
    extra["n_edges"] = m

    def _pagerank():
        ranks, iters = pagerank_standard(edges, tol=1e-6, max_iters=60)
        ranks.count()
        extra["pagerank_iters"] = iters
        return iters

    iters = timed("pagerank_1e6", _pagerank)
    extra["pagerank_edges_per_sec"] = round(m * iters / timings["pagerank_1e6"], 1)
    extra["pagerank_edges_per_sec_per_core"] = round(m * iters / timings["pagerank_1e6"] / cpus, 1)

    # fixed-iteration FOG-mode run: the stable throughput number
    # (absolute-tol convergence depends on graph size; 10 supersteps don't)
    from fog_spark.algorithms.pagerank import pagerank_fog

    timed("pagerank_fog10", lambda: pagerank_fog(edges, niters=10).count())
    extra["fog10_edges_per_sec"] = round(m * 10 / timings["pagerank_fog10"], 1)
    extra["fog10_edges_per_sec_per_core"] = round(m * 10 / timings["pagerank_fog10"] / cpus, 1)

    timed("cc_hashmin", lambda: connected_components(edges).select(F.countDistinct("component")).collect())
    timed("lpa", lambda: label_propagation(edges, max_iters=10).count())
    timed("triangles", lambda: triangle_total(edges))
    timed(
        "minhash_lsh_dedup",
        lambda: minhash_lsh_candidates(load(spark, sf_dir, "documents"), k=16, bands=4).count(),
    )

    # north-rule-faithful end-to-end: Spark-generated repo table ->
    # regex import extraction -> dense ids -> FOG PageRank supersteps
    def _repo_pipeline():
        from fog_spark.algorithms.pagerank import pagerank_fog as _pf
        from fog_spark.fixtures_spark import make_repo_table_spark
        from fog_spark.graph.derive import derive_graph

        repos = make_repo_table_spark(spark, n_repos=100, files_per_repo=2000)
        g = derive_graph(repos)
        ge = g.edges.persist()
        extra["repo_pipeline_edges"] = ge.count()
        _pf(ge, g.vertices, niters=5).count()
        ge.unpersist()

    timed("repo_derive_pagerank", _repo_pipeline)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "fogspark_headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                "extra": extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
