"""The shared superstep driver (engine/superstep.SuperstepLoop)."""

import pytest

from fog_spark.algorithms import cc, lpa, pagerank
from fog_spark.engine.checkpoint import RunContext
from fog_spark.fixtures import graph_to_spark, named_graphs


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "mod, run",
    [
        (cc, lambda e, ctx: cc.connected_components(e, ctx=ctx)),
        (lpa, lambda e, ctx: lpa.label_propagation(e, ctx=ctx)),
        (pagerank, lambda e, ctx: pagerank.pagerank_fog(e, niters=5, ctx=ctx)),
    ],
    ids=["cc", "lpa", "pagerank_fog"],
)
def test_failed_superstep_releases_loop_caches(spark, tmp_path, monkeypatch, mod, run):
    """A superstep that throws must not leak the caches its loop owns
    (prepared gather edges, hub sets, LPA's deduplicated edges). The
    RunContext keeps materialize on parquet, so every RDD the loop
    persists is one of those caches."""
    edges = graph_to_spark(spark, named_graphs()["g_er_n100"])
    real = mod.merge_join
    calls = []

    def failing_merge(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("superstep 2 failed")
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, "merge_join", failing_merge)
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="superstep 2 failed"):
        run(edges, RunContext(spark, str(tmp_path), "failing"))
    assert len(calls) == 2
    assert _persistent_ids(spark) - before == set()
