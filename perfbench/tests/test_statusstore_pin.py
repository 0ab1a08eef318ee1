"""Pin the private Spark APIs the benchmark's trace depends on.

``perfbench/layertrace.py`` reads per-stage metrics through
``SparkContext.statusStore()`` (``jobsList``/``stageList``, Spark 4.1
signatures, newest first) and drains ``listenerBus()`` first, with the
UI disabled.
None of this is public API; if a Spark upgrade changes it, this test
fails before the trace silently reports zeros.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from fog_spark.session import get_spark  # noqa: E402
from perfbench import layertrace as tr  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = get_spark("perfbench-pin", cpus=2, shuffle_partitions=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    yield s
    s.stop()


def test_status_store_attributes_stages_to_spans(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    tracer = tr.Tracer(spark)
    with tracer.span("op.derive"):
        with tracer.span("preamble.materialize", step=0):
            spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(10).count()  # outside any span: unlabelled

    snap = tr.status_snapshot(spark.sparkContext)
    inner = tracer.spans[1]["id"]
    labelled = [s for s in snap["stages"] if s["label"] == f"pb:{inner}"]
    assert labelled, "stage descriptions no longer carry the span's job group"
    ran = [s for s in labelled if s["status"] == "COMPLETE"]
    assert sum(s["tasks"] for s in ran) > 0
    assert sum(s["run_ms"] for s in ran) > 0
    assert sum(s["shuffle_write"] for s in ran) > 0  # the groupBy exchange
    assert {j["group"] for j in snap["jobs"]} >= {f"pb:{inner}", None}
    for key in ("gc_ms", "shuffle_read", "spill_disk", "spill_mem", "failed_tasks", "attempt"):
        assert all(isinstance(s[key], int) for s in snap["stages"])


def test_layer_metrics_reconcile_on_a_tiny_round(spark):
    sc = spark.sparkContext
    before = tr.status_snapshot(sc)
    first_job, first_stage = tr.status_marks(sc)
    assert first_job == max((j["id"] for j in before["jobs"]), default=-1) + 1
    assert first_stage == max((s["id"] for s in before["stages"]), default=-1) + 1
    tracer = tr.Tracer(spark)
    with tracer.span("op.pagerank_fog") as op:
        with tracer.span("superstep.materialize", step=1):
            spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    wall = op["t1"] - op["t0"]
    snap = tr.status_snapshot(sc)
    m, self_times, problems = tr.layer_metrics(tracer.spans, snap, first_job, first_stage, 2, wall)
    assert problems == []
    assert m["superstep.count"] == 1 and m["pagerank.iters"] == 1
    assert m["spark.tasks"] > 0 and m["superstep.tasks_per_step"] == m["spark.tasks"]
    assert abs(sum(self_times.values()) - wall) < 1e-9
