"""fogspark benchmark: one workload, closed loop, checked results.

    python3 perfbench/run.py --workload cooccur_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up the Spark session and the
seeded input several times, warms up, then repeats rounds of the
workload's operations while another round fits in ``--seconds`` (at
least one), checks every result against a reference computed outside
Spark, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
untraced and one traced round and reports the per-layer metrics; the
spans and stage metrics go to ``.perfbench-out/trace/`` for
``perfbench/report.py``. A detail record (every round, op timing, box
telemetry, session sizing) is printed on the line before the result and
kept under ``.perfbench-out/runs/``. Everything the run writes stays
under ``.perfbench-out/`` in the directory it is run from.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench-out")

SETUPS = 3  # set-ups per run; setup_s is their median plus the warm-up
BUSY_WAIT_MAX_S = 60.0  # longest wait for a busy box to drain before starting
BUSY_PCT = 15.0

# End-to-end metrics every workload reports (BENCHMARK.json "end_to_end").
# The round's wall time (total_s), each operation's wall and CPU time and
# peak_rss_mb go to the detail record only: on a shared VM they move from
# run to run (hypervisor steal, GC timing) by more than the largest bound
# a gated metric may have.
END_TO_END = ("setup_s", "cpu_s")
# Per-layer metrics every workload reports with --trace 1 (BENCHMARK.json
# "per_layer"); the trace file and report carry the rest.
PER_LAYER = (
    "session.start_s",
    "derive.edges", "derive.jobs", "derive.task_busy_s", "derive.shuffle_write_bytes", "derive.spill_bytes",
    "preamble.wall_s", "preamble.jobs", "preamble.shuffle_bytes",
    "superstep.count", "superstep.wall_p50_s", "superstep.wall_p90_s", "superstep.jobs_per_step",
    "superstep.stages_per_step", "superstep.tasks_per_step", "superstep.shuffle_bytes_per_step",
    "superstep.task_busy_s_per_step", "superstep.idle_frac",
    "merge.broadcast_calls", "merge.shuffle_hash_calls",
    "checkpoint.lineage_jobs", "checkpoint.bytes_per_step", "checkpoint.files_per_step",
    "skew.hub_probe_s", "skew.hubs",
    "pagerank.iters", "cc.iters", "lpa.iters", "triangles.oriented_edges", "triangles.shuffle_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.jvm_gc_s",
    "box.steal_pct", "box.foreign_cpu_pct",
    "trace.overhead_pct", "trace.self_time_frac",
)
UNITS = {"bytes": "bytes", "_s": "s", "_pct": "%", "_frac": "ratio", "_mb": "MB"}
# Counts that must repeat exactly between two traced runs of one seed.
EXACT = ("derive.edges", "superstep.count", "pagerank.iters", "cc.iters", "lpa.iters",
         "skew.hubs", "merge.broadcast_calls", "merge.shuffle_hash_calls")


def unit_of(name: str) -> str:
    base = name.removesuffix("_per_step")
    for suffix, unit in UNITS.items():
        if base.endswith(suffix):
            return unit
    return "count"


def host_sizing() -> tuple[int, str]:
    """(cpus, driver heap): the CPUs this process may run on, and a
    quarter of MemTotal (at least 1 GiB) for the driver heap."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, f"{max(1, kb // (4 * 1024 * 1024))}g"


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids`` (all threads)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total * _TICK_S


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("VmRSS:")), 0)
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of the driver (Python) and its JVM."""

    def __init__(self, pids: list[int], every_s: float = 0.1):
        self.pids, self.every_s, self.peak_kb = pids, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def wait_for_quiet_box(foreign_busy_pct) -> dict:
    """Wait (bounded) while other processes keep the CPUs busy."""
    pct, waited = foreign_busy_pct(1.0), 0.0
    first = pct
    while pct > BUSY_PCT and waited < BUSY_WAIT_MAX_S:
        time.sleep(5.0)
        waited += 5.0
        pct = foreign_busy_pct(1.0)
    return {"foreign_cpu_pct_at_start": first, "waited_s": waited, "foreign_cpu_pct_after_wait": pct}


def set_up(wl, start_session, work: str):
    """SETUPS set-ups — (re)start the session, write the seeded input —
    then one warm-up: an untimed, unchecked round of the workload's
    operations, so JIT and codegen are warm before the first timed
    round. Returns (session, record)."""
    spark, setups, starts = None, [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session()
        starts.append(time.perf_counter() - t0)
        wl.write_input(os.path.join(work, "input", str(i)))
        setups.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    state: dict = {}
    warm_ops = {}
    for op in wl.ops(spark, work):
        if op.prep is not None:
            op.prep(state)
        t1 = time.perf_counter()
        op.run(state)
        warm_ops[op.metric] = time.perf_counter() - t1
    wl.end_round(state)
    warmup_s = time.perf_counter() - t0
    return spark, {"setup_s_each": setups, "session_start_s_each": starts,
                   "warmup_s": warmup_s, "warmup_op_s": warm_ops}


def run_round(wl, ops, st: dict, pids: list[int], tracer=None) -> dict:
    """One closed-loop pass over the workload's operations: wall and CPU
    seconds (driver + JVM) per operation."""
    from perfbench.workloads import CheckFailed

    gc.collect()
    times, cpu, failures = {}, {}, []
    for i, op in enumerate(ops):
        try:
            if op.prep is not None:
                op.prep(st)
            c0, t0 = cpu_seconds(pids), time.perf_counter()
            if tracer is None:
                out = op.run(st)
            else:
                with tracer.span(op.span, metric=op.metric) as rec:
                    out = op.run(st)
                if op.metric == "derive_s":
                    rec["attrs"]["edges"] = int(out)
            times[op.metric] = time.perf_counter() - t0
            cpu[op.metric] = cpu_seconds(pids) - c0
            if tracer is None:
                op.check(st, out)
            else:
                with tracer.span("bench.check"):
                    op.check(st, out)
        except CheckFailed as e:
            failures.append({"op": op.metric, "error": str(e)})
        except Exception as e:  # an op that raises counts as failed; later ops depend on it
            failures.append({"op": op.metric, "error": f"{type(e).__name__}: {e}",
                             "traceback": traceback.format_exc(limit=8)})
            failures.extend({"op": o.metric, "error": "skipped after an earlier failure"} for o in ops[i + 1:])
            break
    wl.end_round(st)
    return {"times": times, "cpu": cpu, "total_s": sum(times.values()), "total_cpu_s": sum(cpu.values()),
            "failures": failures, "attempted": len(ops)}


def end_to_end(rounds: list[dict], setup: dict, peak_kb: int, ops) -> tuple[dict, dict]:
    """(end-to-end metrics, per-operation medians for the detail record)."""

    def median_of(kind, metric):
        vals = [x[kind][metric] for x in rounds if metric in x[kind]]
        return statistics.median(vals) if vals else None

    values = {
        "setup_s": statistics.median(setup["setup_s_each"]) + setup["warmup_s"],
        "total_s": statistics.median(x["total_s"] for x in rounds),
        "cpu_s": statistics.median(x["total_cpu_s"] for x in rounds),
        "peak_rss_mb": peak_kb / 1024.0,
    }
    per_op = {"op_wall_s": {op.metric: median_of("times", op.metric) for op in ops},
              "op_cpu_s": {op.metric: median_of("cpu", op.metric) for op in ops}}
    return values, per_op


def per_layer(tr, spark, tracer, marks, rounds, setup, box, cpus, workload, seed) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced round (rounds[1]) against the
    untraced one (rounds[0]); writes the trace file."""
    snap = tr.status_snapshot(spark.sparkContext)
    plain, traced = rounds
    values, self_times, problems = tr.layer_metrics(tracer.spans, snap, *marks, cpus, traced["total_s"])
    values["session.start_s"] = statistics.median(setup["session_start_s_each"])
    values["box.steal_pct"] = box["steal_pct"]
    values["box.foreign_cpu_pct"] = box["foreign_cpu_pct"]
    values["trace.overhead_pct"] = 100.0 * (traced["total_s"] / plain["total_s"] - 1.0)
    problems += _check_exact_counts(workload, seed, values)
    t_base = tracer.spans[0]["t0"] if tracer.spans else 0.0
    doc = {
        "metrics": values, "self_time_s": self_times, "problems": problems,
        "untraced_total_s": plain["total_s"], "traced_total_s": traced["total_s"], "op_times_s": traced["times"],
        "spans": [dict(s, t0=s["t0"] - t_base, t1=s["t1"] - t_base) for s in tracer.spans],
        "jobs": [j for j in snap["jobs"] if j["id"] >= marks[0]],
        "stages": [s for s in snap["stages"] if s["id"] >= marks[1]],
    }
    return values, problems, doc


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _load_reference(wl, seed: int) -> dict:
    """The workload's reference results, cached per seed."""
    import numpy as np

    path = os.path.join(OUT, "ref", f"{wl.name}-seed{seed}.npz")
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            return {k: z[k] for k in z.files}
    r = wl.reference()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez(path + ".tmp.npz", **r)
    os.replace(path + ".tmp.npz", path)
    return r


def _check_exact_counts(workload: str, seed: int, values: dict) -> list[str]:
    """Exact counts must repeat between traced runs of one seed: the
    first traced run records them, every later one compares."""
    path = os.path.join(OUT, "counts", f"{workload}-seed{seed}.json")
    counts = {k: values[k] for k in EXACT}
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f)
        return []
    with open(path) as f:
        before = json.load(f)
    return [f"{k}: {values[k]} now, {before.get(k)} in an earlier run of this seed"
            for k in EXACT if before.get(k) != values[k]]


def _dump(subdir: str, name: str, doc: dict) -> None:
    os.makedirs(os.path.join(OUT, subdir), exist_ok=True)
    with open(os.path.join(OUT, subdir, name), "w") as f:
        json.dump(doc, f, default=float)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus, heap = host_sizing()
    pid = os.getpid()
    work = os.path.join(OUT, "work", f"{args.workload}-{pid}")
    scratch = os.path.join(work, "tmp")
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["FOGSPARK_DRIVER_MEM"] = heap
    sys.path[0] = ROOT  # import fog_spark and perfbench from the checkout root

    import pyspark

    from fog_spark.benchutil import BoxMeter, foreign_busy_pct
    from fog_spark.session import get_spark
    from perfbench import layertrace as tr
    from perfbench import reference as ref
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    for d in (scratch, os.environ["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)

    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "driver_heap": heap, "shuffle_partitions": cpus,
        "spark_version": pyspark.__version__, "git_commit": git_commit(),
        "box_start": wait_for_quiet_box(foreign_busy_pct),
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the trace reads every stage of a round back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed)
    detail: dict = {"meta": meta, "input_gen_s": time.perf_counter() - t0}
    spark = None
    try:
        spark, setup = set_up(
            wl, lambda: get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf), work
        )
        detail.update(setup)

        t0 = time.perf_counter()
        r = _load_reference(wl, args.seed)
        detail["reference_s"] = time.perf_counter() - t0
        st = {"ref": r, "g": ref.Graph(r["ids"], r["src"], r["dst"])}
        ops = wl.ops(spark, work)

        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        pids = [pid] + ([jvm.pid] if jvm is not None else [])
        meter = BoxMeter()
        rounds, tracer, marks = [], None, None
        meter.start()
        with PeakRss(pids) as rss:
            t_start = time.perf_counter()
            while True:
                if args.trace == 1 and len(rounds) == 1:
                    marks = tr.status_marks(spark.sparkContext)
                    tracer = tr.Tracer(spark)
                    tracer.install()
                    try:
                        rounds.append(run_round(wl, ops, st, pids, tracer))
                    finally:
                        tracer.uninstall()
                else:
                    rounds.append(run_round(wl, ops, st, pids))
                if args.trace == 1:
                    if len(rounds) == 2:
                        break
                elif time.perf_counter() - t_start + rounds[-1]["total_s"] > args.seconds:
                    break
        detail["box"] = box = meter.stop()
        detail["rounds"] = rounds

        if args.trace == 0:
            values, per_op = end_to_end(rounds, setup, rss.peak_kb, ops)
            detail.update(per_op)
            problems, names = [], END_TO_END
        else:
            values, problems, doc = per_layer(
                tr, spark, tracer, marks, rounds, setup, box, cpus, args.workload, args.seed
            )
            _dump("trace", f"{args.workload}-seed{args.seed}.json", dict(doc, meta=meta))
            names = PER_LAYER
        missing = [n for n in names if values.get(n) is None]
        if missing:
            problems.append(f"metrics not measured: {missing}")
        detail["metrics"], detail["problems"] = values, problems
        _dump("runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json", detail)

        failed = sum(len(x["failures"]) for x in rounds)
        print(json.dumps({"detail": detail}, default=float))
        print(json.dumps({
            "correct": failed == 0 and not problems,
            "attempted": sum(x["attempted"] for x in rounds),
            "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": unit_of(n)} for n in names if n not in missing},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
