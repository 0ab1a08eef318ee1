"""Render per-layer tables from trace files written by ``run.py --trace 1``.

    python3 perfbench/report.py .perfbench-out/trace/*.json

One table per trace file (one workload and seed): each layer's self time
and share of the traced wall, then the per-layer metrics, the tracing
overhead and any self-check problem the run recorded.
"""

from __future__ import annotations

import json
import sys


def render(doc: dict) -> str:
    meta, m = doc["meta"], doc["metrics"]
    wall = doc["traced_total_s"]
    lines = [
        f"## {meta['workload']}  seed={meta['seed']}  cpus={meta['cpus']}  heap={meta['driver_heap']}  "
        f"spark={meta['spark_version']}  commit={meta['git_commit'][:12]}",
        "",
        f"traced wall {wall:.3f} s, untraced {doc['untraced_total_s']:.3f} s "
        f"(tracing overhead {m['trace.overhead_pct']:+.1f} %)",
        "",
        "| layer | self time (s) | share of wall |",
        "|---|---:|---:|",
    ]
    for layer, s in sorted(doc["self_time_s"].items(), key=lambda kv: -kv[1]):
        lines.append(f"| {layer} | {s:.3f} | {100.0 * s / wall:.1f} % |")
    lines.append(f"| **sum** | {sum(doc['self_time_s'].values()):.3f} | {100.0 * m['trace.self_time_frac']:.1f} % |")
    lines += ["", "| operation | wall (s) |", "|---|---:|"]
    lines += [f"| {op} | {t:.3f} |" for op, t in doc["op_times_s"].items()]
    lines += ["", "| metric | value |", "|---|---:|"]
    for name, value in m.items():
        lines.append(f"| {name} | {value:.4g} |" if isinstance(value, float) else f"| {name} | {value} |")
    lines.append("")
    lines.append("self-checks: " + ("; ".join(doc["problems"]) if doc["problems"] else "all passed"))
    return "\n".join(lines)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for path in paths:
        with open(path) as f:
            print(render(json.load(f)))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
