"""Layer report from a traced run.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 8 --trace 1
    python3 perfbench/report.py corpus_dedup --seed 1

Reads the records the two runs left under ``.perfbench_out/``. For every
op it takes the median over the timed passes of each layer:

- ``queries.call_self_s`` — call time covered by no Spark job (plan
  building, py4j, driver-side fits and collects);
- ``in-call jobs`` — the rest of the call: jobs the call runs eagerly;
- ``spark.action_s`` — the action that materialises the result (for a
  streaming sink: awaiting its micro-batch);
- ``query_registry.cleanup_s`` — the deferred unpersist/cleanup drain;

ranks the ops by their largest layer, and prints the tracing overhead:
traced ``pass_s`` minus untraced ``pass_s`` on the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_out")
LAYERS = ("queries.call_self_s", "in-call jobs", "spark.action_s", "query_registry.cleanup_s")


def op_table(op_layers: list[dict]) -> list[dict]:
    """Per op: median of each layer over its timed samples, its largest
    layer, and its median job/stage/task counts."""
    by_op: dict[str, list[dict]] = {}
    for r in op_layers:
        by_op.setdefault(r["op"], []).append(r)
    rows = []
    for op, rs in by_op.items():
        med = lambda f: statistics.median(f(r) for r in rs)  # noqa: E731
        layers = {
            "queries.call_self_s": med(lambda r: r["call_self_s"]),
            "in-call jobs": med(lambda r: r["call_s"] - r["call_self_s"]),
            "spark.action_s": med(lambda r: r["action_s"]),
            "query_registry.cleanup_s": med(lambda r: r["cleanup_s"]),
        }
        rows.append({
            "op": op, "n": len(rs), "wall_s": med(lambda r: r["wall_s"]), **layers,
            "largest": max(layers, key=layers.get),
            "jobs": med(lambda r: r["jobs"]), "stages": med(lambda r: r["stages"]),
            "tasks": med(lambda r: r["tasks"]),
        })
    return sorted(rows, key=lambda r: -max(r[k] for k in LAYERS))


def render(traced: dict, untraced: dict | None) -> str:
    lines = [f"workload {traced['workload']}  seed {traced['seed']}  cores {traced['cores']}"]
    head = f"{'op':28s} {'n':>2s} {'wall':>6s} " + " ".join(f"{k:>24s}" for k in LAYERS)
    lines += [head + f" {'largest':>24s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}"]
    for r in op_table(traced["op_layers"]):
        lines.append(
            f"{r['op']:28s} {r['n']:2d} {r['wall_s']:6.2f} "
            + " ".join(f"{r[k]:24.3f}" for k in LAYERS)
            + f" {r['largest']:>24s} {r['jobs']:5.0f} {r['stages']:6.0f} {r['tasks']:6.0f}"
        )
    t = traced["end_to_end"]["pass_s"]
    if untraced is None:
        lines.append(f"tracing overhead: no untraced run of this seed (traced pass_s {t:.3f} s)")
    else:
        u = untraced["end_to_end"]["pass_s"]
        lines.append(f"tracing overhead: pass_s {t:.3f} s traced - {u:.3f} s untraced = "
                     f"{t - u:+.3f} s ({(t - u) / u:+.1%})")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="per-op layer report of a traced perfbench run")
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)

    def load(trace: int) -> dict | None:
        path = os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace{trace}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    traced = load(1)
    if traced is None:
        print(f"no traced run of {a.workload} seed {a.seed} under {OUT_DIR}", file=sys.stderr)
        return 1
    print(render(traced, load(0)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
