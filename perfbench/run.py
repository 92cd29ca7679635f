"""Layer-resolved benchmark of bharatmlstack_spark.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed`` (timed apart from
everything else), sets up the Spark session several times, runs an
untimed checked pass and then timed passes for ``--seconds`` (see
``workloads`` for warm-up and minimum pass counts), and prints
a human-readable report on stderr and, as the last line of stdout, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the event log and per-phase job groups are on and the metrics are the
per-layer ones. Every run also writes its full record (per-op layers and
spans included) under ``.perfbench_out/`` for ``perfbench/report.py``.

Everything the run writes stays inside the checkout: inputs, Spark's
local and temp dirs, the event log and streaming state live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import gen
import workloads
from harness import Harness, tail
from spans import read_event_logs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def stream_metrics(s, stats: dict | None) -> dict[str, float]:
    """The stream_ingest user and ingest-layer figures (zero on the batch
    workloads, which run no sink)."""
    out = {k: 0.0 for k in (
        "ingest_rows_per_s", "freshness_p50_s", "freshness_tail_s", "probe_p50_s",
        "probe_tail_s", "state_space_amp", "ingest.batch_s", "ingest.add_batch_s",
        "ingest.planning_s", "ingest.jobs_per_batch", "ingest.bytes_written_per_input_byte",
        "ingest.state_files", "ingest.maintenance_s")}
    if s is None or not s.sinks:
        return out
    batches = [b for k in s.sinks for b in k["batches"]]
    nb = max(len(batches), 1)
    sink_time = sum(k["op"].dur for k in s.sinks)
    out.update({
        "ingest_rows_per_s": sum(k["rows"] for k in s.sinks) / sink_time,
        "freshness_p50_s": statistics.median(s.fresh_s),
        "freshness_tail_s": tail(s.fresh_s)[0],
        "probe_p50_s": statistics.median(s.probe_s),
        "probe_tail_s": tail(s.probe_s)[0],
        "ingest.batch_s": sum(b.get("triggerExecution", 0) for b in batches) / nb / 1e3,
        "ingest.add_batch_s": sum(b.get("addBatch", 0) for b in batches) / nb / 1e3,
        "ingest.planning_s": sum(b.get("queryPlanning", 0) for b in batches) / nb / 1e3,
        "ingest.bytes_written_per_input_byte":
            statistics.mean(k["written_per_input"] for k in s.sinks),
        "ingest.state_files": statistics.mean(s.state_files),
        "ingest.maintenance_s": statistics.mean(s.maint_s),
        "state_space_amp": s.space_amp,
    })
    if stats is not None:
        jobs = sum(stats.get(k["run_id"], {}).get("jobs", 0) for k in s.sinks)
        out["ingest.jobs_per_batch"] = jobs / nb
    return out


def run(args, work: str) -> dict:
    scale, ops = workloads.WORKLOADS[args.workload]
    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    rows = gen.generate_tables(data_dir, args.seed, scale)
    topic = None
    if args.workload == "stream_ingest":
        topic = gen.generate_stream(args.seed, workloads.STREAM_KEYS, workloads.STREAM_WAVES,
                                    workloads.CHANGES_PER_WAVE, workloads.DOCS_PER_WAVE)
    gen_s = time.perf_counter() - t0

    h = Harness(args.workload, bool(args.trace), work, data_dir)
    stream = None
    try:
        h.setup()
        if topic is None:
            workloads.run_batch(h, ops, args.seconds)
        else:
            stream = workloads.StreamIngest(h, topic)
            stream.run(args.seconds)
        e2e = h.end_to_end()
    finally:
        h.stop()

    layer_rows: list[dict] = []
    if args.trace:
        stats = read_event_logs(h.event_dir)
        metrics, layer_rows = h.per_layer(stats)
        metrics.update(stream_metrics(stream, stats))
    else:
        metrics = e2e
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "gen_s": gen_s, "rows": rows, "cores": h.cores,
        "end_to_end": e2e, "metrics": metrics, "op_layers": layer_rows,
        "stream": stream_metrics(stream, None), "extra": h.extra,
        "attempted": h.attempted, "failed": h.failed, "failures": h.failures,
        "op_fail_ratio": h.failed / max(h.attempted, 1),
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        h.tracer.dump(stem + ".spans.json")
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="bharatmlstack_spark layer-resolved benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bharatmlstack_spark")):
        print("perfbench: no bharatmlstack_spark package beside the benchmark", file=sys.stderr)
        return 2
    specs = metric_specs()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the package's scratch dirs, its shipped zip and the Python workers'
    # temp files follow TMPDIR; Spark's local dirs follow SPARK_LOCAL_DIRS
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = specs["per_layer" if args.trace else "end_to_end"]
    metrics = {k: {"value": record["metrics"][k], "unit": u} for k, u in want.items()}
    report = dict(record)
    report.pop("op_layers")
    print(json.dumps(report, indent=1), file=sys.stderr)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
