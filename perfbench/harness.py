"""The harness: session set-up, op execution with layer spans, and the
metrics computed from them.

An *op* is one closed-loop call into the package, timed as three phases:

- ``cleanup`` — ``query_registry.drain_pending_unpersist()``, called by the
  harness just before the op, so the registered wrapper's own drain is a
  no-op;
- ``call`` — the registered form, product path or streaming entry point,
  which builds the plan and runs whatever jobs it runs eagerly;
- ``action`` — what materialises the result (a one-row digest, a collect,
  or awaiting a streaming query).

In a traced run every phase runs under the Spark job group
``<workload>:<pass>:<op>:<phase>`` and the event log is enabled, so the
jobs, stages and tasks of each phase can be attributed offline.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from spans import COUNTERS, Tracer, merge_groups, self_time

SETUPS = 3  # set-ups per run; setup_s is their median

# per-layer metric -> op_layers column, reported as the mean per timed op
MEAN_PER_OP = {
    "query_registry.cleanup_s": "cleanup_s",
    "queries.call_s": "call_s",
    "queries.call_jobs": "call_jobs",
    "queries.call_self_s": "call_self_s",
    "spark.action_s": "action_s",
    "spark.action_jobs": "action_jobs",
    "spark.jobs_per_op": "jobs",
    "spark.stages_per_op": "stages",
    "spark.tasks_per_op": "tasks",
    "spark.task_run_s": "task_run_s",
    "spark.task_cpu_s": "task_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.task_wait_s": "task_wait_s",
    "spark.failed_tasks": "failed_tasks",
    "spark.skipped_stages": "skipped_stages",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``values`` with
    at least ten samples beyond it. With fewer than eleven samples no
    such percentile exists and the median is returned at percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return statistics.median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class Harness:
    def __init__(self, workload: str, traced: bool, work: str, data_dir: str) -> None:
        self.workload = workload
        self.traced = traced
        self.work = work
        self.data_dir = data_dir
        self.tracer = Tracer()
        self.spark = None
        self.jvm_pid: int | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # streaming query run id -> op span id (its jobs carry the run id)
        self.stream_runs: dict[str, int] = {}
        self.extra: dict[str, float] = {}
        self.event_dir = os.path.join(work, "eventlog")

    # -- set-up ------------------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            # one plain JSON-lines file per application
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup(self) -> None:
        """SETUPS fresh sessions, each timed as get_spark + first package
        ship + one warm-up action; the last one stays up for the workload.
        The first also launches the JVM."""
        from bharatmlstack_spark import get_spark
        from bharatmlstack_spark.query_registry import ensure_workers_have_package

        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup", i=i):
                with self.tracer.span("get_spark"):
                    self.spark = get_spark("perfbench", extra_conf=self.conf())
                with self.tracer.span("ship_package"):
                    ensure_workers_have_package(self.spark)
                with self.tracer.span("warmup"):
                    self.spark.read.parquet(os.path.join(self.data_dir, "region.parquet")).count()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.cores = self.spark.sparkContext.defaultParallelism

    def stop(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for
        them to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        workers = descendants(gateway.proc.pid)
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
            time.sleep(0.1)

    # -- ops ---------------------------------------------------------------

    @contextmanager
    def phase(self, pass_idx: int, op: str, name: str):
        group = f"{self.workload}:{pass_idx}:{op}:{name}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, name)
        with self.tracer.span(name, group=group) as s:
            yield s

    def op(self, pass_idx: int, name: str, call, action, timed: bool = True):
        """Run one op; returns (span, action result or None on error)."""
        from bharatmlstack_spark.query_registry import drain_pending_unpersist

        self.attempted += 1
        with self.tracer.span("op", op=name, pass_idx=pass_idx, timed=timed) as s:
            try:
                with self.phase(pass_idx, name, "cleanup"):
                    drain_pending_unpersist()
                with self.phase(pass_idx, name, "call"):
                    res = call()
                with self.phase(pass_idx, name, "action"):
                    return s, action(res)
            except Exception as e:  # noqa: BLE001 — an op failure is a measured outcome
                traceback.print_exc(file=sys.stderr)
                self.fail(s, f"{type(e).__name__}: {e}"[:300])
                return s, None

    def fail(self, span, reason: str) -> None:
        if not span.attrs.get("failed"):
            span.attrs["failed"] = True
            self.failed += 1
        span.attrs.setdefault("reasons", []).append(reason)
        self.failures.append(f"{span.attrs.get('op')} (pass {span.attrs.get('pass_idx')}): {reason}")
        print(f"# FAIL {self.failures[-1]}", file=sys.stderr)

    # -- metrics -----------------------------------------------------------

    def timed_ops(self):
        return [s for s in self.tracer.spans if s.name == "op" and s.attrs.get("timed")]

    def passes(self):
        return [s for s in self.tracer.spans if s.name == "pass"]

    def end_to_end(self) -> dict[str, float]:
        setups = [s.dur for s in self.tracer.spans if s.name == "setup"]
        ops = [s.dur for s in self.timed_ops()]
        self.extra["passes_s"] = [p.dur for p in self.passes()]
        self.extra["op_s"] = {}
        for s in self.timed_ops():
            self.extra["op_s"].setdefault(s.attrs["op"], []).append(s.dur)
        self.extra["peak_rss_mb"] = peak_rss_mb([os.getpid(), self.jvm_pid])
        return {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(self.extra["passes_s"]),
            "op_p50_s": statistics.median(ops),
        }

    def op_tail(self) -> float:
        """op_tail_s, with its percentile and sample count kept in extra."""
        v, pct, n = tail([s.dur for s in self.timed_ops()])
        self.extra.update({"op_tail_pct": pct, "op_samples": n})
        return v

    def op_layers(self, stats: dict[str, dict]) -> list[dict]:
        """Per timed op: the phase times, job counts and the summed Spark
        figures of its job groups (a streaming sink's run-id group counts
        towards its action)."""
        runs_by_op: dict[int, list[str]] = {}
        for run_id, span_id in self.stream_runs.items():
            runs_by_op.setdefault(span_id, []).append(run_id)
        out = []
        for s in self.timed_ops():
            phases = {c.name: c for c in self.tracer.children(s.id)}
            row = {"op": s.attrs["op"], "pass": s.attrs["pass_idx"], "wall_s": s.dur,
                   "failed": bool(s.attrs.get("failed"))}
            for ph in ("cleanup", "call", "action"):
                c = phases.get(ph)
                g = stats.get(c.attrs["group"], {}) if c else {}
                row[f"{ph}_s"] = c.dur if c else 0.0
                row[f"{ph}_jobs"] = g.get("jobs", 0)
            call = phases.get("call")
            row["call_self_s"] = (
                self_time(call, self.tracer.children(call.id),
                          stats.get(call.attrs["group"], {}).get("job_intervals", []))
                if call else 0.0
            )
            groups = [c.attrs["group"] for c in phases.values()] + runs_by_op.get(s.id, [])
            row.update({k: v for k, v in merge_groups(stats, groups).items() if k in COUNTERS})
            out.append(row)
        return out

    def per_layer(self, stats: dict[str, dict]) -> tuple[dict[str, float], list[dict]]:
        """Workload figures from the parsed event log: set-up phases as
        medians over the set-ups, op layers as means per timed op."""
        rows = self.op_layers(stats)
        n = max(len(rows), 1)

        def mean(key: str) -> float:
            return sum(r[key] for r in rows) / n

        def setup_median(name: str) -> float:
            return statistics.median(s.dur for s in self.tracer.spans if s.name == name)

        wall = sum(r["wall_s"] for r in rows)
        m = {
            "op_tail_s": self.op_tail(),
            "peak_rss_mb": self.extra["peak_rss_mb"],
            "session.get_spark_s": setup_median("get_spark"),
            "query_registry.ship_package_s": setup_median("ship_package"),
            "session.warmup_s": setup_median("warmup"),
            "spark.core_busy_ratio":
                sum(r["task_run_s"] for r in rows) / (self.cores * wall) if wall else 0.0,
        }
        m.update({name: mean(key) for name, key in MEAN_PER_OP.items()})
        return m, rows
