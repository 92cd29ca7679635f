"""The three workloads. Each is a closed loop with one client: an op
starts only after the previous one has finished.

- ``batch_sql``: registered feature-store, event-store, numerix and
  relational forms on the generated star schema. Each launches few jobs
  and does little driver work, so its time sits in scan, join, window and
  aggregate execution: it shows execution and shuffle gains and bypasses
  driver-side and streaming changes.
- ``corpus_dedup``: near-duplicate, tokenizer, graph and ANN-build ops on
  a small corpus. Each runs 10-20 jobs with eager checkpoint and fit jobs
  inside the call, so driver work and job count dominate.
- ``stream_ingest``: waves of CDC changes and document updates through the
  ``foreachBatch`` sinks, maintenance by the public due policy, and read
  probes against the live state after every wave. It is the only workload
  that runs the seq guard, staged bucket rewrite, tombstone mask and
  compaction, and its probes sit beside its writes.

Every workload runs one untimed pass first: it warms the JVM and checks
outputs (collected rows against the DuckDB oracle, or the stream's
models). The batch workloads then run WARM_PASSES more untimed passes,
because the JIT is still warming up after the first. Then timed passes run
until the run's seconds are spent and at least MIN_PASSES have run; the
pass in flight when time runs out is completed. A stream_ingest pass is
one maintenance cycle of WAVES_PER_PASS waves: a plain odd wave, and an
even wave that also deletes documents and runs postings compaction and CDC
tombstone GC. Wave 0, the untimed one, is even, so every path is warm
before the timed cycle.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen

# (data scale, ops). The scales keep one run inside the benchmark's time
# budget; at these sizes per-job fixed cost is still a visible share of
# batch_sql, and dominates corpus_dedup.
WORKLOADS = {
    "batch_sql": (0.05, [
        "q1_pricing_summary",
        "q5_region_revenue",
        "q18_large_orders",
        "entity_resolution_join",
        "events_merge_trim",
    ]),
    "corpus_dedup": (0.01, [
        "dedup_ngram_jaccard",
        "pagerank_copurchase",
        "ann_ivfpq_product",
    ]),
    "stream_ingest": (0.001, []),
}

WARM_PASSES = 1
MIN_PASSES = 3
WAVES_PER_PASS = 2

# stream_ingest topic shape
STREAM_KEYS = 20_000
STREAM_WAVES = 5
CHANGES_PER_WAVE = 2_000
DOCS_PER_WAVE = 200
STATE_BUCKETS = 8
PROBE_KEYS = 1_000
PROBE_TERMS = [["spark", "join"], ["stream", "window", "merge"], ["vector", "query"],
               ["hash", "table", "scan"]]
CDC_ARROW = pa.schema([("user_id", pa.int64()), ("seq", pa.int64()), ("op", pa.string()),
                       ("bal", pa.int64()), ("tier", pa.string())])
DOC_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def resolve(name: str):
    """(callable, oracle SQL or None) for a registered form, a product
    path, or a retired form still defined on the queries module."""
    from bharatmlstack_spark import queries as Q
    from bharatmlstack_spark.bench_product import PRODUCT_QUERIES
    from bharatmlstack_spark.query_registry import RETIRED_ORACLES

    if name in Q.all_queries():
        return Q.all_queries()[name], Q.all_oracles().get(name)
    if name in PRODUCT_QUERIES:
        return PRODUCT_QUERIES[name], None
    return getattr(Q, name), RETIRED_ORACLES.get(name)


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def run_batch(h, ops: list[str], seconds: float) -> None:
    spark, data = h.spark, h.data_dir
    con = checks.oracle_connection(data)
    fns = [(name, *resolve(name)) for name in ops]
    rows_seen: dict[str, int] = {}
    for name, fn, oracle in fns:
        span, out = h.op(0, name, lambda: fn(spark, data), _collect, timed=False)
        if out is None:
            continue
        cols, rows = out
        rows_seen[name] = len(rows)
        problem = checks.oracle_mismatch(con, oracle, cols, rows) if oracle else None
        if problem:
            h.fail(span, f"oracle: {problem}")
    con.close()
    digests: dict[str, str] = {}

    def one_pass(p: int, timed: bool) -> None:
        for name, fn, _oracle in fns:
            span, out = h.op(p, name, lambda: fn(spark, data), checks.digest, timed=timed)
            if out is None:
                continue
            n, d = out
            if name in rows_seen and n != rows_seen[name]:
                h.fail(span, f"rows {n} != {rows_seen[name]} in the checked pass")
            if digests.setdefault(name, d) != d:
                h.fail(span, "content digest differs from the first digest pass")

    for p in range(1, WARM_PASSES + 1):
        one_pass(p, timed=False)
    deadline = time.time() + seconds
    p = WARM_PASSES + 1
    while p <= WARM_PASSES + MIN_PASSES or time.time() < deadline:
        with h.tracer.span("pass", pass_idx=p):
            one_pass(p, timed=True)
        p += 1


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def _write_topic(topic_dir: str, name: str, table: pa.Table) -> tuple[float, int]:
    """Write one topic file atomically (Spark's file source skips names
    starting with '_'); returns (write time stamp, file bytes)."""
    os.makedirs(topic_dir, exist_ok=True)
    tmp = os.path.join(topic_dir, f"_{name}.tmp")
    pq.write_table(table, tmp)
    path = os.path.join(topic_dir, f"{name}.parquet")
    os.rename(tmp, path)
    return time.time(), os.path.getsize(path)


def _files(root: str) -> dict[str, int]:
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            out[p] = os.path.getsize(p)
    return out


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(sz for p, sz in after.items() if before.get(p) != sz)


class StreamIngest:
    """One stream_ingest run: topic, state roots, models and records."""

    def __init__(self, h, topic: dict) -> None:
        self.h, self.topic = h, topic
        base = os.path.join(h.work, "stream")
        self.cdc_topic, self.doc_topic = f"{base}/cdc_topic", f"{base}/doc_topic"
        self.state, self.index = f"{base}/cdc_state", f"{base}/postings"
        self.cdc_ck, self.doc_ck = f"{base}/cdc_ck", f"{base}/doc_ck"
        self.snapshot_path = os.path.join(h.work, "snapshot.parquet")
        self.model = checks.CdcModel(topic["snapshot"])
        self.docs: dict[int, str] = {}
        self.key_space = sorted({r[0] for r in topic["snapshot"]}
                                | {c[0] for w in topic["waves"] for c in w["changes"]})
        self.sinks: list[dict] = []  # per timed sink run: rows, progress, bytes
        self.maint_s: list[float] = []
        self.probe_s: list[float] = []
        self.fresh_s: list[float] = []
        self.state_files: list[int] = []
        self.space_amp = 0.0

    def roots(self) -> list[str]:
        return [self.state, self.state + "__staging", self.index]

    def snapshot(self):
        return self.h.spark.read.parquet(self.snapshot_path)

    def prepare(self) -> None:
        """Seed the CDC state (untimed)."""
        from bharatmlstack_spark.streaming.ingest import seed_cdc_state

        snap = self.topic["snapshot"]
        pq.write_table(pa.table({"user_id": [r[0] for r in snap], "bal": [r[1] for r in snap],
                                 "tier": [r[2] for r in snap]}), self.snapshot_path)
        seed_cdc_state(self.snapshot(), self.state, ["user_id"], n_buckets=STATE_BUCKETS)

    def sink(self, w: int, name: str, topic_dir: str, timed: bool, input_bytes: int):
        from bharatmlstack_spark.streaming.ingest import (
            await_stream, stream_cdc_sink, stream_postings_sink,
        )

        h, spark = self.h, self.h.spark
        root = self.state if name == "cdc_sink" else self.index
        before = _files(root)

        def call():
            if name == "cdc_sink":
                src = spark.readStream.schema(gen.CDC_SCHEMA).parquet(topic_dir)
                return stream_cdc_sink(src, self.state, self.cdc_ck, spark,
                                       key_cols=["user_id"], trigger_once=True)
            src = spark.readStream.schema(gen.DOC_SCHEMA).parquet(topic_dir)
            return stream_postings_sink(src, self.index, self.doc_ck, spark,
                                        n_buckets=STATE_BUCKETS, trigger_once=True,
                                        allow_updates=True)

        def action(q):
            await_stream(q, 150, name)
            return q

        span, q = h.op(w, name, call, action, timed=timed)
        if q is None:
            return
        h.stream_runs[str(q.runId)] = span.id
        if timed:
            prog = list(q.recentProgress)
            self.sinks.append({
                "op": span, "run_id": str(q.runId),
                "rows": sum(p.numInputRows for p in prog),
                "batches": [dict(p.durationMs) for p in prog if p.numInputRows],
                "written_per_input": _new_bytes(before, _files(root)) / input_bytes,
            })

    def probe_cdc(self, w: int, wave_keys: list[int], timed: bool) -> float:
        """Point lookup of ~PROBE_KEYS keys, half of them changed by this
        wave; checked against the change model. Returns its end time."""
        spark = self.h.spark
        rng_keys = self.key_space[(w * 7919) % len(self.key_space)::17]
        keys = sorted(set(wave_keys[::2][: PROBE_KEYS // 2]) | set(rng_keys[: PROBE_KEYS // 2]))

        def call():
            k = spark.createDataFrame([(x,) for x in keys], "user_id long")
            return (spark.read.parquet(self.state).filter(F.col("__op") != "D")
                    .join(F.broadcast(k), "user_id").select("user_id", "bal", "tier"))

        span, out = self.h.op(w, "cdc_probe", call, lambda df: {tuple(r) for r in df.collect()},
                              timed=timed)
        if out is not None and out != self.model.live(keys):
            self.h.fail(span, "CDC probe differs from the change model")
        if timed:
            self.probe_s.append(span.dur)
        return span.t1

    def probe_bm25(self, w: int, timed: bool) -> float:
        from bharatmlstack_spark.streaming.ingest import bm25_search_streamed

        terms = PROBE_TERMS[w % len(PROBE_TERMS)]
        span, _out = self.h.op(
            w, "bm25_probe", lambda: bm25_search_streamed(self.h.spark, self.index, terms, k=10),
            lambda df: [tuple(r) for r in df.collect()], timed=timed)
        if timed:
            self.probe_s.append(span.dur)
        return span.t1

    def maintain(self, w: int, timed: bool) -> None:
        from bharatmlstack_spark.streaming.ingest import (
            compact_cdc_state, maybe_compact_streamed_postings,
        )

        waves = self.topic["waves"]
        # late rows of later waves come from this wave and newer ones only
        oldest_open = w + 1 - gen.REDELIVERY_WAVES

        def call():
            done = maybe_compact_streamed_postings(
                self.h.spark, self.index, every_n_batches=4, count_tombstones=False)
            if w % 2 == 0:
                # nothing at or below this seq can arrive any more
                compact_cdc_state(self.h.spark, self.state, waves[oldest_open]["min_seq"] - 2)
            return done

        span, _ = self.h.op(w, "maintenance", call, lambda r: r, timed=timed)
        if timed:
            self.maint_s.append(span.dur)

    def wave(self, w: int, timed: bool) -> None:
        from bharatmlstack_spark.streaming.ingest import delete_postings_docs

        h, wave = self.h, self.topic["waves"][w]
        with h.tracer.span("wave", pass_idx=w):
            with h.tracer.span("topic_write"):
                changes = pa.Table.from_pylist(
                    [dict(zip(CDC_ARROW.names, c)) for c in wave["changes"]], schema=CDC_ARROW)
                docs = pa.table({"doc_id": list(wave["docs"]), "text": list(wave["docs"].values())},
                                schema=DOC_ARROW)
                t_cdc, cdc_bytes = _write_topic(self.cdc_topic, f"wave{w:03d}", changes)
                t_doc, doc_bytes = _write_topic(self.doc_topic, f"wave{w:03d}", docs)
            self.sink(w, "cdc_sink", self.cdc_topic, timed, cdc_bytes)
            self.model.apply(wave["changes"])
            self.sink(w, "postings_sink", self.doc_topic, timed, doc_bytes)
            self.docs.update(wave["docs"])
            if wave["delete_docs"]:
                h.op(w, "delete_docs",
                     lambda: delete_postings_docs(h.spark, self.index, wave["delete_docs"]),
                     lambda n: n, timed=timed)
                for d in wave["delete_docs"]:
                    self.docs.pop(d, None)
            self.maintain(w, timed)
            wave_keys = sorted({c[0] for c in wave["changes"]})
            seen = self.probe_cdc(w, wave_keys, timed)
            seen_docs = self.probe_bm25(w, timed)
        if timed:
            self.fresh_s += [seen - t_cdc, seen_docs - t_doc]
            self.state_files.append(sum(len(_files(r)) for r in self.roots()))

    def final_checks(self) -> None:
        """Final CDC state == one-shot cdc_apply over every delivered change
        (redeliveries and stale rows included); streamed BM25 top-10 ==
        bm25_topk over the live documents."""
        from bharatmlstack_spark.operators.incremental import cdc_apply
        from bharatmlstack_spark.operators.retrieval import bm25_topk
        from bharatmlstack_spark.streaming.ingest import bm25_search_streamed

        spark = self.h.spark

        def call() -> list[str]:
            problems = []
            changes = spark.read.parquet(self.cdc_topic)
            want = {tuple(r) for r in cdc_apply(self.snapshot(), changes, ["user_id"], "seq")
                    .select("user_id", "bal", "tier").collect()}
            got = {tuple(r) for r in spark.read.parquet(self.state).filter(F.col("__op") != "D")
                   .select("user_id", "bal", "tier").collect()}
            if got != want:
                problems.append(f"CDC state != one-shot cdc_apply ({len(got ^ want)} rows differ)")
            terms = PROBE_TERMS[0]
            docs = spark.createDataFrame(sorted(self.docs.items()), gen.DOC_SCHEMA)
            want_top = sorted(tuple(r) for r in bm25_topk(docs, terms, k=10).collect())
            got_top = sorted(tuple(r) for r in
                             bm25_search_streamed(spark, self.index, terms, k=10).collect())
            if got_top != want_top:
                problems.append(f"streamed BM25 {terms} != bm25_topk over the live docs")
            return problems

        span, problems = self.h.op(-1, "final_check", call, lambda p: p, timed=False)
        for p in problems or []:
            self.h.fail(span, p)

    def measure_space_amp(self) -> float:
        """Bytes under the state roots over the bytes of the live rows (live
        CDC rows and live documents, as the models hold them) written as one
        zstd parquet file each."""
        on_disk = sum(sum(_files(r).values()) for r in self.roots())
        live = [(k, r[2], r[3]) for k, r in self.model.rows.items() if r[1] != "D"]
        compact = os.path.join(self.h.work, "compact")
        os.makedirs(compact, exist_ok=True)
        pq.write_table(pa.table({"user_id": [r[0] for r in live], "bal": [r[1] for r in live],
                                 "tier": [r[2] for r in live]}),
                       f"{compact}/cdc.parquet", compression="zstd")
        pq.write_table(pa.table({"doc_id": list(self.docs), "text": list(self.docs.values())},
                                schema=DOC_ARROW), f"{compact}/docs.parquet", compression="zstd")
        return on_disk / sum(_files(compact).values())

    def run(self, seconds: float) -> None:
        self.prepare()
        self.wave(0, timed=False)
        deadline = time.time() + seconds
        w = 1
        while time.time() < deadline and w + WAVES_PER_PASS <= len(self.topic["waves"]):
            with self.h.tracer.span("pass", pass_idx=w):
                for _ in range(WAVES_PER_PASS):
                    self.wave(w, timed=True)
                    w += 1
        self.final_checks()
        self.space_amp = self.measure_space_amp()
