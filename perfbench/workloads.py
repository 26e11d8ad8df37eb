"""The benchmark's workloads. Each is a closed loop with one client: the
input backlog is written before the timed part, and each micro-batch (or
landed query) starts when the previous one has finished.

The runner calls, in order:

- ``prepare(ctx, dir, seconds)``: write the seeded inputs (part of set-up);
- ``passes(seconds)``: how many timed passes fill about ``seconds``;
- ``first_unit(ctx)``: the first, cold unit of work (part of set-up; it
  also warms the timed passes);
- ``run_pass(ctx, i)``: one timed pass, outputs checked; returns a :class:`Pass`;
- ``end_to_end(passes)``: ``events_per_s`` and ``batch_ms_p50``;
- ``layers(ctx, passes, status)``: per-layer numbers (traced runs only).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import gen
from layers import (
    covering,
    job_metrics,
    progress_metrics,
    sql_metric_total,
    sql_node_ms,
    sql_top_operators,
    trace_jobs,
)


@dataclass
class Pass:
    rows: int  # input events the pass consumed
    wall_s: float  # timed drain (or landing) wall time
    batch_ms: list[float]  # per data micro-batch, or per landed query
    ok: list[bool]  # one entry per checked output
    t0: float = 0.0  # epoch seconds, for the trace window
    t1: float = 0.0
    progress: list[dict] = field(default_factory=list)
    per_query_s: dict[str, float] = field(default_factory=dict)


def _start(stream_df, name: str, ckpt: str):
    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _data_batches(q, n: int) -> list[dict]:
    """Wait until ``q`` has committed ``n`` data micro-batches; their progress."""
    while True:
        done = [p for p in _progress(q) if p["numInputRows"]]
        if len(done) >= n:
            return done
        if not q.isActive:
            raise RuntimeError(f"{q.name} stopped early: {q.exception()}")
        time.sleep(0.05)


def _iso(text: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


class FraudStream:
    """``streaming.fraud.fraud_alert_stream`` over a file-source backlog
    fed one file per micro-batch.

    Why: the flagship live path. Small micro-batches make per-batch
    scheduling and state-store commit dominate, with little Python work
    per batch."""

    name = "fraud_stream"
    rows_per_file = 200
    warm_files = 3  # untimed head of the backlog, part of set-up
    nominal_batch_s = 3.0  # sizes the timed backlog: about --seconds of batches
    baseline_files = 3

    def prepare(self, ctx, root: str, seconds: float) -> None:
        files = self.warm_files + max(4, math.ceil(seconds / self.nominal_batch_s))
        feed = gen.fraud_feed(ctx.seed, files, self.rows_per_file)
        self.in_dir = os.path.join(root, "fraud_in")
        self.base_dir = os.path.join(root, "fraud_base")
        for d in (self.in_dir, self.base_dir):
            shutil.rmtree(d, ignore_errors=True)
        gen.write_fraud(feed, self.in_dir)
        gen.write_fraud(gen.fraud_feed(ctx.seed + 1, self.baseline_files, self.rows_per_file), self.base_dir)
        self.expected = checks.fraud_reference(feed.files)

    def passes(self, seconds: float) -> int:
        return 1  # one drain of a backlog sized from --seconds

    def stream(self, ctx, in_dir: str, name: str):
        from apache_flink_pratices_spark.streaming.fraud import fraud_alert_stream

        src = ctx.spark.readStream.schema(gen.FRAUD_SCHEMA).option("maxFilesPerTrigger", 1).parquet(in_dir)
        return _start(fraud_alert_stream(src), name, os.path.join(ctx.work, f"ckpt_{name}"))

    def first_unit(self, ctx) -> None:
        # the head of the stream: its first batches pay the cold costs and
        # the ones after it keep getting faster for a few batches
        self.q = self.stream(ctx, self.in_dir, "fraud")
        with ctx.tracer.span("streaming:warmup"):
            self.warm = _data_batches(self.q, self.warm_files)

    def run_pass(self, ctx, i: int) -> Pass:
        # the rest of the backlog, timed from the start of the first batch
        # after the warm-up to the end of the drain (closing no-data batch
        # included)
        q = self.q
        with ctx.tracer.span("streaming:drain"):
            try:
                q.processAllAvailable()
                t1 = time.time()
                progress = _progress(q)
            finally:
                q.stop()
        timed = [p for p in progress if p["batchId"] > self.warm[-1]["batchId"]]
        t0 = _iso(timed[0]["timestamp"])
        with ctx.tracer.span("bench:check"):
            rows = ctx.spark.sql("SELECT * FROM fraud").collect()
            alerts = {(r.account_id, r.alert_ts_us, r.amount) for r in rows}
            dropped = sum(op["numRowsDroppedByWatermark"] for p in progress for op in p["stateOperators"])
            ok = ctx.tamper((alerts, dropped)) == self.expected
        batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in timed if p["numInputRows"]]
        rows_in = sum(p["numInputRows"] for p in timed)
        return Pass(rows_in, t1 - t0, batch_ms, [ok], t0, t1, timed)

    def end_to_end(self, passes: list[Pass]) -> dict[str, float]:
        return {
            "events_per_s": sum(p.rows for p in passes) / sum(p.wall_s for p in passes),
            "batch_ms_p50": statistics.median(b for p in passes for b in p.batch_ms),
        }

    def layers(self, ctx, passes: list[Pass], status) -> dict:
        progress = [p for ps in passes for p in ps.progress]
        win = status.window(*[(p.t0, p.t1 + 0.5) for p in passes])
        out = progress_metrics(progress)
        out.update(job_metrics(win, "streaming", sum(p.wall_s for p in passes)))
        out["sources.read_bytes"] = sum(s["inputBytes"] for s in win["stages"])
        drains = [s for s in ctx.tracer.spans if s["name"] in ("streaming:warmup", "streaming:drain")]
        batches = []
        for p in progress:
            start = _iso(p["timestamp"])
            batches.append(
                ctx.tracer.add(
                    "streaming:batch",
                    start,
                    start + p["durationMs"]["triggerExecution"] / 1000,
                    {"batch": p["batchId"], "rows": p["numInputRows"], "durationMs": p["durationMs"]},
                    parent=covering(drains, start),
                )
            )
        trace_jobs(ctx.tracer, win, lambda js: covering(batches, js))
        # the single-threaded baseline: the same job at local[1] on files of
        # the same size, per data batch; the first batch of the fresh
        # context is cold and left out
        with ctx.tracer.span("baseline:local1"):
            ctx.start_session("local[1]")
            q = self.stream(ctx, self.base_dir, "fraud_local1")
            try:
                base = _data_batches(q, self.baseline_files)
            finally:
                q.stop()
        out["baseline.local1_batch_ms"] = statistics.median(p["durationMs"]["triggerExecution"] for p in base[1:])
        return out


class MarketIngest:
    """The ingest path as its registered queries, each landed through
    ``sinks.partitioned.write_partitioned``: JSON parse and validation,
    Kafka wire framing with topic routing, and the protobuf round trips.

    Why: the only workload that writes, and the only one that runs the
    serialization layer."""

    name = "market_ingest"
    events = 8_000
    nominal_pass_s = 9.0  # sets the pass count: about --seconds of passes
    queries = ("p_market_pipeline", "kafka_wire_routed", "proto_roundtrip_trades", "proto_roundtrip_orderbook")

    def prepare(self, ctx, root: str, seconds: float) -> None:
        self.sf_dir = os.path.join(root, "sf")
        self.warm_dir = os.path.join(root, "sf_warm")
        for d in (self.sf_dir, self.warm_dir):
            shutil.rmtree(d, ignore_errors=True)
        gen.write_events(ctx.seed, self.events, self.sf_dir)
        gen.write_events(ctx.seed + 1, self.events, self.warm_dir)
        self.expected = None  # oracle rows, computed on first check

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.nominal_pass_s))

    def _land(self, ctx, sf_dir: str, out: str, tag: str) -> dict[str, float]:
        """Land every query; per-query wall. Each query's Spark jobs and SQL
        executions carry the description ``<tag>:<query>``."""
        from apache_flink_pratices_spark import registry
        from apache_flink_pratices_spark.sinks.partitioned import write_partitioned

        specs = registry.all_specs()
        sc = ctx.spark.sparkContext
        walls = {}
        for q in self.queries:
            sc.setJobDescription(f"{tag}:{q}")
            start = time.perf_counter()
            with ctx.tracer.span("operators:build", query=q):
                df = specs[q].fn(ctx.spark, sf_dir)
            with ctx.tracer.span("sinks:write_partitioned", query=q):
                write_partitioned(df, os.path.join(out, q), partition_cols=())
            walls[q] = time.perf_counter() - start
        sc.setJobDescription(None)
        return walls

    def first_unit(self, ctx) -> None:
        # a full-size landing: a smaller one leaves the first timed pass
        # about a third slower
        self._land(ctx, self.warm_dir, os.path.join(ctx.work, "land_first"), "first")

    def run_pass(self, ctx, i: int) -> Pass:
        out = os.path.join(ctx.work, f"land_{i}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        walls = self._land(ctx, self.sf_dir, out, f"pass{i}")
        wall = sum(walls.values())
        with ctx.tracer.span("bench:check"):
            ok = [self.check(ctx, q, os.path.join(out, q)) for q in self.queries]
        batch_ms = [s * 1000 for s in walls.values()]
        return Pass(self.events, wall, batch_ms, ok, t0, t0 + wall, per_query_s=walls)

    def check(self, ctx, query: str, landed: str) -> bool:
        from apache_flink_pratices_spark import registry

        if self.expected is None:
            specs = registry.all_specs()
            self.expected = {}
            for q in self.queries:
                cols, rows = checks.oracle_rows(self.sf_dir, specs[q].oracle)
                self.expected[q] = checks.normalize(rows, cols)
        df = ctx.spark.read.parquet(landed)
        got = checks.normalize([tuple(r) for r in df.collect()], df.columns)
        return ctx.tamper(got) == self.expected[query]

    def end_to_end(self, passes: list[Pass]) -> dict[str, float]:
        # throughput from the median whole pass; latency from the slowest
        # landing of each pass (today the orderbook round trip). The median
        # single landing is not used: it is one of the three small queries,
        # whose fixed per-query driver cost drifted 30% between runs here.
        return {
            "events_per_s": self.events / statistics.median(p.wall_s for p in passes),
            "batch_ms_p50": statistics.median(max(p.batch_ms) for p in passes),
        }

    def layers(self, ctx, passes: list[Pass], status) -> dict:
        # the timed passes' jobs and SQL executions, told apart by the
        # description each landing sets
        def query_of(item: dict) -> str | None:
            tag, _, q = item.get("description", "").partition(":")
            return q if tag.startswith("pass") and q in self.queries else None

        def jobs_of(*qs: str) -> dict:
            return status.jobs(lambda j: query_of(j) in qs)

        n = len(passes)
        win = jobs_of(*self.queries)
        out = job_metrics(win, "operators", sum(p.wall_s for p in passes))
        by_query: dict[str, list[dict]] = {q: [] for q in self.queries}
        for ex in status.sql():
            if query_of(ex):
                by_query[query_of(ex)].append(ex)
        for q in self.queries:
            out[f"operators.wall_s.{q}"] = statistics.median(p.per_query_s[q] for p in passes)
            out[f"operators.jobs.{q}"] = sum(1 for j in win["jobs"] if query_of(j) == q) / n
        out["_sql_top"] = {q: sql_top_operators([max(exs, key=lambda e: e["id"])]) for q, exs in by_query.items()}
        out["market_pipeline.rows_kept"] = ctx.spark.read.parquet(
            os.path.join(ctx.work, f"land_{n - 1}", "p_market_pipeline")
        ).count()
        codec = ("proto_roundtrip_trades", "proto_roundtrip_orderbook")
        out["serialization.codec_ms"] = sql_node_ms([ex for q in codec for ex in by_query[q]], "MapInPandas", "time to run Python workers") / n
        out["serialization.python_ms"] = job_metrics(jobs_of(*codec), "codec", 0)["codec.exec.python_ms"] / n
        executions = [ex for exs in by_query.values() for ex in exs]
        insert = "Execute InsertIntoHadoopFsRelationCommand"
        out["sinks.write_ms"] = sql_node_ms(executions, insert) / n
        out["sinks.bytes_written"] = sql_metric_total(executions, insert, "written output") / n
        out["sinks.files_written"] = sql_metric_total(executions, insert, "number of written files") / n
        writes = [s for s in ctx.tracer.spans if s["name"] == "sinks:write_partitioned"]
        trace_jobs(ctx.tracer, win, lambda js: covering(writes, js))
        return out


WORKLOADS = {w.name: w for w in (FraudStream, MarketIngest)}
