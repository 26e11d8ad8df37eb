"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fraud_stream --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. ``--seconds`` sizes the timed part: the
number of timed micro-batches or landed passes is fixed from it, so a slow
pass cannot shorten its own run. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the spans, per-layer self
times and the SQL operator profile are written to
``perfbench/out/trace-<workload>-<seed>.json``.

The program runs as a ``local[nproc]`` session built by its own
``session.get_spark``: no state width, shuffle width, memory or state-store
setting is overridden. Scratch files stay under ``perfbench/work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
DEADLINE_S = 170  # a run must end within 180 s


def _environment(work: str) -> None:
    """The tier-1 environment, with every scratch path inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def box_context() -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024**2, 1),
        "loadavg": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


class Ctx:
    """What a workload needs: the session, the seed, scratch space, the
    tracer and the output-corruption hook used by the smoke tests."""

    def __init__(self, seed: int, work: str, tracer, corrupt: bool) -> None:
        import checks

        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self._contexts = []  # keeps every SparkContext alive, so no id() is reused
        self.tamper = checks.corrupt if corrupt else (lambda v: v)

    def start_session(self, master: str | None = None) -> None:
        from apache_flink_pratices_spark.deploy import ensure_shipped
        from apache_flink_pratices_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master)
        self.spark.sparkContext.setLogLevel("ERROR")
        ensure_shipped(self.spark)
        self._contexts.append(self.spark.sparkContext)


def stop_processes(ctx: Ctx | None) -> None:
    """Stop the session and the JVM, then every process left under us."""
    if ctx is not None and ctx.spark is not None:
        from pyspark import SparkContext

        ctx.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    _kill_descendants()


def _kill_descendants() -> None:
    from layers import descendants

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:  # reap our direct children; others belong to their parents
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _watchdog() -> None:
    time.sleep(DEADLINE_S)
    print(f"perfbench: run exceeded {DEADLINE_S} s, stopping", file=sys.stderr)
    _kill_descendants()
    os._exit(3)


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ``beyond``
    samples above it; (0, max) when there are too few samples."""
    n = len(samples)
    if n <= beyond:
        return 0.0, max(samples)
    rank = n - beyond  # samples at or below the reported value
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def run(args, units: dict[str, str], per_layer: list[str]) -> dict:
    import workloads
    from layers import SparkStatus, Tracer, memory_mb

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    ctx = Ctx(args.seed, work, tracer, args.corrupt_output)
    wl = workloads.WORKLOADS[args.workload]()
    context = box_context()
    print(json.dumps({"context": context}), flush=True)
    try:
        with tracer.span(f"run:{args.workload}", seed=args.seed):
            # set-up, timed once: the JVM launch with the program's
            # settings, the package shipped to the workers, the inputs, and
            # the first, cold unit of work (Python workers, JIT, state store)
            start = time.perf_counter()
            with tracer.span("session:get_spark"):
                ctx.start_session()
            session_s = time.perf_counter() - start
            with tracer.span("bench:inputs"):
                wl.prepare(ctx, os.path.join(work, "inputs"), args.seconds)
            first = time.perf_counter()
            with tracer.span("bench:first_unit"):
                wl.first_unit(ctx)
            first_s = time.perf_counter() - first
            setup_s = time.perf_counter() - start

            # timed passes, as many as fill about --seconds on this kind of
            # box (a fixed count, so a slow pass cannot shorten its own run);
            # the untimed output checks do not count
            passes = []
            for i in range(wl.passes(args.seconds)):
                with tracer.span("bench:pass", index=i):
                    passes.append(wl.run_pass(ctx, i))
            measured_s = sum(p.wall_s for p in passes)
            mem_mb = memory_mb(ctx.spark)

            layer = {}
            if args.trace:
                layer = wl.layers(ctx, passes, SparkStatus(ctx.spark))
                layer["session.start_s"] = session_s
                layer["session.warmup_s"] = first_s
    finally:
        stop_processes(ctx)

    ok = [o for p in passes for o in p.ok]
    batch_ms = [b for p in passes for b in p.batch_ms]
    e2e = {"setup_s": setup_s, **wl.end_to_end(passes), "mem_mb": mem_mb}
    pct, tail = tail_percentile(batch_ms)
    detail = {
        "passes": len(passes),
        "measured_s": measured_s,
        "batch_ms": batch_ms,
        "batch_ms_tail": {"percentile": pct, "value": tail},
        "session_start_s": session_s,
        "first_unit_s": first_s,
    }
    print(json.dumps({"detail": detail}), flush=True)
    if args.trace:
        metrics = {k: layer.get(k, 0.0) for k in per_layer}
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "context": context,
                    "workload": args.workload,
                    "seed": args.seed,
                    "traced_end_to_end": e2e,
                    "detail": detail,
                    "self_time_s": tracer.self_times(),
                    "sql_top_operators": layer.get("_sql_top", {}),
                    "layers": metrics,
                    "spans": tracer.spans,
                },
                f,
                indent=1,
            )
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": all(ok),
        "attempted": len(ok),
        "failed": sum(1 for o in ok if not o),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-output", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "apache_flink_pratices_spark", "__init__.py")):
        print("perfbench: the program (apache_flink_pratices_spark/) is not in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    threading.Thread(target=_watchdog, daemon=True).start()
    result = run(args, units, [m["name"] for m in spec["per_layer"]])
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
