"""Benchmark command for the engine's three kinds of work.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 10 --trace 0

Workloads: `etl_jobs`, `adhoc_queries`, `cdc_stream` (see workloads.py),
or `all` to run the three in one process. One client, one Spark session
at a time on local[nproc], closed loop: each pass starts when the last
one ends, until `--seconds` have been measured.

A run is: set-up (start the Spark session, restart it three times,
generate the seeded inputs five times), timed passes from the fresh
driver, then the correctness gates. The last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`; with
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (from a traced pass that follows an untraced one, so the
tracing overhead can be reported). The line before it names the
workload's own end-to-end figures and the host.

Exit status: 0 when every gate passed, 1 when a gate failed, 2 when the
engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RESTARTS = 3
GENERATIONS = 5
MAX_FAILED_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "driver_live_heap_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.persisted_blocks": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_rows": "count",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.other_jobs": "count",
    "io.write_s": "s",
    "io.write_jobs": "count",
    "quality.check_s": "s",
    "operators.plan_s": "s",
    "io.publish_s": "s",
    "curation.jobs": "count",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.bytes_per_input_byte": "ratio",
    "stream.triggers": "count",
    "stream.input_rows": "count",
    "stream.add_batch_ms": "ms",
    "stream.overhead_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "sinks.drain_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def host_fit() -> dict:
    """local[N] from the usable cores and a driver heap from MemTotal
    (a fifth of it, 1-6 GiB), exported through the engine's own knobs."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = max(1, min(6, mem_kb // 5 // 2**20))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    return {"cores": cores, "heap_gb": heap_gb, "mem_total_gb": round(mem_kb / 2**20, 1)}


def confine_to(work: str) -> None:
    """Point every scratch location of this process, the JVMs it launches
    (including spark-submit's launcher) and Spark's workers into `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class Bench:
    """One client process: the session, the probes and the tracer."""

    def __init__(self, work: str, trace: bool):
        import probes

        self.work = work
        self.tracer = probes.Tracer(run_id=uuid.uuid4().hex[:12], enabled=False)
        self.want_trace = trace
        self.spark = None
        self.progress = None
        self.get_spark_s: list[float] = []

    def start(self) -> None:
        import probes
        from nyc_taxi_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "checkpoints"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.get_spark_s.append(time.perf_counter() - t0)
        self.sc = self.spark.sparkContext
        self.jobs = probes.Jobs(self.sc)
        self.progress = None

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None  # noqa: SLF001
            SparkContext._jvm = None  # noqa: SLF001


def nearest_rank(values: list[float], p: float) -> float:
    v = sorted(values)
    return v[max(0, math.ceil(p * len(v)) - 1)]


def run_workload(bench: Bench, name: str, seed: int, seconds: float) -> dict:
    import probes
    from workloads import WORKLOADS

    # set-up is one session restart plus one input generation, each timed
    # on its own, and set-up is the sum of their medians. Restarts run back
    # to back: with a generation between them, the time to stop a session
    # varies several-fold.
    bench.start()
    restart, generate = [], []
    for _ in range(RESTARTS):
        t0 = time.perf_counter()
        bench.start()
        restart.append(time.perf_counter() - t0)
    wl = WORKLOADS[name](bench)
    for _ in range(GENERATIONS):
        t0 = time.perf_counter()
        wl.generate(seed)
        generate.append(time.perf_counter() - t0)
    print(f"perfbench: restart {[round(s, 3) for s in restart]} "
          f"generate {[round(s, 3) for s in generate]}", file=sys.stderr)
    if bench.want_trace:
        # the traced pass is compared with an untraced one, so neither may
        # be the driver's first (cold) pass
        wl.run_pass()

    passes: list[dict] = []
    t_start = time.perf_counter()
    failed_ops = 0
    while failed_ops <= MAX_FAILED_PASSES:
        elapsed = time.perf_counter() - t_start
        if bench.want_trace:
            # an untraced pass, then a traced one: the overhead is their
            # difference
            if len(passes) == 2:
                break
            bench.tracer.enabled = len(passes) == 1
        elif passes and elapsed + statistics.median(p["pass_s"] for p in passes) > seconds:
            # closed loop: start another pass only if it is expected to end
            # inside the window; the first pass always runs
            break
        mark = len(bench.tracer.spans)
        try:
            p = wl.run_pass()
        except Exception as e:  # noqa: BLE001 — an op that raises is a failed op
            print(f"perfbench: pass {len(passes)} raised {type(e).__name__}: {e}", file=sys.stderr)
            failed_ops += 1
            continue
        p["traced"] = bench.tracer.enabled
        p["spans"] = len(bench.tracer.spans) - mark
        p["live_heap_mb"] = probes.jvm_live_heap_mb(bench.sc)
        print(f"perfbench: pass {len(passes)} {p['pass_s']:.3f}s "
              + " ".join(f"{op['kind']}={op['s']:.3f}" for op in p["ops"]), file=sys.stderr)
        passes.append(p)
    bench.tracer.enabled = False
    peak_rss = probes.peak_rss_mb(probes.jvm_pid(bench.sc))
    heap_peak = probes.jvm_heap_peak_mb(bench.sc)
    if not passes:
        return {"correct": False, "attempted": failed_ops, "failed": failed_ops,
                "metrics": {}, "named": {}, "passes": 0}

    errors = wl.check(passes) if passes else ["no pass completed"]
    for e in errors:
        print(f"perfbench: gate failed: {e}"[:2000], file=sys.stderr)
    ops = [op for p in passes for op in p["ops"]]
    attempted = len(ops) + failed_ops
    failed = failed_ops + sum(not op.get("ok", False) for op in ops)

    units = [u for p in passes for u in p.get("unit_s", [])] or [op["s"] for op in ops]
    entry_s = [op["s"] for op in ops]
    e2e = {
        "setup_s": statistics.median(restart) + statistics.median(generate),
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        # the ordinary median (the mean of the two middle ops when their
        # number is even): with six entries, a nearest-rank p50 flipped
        # between the third and fourth and spread wider across seeds
        "op_p50_s": statistics.median(units),
        "op_p90_s": nearest_rank(units, 0.9),
        "driver_live_heap_mb": max(p["live_heap_mb"] for p in passes),
    }
    named = {k: statistics.median(p["named"][k] for p in passes) for k in passes[0]["named"]}
    if name == "adhoc_queries":
        named |= {"query_p50_s": statistics.median(entry_s), "query_p90_s": nearest_rank(entry_s, 0.9)}
    if name == "cdc_stream":
        named |= {"trigger_p50_ms": 1000 * e2e["op_p50_s"], "trigger_p90_ms": 1000 * e2e["op_p90_s"]}
    named |= {"setup_s": e2e["setup_s"], "driver_peak_rss_mb": peak_rss,
              "error_rate": failed / attempted}

    layers = dict.fromkeys(PER_LAYER, 0.0)
    traced = [p for p in passes if p["traced"]]
    if traced:
        for key in traced[0]["layers"]:
            layers[key] = statistics.median(p["layers"][key] for p in traced)
        untraced = [p["pass_s"] for p in passes if not p["traced"]]
        if untraced:
            layers["trace.overhead_s"] = traced[0]["pass_s"] - untraced[0]
        layers["trace.spans"] = statistics.median(p["spans"] for p in traced)
    layers["session.get_spark_s"] = statistics.median(bench.get_spark_s[-RESTARTS:])
    layers["jvm.heap_peak_mb"] = heap_peak
    chosen = (layers, PER_LAYER) if bench.want_trace else (e2e, END_TO_END)
    return {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(chosen[0][k]), "unit": u} for k, u in chosen[1].items()},
        "named": named,
        "passes": len(passes),
    }


def _named_line(name: str, res: dict, host: dict) -> str:
    parts = [f"{k}={v:.6g}" for k, v in res["named"].items()]
    return f"perfbench {name}: " + " ".join(parts) + f" passes={res['passes']} host={json.dumps(host)}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_jobs", "adhoc_queries", "cdc_stream", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nyc_taxi_data_pipeline_spark", "session.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    shutil.rmtree(WORK, ignore_errors=True)
    confine_to(WORK)
    host = host_fit()

    # everything the JVM or a library prints goes to stderr; stdout carries
    # only the named-metric line(s) and the final JSON line
    saved_stdout = os.dup(1)
    os.dup2(2, 1)
    bench = Bench(WORK, trace=bool(args.trace))
    names = ["etl_jobs", "adhoc_queries", "cdc_stream"] if args.workload == "all" else [args.workload]
    results = {}
    try:
        for name in names:
            results[name] = run_workload(bench, name, args.seed, args.seconds)
        import pyspark

        host |= {
            "pyspark": pyspark.__version__,
            "java": bench.sc._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        }
        if bench.want_trace:
            bench.tracer.dump(os.path.join(WORK, f"spans-{bench.tracer.run_id}.jsonl"))
    finally:
        bench.stop()
        sys.stdout.flush()
        os.dup2(saved_stdout, 1)
        os.close(saved_stdout)

    out = sys.stdout
    for name, res in results.items():
        out.write(_named_line(name, res, host) + "\n")
    if len(results) == 1:
        res = next(iter(results.values()))
        final = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }
    out.write(json.dumps(final) + "\n")
    out.flush()
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
