"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload anonymise_release --seed 1 --seconds 10 --trace 0

Run from the repository root. The run pins its environment (cores, driver
heap, Spark scratch dirs, HMAC key) before the program starts Spark,
derives its inputs from ``--seed`` under ``.bench_work/``, sets up
``SETUP_REPS`` times (session start + input derivation + preparation; the
median is ``setup_s``; a traced run, which does not report it, sets up
once), then runs operations back to back for ``--seconds`` seconds (at
least one), checking every output. There is no warm-up operation: like a
CLI invocation, which starts a fresh JVM each time, the first operation
pays JIT compilation, code generation and Python worker start, and
``op_s`` includes them.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the
operations of the window and reports the per-layer metrics (spans around
the program's public entry points, engine counters per span, the
uncovered share and the tracing overhead). The last stdout line is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``. A failed check or operation makes
``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402
from perfbench.workloads.base import metric  # noqa: E402

SETUP_REPS = 3
#: a traced run starts no probe that might not end this many seconds into
#: the run, so that the run ends within the 180 s it may take
TRACE_DEADLINE_S = 150


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "python": sys.version.split()[0]}


def host_speed_s() -> float:
    """Median time of a fixed single-threaded Python loop: how fast this
    host runs right now, to tell host drift apart from a program change."""
    def once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    return stats.median(once() for _ in range(5))


def pin_env(work: Path, facts: dict) -> dict:
    """Environment the program reads at session start; returned for the report."""
    heap_mb = max(1024, min(2048, facts["mem_total_mb"] // 4))
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(facts["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(local),
        "ANONYMISER_HMAC_KEY": "perfbench-fixed-hmac-key",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher's too, keeps its scratch here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    time.tzset()
    return env


def session_conf(tmp: Path, heap: str) -> dict:
    return {
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    }


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Loop:
    """Closed loop with one client: the next operation starts only when
    the previous one (and its output check) has finished."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []
        self.errors: list[str] = []

    def one(self, i: int) -> dict | None:
        self.attempted += 1
        try:
            rec = self.w.op(i)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
            return None
        errs = rec.pop("errors", [])
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            print(f"check failed on op {i}: {errs}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def final_check(self) -> None:
        self.attempted += 1
        errs = self.w.final_check()
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            print(f"final check failed: {errs}", file=sys.stderr)

    def run_for(self, seconds: float) -> list[dict]:
        """Records of the operations run until ``seconds`` have passed (at
        least one operation)."""
        recs: list[dict] = []
        i = 0
        t0 = time.perf_counter()
        while i == 0 or time.perf_counter() - t0 < seconds:
            rec = self.one(i)
            i += 1
            if rec is not None:
                recs.append(rec)
        return recs


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    facts = host_facts()
    facts["calib_s"] = host_speed_s()
    run_dir = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    env = pin_env(run_dir, facts)

    # the program under test; a checkout without it fails here, before
    # anything is measured or printed
    import pyspark

    from database_anonymiser_spark.session import get_spark

    facts["pyspark"] = pyspark.__version__
    w = WORKLOADS[args.workload](seed=args.seed, nproc=facts["nproc"])
    conf = session_conf(Path(env["TMPDIR"]), env["SPARK_GRAFT_DRIVER_MEM"])
    spark = None
    try:
        setup_samples = []
        reps = 1 if args.trace else SETUP_REPS
        for r in range(reps):
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            w.setup(spark, run_dir / f"setup{r}")
            setup_samples.append(time.perf_counter() - t0)
            w.setup_checks()
            if r < reps - 1:
                w.teardown()
                spark.stop()
        facts["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        loop = Loop(w)
        if not args.trace:
            recs = loop.run_for(args.seconds)
            detail = w.summary(recs) if recs else {}
            if recs:
                detail["op_s"] = metric(stats.median(r["op_s"] for r in recs), "s", len(recs))
        else:
            from perfbench.trace import SparkCounters, Tracer

            tracer = Tracer()
            w.install_trace(tracer)
            traced = loop.run_for(args.seconds)
            tracer.cycle = None
            extra = w.trace_extras(tracer, traced, t_start + TRACE_DEADLINE_S) if traced else {}
            tracer.unwrap_all()
            counters = SparkCounters(spark)
            counters.refresh()
            detail = w.layer_metrics(tracer, counters, traced, extra) if traced else {}
            detail.update(trace_summary(tracer, counters, traced))
            trace_dir = ROOT / ".bench_work" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(trace_dir / f"{args.workload}-seed{args.seed}-spans.json")

        loop.final_check()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        w.teardown()
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    ok = loop.failed == 0 and bool(loop.records)
    if not args.trace and loop.records:
        detail.update({
            "setup_s": metric(stats.median(setup_samples), "s", SETUP_REPS),
            "peak_rss_mb": metric(peak_rss, "MB", 1),
            "op_error_ratio": metric(loop.failed / loop.attempted, "ratio", loop.attempted),
        })
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    report(args, facts, env, detail, loop, setup_samples)
    metrics = {}
    for m in wanted:
        if m["name"] in detail:
            metrics[m["name"]] = {"value": detail[m["name"]]["value"], "unit": m["unit"]}
        else:
            ok = False
            print(f"metric {m['name']} missing", file=sys.stderr)
    print(json.dumps({"correct": ok, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if ok else 1


def trace_summary(tracer, counters, traced: list[dict]) -> dict:
    """Workload-independent per-layer metrics of the traced operations
    (``*_per_op``: per operation record, whatever its root spans are; a DML
    statement is a root span of its own). The tracing overhead is the spans
    recorded times the measured cost of one traced call, over the time of
    the traced operation records."""
    from perfbench.trace import ENGINE_COUNTERS, span_cost_s, uncovered_share

    in_ops = [s for s in tracer.spans if s.cycle is not None]
    ops = [s for s in in_ops if s.parent is None]
    n = len(traced)
    out: dict = {}
    if not ops or not n:
        return out
    out["trace.uncovered_share"] = metric(uncovered_share(in_ops), "ratio", len(ops))
    overhead_s = len(in_ops) * span_cost_s()
    out["trace.op_s"] = metric(stats.median(r["op_s"] for r in traced), "s", n)
    out["trace.spans_per_op"] = metric(len(in_ops) / n, "count", n)
    out["trace.overhead_s"] = metric(overhead_s / n, "s", n)
    out["trace.overhead_share"] = metric(overhead_s / sum(r["op_s"] for r in traced), "ratio", n)
    tot = {k: 0.0 for k in ENGINE_COUNTERS}
    for s in ops:
        for k, v in counters.for_span(s).items():
            tot[k] += v
    tot["scan_bytes"] = sum(counters.scan_bytes(s) for s in ops)
    units = {"jobs": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "input_bytes": "bytes",
             "scan_bytes": "bytes"}
    for k, v in tot.items():
        out[f"spark.{k}_per_op"] = metric(v / n, units[k], n)
    return out


def report(args, facts, env, detail, loop, setup_samples) -> None:
    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} shape=closed-loop clients=1")
    print("# host " + json.dumps(facts, sort_keys=True))
    print("# env " + json.dumps({k: v for k, v in env.items() if k != "ANONYMISER_HMAC_KEY"},
                                sort_keys=True))
    print(f"# setup samples {[round(x, 3) for x in setup_samples]} s")
    print(f"# attempted={loop.attempted} failed={loop.failed} "
          f"op_error_ratio={loop.failed / max(1, loop.attempted):.4f}")
    for name in sorted(detail):
        m = detail[name]
        stats.check_name(name)
        n = m.get("n")
        v = m["value"]
        shown = "refused" if v is None else f"{v:.6g}"
        why = f" ({m['why']})" if m.get("why") else ""
        print(f"{name:44s} {shown:>14s} {m['unit']:<8s} n={n}{why}")


if __name__ == "__main__":
    sys.exit(main())
