"""Benchmark runner.

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, starts one Spark session on ``local[nproc]``, sets up, then
repeats the workload's operation for ``--seconds`` (whole operations:
the first always runs, the last may end past the deadline), checking
every result outside its timed region. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it reports the same run under the workload's own metric names.

Everything the run writes goes under ``.perfbench_tmp/`` in the
checkout and is removed at the end; a traced run also leaves its
spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Fixed JVM heap (initial = maximum), so the JVM never resizes it on
#: a timing heuristic and peak RSS repeats from run to run.
HEAP = "2g"
#: JVM threads beside Spark's task threads: one GC thread and the
#: fewest JIT compiler threads tiered compilation allows, so that on a
#: host with a few cores the collector and the compiler do not compete
#: with local[nproc] for them. On a 4-core host this cut the ten-run
#: spread of the ingest cycle from 0.17 to 0.07 of its median.
JVM_THREADS = "-XX:+UseSerialGC -XX:CICompilerCount=2"


def process_age_s() -> float:
    """Seconds since this process started (``/proc``, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class _Mismatch:
    """Stands in for an expected value in the self-test of the gates:
    equal to nothing."""

    def __eq__(self, other):
        return False

    def __repr__(self):
        return "<deliberately wrong expected value>"


class Context:
    def __init__(self, args, sizes, run_dir: str):
        self.seed = args.seed
        self.sizes = sizes
        self.run_dir = run_dir
        self.wrong_expected = args.wrong_expected
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self._op_failed = False

    def path(self, name: str) -> str:
        p = os.path.join(self.run_dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def expect(self, what: str, got, want) -> None:
        if self.wrong_expected:
            want = _Mismatch()
        if got != want:
            print(f"perfbench: gate failed: {what}", file=sys.stderr)
            self._op_failed = True

    def attempt(self, fn, *a):
        """Run one operation with its gates; an exception or a failed
        gate counts it as failed and the run goes on."""
        self.attempted += 1
        self._op_failed = False
        try:
            return fn(*a)
        except Exception:
            traceback.print_exc()
            self._op_failed = True
        finally:
            self.failed += self._op_failed


def tail(xs: list[float]):
    """(percentile, value) of the highest whole percentile that has
    at least ten samples above it, or None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def start_spark(run_dir: str):
    from mergers_acquisitions_predictions_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} {JVM_THREADS}",
        },
    )


def run(args, benchmark: dict) -> dict:
    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    # Isolation: the engine's index scratch, Spark's block dirs and
    # every temp file of this run live in its own directory.
    os.environ.update(
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # the short-lived JVM spark-submit runs to build its command line
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None
    ctx = Context(args, gen.PRESETS[args.size], run_dir)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    try:
        # timed directly: the tracer needs the session it traces
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer = tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        wl.setup(ctx)

        def one_op() -> float:
            with tracer.span("harness.op"):
                t = time.perf_counter()
                r = wl.op(ctx)
                dt = time.perf_counter() - t
            wl.check(ctx, r)
            return dt

        tracer.phase = "op"
        setup_s = process_age_s()
        ops: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while True:
            dt = ctx.attempt(one_op)
            if dt is not None:
                ops.append(dt)
            if time.perf_counter() >= deadline:
                break
        ctx.attempt(wl.finish, ctx)
        if not ops:
            raise RuntimeError("no operation completed")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

        n = len(ops)
        report = {
            "workload": args.workload, "seed": args.seed, "op_s": ops,
            "setup_s": (setup_s, "s"), "peak_rss_mb": (peak_rss_mb, "MB"),
            "failed_frac": (ctx.failed / ctx.attempted, "ratio"),
        }
        report.update(wl.report(ctx, ops))
        tl = tail(ops)
        report["op_tail"] = (
            {"percentile": tl[0], "value_s": tl[1]} if tl
            else f"needs 11 ops, have {n}"
        )
        if args.trace:
            layer = {"session.get_spark.s": session_s}
            setup_totals = tracer.totals("setup")
            for name in ("ann_index.build", "bm25.build"):
                s, j = setup_totals.get(name, (0.0, 0))
                layer[f"{name}.s"], layer[f"{name}.jobs"] = s, j
            op_totals = tracer.totals("op")
            layer["harness.op.s"] = op_totals.get("harness.op", (0.0, 0))[0] / n
            layer["trace.overhead_s"] = tracer.overhead["op"] / n
            layer.update(wl.layer_metrics(ctx, op_totals, n))
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
            wanted, values = benchmark["per_layer"], layer
        else:
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb,
                "op_p50_s": statistics.median(ops),
                "items_per_s": wl.items_per_op * n / sum(ops),
            }
            wanted = benchmark["end_to_end"]
        unknown = set(values) - {m["name"] for m in wanted}
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {}
        for m in wanted:
            # a layer this workload never calls did no work in it
            metrics[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
        print(json.dumps(report, default=str))
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_tmp"))
        except OSError:
            pass  # another run's directory is still there


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for
    it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input preset; tiny is for the benchmark's self-tests")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="self-test: replace every expected value by a wrong one")
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    package = os.path.join(ROOT, "mergers_acquisitions_predictions_spark", "__init__.py")
    if not os.path.isfile(package):
        print(f"perfbench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    with open(bench_json) as f:
        benchmark = json.load(f)
    if args.workload not in {w["name"] for w in benchmark["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    result = run(args, benchmark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
