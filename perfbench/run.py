"""Feature-store benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pit_training --seed 1 --seconds 18 --trace 0

Run from the repository root.  Generates seeded parquet sources,
drives the public ``feast_spark.FeatureStore`` API on a parquet-backed
store (default ``RepoConfig``, Spark ``local[<nproc>]``) in a closed
loop for ``--seconds`` seconds of timed operations, checks every
operation against a pandas oracle, and prints a readable report
followed by the result as the last line of standard output.

``--trace 1`` reports per-layer numbers instead: the first half of the
measured time runs untraced, the second half with spans around each
layer's entry points; the difference of the two halves' median
operation time is reported as the tracing overhead.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
HEAP = "1g"
PRIMARY = {  # the operation each workload's latency metrics describe
    "pit_training": "call",
    "materialize_backfill": "commit",
    "online_serving": "request",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _session(tmp: str, nproc: int, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a fixed-size heap: the JVM's resident size then depends on the
        # work, not on when the collector decided to grow the heap
        .config("spark.driver.memory", HEAP)
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
    )
    if trace:  # keep every job of the run for the StatusTracker counts
        b = b.config("spark.ui.retainedJobs", "100000").config(
            "spark.ui.retainedStages", "100000"
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pct(xs, q):
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _measure(wl, seconds: float, ops: list) -> None:
    """Drive ``wl`` until ``seconds`` of timed operations have run; an
    operation that raises is recorded as failed."""
    from workloads import Op

    measured = 0.0
    while measured < seconds:
        t0 = time.perf_counter()
        try:
            op = wl.step()
        except Exception:
            traceback.print_exc()
            op = Op("error", time.perf_counter() - t0, 0, False)
        ops.append(op)
        measured += op.seconds


def _report(workload: str, ops: list, setup_s: float, rss: float) -> dict:
    """The per-workload metric names and values of the readable report."""
    prim = [o.seconds for o in ops if o.kind == PRIMARY[workload]]
    commits = [o.seconds for o in ops if o.kind == "commit"]
    busy = sum(o.seconds for o in ops)
    items = sum(o.items for o in ops)
    failed = sum(not o.ok for o in ops)
    src = sum(o.source_bytes for o in ops)
    out = {
        "setup_s": (setup_s, "s"),
        "failed_op_ratio": (failed / len(ops), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    if workload == "pit_training":
        out["pit_rows_per_s"] = (items / busy, "rows/s")
        out["pit_call_p50_s"] = (statistics.median(prim), "s")
    elif workload == "materialize_backfill":
        out["mat_rows_per_s"] = (items / busy, "rows/s")
        out["mat_commit_p50_s"] = (statistics.median(prim), "s")
        out["mat_write_amp"] = (sum(o.written_bytes for o in ops) / src, "B/B")
    else:
        out["online_p50_ms"] = (statistics.median(prim) * 1e3, "ms")
        out["online_p90_ms"] = (_pct(prim, 90) * 1e3, "ms")
        out["online_keys_per_s"] = (items / busy, "keys/s")
        if commits:
            out["online_commit_p50_s"] = (statistics.median(commits), "s")
            out["online_write_amp"] = (
                sum(o.written_bytes for o in ops) / max(1, src), "B/B")
    return out


def run(args, tmp: str) -> int:
    import datagen
    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    load_start = _loadavg()
    ticks_start = _cpu_ticks()
    # the sources are written while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        gen = pool.submit(datagen.generate, args.seed, os.path.join(tmp, "sources"))
        spark = _session(tmp, nproc, bool(args.trace))
    gateway = spark.sparkContext._gateway
    try:
        views = gen.result()
        wl = WORKLOADS[args.workload](spark, os.path.join(tmp, "work"), views, args.seed)
        setup_s = time.monotonic() - T_START
        ops: list = []
        tracer = None
        if not args.trace:
            _measure(wl, args.seconds, ops)
        else:
            from tracing import Tracer

            _measure(wl, args.seconds / 2, ops)
            untraced = [o.seconds for o in ops if o.kind == PRIMARY[args.workload]]
            tracer = Tracer(spark)
            tracer.install()
            traced_from = len(ops)
            step = wl.step

            def traced_step():
                idx = tracer.begin_op(len(ops))
                try:
                    return step()
                finally:
                    tracer.end_op(idx)

            wl.step = traced_step
            try:
                _measure(wl, args.seconds / 2, ops)
            finally:
                tracer.uninstall()
                wl.step = step
        if hasattr(wl, "finish"):
            wl.finish()
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(gateway.proc.pid)
        if tracer is not None:
            traced_ops = ops[traced_from:]
            traced = [o.seconds for o in traced_ops if o.kind == PRIMARY[args.workload]]
            looked = sum(o.looked_up for o in traced_ops)
            metrics = tracer.layer_metrics(
                sum(o.found for o in traced_ops) / looked if looked else 0.0
            )
            overhead = (
                statistics.median(traced) - statistics.median(untraced)
                if traced and untraced else 0.0
            )
            metrics["trace.op_p50_overhead_s"] = (overhead, "s")
            out_dir = os.path.join(REPO, ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"
            )
            tracer.dump(span_file)
            print(f"spans: {span_file} ({len(tracer.spans)} spans)")
    finally:
        spark.stop()
        # close the Python side of the gateway first, so objects freed
        # later do not call into a JVM that is gone; the JVM exits when
        # its stdin closes, and with it the Python workers it started
        gateway.shutdown()
        jvm = gateway.proc
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    load_end = _loadavg()
    ticks_end = _cpu_ticks()
    steal = (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1])

    prim = [o.seconds for o in ops if o.kind == PRIMARY[args.workload]]
    failed = sum(not o.ok for o in ops)
    if not prim:
        print(f"perfbench: all {len(ops)} operations raised", file=sys.stderr)
        return 1
    report = _report(args.workload, ops, setup_s, rss)
    print(
        f"workload={args.workload} seed={args.seed} nproc={nproc} "
        f"loadavg_start={load_start} loadavg_end={load_end} "
        f"cpu_steal={steal:.1%} ops={len(ops)} "
        f"{PRIMARY[args.workload]}s={len(prim)} failed={failed}"
    )
    for name, (value, unit) in report.items():
        print(f"  {name} = {value:.6g} {unit}")
    print("  op seconds: " + " ".join(f"{o.kind[0]}{o.seconds:.3f}" for o in ops))
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(prim) * 1e3, "ms"),
            "ops_per_s": (len(ops) / sum(o.seconds for o in ops), "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(REPO, "feast_spark", "feature_store.py")):
        print(
            f"perfbench: no feast_spark package under {REPO}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, REPO)
    tmp = os.path.join(REPO, ".perfbench-tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    # every scratch file of Spark and Python lands under the temp root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
