"""sparkval benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload engine_validate --seed 1 \\
        --seconds 20 --trace 0

Run from anywhere; the repository root is found from this file. Spark
runs as ``local[nproc]``. Inputs are generated from ``--seed`` into a
per-run directory under ``.perfbench_run/`` at the repository root,
which is removed at exit, as are Spark's local, temp and warehouse
files.

A run: generate inputs (logged, not part of any metric); set the
Spark session up three times (start plus warmup) and report the
median as ``setup_s``; then run whole passes over the workload's
operations, back to back, until ``--seconds`` have passed (at least
one pass), each operation timed from the library call through the
action that forces its result, with cached tables dropped between
operations; check every output against what the generator planted.
``pass_s`` is the sum of the first pass's latencies. With ``--trace 1``
an untraced pass, a traced pass whose spans attribute Spark's task and
SQL metrics to sparkval's layers (see spans.py) and a second untraced
pass, the reference for coverage and tracing overhead.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a human-readable report. See README.md for metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_tree(pid: int) -> list:
    """``pid`` and its descendants: the Spark driver JVM and the Python
    workers it forked."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pids: list) -> float:
    """Sum of the processes' peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            continue
    return total_kb / 1024


def cpu_s(pids: list) -> float:
    """CPU seconds the processes and their reaped children have used,
    plus this process's own."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def high_percentile(xs: list) -> tuple:
    """(p, value) for the highest of p99/p95/p90/p75/p50 with at least
    ten samples beyond it, or None when there are too few samples."""
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None


class Session:
    """Spark session lifecycle; every file Spark writes stays under
    ``work``."""

    def __init__(self, work: str, cpus: int):
        self.work, self.cpus = work, cpus
        self.spark = None

    def start(self):
        from sparkval.session import get_spark

        self.spark = get_spark(
            "perfbench",
            parallelism=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm(self) -> None:
        """Start every Python worker (pandas and Arrow loaded) and run
        one shuffle, so the first operation does not pay for them."""
        from pyspark.sql import functions as F

        def echo(batches):
            yield from batches

        n = self.cpus
        (self.spark.range(0, n * 1000, 1, n).mapInPandas(echo, "id long")
         .groupBy((F.col("id") % 7).alias("k")).count().collect())

    def clear(self) -> None:
        """Drop every cached table, and the Python references to the
        previous operation's plans."""
        self.spark.catalog.clearCache()
        gc.collect()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and end the JVM; wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_ops(wl, sess, ops, stats, tracer=None):
    """Run ``ops`` in order; record latency, plan time and outcome."""
    from workloads import Timer

    for op in ops:
        wl.before(op)
        sess.clear()
        stats["attempted"] += 1
        try:
            if tracer is None:
                pids = process_tree(sess.jvm_pid())
                c0 = cpu_s(pids)
                t = Timer()
                ok = wl.run(op, t)
                stats["cpu"].setdefault(op, []).append(cpu_s(process_tree(sess.jvm_pid())) - c0)
                stats["lat"].setdefault(op, []).append(t.latency_s)
                stats["plan"].setdefault(op, []).append(t.plan_s)
            else:
                with tracer.span(f"op.{op}", op):
                    ok = wl.trace(op, tracer)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"# op {op} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        finally:
            wl.after(op)
        if not ok:
            stats["failed"] += 1
            stats["failed_ops"].append(op)


def measure(wl, sess, seconds, stats) -> None:
    """Whole passes over the workload's operations until ``seconds``
    have passed (one pass here takes longer than the default)."""
    deadline = time.perf_counter() + seconds
    run_ops(wl, sess, wl.ops, stats)
    while time.perf_counter() < deadline:
        run_ops(wl, sess, wl.ops, stats)


def op_report(wl, stats) -> dict:
    """Per operation: its reported metric, with sample count,
    median and the highest percentile that has ten samples beyond it."""
    out = {}
    for op, (metric, unit) in wl.ops.items():
        lat = stats["lat"].get(op, [])
        if not lat:
            continue
        med = statistics.median(lat)
        value = wl.rows(op) / med if unit == "1/s" else med
        out[op] = {"metric": metric, "unit": unit, "value": value, "n": len(lat),
                   "median_s": med, "plan_median_s": statistics.median(stats["plan"][op]),
                   "tail": high_percentile(lat), "samples": lat, "cpu": stats["cpu"][op]}
    return out


def print_op_table(report, stats) -> None:
    print(f"# {'metric':<24} {'value':>12} {'unit':<5} {'n':>3} "
          f"{'median_s':>9} {'plan_s':>8}  tail")
    for op, r in report.items():
        tail = f"p{r['tail'][0]}={r['tail'][1]:.4f}s" if r["tail"] else "n<20: none"
        print(f"# {r['metric']:<24} {r['value']:>12.4f} {r['unit']:<5} {r['n']:>3} "
              f"{r['median_s']:>9.4f} {r['plan_median_s']:>8.4f}  {tail}  "
              f"samples_s={[round(x, 3) for x in r['samples']]} "
              f"cpu_s={[round(x, 2) for x in r['cpu']]}")
    ratio = stats["failed"] / max(stats["attempted"], 1)
    print(f"# {'failed_op_ratio':<24} {ratio:>12.4f} {'ratio':<5} {stats['attempted']:>3}"
          f"   failed ops: {stats['failed_ops'] or 'none'}")


def layer_table(spans) -> dict:
    """Per layer: calls and the mean of every field per call."""
    from spans import FIELDS

    rows: dict = {}
    for sp in spans:
        if sp.name.startswith("op."):
            continue
        r = rows.setdefault(sp.name, {"calls": 0, **{f: 0.0 for f in FIELDS}, "counts": {}})
        r["calls"] += 1
        for f in FIELDS:
            r[f] += sp.metrics[f]
        for k, v in sp.counts.items():
            r["counts"].setdefault(k, []).append(v)
    for r in rows.values():
        for f in FIELDS:
            r[f] /= r["calls"]
        r["counts"] = {k: statistics.mean(v) for k, v in r["counts"].items()}
    return rows


def print_layer_table(rows) -> None:
    from spans import FIELDS

    print("# layer table (mean per call; bytes in B, times in s)")
    print("# " + " ".join([f"{'layer':<44}", f"{'calls':>5}"] + [f"{f:>14}" for f in FIELDS]))
    for name, r in rows.items():
        cells = [f"{r[f]:>14.4f}" if isinstance(r[f], float) and r[f] < 1e6 else f"{r[f]:>14.0f}"
                 for f in FIELDS]
        print("# " + " ".join([f"{name:<44}", f"{r['calls']:>5}"] + cells))
        if r["counts"]:
            print("#   counts: " + ", ".join(f"{k}={v:.4f}" for k, v in r["counts"].items()))


#: span fields summed over the traced pass (each job counts once: it
#: belongs to exactly one span's group)
JOB_SUMS = ["python_run_s", "python_bytes_sent", "python_bytes_returned",
            "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "input_bytes", "jobs"]
#: per_layer metrics and their units, in BENCHMARK.json order
LAYER_METRICS = {
    **{k: "count" if k == "jobs" else "B" if "bytes" in k else "s" for k in JOB_SUMS},
    "plan_s": "s", "driver_gap_s": "s", "coverage": "ratio", "trace_overhead_s": "s",
    "peak_rss_mb": "MB",
}


def trace_metrics(spans, untraced: dict) -> tuple:
    """(per_layer JSON metrics, per-op coverage and overhead rows)."""
    layers = [s for s in spans if not s.name.startswith("op.")]
    ops = [s for s in spans if s.name.startswith("op.")]
    m = {k: sum(s.metrics[k] for s in spans) for k in JOB_SUMS}
    m["plan_s"] = sum(s.metrics["plan_s"] for s in layers)
    m["driver_gap_s"] = sum(s.metrics["driver_gap_s"] for s in ops)
    per_op = {}
    for s in ops:
        op = s.op
        self_s = sum(x.metrics["self_s"] for x in layers if x.op == op)
        per_op[op] = {"untraced_s": untraced[op], "traced_s": s.metrics["wall_s"],
                      "layer_self_s": self_s}
    base = sum(r["untraced_s"] for r in per_op.values())
    m["coverage"] = sum(r["layer_self_s"] for r in per_op.values()) / base
    m["trace_overhead_s"] = sum(r["traced_s"] for r in per_op.values()) - base
    return m, per_op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    args = ap.parse_args(argv)

    # the program under test is the checkout this file sits in; Python
    # workers import it too, so it goes on their PYTHONPATH as well
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import sparkval  # noqa: F401  (fails fast outside a checkout)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = nproc()
    # a SIGTERM (e.g. a timeout) still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    # keep every file Python, the JVMs (the launcher too) and Spark write
    # inside the run directory
    tempfile.tempdir = tmp
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sess = Session(work, cpus)
    steal0 = steal_ticks()
    try:
        wl = WORKLOADS[args.workload](f"{work}/inputs", args.seed, args.scale)
        t0 = time.perf_counter()
        info = wl.generate()
        gen_s = time.perf_counter() - t0

        setups = []
        for _ in range(SETUPS):
            sess.stop()
            t0 = time.perf_counter()
            sess.start()
            sess.warm()
            setups.append(time.perf_counter() - t0)
        spark = sess.spark
        wl.prepare(spark)

        stats = {"attempted": 0, "failed": 0, "failed_ops": [], "lat": {}, "plan": {},
                 "cpu": {}}
        tracer = None
        if args.trace:
            from spans import Tracer

            # untraced, traced, untraced: the reference for coverage and
            # overhead is the last untraced pass, as warm as the traced one
            run_ops(wl, sess, wl.ops, stats)
            tracer = Tracer(spark)
            run_ops(wl, sess, wl.ops, stats, tracer=tracer)
            run_ops(wl, sess, wl.ops, stats)
        else:
            measure(wl, sess, args.seconds, stats)
        peak_rss = peak_rss_mb(process_tree(sess.jvm_pid()))
        extra = wl.report()
        spans = tracer.finish() if tracer else None

        print(f"# perfbench workload={wl.name} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} scale={args.scale} nproc={cpus} master=local[{cpus}]")
        print(f"# inputs: {json.dumps(info)} gen_s={gen_s:.4f} (not in any metric)")
        print(f"# setup_s per start: {', '.join(f'{s:.4f}' for s in setups)} "
              f"(first includes JVM launch)")
        report = op_report(wl, stats)
        print_op_table(report, stats)
        for k, v in extra.items():
            print(f"# {k:<24} {v:>12.4f} {'ratio':<5}")
        print(f"# peak_rss_mb={peak_rss:.1f} host_steal_ticks={steal_ticks() - steal0}")

        if spans is None:
            # the first pass only: every operation's first call in the
            # session, whatever the number of passes
            metrics = {
                "pass_s": {"value": sum(r["samples"][0] for r in report.values()), "unit": "s"},
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
            }
        else:
            rows = layer_table(spans)
            print_layer_table(rows)
            untraced = {op: v[-1] for op, v in stats["lat"].items()}
            lm, per_op = trace_metrics(spans, untraced)
            print("# per operation: untraced_s traced_s overhead_s coverage")
            for op, r in per_op.items():
                print(f"#   {op:<16} {r['untraced_s']:>9.4f} {r['traced_s']:>9.4f} "
                      f"{r['traced_s'] - r['untraced_s']:>9.4f} "
                      f"{r['layer_self_s'] / r['untraced_s']:>8.4f}")
            lm["peak_rss_mb"] = peak_rss
            metrics = {k: {"value": lm[k], "unit": u} for k, u in LAYER_METRICS.items()}
        print(json.dumps({"correct": stats["failed"] == 0, "attempted": stats["attempted"],
                          "failed": stats["failed"], "metrics": metrics}))
        return 0
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
