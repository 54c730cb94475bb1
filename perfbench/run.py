"""Benchmark entry point for dca_manager_spark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload dca_pipeline --seed 1 --seconds 22 --trace 0

One client, closed loop, one operation at a time, on
``local[<cores>]``. Set-up is the session start, the inputs generated
from the seed, the table build, an untimed warm-up cycle and untimed
passes over the reads. The timed phase then runs
``round(seconds / cycle_s)`` whole cycles, ``cycle_s`` being a cycle's
length on a 4-core box, so every run of a workload measures the same
operations. The metrics are medians over all of them. The correctness
gate runs after the timed phase; a failed gate prints
``"correct": false`` and exits 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
layers' public entry points with spans, runs at least four cycles and
traces half of them (the others give ``trace.overhead_frac``), prints
the per-layer metrics and a self-time table, and writes the spans to
``.perfbench_out/``. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

_T0 = time.perf_counter()

DRIVER_MEM = "2g"
# Untimed passes over the reads after the warm-up cycle: reads are cheap,
# and their latency still falls steeply over the first passes.
WARM_READ_PASSES = 2


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(root: str, state_dir: str) -> None:
    """Everything the program and its Python workers see, fixed before
    the JVM starts. All state lives under ``state_dir``."""
    tmp = os.path.join(state_dir, "tmp")
    os.makedirs(tmp)
    # -Xms: a fixed-size heap, so heap resizing does not differ run to run
    java_opts = (f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={tmp}")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(state_dir, "warehouse"),
        "spark.local.dir": os.path.join(state_dir, "local"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat; the
    steal share tells a slow run on a shared host from a slow program."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _workload(name: str, ctx):
    if name == "dca_pipeline":
        from perfbench.dca import DcaPipeline

        return DcaPipeline(ctx)
    if name == "lake_sql":
        from perfbench.lake import LakeSql

        return LakeSql(ctx)
    raise SystemExit(f"unknown workload {name!r}; expected dca_pipeline or lake_sql")


class Runner:
    """Times operations; in traced cycles also collects their layers."""

    def __init__(self, probe, tracer) -> None:
        self.probe = probe
        self.tracer = tracer
        self.records: list[dict] = []
        self.last_reads: dict[str, list] = {}
        self.failed = 0

    def run(self, op, traced: bool, record: bool = True) -> None:
        from perfbench.spark_probe import query_phases

        pre = None
        if traced:
            if op.before:
                pre = op.before()
            mark = self.probe.mark()
            py0, jvm0 = self.probe.py_cpu_s(), self.probe.jvm_cpu_s()
            self.tracer.op_id = len(self.records)
            self.tracer.enabled = True
        rec = {"kind": op.kind, "label": op.label, "traced": traced, "ok": True,
               "start": time.time()}
        span = self.tracer.begin(f"op.{op.kind}", label=op.label)
        t0 = time.perf_counter()
        df = None
        try:
            if op.kind == "read":
                df = op.fn()
                t1 = time.perf_counter()
                if traced:
                    build_jobs = self.probe.newest_job_id() - mark["job"]
                    t1b = time.perf_counter()
                else:
                    t1b = t1
                rows = df.collect()
                rec["build_s"], rec["sink_s"] = t1 - t0, time.perf_counter() - t1b
                self.last_reads[op.label] = rows
            else:
                op.fn()
        except Exception:
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        rec["latency"] = time.perf_counter() - t0
        if op.kind == "read" and traced and rec["ok"]:
            rec["latency"] -= t1b - t1  # the job-id read between build and action
        self.tracer.end(span)
        if traced:
            self.tracer.enabled = False
            rec["py_cpu_s"] = self.probe.py_cpu_s() - py0
            rec["jvm_cpu_s"] = self.probe.jvm_cpu_s() - jvm0
            rec["info"] = op.info(pre) if op.info else {}
            if rec["ok"]:
                if op.kind == "read":
                    rec["build_jobs"] = build_jobs
                    rec["phases"] = query_phases(df)
                rec["delta"] = self.probe.delta(mark)
        if record:
            if not rec["ok"]:
                self.failed += 1
            self.records.append(rec)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dca_manager_spark", "__init__.py")):
        print("perfbench: run from the root of a dca_manager_spark checkout "
              "(no dca_manager_spark/ package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    state_parent = os.path.join(root, ".perfbench_state")
    os.makedirs(state_parent, exist_ok=True)
    state_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=state_parent)
    try:
        _pin_environment(root, state_dir)
        return _bench(args, root, state_dir)
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(state_dir, ignore_errors=True)
        try:
            os.rmdir(state_parent)
        except OSError:
            pass


def _bench(args, root: str, state_dir: str) -> int:
    import dca_manager_spark

    if not os.path.abspath(dca_manager_spark.__file__).startswith(root + os.sep):
        print("perfbench: dca_manager_spark imported from outside the checkout",
              file=sys.stderr)
        return 2

    from perfbench import layers
    from perfbench.common import Context, GateError
    from perfbench.spark_probe import SparkProbe
    from perfbench.stats import self_times, tail
    from perfbench.trace import Tracer

    def _median(values):
        return statistics.median(values) if values else float("nan")

    load_start = os.getloadavg()
    from dca_manager_spark.session import get_bench_session

    spark = get_bench_session(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - _T0
    probe = SparkProbe(spark)
    tracer = Tracer()
    if args.trace:
        layers.install(tracer, probe)

    ctx = Context(spark=spark, seed=args.seed, state_dir=state_dir)
    workload = _workload(args.workload, ctx)
    t = time.perf_counter()
    workload.setup()
    build_s = time.perf_counter() - t
    runner = Runner(probe, tracer)
    t = time.perf_counter()
    for op in workload.cycle():
        runner.run(op, traced=False, record=False)
    for _ in range(WARM_READ_PASSES):
        for op in workload.cycle():
            if op.kind == "read":
                runner.run(op, traced=False, record=False)
    warmup_s = time.perf_counter() - t

    # traced runs interleave traced and untraced cycles ABBA, so drift
    # across cycles cancels out of trace.overhead_frac
    n_cycles = max(4 if args.trace else 2, round(args.seconds / workload.cycle_s))
    cycles = []
    cpu_start = _cpu_ticks()
    t_start = time.perf_counter()
    setup_s = t_start - _T0
    for i in range(n_cycles):
        traced = bool(args.trace) and i % 4 in (0, 3)
        first = len(runner.records)
        for op in workload.cycle():
            runner.run(op, traced=traced)
        cycles.append({"traced": traced,
                       "latency": sum(r["latency"] for r in runner.records[first:])})
    wall_s = time.perf_counter() - t_start
    cpu_delta = [b - a for a, b in zip(cpu_start, _cpu_ticks())]
    steal_frac = cpu_delta[7] / max(1, sum(cpu_delta[:8]))

    correct, gate_msg = True, "ok"
    try:
        workload.check(runner.last_reads)
    except GateError as exc:
        correct, gate_msg = False, str(exc)
    stored = workload.stored_bytes_per_row()
    peak_rss = probe.peak_rss_mb()
    load_end = os.getloadavg()

    recs = runner.records
    reads = [r["latency"] for r in recs if r["kind"] == "read" and r["ok"]]
    writes = [r["latency"] for r in recs if r["kind"] == "write" and r["ok"]]
    print(f"workload={args.workload} seed={args.seed} "
          f"defaultParallelism={spark.sparkContext.defaultParallelism} "
          f"cores={_cores()} driver_mem={DRIVER_MEM} "
          f"loadavg_start={load_start[0]:.2f} loadavg_end={load_end[0]:.2f}")
    print(f"inputs: {json.dumps(workload.sizes())}")
    print(f"setup: setup_s={setup_s:.3f} session_s={session_s:.3f} build_s={build_s:.3f} "
          f"warmup_s={warmup_s:.3f}")
    print(f"timed: wall_s={wall_s:.3f} cycles={[round(c['latency'], 3) for c in cycles]} ops={len(recs)} "
          f"failed={runner.failed} failed_frac={runner.failed / max(1, len(recs)):.4f} "
          f"cpu_steal_frac={steal_frac:.3f}")
    for kind, lat in (("read", reads), ("write", writes)):
        t = tail(lat)
        tail_txt = (f"p{t['pct']:g}={t['value']:.4f}s ({t['beyond']} of {t['n']} beyond)"
                    if t else f"no tail: {len(lat)} samples")
        print(f"  {kind}: n={len(lat)} p50={_median(lat):.4f}s {tail_txt}")
        print(f"    latencies: {[round(x, 3) for x in lat]}")
    for label in dict.fromkeys(r["label"] for r in recs):
        lat = [r["latency"] for r in recs if r["label"] == label and r["ok"]]
        print(f"    {label}: n={len(lat)} p50={_median(lat):.4f}s")
    print(f"stored_bytes_per_row={stored:.2f} peak_rss_mb={peak_rss:.1f}")
    print(f"gate: {gate_msg}")

    if args.trace:
        own = self_times([s for s in tracer.spans if s["end"] is not None])
        by_op: dict[int, list] = {}
        for s in tracer.spans:
            if s["end"] is not None and s["op"] is not None:
                by_op.setdefault(s["op"], []).append(s)
        per_op = [layers.op_metrics(r, by_op.get(i, []), own, r["delta"])
                  for i, r in enumerate(recs) if r["traced"] and r["ok"]]
        values = layers.aggregate(per_op)
        traced_c = [c["latency"] for c in cycles if c["traced"]]
        plain_c = [c["latency"] for c in cycles if not c["traced"]]
        values["driver.peak_rss_mb"] = peak_rss
        values["trace.overhead_frac"] = (
            (sum(traced_c) / len(traced_c)) / (sum(plain_c) / len(plain_c)) - 1.0
            if traced_c and plain_c else 0.0)
        print("self time by span (traced cycles):")
        for name, row in sorted(tracer.self_time_table().items(),
                                key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:34s} n={row['n']:5d} total={row['total_s']:9.3f}s "
                  f"self={row['self_s']:9.3f}s")
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path)
        print(f"spans written to {os.path.relpath(path, root)}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "read_p50_s": {"value": _median(reads), "unit": "s"},
            "write_p50_s": {"value": _median(writes), "unit": "s"},
            "ops_per_s": {"value": len(recs) / wall_s, "unit": "1/s"},
            "stored_bytes_per_row": {"value": stored, "unit": "B"},
        }
    tracer.uninstall()
    print(json.dumps({"correct": correct and runner.failed == 0,
                      "attempted": len(recs), "failed": runner.failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
