"""Layer-attributed benchmark of pygeoops_spark.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the engine is imported from the
`pygeoops_spark/` directory next to `perfbench/`, never from an
installed copy. One driver process at local[nproc], one caller in a
closed loop: each public call starts when the previous one finished.

A run: start the session, generate the seeded inputs to parquet (three
times, the median counts) and open them, run one cold pass of the
workload's calls, one untimed warm-up pass, then timed warm passes
until --seconds have passed (at least one), then check every pass's
outputs against references computed by other code paths. With --trace 1 the session also writes
Spark's event log, and traced warm passes follow the untraced ones:
each call gets a span, and the Spark jobs, tasks, task time and
shuffle bytes of the event log are attributed to the spans. The
tracing overhead, traced minus untraced pass time within that session
(so without the event log's own cost), is a diagnostic: one or two
passes a side put it within the pass-to-pass spread.

The last line of stdout is the result JSON; the line before it holds
diagnostics no bound applies to (input sizes, per-call output rows,
the host drift probe and CPU steal, nproc, the JVM and Python parts of
peak memory, failures). Layers deliberately left unmeasured for now:
ann, streaming, and the ship='wkb' side of PREPARED_MAX_BYTES in the
PIP joins.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
T0 = time.perf_counter()
MIN_WARM_PASSES = 1
# untimed passes between the cold pass and the timed ones: the first
# pass after the cold one still ran 10-25% slower than the passes after
# it (the JIT is still compiling), and whether it had caught up made the
# single timed pass bimodal across runs
WARMUP_PASSES = 1


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: str | None = None):
    from pygeoops_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: G1 otherwise sizes both from
    # its measured pause times, so the peak RSS varied with GC timing
    # (1.8-2.7 GB over ten seeds) rather than with the program's memory
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    n = nproc()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Py4J gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(wl, tracer, index: int) -> tuple[float, dict, dict]:
    """One pass over the workload's calls. Returns wall seconds, the
    per-call action results (an exception for a call that raised) and
    the pass context."""
    ctx: dict = {"pass": index}
    got: dict = {}
    t0 = time.perf_counter()
    for call in wl.calls:
        try:
            res = None
            if call.plan is not None:
                with tracer.span(f"pass{index}|{call.name}|plan"):
                    res = call.plan(ctx)
            ctx[call.name] = res
            if call.act is not None:
                with tracer.span(f"pass{index}|{call.name}|exec"):
                    res = call.act(res, ctx)
            got[call.name] = res
        except Exception as e:  # noqa: BLE001 — a failed call is counted, the pass goes on
            traceback.print_exc(file=sys.stderr)
            got[call.name] = e
    wall = time.perf_counter() - t0
    wl.after_pass(ctx)
    return wall, got, ctx


def timed_passes(wl, tracer, seconds: float, first_index: int) -> tuple[list[float], list[dict], dict]:
    walls, results, ctx = [], [], {}
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(walls) < MIN_WARM_PASSES:
        wall, got, ctx = run_pass(wl, tracer, first_index + len(walls))
        walls.append(wall)
        results.append(got)
    return walls, results, ctx


def span_metrics(wl, tracer, walls: list[float]) -> dict:
    """Plan and exec seconds per call, and the share of each pass's wall
    time the call spans cover (medians over the traced passes)."""
    passes = tracer.passes()
    med = statistics.median
    out: dict = {}
    for call in wl.calls:
        for phase, step in (("plan", call.plan), ("exec", call.act)):
            if step is not None:
                out[f"{call.name}.{phase}_s"] = med(tracer.seconds(p, f"{call.name}|{phase}") for p in passes)
    out["trace.span_coverage"] = med(tracer.seconds(p) / w for p, w in zip(passes, walls))
    return out


def spark_metrics(wl, spark_stats: dict, passes: list[int], walls: list[float], slots: int) -> dict:
    """Jobs, tasks and shuffle per call and task time, GC and shuffle per
    pass, from the event log (medians over the traced passes). The busy
    share is task time over the pass's slot time: how much of the pass
    the executors spend on tasks rather than waiting for the driver."""
    med = statistics.median

    def total(field, prefix):
        return [sum(v[field] for k, v in spark_stats.items() if k.startswith(f"pass{p}|{prefix}")) for p in passes]

    out: dict = {}
    for call in wl.calls:
        out[f"{call.name}.jobs"] = med(total("jobs", f"{call.name}|"))
        out[f"{call.name}.tasks"] = med(total("tasks", f"{call.name}|"))
        out[f"{call.name}.shuffle_mb"] = med(total("shuffle_write_b", f"{call.name}|")) / 2**20
    out["spark.task_s"] = med(total("task_s", ""))
    out["spark.gc_s"] = med(total("gc_s", ""))
    out["spark.shuffle_write_mb"] = med(total("shuffle_write_b", "")) / 2**20
    out["spark.busy_share"] = med(t / (w * slots) for t, w in zip(total("task_s", ""), walls))
    return out


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """The share of CPU time the host stole between two cpu_jiffies()."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def rows_out(res) -> int:
    """Output rows of a call from its action result."""
    if isinstance(res, dict):
        return res.get("rows_out", 0)
    while isinstance(res, tuple) and res and isinstance(res[0], tuple):
        res = res[0]
    return res[0] if isinstance(res, tuple) and res else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pygeoops_spark", "__init__.py")):
        print(f"perfbench: no pygeoops_spark/ package next to {HERE}", file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # the engine and the benchmark modules, for this process and the
    # Python workers Spark starts; scratch files stay inside the checkout
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        return bench(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def bench(args, spec: dict, work: str) -> int:
    from inputs import generate
    from tracing import RssSampler, Tracer, cpu_jiffies, cpu_probe_ms, parse_event_log
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    med = statistics.median
    diag: dict = {"workload": args.workload, "seed": args.seed, "nproc": nproc(),
                  "probe_ms_start": cpu_probe_ms()}
    steal0 = cpu_jiffies()
    layer: dict = {}
    failures: list[str] = []
    spark = None
    try:
        log_dir = os.path.join(work, "eventlog") if args.trace else None
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, event_log=log_dir)
            session_s = time.perf_counter() - t0
            gen = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                data = os.path.join(work, f"inputs{rep}")
                props = generate(args.workload, args.seed, data)
                gen.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl = cls(spark, data, props)
            session_s += time.perf_counter() - t0
            plain = Tracer()
            cold_s, cold, ctx = run_pass(wl, plain, 0)
            results = [cold] + [run_pass(wl, plain, 1 + i)[1] for i in range(WARMUP_PASSES)]
            first = len(results)
            walls, timed, ctx = timed_passes(wl, plain, args.seconds, first)
        results += timed
        pass_s = med(walls)
        e2e = {"setup_s": session_s + med(gen), "cold_pass_s": cold_s, "pass_s": pass_s,
               "rows_per_s": wl.rows_in / pass_s, "peak_rss_mb": rss.peak_mb}
        diag.update(inputs=props, rows_in=wl.rows_in, warm_pass_s=walls, call_s={
            c.name: med(plain.seconds(p, f"{c.name}|") for p in range(first, len(results))) for c in wl.calls},
            cold_call_s={c.name: plain.seconds(0, f"{c.name}|") for c in wl.calls},
            t_passes_end=time.perf_counter() - T0, steal_share=steal_share(steal0, cpu_jiffies()), jvm_hwm_mb=rss.jvm_kb / 1024.0, py_peak_mb=rss.py_peak_kb / 1024.0)
        if args.trace:
            tracer = Tracer(spark.sparkContext, tag=True)
            t_walls, t_results, ctx = timed_passes(wl, tracer, args.seconds, len(results))
            results += t_results
            layer.update(span_metrics(wl, tracer, t_walls))
            layer.update({"session.get_spark.start_s": session_s, "session.inputs.gen_s": med(gen)})
            # one or two passes a side: the difference is within the
            # pass-to-pass spread, so it is a diagnostic, not a metric
            diag.update(trace_overhead_s=med(t_walls) - pass_s, untraced_pass_s=walls, traced_pass_s=t_walls)
            diag["rows_out"] = {c.name: rows_out(t_results[-1].get(c.name)) for c in wl.calls}
        wl.references(ctx)
        attempted = 0
        for i, got in enumerate(results):
            for call in wl.calls:
                attempted += 1
                res = got.get(call.name)
                why = f"raised {res!r}" if isinstance(res, Exception) else wl.check(call.name, res)
                if why:
                    failures.append(f"pass {i} {call.name}: {why}")
        if args.trace:
            layer.update(wl.traced_extras(layer, t_results[-1], nproc()))
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            stats = parse_event_log(os.path.join(log_dir, app_id))
            passes = tracer.passes()
            layer.update(spark_metrics(wl, stats, passes, t_walls, nproc()))
            gate = wl.gate_failures(stats, passes)
            attempted += len(gate[0])
            failures += gate[1]
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    diag.update(t_end=time.perf_counter() - T0, probe_ms_end=cpu_probe_ms(), attempted=attempted, failed=len(failures),
                failed_frac=len(failures) / attempted, failures=failures[:20], end_to_end=e2e)
    if args.trace:
        diag["per_layer_unlisted"] = sorted(set(layer) - {m["name"] for m in spec["per_layer"]})
        # every traced run prints every per-layer name; the calls of the
        # other workload read 0 (no jobs, no time), listed here
        diag["per_layer_not_run"] = sorted({m["name"] for m in spec["per_layer"]} - set(layer))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps(diag, default=str))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
