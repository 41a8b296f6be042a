"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build_large --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything the run writes goes under
``.bench_work/`` there and is removed at exit. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The lines before it are a table of the same
figures and the workload's own breakdown, each with its unit, median, the
highest percentile that has ten samples beyond it, and the sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host, stats, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Outcome, analytics_reps  # noqa: E402


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _environment(work: str, heap_mb: int) -> None:
    """Keep every file the run writes inside ``work`` and size the driver
    heap; the Spark JVM and its Python workers inherit this environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = tmp


def _session(cores: int, work: str, traced: bool):
    from joern_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{ev}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", cpus=cores,
                     shuffle_partitions=cores, extra_conf=conf)


def _loop(wl, seconds: float, out) -> None:
    """Closed loop: run operations until ``seconds`` have passed (at least
    one operation)."""
    t0 = time.perf_counter()
    while True:
        wl.op(out)
        if time.perf_counter() - t0 >= seconds:
            break


def _row(name: str, unit: str, values: list[float]) -> str:
    hp = stats.high_percentile(values)
    tail = f"p{hp[0]:g}={hp[1]:.4g}" if hp else "p-high=n/a"
    return (f"  {name:<34} {stats.median(values):>12.4f} {unit:<6} "
            f"{tail:<16} n={len(values)}")


def _layer_metrics(tracer, log, window) -> dict[str, float]:
    """Per-layer figures of the traced section, from spans and event log."""
    stages = trace.stages_in(log, [window])
    m: dict[str, float] = {}
    for layer in trace.BUILD_LAYERS:
        for k, v in trace.layer_metrics(stages, layer).items():
            m[f"{layer}.{k}"] = v
    spills = tracer.spill_writes
    m["spill.writes"] = len(spills)
    m["spill.files"] = sum(s["files"] for s in spills)
    m["spill.write_mb"] = sum(s["bytes"] for s in spills) / 1e6
    m["spill.wall_s"] = sum(s["wall_s"] for s in spills)
    builds = [(s.start, s.end) for s in tracer.named("build")]
    in_builds = trace.stages_in(log, builds)
    m["build.driver_gap_s"] = sum(trace.driver_gap(b, stages) for b in builds)
    m["build.jobs"] = trace.jobs_in(log, builds)
    m["build.stages"] = len(in_builds)
    m["build.untagged_share"] = trace.untagged_share(in_builds)
    m["build.gc_s"] = sum(m[f"{layer}.gc_s"] for layer in trace.BUILD_LAYERS)

    # the round's own flow queries are the top-level flow spans (flows
    # nested in the scan belong to the scan); the first builds the relations
    flows = [s for s in tracer.named("dataflow.flow") if s.parent is None]
    m["dataflow.relations_s"] = flows[0].end - flows[0].start if flows else 0.0
    warm = flows[1:]
    m["dataflow.jobs_per_query"] = (
        trace.jobs_in(log, [(f.start, f.end) for f in warm], "dataflow")
        / len(warm) if warm else 0.0)
    m["dataflow.self_ms"] = stats.median(
        trace.self_time(f, tracer.children(f)) * 1000 for f in warm)
    scans = tracer.named("scan")
    m["scan.self_s"] = sum(trace.self_time(s, tracer.children(s))
                           for s in scans)
    m["scan.jobs"] = trace.jobs_in(log, [(s.start, s.end) for s in scans],
                                   "scan")
    m["scan.driver_gap_s"] = sum(trace.driver_gap((s.start, s.end), stages)
                                 for s in scans)
    for name, _fn in analytics_reps():
        m[f"analytics.{name}.wall_s"] = sum(
            s.end - s.start for s in tracer.named(f"analytics.{name}"))
    return m


def in_json(name: str) -> bool:
    """Whether a per-layer figure goes into the JSON line (and so into
    BENCHMARK.json). Per-layer GC time and disk spill are 0 on many runs at
    these sizes (``build.gc_s`` sums the GC time), and the fused kernel is
    shuffle-free by design; the table still prints them."""
    if name == "build.gc_s":
        return True
    return not (name.endswith((".gc_s", ".spill_mb"))
                or name.startswith("method_kernels.shuffle_"))


def _stop_spark() -> None:
    """Stop Spark and wait for its JVM to exit; the JVM stops the Python
    workers it started. Safe to call twice."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "joern_spark")):
        print(f"perfbench: no joern_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    t_start = time.perf_counter()
    cores = host.cores()
    heap_mb = host.driver_heap_mb()
    _environment(work, heap_mb)
    from joern_spark.hostmetrics import load_avg, steal_fraction, \
        steal_fraction_probe

    # before any thread exists: the calibration forks its copy processes
    memcpy = host.memcpy_point()
    info = {"cores": cores, "heap_mb": heap_mb, "loadavg_start": load_avg(),
            "memcpy_4proc": memcpy}
    steal0 = steal_fraction_probe()

    timings: dict[str, float] = {}
    t_setup = time.perf_counter()
    spark = _session(cores, work, bool(args.trace))
    timings["session.start_s"] = time.perf_counter() - t_setup
    tracer = trace.Tracer(sc=spark.sparkContext, enabled=False)
    wl = WORKLOADS[args.workload](spark, args.seed, work, cores, tracer)
    wl.setup(timings)
    setup_s = time.perf_counter() - t_setup

    out = Outcome()
    cpu0 = host.tree_cpu_seconds()
    t0 = time.perf_counter()
    _loop(wl, args.seconds, out)
    timed_s = time.perf_counter() - t0
    cpu_s = (host.tree_cpu_seconds() - cpu0) / max(1, len(out.op_s))
    rss = host.peak_rss_mb()
    live_heap = host.jvm_live_heap_mb(spark)

    layer = None
    if args.trace:
        # The loop above ran exactly as in an untraced run. Operations still
        # speed up from the first to the second (JIT, plan caches), so the
        # traced operation is compared with one more untraced operation,
        # not with that loop. After it, a probe of the layers this workload
        # does not run, so that every per-layer metric is measured.
        ref, traced, probe = Outcome(), Outcome(), Outcome()
        wl.op(ref)
        tracer.enabled = True
        t_tr = time.time()
        with tracer.installed():
            wl.op(traced)
            wl.probe(probe)
        window = (t_tr, time.time())
        overhead = stats.median(traced.op_s) - stats.median(ref.op_s)
        out.samples["warm_ref_op_s"] = ref.op_s
        out.samples["traced_op_s"] = traced.op_s
        for extra in (ref, traced, probe):  # the checks below cover these too
            out.attempted += extra.attempted
            out.failed += extra.failed
            out.problems += extra.problems

    t_check = time.perf_counter()
    wl.check(out)
    info["check_s"] = time.perf_counter() - t_check
    info["steal_frac"] = steal_fraction(steal0)
    _stop_spark()  # also flushes and closes the event log
    if args.trace:
        log = trace.read_event_log(os.path.join(work, "eventlog"))
        layer = _layer_metrics(tracer, log, window)
        layer.update(timings)
        layer["trace.overhead_s"] = overhead

    info["run_s"] = time.perf_counter() - t_start
    e2e = {"setup_s": setup_s, "op_s": stats.median(out.op_s),
           "cpu_s": cpu_s}
    _print_table(args, out, e2e, {"peak_rss_mb": rss, "live_heap_mb": live_heap},
                 timed_s, info, layer)
    metrics = ({k: {"value": v, "unit": _unit(k)}
                for k, v in layer.items() if in_json(k)} if layer is not None
               else {k: {"value": v, "unit": _unit(k)} for k, v in e2e.items()})
    print(json.dumps({"correct": out.failed == 0 and out.attempted > 0,
                      "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}), flush=True)
    return 0


def _unit(name: str) -> str:
    """A metric's unit, from its name's suffix (BENCHMARK.json follows the
    same rule)."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_s", "s"), ("_share", "ratio"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _print_table(args, out, e2e, memory, timed_s, info, layer) -> None:
    lines = [f"perfbench {args.workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace} "
             f"ops={len(out.op_s)} timed_s={timed_s:.2f}",
             "host " + " ".join(f"{k}={v:.4g}" if isinstance(v, float)
                                else f"{k}={v}" for k, v in info.items()),
             "end-to-end (median, high percentile, samples):"]
    lines.append(_row("setup_s", "s", [e2e["setup_s"]]))
    lines.append(_row("op_s", "s", out.op_s))
    lines.append(_row("cpu_s (per op)", "s", [e2e["cpu_s"]]))
    for name, mb in memory.items():  # printed, not gated: see README
        lines.append(_row(name, "MB", [mb]))
    frac = out.failed / out.attempted if out.attempted else 1.0
    lines.append(_row("fail_frac", "ratio", [frac]))
    lines.append("workload breakdown:")
    for name, vals in sorted(out.samples.items()):
        lines.append(_row(name, _unit(name), vals))
    for p in out.problems:
        lines.append(f"FAILED: {p}")
    if layer is not None:
        lines.append("per-layer (traced operation and probe):")
        for k, v in layer.items():
            lines.append(f"  {k:<40} {v:>14.4f} {_unit(k)}")
    for k, v in out.extra.items():
        lines.append(f"check {k}: {v}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    sys.exit(main())
