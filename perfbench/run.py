"""Seeded end-to-end and per-layer benchmark of python_prtree_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload uniform_persist --seed 1 --seconds 10 --trace 0

Each run generates (or reuses) the seed's inputs under ``.perfbench_work/``,
sets up a Spark ``local[nproc]`` session three times (start, read the
inputs, start the Python workers), then runs the workload's ops in a closed
loop with one client for ``--seconds``. Every op result is checked against its oracle.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ["uniform_persist", "skewed_image"]
LAYER_KEYS = [("plan_s", "s"), ("prejobs", "count"), ("py4j_calls", "count"),
              ("exec_cpu_s", "s"), ("shuffle_mb", "MB"), ("py_s", "s"), ("py_mb", "MB"),
              ("task_skew", "ratio"), ("rows_out", "count")]
MODULE_KEYS = [("tiling.cells_per_box", "cells/box"), ("probe.salted_share", "share"),
               ("strpack.build_us_per_box", "us"), ("strpack.query_us_per_probe", "us"),
               ("mutate.dirty_cell_share", "share"), ("store.write_mb", "MB"),
               ("store.refresh_rewrite_share", "share"), ("store.bytes_per_box", "B/box"),
               ("dedup.near_dup_share", "share"), ("trace.overhead_share", "share"),
               ("trace.span_cover", "share"), ("trace.jobs_per_iter", "count")]
SETUPS = 3  # session set-ups per run; setup_s is their median


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is the self-test's")
    return p.parse_args(argv)


def _environment() -> int:
    """Keep every file Spark and its workers write inside the checkout."""
    for sub in ("tmp", "spark"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no JVM performance-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return len(os.sched_getaffinity(0))


def start_session(nproc: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", f"{WORK}/warehouse")
        # the traced run looks jobs, stages and executions up after each op
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _become_subreaper() -> None:
    """Adopt the orphans of this process's descendants (PR_SET_CHILD_SUBREAPER),
    so ``_reap_all`` can wait for every process the run started: the JVM
    leaves a launcher shell behind, and the Python workers outlive it."""
    if ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_all(tree, timeout: float = 30.0) -> None:
    """Wait until this process has no child left, adopted orphans included;
    kill every descendant still there after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in tree.descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def spawn_workers(spark, nproc: int) -> None:
    """Start one Python worker per core, each importing the engine modules
    whose functions run inside Python tasks. Each task waits until all of
    them run at once, so no worker serves two of them."""
    def start(batches):
        import time as _time

        import python_prtree_spark  # noqa: F401
        import python_prtree_spark.operators.ann  # noqa: F401
        import python_prtree_spark.operators.dedup  # noqa: F401

        _time.sleep(0.5)
        yield from batches

    spark.range(0, nproc, 1, nproc).mapInArrow(start, "id long").count()


def calibrate() -> float:
    """Fixed-flops probe (8 chained 512x512 matmuls), median of 3 after one
    discarded run: it reads several times higher in a throttled host window."""
    import numpy as np

    def once():
        a = np.random.default_rng(0).standard_normal((512, 512))
        t0 = time.perf_counter()
        for _ in range(8):
            a = a @ a / 512.0
        return time.perf_counter() - t0

    once()
    return statistics.median(once() for _ in range(3))


def run_context(nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": nproc, "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "calib_s": calibrate()}


class Tracer:
    """Job groups, py4j counts and spans of the traced iterations."""

    def __init__(self, spark):
        from perfbench.tracing import Py4jCounter, StageCollector

        self.sc = spark.sparkContext
        self.counter = Py4jCounter(spark)
        self.collector = StageCollector(spark)
        self.spans = []

    def group(self, gid: str) -> int:
        self.sc.setJobGroup(gid, gid)
        return self.counter.count

    def close(self) -> None:
        self.counter.close()


def run_op(bench, op, tag: str, tracer, tree=None):
    """Time one op (plan, then run), then check it. ``tag`` names this op
    in this iteration, so its job groups are its own. With ``tree``, also
    take the CPU time the op used: this thread's plus the descendant
    processes'. → record dict."""
    from perfbench.tracing import Span

    rec = {"op": op.name, "ok": False, "wall": 0.0, "cpu_s": 0.0}
    gid = f"{bench.name}/{op.name}/{tag}"
    cpu0 = tree.child_cpu_s() - time.thread_time() if tree else 0.0
    try:
        c0 = tracer.group(gid + "/plan") if tracer else 0
        t0 = time.perf_counter()
        planned = op.plan()
        t1 = time.perf_counter()
        c1 = tracer.counter.count if tracer else 0
        c2 = tracer.group(gid + "/run") if tracer else 0
        t2 = time.perf_counter()
        out = op.run(planned) if op.run else planned
        t3 = time.perf_counter()
        c3 = tracer.counter.count if tracer else 0
        if tree:
            rec["cpu_s"] = time.thread_time() + tree.child_cpu_s() - cpu0
    except Exception as e:  # an op that raises is a failed op, not a crash
        rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        print(f"op {op.name} raised {rec['error']}", file=sys.stderr)
        return rec
    finally:
        if tracer:
            tracer.sc._jsc.clearJobGroup()
    rec["wall"] = t3 - t0
    ok, rows = op.check(out)
    rec.update(ok=bool(ok), rows_out=int(rows))
    if tracer:
        col = tracer.collector
        plan_jobs, run_jobs = col.jobs(gid + "/plan"), col.jobs(gid + "/run")
        rec.update(col.collect(plan_jobs + run_jobs), plan_s=t1 - t0, prejobs=len(plan_jobs),
                   py4j_calls=(c1 - c0) + (c3 - c2))
        span = Span(f"{bench.name}/{op.name}", t0, t3, [
            Span("plan", t0, t1, attrs={"group": gid + "/plan", "jobs": plan_jobs}),
            Span("run", t2, t3, attrs={"group": gid + "/run", "jobs": run_jobs}),
        ], attrs={"iteration": tag, "ok": rec["ok"]})
        rec["span_cover"] = span.child_cover() / span.duration
        tracer.spans.append(span)
    return rec


def run_iteration(bench, tag: str, tracer=None, tree=None) -> dict:
    """One pass over the workload's ops; an op that needs the previous op's
    result is skipped, and counts as failed, when that one failed. ``jobs``
    counts every Spark job the pass starts: its ops, their checks and, when
    traced, the tracer's reads."""
    jobs0 = _total_jobs(bench.spark)
    bench.begin_iteration(tag)
    recs = []
    for k, op in enumerate(bench.ops()):
        if op.needs_prev and not recs[-1]["ok"]:
            recs.append({"op": op.name, "ok": False, "wall": 0.0, "error": "skipped"})
            continue
        recs.append(run_op(bench, op, f"{tag}.{k}", tracer, tree))
    bench.end_iteration()
    it = {"tag": tag, "traced": tracer is not None, "ops": recs,
          "wall": sum(r["wall"] for r in recs), "cpu_s": sum(r["cpu_s"] for r in recs),
          "store": dict(getattr(bench, "store", {}))}
    it["jobs"] = _total_jobs(bench.spark) - jobs0
    return it


def _total_jobs(spark) -> int:
    """Jobs the scheduler has started in this session, grouped or not."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def layer_metrics(meta, iters, in_dir) -> dict:
    """Per-layer metrics of a traced run → {name: (value, unit)}. Ops the
    workload does not run report 0."""
    from perfbench.workloads import OP_NAMES, strpack_probe

    traced = [it for it in iters if it["traced"]]
    plain = [it for it in iters if not it["traced"]]
    out = {}
    for op in OP_NAMES:
        recs = [r for it in traced for r in it["ops"] if r["op"] == op and r["ok"]]
        for key, unit in LAYER_KEYS:
            out[f"{op}.{key}"] = (_median(r[key] for r in recs), unit)
    props = meta["props"]
    build_us, query_us = strpack_probe(in_dir)
    store = [it["store"] for it in traced if it["store"].get("bytes_per_box")]
    base = _median(it["wall"] for it in plain)
    values = {
        "tiling.cells_per_box": props.get("tiling.cells_per_box", 0.0),
        "probe.salted_share": props.get("probe.salted_share", 0.0),
        "strpack.build_us_per_box": build_us,
        "strpack.query_us_per_probe": query_us,
        "mutate.dirty_cell_share": props.get("mutate.dirty_cell_share", 0.0),
        "store.write_mb": _median(s["write_mb"] for s in store),
        "store.refresh_rewrite_share": _median(s["refresh_rewrite_share"] for s in store),
        "store.bytes_per_box": _median(s["bytes_per_box"] for s in store),
        "dedup.near_dup_share": props.get("dedup.near_dup_share", 0.0),
        "trace.overhead_share": (_median(it["wall"] for it in traced) - base) / base,
        "trace.span_cover": min((r["span_cover"] for it in traced for r in it["ops"]
                                 if "span_cover" in r), default=0.0),
        "trace.jobs_per_iter": _median(it["jobs"] for it in traced),
    }
    for key, unit in MODULE_KEYS:
        out[key] = (float(values[key]), unit)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "python_prtree_spark", "__init__.py")):
        print("perfbench: no python_prtree_spark package next to perfbench/; "
              "run it from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _become_subreaper()
    nproc = _environment()
    from perfbench import inputs
    from perfbench.tracing import ProcessTree, host_cpu_ticks
    from perfbench.workloads import WORKLOADS

    phases = {"start": time.perf_counter()}
    context = run_context(nproc)
    pins = {}
    pin_path = os.path.join(ROOT, "perfbench", "pins.json")
    if args.size == "full" and os.path.exists(pin_path):
        with open(pin_path) as f:
            pins = json.load(f).get(args.workload, {}).get(str(args.seed), {})
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    spark, tracer, setups, iters = None, None, [], []
    tree = ProcessTree()
    # the inputs are generated in a process of their own while the first
    # session starts. That set-up also launches the JVM, so it never sets
    # the median; the memory peak is sampled once generation is done.
    gen = subprocess.Popen([sys.executable, "-m", "perfbench.inputs", WORK, args.workload,
                            str(args.seed), args.size], cwd=ROOT)
    try:
        for s in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(nproc)
            if s == 0:
                if gen.wait() != 0:
                    raise RuntimeError(f"input generation exited with code {gen.returncode}")
                in_dir, meta = inputs.ensure_inputs(WORK, args.workload, args.seed, args.size)
                tree.start()
            bench = WORKLOADS[args.workload](spark, in_dir, meta, run_dir)
            bench.name, bench.pins = args.workload, pins
            spawn_workers(spark, nproc)
            setups.append(time.perf_counter() - t0)
        phases["setup"] = time.perf_counter()
        # the gated peak is the measured loop's; the set-ups' is kept
        # apart, and the shutdown's is not counted
        setup_peak = tree.reset()

        if args.trace:
            tracer = Tracer(spark)
            # the first iteration on a fresh JVM also pays for compiling its
            # plans and hot code. A traced run runs one first and discards
            # it, so that its traced and untraced iterations both run warm
            iters.append(run_iteration(bench, "first", None, tree))
            iters[-1]["discarded"] = True
        deadline = time.perf_counter() + args.seconds
        ticks0 = host_cpu_ticks()
        i = 0
        while not (i > 0 and time.perf_counter() >= deadline and (not args.trace or i % 2 == 0)):
            # the traced run alternates untraced and traced iterations, so
            # the tracing overhead is measured in the same window. The seed's
            # parity picks which runs first: over a set of seeds, the first
            # iteration's extra cost falls on either mode equally often
            traced = bool(args.trace) and (i + args.seed) % 2 == 1
            iters.append(run_iteration(bench, f"i{i}", tracer if traced else None, tree))
            i += 1
        ticks1 = host_cpu_ticks()
        peak_mb, peak_parts = tree.reset()
        # a throttled host window shows as a high share
        context["steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if tracer:
            tracer.close()
    finally:
        phases["measured"] = time.perf_counter()
        if gen.poll() is None:
            gen.kill()
        if spark is not None:
            stop_session(spark)
        phases["stopped"] = time.perf_counter()
        tree.stop()
        _reap_all(tree)
        shutil.rmtree(run_dir, ignore_errors=True)

    # a discarded iteration's ops are still checked and counted
    recs = [r for it in iters for r in it["ops"]]
    attempted, failed = len(recs), sum(not r["ok"] for r in recs)
    kept = [it for it in iters if not it.get("discarded")]
    plain = [it for it in kept if not it["traced"]]
    op_medians = {}
    for r in (r for it in plain for r in it["ops"] if r["ok"]):
        op_medians.setdefault(r["op"], []).append(r["wall"])
    store = [it["store"] for it in plain if it["store"].get("bytes_per_box")]

    print(f"context {json.dumps(context, sort_keys=True)}")
    print(f"inputs {json.dumps(meta['props'], sort_keys=True)}")
    print(f"iterations untraced={len(plain)} traced={len(kept) - len(plain)} "
          f"discarded={len(iters) - len(kept)}")
    for op, walls in op_medians.items():
        print(f"metric {op}_s {_median(walls):.6f} s (median of {len(walls)})")
    if store:
        print(f"metric index_bytes_per_box {_median(s['bytes_per_box'] for s in store):.3f} B/box")
    print(f"peak_rss_mb set-ups {setup_peak[0]:.1f} MB, measured loop {peak_mb:.1f} MB")
    print(f"metric failed_op_share {failed / max(1, attempted):.6f} share "
          f"({failed} of {attempted})")
    if args.trace:
        metrics = layer_metrics(meta, kept, in_dir)
    else:
        metrics = {"iter_s": (_median(it["wall"] for it in plain), "s"),
                   "iter_cpu_s": (_median(it["cpu_s"] for it in plain), "s"),
                   "setup_s": (_median(setups), "s"),
                   "peak_rss_mb": (peak_mb, "MB")}
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value} {unit}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}"
    with open(os.path.join(WORK, "results", stem + ".json"), "w") as f:
        json.dump({"args": vars(args), "context": context, "inputs": meta["props"],
                   "setup_s": setups,
                   "phases": {k: v - phases["start"] for k, v in phases.items()},
                   "peak_rss_mb": peak_mb, "peak_rss_parts": peak_parts,
                   "setup_peak_rss_mb": setup_peak[0], "setup_peak_rss_parts": setup_peak[1],
                   "iterations": iters, "digests": bench.digests,
                   "spans": [s.to_json() for s in (tracer.spans if tracer else [])],
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
