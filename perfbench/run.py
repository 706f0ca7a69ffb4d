"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the seed's inputs under
``.perfbench_work/`` in the checkout while Spark starts on
``local[nproc]`` with a driver heap of a fixed share of MemTotal, then
runs the workload's set-up: graph build, the ops that run once (store
write, write-back, curation ops) and, where the workload has one, an
untimed warm-up pass of its op list. All of that, checks excluded, is
``setup_s``. Then the seed's fixed op list runs in whole passes until
the ops have taken ``--seconds``, at least one pass; ``run_s`` is the
median wall time of one pass (checks excluded). One client, closed
loop: each op waits for the previous one. Every op's output is checked
outside any timing; a failed check counts as a failed op and makes the
exit code 1.

The last stdout line is one JSON object: with ``--trace 0`` the gated
end-to-end metrics (``END_TO_END``), with ``--trace 1`` the per-layer
metrics, per timed pass, of a run whose layer modules are wrapped by
``spans.install``.
The line before it holds the details: every end-to-end metric with its
unit (op median, op tail with its percentile and sample count, error
rate and store bytes per edge included), the host resources and, when
traced, every span as [name, kind, start, end, parent, op].
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "hannigan_conjunctisviribus_ploscompbio_2017_spark"
DRIVER_MEM_SHARE = 0.25  # of MemTotal
TAIL_BEYOND = 10  # samples required beyond the reported tail percentile
# The gated end-to-end metrics (BENCHMARK.json). The rest are reported in
# the details line only. The op-latency statistics: a run holds 7-21 ops
# of unlike kinds, so their median and tail swing with which op sits at
# the rank, and the "tail" with ten samples beyond it is near p50.
# peak_rss_mb: the JVM's resident set follows when G1 grows the heap,
# which tracks GC time and so host speed (2.6 or 3.6 GB on one seed).
END_TO_END = {"setup_s": "s", "run_s": "s"}


def host_resources() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cpus": len(os.sched_getaffinity(0)),
            "driver_mem_mb": int(mem_kb * DRIVER_MEM_SHARE / 1024),
            "mem_total_mb": mem_kb // 1024,
            "clients": 1}


def set_env(work: str, res: dict) -> None:
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(res["cpus"]),
        SPARK_GRAFT_DRIVER_MEM=f"{res['driver_mem_mb']}m",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        # no hsperfdata file under /tmp: the run writes only in its checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:+PerfDisableSharedMem",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path[:0] = [ROOT, HERE]
    sys.path.append(os.path.join(ROOT, "tests"))  # independent_impl


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it; the maximum when there are too few."""
    s = sorted(lat)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def jvm_counters(spark, jvm_pid: int) -> tuple[float, float]:
    """(GC seconds, CPU seconds of the JVM process tree) of the driver."""
    import spans

    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3
    return gc, spans.proc_tree_cpu(jvm_pid)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    import spans

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = spans.descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def trace_extras(tracer):
    """Counts recorded after a traced call, with jobs kept out of every
    span's job group."""
    import workloads

    def on_result(name, span, args, kwargs, out):
        def side(fn):
            tracer.sc.setJobGroup("untraced", "untraced")
            try:
                return fn()
            finally:
                top = tracer.stack[-1] if tracer.stack else None
                tracer.sc.setJobGroup(
                    "untraced" if top is None else f"span{top}",
                    "untraced" if top is None else tracer.spans[top].name)

        if name == "graph_store.read_graph":
            span.extra["splits"] = side(lambda: out[1].rdd.getNumPartitions())
        elif name == "graph_store.write_graph":
            root = kwargs.get("root", args[2] if len(args) > 2 else None)
            span.extra["files"], span.extra["bytes"] = workloads.store_size(root)
        elif name in ("model.prepare_training", "model.predict_interactions"):
            span.extra["rows"] = side(out.count)

    return on_result


def measure(args, res: dict, work: str, started: list) -> tuple[dict, dict, int, int]:
    """Set up and run the timed passes. Returns the details
    line, the metrics, and the numbers of failed and attempted ops."""
    import spans
    import workloads

    lib = workloads.Lib()
    tracer = patched = None
    if args.trace:
        tracer = spans.Tracer()
        patched = spans.install(tracer, lib.modules, trace_extras(tracer))
        started.append(lambda: spans.uninstall(patched))
    ctx = workloads.Ctx(lib, None, work, args.seed, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)

    # the JVM starts while the inputs are generated
    box: dict = {}

    def start():
        try:
            box["spark"] = lib.session.get_spark()
            box["spark"].range(1).count()  # the JVM and session are up
            box["ready"] = time.perf_counter()
        except BaseException as e:  # re-raised in the main thread
            box["error"] = e

    starter = threading.Thread(target=start)
    starter.start()
    t = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t
    starter.join()
    if "spark" in box:
        started.append(lambda: stop_spark(box["spark"]))
    if "error" in box:
        raise box["error"]
    spark = ctx.spark = box["spark"]
    session_s = box["ready"] - T0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    if tracer is not None:
        tracer.sc, tracer.jvm_pid = spark.sparkContext, jvm_pid
    n_spans = (lambda: len(tracer.spans)) if tracer else (lambda: 0)
    session_spans = range(0, n_spans())

    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t

    failures: list[str] = []
    check_s = 0.0
    n_ops = 0

    def run(op) -> tuple[float, bool]:
        """Time one op, then check its output (untimed)."""
        nonlocal check_s, n_ops
        ok, out = True, None
        if tracer:
            tracer.op = n_ops
            op_span = tracer.begin(f"op.{op.label}", "op")
        n_ops += 1
        t = time.perf_counter()
        try:
            out = op.fn()
        except Exception:
            ok = False
            failures.append(f"{op.label}{op.key}: {traceback.format_exc(limit=3)}")
        dt = time.perf_counter() - t
        if tracer:
            tracer.end(op_span)
        t = time.perf_counter()
        if ok:
            try:
                wl.check(op, out)
            except Exception as e:
                ok = False
                failures.append(f"{op.label}{op.key}: check failed: {e}")
        check_s += time.perf_counter() - t
        return dt, ok

    setup_ops = []  # (label, ok)
    t = time.perf_counter()
    for op in wl.once():
        setup_ops.append((op.label, run(op)[1]))
    once_s = time.perf_counter() - t
    t = time.perf_counter()
    for op in wl.ops() if wl.WARMUP else ():
        setup_ops.append((f"warmup.{op.label}", run(op)[1]))
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T0 - check_s
    setup_check_s = check_s
    prep_spans = range(session_spans.stop, n_spans())

    gc0, cpu0 = jvm_counters(spark, jvm_pid)
    timed_from = n_spans()
    if tracer:
        tracer.overhead = 0.0
    lat, passes, labels = [], [], []
    while not passes or sum(passes) < args.seconds:
        pass_s = 0.0
        for op in wl.ops():
            dt, ok = run(op)
            lat.append(dt)
            labels.append((op.label, ok))
            pass_s += dt
        passes.append(pass_s)
    gc1, cpu1 = jvm_counters(spark, jvm_pid)
    timed = range(timed_from, n_spans())
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    info = wl.info()

    import gen

    failed = sum(1 for _, ok in labels + setup_ops if not ok)
    attempted = len(lat) + len(setup_ops)
    tail_v, tail_p = tail(lat)
    for f in failures:
        print("perfbench: FAILED " + f, file=sys.stderr)
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "resources": res, "input_digest": gen.digest(ctx.src),
        "reported": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": statistics.median(passes), "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s", "percentile": round(tail_p, 1),
                          "samples": len(lat)},
            "op_error_rate": {"value": failed / attempted, "unit": "failed/attempted"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            **({"store_bytes_per_edge": {"value": info.pop("store_bytes_per_edge"), "unit": "bytes"}}
               if "store_bytes_per_edge" in info else {}),
        },
        "passes": len(passes), "pass_s": passes, "ops": len(lat),
        "setup_ops": [lb for lb, _ in setup_ops],
        "setup": {"session_s": session_s, "generate_s": generate_s, "prepare_s": prepare_s,
                  "once_s": once_s, "warmup_s": warmup_s, "check_s": setup_check_s},
        "check_s": check_s - setup_check_s,
        "op_latency_s": {lb: round(statistics.median([d for (l2, _), d in zip(labels, lat) if l2 == lb]), 4)
                         for lb in dict.fromkeys(lb for lb, _ in labels)},
        **info,
    }
    if args.trace:
        import layers

        n = len(passes)
        values = layers.aggregate(tracer, timed, [session_spans, prep_spans], n)
        values["jvm.gc_s"] = (gc1 - gc0) / n
        values["jvm.cpu_s"] = (cpu1 - cpu0) / n
        values["trace.overhead_s"] = tracer.overhead / n
        t0 = tracer.spans[0].start if tracer.spans else 0.0
        details["spans"] = [[s.name, s.kind, round(s.start - t0, 6), round(s.end - t0, 6), s.parent, s.op]
                            for s in tracer.spans]
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.metric_units().items()}
    else:
        metrics = {k: details["reported"][k] for k in END_TO_END}
    return details, metrics, failed, attempted


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the program package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    res = host_resources()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    set_env(work, res)
    os.chdir(work)
    started: list = []  # undo steps, run in reverse order
    try:
        details, metrics, failed, attempted = measure(args, res, work, started)
    finally:
        for undo in reversed(started):
            undo()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
