"""Run one benchmark workload in a fresh JVM and print its metrics.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The process generates the workload's
inputs from ``--seed``, starts one Spark session on ``local[nproc/2]``,
runs the program's warm-up classes that the workload uses
(``warmups.py``) and one untimed warm-up op, and then runs the
workload's operation one at a time (one closed-loop client) until
``--seconds`` have passed.  Outputs are checked after the timed
window.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (medians over the timed
ops): ``op_s``, ``setup_s`` (process start to the first timed op,
without input generation: session, warm-ups and the warm-up op),
``cpu_s`` (process-tree CPU per op) and ``peak_rss_mb`` (summed PSS of
the JVM and the Python workers).

``--trace 1`` runs the same way with a Spark event log and with the
program's entry points wrapped in spans, and reports the per-layer
metrics that ``tracing.fold`` derives (medians over the ops of per-op
sums).  ``trace.op_s`` is the traced op time, to set against ``op_s``
of an untraced run; ``trace.overhead_s`` is the time per op the tracer
spends in its own bookkeeping.  An execution stamp (cores, heap, host
steal and iowait, versions, input sizes) goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("movie_recommendation_engine_spark/__main__.py", "bench.py",
                 "tools/check_oracle.py")
REGISTRY_FAMILIES = ("wall_s", "off_stage_s", "jobs", "exec_cpu_s", "shuffle_mb", "spill_mb")


class WarmupFailed(RuntimeError):
    pass


def _abort_on_warmup_failure(msg: str) -> None:
    # warmups report a failed class through this callback and carry on
    raise WarmupFailed(msg)


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _heap_mb() -> int:
    """An eighth of the host's memory, at most 8 GiB: the inputs are
    small and the host's memory is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    return min(8192, total_kb // 1024 // 8)


def _pin_context(work: str) -> dict:
    """Environment every run shares; read by the program and its workers."""
    # half the cores: the Python workers, JIT and GC threads take the
    # rest, so the process tree does not oversubscribe the host
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    heap = f"{_heap_mb()}m"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": local,
        # spark-submit's launcher JVM: no perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cores": cores, "heap": heap, "tmp": tmp}


def _session(ctx: dict, work: str, event_log: str | None = None):
    from movie_recommendation_engine_spark import session

    conf = {
        # a fixed-size heap: no resizing, so peak RSS does not follow
        # when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{ctx['heap']} -Djava.io.tmpdir={ctx['tmp']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = session.get_spark(
        "perfbench", master=f"local[{ctx['cores']}]",
        shuffle_partitions=ctx["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark, workload, tracer) -> None:
    """The program's warm-up classes that the workload's ops use, each
    in its own span; a failed class aborts set-up."""
    from movie_recommendation_engine_spark import warmups

    for name in workload.warmups:
        args = (spark, workload.warm_dir) if name == "warm_parquet" else (spark,)
        with tracer.span(f"warmups.{name}"):
            getattr(warmups, name)(*args, log=_abort_on_warmup_failure)


def _timed_ops(workload, spark, seconds: float, tracer):
    """Closed loop: one untimed warm-up op, then one op at a time until
    ``seconds`` have passed; an op that outlasts ``seconds`` is the only
    timed one.  The warm-up op's outputs are checked with the rest."""
    import procfs

    ops, results, failures = [], {}, []
    with tracer.span("warmup_op"):
        try:
            results[-1] = workload.op(spark, -1)
        except Exception as ex:
            failures.append((-1, f"{type(ex).__name__}: {ex}"))
    t_start = time.perf_counter()
    i = 0
    while True:
        tracer.op = i
        cpu0, w0, e0 = procfs.tree_cpu_seconds(), time.perf_counter(), time.time()
        try:
            results[i] = workload.op(spark, i)
        except Exception as ex:  # a failed op is counted, the loop goes on
            failures.append((i, f"{type(ex).__name__}: {ex}"))
        wall = time.perf_counter() - w0
        ops.append({"i": i, "wall": wall, "cpu": procfs.tree_cpu_seconds() - cpu0,
                    "start": e0, "end": e0 + wall})
        tracer.op = None
        i += 1
        if time.perf_counter() - t_start >= seconds:
            return ops, results, failures


def _stop() -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    import procfs
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := procfs.descendants(os.getpid())) and time.time() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _setup_spans() -> list[str]:
    from workloads import WORKLOADS

    classes = dict.fromkeys(c for w in WORKLOADS.values() for c in w.warmups)
    return ["session.get_spark", *(f"warmups.{c}" for c in classes), "warmup_op"]


def _per_layer(tracer, ops, jobs, stages) -> dict:
    import tracing
    from workloads import BREADTH_QUERIES, RECOMMENDER_SPANS

    spans = tracer.spans
    # jobs outside the ops (the context's own warm-up) belong to no op
    jobs = [j for j in jobs if any(o["start"] <= j.submitted <= o["end"] for o in ops)]
    rows, lost = tracing.fold(jobs, stages, [s for s in spans if s.op is not None])
    per_op: dict[tuple[int, str], dict] = {}
    for s in spans:
        if s.op is None:
            continue
        acc = per_op.setdefault((s.op, s.name), dict.fromkeys(tracing.FAMILIES, 0.0))
        for fam, v in rows[s.sid].items():
            acc[fam] += v
    def med(name: str, fam: str) -> float:
        vals = [per_op[(o["i"], name)][fam] for o in ops if (o["i"], name) in per_op]
        return statistics.median(vals) if vals else 0.0

    out = {}
    for name in RECOMMENDER_SPANS:
        for fam in tracing.FAMILIES:
            out[f"{name}.{fam}"] = med(name, fam)
    for q in BREADTH_QUERIES:
        for fam in REGISTRY_FAMILIES:
            out[f"registry.{q}.{fam}"] = med(f"registry.{q}", fam)
    for name in _setup_spans():
        out[f"{name}.wall_s"] = sum(s.end - s.start for s in spans
                                    if s.name == name and s.op is None)
    uncovered = []
    for o in ops:
        top = [(s.start, s.end) for s in spans if s.op == o["i"] and s.parent is None]
        uncovered.append(o["wall"] - tracing.union_length(top, o["start"], o["end"]))
    out["trace.uncovered_s"] = statistics.median(uncovered)
    out["trace.op_s"] = statistics.median(o["wall"] for o in ops)
    out["trace.overhead_s"] = statistics.median(tracer.overhead_s.get(o["i"], 0.0) for o in ops)
    out["trace.jobs_unattributed"] = float(len(lost))
    return out


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    import tracing
    from workloads import BREADTH_QUERIES, RECOMMENDER_SPANS

    def unit(fam):
        return "count" if fam == "jobs" else "MB" if fam.endswith("_mb") else "s"

    names = {f"{s}.{f}": unit(f) for s in RECOMMENDER_SPANS for f in tracing.FAMILIES}
    names.update({f"{s}.wall_s": "s" for s in _setup_spans()})
    names.update({f"registry.{q}.{f}": unit(f) for q in BREADTH_QUERIES
                  for f in REGISTRY_FAMILIES})
    names.update({"trace.uncovered_s": "s", "trace.op_s": "s", "trace.overhead_s": "s",
                  "trace.jobs_unattributed": "count"})
    return names


END_TO_END_UNITS = {"op_s": "s", "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def run(args, work: str, t_proc: float) -> dict:
    import procfs
    import tracing
    from pyspark import SparkContext
    from workloads import WORKLOADS

    from bench import _cpu_stat, _host_load

    ctx = _pin_context(work)
    workload = WORKLOADS[args.workload](work, args.seed)
    t0 = time.time()
    sizes = workload.generate()
    gen_s = time.time() - t0

    tracer = tracing.Tracer()
    event_log = os.path.join(work, "events") if args.trace else None
    with procfs.PeakRss() as rss:
        with tracer.span("session.get_spark"):
            spark = _session(ctx, work, event_log)
        _warm(spark, workload, tracer)
        if args.trace:
            jvm = SparkContext._gateway.proc.pid
            tracer.sc = spark.sparkContext
            tracer.pyworker_cpu = lambda: procfs.cpu_seconds(procfs.descendants(jvm))
            workload.wrap(tracer)
        load0, lt0 = _cpu_stat(), time.perf_counter()
        ops, results, failures = _timed_ops(workload, spark, args.seconds, tracer)
        host = _host_load(load0, _cpu_stat(), time.perf_counter() - lt0)

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": ctx["cores"], "heap": ctx["heap"],
        "inputs": sizes, "input_gen_s": round(gen_s, 3), "host_load": host,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "ops": [round(o["wall"], 4) for o in ops],
        "peak_rss_mb": round(rss.peak_mb, 1),
        "peak_worker_rss_mb": round(rss.peak_workers_mb, 1),
    }
    _stop()

    t0 = time.time()
    failures += workload.check(results)
    stamp["check_s"] = round(time.time() - t0, 3)
    for i, msg in failures:
        print(f"# perfbench failure in op {i}: {msg}", file=sys.stderr)
    print("# perfbench stamp " + json.dumps(stamp), file=sys.stderr)

    if args.trace:
        (log_file,) = os.listdir(event_log)
        jobs, stages = tracing.read_event_log(os.path.join(event_log, log_file))
        values = _per_layer(tracer, ops, jobs, stages)
        units = per_layer_units()
    else:
        values = {
            "op_s": statistics.median(o["wall"] for o in ops),
            "setup_s": ops[0]["start"] - t_proc - gen_s,
            "cpu_s": statistics.median(o["cpu"] for o in ops),
            "peak_rss_mb": rss.peak_mb,
        }
        units = END_TO_END_UNITS
    return {
        "correct": not failures,
        "attempted": len(ops) + 1,  # and the warm-up op
        "failed": len({i for i, _ in failures}),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    t_proc = _process_start_epoch()
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    # on SIGTERM, still stop the JVM and its workers and remove the inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # the JVM inherits fd 1 and logs there: keep stdout for the result
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        result = run(args, work, t_proc)
    finally:
        _stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(tmp_root)
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
