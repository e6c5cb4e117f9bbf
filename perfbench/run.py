"""Benchmark of the recsys engine: one command, two seeded workloads.

    python3 perfbench/run.py --workload ml1m|registry --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run makes its inputs from ``--seed``,
sets up (Spark session, inputs, warm-up), measures for at least ``--seconds``
seconds (always at least one whole round or pass), checks every output, and
prints a report followed by one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything it writes goes under
``.perfbench_work/`` in the checkout, which it removes on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

START = time.perf_counter()
ROOT = os.getcwd()
# import the engine and the benchmark as packages of the checkout root
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
else:
    sys.path.insert(0, ROOT)

# end-to-end metric -> unit (BENCHMARK.json holds the bounds)
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "answered_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYERS = (
    "pipeline.preprocess", "pipeline.feature_engi", "pipeline.terms",
    "recall.vectors", "rank.model", "sync.save", "serve.recommend",
    "sync.refresh", "queries", "queries_ml", "queries_ext",
    "queries_analytics", "queries_curation", "queries_web",
)
LAYER_FIELDS = {"construct_s": "s", "execute_s": "s", "py4j_calls": "count", "jobs": "count"}
# spans the benchmark opens around a whole unit of work; their self time is
# the client's own share of the timed region (request frames, glue)
ROOT_SPANS = ("workload.offline_pass", "serve.request", "registry.pass")
SETUP_LAYERS = {"session.start_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s"}
INPUT_REPS = 3  # input generation repeats; setup reports the median
DRIVER_MEMORY = "2g"


def per_layer_units() -> dict[str, str]:
    from perfbench.engine import EXEC_METRICS

    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(SETUP_LAYERS)
    units["client.self_s"] = "s"
    exec_units = {"exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
                  "exec.python_bytes": "B", "exec.spill_bytes": "B",
                  "exec.tasks": "count", "exec.coalesced_stages": "count",
                  "exec.task_skew": "ratio"}
    units.update({m: exec_units.get(m, "s") for m in EXEC_METRICS})
    units["trace.overhead_s"] = "s"
    units["trace.overhead_share"] = "ratio"
    return units


def configure_env(work: str) -> dict[str, str]:
    """Fit Spark to this machine; keep every file it writes under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(settings)
    confs = {
        # the whole heap resident from the start: peak RSS then reflects the
        # heap size, not how far G1 happened to grow or touch it (which
        # spread runs by 30%)
        # (-XX:-UsePerfData: no hsperfdata file in the system temp directory)
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and query of a run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}='{v}'" for k, v in confs.items()) + " pyspark-shell"
    )
    return {**settings, **confs}


def tail(xs: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it (nearest rank).
    Under twenty samples no percentile has ten beyond it; then the p90
    interpolated between the two nearest samples, which the maximum of a
    handful of samples would make a single, noisier sample."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        k = n - 10  # 1-based rank with ten samples above it
        return s[k - 1], f"p{100 * k / n:.1f} of {n}"
    if n == 1:
        return s[0], "the only sample"
    return statistics.quantiles(s, n=10, method="inclusive")[-1], f"p90 interpolated, {n} samples"


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM and its descendants."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is None:
        return total_kb / 1024
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    todo = [jvm_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    from perfbench import engine, workloads as W
    from perfbench.tracing import Tracer

    settings = configure_env(work)
    from recsys_pipeline_spark.session import get_spark  # fails if the engine is absent

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    res = W.Result()
    layer: dict[str, float] = {}
    report: dict = {"workload": args.workload, "seed": args.seed, "settings": settings}
    try:
        # inputs: generated INPUT_REPS times, byte-identical each time
        gen = W.ml1m_inputs if args.workload == "ml1m" else W.registry_inputs
        times, blobs = [], []
        for rep in range(INPUT_REPS):
            t = time.perf_counter()
            made = gen(args.seed, os.path.join(work, f"in{rep}"))
            times.append(time.perf_counter() - t)
            root = os.path.join(work, f"in{rep}")
            blobs.append(_tree_bytes(root))
        res.op(["same seed wrote different bytes"] if any(b != blobs[0] for b in blobs) else [],
               "input generation")
        inputs_s = statistics.median(times)

        tr = Tracer(spark.sparkContext if args.trace else None)
        if args.workload == "ml1m":
            warm_s, measured_s = _ml1m(spark, tr, args, made, work, res, report)
        else:
            warm_s, measured_s = _registry(spark, tr, args, made, res)
        tr.uninstall()

        setup_s = (t0 - START) + session_s + inputs_s + warm_s
        op_tail, tail_desc = tail(res.op_s)
        loop_s = sum(res.op_s)
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(res.pass_s),
            "op_p50_s": statistics.median(res.op_s),
            "op_tail_s": op_tail,
            "answered_per_s": res.answered / loop_s,
            "peak_rss_mb": peak_rss_mb(jvm.pid if jvm else None),
        }
        report.update(tail=tail_desc, passes=res.pass_s,
                      ops=[(n, round(x, 4)) for n, x in zip(res.op_names, res.op_s)],
                      refresh_s=res.refresh_s, measured_s=measured_s, digests=res.digests,
                      failures=res.failures)
        if args.trace:
            tr.count_jobs()
            totals = tr.report()
            layer = dict.fromkeys(per_layer_units(), 0.0)
            layer.update({k: v for k, v in totals.items() if k in layer})
            layer["client.self_s"] = sum(totals.get(f"{r}.self_s", 0.0) for r in ROOT_SPANS)
            report["self_s"] = {k[: -len(".self_s")]: v for k, v in totals.items()
                                if k.endswith(".self_s")}
            layer.update({"session.start_s": session_s, "setup.inputs_s": inputs_s,
                          "setup.warmup_s": warm_s})
            with tr.paused():
                layer.update(engine.collect(spark))
            layer["trace.overhead_s"] = tr.bookkeeping_s
            layer["trace.overhead_share"] = tr.bookkeeping_s / measured_s
            report["spans"] = [
                dict(id=sp.sid, layer=sp.layer, phase=sp.phase, parent=sp.parent,
                     request=sp.request, start=round(sp.start - t0, 6),
                     end=round(sp.end - t0, 6), py4j=sp.py4j, jobs=sp.jobs)
                for sp in tr.spans.values()
            ]
        report["end_to_end"] = e2e
        return dict(res=res, e2e=e2e, layer=layer, report=report)
    finally:
        stop_spark(spark)


def _tree_bytes(root: str) -> list[tuple[str, bytes]]:
    out = []
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                out.append((os.path.relpath(os.path.join(d, f), root), fh.read()))
    return out


def _ml1m(spark, tr, args, raw, work, res, report):
    from perfbench import workloads as W

    tr.install()
    t = time.perf_counter()
    with tr.span("workload.offline_pass", "wall"):
        try:
            h = W.offline_pass(spark, tr, raw, work)
            err = None
        except Exception as e:
            h, err = None, f"{type(e).__name__}: {e}"
    res.pass_s.append(time.perf_counter() - t)
    if err:
        res.op([err], "offline pass")
        raise RuntimeError(f"offline pass failed: {err}")
    # untimed: the offline checks run beside the serve set-up (state load)
    # and the first round's batch reference
    t = time.perf_counter()
    with tr.paused(), ThreadPoolExecutor(1) as pool:
        check = pool.submit(W.check_offline, spark, raw, h)
        state = W.ServeState(spark, h, args.seed, work)
        warm_s = time.perf_counter() - t
        planned = W.plan_round(state)
        problems, res.digests = check.result()
    res.op(problems, "offline pass")
    report["untimed_checks_s"] = time.perf_counter() - t

    t = time.perf_counter()
    rounds = 0
    while rounds == 0 or time.perf_counter() - t < args.seconds:
        W.serve_round(state, tr, res, rounds * len(W.ROUND), planned if rounds == 0 else None)
        rounds += 1
    report["rounds"] = rounds
    return warm_s, sum(res.pass_s) + sum(res.op_s) + sum(res.refresh_s)


def _registry(spark, tr, args, sf_dir, res):
    from perfbench import workloads as W

    t = time.perf_counter()
    ref = W.registry_check_pass(spark, sf_dir, res)
    warm_s = time.perf_counter() - t
    tr.install()
    t = time.perf_counter()
    while len(res.pass_s) < W.REGISTRY_PASSES or time.perf_counter() - t < args.seconds:
        W.registry_pass(spark, tr, sf_dir, ref, res)
    return warm_s, sum(res.pass_s)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ml1m", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    res, report = out["res"], out["report"]
    report["wall_s"] = time.perf_counter() - START
    report["failed_ops_ratio"] = res.failed / res.attempted
    print(json.dumps(report, indent=1, sort_keys=True, default=str))
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in out["layer"].items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in out["e2e"].items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ops_ratio = {report['failed_ops_ratio']:.6g} ({res.failed}/{res.attempted})")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
