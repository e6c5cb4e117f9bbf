"""Engine metrics read from Spark's status stores after the timed region.

Two stores, both populated with the UI off:

- the core store (``SparkContext.statusStore``): per stage, task count, run
  time, GC time, shuffle bytes and spill; per task, durations (for skew);
- the SQL store (``sharedState().statusStore()``): per SQL execution, the
  operator metrics ("scan time", "sort time", ...) as formatted strings.

Only jobs whose group a tracer span set (``pb-<span id>``) are summed, with
their stages and SQL executions, so set-up, warm-up and output checks never
reach a workload's figures. Reads go through py4j and cost tens of
milliseconds per hundred stages, which is why they run once, after the
listener bus has drained.
"""

from __future__ import annotations

import re
import statistics

_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")
_MAP_KEY = re.compile(r"(?:^|, )(\d+) -> ")
_QUANTITY = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

# SQL operator metric name -> exec.* metric it is summed into
SQL_METRICS = {
    "scan time": "exec.scan_s",
    "time in aggregation build": "exec.agg_s",
    "sort time": "exec.sort_s",
    "data sent to Python workers": "exec.python_bytes",
    "data returned from Python workers": "exec.python_bytes",
}

EXEC_METRICS = (
    "exec.scan_s", "exec.agg_s", "exec.sort_s", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.tasks", "exec.python_bytes",
    "exec.spill_bytes", "exec.gc_s", "exec.task_skew", "exec.coalesced_stages",
)


def parse_total(text: str) -> float:
    """Total of one formatted SQL metric value, in seconds for timings and
    bytes for sizes: ``"total (min, med, max ...)\\n129 ms (47 ms, ...)"``
    gives 0.129, ``"1.5 KiB"`` gives 1536.0, ``"100,000"`` gives 100000.0."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _QUANTITY.match(line.strip())
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    if unit in _SIZE_B:
        return num * _SIZE_B[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return num


def parse_scala_map(text: str) -> dict[int, str]:
    """``Map(3 -> a, 7 -> b, c)`` (as Scala prints it) -> {3: 'a', 7: 'b, c'}."""
    body = text[text.index("(") + 1 : text.rindex(")")]
    parts = _MAP_KEY.split(body)
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


def parse_int_seq(text: str) -> list[int]:
    """``List(1, 2, 3)`` / ``ArraySeq(4)`` -> [1, 2, 3] / [4]."""
    body = text[text.index("(") + 1 : text.rindex(")")]
    return [int(x) for x in body.split(",") if x.strip()]


def items(seq) -> list:
    """Elements of a Scala ``Seq``, as the store methods return them."""
    return [seq.apply(i) for i in range(seq.size())]


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event to the stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def traced_jobs(core, prefix: str = "pb-") -> dict[int, list[int]]:
    """Job id -> stage ids, for the jobs whose group starts with ``prefix``."""
    out = {}
    for j in items(core.jobsList(None)):
        group = j.jobGroup()
        if group.isDefined() and group.get().startswith(prefix):
            out[j.jobId()] = parse_int_seq(j.stageIds().toString())
    return out


def collect(spark) -> dict[str, float]:
    """Sum the exec.* metrics over the traced jobs."""
    drain(spark)
    sc = spark.sparkContext
    core = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_METRICS, 0.0)
    jobs = traced_jobs(core)
    wanted = {s for sids in jobs.values() for s in sids}

    stages: dict[int, dict] = {}
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for s in items(core.stageList(None, False, False, no_quantiles, None)):
        sid = s.stageId()
        if sid not in wanted or str(s.status()) != "COMPLETE":
            continue
        st = dict(
            attempt=s.attemptId(), tasks=s.numTasks(), run_ms=s.executorRunTime(),
            read=s.shuffleReadBytes(), write=s.shuffleWriteBytes(),
            spill=s.memoryBytesSpilled() + s.diskBytesSpilled(), gc_ms=s.jvmGcTime(),
        )
        stages[sid] = st
        out["exec.tasks"] += st["tasks"]
        out["exec.shuffle_read_bytes"] += st["read"]
        out["exec.shuffle_write_bytes"] += st["write"]
        out["exec.spill_bytes"] += st["spill"]
        out["exec.gc_s"] += st["gc_ms"] / 1000.0

    if stages:
        slowest = max(stages, key=lambda k: stages[k]["run_ms"])
        durs = [d.get() for d in (t.duration() for t in items(
            core.taskList(slowest, stages[slowest]["attempt"], 1_000_000))) if d.isDefined()]
        med = statistics.median(durs) if durs else 0
        out["exec.task_skew"] = max(durs) / med if med else 1.0

    sql = spark._jsparkSession.sharedState().statusStore()
    parallelism = sc.defaultParallelism
    for e in items(sql.executionsList()):
        mine_jobs = [j for j in parse_scala_map(e.jobs().toString()) if j in jobs]
        if not mine_jobs:
            continue
        metrics = {int(acc): SQL_METRICS[name]
                   for name, acc, _ in _PLAN_METRIC.findall(e.metrics().toString())
                   if name in SQL_METRICS}
        if metrics:
            values = parse_scala_map(sql.executionMetrics(e.executionId()).toString())
            for acc, key in metrics.items():
                if acc in values:
                    out[key] += parse_total(values[acc])
        sids = {s for j in mine_jobs for s in jobs[j]}
        out["exec.coalesced_stages"] += coalesced([stages[s] for s in sids if s in stages],
                                                  parallelism)
    return out


def coalesced(stages: list[dict], parallelism: int) -> int:
    """Post-shuffle stages of one query that run on fewer tasks than the
    default parallelism while carrying most of the query's task time: the
    signature of AQE coalescing a compute-dense stage by bytes."""
    mine = stages
    total = sum(s["run_ms"] for s in mine)
    return sum(
        1 for s in mine
        if s["read"] > 0 and s["tasks"] < parallelism and total and s["run_ms"] > total / 2
    )
