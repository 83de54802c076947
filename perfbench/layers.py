"""Traced-run instrumentation and per-layer metrics for the benchmark.

Spans are recorded from the benchmark's side of each layer boundary (the
session build, each registered query function call, each sink call) and
from Spark's own records, read right after every query run:

* jobs and stages from the application status store, for the job-id range
  the run produced (the store keeps only ``spark.ui.retainedJobs`` /
  ``retainedStages`` entries, so reading late would lose jobs of the
  iterative workloads);
* SQL executions from the SQL status store, for the Python-boundary
  metrics (``PythonSQLMetrics``) of ``mapInArrow``/``mapInPandas`` nodes;
* Catalyst phase times from ``queryExecution().tracker()`` of the
  DataFrame the query function returned.

Spans live in memory and are written out once, when the run ends.

Layers (module names of the engine), their metrics, and the end-to-end
metric each should move, on which workload (graph: ``graph_text_store``):

================  ======================================  ===================
layer             metrics                                 should move
================  ======================================  ===================
session           session.build_s                         setup_s, both
process           process.peak_rss_mb (VmHWM of driver,   (memory; not gated)
                  JVM and Python workers)
queries           queries.fn_s, queries.fn_jobs (plan     warm_pass_s on
                  building and eager work inside the      graph; little on
                  query function)                         clif_etl
catalyst          catalyst.parsing_ms (SQL-string         query_s_p50 on
                  queries), .analysis_ms,                 clif_etl;
                  .optimization_ms, .planning_ms          cold_pass_s, both
scheduler         scheduler.jobs, .stages, .tasks,        warm_pass_s on
                  .idle_core_frac                         graph
operators.graph   ckpt.jobs, ckpt.job_share (jobs whose   warm_pass_s on
lineage cuts      call site is (local)checkpoint)         graph
executor          executor.run_s, .cpu_s, .gc_s,          warm_pass_s on
                  .input_bytes, .shuffle_read_bytes,      clif_etl
                  .shuffle_write_bytes, .spill_bytes
python            python.total_s, .boot_s, .bytes_sent,   warm_pass_s on
(mapInArrow)      .bytes_received, .rows_received         graph; zero on
                                                          clif_etl
streaming stores  streaming.bytes_written,                warm_pass_s and
                  .files_written, .bytes_left,            process.peak_rss_mb
                  .write_amp                              on graph; zero on
                                                          clif_etl
io sink           io.write_s, io.bytes_written,           warm_pass_s on
                  sink.collect_s                          clif_etl
================  ======================================  ===================

Self times split the wall time of one traced pass into disjoint parts:
``self_s.queries`` (inside the query function, outside any Spark job or
Catalyst phase), ``self_s.catalyst``, ``self_s.scheduler`` (Spark jobs
running, lineage cuts excepted), ``self_s.ckpt``, ``self_s.io`` and
``self_s.sink`` (inside the sink call, outside jobs and phases),
``self_s.trace`` (reading Spark's stores) and ``trace.gap_s`` (the loop
between query runs); they add up to ``trace.pass_s``. Catalyst phases are
those of the returned DataFrame: for a parquet sink the write command plans
in a QueryExecution of its own, whose phases count as ``self_s.io``.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span list; the index of a span is its id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            run_id: str | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, run_id, attrs))
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


# --- interval arithmetic for self times --------------------------------------

def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


# --- Spark status readers ---------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

#: PythonSQLMetrics display names -> per-layer metric names.
PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def parse_metric(text: str) -> float:
    """Value of one SQL-store metric string: '2.5 s', '54.3 KiB', '2,500',
    or the multi-task form whose second line starts with the total."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkProbe:
    """Reads Spark's status, SQL and QueryExecution stores after a query
    run."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = jvm.scala.jdk.javaapi.CollectionConverters
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.sql_last = max((e.executionId() for e in self._executions(1)),
                            default=-1)

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def next_job_id(self) -> int:
        # py4j hands the AtomicInteger over as its int value
        return int(self.sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        # the status stores are fed asynchronously by the listener bus
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, lo: int, hi: int) -> tuple[list[dict], int]:
        """Jobs with ids in [lo, hi) and their stages; the second value
        counts ids the store no longer (or not yet) accounts for."""
        out, errors = [], 0
        for jid in range(lo, hi):
            try:
                job = self._json(self.store.job(jid))
                stages = [self._json(self.store.lastStageAttempt(s))
                          for s in job["stageIds"]]
            except Py4JJavaError:
                errors += 1
                continue
            if job.get("completionTime") is None:
                errors += 1
                continue
            job["stages"] = stages
            out.append(job)
        return out, errors

    def _executions(self, n: int) -> list:
        """The last ``n`` SQL executions the store holds, in id order."""
        count = int(self.sql.executionsCount())
        n = min(n, count)
        return list(self.conv.asJava(self.sql.executionsList(count - n, n)))

    def new_executions(self) -> tuple[list, int]:
        """SQL executions with ids above the last one seen, and 1 when the
        store had already dropped some of them (it keeps only
        ``spark.sql.ui.retainedExecutions``), else 0."""
        n = 16
        while True:
            execs = self._executions(n)
            if len(execs) < n or execs[0].executionId() <= self.sql_last:
                break
            n *= 2
        new = [e for e in execs if e.executionId() > self.sql_last]
        lost = int(bool(new) and self.sql_last >= 0
                   and new[0].executionId() > self.sql_last + 1)
        if new:
            self.sql_last = new[-1].executionId()
        return new, lost

    def python_metrics(self) -> tuple[dict[str, float], int]:
        """PythonSQLMetrics summed over SQL executions since the last call,
        and the count of executions lost to the store's limit."""
        total = dict.fromkeys([*PYTHON_METRICS.values(),
                               "python.rows_received"], 0.0)
        execs, lost = self.new_executions()
        for e in execs:
            names = {m["accumulatorId"]: m["name"]
                     for m in self._json(e.metrics())}
            if "data sent to Python workers" not in names.values():
                continue
            eid = e.executionId()
            values = {int(k): v for k, v in
                      self._json(self.sql.executionMetrics(eid)).items()}
            for acc, name in names.items():
                if name in PYTHON_METRICS and acc in values:
                    total[PYTHON_METRICS[name]] += parse_metric(values[acc])
            # rows received: the output-row count of the Python nodes only
            for node in self.conv.asJava(self.sql.planGraph(eid).allNodes()):
                ms = self._json(node.metrics())
                if any(m["name"] == "data sent to Python workers" for m in ms):
                    for m in ms:
                        if (m["name"] == "number of output rows"
                                and m["accumulatorId"] in values):
                            total["python.rows_received"] += parse_metric(
                                values[m["accumulatorId"]])
        return total, lost

    def phases(self, df) -> dict[str, tuple[float, float]]:
        """Catalyst phase intervals (epoch s) of ``df``'s QueryExecution."""
        raw = self._json(df._jdf.queryExecution().tracker().phases())
        return {k: (v["startTimeMs"] / 1e3, v["endTimeMs"] / 1e3)
                for k, v in raw.items()}


def _cover(span, phases, ckpt, jobs) -> tuple[float, float, float, float]:
    """Split ``span`` into (self, catalyst, scheduler, ckpt) seconds."""
    lo, hi = span
    p, c, j = clip(phases, lo, hi), clip(ckpt, lo, hi), clip(jobs, lo, hi)
    covered, spark = length(p + c + j), length(c + j)
    return (hi - lo - covered, covered - spark, spark - length(c),
            length(c))


#: Every per-layer metric a traced run prints, with its unit.
METRICS = {
    "session.build_s": "s", "process.peak_rss_mb": "MB",
    "queries.fn_s": "s", "queries.fn_jobs": "count",
    "catalyst.parsing_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.idle_core_frac": "ratio",
    "ckpt.jobs": "count", "ckpt.job_share": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.input_bytes": "bytes", "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes", "executor.spill_bytes": "bytes",
    "python.total_s": "s", "python.boot_s": "s", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.rows_received": "count",
    "streaming.bytes_written": "bytes", "streaming.files_written": "count",
    "streaming.bytes_left": "bytes", "streaming.write_amp": "ratio",
    "io.write_s": "s", "io.bytes_written": "bytes", "sink.collect_s": "s",
    "self_s.queries": "s", "self_s.catalyst": "s", "self_s.scheduler": "s",
    "self_s.ckpt": "s", "self_s.io": "s", "self_s.sink": "s",
    "self_s.trace": "s", "trace.gap_s": "s", "trace.pass_s": "s",
    "trace.overhead_s": "s", "trace.errors": "count",
}


def _pass_metrics(tracer: Tracer, t_wall: float, wall: float, records,
                  before, after, cpus: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass; records its spans."""
    m = dict.fromkeys(METRICS, 0.0)
    pass_id = tracer.add("pass", t_wall, t_wall + wall, None)
    all_jobs, store_in, seen = [], 0, set()
    for rec in records:
        run = rec["run_id"]
        qid = tracer.add("query", *rec["q"], pass_id, run, query=rec["name"],
                         kind=rec["kind"], **rec["python"])
        fid = tracer.add("queries.fn", *rec["fn"], qid, run)
        sink = "io.write" if rec["kind"] == "sink" else "sink.collect"
        sid = tracer.add(sink, *rec["sink"], qid, run)
        tracer.add("trace.read", *rec["read"], pass_id, run)
        phases = []
        for phase, (a, b) in rec["phases"].items():
            if f"catalyst.{phase}_ms" in m:
                m[f"catalyst.{phase}_ms"] += (b - a) * 1e3
            parent = fid if a < rec["fn"][1] else sid
            tracer.add(f"catalyst.{phase}", a, b, parent, run)
            phases.append((a, b))
        ckpt, jobs, fn_in, fn_out = [], [], 0, 0
        for job in rec["jobs"]:
            a, b = job["submissionTime"] / 1e3, job["completionTime"] / 1e3
            in_fn = a < rec["fn"][1]
            is_ckpt = job["name"].split(" at ")[0] in (
                "localCheckpoint", "checkpoint")
            jid = tracer.add("spark.job", a, b, fid if in_fn else sid, run,
                             job_id=job["jobId"], call_site=job["name"],
                             status=job["status"])
            (ckpt if is_ckpt else jobs).append((a, b))
            m["scheduler.jobs"] += 1
            m["ckpt.jobs"] += is_ckpt
            m["queries.fn_jobs"] += in_fn
            for st in job["stages"]:
                if st["status"] not in ("COMPLETE", "FAILED") or \
                        st["stageId"] in seen:
                    continue
                seen.add(st["stageId"])
                tracer.add("spark.stage",
                           (st["submissionTime"] or 0) / 1e3,
                           (st["completionTime"] or 0) / 1e3, jid, run,
                           stage_id=st["stageId"], tasks=st["numTasks"],
                           run_ms=st["executorRunTime"])
                m["scheduler.stages"] += 1
                m["scheduler.tasks"] += (st["numCompleteTasks"]
                                         + st["numFailedTasks"])
                m["executor.run_s"] += st["executorRunTime"] / 1e3
                m["executor.cpu_s"] += st["executorCpuTime"] / 1e9
                m["executor.gc_s"] += st["jvmGcTime"] / 1e3
                m["executor.input_bytes"] += st["inputBytes"]
                m["executor.shuffle_read_bytes"] += st["shuffleReadBytes"]
                m["executor.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["executor.spill_bytes"] += (st["memoryBytesSpilled"]
                                              + st["diskBytesSpilled"])
                if in_fn:
                    fn_in += st["inputBytes"]
                    fn_out += st["outputBytes"]
                elif rec["kind"] == "sink":
                    m["io.bytes_written"] += st["outputBytes"]
        # writes inside the query function are the engine's stores
        m["streaming.bytes_written"] += fn_out
        store_in += fn_in if fn_out else 0
        all_jobs += ckpt + jobs
        for span, self_layer in ((rec["fn"], "queries"),
                                 (rec["sink"], sink.split(".")[0])):
            own, cat, sched, cut = _cover(span, phases, ckpt, jobs)
            m[f"self_s.{self_layer}"] += own
            m["self_s.catalyst"] += cat
            m["self_s.scheduler"] += sched
            m["self_s.ckpt"] += cut
        m["self_s.trace"] += rec["read"][1] - rec["read"][0]
        m["queries.fn_s"] += rec["fn_s"]
        m["io.write_s" if rec["kind"] == "sink" else "sink.collect_s"] += \
            rec["sink_s"]
        m["trace.errors"] += rec["errors"]
        for k, v in rec["python"].items():
            m[k] += v
    job_wall = length(all_jobs)
    m["scheduler.idle_core_frac"] = (
        1 - m["executor.run_s"] / (cpus * job_wall) if job_wall else 0.0)
    m["ckpt.job_share"] = (m["ckpt.jobs"] / m["scheduler.jobs"]
                           if m["scheduler.jobs"] else 0.0)
    m["streaming.files_written"] = after[2]
    m["streaming.bytes_left"] = after[1] - before[1]
    m["streaming.write_amp"] = (m["streaming.bytes_written"] / store_in
                                if store_in else 0.0)
    m["trace.pass_s"] = wall
    m["trace.gap_s"] = wall - sum(
        v for k, v in m.items() if k.startswith("self_s."))
    return m


def layer_metrics(traced, tracer: Tracer, cpus: int
                  ) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the median traced pass (by wall time), so that
    its self times add up to its ``trace.pass_s``; trace errors summed over
    every traced pass."""
    passes = [_pass_metrics(tracer, *t, cpus) for t in traced]
    walls = [p["trace.pass_s"] for p in passes]
    mid = passes[walls.index(statistics.median_low(walls))]
    mid["trace.errors"] = sum(p["trace.errors"] for p in passes)
    return {k: (float(v), METRICS[k]) for k, v in sorted(mid.items())}
