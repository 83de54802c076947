"""Benchmark of the clif_spark engine, driven from outside.

    python3 perfbench/run.py --workload clif_etl --seed 1 --seconds 15 --trace 0

One closed-loop client: a single driver thread runs the workload's registered
queries one after another on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may use), in a session built by ``session.build_session()`` with
the engine's shipped defaults. A run:

1. builds the session (``setup_s``, from process start);
2. generates the input tables once per checkout with ``scripts/gen_sf.py``
   (fixed content; ``--seed`` only sets the query order inside each pass);
3. computes each query's DuckDB oracle result once;
4. runs one cold pass and one untimed warm-up pass, then warm passes until
   ``--seconds`` have passed (at least three), each followed by one DuckDB
   pass over the same oracles;
5. checks every query run's output against its oracle: collected queries
   compare rows, parquet sinks are read back by DuckDB, both with the
   normalization of ``tests/test_oracle.py``; queries without an oracle
   get the rows-only check (the run must return).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and prints the per-layer metrics (see
``perfbench/layers.py``); its spans go to ``.perfbench/trace-*.jsonl``.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The line before it carries the run's host context (not gated).

Everything the run writes stays under ``.perfbench/`` in the checkout: the
store queries' ``tempfile.mkdtemp`` dirs, Spark's local dirs and the sinks
go to a per-run dir that is deleted on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import redirect_stdout


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

COLLECT, SINK = "collect", "sink"

#: Workload -> (why, scale factor of the generated tables, queries, each
#: collected or written to parquet through ``io.write_table``). Two small
#: workloads, because every run pays a fresh JVM and a cold pass and the
#: runs must fit a fixed time budget on a 4-core host. Scale factors follow
#: traced runs at sf 0.001, 0.01 and 0.1 on 4 cores. The sinks and the
#: executor scale with rows, so clif_etl runs at sf0.1. On graph_text_store
#: the component fixpoint (33 jobs a pass) and the Arrow ANN cost the same
#: at every sf (3.2 and 0.7 s at sf0.001, 3.7 and 0.8 s at sf0.1), the
#: store upsert grows from 2.8 to 5.4 s. With the ANN and the upsert at
#: sf0.1, the timings of five seeds spread by up to 0.31, above the bound,
#: so the workload runs at sf0.001.
WORKLOADS: dict[str, tuple[str, str, list[tuple[str, str]]]] = {
    "clif_etl": (
        "RCLIF ADT recomposition, window fill and lead episodes sunk to "
        "parquet plus a cohort aggregate, sf0.1: traced, Spark jobs 60% and "
        "sink 13% of a pass; no graph loop, store or Python boundary",
        "0.1",
        [("pipeline_adt", SINK), ("w2_downup_fill", SINK),
         ("w1_lead_episodes", SINK), ("q1_pricing_summary", COLLECT)]),
    "graph_text_store": (
        "connected-components fixpoint, Arrow ANN and streamed store "
        "upsert, sf0.001: traced, driver loops 49%, lineage cuts 4%, "
        "store upsert 37% and Python 4% of a pass; no parquet sink",
        "0.001",
        [("web_host_components", COLLECT), ("ann_cosine_topk_arrow", COLLECT),
         ("stream_partitioned_upsert", COLLECT)]),
}


def _load_module(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _calib_ms() -> float:
    """bench.py's host calibration: 200k chained md5, in ms."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return (time.perf_counter() - t0) * 1000


def _tree_stats(path: str, since: float = float("inf")
                ) -> tuple[int, int, int]:
    """(files, bytes, files modified at or after ``since``) under ``path``."""
    files = size = recent = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                st = os.stat(os.path.join(d, n))
            except OSError:
                continue
            files += 1
            size += st.st_size
            recent += st.st_mtime >= since
    return files, size, recent


def _children(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [c for c, pp in parent.items() if pp == cur]
        out += kids
        todo += kids
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def ensure_data(sf: str) -> str:
    """The input tables at ``sf``, generated once per checkout."""
    out = os.path.join(WORK, "data", f"sf{sf}")
    if not os.path.isdir(out):
        gen = _load_module("gen_sf",
                           os.path.join(ROOT, "scripts", "gen_sf.py"))
        tmp = tempfile.mkdtemp(prefix=f"sf{sf}-",
                               dir=os.path.join(WORK, "data"))
        with redirect_stdout(sys.stderr):
            gen.main(float(sf), tmp)
        os.rename(tmp, out)
    return out


def p90(samples: list[float]) -> float:
    """90th percentile (interpolated). The usual tail, the highest
    percentile with ten samples beyond it, would move with the number of
    passes a run completes, so a faster program would read a higher
    percentile; the percentile is fixed instead and the sample count
    printed with it."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


class Bench:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.tmp = os.path.join(run_dir, "tmp")
        self.sink = os.path.join(run_dir, "sink")
        _, self.sf, self.plan = WORKLOADS[args.workload]
        self.sf = args.sf or self.sf
        self.spark = None
        self.attempted = self.failed = 0

    # --- set-up --------------------------------------------------------------

    def build(self) -> float:
        from clif_spark.queries import collect_registry
        from clif_spark.session import build_session

        self.registry = collect_registry()
        self.spark = build_session(app_name="clif-spark-perfbench")
        setup = time.perf_counter() - T_START
        self.built_at = time.time()
        self.spark.sparkContext.setLogLevel("ERROR")
        return setup

    def stop(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    def load_inputs(self, tables, cpus: int) -> None:
        """The generated tables, a DuckDB connection with a view per table,
        and per query with an oracle its result, materialized once in that
        connection as ``oracle_<name>``."""
        import duckdb

        self.data = ensure_data(self.sf)
        con = self.duck = duckdb.connect()
        con.execute(f"PRAGMA threads={cpus}")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        self.oracle = set()
        for name, _ in self.plan:
            sql = self.registry[name].oracle
            if sql is not None:
                con.execute(f'CREATE TABLE "oracle_{name}" AS {sql}')
                self.oracle.add(name)
        self.oracle_rows: dict[str, tuple[list[str], list]] = {}

    # --- passes --------------------------------------------------------------

    def order(self, rng: random.Random) -> list[tuple[str, str]]:
        plan = list(self.plan)
        rng.shuffle(plan)
        return plan

    def run_query(self, name: str, kind: str):
        """One query run: the registered function call plus its sink.
        Returns (output or None, fn seconds, sink seconds, df)."""
        from clif_spark import io

        t0 = time.perf_counter()
        df = self.registry[name].fn(self.spark, self.data)
        t1 = time.perf_counter()
        if kind == SINK:
            out = os.path.join(self.sink, name)
            io.write_table(df, out)
        else:
            out = df.toPandas()
        return out, t1 - t0, time.perf_counter() - t1, df

    def check(self, name: str, kind: str, out) -> str | None:
        """None when ``out`` matches the oracle, else the reason.

        An output with the oracle's column names and types and the same
        multiset of values (compared by DuckDB as text) matches at once:
        on 100k-row outputs that takes about 0.2 s where the normalization
        in Python takes about 1.5 s, as long as a query run at sf0.1.
        Any other output is decided by the oracle test's normalization,
        which also accepts what that normalization forgives (float
        rounding, NaN as NULL, int and float of one column type)."""
        if name not in self.oracle:
            return None  # rows-only: the run returned
        con, ref = self.duck, f'"oracle_{name}"'
        if kind == SINK:
            got = f"read_parquet('{out}/*.parquet')"
        else:
            con.register("perfbench_out", out)
            got = "perfbench_out"
        try:
            if _identical(con, got, ref):
                return None
            if kind == SINK:
                out = con.execute(f"SELECT * FROM {got}").df()
        finally:
            if kind != SINK:
                con.unregister("perfbench_out")
        if name not in self.oracle_rows:
            pdf = con.execute(f"SELECT * FROM {ref}").df()
            self.oracle_rows[name] = (sorted(pdf.columns), self.rowset(pdf))
        cols, rows = self.oracle_rows[name]
        if sorted(out.columns) != cols:
            return f"columns {sorted(out.columns)} != {cols}"
        if len(out) != len(rows):
            return f"row count {len(out)} != {len(rows)}"
        if self.rowset(out) != rows:
            return "values differ"
        return None

    def run_pass(self, plan, traced: bool = False, pass_no: int = 0):
        """Run ``plan`` once, then check every output. Returns (pass wall
        s, seconds per passing query, per-query trace records)."""
        times, records, outputs = {}, [], []
        t_pass = time.perf_counter()
        for name, kind in plan:
            if traced:
                rec = self.traced_query(
                    f"{self.args.workload}-{self.args.seed}-p{pass_no}-{name}",
                    name, kind)
                out, seconds = rec.pop("out"), rec["fn_s"] + rec["sink_s"]
                records.append(rec)
            else:
                try:
                    out, fn_s, sink_s, _ = self.run_query(name, kind)
                    seconds = fn_s + sink_s
                except Exception:
                    traceback.print_exc()
                    out, seconds = None, 0.0
            outputs.append((name, kind, out))
            times[name] = seconds
        wall = time.perf_counter() - t_pass
        for name, kind, out in outputs:
            self.attempted += 1
            reason = "raised" if out is None else self.check(name, kind, out)
            if reason is not None:
                self.failed += 1
                times.pop(name)
                print(f"FAILED {name}: {reason}", file=sys.stderr)
        return wall, times, records

    def traced_query(self, run_id: str, name: str, kind: str) -> dict:
        """One query run inside its job group, then Spark's records of it."""
        sc, probe = self.spark.sparkContext, self.probe
        lo = probe.next_job_id()
        sc.setJobGroup(run_id, name)
        q0 = time.time()
        out = df = None
        try:
            out, fn_s, sink_s, df = self.run_query(name, kind)
        except Exception:
            traceback.print_exc()
            fn_s, sink_s = time.time() - q0, 0.0
        q1 = time.time()
        sc._jsc.clearJobGroup()
        probe.drain()
        hi = probe.next_job_id()
        jobs, errors = probe.jobs(lo, hi)
        # a job of this group outside the run's id range is unaccounted for
        errors += len(set(sc.statusTracker().getJobIdsForGroup(run_id))
                      - set(range(lo, hi)))
        python, lost = probe.python_metrics()
        errors += lost
        phases = probe.phases(df) if df is not None else {}
        return {"out": out, "run_id": run_id, "name": name, "kind": kind,
                "q": (q0, q1), "fn": (q0, q0 + fn_s), "sink": (q0 + fn_s, q1),
                "read": (q1, time.time()), "fn_s": fn_s, "sink_s": sink_s,
                "jobs": jobs, "errors": errors, "python": python,
                "phases": phases}

    def duck_pass(self, ref_sql: dict[str, str]) -> float:
        """Median seconds of one DuckDB pass over ``ref_sql``, repeated at
        least three times and for at least half a second: a pass can take a
        few milliseconds, and one such sample is mostly timer and cache
        noise."""
        samples, t_end = [], time.perf_counter() + 0.5
        while len(samples) < 3 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            for sql in ref_sql.values():
                self.duck.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    # --- the run -------------------------------------------------------------

    def run(self, setup_s: float) -> dict:
        # the oracle test's table set and row normalization, not copies
        oracle_test = _load_module(
            "perfbench_oracle", os.path.join(ROOT, "tests", "test_oracle.py"))
        self.rowset = oracle_test._pdf_rowset
        args = self.args
        calib_start = _calib_ms()
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.load_inputs(oracle_test.TABLES, cpus)
        # DuckDB side of duckdb_ratio, as in bench.py: the oracle or the
        # like-for-like reference SQL, but no recursive CTE (the fixpoint
        # references are several times slower than Spark: not a host-phase
        # control)
        ref_sql = {n: self.registry[n].oracle or self.registry[n].bench_ref_sql
                   for n, _ in self.plan}
        ref_sql = {n: s for n, s in ref_sql.items()
                   if s and "RECURSIVE" not in s.upper()}

        rng = random.Random(args.seed)
        cold_s, _, _ = self.run_pass(self.order(rng))
        # one more pass before the window: the JIT is still warming after
        # the cold pass (first warm pass 5.4 s, then 4.2 s on clif_etl;
        # 7.3 s, then 5.6 s on graph_text_store)
        self.run_pass(self.order(rng))

        if args.trace:
            from layers import SparkProbe
            self.probe = SparkProbe(self.spark)
        warm, query_s, ratios, traced = [], [], [], []
        t_end = time.perf_counter() + args.seconds
        p = 0
        # warm passes (alternately untraced and traced with --trace 1)
        # until --seconds have passed; at least one traced pass, and three
        # untraced ones, so that their median drops one pass slowed by the
        # host (graph_text_store, 4 cores: 5-6 s passes, now and then one
        # of 8-10 s)
        while len(warm) < 3 or time.perf_counter() < t_end or (
                args.trace and not traced):
            p += 1
            if args.trace and p % 2 == 0:
                # the untraced pass's SQL executions are not this pass's
                self.probe.new_executions()
                before, t_wall = _tree_stats(self.tmp), time.time()
                wall, _, records = self.run_pass(self.order(rng), True, p)
                traced.append((t_wall, wall, records, before,
                               _tree_stats(self.tmp, t_wall)))
                continue
            wall, times, _ = self.run_pass(self.order(rng))
            print(f"warm pass {p}: {wall:.3f} s "
                  + json.dumps({n: round(t, 3) for n, t in times.items()}),
                  file=sys.stderr)
            warm.append(wall)
            query_s += times.values()
            spark_ref = sum(times[n] for n in ref_sql if n in times)
            ratios.append(spark_ref / self.duck_pass(ref_sql))

        from pyspark import SparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        rss_mb = {"driver": _hwm_kb(os.getpid()) / 1024,
                  "jvm": _hwm_kb(jvm_pid) / 1024,
                  "python_workers": sum(
                      _hwm_kb(p) for p in _children(jvm_pid)) / 1024}
        context = {
            "workload": args.workload, "seed": args.seed, "sf": self.sf,
            "cpus": cpus,
            "shuffle_partitions": int(self.spark.conf.get(
                "spark.sql.shuffle.partitions")),
            "calib_ms_start": round(calib_start, 1),
            "calib_ms_end": round(_calib_ms(), 1),
            "warm_passes": len(warm),
            "query_s_tail": {"percentile": 90, "samples": len(query_s),
                             "beyond": sum(q > p90(query_s) for q in query_s)},
            # not gated: JVM heap growth spreads it by a quarter between
            # runs of the same code
            "peak_rss_mb": {"total": round(sum(rss_mb.values()), 1),
                            **{k: round(v, 1) for k, v in rss_mb.items()}},
        }
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_s": (cold_s, "s"),
                "warm_pass_s": (statistics.median(warm), "s"),
                "query_s_p50": (statistics.median(query_s), "s"),
                "query_s_tail": (p90(query_s), "s"),
                "duckdb_ratio": (statistics.median(ratios), "ratio"),
                "ok_frac": ((self.attempted - self.failed) / self.attempted,
                            "ratio"),
            }
        else:
            from layers import Tracer, layer_metrics
            tracer = Tracer()
            tracer.add("session.build", self.built_at - setup_s,
                       self.built_at, None)
            metrics = layer_metrics(traced, tracer, cpus)
            metrics["session.build_s"] = (setup_s, "s")
            metrics["process.peak_rss_mb"] = (sum(rss_mb.values()), "MB")
            metrics["trace.overhead_s"] = (
                statistics.median(w for _, w, *_ in traced)
                - statistics.median(warm), "s")
            tracer.dump(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        print(json.dumps({"context": context}))
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}


def _identical(con, got: str, ref: str) -> bool:
    """Whether DuckDB relations ``got`` and ``ref`` have the same column
    names and types and the same multiset of rows, values compared as
    text (so that -0.0 and 0.0 differ)."""
    cols = [sorted((c, t) for c, t, *_ in con.execute(
        f"DESCRIBE SELECT * FROM {rel}").fetchall()) for rel in (got, ref)]
    if cols[0] != cols[1]:
        return False
    text = ", ".join(f'CAST("{c}" AS VARCHAR)' for c, _ in cols[0])
    return con.execute(
        f"SELECT count(*) FROM ((SELECT {text} FROM {got} EXCEPT ALL "
        f"SELECT {text} FROM {ref}) UNION ALL (SELECT {text} FROM {ref} "
        f"EXCEPT ALL SELECT {text} FROM {got}))").fetchone()[0] == 0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for every process the session
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    procs = _children(gw.proc.pid) + [gw.proc.pid] if gw else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                # the gateway JVM exits when its stdin closes
                gw.proc.stdin.close()
                gw.proc.wait(60)
                SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="scale factor of the generated tables "
                                 "(default: the workload's)")
    args = ap.parse_args(argv)
    missing = [p for p in ("clif_spark", os.path.join("scripts", "gen_sf.py"),
                           os.path.join("tests", "test_oracle.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not a clif_spark checkout: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    for d in os.listdir(WORK):  # dirs of runs that were killed
        if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "sink"):
        os.makedirs(os.path.join(run_dir, sub))
    # Contain every temp write of the engine, Spark and the JVM in the run
    # dir: the store queries call tempfile.mkdtemp and never delete.
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None

    # a terminated run still stops its JVM and deletes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, run_dir)
    try:
        result = bench.run(bench.build())
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
