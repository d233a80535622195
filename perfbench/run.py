"""Benchmark: seeded workloads over the engine's registered queries.

    python3 perfbench/run.py --workload star_x8 --seed 1 --seconds 16 --trace 0

Run from the repository root. One process, one query at a time (a
closed loop with a single client) on ``local[<cores>]``:

1. generate the workload's inputs from the seed (``gen.py``) under
   ``.perfbench/inputs`` and the expected results (``oracle.py``);
2. start the session and register the inputs (``setup_s`` is the time
   from process start until the first query can run, JVM launch
   included, less the time steps 1 takes);
3. run every query of the workload once, collect it and check it
   against the DuckDB oracle, then run the workload's ``warm_passes``
   more untimed passes -- the JIT warm-up;
4. time passes over the queries, each query written to the noop sink.
   ``--seconds`` sets the number of passes (seconds / the workload's
   nominal pass time, at least one), so every run does the same
   work. After every query the session's cached tables are released,
   so no query reads a table the previous run persisted (``bench.py``
   keeps them between its repeats, so its numbers are not comparable
   with these).

With ``--trace 1`` the timed passes alternate between untraced and
traced (``tracing.py``), and the per-layer metrics of the traced passes
are printed instead of the end-to-end ones; the traced minus the
untraced pass time is the tracing overhead. The last line of standard
output is the result as JSON; a record of the run (seed, cores,
versions, host steal and idle time, per-query times and the host steal
during each) and, when traced, the spans are written under
``.perfbench/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
if __name__ == "__main__":  # run as a script: import the package, not its files
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench import tracing  # noqa: E402

WORKLOADS = {
    "star_x8": {
        "copies": 8,
        "pass_s": 2.7,
        "warm_passes": 1,
        "queries": [
            "q3_segment_revenue", "asof_join_purchase_view",
            "sessionize_events", "cdc_merge_latest_events"],
    },
    "text_x1": {
        "copies": 1,
        "pass_s": 8.0,
        "warm_passes": 0,
        "queries": [
            # the reference pipeline
            "html_extract_posts", "embed_documents_fake", "media_features",
            "doc_frequency", "topic_assignments", "pipeline_archive_metadata",
            "minhash_lsh_pairs",
            # driver-bound operators: similarity, graph and preference
            "knn_lsh", "cointeraction_edges_events", "preference_pairs_events"],
    },
}
#: JVM heap cap; the engine's 8 GiB default is sized for large hosts
DRIVER_MEM = "2g"
#: the heap starts at its cap: with the default 1/64 of RAM it grew
#: during the timed passes, and the CPU cost of that (GC) varied by
#: 1.4x between runs. No perf-data file; the JIT is the default (C2).
JAVA_OPTS = f"-Xms{DRIVER_MEM} -XX:-UsePerfData"
#: at least one timed pass, whatever --seconds asks for
MIN_PASSES = 1

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s"}


# ---------------------------------------------------------------------------
# Process tree and host counters (Linux /proc)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants (the Spark JVM and
    the Python workers it forks)."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children[int(_stat_fields(int(name))[1])].append(int(name))
            except (OSError, IndexError):
                continue
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of the processes, including their
    reaped children (Python workers that already exited)."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    """The process's resident-memory high-water mark (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise OSError(f"no VmHWM for {pid}")


def process_age_s() -> float:
    """Seconds since this process started."""
    start = int(_stat_fields(os.getpid())[19]) / _TICK  # starttime, ticks after boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def host_steal_idle_s() -> tuple[float, float]:
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    return int(cpu[7]) / _TICK, int(cpu[3]) / _TICK


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------

def _env(cores: int) -> None:
    """Environment the session and its workers start with: the engine
    on the workers' import path, and every temporary file inside the
    checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM would otherwise write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.name, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.spec = WORKLOADS[workload]
        self.queries = self.spec["queries"]
        # The pass count, not a clock, ends the timed region: every run
        # of a workload does the same work, so JIT warmth and heap
        # growth do not depend on how fast the host happened to be.
        self.passes = max(MIN_PASSES, round(seconds / self.spec["pass_s"]))
        if traced:  # whole untraced-traced-traced-untraced groups
            self.passes += -self.passes % 4
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.spark = None
        self.inputs = None
        self.record: dict = {"workload": workload, "seed": seed, "nproc": self.cores,
                             "seconds": seconds, "trace": int(traced)}

    # -- set-up ------------------------------------------------------------
    def start(self) -> None:
        """Generate the inputs and expected results, start the session
        and register the inputs. ``setup_s`` is the time from process
        start to the end of ``load_tables`` less input generation and
        the oracle, which are the benchmark's and not the engine's."""
        from parlerproject_spark import caching, catalog, queries, session
        self.caching = caching
        self.registry = queries.queries()
        import_s = process_age_s()  # interpreter start and engine import

        from perfbench import gen
        from perfbench.oracle import Oracle
        t = time.perf_counter()
        self.inputs = gen.generate(os.path.join(WORK, "inputs"), self.seed, self.spec["copies"])
        self.record["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.oracle = Oracle(ROOT, os.path.join(WORK, "oracle"))
        sql = queries.oracle_sql()
        self.expected = self.oracle.expected(
            self.inputs, os.path.basename(self.inputs),
            {n: sql.get(n) for n in self.queries}, gen.TABLES)
        self.record["oracle_s"] = time.perf_counter() - t

        tmp = os.path.join(WORK, "tmp")
        conf = {"spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JAVA_OPTS}"}
        t = time.perf_counter()
        self.spark = session.get_spark("perfbench", **conf)
        self.session_start_s = time.perf_counter() - t
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        catalog.load_tables(self.spark, self.inputs)
        self.setup_s = import_s + time.perf_counter() - t
        self.record.update(import_s=import_s, session_start_s=self.session_start_s)

    # -- one query ---------------------------------------------------------
    def _release(self) -> int:
        pinned = self.caching.cached_rdd_count(self.spark)
        self.caching.release_all(self.spark)
        return pinned

    def check(self) -> None:
        """The untimed warm-up: collect each query once and check it
        against the oracle, then run the workload's untimed noop
        passes, so the timed ones run code the JIT has compiled."""
        t0 = time.perf_counter()
        self.rows = {}
        check_times = self.record["check_times_s"] = {}
        for name in self.queries:
            self.attempted += 1
            t = time.perf_counter()
            try:
                got = self.registry[name](self.spark, self.inputs).toPandas()
            except Exception:
                traceback.print_exc()
                self.failed += 1
                self.rows[name] = None
            else:
                self.rows[name] = len(got)
                problems = self.oracle.problems(got, self.expected[name])
                if problems:
                    print(f"wrong result {name}: {'; '.join(problems)}", file=sys.stderr)
                    self.wrong.append(name)
            self._release()
            check_times[name] = time.perf_counter() - t
        for _ in range(self.spec["warm_passes"]):
            for name in self.queries:
                self.run_query(name)
        self.record["warmup_s"] = time.perf_counter() - t0

    def run_query(self, name: str, tracer=None) -> tuple[float, int]:
        """Build and run one query into the noop sink; returns its wall
        time and the RDDs it left pinned (released afterwards)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            if tracer is None:
                df = self.registry[name](self.spark, self.inputs)
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("query", detail=name):
                    with tracer.span("build", detail=name):
                        df = self.registry[name](self.spark, self.inputs)
                    with tracer.span("action", detail=name):
                        df.write.format("noop").mode("overwrite").save()
        except Exception:
            traceback.print_exc()
            self.failed += 1
        dt = time.perf_counter() - t
        return dt, self._release()

    # -- timed passes ------------------------------------------------------
    def measure(self) -> None:
        times = defaultdict(list)       # untraced per-query times
        steals = defaultdict(list)      # host steal during each of them
        pass_walls, traced_walls = [], []
        layers: list[dict] = []
        pinned_per_pass = []
        tracer = None
        if self.traced:
            tracing.install_wrappers()
            reader = tracing.StatusReader(self.spark)
            reader.new_jobs()           # skip set-up and warm-up jobs
            reader.sql_metrics(set())
            tracer = tracing.Tracer(self.spark)
        steal0, idle0 = host_steal_idle_s()
        cpu_marks = [tree_cpu_s(process_tree(os.getpid()))]
        measured = 0.0
        for n in range(self.passes):
            # untraced, traced, traced, untraced, ...: JIT warm-up during
            # the run then slows both kinds of pass alike
            traced_pass = self.traced and n % 4 in (1, 2)
            wall, pinned = 0.0, 0
            acc = defaultdict(float)
            if traced_pass:
                with tracer:
                    with tracer.span("pass", detail=str(n)):
                        for qi, name in enumerate(self.queries):
                            tracer.query_id = f"{n}:{qi}"
                            dt, p = self.run_query(name, tracer)
                            wall += dt
                            pinned += p
                            self._harvest(reader, tracer, name, acc)
                traced_walls.append(wall)
                acc["executor.busy_ratio"] = acc["executor.run_s"] / (wall * self.cores)
                layers.append(acc)
            else:
                for name in self.queries:
                    st0 = host_steal_idle_s()[0]
                    dt, p = self.run_query(name)
                    steals[name].append(host_steal_idle_s()[0] - st0)
                    times[name].append(dt)
                    wall += dt
                    pinned += p
                pass_walls.append(wall)
            pinned_per_pass.append(pinned)
            cpu_marks.append(tree_cpu_s(process_tree(os.getpid())))
            measured += wall
        steal1, idle1 = host_steal_idle_s()
        pass_cpu = [b - a for a, b in zip(cpu_marks, cpu_marks[1:])]
        self.cpu_s = statistics.median(pass_cpu)
        self.peak_rss_mb = peak_rss_mb(self.jvm_pid)
        per_query = {q: statistics.median(ts) for q, ts in times.items()}
        self.pass_s = sum(per_query.values())
        self.query_p50_s = statistics.median(t for ts in times.values() for t in ts)
        self.record.update(
            passes=self.passes, untraced_passes=len(pass_walls), measured_s=measured,
            pass_walls_s=pass_walls, traced_pass_walls_s=traced_walls,
            query_times_s=dict(times), query_steal_s=dict(steals),
            pinned_after_query_per_pass=pinned_per_pass,
            pass_cpu_s=pass_cpu,
            host_steal_s=steal1 - steal0, host_idle_s=idle1 - idle0)
        if self.traced:
            self.layers = self._layer_metrics(layers, traced_walls, pass_walls, pinned_per_pass)
            os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
            tracing.write_spans(self._out_path("spans"), tracer.spans)

    def _harvest(self, reader, tracer, query: str, acc: dict) -> None:
        """Attribute the jobs of the query just run to its spans and add
        its layer metrics to ``acc``."""
        spans = tracer.spans
        qid = tracer.query_id
        mine = {s["id"]: s for s in spans if s["query"] == qid}
        jobs = [(g, j) for g, j in reader.new_jobs()
                if g is not None and int(g[2:]) in mine]
        job_ids = {int(j.jobId()) for _, j in jobs}
        for k, v in reader.stage_metrics([j for _, j in jobs]).items():
            acc[k] += v
        sql, n_exec = reader.sql_metrics(job_ids)
        for k, v in sql.items():
            acc[k] += v
        acc["driver.jobs"] += len(jobs)
        acc["driver.sql_executions"] += n_exec
        acc["driver.queries"] += 1

        def layers_of(span_id):
            out = set()
            while span_id in mine:
                out.add(mine[span_id]["name"])
                span_id = mine[span_id]["parent"]
            return out

        for g, _ in jobs:
            for layer in layers_of(int(g[2:])) & set(tracing.MODULES):
                acc[f"{layer}.jobs"] += 1
        for s in mine.values():
            dur = s["end"] - s["start"]
            if s["name"] == "build":
                acc["driver.build_s"] += dur
            elif s["name"] in tracing.MODULES and s["name"] not in layers_of(s["parent"]):
                acc[f"{s['name']}.call_s"] += dur
        if "operators.dedup" in {s["name"] for s in mine.values()} and query.endswith("_pairs"):
            acc["dedup.emitted_pairs"] += self.rows.get(query) or 0
            acc["dedup.candidate_rows"] += sql.get("join.output_rows", 0.0)

    def _layer_metrics(self, layers, traced_walls, pass_walls, pinned_per_pass) -> dict:
        """Per-layer metrics: the median over traced passes of each
        per-pass total, plus the ratios and run-level values."""
        keys = {k for acc in layers for k in acc}
        med = {k: statistics.median(acc.get(k, 0.0) for acc in layers) for k in keys}
        queries = med.get("driver.queries", 0.0)
        cand = med.get("dedup.candidate_rows", 0.0)
        med.update({
            "session.start_s": self.session_start_s,
            "driver.jobs_per_query": med.get("driver.jobs", 0.0) / queries if queries else 0.0,
            "dedup.candidate_yield": med.get("dedup.emitted_pairs", 0.0) / cand if cand else 0.0,
            "caching.pinned_after_query": statistics.median(pinned_per_pass),
            "trace.overhead_s": statistics.median(traced_walls) - statistics.median(pass_walls),
            "jvm.peak_rss_mb": self.peak_rss_mb,
            "process.cpu_s": self.cpu_s,
        })
        return {k: (med.get(k, 0.0), layer_unit(k)) for k in PER_LAYER}

    # -- output ------------------------------------------------------------
    def _out_path(self, kind: str) -> str:
        return os.path.join(WORK, "runs", f"{self.name}-seed{self.seed}-{kind}.json")

    def result(self) -> dict:
        if self.traced:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in self.layers.items()}
        else:
            values = {"setup_s": self.setup_s, "pass_s": self.pass_s,
                      "query_p50_s": self.query_p50_s}
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return {"correct": not self.wrong and self.failed == 0,
                "attempted": self.attempted, "failed": self.failed, "metrics": metrics}

    def write_record(self, result: dict) -> None:
        import duckdb
        import pyarrow
        import pyspark
        self.record.update(
            versions={"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                      "duckdb": duckdb.__version__},
            inputs=os.path.relpath(self.inputs, ROOT), queries=self.queries,
            wrong_results=len(self.wrong), wrong_queries=self.wrong,
            error_rate=self.failed / self.attempted,
            result_rows=self.rows, setup_s=self.setup_s, result=result)
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        with open(self._out_path("trace" if self.traced else "run"), "w") as f:
            json.dump(self.record, f, indent=1)

    def stop(self) -> None:
        """Stop the session, end the JVM (it exits when its stdin
        closes) and wait until no process this run started is left;
        delete the generated inputs."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            proc = gateway.proc
            self.spark.stop()
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while (left := process_tree(os.getpid())[1:]) and time.monotonic() < deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        if self.inputs:
            shutil.rmtree(self.inputs, ignore_errors=True)


def layer_unit(name: str) -> str:
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "yield")):
        return "ratio"
    for suffix, unit in (("ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


#: per-layer metric names, as BENCHMARK.json lists them
PER_LAYER = (
    ["session.start_s", "jvm.peak_rss_mb", "process.cpu_s",
     "catalog.files_read", "catalog.bytes_read", "catalog.scan_ms",
     "driver.build_s", "driver.jobs", "driver.jobs_per_query",
     "driver.sql_executions", "driver.result_bytes"]
    + [f"{m}.{k}" for m in tracing.MODULES for k in ("call_s", "jobs")]
    + ["exchange.shuffle_write_bytes", "exchange.shuffle_records",
       "exchange.broadcast_bytes", "exchange.broadcast_ms", "exchange.partitions",
       "functions.python_bytes_sent", "functions.python_bytes_received",
       "functions.python_run_ms", "functions.python_start_ms",
       "sources.archives.members", "sources.archives.bytes_returned",
       "agg.build_ms", "agg.peak_mem_bytes", "agg.sort_fallback_tasks",
       "join.build_ms", "sort.ms", "spill.bytes",
       "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.tasks",
       "executor.failed_tasks", "executor.busy_ratio",
       "caching.pinned_after_query", "dedup.candidate_yield", "trace.overhead_s"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _env(len(os.sched_getaffinity(0)))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.start()
        bench.check()
        bench.measure()
        result = bench.result()
        bench.write_record(result)
    finally:
        bench.stop()
    r = bench.record
    print(f"{args.workload} seed={args.seed}: setup_s={bench.setup_s:.3f} "
          f"pass_s={bench.pass_s:.3f} query_p50_s={bench.query_p50_s:.3f} "
          f"cpu_s={bench.cpu_s:.2f} jvm_peak_rss_mb={bench.peak_rss_mb:.0f} "
          f"error_rate={r['error_rate']:.3f} wrong_results={r['wrong_results']} "
          f"passes={r['passes']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
