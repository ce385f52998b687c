#!/usr/bin/env python
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload warehouse_sf01 --seed 1 --seconds 10 --trace 0

Each submission is timed as a user pays for it: call the registered
builder, plan, then execute. The first pass through the mix (the cold
pass) collects every result; after the timed phases those results are
compared with the DuckDB oracle. Steady passes execute to the ``noop``
sink: the workload's number of whole passes, and more while fewer than
``--seconds`` have passed. With
``--trace 1`` layer spans and Spark's counters are recorded as well and
the per-layer metrics are printed instead of the end-to-end ones.

The fixtures are staged once into ``perfbench/_work`` (reused while their
fingerprint matches) and the staging is not part of any metric. The run
executes in a child process; the parent returns only after that child and
every process it started have ended (see ``procs.py``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, "_work")
SF = "0.1"

if BENCH_DIR not in sys.path:
    sys.path.insert(0, BENCH_DIR)

# The run itself happens in a child process; this one waits for it and then
# stops and reaps every process it left behind (the Spark JVM among them).
CHILD_ENV = "PERFBENCH_SUPERVISED"
if __name__ == "__main__" and os.environ.get(CHILD_ENV) != "1":
    from procs import run_supervised

    sys.exit(run_supervised([sys.executable, *sys.argv], env={**os.environ, CHILD_ENV: "1"}))

from check import check_outputs  # noqa: E402
from spark_metrics import CodegenCounter, StreamBatches, job_tag, jvm_peak_rss_mb  # noqa: E402
from stats import median, percentile, tail_level  # noqa: E402
from spans import Tracer, install_wrappers  # noqa: E402
from workloads import WORKLOADS, Workload, pass_order  # noqa: E402


def fixture_dir() -> str:
    """The sf0.1 fixture directory: $SPARK_GRAFT_SF_DIR, else the one
    TESTDATA.md lists for scale factor 0.1."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    with open(os.path.join(REPO_ROOT, "TESTDATA.md")) as fh:
        for line in fh:
            cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
            if len(cells) >= 2 and cells[0] == SF:
                return cells[1].rstrip("/")
    raise RuntimeError(f"TESTDATA.md lists no sf{SF} directory")


def prepare_environment() -> None:
    """Keep every temporary file of the run inside the benchmark's work
    directory (``-XX:-UsePerfData`` stops the JVM writing its perf-data
    file to the system temp directory) and pin the core count."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


@dataclass
class Submission:
    sid: int
    query: str
    pass_index: int
    start: float = 0.0  # perf_counter seconds
    end: float = 0.0
    error: str | None = None
    compiles: int = 0  # codegen compile delta (exact only with one client)

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Phase:
    wall_s: float = 0.0
    passes: int = 0  # steady passes made
    subs: list[Submission] = field(default_factory=list)


class Runner:
    def __init__(self, spark, queries, workload: Workload, seed: int, tracer: Tracer, traced: bool) -> None:
        self.spark = spark
        self.queries = queries
        self.wl = workload
        self.seed = seed
        self.tracer = tracer
        self.traced = traced
        self.frames: dict[str, object] = {}
        self._next_sid = 0
        self.epoch_offset = time.time() - time.perf_counter()
        self.codegen = None
        self.listener = None
        if traced:
            self.codegen = CodegenCounter(spark)
            self.listener = StreamBatches()
            spark.streams.addListener(self.listener)

    def _submit(self, sub: Submission, data_dir: str, collect: bool) -> None:
        sc = self.spark.sparkContext
        before = self.codegen.count() if self.codegen else 0
        with self.tracer.submission(sub.sid, sub.query) as root:
            sub.start = root.start
            if self.traced:
                sc.addJobTag(job_tag(sub.sid))
            try:
                with self.tracer.span("build"):
                    df = self.queries[sub.query].builder(self.spark, data_dir)
                with self.tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.tracer.span("execute"):
                    if collect:
                        self.frames[sub.query] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed submission is counted, not fatal
                sub.error = f"{type(exc).__name__}: {exc}"[:500]
            finally:
                if self.traced:
                    sc.removeJobTag(job_tag(sub.sid))
        sub.end = root.end
        if self.codegen:
            sub.compiles = self.codegen.count() - before

    def _run(self, items, data_dir: str, collect: bool, clients: int) -> Phase:
        """Run the (pass_index, query) items from the iterator on
        ``clients`` threads; each client submits its next item only after
        its previous one completed (closed loop)."""
        phase = Phase()
        lock = threading.Lock()
        errors: list[BaseException] = []

        def client() -> None:
            while True:
                with lock:
                    item = next(items, None)
                    if item is None:
                        return
                    sub = Submission(self._next_sid, item[1], item[0])
                    self._next_sid += 1
                    phase.subs.append(sub)
                try:
                    self._submit(sub, data_dir, collect)
                except BaseException as exc:  # bookkeeping failure: stop the run
                    errors.append(exc)
                    return

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        phase.wall_s = time.perf_counter() - t0
        if errors:
            raise errors[0]
        return phase

    def cold_pass(self, data_dir: str) -> Phase:
        """The mix once, in its listed order, so cold numbers compare across seeds."""
        return self._run(((0, q) for q in self.wl.mix), data_dir, True, self.wl.clients)

    def steady(self, data_dir: str, seconds: float, passes: int, clients: int) -> Phase:
        """At least ``passes`` whole passes, and more while fewer than
        ``seconds`` have passed. A pass starts when the previous one has
        completed, so no query ever runs beside itself: scripts and streams
        use fixed table and query names."""
        phase = Phase()
        start = time.perf_counter()
        k = 1
        while k <= passes or time.perf_counter() - start < seconds:
            order = pass_order(self.wl.mix, self.seed, k)
            phase.subs += self._run(((k, q) for q in order), data_dir, False, clients).subs
            k += 1
        phase.wall_s = time.perf_counter() - start
        phase.passes = k - 1
        return phase

    def probe_compiles(self, data_dir: str) -> dict[str, int]:
        """Codegen compiles of one more warm pass, one query at a time, so
        that each count belongs to exactly one query."""
        return {s.query: s.compiles for s in self.steady(data_dir, 0.0, 1, 1).subs}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def environment_record(spark, staged: str) -> dict:
    import duckdb

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO_ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    from sql_redshift_etl_spark import staging

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "sf": float(SF),
        "layout": {
            "staged": os.path.relpath(staged, REPO_ROOT),
            "rows_per_part": staging.ROWS_PER_PART,
            "max_parts": staging.MAX_PARTS,
            "table_rows_per_part": staging.TABLE_ROWS_PER_PART,
        },
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "commit": commit,
    }


def end_to_end(setup_s: float, cold: Phase, steady: Phase) -> tuple[dict, dict]:
    """The end-to-end metrics, and what is reported beside them: the tail
    percentile only when the sample leaves ten submissions beyond it."""
    ok = [s.latency for s in steady.subs if s.error is None]
    level = tail_level(len(ok))
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold.wall_s, "s"),
        "throughput_qps": (len(ok) / steady.wall_s, "1/s"),
        "latency_p50_s": (median(ok) if ok else float("nan"), "s"),
    }
    info = {
        "steady_samples": len(ok),
        "steady_passes": steady.passes,
        "tail_percentile": level,
        "latency_tail_s": percentile(ok, level) if level else None,
        "latency_max_s": max(ok, default=None),
        "cold_latency_s": {s.query: round(s.latency, 3) for s in cold.subs},
        "steady_latency_s": {s.query: round(s.latency, 3) for s in steady.subs if s.pass_index == 1},
    }
    return metrics, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    try:
        import sql_redshift_etl_spark  # noqa: F401

        src_dir = fixture_dir()
    except (ImportError, OSError, RuntimeError) as exc:
        print(f"perfbench: engine or fixtures not found: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(src_dir):
        print(f"perfbench: fixture directory {src_dir} does not exist", file=sys.stderr)
        return 2
    prepare_environment()

    tracer = Tracer()
    if traced:
        install_wrappers(tracer)  # before plans.registry is imported
    from sql_redshift_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
        from sql_redshift_etl_spark.plans.registry import all_queries

        queries = all_queries()
        missing = [q for q in wl.mix if q not in queries]
        if missing:
            print(f"perfbench: queries not registered: {missing}", file=sys.stderr)
            return 2
        setup_s = time.perf_counter() - T_START

        from sql_redshift_etl_spark.staging import stage_inputs

        steal0 = cpu_steal_s()
        t_stage = time.perf_counter()
        staged = stage_inputs(spark, src_dir, os.path.join(WORK_DIR, f"staged-sf{SF}"))
        stage_s = time.perf_counter() - t_stage
        runner = Runner(spark, queries, wl, args.seed, tracer, traced)
        compiles0 = runner.codegen.count() if traced else 0
        cold = runner.cold_pass(staged)
        compiles1 = runner.codegen.count() if traced else 0
        steady = runner.steady(staged, args.seconds, wl.passes, wl.clients)
        compiles2 = runner.codegen.count() if traced else 0
        probe = runner.probe_compiles(staged) if traced and wl.clients > 1 else None
        rss_mb = jvm_peak_rss_mb(spark)
        t_check = time.perf_counter()
        problems = check_outputs(runner.frames, queries, wl.mix, staged, spark.sparkContext.defaultParallelism)
        check_s = time.perf_counter() - t_check
        env = environment_record(spark, staged)

        failed_subs = [s for s in cold.subs + steady.subs if s.error]
        mismatched = [s for s in cold.subs if s.error is None and s.query in problems]
        attempted = len(cold.subs) + len(steady.subs)
        failed = len(failed_subs) + len(mismatched)
        e2e, info = end_to_end(setup_s, cold, steady)
        info["jvm_peak_rss_mb"] = rss_mb
        info["error_rate"] = failed / attempted
        info.update(stage_s=stage_s, check_s=check_s, steal_s=cpu_steal_s() - steal0, environment=env)
        for s in failed_subs[:5]:
            print(f"perfbench: {s.query} failed: {s.error}", file=sys.stderr)
        for name, why in problems.items():
            print(f"perfbench: output check failed for {name}: {why}", file=sys.stderr)

        if traced:
            from layers import layer_metrics, per_query_compiles

            per_query = probe if probe is not None else per_query_compiles(steady.subs)
            layer, trace_doc = layer_metrics(
                spark,
                tracer,
                runner,
                cold,
                steady,
                setup_s,
                rss_mb,
                cold_compiles=compiles1 - compiles0,
                steady_compiles=compiles2 - compiles1,
            )
            trace_doc.update(
                {"workload": wl.name, "seed": args.seed, "end_to_end": {k: v[0] for k, v in e2e.items()}, **info}
            )
            trace_doc["codegen_steady_compiles_per_query"] = per_query
            for q, n in sorted(per_query.items(), key=lambda kv: (-kv[1], kv[0])):
                print(f"codegen.steady_compiles {q} {n}", file=sys.stderr)
            out = os.path.join(WORK_DIR, "traces", f"{wl.name}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as fh:
                json.dump(trace_doc, fh, indent=1, default=str)
            print(f"perfbench: trace written to {os.path.relpath(out, REPO_ROOT)}", file=sys.stderr)
            metrics = layer
        else:
            metrics = e2e
        print(json.dumps({"workload": wl.name, "seed": args.seed, **info}, default=str), file=sys.stderr)
        result = {
            "correct": failed == 0 and not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
