"""Benchmark for the subsetting engine: one workload per invocation.

    python3 perfbench/run.py --workload subset_cli --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process and one closed-loop client
drive a ``local[<nproc>]`` Spark session:

* ``subset_cli`` runs the subset CLI in-process (read, FK closure,
  write, verify) into a scratch directory cleared before every run.
* ``query_mix`` runs short relational entries and three operator entries
  (Python-worker ANN and kNN, stateful streaming) of the query registry
  in a seed-shuffled order and collects each result.

The input tables are the repository's seed-42 test tables at scale 0.01,
copied to ``perfbench/data/sf0.01`` and read in place; ``--seed`` is the
CLI's sampling seed and shuffles the mix.  The first unit of work (a CLI
run or a pass over the mix) is untimed: it warms the session up and its
outputs are checked against DuckDB.  Timed units then repeat until
``--seconds`` have passed (at least one).  With
``--trace 1`` the Spark event log is switched on from the launch side,
the package's layer entry points are wrapped from here, and the log is
folded into per-layer counters.  The last stdout line is the result
JSON; scratch files live in ``.perfbench_work/`` and the per-run record
(seed, load, exact counts, spans) is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import re
import resource
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

STARTED = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent

SF = 0.01
DATA = ROOT / "perfbench" / "data" / f"sf{SF}"
DRIVER_MEM = "2g"
# C1-only JIT and the serial collector: a short-lived driver JVM otherwise
# spends its run in C2 compilation and G1 heap resizing, which moved run
# times and peak RSS by 15-30% from one process to the next.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
SUBSET_FRACTION = "0.05"
# The CLI subsets customer and orders and excludes every other input
# table: on 4 cores all ten tables take 140-160 s and about 470 Spark
# jobs a run, more than one invocation may take.  The run is fixed-cost
# bound, so the two tables exercise the same read, closure, write and
# verify path.
SUBSET_TABLES = ("customer", "orders")
# Median times over ten passes: eleven relational entries take 0.4-0.7 s,
# five 0.9-1.4 s and the operators 2.2-3.3 s.  The median of a pass is
# the 10th of 19 samples, among the short entries, and the 90th
# percentile lies between the two faster operators: each inside a
# cluster, not in the gap between two.
QUERY_MIX = [
    # relational: table reads, construction, Catalyst, per-job overhead
    "tpch_returned_items",
    "tpch_volume_shipping",
    "tpch_promo_revenue",
    "tpch_priority_class",
    "agg_pricing_summary",
    "agg_rollup",
    "agg_pivot",
    "join_revenue_by_nation",
    "sql_qualify_topk",
    "sql_null_semantics",
    "sql_group_by_all",
    "sql_pipe_syntax",
    "window_rank_running",
    "events_hourly",
    "sessionize",
    "asof_join_latest_order",
    # operators: Python workers, a streaming query
    "ann_ivf_recall",
    "knn_graph_blocked",
    "streaming_stateful_totals",
]
WORKLOADS = ("subset_cli", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}
TIMED_LAYERS = [
    ("catalog.table_s", "catalog.table"),
    ("queries.build_s", "queries.build"),
    ("queries.exec_s", "queries.exec"),
    ("closure.create_subset_s", "closure.create_subset"),
    ("closure.integrity_s", "closure.integrity"),
    ("writer.write_subset_s", "writer.write_subset"),
    ("writer.resync_s", "writer.resync"),
    ("writer.preview_s", "writer.preview"),
]
SPARK_COUNTS = [
    "jobs", "stages", "tasks", "sql_executions", "failed_tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
]
SPARK_TIMES = ["no_job_s", "executor_run_s", "executor_cpu_s", "gc_s"]
EXACT_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "catalog.table_calls"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path, trace: bool) -> Path:
    """Point every scratch location at ``work`` and launch settings at
    the JVM; must run before pyspark starts the gateway."""
    tmp, logs = work / "tmp", work / "eventlog"
    for d in (tmp, logs, work / "local"):
        d.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # the driver and its Python workers
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    submit = [
        "--driver-memory", DRIVER_MEM,
        "--driver-java-options", f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={logs.as_uri()}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    sys.path.insert(0, str(ROOT))
    return logs


class Session:
    """The JVM, its Spark session and the set-up timings."""

    def __init__(self, src: Path):
        from pyspark import SparkContext

        from rdbms_subsetter_spark.catalog import Catalog
        from rdbms_subsetter_spark.session import get_spark

        t0 = time.perf_counter()
        SparkContext._ensure_initialized()
        self.jvm_s = time.perf_counter() - t0
        self._proc = SparkContext._gateway.proc
        self.spark = None
        try:
            t0 = time.perf_counter()
            self.spark = get_spark("rdbms_subsetter_spark.cli")
            Catalog(self.spark, str(src)).count("region")  # one catalog read, one job
            self.session_s = time.perf_counter() - t0
        except BaseException:
            self.close()
            raise

    @property
    def start_s(self) -> float:
        """JVM launch plus the cold session start and first catalog read."""
        return self.jvm_s + self.session_s

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self._proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from the JVM's /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            SparkContext._gateway.shutdown()
            self._proc.stdin.close()
            self._proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# workloads: a unit is one CLI run or one pass over the mix.  The first
# unit is untimed: it warms the session up and its outputs are checked.
# Timed units then repeat until --seconds have passed (at least one).  In
# a traced run the exact counts of the first timed unit must equal the
# checked unit's.
# ---------------------------------------------------------------------------
CHECK = "check"


class Loop:
    def __init__(self, seconds: float, tracer):
        self.seconds = seconds
        self.tracer = tracer
        self.units: list[tuple[str, float, float, float]] = []  # key, start, end, wall
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.query_log: list[tuple[str, str, float]] = []  # unit, query, seconds

    def keys(self):
        yield CHECK
        deadline = time.perf_counter() + self.seconds
        n = 0
        while n == 0 or time.perf_counter() < deadline:
            n += 1
            yield f"u{n}"

    @contextlib.contextmanager
    def unit(self, key: str):
        if self.tracer is not None:
            self.tracer.enter_unit(key)
        start, t0 = time.time(), time.perf_counter()
        yield
        self.units.append((key, start, time.time(), time.perf_counter() - t0))
        if self.tracer is not None:
            self.tracer.group("idle")  # jobs between units belong to no span

    def timed_units(self):
        return [u for u in self.units if u[0] != CHECK]

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)


def _cli_once(argv: list[str]) -> tuple[int | str, dict[str, int]]:
    """Exit code (or the exception raised) and the printed row counts."""
    from rdbms_subsetter_spark import cli

    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = cli.main(argv)
    except Exception as exc:  # a failing run is counted, never skipped
        rc = f"{type(exc).__name__}: {exc}"
    counts = {m[1]: int(m[2]) for m in re.finditer(r"^wrote (\S+)\s+(\d+) rows$", out.getvalue(), re.M)}
    return rc, counts


def run_subset_cli(spark, src: Path, work: Path, seed: int, loop: Loop) -> None:
    from rdbms_subsetter_spark.constraints import tpch_registry

    from checks import subset_problems

    dest = work / "dest"
    exclude = sorted(p.stem for p in src.glob("*.parquet") if p.stem not in SUBSET_TABLES)
    argv = [str(src), str(dest), SUBSET_FRACTION, "--seed", str(seed), "--yes",
            "--exclude-tables", *exclude]
    reference = None
    for key in loop.keys():
        shutil.rmtree(dest, ignore_errors=True)
        loop.attempted += 1
        with loop.unit(key):
            rc, counts = _cli_once(argv)
        loop.query_log.append((key, "cli", loop.units[-1][3]))
        if reference is None:
            reference = counts
            if rc != 0 or set(counts) != set(SUBSET_TABLES):
                loop.fail(f"{key}: exit {rc}, wrote {sorted(counts)}")
            else:
                for msg in subset_problems(dest, counts, tpch_registry()):
                    loop.fail(f"{key}: {msg}")
        elif rc != 0 or counts != reference:
            loop.fail(f"{key}: exit {rc}, counts {counts} != checked run {reference}")


def run_query_mix(spark, src: Path, work: Path, seed: int, loop: Loop) -> None:
    import __spark_entry__ as entry

    queries = entry.queries()
    order = list(QUERY_MIX)
    random.Random(seed).shuffle(order)
    tracer = loop.tracer
    for key in loop.keys():
        results = {}
        with loop.unit(key):
            for name in order:
                loop.attempted += 1
                if tracer is not None:
                    tracer.group(f"{key}/{name}")
                q0, b0 = time.perf_counter(), time.time()
                try:
                    df = queries[name](spark, str(src))
                    b1 = time.time()
                    # the results are small (at most a few hundred rows),
                    # so collecting them costs what a no-op sink does and
                    # leaves the check nothing to execute again
                    results[name] = (df.collect(), df.columns)
                except Exception as exc:  # a failing entry is counted, never skipped
                    loop.fail(f"{key} {name}: {type(exc).__name__}: {exc}")
                    continue
                loop.query_log.append((key, name, time.perf_counter() - q0))
                if tracer is not None:
                    tracer.span("queries.build", b0, b1)
                    tracer.span("queries.exec", b1, time.time())
        if key == CHECK:
            _check_mix(results, entry.oracle_sql(), src, loop)


def _check_mix(results: dict, oracles: dict, src: Path, loop: Loop) -> None:
    """Compare each result of the checked unit with its DuckDB oracle."""
    import duckdb
    from tests.conftest import register_views

    from checks import oracle_mismatch

    con = duckdb.connect()
    register_views(con, str(src))
    for name, (rows, cols) in results.items():
        msg = oracle_mismatch(con, oracles[name], rows, cols)
        if msg:
            loop.fail(f"check {name}: {msg}")
    con.close()


RUNNERS = {"subset_cli": run_subset_cli, "query_mix": run_query_mix}


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
def install_tracer(spark):
    from rdbms_subsetter_spark import closure, writer
    from rdbms_subsetter_spark.catalog import Catalog

    from spans import Tracer

    tracer = Tracer(spark.sparkContext)
    tracer.wrap(Catalog, "table", "catalog.table", tag_jobs=False)
    tracer.wrap(closure.ClosureEngine, "create_subset", "closure.create_subset")
    tracer.wrap(closure.ClosureEngine, "integrity_violations", "closure.integrity")
    tracer.wrap(writer, "write_subset", "writer.write_subset")
    tracer.wrap(writer, "sequence_resync_report", "writer.resync")
    tracer.wrap(writer, "plan_preview", "writer.preview")
    return tracer


def layer_metrics(workload: str, tracer, loop: Loop, logs: Path, session: Session, cores: int):
    """Median over timed units of each per-layer figure; the exact counts
    of the first timed unit must equal the checked unit's."""
    from eventlog import Span, fold_file, merge, union_length

    units = loop.units
    # unit spans first: a job with a foreign group falls back to its unit
    spans = [Span(k, s, e) for k, s, e, _ in units]
    spans += [Span(g, s, e) for k, s, e, _ in units for g in tracer.groups if g.startswith(k + "/")]
    newest = max(logs.iterdir(), key=lambda p: p.stat().st_mtime)
    folded = fold_file(newest, spans)

    per_unit: dict[str, list[float]] = {}

    def put(name, value):
        per_unit.setdefault(name, []).append(value)

    for key, start, end, wall in units:
        recs = tracer.unit_records(key)
        for metric, layer in TIMED_LAYERS:
            put(metric, sum(r.end - r.start for r in recs if r.layer == layer))
        put("catalog.table_calls", sum(r.layer == "catalog.table" for r in recs))
        if workload == "subset_cli":
            callees = [(r.start, r.end) for r in recs]
            put("cli.self_s", (end - start) - union_length(callees, start, end))
        else:
            put("cli.self_s", 0.0)
        c = merge([v for k, v in folded.items() if k == key or k.startswith(key + "/")], start, end)
        for name in SPARK_COUNTS + SPARK_TIMES:
            put(f"spark.{name}", getattr(c, name))
        put("spark.busy_share", c.executor_run_s / ((end - start) * cores))
        put("streaming.batches", c.streaming_batches)
        put("streaming.batch_s", c.streaming_batch_s)
        put("trace.run_s", wall)
    timed = [i for i, u in enumerate(units) if u[0] != CHECK]
    out = {name: statistics.median(vals[i] for i in timed) for name, vals in per_unit.items()}
    out["session.start_s"] = session.start_s
    for name in EXACT_COUNTS:
        first, again = per_unit[name][:2]
        if first != again:
            loop.fail(f"{name} differs between runs of one seed: {first} then {again}")
    return out, per_unit, folded


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name == "spark.busy_share":
        return "ratio"
    return "count"


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile
    (the 8th field of /proc/stat): the host noise behind a slow run."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    record_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    try:
        logs = prepare_env(work, bool(args.trace))
        import rdbms_subsetter_spark  # noqa: F401  fail fast without the package

        load_before, cpu_before = os.getloadavg(), _cpu_jiffies()
        src = DATA
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        session = Session(src)
        try:
            tracer = install_tracer(session.spark) if args.trace else None
            loop = Loop(args.seconds, tracer)
            try:
                RUNNERS[args.workload](session.spark, src, work, args.seed, loop)
            finally:
                if tracer is not None:
                    tracer.restore()
            jvm_rss = session.jvm_peak_rss_mb()
        finally:
            session.close()
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        walls = [u[3] for u in loop.timed_units()]
        # a unit whose every query failed leaves only its wall as a sample
        queries = [q for key, _, q in loop.query_log if key != CHECK] or walls
        if len(queries) > 1:
            p50, p90 = statistics.quantiles(queries, n=10, method="inclusive")[4::4]
        else:
            p50 = p90 = queries[0]
        end_to_end = {
            # session start plus the untimed warm-up unit
            "setup_s": session.start_s + loop.units[0][3],
            "run_s": statistics.median(walls),
            "query_p50_s": p50,
            "query_p90_s": p90,
            "success_rate": 1.0 - loop.failed / loop.attempted,
            "peak_rss_mb": jvm_rss + py_rss,
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cores, "sf": SF,
            "load_before": load_before, "load_after": os.getloadavg(),
            "steal_share": _steal_share(cpu_before, _cpu_jiffies()),
            "jvm_launch_s": session.jvm_s, "session_start_s": session.session_s,
            "check_s": loop.units[0][3], "unit_walls_s": walls, "query_samples": len(queries), "query_log": loop.query_log,
            "end_to_end": end_to_end, "problems": loop.problems,
        }
        if args.trace:
            layers, per_unit, folded = layer_metrics(args.workload, tracer, loop, logs, session, cores)
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
            record["layers"] = layers
            record["layers_per_unit"] = per_unit
            record["spans"] = [vars(r) for r in tracer.records]
            record["spark_by_span"] = {k: {n: v for n, v in vars(c).items() if n != "job_intervals"}
                                       for k, c in folded.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
        record["invocation_s"] = time.perf_counter() - STARTED
        record_dir.mkdir(exist_ok=True)
        out = record_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        out.write_text(json.dumps(record, indent=1, default=str))
        for msg in loop.problems:
            print(f"check failed: {msg}", file=sys.stderr)
        print(json.dumps({
            "correct": not loop.problems,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": metrics,
        }))
        return 1 if loop.problems else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
