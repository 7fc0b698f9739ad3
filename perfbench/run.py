"""Seeded outside-in benchmark for pytrousse-spark.

One closed loop: one driver process, one client thread, Spark on
``local[<cores>]``; each call starts when the previous one has returned.
A run generates the workload's inputs from ``--seed``, sets up (session
start, input registration, one untimed warm-up pass), then repeats whole
cycles of the workload's calls until ``--seconds`` have passed, checks
the outputs of the first timed cycle outside the timer, and prints one
JSON object as the last line of standard output::

    python3 perfbench/run.py --workload corpus --seed 3 --seconds 8 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ledger. See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("iterate", "corpus")
#: program modules with operator calls; each gets build/action time and jobs
OP_LAYERS = (
    "io", "profiling", "transforms", "encoding", "binning", "repair",
    "anonymize", "graph", "classifier", "clustering", "dedup", "similarity",
    "corpus", "multimodal", "streaming",
)
#: stop starting cycles this long after process start, so that a run ends
#: within 180 s
RUN_CAP_S = 150.0
#: driver heap, also its initial size: a heap that G1 grows on demand made
#: the JVM's peak resident set swing by 25 % between runs of one workload
DRIVER_MEM = "2g"
#: quantile reported as the tail; a run times 7-11 calls, too few for a
#: percentile with 10 samples beyond it, so the count beyond is reported
TAIL_Q = 0.9


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(work: str) -> None:
    """Run hygiene, set before the JVM starts: session size pinned to the
    host's cores (the session default is 32), the package importable by
    Python workers, and every scratch file inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM the launcher starts: temp files in the work dir, and no
    # hsperfdata file, which the JVM would write to /tmp whatever tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Context:
    """What the workload's calls need: session, inputs, oracle."""

    def __init__(self, spark, entry, duck, data_dir, scratch_dir, rows, truth):
        self.spark, self.entry, self.duck = spark, entry, duck
        self.data_dir, self.scratch_dir = data_dir, scratch_dir
        self.rows, self.truth = rows, truth
        #: facts a check observed without failing the call
        self.findings: dict = {}
        self.stream_schema = None


class Runner:
    """Executes calls under per-call job groups and keeps the ledger."""

    def __init__(self, ctx: Context, trace: bool) -> None:
        from pytrousse_spark.operators import _probe

        from ledger import SparkLedger

        self.ctx, self.trace = ctx, trace
        self.ledger = SparkLedger(ctx.spark)
        self._probe = _probe
        self.seq = 0
        self._lock = threading.Lock()
        self.records: list = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.ledger_s = 0.0
        #: seconds each untimed output check took
        self.check_times: dict[str, float] = {}
        self.stream_progress: list[dict] = []

    def _fail(self, call: str, phase: str, exc: BaseException) -> None:
        cause = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0] if str(exc).strip() else ''}"
        self.failures.append({"call": call, "phase": phase, "cause": cause[:300]})
        traceback.print_exc(file=sys.stderr)

    def _release(self, rec) -> None:
        """Between calls, outside the timer: read what the call left
        stored, then drop the operator memo and cached relations."""
        if self.trace:
            t = time.perf_counter()
            rec.staged_rdds, rec.staged_mb = self.ledger.staged()
            self.ledger_s += time.perf_counter() - t
        self._probe.clear()
        self.ctx.spark.catalog.clearCache()

    def _next(self, calls: int) -> int:
        with self._lock:
            self.seq += 1
            self.attempted += calls
            return self.seq

    def call(self, call, cycle: int, check: bool, release: bool = True) -> None:
        from ledger import CallRecord

        from workloads import StreamCall

        if isinstance(call, StreamCall):
            return self.stream(call, cycle, check, release)
        group = f"perfbench-{self._next(1)}"
        rec = CallRecord(call.name, call.layer, cycle, call.input_rows)
        self.ledger.begin(group, call.name)
        gc0 = self.ledger.gc_seconds() if self.trace else 0.0
        phase = "build"
        try:
            t0 = time.perf_counter()
            built = call.build()
            t1 = time.perf_counter()
            build_ids = self.ledger.job_ids(group) if self.trace else []
            t2 = time.perf_counter()
            phase = "action"
            out = call.action(built)
            t3 = time.perf_counter()
            rec.build_s, rec.action_s = t1 - t0, t3 - t2
            if self.trace:
                all_ids = self.ledger.job_ids(group)
                rec.build = self.ledger.counters(build_ids)
                rec.action = self.ledger.counters([j for j in all_ids if j not in build_ids])
                rec.gc_s = self.ledger.gc_seconds() - gc0
                self.ledger_s += (t2 - t1) + (time.perf_counter() - t3)
            if check:
                phase = "check"
                try:
                    call.check(built, out)
                finally:
                    self.check_times[call.name] = time.perf_counter() - t3
        except Exception as exc:  # one failed call must not end the run
            # a call whose output check failed did return, and is timed
            rec.ok = phase == "check"
            self._fail(call.name, phase, exc)
        if release:
            self._release(rec)
        self.records.append(rec)

    def warm_up(self, calls: list) -> None:
        """One untimed pass over every call, each lane in its own thread
        to shorten set-up. A call's ``lane`` keeps calls that build on
        each other in order within one thread."""
        lanes = defaultdict(list)
        for call in calls:
            lanes[getattr(call, "lane", None) or call.name].append(call)

        def run(lane: list) -> None:
            for call in lane:
                self.call(call, 0, check=False, release=False)

        with ThreadPoolExecutor(len(lanes)) as pool:
            for future in [pool.submit(run, lane) for lane in lanes.values()]:
                future.result()
        self._probe.clear()
        self.ctx.spark.catalog.clearCache()

    def stream(self, call, cycle: int, check: bool, release: bool) -> None:
        """Drain a file stream with ``availableNow`` into a memory sink;
        each micro-batch is one call, timed by Spark's own trigger
        duration. Spark's counters are read per query (the drain's job
        group is its run id) and attached to the last micro-batch."""
        from ledger import CallRecord

        spark = self.ctx.spark
        n_files = len([f for f in os.listdir(call.source_dir) if f.endswith(".parquet")])
        seq = self._next(n_files)
        table = f"perfbench_stream_{seq}"
        gc0 = self.ledger.gc_seconds() if self.trace else 0.0
        try:
            source = (
                spark.readStream.schema(self.ctx.stream_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(call.source_dir)
            )
            writer = (
                call.build(source).writeStream.outputMode(call.output_mode)
                .option("checkpointLocation", os.path.join(self.ctx.scratch_dir, f"ckpt-{seq}"))
                .trigger(availableNow=True)
            )
            query = writer.format("memory").queryName(table).start()
            query.awaitTermination()
            progress = [p for p in query.recentProgress if p.get("numInputRows")]
            if len(progress) != n_files:
                raise RuntimeError(f"{len(progress)} micro-batches for {n_files} files")
            for p in progress:
                rec = CallRecord(call.name, call.layer, cycle, int(p["numInputRows"]))
                rec.action_s = p["durationMs"]["triggerExecution"] / 1e3
                self.records.append(rec)
                if cycle:
                    self.stream_progress.append(p)
            if self.trace:
                t = time.perf_counter()
                rec.action = self.ledger.counters(self.ledger.job_ids(str(query.runId)))
                rec.gc_s = self.ledger.gc_seconds() - gc0
                self.ledger_s += time.perf_counter() - t
            if release:
                self._release(rec)
            if check:
                t = time.perf_counter()
                try:
                    call.check(table)
                finally:
                    self.check_times[call.name] = time.perf_counter() - t
        except Exception as exc:
            self._fail(call.name, "stream", exc)
        finally:
            spark.catalog.dropTempView(table)


def _quantile(walls: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: the mean of the order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density. A run
    times one cycle of 7-11 unlike calls, and the plain order statistic
    jumps between neighbouring call types from run to run; the estimate
    weighs the neighbours too."""
    s = sorted(walls)
    n, steps = len(s), 200
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    mids = [(k + 0.5) / (n * steps) for k in range(n * steps)]
    dens = [u ** (a - 1) * (1 - u) ** (b - 1) for u in mids]
    return sum(x * sum(dens[i * steps:(i + 1) * steps]) for i, x in enumerate(s)) / sum(dens)


def _layer_metrics(runner: Runner, timed: list, cycles: int, wall: float, setup: dict) -> dict:
    """Per-layer ledger: times are per-cycle means over the timed cycles,
    counts are the first timed cycle's (they repeat exactly)."""
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "io.read_s": (setup["read_s"], "s"),
    }
    first = [r for r in timed if r.cycle == timed[0].cycle] if timed else []
    for layer in OP_LAYERS:
        rs = [r for r in timed if r.layer == layer]
        m[f"{layer}.build_s"] = (sum(r.build_s for r in rs) / cycles, "s")
        m[f"{layer}.action_s"] = (sum(r.action_s for r in rs) / cycles, "s")
        m[f"{layer}.build_jobs"] = (sum(r.build.jobs for r in first if r.layer == layer), "count")
        m[f"{layer}.action_jobs"] = (sum(r.action.jobs for r in first if r.layer == layer), "count")
    m["io.write_s"] = (sum(r.build_s for r in timed if r.name == "write_read_dataset") / cycles, "s")
    m["io.staged_rdds"] = (max((r.staged_rdds for r in timed), default=0), "count")
    m["io.staged_mb"] = (max((r.staged_mb for r in timed), default=0.0), "MB")

    from ledger import JobCounters

    once, total = JobCounters(), JobCounters()
    for r in first:
        once.add(r.build)
        once.add(r.action)
    for r in timed:
        total.add(r.build)
        total.add(r.action)
    for name in ("jobs", "stages", "stages_skipped", "tasks"):
        m[f"spark.{name}"] = (getattr(once, name), "count")
    for name, unit in (("executor_run_s", "s"), ("executor_cpu_s", "s"),
                       ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        m[f"spark.{name}"] = (getattr(total, name) / cycles, unit)
    m["spark.cpu_util"] = (total.executor_cpu_s / (wall * _cores()), "ratio")
    m["spark.jvm_gc_s"] = (sum(r.gc_s for r in timed) / cycles, "s")

    prog = runner.stream_progress
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    dur = lambda key: med([p["durationMs"].get(key, 0) / 1e3 for p in prog])  # noqa: E731
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["streaming.batch_s"] = (dur("triggerExecution"), "s")
    m["streaming.add_batch_s"] = (dur("addBatch"), "s")
    m["streaming.planning_s"] = (dur("queryPlanning"), "s")
    m["streaming.commit_s"] = (
        med([(p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1e3 for p in prog]),
        "s",
    )
    m["streaming.state_commit_s"] = (med([o.get("commitTimeMs", 0) / 1e3 for o in ops]), "s")
    m["streaming.state_rows"] = (int(ops[-1].get("numRowsTotal", 0)) if ops else 0, "count")
    m["streaming.state_mb"] = (ops[-1].get("memoryUsedBytes", 0) / 2**20 if ops else 0.0, "MB")
    # the ledger also reads counters during the warm-up pass
    m["bench.ledger_s"] = (runner.ledger_s / (cycles + 1), "s")
    return m


def measure(args, work: str) -> tuple[dict, dict, int, int]:
    import gen

    data_dir = os.path.join(work, "inputs")
    t = time.perf_counter()
    manifest, truth = gen.generate(args.workload, args.seed, data_dir, args.scale)
    gen_s = time.perf_counter() - t
    loadavg_start = os.getloadavg()

    # ---- set-up: session, input registration, warm-up pass -------------
    from pytrousse_spark.io import read_parquet_df
    from pytrousse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    start_s = time.perf_counter() - PROCESS_START
    # registration: each table through the library's reader, which reads
    # footers and resolves the schema but runs no job
    t = time.perf_counter()
    for name in manifest["tables"]:
        if name != "dirty_csv":
            read_parquet_df(spark, os.path.join(data_dir, f"{name}.parquet")).schema
    read_s = time.perf_counter() - t
    rows = {name: t["rows"] for name, t in manifest["tables"].items()}

    import duckdb

    duck = duckdb.connect()
    for name in manifest["tables"]:
        if name != "dirty_csv":
            duck.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(data_dir, name)}.parquet'")
    ctx = Context(spark, entry, duck, data_dir, os.path.join(work, "scratch"), rows, truth)
    os.makedirs(ctx.scratch_dir, exist_ok=True)
    stream_dir = os.path.join(data_dir, "documents_stream")
    if os.path.isdir(stream_dir):
        ctx.stream_schema = spark.read.parquet(stream_dir).schema

    import workloads

    calls = workloads.calls_for(ctx, args.workload)
    runner = Runner(ctx, args.trace == 1)
    warm_t0 = time.perf_counter()
    runner.warm_up(calls)
    warmup_s = time.perf_counter() - warm_t0
    setup_s = time.perf_counter() - PROCESS_START - gen_s
    from ledger import reset_peak_rss

    # the peak reported is the timed loop's, not the threaded warm-up's
    reset_peak_rss(os.getpid())

    # ---- timed closed loop: whole cycles until --seconds have passed;
    # the first cycle's outputs are checked, outside the timer
    loop_t0 = time.perf_counter()
    cycles = 0
    while True:
        cycles += 1
        for call in calls:
            runner.call(call, cycles, check=cycles == 1)
        now = time.perf_counter()
        wall = now - loop_t0 - sum(runner.check_times.values())
        if wall >= args.seconds or now - PROCESS_START >= RUN_CAP_S:
            break

    timed = [r for r in runner.records if r.cycle > 0]
    ok = [r for r in timed if r.ok]
    walls = [r.wall_s for r in ok] or [float("nan")]
    failed = len(runner.failures)
    attempted = runner.attempted
    if args.trace:
        metrics = _layer_metrics(
            runner, timed, cycles, wall,
            {"start_s": start_s, "warmup_s": warmup_s, "read_s": read_s},
        )
    else:
        from ledger import tree_peak_rss_mb

        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (sum(r.input_rows for r in ok) / wall, "1/s"),
            "call_p50_s": (_quantile(walls, 0.5), "s"),
            "call_tail_s": (_quantile(walls, TAIL_Q), "s"),
            "ok_ratio": (1.0 - failed / attempted, "ratio"),
            "peak_rss_mb": (tree_peak_rss_mb(os.getpid()), "MB"),
        }
    from ledger import rss_by_process

    per_call = defaultdict(list)
    for r in ok:
        per_call[r.name].append(r.wall_s)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": _cores(), "inputs": manifest["tables"], "gen_s": round(gen_s, 3),
        "cycles": cycles, "calls": len(timed), "timed_wall_s": round(wall, 3),
        "cycle_walls_s": [round(sum(r.wall_s for r in timed if r.cycle == c), 3)
                          for c in range(1, cycles + 1)],
        "phase_s_per_cycle": {
            "build": round(sum(r.build_s for r in timed) / cycles, 3),
            "action": round(sum(r.action_s for r in timed) / cycles, 3),
        },
        "setup_parts_s": {"start": round(start_s, 3), "read": round(read_s, 3),
                          "warmup": round(warmup_s, 3)},
        "call_tail_percentile": 100 * TAIL_Q,
        "call_tail_samples_beyond": round(len(walls) * (1 - TAIL_Q), 1),
        "per_call_median_s": {k: round(statistics.median(v), 4) for k, v in per_call.items()},
        "call_plain_median_s": round(statistics.median(walls), 4), "call_max_s": round(max(walls), 4),
        "rss_mb_by_process": rss_by_process(os.getpid()),
        "check_s": {k: round(v, 3) for k, v in runner.check_times.items()},
        "run_s": round(time.perf_counter() - PROCESS_START, 3),
        "failures": runner.failures, "findings": ctx.findings,
        "loadavg_start": loadavg_start, "loadavg_end": os.getloadavg(),
    }
    duck.close()
    return metrics, detail, attempted, failed


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    from ledger import descendants

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description="pytrousse-spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args()

    missing = [p for p in ("pytrousse_spark", "__spark_entry__.py", "tests/conftest.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a pytrousse-spark checkout, missing {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    try:
        metrics, detail, attempted, failed = measure(args, work)
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
