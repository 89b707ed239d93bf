#!/usr/bin/env python3
"""Benchmark of record for ojo_daps_mirror_spark.

Run from the repository root:

    python3 perfbench/run.py --workload indicators_weekly --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed``, starts the package's
Spark session, measures passes of the workload for ``--seconds``
seconds, then checks every key's output against its DuckDB oracle. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A readable report goes to standard error.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory and is removed at exit; traced runs keep their spans
in ``.perfbench_out/``. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

PACKAGE = "ojo_daps_mirror_spark"
# Least number of timed passes in a run. The first pass runs on a cold
# JVM and is the slowest for every request. A request's time is its
# minimum over the passes, which leaves out the cold pass and any pass
# that a burst of other work on the host slowed. The JIT compiler is
# still at work through the later passes, so each one is a little
# faster than the last: the count is fixed, so that every run reads the
# same point of the warm-up.
MIN_PASSES = 5
# A run stops measuring this long after it started, once it has three
# passes, whatever MIN_PASSES says, so it always ends well inside 180 s.
HARD_CAP_S = 110.0
MiB = 1024.0**2
CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, reaped children included) used so
    far by process ``root`` and every live process below it: this
    Python process, its Spark JVM and the JVM's Python workers. Stolen
    time, when the host runs other guests' vCPUs, is not counted."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        # Fields after the command: state, ppid, ... utime, stime,
        # cutime, cstime are fields 14-17 of stat(5).
        procs[int(pid)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / CLK_TCK


# The host runs other guests, and how much of a core they leave this one
# moves every CPU time by up to a half: in one set of runs the set-up,
# which no seed changes, read 6.5 s for some minutes and 10 s after.
# Each CPU time is therefore scaled by REF_CAL_S over the CPU time that
# a fixed pure-Python loop (calibrate()) takes beside it, so the metrics
# read as CPU seconds on a core where that loop takes REF_CAL_S.
REF_CAL_S = 0.004


def calibrate() -> float:
    """CPU seconds of this thread for a fixed pure-Python loop, as the
    median of five tries."""
    tries = []
    for _ in range(5):
        t0 = time.thread_time()
        x = 0
        for i in range(25_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        tries.append(time.thread_time() - t0)
    return sorted(tries)[2]


# Names (as truncated in /proc) of the JVM's JIT compiler threads.
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def compiler_tids(jvm: int) -> list[int]:
    tids = []
    for tid in os.listdir(f"/proc/{jvm}/task"):
        with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
            if fh.read().startswith(COMPILER_THREADS):
                tids.append(int(tid))
    if not tids:
        raise RuntimeError(f"no JIT compiler threads in the Spark JVM (pid {jvm})")
    return tids


def threads_cpu_s(pid: int, tids: list[int]) -> float:
    """CPU seconds (user and system) used so far by threads ``tids`` of
    process ``pid``."""
    ticks = 0
    for tid in tids:
        with open(f"/proc/{pid}/task/{tid}/stat") as fh:
            ticks += sum(int(f) for f in fh.read().rsplit(")", 1)[1].split()[11:13])
    return ticks / CLK_TCK


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str) -> str:
    """Point every scratch location of Python, Spark and the JVM into a
    per-run directory under ``root``; return that directory."""
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    # Every JIT compiler thread lives as long as the JVM, so its CPU time
    # can be read (an exiting thread folds its time into the process's).
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options",
                shlex.quote(java_opts),
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                "--conf",
                "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    )
    # The default scale mode and per-application cache directories.
    for var in (
        "SPARK_GRAFT_SCALE_MODE",
        "SPARK_GRAFT_STAGE_CACHE_DIR",
        "SPARK_GRAFT_SUFFIX_CACHE_DIR",
        "SPARK_GRAFT_CHECKPOINT_DIR",
    ):
        os.environ.pop(var, None)
    tempfile.tempdir = None
    return work


class Bench:
    """One benchmark process: session, inputs, measurement, checks."""

    def __init__(self, args, work: str):
        import tracing as tr

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.traced = bool(args.trace)
        self.tracer = tr.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        self.engine = tr.Engine()
        # Engine totals of the traced passes, per phase kind.
        self.engine_tot: dict[str, dict[str, int]] = {}
        # Key of each timed request, and which of them raised.
        self.requests: list[str] = []
        self.raised: set[int] = set()
        self.failed_keys: set[str] = set()
        self.layer: dict[str, float] = {}
        if self.traced:
            tr.wrap_operators(self.tracer, self.engine)

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        self.tracer.enabled = self.traced
        with self.tracer.span("session.get_spark"):
            from ojo_daps_mirror_spark.session import get_spark

            self.spark = get_spark()
        with self.tracer.span("plans.load_all"):
            from ojo_daps_mirror_spark import plans

            plans.load_all()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.jit_tids = compiler_tids(self.jvm_pid)
        self.setup_cpu_s = self.cpu_s()[0] * REF_CAL_S / calibrate()
        missing = [key for key in self.wl.keys if key not in plans.ORACLES]
        if missing:
            raise RuntimeError(f"keys without a DuckDB oracle: {missing}")
        self.tracer.enabled = False
        self.plans = plans
        self.engine.attach(self.spark)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.layer["session.get_spark_s"] = self.tracer.total("session.get_spark")
        self.layer["plans.load_all_s"] = self.tracer.total("plans.load_all")

    def generate(self) -> None:
        import gen

        self.data = os.path.join(self.work, "data")
        gen.generate(self.data, self.args.seed, self.wl.scale)
        self.rows = gen.row_counts(self.data)

    def clear_caches(self) -> None:
        from ojo_daps_mirror_spark.operators import stagecache, suffix

        self.spark.catalog.clearCache()
        stagecache.clear_cache(self.spark)
        suffix.clear_cache(self.spark)

    # -------------------------------------------------------- the checks

    def check(self) -> None:
        """Run every request once more, untimed, and check its output."""
        from oracle import Oracle

        oracle = Oracle(self.data)
        try:
            for key in self.wl.requests:
                self.clear_caches()
                t0 = time.perf_counter()
                try:
                    if key == "ingest":
                        n = self.ingest("check").count()
                        if n != self.rows["events"]:
                            self.fail(key, f"landed {n} rows of {self.rows['events']}")
                        continue
                    pdf = self.plans.QUERIES[key](self.spark, self.data).toPandas()
                except Exception as exc:  # noqa: BLE001 - a failing key is a result
                    self.fail(key, f"raised {type(exc).__name__}: {exc}")
                    continue
                why = oracle.check(pdf, self.plans.ORACLES[key])
                if why:
                    self.fail(key, why)
                print(f"perfbench: checked {key} in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        finally:
            oracle.close()

    def fail(self, key: str, why: str) -> None:
        self.failed_keys.add(key)
        print(f"perfbench: FAIL {key}: {why}", file=sys.stderr)

    # ----------------------------------------------------- measurement

    def ingest(self, tag: str):
        """Land the events through the streaming file sink into a fresh
        lake and checkpoint; return the re-read lake."""
        from ojo_daps_mirror_spark.streaming.stock import stream_to_partitioned_parquet

        lake = os.path.join(self.work, "lake", tag)
        ckpt = os.path.join(self.work, "ckpt", tag)
        for path in (lake, ckpt):
            shutil.rmtree(path, ignore_errors=True)
        return stream_to_partitioned_parquet(self.spark, self.data, lake, ckpt)

    @contextmanager
    def phase(self, span: str, kind: str):
        """Span ``span`` around one phase of a request, and, when traced,
        the range of Spark job ids it launched, filed under ``kind``."""
        if not self.tracer.enabled:
            yield
            return
        j0 = self.engine.job_count()
        with self.tracer.span(span):
            yield
        self.ranges.append((kind, j0, self.engine.job_count()))

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by the process tree outside the JVM's
        JIT compiler threads, and by those threads."""
        jit = threads_cpu_s(self.jvm_pid, self.jit_tids)
        return tree_cpu_s(os.getpid()) - jit, jit

    def request(self, key: str, tag: str) -> tuple[float, float, float]:
        """Run one request; return its wall time, its CPU time outside
        the JIT compiler, and the JIT compiler's CPU time, both CPU times
        scaled by the calibration taken before and after it."""
        cal0 = calibrate()
        (cpu0, jit0), t0 = self.cpu_s(), time.perf_counter()
        self.run_request(key, tag)
        wall = time.perf_counter() - t0
        cpu1, jit1 = self.cpu_s()
        scale = 2 * REF_CAL_S / (cal0 + calibrate())
        return wall, (cpu1 - cpu0) * scale, (jit1 - jit0) * scale

    def run_request(self, key: str, tag: str) -> None:
        """One request: the ingest, or a key through build, analyze and
        exec."""
        if key == "ingest":
            with self.phase("streaming.ingest", "ingest"):
                self.ingest(tag)
            self.tracer.add("streaming.events", self.rows["events"])
            return
        with self.phase(f"plans.build.{key}", "build"):
            df = self.plans.QUERIES[key](self.spark, self.data)
        with self.phase(f"plans.analyze.{key}", "analyze"):
            df._jdf.queryExecution().executedPlan()
        with self.phase(f"plans.exec.{key}", "exec"):
            df.write.format("noop").mode("overwrite").save()
        if key == "streaming_stock" and self.tracer.enabled:
            self.stream_progress()

    def stream_progress(self) -> None:
        """Fold the last drain's StreamingQuery progress into counters."""
        from ojo_daps_mirror_spark.streaming import stock

        prog = stock.LAST_PROGRESS
        add = self.tracer.add
        for p in prog:
            dur = p.get("durationMs", {})
            add("streaming.add_batch_s", dur.get("addBatch", 0) / 1000.0)
            add("streaming.query_planning_s", dur.get("queryPlanning", 0) / 1000.0)
            add("streaming.wal_commit_s", dur.get("walCommit", 0) / 1000.0)
            add("streaming.input_rows", p.get("numInputRows", 0))
        add("streaming.batches", sum(1 for p in prog if p.get("numInputRows", 0)))
        state = stock.state_summary(prog)
        add("streaming.state_rows", state["rows"])
        add("streaming.state_mb", state["bytes"] / MiB)

    def measure(self) -> None:
        """Closed loop of whole passes for ``--seconds``, and until
        MIN_PASSES is met. A traced run
        traces every second pass, so its traced and untraced passes are
        equally warm; the difference between them is the tracing
        overhead."""
        # Per pass: traced or not, wall time, and what request() returned
        # for each request.
        self.passes: list[tuple[bool, float, dict[str, tuple[float, float, float]]]] = []
        # A traced run adds a pass, so every traced pass sits between
        # untraced ones.
        min_passes = MIN_PASSES + self.traced
        start = time.perf_counter()
        n = 0
        while n < min_passes or time.perf_counter() - start < self.args.seconds:
            if n >= 3 and time.perf_counter() - T_START > HARD_CAP_S:
                break
            traced = self.traced and n % 2 == 1
            self.ranges: list[tuple[str, int, int]] = []
            self.clear_caches()
            self.tracer.enabled = traced
            lats = {}
            t0 = time.perf_counter()
            for key in self.wl.requests:
                self.requests.append(key)
                try:
                    lats[key] = self.request(key, f"p{n}")
                except Exception as exc:  # noqa: BLE001 - a failing request is a result
                    self.raised.add(len(self.requests) - 1)
                    self.fail(key, f"raised {type(exc).__name__}: {exc}")
            wall = time.perf_counter() - t0
            self.tracer.enabled = False
            self.passes.append((traced, wall, lats))
            for kind, j0, j1 in self.ranges:
                tot = self.engine_tot.setdefault(kind, {})
                for k, v in self.engine.stats(j0, j1).items():
                    tot[k] = tot.get(k, 0) + v
            n += 1
        if self.traced:
            self.scan()

    def per_pass(self, traced: bool, field: int) -> float:
        """One pass's total of a field of request() (0 wall, 1 CPU, 2 JIT
        CPU), as the sum over its requests of each request's minimum over
        the traced or the untraced passes."""
        by_key: dict[str, list[float]] = {}
        for t, _, times in self.passes:
            if t == traced:
                for key, fields in times.items():
                    by_key.setdefault(key, []).append(fields[field])
        return sum(min(v) for v in by_key.values())

    def scan(self) -> None:
        """Noop-write every generated input table through load_table."""
        import gen
        from ojo_daps_mirror_spark.sources import load_table

        total = 0
        for name in gen.TABLES:
            path = os.path.join(self.data, f"{name}.parquet")
            files = [os.path.join(path, f) for f in os.listdir(path)] if os.path.isdir(path) else [path]
            total += sum(os.path.getsize(f) for f in files)
        self.tracer.enabled = True
        with self.tracer.span("sources.scan"):
            for name in gen.TABLES:
                load_table(self.spark, self.data, name).write.format("noop").mode("overwrite").save()
        self.tracer.enabled = False
        scan_s = self.tracer.total("sources.scan")
        self.layer["sources.scan_s"] = scan_s
        self.layer["sources.scan_mb_per_s"] = total / MiB / scan_s

    # ---------------------------------------------------------- results

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's /proc status")

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup_cpu_s, "run_cpu_s": self.per_pass(False, 1)}

    def per_layer(self) -> dict[str, float]:
        """Per traced pass: totals of each span and counter divided by
        the number of traced passes."""
        from tracing import OPERATORS
        from workloads import ENRICH, INDICATORS

        tr = self.tracer
        n = sum(1 for p in self.passes if p[0])
        m = dict(self.layer)
        for ph in ("build", "analyze", "exec"):
            m[f"plans.{ph}_s"] = tr.total(f"plans.{ph}") / n
        for ph in ("build", "exec"):
            m[f"plans.{ph}_jobs"] = self.engine_tot.get(ph, {}).get("jobs", 0) / n
        for key in ENRICH + INDICATORS:
            m[f"plans.build_s.{key}"] = tr.total(f"plans.build.{key}") / n
            m[f"plans.exec_s.{key}"] = tr.total(f"plans.exec.{key}") / n
        for mod, fn in OPERATORS:
            m[f"operators.{mod}.{fn}_s"] = tr.total(f"operators.{mod}.{fn}") / n
            m[f"operators.{mod}.calls"] = tr.count(f"operators.{mod}.calls") / n
            m[f"operators.{mod}.jobs"] = tr.count(f"operators.{mod}.jobs") / n
        ingest_s = tr.total("streaming.ingest")
        m["streaming.ingest_s"] = ingest_s / n
        m["streaming.events_per_s"] = tr.count("streaming.events") / ingest_s if ingest_s else 0.0
        for name in ("add_batch_s", "query_planning_s", "wal_commit_s", "batches",
                     "input_rows", "state_rows", "state_mb"):
            m[f"streaming.{name}"] = tr.count(f"streaming.{name}") / n
        m.update(self.engine_metrics(n))
        m["engine.jvm_peak_rss_mb"] = self.peak_rss_mb()
        untraced = self.per_pass(False, 0)
        m["run.wall_s"] = untraced
        m["run.jit_cpu_s"] = self.per_pass(False, 2)
        m["trace.overhead_s"] = self.per_pass(True, 0) - untraced
        m["trace.overhead_frac"] = m["trace.overhead_s"] / untraced
        return m

    def shares(self) -> dict[str, float]:
        """Each layer's share of the traced passes, by self time: a
        build's self time excludes the eager operators it calls."""
        selfs = self.tracer.self_times()
        wall = sum(w for t, w, _ in self.passes if t)
        layer = lambda prefix: sum(v for k, v in selfs.items() if k.startswith(prefix))  # noqa: E731
        return {
            "build": layer("plans.build.") / wall,
            "analyze": layer("plans.analyze.") / wall,
            "exec": layer("plans.exec.") / wall,
            "operators": layer("operators.") / wall,
            "ingest": layer("streaming.ingest") / wall,
        }

    def engine_metrics(self, n: int) -> dict:
        phases = self.engine_tot.values()
        tot = lambda k: sum(p.get(k, 0) for p in phases)  # noqa: E731
        exec_run_s = sum(
            self.engine_tot.get(kind, {}).get("executor_run_ms", 0) for kind in ("exec", "ingest")
        ) / 1000.0
        exec_wall = self.tracer.total("plans.exec") + self.tracer.total("streaming.ingest")
        return {
            "engine.jobs": tot("jobs") / n,
            "engine.stages": tot("stages") / n,
            "engine.tasks": tot("tasks") / n,
            "engine.failed_tasks": tot("failed_tasks") / n,
            "engine.executor_run_s": tot("executor_run_ms") / 1000.0 / n,
            "engine.busy_frac": exec_run_s / (exec_wall * self.cores),
            "engine.shuffle_write_mb": tot("shuffle_write_bytes") / MiB / n,
            "engine.shuffle_read_mb": tot("shuffle_read_bytes") / MiB / n,
            "engine.spill_mb": tot("spill_bytes") / MiB / n,
        }

    def result(self, declared: dict[str, str]) -> dict:
        """The closing JSON line: exactly the ``declared`` metrics (name
        to unit). A timed request fails when it raised or when its key's
        output failed a check."""
        failed = sum(
            1 for i, key in enumerate(self.requests) if i in self.raised or key in self.failed_keys
        )
        values = self.per_layer() if self.traced else self.end_to_end()
        missing = set(declared) - set(values)
        if missing:
            raise RuntimeError(f"metrics declared but not measured: {sorted(missing)}")
        return {
            "correct": not self.failed_keys,
            "attempted": len(self.requests),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in declared.items()},
        }

    def report(self, res: dict) -> None:
        frac = res["failed"] / res["attempted"]
        walls = ", ".join(f"{w:.2f}{'t' if t else ''}" for t, w, _ in self.passes)
        print(
            f"perfbench: {self.args.workload} seed={self.args.seed} trace={self.args.trace} "
            f"requests={len(self.requests)} failed_frac={frac:.4f} pass_s=[{walls}]",
            file=sys.stderr,
        )
        print(f"perfbench: untraced pass: wall_s={self.per_pass(False, 0):.4f} "
              f"jit_cpu_s={self.per_pass(False, 2):.4f}", file=sys.stderr)
        for key in self.wl.requests:
            runs = [times[key] for t, _, times in self.passes if not t and key in times]
            print(f"perfbench:   {key:24s} wall/cpu/jit s per pass: "
                  + " ".join("/".join(f"{v:.2f}" for v in r) for r in runs), file=sys.stderr)
        if self.traced:
            print("perfbench: layer shares of a traced pass: "
                  + ", ".join(f"{k}={v:.1%}" for k, v in self.shares().items()), file=sys.stderr)
        for k, v in res["metrics"].items():
            print(f"perfbench:   {k:48s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - make sure the JVM goes away
            proc.kill()
            proc.wait(timeout=20)


def declared_metrics(root: str, traced: bool) -> dict[str, str]:
    """Name to unit of the metrics BENCHMARK.json declares for this
    kind of run."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    declared = declared_metrics(root, bool(args.trace))
    sys.path.insert(0, root)
    work = prepare_env(root)
    bench = Bench(args, work)
    phases = {}
    try:
        for phase in (bench.setup, bench.generate, bench.measure, bench.check):
            t0 = time.perf_counter()
            phase()
            phases[phase.__name__] = time.perf_counter() - t0
        res = bench.result(declared)
        if bench.traced:
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    bench.report(res)
    print("perfbench: phase seconds: " + ", ".join(f"{k}={v:.1f}" for k, v in phases.items())
          + f", total={time.perf_counter() - T_START:.1f}", file=sys.stderr)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
