"""Run scaffolding shared by the workloads: work directory, Spark
session lifetime, memory readings, Spark status-store counters and the
timed loop.

A workload supplies one *round* of operations and may name a separate
cold operation that runs once, first.  The first operation run is the
cold one (``first_op_s``); the rest of round 0 warms the remaining
operations; then whole rounds repeat until the run length is used up.
Outputs are kept and checked after timing, so checks never count as
operation time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start_time() -> float:
    """Wall-clock time (``time.time()`` scale) at which this process
    started, from ``/proc/self/stat`` (clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / hz


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark task threads: half the cores, so the JVM's JIT and GC
    threads and the Python driver keep cores of their own instead of
    competing with every task thread."""
    return max(1, cpu_count() // 2)


def make_workdir() -> str:
    """A private scratch directory inside the checkout; Spark's local
    dirs, the JVM temp dir and every generated input live here."""
    path = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(path, exist_ok=True)
    os.environ["TMPDIR"] = path
    return path


def start_spark(workdir: str):
    """Start the engine's own session (``engine.get_spark``) on
    ``local[spark_cpus()]`` with every on-disk side effect kept in
    ``workdir``."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", f"spark.sql.warehouse.dir={workdir}/warehouse",
        "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell"])
    # every JVM (the launcher too): temp files in the work dir, and no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData"
    n = spark_cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    from rulemorph_spark.engine import get_spark
    return get_spark("perfbench", cpus=n)


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def remove_workdir(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    parent = os.path.dirname(workdir)
    try:
        os.rmdir(parent)
    except OSError:
        pass


# --- Spark status store ------------------------------------------------------


class SparkCounters:
    """Jobs, shuffle-write bytes and spilled bytes from the driver's
    status store (populated with the UI off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def jobs(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def stage_bytes(self) -> tuple[int, int]:
        """(shuffle-write bytes, memory+disk spilled bytes) summed over
        every stage the store still holds."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 self.sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        shuffle = spill = 0
        for i in range(stages.length()):
            s = stages.apply(i)
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return shuffle, spill


def plan_phases(df) -> tuple[float, float, float]:
    """(analyze, plan, execute) seconds for one DataFrame: Catalyst
    analysis, optimisation plus physical planning, then executing the
    prepared physical plan."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.analyzed()
    t1 = time.perf_counter()
    qe.executedPlan()
    t2 = time.perf_counter()
    qe.toRdd().count()
    t3 = time.perf_counter()
    return t1 - t0, t2 - t1, t3 - t2


def plan_layers(dfs) -> dict:
    """Plan phases (:func:`plan_phases`) and plan shape
    (``diag.plan_summary``) summed over the DataFrames of one round."""
    from rulemorph_spark.functions.diag import plan_summary
    out = {"spark.analyze_s": 0.0, "spark.plan_s": 0.0, "spark.exec_s": 0.0,
           "plan.shuffle_exchanges": 0, "plan.python_udf_evals": 0,
           "plan.codegen_spans": 0}
    for df in dfs:
        a, p, e = plan_phases(df)
        out["spark.analyze_s"] += a
        out["spark.plan_s"] += p
        out["spark.exec_s"] += e
        s = plan_summary(df)
        out["plan.shuffle_exchanges"] += s["shuffle_exchanges"]
        out["plan.python_udf_evals"] += s["python_udf_evals"]
        out["plan.codegen_spans"] += s["wholestage_codegen_spans"]
    return out


def write_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- the timed loop ------------------------------------------------------------


@dataclass
class Op:
    """One operation: ``run()`` does the work and returns what ``check``
    needs; ``records`` is the number of input records it processes.
    With ``check_once`` only the first output is kept and checked (for
    outputs that are costly to fetch); a failed check then fails every
    attempt of the operation."""
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    records: int
    check_once: bool = False


@dataclass
class Result:
    first_op_s: float = 0.0
    warm_times: list[float] = field(default_factory=list)
    warm_records: int = 0
    warm_wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    check_failures: int = 0
    failures: list[str] = field(default_factory=list)
    # (op, output) pairs awaiting their check, and attempts per op name
    pending: list = field(default_factory=list)
    attempts: dict = field(default_factory=dict)


def run_rounds(ops: list[Op], seconds: float, warmup_rounds: int = 0,
               first: Op | None = None) -> Result:
    """Run the cold operation (``first``, or else the first of round 0),
    the rest of round 0, ``warmup_rounds`` untimed rounds while the JIT
    settles, then whole timed rounds until ``seconds`` of warm time have
    passed.  An operation that raises counts as failed and the run
    carries on.  Outputs are kept for :func:`run_checks`."""
    res = Result()
    pending, attempts = res.pending, res.attempts

    def attempt(op: Op) -> float:
        res.attempted += 1
        attempts[op.name] = attempts.get(op.name, 0) + 1
        t0 = time.perf_counter()
        try:
            out = op.run()
        except Exception as exc:  # counted, reported, run continues
            dt = time.perf_counter() - t0
            res.failed += 1
            res.failures.append(f"{op.name}: {type(exc).__name__}: {exc}"
                                [:300])
            return dt
        dt = time.perf_counter() - t0
        if not op.check_once or attempts[op.name] == 1:
            pending.append((op, out))
        log(f"op {op.name} {dt:.3f}s")
        return dt

    rest = ops if first is not None else ops[1:]
    res.first_op_s = attempt(first if first is not None else ops[0])
    for op in rest + ops * warmup_rounds:
        attempt(op)
    warm_start = time.perf_counter()
    while True:
        for op in ops:
            res.warm_times.append(attempt(op))
            res.warm_records += op.records
        if time.perf_counter() - warm_start >= seconds:
            break
    res.warm_wall = sum(res.warm_times)
    return res


def run_checks(res: Result) -> None:
    """Check every kept output; a failed check fails its operation (and,
    for a ``check_once`` operation, every repeat of it)."""
    t_check = time.perf_counter()
    for op, out in res.pending:
        try:
            problem = op.check(out)
        except Exception as exc:
            problem = f"check raised {type(exc).__name__}: {exc}"
        if problem:
            res.failed += res.attempts[op.name] if op.check_once else 1
            res.check_failures += 1
            res.failures.append(f"{op.name}: {problem}"[:300])
    res.pending.clear()
    log(f"checks {time.perf_counter() - t_check:.1f}s")


def end_to_end(res: Result, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "first_op_s": {"value": res.first_op_s, "unit": "s"},
        "op_ms_p50": {"value": statistics.median(res.warm_times) * 1000.0,
                      "unit": "ms"},
        "records_per_s": {"value": res.warm_records / res.warm_wall,
                          "unit": "records/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
