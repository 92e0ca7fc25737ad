"""Shared benchmark machinery: machine pinning, the Spark session, timed
operations, tracing and the result line.

An *operation* is one closed-loop request: a short list of steps, each a
call into one engine layer, where a step receives the previous step's
output. ``OpLog.run`` times the whole operation. In a traced run it also
records one span per step, the Spark job group's job and task counts, the
executor CPU and GC seconds from the UI store, and (for operations that end
in a DataFrame) the scan metrics of a re-execution. All of that happens
outside the timed window, and none of it happens in an untraced run.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

WORK_DIRNAME = ".perfbench_work"
DRIVER_MEMORY = "2g"
#: a timed window ends after this many times its length in wall time, even
#: if the host has stolen so much CPU that the corrected clock lags behind
WINDOW_WALL_CAP = 1.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_machine(run_dir: str) -> None:
    """Pin the engine to this machine's cores and keep every file Spark,
    the JVM and Python write inside ``run_dir``. Without this,
    ``session.get_spark`` defaults to ``local[32]`` with an 8 g driver."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = None


def _git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


@dataclass(frozen=True)
class Mark:
    """A point in time with the machine's CPU accounting at that point."""

    t: float
    #: clock ticks all CPUs spent running anything, and lost to steal
    busy: int
    steal: int


def _cpu_ticks() -> tuple[int, int]:
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    if len(v) < 8:
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def mark() -> Mark:
    busy, steal = _cpu_ticks()
    return Mark(time.perf_counter(), busy, steal)


def jvm_s(spark) -> tuple[float, float]:
    """(GC, JIT compile) seconds the driver JVM has spent since it
    started, from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000


def steal_s() -> float | None:
    """CPU time this machine's virtual CPUs have lost to other guests of
    its host since boot (``/proc/stat`` steal), or None where not exposed.
    Its growth over a run tells a slow host from a slow program."""
    busy, steal = _cpu_ticks()
    return steal / os.sysconf("SC_CLK_TCK") if busy else None


def steal_share(a: Mark, b: Mark) -> float:
    """Share of the CPU time this machine's CPUs wanted between ``a`` and
    ``b`` that the host gave to other guests instead (0 where the kernel
    does not account steal)."""
    busy, steal = b.busy - a.busy, b.steal - a.steal
    if steal <= 0 or busy <= 0:
        return 0.0
    return steal / (busy + steal)


def host_s(a: Mark, b: Mark, untimed_s: float = 0.0) -> float:
    """Seconds from ``a`` to ``b`` (less ``untimed_s`` of bookkeeping) on
    a clock that stops while the host steals CPU: wall time times the
    share of wanted CPU time the host gave. A thread that wants a CPU for
    w seconds of which the host takes a share s runs for w * (1 - s), so
    this is the time the same work takes on a host that steals nothing."""
    return (b.t - a.t - untimed_s) * (1.0 - steal_share(a, b))


def machine_info(root: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_before": list(os.getloadavg()),
        "steal_s_before": steal_s(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "commit": _git_commit(root),
    }


def start_session(run_dir: str, trace: bool):
    """``get_spark`` with the engine's defaults; the traced run also turns
    on the UI store that ``findb_spark.metrics`` reads."""
    from findb_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway server exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def table_files(path: str) -> dict[str, int]:
    """Data file -> bytes for a parquet table directory (Spark's ``_`` and
    ``.`` marker and checksum files excluded)."""
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet table directory."""
    files = table_files(path)
    return len(files), sum(files.values())


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    return n - max(0, math.ceil(q * n))


@dataclass
class Step:
    """One call into one layer. ``phase`` is ``build`` (driver work that
    returns a lazy plan) or ``exec`` (Spark executes)."""

    span: str
    phase: str
    fn: object


@dataclass
class Op:
    seq: int
    kind: str
    #: seconds on the steal-corrected clock (``host_s``), and on the wall
    latency_s: float | None = None
    wall_s: float | None = None
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    ok: bool | None = None
    answer: object = None
    #: rows the operation returned, the base of rows_scanned_per_row_returned
    rows: int | None = None
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, op), written out once
    when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self seconds of each span with that name (duration
        minus the time its children cover; children never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[s["id"]])
        return out


class OpLog:
    """Runs and records the closed-loop operations of one workload."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace
        self.tracer = Tracer() if trace else None
        self.ops: list[Op] = []
        #: cycle times without the benchmark's own bookkeeping, on the
        #: steal-corrected clock and on the wall
        self.cycles: list[float] = []
        self.cycles_wall: list[float] = []
        #: share of wanted CPU time the host stole, and the JVM's GC and
        #: JIT compile seconds, per cycle
        self.cycles_steal: list[float] = []
        self.cycles_jvm: list[tuple[float, float]] = []
        self._jvm_start = (0.0, 0.0)
        #: cycle times on the steal-corrected clock, bookkeeping included,
        #: for the end of the timed window
        self._spans: list[float] = []
        self._window: tuple[Mark, float] | None = None
        self._cycle_start: Mark | None = None
        self._untimed_s = 0.0

    # -- cycles -------------------------------------------------------------
    def open_window(self, seconds: float) -> None:
        """Start the timed window: ``seconds`` on the steal-corrected
        clock, so a host that steals CPU stretches the window instead of
        cutting the work measured in it (up to ``WINDOW_WALL_CAP`` times
        ``seconds`` of wall time)."""
        self._window = (mark(), seconds)

    def another_cycle(self) -> bool:
        """True until a further cycle of median time would end after the
        window; always True before the first cycle."""
        if not self._spans:
            return True
        start, seconds = self._window
        now = mark()
        if now.t - start.t + statistics.median(self._spans) > WINDOW_WALL_CAP * seconds:
            return False
        return host_s(start, now) + statistics.median(self._spans) <= seconds

    def begin_cycle(self) -> None:
        self._jvm_start = jvm_s(self.spark)
        self._cycle_start = mark()
        self._untimed_s = 0.0

    def end_cycle(self) -> None:
        a, b = self._cycle_start, mark()
        self._spans.append(host_s(a, b))
        self.cycles_wall.append(b.t - a.t - self._untimed_s)
        self.cycles.append(host_s(a, b, self._untimed_s))
        self.cycles_steal.append(steal_share(a, b))
        gc, jit = jvm_s(self.spark)
        self.cycles_jvm.append((gc - self._jvm_start[0], jit - self._jvm_start[1]))

    @contextmanager
    def untimed(self):
        """Benchmark bookkeeping inside a cycle (answer checks, counters):
        its time is taken out of the cycle's time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._untimed_s += time.perf_counter() - t0

    # -- operations ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        """A span in a traced run; nothing otherwise."""
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name, op_id):
                yield

    def run(self, kind: str, steps: list[Step], scan: bool = True) -> Op:
        op = Op(seq=len(self.ops), kind=kind)
        self.ops.append(op)
        op_id = f"op{op.seq}"
        sc = self.spark.sparkContext
        before = None
        if self.trace:
            from findb_spark.metrics import settled_stages_snapshot

            with self.untimed():
                before, _ = settled_stages_snapshot(self.spark)
            sc.setJobGroup(op_id, kind)
        value = plan = None
        m0 = mark()
        try:
            with self.span(f"op.{kind}", op_id):
                for i, st in enumerate(steps):
                    s0 = time.perf_counter()
                    with self.span(st.span, op_id):
                        value = st.fn(value) if i else st.fn()
                    dt = time.perf_counter() - s0
                    if hasattr(value, "_jdf"):
                        plan = value
                    if st.phase == "build":
                        op.build_s += dt
                    else:
                        op.exec_s += dt
            m1 = mark()
            op.latency_s = host_s(m0, m1)
            op.wall_s = m1.t - m0.t
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            print(f"perfbench: {kind} op {op.seq} raised", file=sys.stderr)
            traceback.print_exc(limit=3, file=sys.stderr)
            if self.trace:
                sc.setJobGroup("idle", "idle")
            return op
        op.answer = value
        if isinstance(value, list):
            op.rows = len(value)
        if self.trace:
            with self.untimed():
                self._count(op, op_id, before, plan if scan else None)
        return op

    def _count(self, op: Op, op_id: str, before, df) -> None:
        from findb_spark.layout import scan_metrics
        from findb_spark.metrics import exec_cpu_delta_s, settled_stages_snapshot

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        stages: set[int] = set()
        tasks = 0
        for jid in jobs:
            ji = tracker.getJobInfo(jid)
            for sid in ji.stageIds if ji else ():
                si = tracker.getStageInfo(sid)
                if sid not in stages and si is not None:
                    stages.add(sid)
                    tasks += si.numCompletedTasks
        after, _ = settled_stages_snapshot(self.spark)
        cpu = exec_cpu_delta_s(before, after) or {}
        op.counters.update(
            jobs=len(jobs), tasks=tasks, exec_cpu_s=cpu.get("cpu_s"), gc_s=cpu.get("gc_s")
        )
        if df is not None:
            sc.setJobGroup(f"scan-{op_id}", "scan metrics")
            nodes = scan_metrics(df)
            op.counters.update(
                files_scanned=sum(int(n.get("numFiles", 0)) for n in nodes),
                bytes_scanned=sum(int(n.get("filesSize", 0)) for n in nodes),
                rows_scanned=sum(int(n.get("numOutputRows", 0)) for n in nodes),
            )
        sc.setJobGroup("idle", "idle")

    # -- summaries ----------------------------------------------------------
    def done(self, kinds: tuple[str, ...] | None = None) -> list[Op]:
        return [o for o in self.ops if o.latency_s is not None and (kinds is None or o.kind in kinds)]

    def failed(self) -> int:
        return sum(1 for o in self.ops if o.error is not None or o.ok is False)

    def latency_stats(self, name: str, kinds: tuple[str, ...], qs: tuple[float, ...]) -> dict:
        """``<name>_p<q>_s`` entries with their sample counts."""
        lat = [o.latency_s for o in self.done(kinds)]
        out = {}
        for q in qs:
            if lat:
                out[f"{name}_p{round(q * 100)}_s"] = {
                    "value": percentile(lat, q),
                    "unit": "s",
                    "n": len(lat),
                    "n_beyond": samples_beyond(len(lat), q),
                }
        return out


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def median_or_none(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def mean_or_none(values):
    values = [v for v in values if v is not None]
    return sum(values) / len(values) if values else None


def op_p50(ops: list[Op], attr: str = "latency_s") -> float | None:
    """The workload's typical operation latency: the median, over its
    kinds of operation, of each kind's median. On asof_serving that is the
    range median (point < range < batch); on analytics_suite the middle
    spec's. Taking each kind's median first keeps a run's figure from
    jumping between kinds of different cost as their samples interleave."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(getattr(o, attr))
    return statistics.median(statistics.median(v) for v in kinds.values()) if kinds else None


def generic_per_layer(log: OpLog, session_start_s: float, files: int, size: int) -> dict:
    """The per-layer metrics every workload reports (BENCHMARK.json
    ``per_layer``), from the traced run's operations."""
    ops = log.done()
    c = [o.counters for o in ops]
    scanned = [x for x in c if "rows_scanned" in x]
    rows_returned = sum(o.rows or 0 for o in ops if "rows_scanned" in o.counters)
    return {
        "session.start_s": metric(session_start_s, "s"),
        "driver.build_s": metric(median_or_none([o.build_s for o in ops]), "s"),
        "exec.run_s": metric(median_or_none([o.exec_s for o in ops]), "s"),
        "exec.jobs_per_op": metric(mean_or_none([x.get("jobs") for x in c]), "count"),
        "exec.tasks_per_op": metric(mean_or_none([x.get("tasks") for x in c]), "count"),
        "exec.cpu_s_per_op": metric(mean_or_none([x.get("exec_cpu_s") for x in c]), "s"),
        "scan.files_per_op": metric(mean_or_none([x["files_scanned"] for x in scanned]), "count"),
        "scan.bytes_per_op": metric(mean_or_none([x["bytes_scanned"] for x in scanned]), "B"),
        "scan.rows_per_row_returned": metric(
            sum(x["rows_scanned"] for x in scanned) / max(1, rows_returned), "ratio"
        ),
        "table.files": metric(files, "count"),
        "table.bytes": metric(size, "B"),
        "trace.op_p50_s": metric(op_p50(ops), "s"),
        "trace.cycle_s": metric(median_or_none(log.cycles), "s"),
    }
