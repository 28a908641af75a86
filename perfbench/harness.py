"""Machinery the workloads share: environment, Spark sessions, set-up,
the timed loop, the failure tally and the peak-RSS sampler.

Everything the benchmark writes goes under ``WORK`` (``.perfbench/`` at the
repository root, git-ignored).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench")
TMP = os.path.join(WORK, "tmp")

#: end-to-end metrics every workload reports with --trace 0
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
}
#: per-layer metrics every workload reports with --trace 1; the layers a
#: workload alone exercises go to the context line's detail instead
PER_LAYER = {
    "session.start_s": "s",
    "kernels.ms_per_frame": "ms",
    "decode.ms_per_frame": "ms",
    "orient.ms_per_frame": "ms",
    "detect.ms_per_frame": "ms",
    "detect.boxes_per_frame": "count",
    "crop.ms_per_frame": "ms",
    "cls.ms_per_frame": "ms",
    "recognize.ms_per_frame": "ms",
    "recognize.crops_per_call": "count",
    "layout.ms_per_frame": "ms",
    "scan.stage_s": "s",
    "merge.stage_s": "s",
    "merge.task_s": "s",
    "merge.shuffle_bytes": "bytes",
    "driver.gap_s": "s",
    "trace.coverage": "ratio",
    "tracing.overhead": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Environment of every process the run starts. Must run before the JVM
    starts: local-mode Python workers inherit the JVM's environment, which
    inherits ours, so the repository on PYTHONPATH is what lets the workers
    import the package when the benchmark runs from another directory."""
    os.makedirs(TMP, exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())


def fresh_dir(*parts: str) -> str:
    d = os.path.join(WORK, *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def cached_input(workload: str, key: str, build: Callable[[str], object]) -> str:
    """Directory ``WORK/inputs/<workload>-<key>``, made once by
    ``build(directory)``. Making it deletes the workload's other inputs, so
    one seed's inputs per workload stay on disk."""
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, f"{workload}-{key}")
    if not os.path.isdir(d):
        for old in glob.glob(os.path.join(root, f"{workload}-*")):
            shutil.rmtree(old)
        os.makedirs(d + ".tmp")
        build(d + ".tmp")
        os.replace(d + ".tmp", d)
    return d


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dirs, files in os.walk(path)
        for f in files
    )


def start_session(event_log_dir: str | None = None):
    """``sources.session.get_spark`` at local[nproc]; returns (spark,
    seconds). With ``event_log_dir`` the session writes one uncompressed,
    non-rolling event log there (Spark 4.1 otherwise writes a zstd
    ``eventlog_v2_*`` directory)."""
    from ai_invoice_ocr_engine_spark.sources.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # the JVM's temp files stay under WORK too (-XX:-UsePerfData: no
        # /tmp/hsperfdata_* file)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    secs = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, secs


def shutdown_jvm() -> None:
    """Stop the active session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


class Tally:
    """Operations attempted and failed; error_rate = failed / attempted.
    An operation fails when it raises or its output check returns False."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, name: str, fn: Callable[[], bool]) -> bool:
        self.attempted += 1
        try:
            ok = bool(fn())
            why = "output check failed"
        except Exception as e:  # a failing operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok, why = False, f"{type(e).__name__}: {e}"
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}"[:300])
            print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
        return ok


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str
    tally: Tally = field(default_factory=Tally)
    metrics: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    env: dict = field(default_factory=dict)

    def report(self, values: dict) -> None:
        """Set the metrics of this run's mode from ``values``, which must
        hold every name of END_TO_END (untraced) or PER_LAYER (traced)."""
        names = PER_LAYER if self.trace else END_TO_END
        self.metrics = {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in names.items()
        }


def record_env(run: Run, spark, **sizes) -> None:
    import numpy
    import pyarrow

    run.env.update(
        nproc=nproc(),
        seed=run.seed,
        size=run.size,
        master=spark.sparkContext.master,
        arrow_batch=int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark=spark.version,
        pyarrow=pyarrow.__version__,
        numpy=numpy.__version__,
        python=sys.version.split()[0],
        **sizes,
    )


class Workload:
    """One workload: the hooks ``execute`` drives. An operation returns
    named sub-windows (epoch-second pairs) of its own, possibly none."""

    #: untimed operations between the checks and the timed loop
    warm_ops = 0
    #: least number of timed operations in a run
    min_ops = 5
    #: operations per session in the traced phase
    traced_ops = 2

    def __init__(self, run: Run):
        self.run = run

    def sizes(self) -> dict:
        """Input sizes, recorded in the environment."""
        raise NotImplementedError

    def prepare(self, spark) -> dict:
        """Set-up work before the warm-up operation; returns named times."""
        return {}

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def check(self, spark) -> None:
        """Untimed correctness checks, once per run, before timing."""

    def op(self, spark) -> dict:
        raise NotImplementedError

    def op_time(self, ops: list[dict]) -> float:
        """op_s: the median wall time of the timed operations."""
        return median(wall(o["op"]) for o in ops)

    def record_ops(self, ops: list[dict]) -> None:
        """Record workload-specific figures of the timed operations."""

    def frames(self) -> list[bytes]:
        """Frames for the kernel probe."""
        raise NotImplementedError

    def trace_extra(self, spark) -> dict:
        """Work traced after the traced operations, in the same session;
        returns its named windows."""
        return {}

    def layers(self, traced: list[dict], kernels: dict, extra: dict) -> dict:
        """Workload-specific layer metrics from the traced operations and
        the windows of ``trace_extra``."""
        return {}


def wall(window: tuple[float, float]) -> float:
    return window[1] - window[0]


def _windowed(op: Callable, spark) -> dict:
    t0 = time.time()
    sub = op(spark)
    return {"op": (t0, time.time()), **sub}


def execute(run: Run, w: Workload) -> None:
    """Set up, check, then either time operations in a closed loop
    (end-to-end metrics) or probe the kernels and trace (per-layer
    metrics); report the metrics of the run's mode."""
    from .kernel_probe import probe

    with PeakRss() as rss:
        spark = _set_up(run, w)
        record_env(run, spark, **w.sizes())
        t0 = time.perf_counter()
        w.check(spark)
        run.detail["check_s"] = time.perf_counter() - t0
        if not run.trace:
            for _ in range(w.warm_ops):
                w.op(spark)
            steal = cpu_steal()
            ops = timed_loop(run.seconds, lambda: _windowed(w.op, spark), w.min_ops)
            run.detail["cpu_steal_share"] = cpu_steal(since=steal)
    run.detail["peak_rss_mb"] = rss.peak_mb
    if not run.trace:
        run.detail["ops_s"] = [wall(o["op"]) for o in ops]
        values = {
            "setup_s": run.detail["setup"]["setup_s"],
            "op_s": w.op_time(ops),
        }
        w.record_ops(ops)
    else:
        kernels = probe(w.frames(), run.env["arrow_batch"])
        traced, extra, overhead = _traced_phase(w)
        values = run.detail["layers"] = {
            **median_by_key([t["op"] for t in traced]),
            **kernels,
            "session.start_s": run.detail["setup"]["session.start_s"],
            "tracing.overhead": overhead,
            **w.layers(traced, kernels, extra),
        }
    run.report(values)


def _set_up(run: Run, w: Workload):
    """The run's set-up, in the JVM it launches: start the session, run
    ``w.prepare`` and ``w.warm_up``. Returns the session, warm. Records
    setup_s (the total) and its parts."""
    t0 = time.perf_counter()
    spark, start_s = start_session()
    parts = w.prepare(spark)
    t1 = time.perf_counter()
    w.warm_up(spark)
    t2 = time.perf_counter()
    run.detail["setup"] = {"setup_s": t2 - t0, "session.start_s": start_s, **parts,
                           "warmup_s": t2 - t1}
    return spark


def _traced_phase(w: Workload) -> tuple[list[dict], dict, float]:
    """Two fresh sessions in the set-up's JVM with the same protocol —
    warm-up, then ``w.traced_ops`` operations — the first untraced, the
    second with the event log on and ``w.trace_extra`` after the
    operations. Returns, per traced operation, the eventlog.window metrics
    of the whole operation ("op") and of each sub-window; the same for the
    windows of ``trace_extra``; and the tracing overhead, median traced
    over median untraced operation wall time − 1."""
    from . import eventlog
    from pyspark.sql import SparkSession

    walls = []
    for log_dir in (None, fresh_dir("eventlog")):
        SparkSession.getActiveSession().stop()
        spark, _ = start_session(log_dir)
        w.warm_up(spark)
        ops = [_windowed(w.op, spark) for _ in range(w.traced_ops)]
        walls.append(statistics.median(wall(o["op"]) for o in ops))
    extra = w.trace_extra(spark)
    SparkSession.getActiveSession().stop()  # finishes the log file
    log = eventlog.load(log_dir)
    traced = [{k: eventlog.window(log, *win) for k, win in o.items()} for o in ops]
    extra = {k: eventlog.window(log, *win) for k, win in extra.items()}
    return traced, extra, walls[1] / walls[0] - 1


def median_by_key(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def timed_loop(seconds: float, op: Callable[[], object], min_ops: int) -> list:
    """Closed loop, one client: each operation starts when the previous one
    ends. Runs for ``seconds`` and at least ``min_ops`` operations; returns
    what ``op`` returned, in order."""
    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < min_ops or time.perf_counter() < deadline:
        out.append(op())
    return out


class PeakRss:
    """Peak summed resident set size of this process and its descendants
    (driver, JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:  # the process ended while we listed
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total


def cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) CPU jiffies from /proc/stat; with ``since``, the share
    of CPU time the hypervisor took from this machine in between."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    now = (fields[7], sum(fields))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def median(xs) -> float:
    return statistics.median(xs)


def emit(run: Run) -> None:
    """Print the context line, then the result line (always last)."""
    context = {
        "workload": run.workload,
        "env": run.env,
        "error_rate": run.tally.failed / max(run.tally.attempted, 1),
        "failures": run.tally.failures,
        "detail": run.detail,
    }
    print(json.dumps(context, default=float))
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": run.metrics,
    }))
