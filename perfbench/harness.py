"""Run context shared by the workloads: the per-run directory, the
Spark session, the tracer, and the measurement helpers.

Every file a run writes — Python temp files, Spark local dirs, the JVM
temp dir, stream checkpoints, collections and corpora — lives under
one per-run directory inside the checkout, which is deleted when the
run ends.
"""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

from spans import Tracer

# host settings only: the engine's own configuration comes from
# tidyvec_spark.session.make_session
JVM_HEAP = "2g"
# timed set-ups per run, after one untimed warm-up set-up
SETUP_REPS = 5


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """The per-run directory tree; ``close`` deletes it."""

    def __init__(self, checkout: Path):
        base = checkout / ".perfbench"
        base.mkdir(exist_ok=True)
        self.root = Path(tempfile.mkdtemp(prefix="run-", dir=base))
        self.tmp = self.root / "tmp"
        for d in ("tmp", "spark-local", "jvm-tmp", "checkpoints", "warehouse", "data"):
            (self.root / d).mkdir()
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new, not yet existing path under the data directory."""
        self._n += 1
        return str(self.root / "data" / f"{name}-{self._n}")

    def close(self) -> None:
        tempfile.tempdir = None
        shutil.rmtree(self.root, ignore_errors=True)


def host_env(run: RunDir) -> None:
    """Point every temp location at the run directory and pass the host
    settings to the JVM launch."""
    os.environ["TMPDIR"] = str(run.tmp)
    tempfile.tempdir = str(run.tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run.root / "spark-local")
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run.root / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.root / 'jvm-tmp'}",
        "spark.sql.warehouse.dir": str(run.root / "warehouse"),
        "spark.sql.streaming.checkpointLocation": str(run.root / "checkpoints"),
        # keep every job and stage of a run for the trace rollup
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    args = ["--driver-memory", JVM_HEAP]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Context:
    def __init__(self, spark, run: RunDir, tracer: Tracer, seconds: float, seed: int,
                 progress: list):
        self.spark = spark
        self.run = run
        self.tracer = tracer
        self.seconds = seconds
        self.seed = seed
        self.cores = cores()
        # micro-batch progress records from the streaming listener
        self.progress = progress

    def span(self, layer: str):
        return self.tracer.span(layer)

    @contextmanager
    def untraced(self):
        """Warm-up work: never part of the trace."""
        was = self.tracer.enabled
        self.tracer.enabled = False
        try:
            yield
        finally:
            self.tracer.enabled = was

    def clear_caches(self) -> None:
        """Between workloads only: never between requests of one."""
        self.spark.catalog.clearCache()


def timed_reps(ctx: Context, fn, reps: int = SETUP_REPS, warmup=None):
    """Run ``warmup`` (default: ``fn``) once, untimed and untraced, to
    warm the code paths, then ``fn`` ``reps`` times timed; (median
    seconds, samples, last result)."""
    with ctx.untraced():
        (warmup or fn)()
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples), samples, out


def tail_percentile(samples: list[float]) -> tuple[float | None, int | None]:
    """The highest whole percentile with at least ten samples beyond
    it, and its value (``None`` when there are too few samples)."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        idx = int(round(p / 100.0 * (n - 1)))
        if n - 1 - idx >= 10:
            best = (xs[idx], p)
    return best if best else (None, None)


def _rss_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until the
    JVM and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    children = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        if children:
            time.sleep(0.1)


def _session_pids(spark) -> list[int]:
    jvm = spark.sparkContext._gateway.proc.pid
    return [jvm] + _descendants(jvm)


def reset_peak_rss(spark) -> None:
    """Restart the high-water RSS of the Spark JVM and its Python
    workers at their current RSS, so the next workload reports its own
    peak."""
    for pid in _session_pids(spark):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus its Python workers since the
    last :func:`reset_peak_rss`."""
    return sum(_rss_hwm_kb(p) for p in _session_pids(spark)) / 1024.0
