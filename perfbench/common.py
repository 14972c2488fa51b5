"""Shared pieces of the benchmark: the pinned environment, session
start-up, the run context, the memory sampler and the tracer."""

from __future__ import annotations

import collections
import contextlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any

#: the checkout root (this file's parent directory holds the benchmark)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark writes lives here (git-ignored)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "cloudfront_kinesis_log_lambda_spark"


def pin_environment(run_dir: str) -> None:
    """Drop engine overrides and keep every temporary file of Python,
    Spark and the JVM inside ``run_dir``. Must run before the JVM starts;
    child processes (Spark's Python workers, the input generators, the
    stream generator) inherit it."""
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "CFKLL_")):
            del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that builds the command
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(nproc: int):
    """Set-up as a user pays it: import the engine, build the session with
    its shipped defaults, run a trivial job. Returns (spark, set-up
    seconds counted from process start)."""
    from cloudfront_kinesis_log_lambda_spark import get_spark

    spark = get_spark(master=f"local[{nproc}]")
    spark.range(1).count()
    return spark, process_age_s()


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (its Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at end of input
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def median(values: list[float]) -> float:
    return percentile(values, 50)


# --- run context -----------------------------------------------------------


@dataclass
class Ctx:
    spark: Any
    workload: str
    seed: int
    seconds: float
    nproc: int
    run_dir: str
    cache: str
    tracer: "Tracer | NullTracer"
    #: extra pids the memory sampler must leave out (the generator)
    rss_exclude: set[int] = field(default_factory=set)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


@dataclass
class Outcome:
    """What a workload hands back: its end-to-end figures (set-up and
    memory are added by the runner), the operations it attempted and
    failed, and, when traced, its per-layer figures."""

    first_pass_s: float
    pass_s: float
    records_per_s: float
    latencies_ms: list[float]
    attempted: int
    failed: int
    layer: dict[str, float] = field(default_factory=dict)


def fail(msg: str) -> None:
    """Report one failed correctness gate on stderr."""
    print(f"GATE FAILED: {msg}", file=sys.stderr)


# --- peak memory -----------------------------------------------------------


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    driver Python, the JVM and Spark's Python workers), sampled every
    ``interval`` seconds from /proc: in total, and of the JVM and of the
    Python processes alone."""

    def __init__(self, exclude: set[int], interval: float = 0.2) -> None:
        self.exclude = exclude
        self.interval = interval
        self.peak_bytes = self.peak_jvm_bytes = self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while True:
            jvm, python = self.sample()
            self.peak_bytes = max(self.peak_bytes, jvm + python)
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
            self.peak_python_bytes = max(self.peak_python_bytes, python)
            if self._stop.wait(self.interval):
                return

    def sample(self) -> tuple[int, int]:
        """Resident bytes of the tree now: (JVM, everything else)."""
        children = collections.defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended between listdir and open
            children[ppid].append(int(name))
        jvm = python = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    is_jvm = f.read().strip() == "java"
            except (OSError, ValueError, IndexError):
                continue
            if is_jvm:
                jvm += rss
            else:
                python += rss
            todo += children.get(pid, [])
        return jvm, python


# --- tracing ---------------------------------------------------------------


class NullTracer:
    """The untraced run: spans cost nothing and set no job group."""

    enabled = False
    pass_label: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        yield None


class Tracer:
    """Spans recorded in memory around each call into a layer, written out
    when the run ends. A span with ``group=True`` also runs its Spark jobs
    in a job group of its own, so their stage metrics can be read back
    afterwards, outside every timed window."""

    enabled = True

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.pass_label: str | None = None
        self.spans: list[dict] = []
        # per thread: foreachBatch callbacks run on their own threads
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "workload": self.workload,
            "pass": self.pass_label,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        sc = self.spark.sparkContext
        if group:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"perfbench-{rec['id']}-{name}"
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


_STAGE_FIELDS = ("jobs", "tasks", "run_ms", "cpu_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes")


def stage_totals(spark) -> dict[str, dict[str, float]]:
    """Stage metrics of every finished job, summed per job group (streaming
    queries run their jobs under their run id). Read from the status
    store, which Spark keeps with its UI disabled too."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    group_of: dict[int, tuple[int, str]] = {}
    totals: dict[str, dict[str, float]] = collections.defaultdict(
        lambda: dict.fromkeys(_STAGE_FIELDS, 0.0)
    )
    jobs = store.jobsList(jvm.java.util.ArrayList()).iterator()
    while jobs.hasNext():
        job = jobs.next()
        opt = job.jobGroup()
        group = opt.get() if opt.isDefined() else ""
        totals[group]["jobs"] += 1
        job_id = job.jobId()
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid not in group_of or group_of[sid][0] > job_id:
                group_of[sid] = (job_id, group)
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while stages.hasNext():
        st = stages.next()
        if st.status().toString() != "COMPLETE":
            continue
        t = totals[group_of.get(st.stageId(), (0, ""))[1]]
        t["tasks"] += st.numTasks()
        t["run_ms"] += st.executorRunTime()
        t["cpu_ms"] += st.executorCpuTime() / 1e6
        t["input_bytes"] += st.inputBytes()
        t["shuffle_write_bytes"] += st.shuffleWriteBytes()
        t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return dict(totals)


def spark_layer(per_pass: list[dict[str, float]], walls: list[float]) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics: medians over passes of the
    stage totals each pass ran, and run time over wall as parallelism."""

    def med(key: str) -> float:
        return median([p[key] for p in per_pass])

    return {
        "spark.jobs": med("jobs"),
        "spark.tasks": med("tasks"),
        "spark.executor_run_ms": med("run_ms"),
        "spark.executor_cpu_ms": med("cpu_ms"),
        "spark.cpu_parallelism": median(
            [p["run_ms"] / (w * 1000) for p, w in zip(per_pass, walls) if w > 0]
        ),
        "spark.shuffle_write_mb": med("shuffle_write_bytes") / 1e6,
        "spark.spill_mb": med("spill_bytes") / 1e6,
    }


def sum_totals(totals: dict[str, dict[str, float]], groups: list[str]) -> dict[str, float]:
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    for g in groups:
        for k, v in totals.get(g, {}).items():
            out[k] += v
    return out
