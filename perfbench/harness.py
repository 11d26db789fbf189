"""Shared plumbing for the benchmark: run directory, session set-up, spans.

Everything a run writes goes under ``<checkout>/.perfbench_work``: the
synthesized inputs, Spark's local dirs, the Python and JVM temp dirs, and
the span files of traced runs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CPUS = "4"          # load model: one client process on local[4]
WORK_DIR = ".perfbench_work"


def sf_dir() -> str:
    """The sf0.1 registry fixture (``SPARK_GRAFT_SF_DIR`` overrides it, as
    for ``bench.py``)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.expanduser("~/testdata/sf0.1"))


def prepare_workdir(root: str) -> str:
    """A fresh per-process directory under the checkout, and the environment
    that keeps Spark, the JVM and Python temp files inside it. Must run
    before the first SparkSession is created."""
    work = os.path.join(root, WORK_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    # Python workers, the DataSource planner and the streaming source runner
    # all import the package; they inherit this process's environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return work


# ---------------------------------------------------------------------------
# Set-up: get_spark plus the one-time warm-ups bench.py does
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tiny_run_dir(work: str) -> str:
    from project_etl_spark.decode import write_run_file
    d = tempfile.mkdtemp(dir=work, prefix="warm-")
    write_run_file(d, 1, 0, [{"kind": "trailer", "elink": 0}])
    return d


def warm_map_in_pandas(spark, work: str) -> None:
    sc = spark.sparkContext
    _noop(spark.range(256).repartition(sc.defaultParallelism)
          .mapInPandas(lambda it: it, "id long"))


def warm_runfiles(spark, work: str) -> None:
    """First ``etl_runfiles`` read, with a pushed filter: spawns the
    DataSource planner worker. ``ensure_deterministic`` ships the package to
    it and enables filter pushdown."""
    from pyspark.sql import functions as F

    from project_etl_spark.pyds import register_datasource
    from project_etl_spark.session import ensure_deterministic
    ensure_deterministic(spark)
    register_datasource(spark)
    _noop(spark.read.format("etl_runfiles").option("path", _tiny_run_dir(work))
          .option("pushdown", "true").load().where(F.col("run") == 1))


def warm_runfiles_streams(spark, work: str) -> None:
    """Structured Streaming and the streaming Python runner, for the simple
    and the partitioned stream readers."""
    d = _tiny_run_dir(work)
    for opts in ({}, {"streaming": "partitioned"}):
        r = spark.readStream.format("etl_runfiles").option("path", d)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load().writeStream.format("noop")
             .option("checkpointLocation", tempfile.mkdtemp(dir=work))
             .trigger(availableNow=True).start())
        await_query(q)


def warm_watchdog(spark, work: str) -> None:
    """Structured Streaming over the binaryFile source: one availableNow
    watchdog drain of a single tiny run file."""
    from project_etl_spark.streaming.watchdog import start_watchdog
    base = tempfile.mkdtemp(dir=work, prefix="warm-watchdog-")
    q = start_watchdog(spark, _tiny_run_dir(work), os.path.join(base, "out"),
                       os.path.join(base, "ckpt"), available_now=True)
    await_query(q)


def warm_scan_parquet(spark, work: str) -> None:
    from project_etl_spark.registry import load_all
    _noop(load_all()["scan_parquet"].builder(spark, sf_dir()))


def await_query(q, timeout_s: float = 120.0) -> None:
    """Wait for an availableNow query; a query still running at the deadline
    is stopped and reported as a failure."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming query {q.id} did not drain in {timeout_s} s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def setup_session(warmups, work: str):
    """``get_spark`` at its defaults, then the given warm-ups.
    Returns the session and the two set-up timings in seconds."""
    from project_etl_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    for warm in warmups:
        warm(spark, work)
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1}


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)   # this span's own jobs
    stage_tasks: dict = field(default_factory=dict)  # stage id -> tasks
    extra_groups: list = field(default_factory=list)  # groups Spark set itself

    @property
    def seconds(self) -> float:
        return self.end - self.start


COUNTER_KEYS = ("jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_bytes", "spill_bytes")


class Tracer:
    """Spans around calls into the program's layers.

    Every span records its name, start, end, parent and operation id; spans
    are kept in memory and written out by ``dump``. With ``spark_counters``
    on (the traced run), each span runs under its own Spark job group, and
    the jobs, stages, tasks, busy time, shuffle and spill of that group are
    read from Spark's status store as the span ends: group names are never
    reused, and the tracker only keeps the most recent ~1,000 jobs.
    ``overhead_s`` is the time spent in that bookkeeping.
    """

    def __init__(self, spark=None, spark_counters: bool = False):
        self.spark = spark
        self.spark_counters = spark_counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0
        self._tag = f"pb{os.getpid()}"

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self._tag}-{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group(span), span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name,
                 parent.span_id if parent else None, op, 0.0)
        self.spans.append(s)
        if self.spark_counters:
            t = time.perf_counter()
            self._set_group(s)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.spark_counters:
                t = time.perf_counter()
                for g in [self._group(s), *s.extra_groups]:
                    c, tasks = group_counters(self.spark, g)
                    for k, v in c.items():
                        s.counters[k] = s.counters.get(k, 0) + v
                    s.stage_tasks.update(tasks)
                self._set_group(parent)
                self.overhead_s += time.perf_counter() - t

    def attach_group(self, group: str) -> None:
        """Count the jobs of ``group`` in the current span too: a streaming
        query runs its micro-batches under a job group named by its run id."""
        if self._stack:
            self._stack[-1].extra_groups.append(group)

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.span_id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, last = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return span.seconds - covered

    def inclusive(self, span: Span) -> dict:
        """Spark counters of a span and all its descendants."""
        out = dict.fromkeys(COUNTER_KEYS, 0)
        todo = [span]
        while todo:
            s = todo.pop()
            for k, v in s.counters.items():
                out[k] += v
            todo.extend(self.children(s))
        return out

    def first_stage_tasks(self, span: Span) -> int:
        """Tasks of the earliest stage the span ran: for a scan, its input
        partitions."""
        stages: dict = {}
        todo = [span]
        while todo:
            s = todo.pop()
            stages.update(s.stage_tasks)
            todo.extend(self.children(s))
        return stages[min(stages)] if stages else 0

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        import json
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"id": s.span_id, "name": s.name, "parent": s.parent,
                        "op": s.op, "start": s.start, "end": s.end,
                        "self_s": self.self_seconds(s), **s.counters}
                       for s in self.spans], fh, indent=0)


def group_counters(spark, group: str) -> tuple[dict, dict]:
    """Totals over every stage of every job run under ``group``, and the
    task count of each stage that ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTER_KEYS, 0)
    out["jobs"] = len(jobs)
    tasks = {}
    from py4j.protocol import Py4JJavaError
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:      # evicted, or never submitted
            continue
        if str(st.status()) != "COMPLETE":
            continue               # skipped: its shuffle output was reused
        out["stages"] += 1
        tasks[sid] = st.numCompleteTasks()
        out["tasks"] += tasks[sid]
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out, tasks


def stored_block_bytes(spark) -> int:
    """Memory plus disk bytes of every cached or checkpointed RDD block."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
