"""Spark side of the benchmark: session lifecycle, process-tree accounting,
driver phase clocks and the stage collector.

Everything here observes the program from outside.  Phases are timed by
module-attribute wrappers around the eager public calls
(``pipeline.broadcast_side_tables``, ``tables.write_bucketed``,
``tables.append_metrics``); each wrapper also tags the Spark jobs it starts
with a job group, so the stage collector can attribute every stage to a
layer when it reads the driver's status REST API.
"""

from __future__ import annotations

import json
import os
import re
import signal
import time
import urllib.request
from contextlib import contextmanager

# ---------------------------------------------------------------- session


def _warm(batches):
    """Runs once per pre-forked Python worker: import the package so the
    timed jobs do not pay for it."""
    import unfurl_spark.functions.content  # noqa: F401
    import unfurl_spark.functions.engine  # noqa: F401
    import unfurl_spark.functions.media  # noqa: F401
    import unfurl_spark.functions.multimodal  # noqa: F401
    import unfurl_spark.functions.pdftext  # noqa: F401
    yield from batches


def prepare_environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, bind the UI to loopback and let the workers import
    the package (and this directory) from the checkout."""
    here = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [root, here, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_HOSTNAME"] = "localhost"
    # C1-only JIT, unlike a long-lived production JVM.  With C2 the
    # compiler is still busy long after a warm-up job: per-job CPU fell
    # 58 -> 50 -> 44 s over three consecutive 20k-document jobs, and over
    # the same five seeds media_decode's records_per_s spread three times
    # as wide (IQR/median 0.27 against 0.09 with C1, 4-vCPU VM).  Every
    # JVM-side figure (flattening, Arrow conversion, shuffle, parquet
    # commits) is therefore a C1 figure: slower per call than settled C2
    # code, though faster than C2 while that is still compiling.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData "
                                       "-XX:TieredStopAtLevel=1")


def session_conf(nproc: int, work: str) -> dict:
    """The engine's own local profile (``pipeline.session_configs``) with
    partition counts derived from nproc, plus a bounded heap, Spark's
    local files inside the work dir and no console progress bars."""
    from unfurl_spark.operators.pipeline import session_configs

    conf = session_configs("local", master=f"local[{nproc}]",
                           shuffle_partitions=2 * nproc)
    conf.update({
        "spark.master": f"local[{nproc}]",
        "spark.default.parallelism": str(nproc),  # the salt partition count
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
    })
    return conf


def start_session(conf: dict, nproc: int):
    """Session start plus worker pre-fork and package import."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("unfurl_perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(nproc).repartition(nproc).mapInArrow(
        _warm, "id long").count()
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    one started has exited."""
    from pyspark import SparkContext

    before = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to SIGKILL
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")
                 and _state(p) not in ("Z", "X", None)]
        if not alive:
            break
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)
    _reap()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ------------------------------------------------------- /proc accounting

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return s[s.rindex(")") + 2:].split()


def _state(pid: int):
    f = _stat(pid)
    return f[0] if f else None


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (driver JVM,
    Python daemon, workers), including descendants already reaped."""
    total = 0.0
    for pid in [os.getpid(), *descendants()]:
        f = _stat(pid)
        if f:
            # utime stime cutime cstime (fields 14-17 of /proc/pid/stat)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) of any live Python process below the JVM."""
    best = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


# ----------------------------------------------------------- phase clocks

LAYERS = ("side_tables", "data_commit", "metrics_commit", "other")


class PhaseClock:
    """Splits driver wall time into layers.  A wrapper entering a layer
    closes the open one; ``append_metrics`` leaves its layer open so the
    per-chunk stats readback that follows it is charged to the metrics
    commit, as the driver runs it."""

    def __init__(self, sc):
        self.sc = sc
        self.current = None
        self.t = 0.0
        self.reset()

    def enter(self, layer: str | None) -> None:
        now = time.perf_counter()
        if self.current is not None:
            self.wall[self.current] += now - self.t
        self.current, self.t = layer, now
        if layer is not None:
            self.sc.setJobGroup(layer, layer)

    def reset(self) -> None:
        self.wall = dict.fromkeys(LAYERS, 0.0)
        self.counts = {"side_tables": 0, "chunks": 0}


@contextmanager
def phase_wrappers(clock: PhaseClock):
    from unfurl_spark.operators import pipeline
    from unfurl_spark.sources import tables

    orig = (pipeline.broadcast_side_tables, tables.write_bucketed,
            tables.append_metrics)

    def side(spark, oembed_df=None, media_df=None, context_store=None):
        clock.enter("side_tables")
        clock.counts["side_tables"] += 1
        try:
            return orig[0](spark, oembed_df, media_df, context_store)
        finally:
            clock.enter("other")

    def write(df, identifier, partition_col="bucket"):
        clock.enter("data_commit")
        try:
            return orig[1](df, identifier, partition_col)
        finally:
            clock.enter("other")

    def append(df, identifier):
        clock.enter("metrics_commit")
        clock.counts["chunks"] += 1
        return orig[2](df, identifier)

    pipeline.broadcast_side_tables = side
    tables.write_bucketed = write
    tables.append_metrics = append
    try:
        yield
    finally:
        (pipeline.broadcast_side_tables, tables.write_bucketed,
         tables.append_metrics) = orig


# -------------------------------------------------------- stage collector


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


_DUR = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _durations(value: str) -> list[float]:
    """Spark SQL timing metric text → seconds: [total] for one task, or
    [total, min, median, max] for several."""
    return [float(n.replace(",", "")) * _UNIT[u]
            for n, u in _DUR.findall(value)]


class StageCollector:
    """Reads the jobs, stages and SQL executions a job left in the
    driver's status REST API and reduces them to per-layer counters."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1
        self.last_sql = -1
        self.mark()

    def mark(self) -> None:
        """Forget everything that ran so far."""
        jobs = _get(f"{self.base}/jobs")
        self.last_job = max((j["jobId"] for j in jobs), default=-1)
        sql = _get(f"{self.base}/sql?planDescription=false"
                   "&offset=0&length=1000000")
        self.last_sql = max((e["id"] for e in sql), default=-1)

    def collect(self) -> dict:
        jobs = [j for j in _get(f"{self.base}/jobs")
                if j["jobId"] > self.last_job]
        layer_of = {}
        for j in jobs:
            for s in j["stageIds"]:
                layer_of[s] = j.get("jobGroup") or "other"
        stages = [s for s in _get(f"{self.base}/stages?status=complete")
                  if s["stageId"] in layer_of]
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
               "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_read_mb": 0.0}
        for layer in LAYERS:
            out[f"{layer}.task_s"] = 0.0
        for s in stages:
            out["tasks"] += s["numCompleteTasks"]
            out["gc_s"] += s["jvmGcTime"] / 1e3
            out["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
            out["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
            layer = layer_of[s["stageId"]]
            if layer not in LAYERS:
                layer = "other"
            out[f"{layer}.task_s"] += s["executorRunTime"] / 1e3

        # the mapInArrow operators' own task-time counter; for an operator
        # that ran in several tasks Spark also gives min/median/max, from
        # which the skew of the largest kernel operator is taken
        sql = _get(f"{self.base}/sql?details=true&planDescription=false"
                   f"&offset=0&length=1000000")
        kernel_s, skew, biggest = 0.0, 1.0, -1.0
        for ex in sql:
            if ex["id"] <= self.last_sql:
                continue
            for node in ex["nodes"]:
                if node["nodeName"] != "MapInArrow":
                    continue
                for m in node.get("metrics", ()):
                    if m["name"] != "time to run Python workers":
                        continue
                    d = _durations(m["value"])
                    if not d:
                        continue
                    kernel_s += d[0]
                    if len(d) == 4 and d[0] > biggest and d[2] > 0:
                        biggest, skew = d[0], d[3] / d[2]
        out["kernel_stage.task_s"] = kernel_s
        out["task_skew"] = skew
        self.mark()
        return out
