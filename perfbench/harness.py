"""Shared benchmark machinery: Spark session set-up, span tracing, streaming
progress capture, process statistics and result statistics.

Nothing here changes library behaviour: every number is taken from outside
the library, around its public calls or from Spark's own progress reports.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

CPUS = 4  # the load is sized for local[4]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """The q-th percentile (0 < q < 100), linear between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


# --------------------------------------------------------------------------
# tracing


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent) recorded around layer calls.

    Disabled tracers record nothing, so untraced runs pay one attribute test
    per boundary.  Spans are written out once, when the run ends.
    """

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a micro-batch from its progress)."""
        if not self.enabled:
            return -1
        idx = len(self.spans)
        self.spans.append(
            {"id": idx, "name": name, "parent": parent, "start": start, "end": end, **attrs}
        )
        return idx

    def total(self, name: str) -> float:
        """Summed duration (s) of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# streaming progress


class ProgressLog(StreamingQueryListener):
    """Keeps every StreamingQueryProgress of the session, parsed.

    ``query.recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (100) batches; a
    listener sees all of them.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def of(self, run_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.events if p["runId"] == run_id]


def progress_start(p: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger began."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["batchDuration"] / 1000.0


# --------------------------------------------------------------------------
# process statistics (psutil is not installed: read /proc)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    """This process and every live descendant (the JVM, its Python workers)."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, reaped children included."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except OSError:
            pass
    return total / _CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over processes of their peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# Spark session


def prepare_env(work: str) -> None:
    """Point every scratch location at the run's work dir and make
    ``kafka_flow_spark`` importable in Spark's Python workers.

    Workers are started by the JVM, which inherits this process's
    environment; without the repo root on PYTHONPATH every stateful-flow task
    fails to import ``kafka_flow_spark`` (its worker function imports
    ``operators.keyed``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYTHONWARNINGS", "ignore")


def start_session(work: str):
    """``session.get_spark`` on local[4]; only scratch locations and console
    output are set here, no execution profile."""
    from kafka_flow_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop any Spark session and shut the JVM down, waiting for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
