"""Measurement helpers: spans, Spark status-store harvesting, the
streaming progress listener and /proc readings.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the package, and the engine numbers come
from Spark's status stores after each request.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"
_SHUFFLE_ROWS = "shuffle records written"


def _parse_size(text: str) -> float:
    """'total (min, med, max ...)\\n469.8 KiB (...)' or '134.3 KiB' -> bytes."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = line.partition(" ")
    return float(num.replace(",", "")) * _SIZE_UNITS.get(unit, 1)


def _parse_count(text: str) -> int:
    return int(text.split("\n")[-1].split(" (")[0].replace(",", "").strip() or 0)


class EngineProbe:
    """Per-request harvest of the AppStatusStore (jobs, stages) and the
    SQL status store (Python-boundary metrics).

    Requests are delimited by job and execution ids: ``mark`` records
    the newest ids, ``harvest`` reads everything newer. The benchmark is
    a single closed-loop client, so every job in that window belongs to
    the request, including jobs started from the package's own thread
    pools (which do not inherit a job group).
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_mark = -1
        self._exec_mark = -1

    def _jobs_newer(self, job_id: int) -> list:
        jobs = self._conv.asJava(self._store.jobsList(self._jvm.java.util.ArrayList()))
        out = []
        for i in range(jobs.size()):  # newest first
            j = jobs.get(i)
            if j.jobId() <= job_id:
                break
            out.append(j)
        return out

    def _execs_newer(self, exec_id: int) -> list:
        n = self._sql.executionsCount()
        window = self._conv.asJava(self._sql.executionsList(max(0, n - 500), 500))
        out = []
        for i in range(window.size() - 1, -1, -1):  # newest first
            e = window.get(i)
            if e.executionId() <= exec_id:
                break
            out.append(e)
        return out

    def mark(self) -> None:
        newest = self._jobs_newer(self._job_mark)
        if newest:
            self._job_mark = max(j.jobId() for j in newest)
        execs = self._execs_newer(self._exec_mark)
        if execs:
            self._exec_mark = max(e.executionId() for e in execs)

    def harvest(self, wall_s: float) -> dict[str, float]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._jobs_newer(self._job_mark)
        out: dict[str, float] = defaultdict(float)
        out["engine.jobs"] = len(jobs)
        spans = []
        seen_stages = set()
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in self._conv.asJava(j.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                if str(st.status()) != "COMPLETE":
                    continue  # skipped stages ran no tasks
                out["engine.stages"] += 1
                out["engine.tasks"] += st.numCompleteTasks()
                out["engine.executor_run_s"] += st.executorRunTime() / 1e3
                out["engine.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["engine.scan_bytes"] += st.inputBytes()
                out["engine.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["engine.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["engine.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy = _union_length(spans)
        out["engine.job_busy_s"] = busy
        out["engine.driver_only_s"] = max(0.0, wall_s - busy)
        if jobs:
            self._job_mark = max(j.jobId() for j in jobs)
        execs = self._execs_newer(self._exec_mark)
        for e in execs:
            self._python_metrics(e.executionId(), out)
        if execs:
            self._exec_mark = max(e.executionId() for e in execs)
        rdds = self._conv.asJava(self._store.rddList(True))
        out["engine.cached_bytes"] = float(
            sum(rdds.get(i).memoryUsed() + rdds.get(i).diskUsed() for i in range(rdds.size()))
        )
        return dict(out)

    def _python_metrics(self, exec_id: int, out: dict) -> None:
        """Bytes across the Python boundary, and the rows fed to each
        Python node (its child's output rows: Spark records no
        rows-sent metric of its own)."""
        values = self._conv.asJava(self._sql.executionMetrics(exec_id))
        graph = self._sql.planGraph(exec_id)
        nodes = {}
        for n in self._conv.asJava(graph.allNodes()):
            ms = self._conv.asJava(n.metrics())
            nodes[n.id()] = {
                ms.get(k).name(): values.get(ms.get(k).accumulatorId()) for k in range(ms.size())
            }
        children = defaultdict(list)
        for e in self._conv.asJava(graph.edges()):
            children[e.toId()].append(e.fromId())
        for node_id, metrics in nodes.items():
            if metrics.get(_PY_SENT) is None:
                continue
            out["engine.python_bytes_sent"] += _parse_size(metrics[_PY_SENT])
            if metrics.get(_PY_RECV) is not None:
                out["engine.python_bytes_received"] += _parse_size(metrics[_PY_RECV])
            out["engine.python_rows_sent"] += self._input_rows(node_id, nodes, children)

    @staticmethod
    def _input_rows(node_id, nodes, children) -> int:
        total = 0
        frontier = list(children.get(node_id, ()))
        while frontier:
            child = frontier.pop()
            metrics = nodes.get(child, {})
            value = metrics.get(_ROWS) or metrics.get(_SHUFFLE_ROWS)
            if value is not None:
                total += _parse_count(value)
            else:
                frontier.extend(children.get(child, ()))
        return total


def _union_length(spans: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# ---------------------------------------------------------------------------
# Structured streaming progress
# ---------------------------------------------------------------------------


def streaming_listener():
    """A StreamingQueryListener that keeps every progress event.

    Built lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "input_rows": p.numInputRows,
                    "durations": dict(p.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_memory": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list:
            out, self.progress = self.progress, []
            return out

    return ProgressLog()


def streaming_stats(progress: list, wall_s: float) -> dict[str, float]:
    trigger = sum(p["durations"].get("triggerExecution", 0) for p in progress) / 1e3
    return {
        "streaming.triggers": len(progress),
        "streaming.trigger_s": trigger,
        "streaming.wal_commit_s": sum(p["durations"].get("walCommit", 0) for p in progress)
        / 1e3,
        "streaming.query_planning_s": sum(
            p["durations"].get("queryPlanning", 0) for p in progress
        )
        / 1e3,
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "streaming.state_rows": max((p["state_rows"] for p in progress), default=0),
        "streaming.state_memory_bytes": max((p["state_memory"] for p in progress), default=0),
        "streaming.overhead_s": max(0.0, wall_s - trigger),
    }


# ---------------------------------------------------------------------------
# /proc: CPU time and peak memory of this process tree
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(entry)] = (ppid, comm, ticks / _TICK)
    return out


def _tree(table, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(kids.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds of this process, the JVM and the Python workers.

    Live processes count their own time plus that of children they
    have reaped, so a worker that exited is still counted once."""
    table = proc_table()
    return sum(table[p][2] for p in _tree(table, os.getpid()) if p in table)


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM it launched."""
    table = proc_table()
    pids = [os.getpid()] + [
        p for p in _tree(table, os.getpid()) if p in table and table[p][1] == "java"
    ]
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Files written by the sink layer
# ---------------------------------------------------------------------------


def file_index(root: str) -> dict[tuple[int, int], int]:
    """(inode, mtime_ns) -> size of every file under ``root``. A file
    staged and then renamed into place keeps its identity."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def sink_stats(before: dict, after: dict) -> dict[str, float]:
    new = [size for key, size in after.items() if key not in before]
    live = sum(after.values())
    written = float(sum(new))
    return {
        "sources.sinks.bytes_written": written,
        "sources.sinks.files_written": float(len(new)),
        "sources.sinks.write_amplification": written / live if live else 0.0,
    }
