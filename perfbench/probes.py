"""Measurement from outside the program: the Spark status stores, a
streaming-progress listener, a resident-memory sampler and a directory
size walk.  Nothing here changes what a query does; the status-store reads
only run in the traced run.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?\b")

#: SQL plan nodes that run Python (Arrow or pickled) UDFs.
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def _metric_value(text: str) -> float:
    """Parse a SQL metric as the status store formats it: ``"1,234"``,
    ``"7.2 KiB"``, or a task summary ``"total (min, med, max ...)\\n1.2 MiB (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "B", 1)


class StatusStore:
    """Reads what Spark's status stores recorded since the previous read.

    Jobs, stages and SQL executions carry increasing ids, so each read asks
    only for ids above the last one seen.  A read first drains the listener
    bus, so every event of a finished action is in the store."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._kv = self._sc.statusStore().store()
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        self._seq = getattr(getattr(jvm.org.apache.spark.status, "KVUtils$"), "MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._json.registerModule(scala)
        cls = jvm.java.lang.Class.forName
        self._job_cls = cls("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")
        self._next_job = 0
        self._next_stage = 0
        self._next_exec = 0
        self.read()  # skip everything that ran before the benchmark

    def sync(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _view(self, cls, first):
        view = self._kv.view(cls).first(first)
        return json.loads(self._json.writeValueAsString(self._seq.viewToSeq(view)))

    def read(self) -> dict:
        """Jobs, stages and Python-UDF counters recorded since the last read."""
        self.sync()
        jobs = [w["info"] for w in self._view(self._job_cls, self._jvm.java.lang.Integer(self._next_job))]
        key = self._gw.new_array(self._jvm.int, 2)
        key[0] = self._next_stage
        stages = [{**w["info"], "jobIds": w["jobIds"]} for w in self._view(self._stage_cls, key)]
        if jobs:
            self._next_job = max(j["jobId"] for j in jobs) + 1
        if stages:
            self._next_stage = max(s["stageId"] for s in stages) + 1
        return {"jobs": jobs, "stages": stages, "udf": self._python_udf()}

    def _python_udf(self) -> dict:
        rows = data = 0.0
        # a read follows every traced call, and one call starts far fewer
        # than 200 SQL executions
        count = self._sql.executionsCount()
        recent = self._sql.executionsList(max(0, count - 200), 200)
        for i in range(recent.size()):
            eid = recent.apply(i).executionId()
            if eid < self._next_exec:
                continue
            self._next_exec = eid + 1
            ids: dict[int, str] = {}
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not _PYTHON_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    ids[ms.apply(k).accumulatorId()] = ms.apply(k).name()
            if not ids:
                continue
            values = json.loads(self._json.writeValueAsString(self._sql.executionMetrics(eid)))
            for acc, name in ids.items():
                v = _metric_value(values.get(str(acc), "0"))
                if name == "number of output rows":
                    rows += v
                elif name.startswith("data ") and "Python workers" in name:
                    data += v
        return {"rows": rows, "bytes": data}

    def persisted(self) -> tuple[int, int]:
        """Persisted RDDs and their size in memory plus on disk."""
        rdds = json.loads(self._json.writeValueAsString(self._sc.statusStore().rddList(True)))
        return len(rdds), sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)


def stage_totals(stages: list[dict]) -> dict:
    run = [s for s in stages if s["status"] != "SKIPPED"]
    total = lambda key: sum(s.get(key) or 0 for s in run)  # noqa: E731
    return {
        "stages": len(run),
        "tasks": total("numCompleteTasks") + total("numFailedTasks") + total("numKilledTasks"),
        "failed_tasks": total("numFailedTasks") + total("numKilledTasks"),
        "task_s": total("executorRunTime") / 1e3,
        "gc_s": total("jvmGcTime") / 1e3,
        "input_bytes": total("inputBytes"),
        "input_rows": total("inputRecords"),
        "output_bytes": total("outputBytes"),
        "output_rows": total("outputRecords"),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
    }


class StreamingStats(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        ops = list(p.stateOperators)
        self.events.append(
            {
                "query": str(p.id),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "commit_ms": d.get("walCommit", 0)
                + d.get("commitOffsets", 0)
                + sum(o.commitTimeMs for o in ops),
                "add_batch_ms": d.get("addBatch", 0),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> dict:
        """Totals of the progress events since the last call.  State rows
        count each query's last batch, the state it ended with."""
        ev, self.events = self.events, []
        last = {e["query"]: e["state_rows"] for e in ev}
        return {
            "batches": len(ev),
            "state_rows": sum(last.values()),
            "commit_ms": sum(e["commit_ms"] for e in ev),
            "add_batch_ms": sum(e["add_batch_ms"] for e in ev),
        }


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants_rss_bytes(root: int) -> int:
    """Resident bytes of every process below ``root`` (the Spark JVM and
    its Python workers when ``root`` is this process)."""
    tree = _children()
    todo, total = list(tree.get(root, [])), 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak of :func:`descendants_rss_bytes`, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_event = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_event.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop_event.wait(self.interval)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests (``steal``): ambient load this process
    cannot see in its own counters."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def descendants(root: int) -> set[int]:
    tree, out = _children(), set()
    todo = list(tree.get(root, []))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(tree.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` is running; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = {p for p in pids if _alive(p)}
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = {p for p in alive if _alive(p)}
    return alive
