"""Readers the benchmark measures through, from outside the package.

- ``ProcTree``: CPU seconds and resident memory of this process and every
  descendant (the JVM and the Python workers), from ``/proc``. The
  steal share of ``/proc/stat`` comes from ``bench.read_cpu_steal``.
- ``StatusStore``: Spark's own ``AppStatusStore`` (jobs and stages) and
  the SQL status store (executions, plan graphs and their metrics), read
  after a call once the listener bus has drained.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """This process and its descendants, sampled from /proc.

    ``cpu_s`` sums user+system time of the live tree plus what it has
    reaped from ended children; it is read at pass boundaries. A sampler
    thread tracks the tree's peak resident set while the object is open.
    Finding the members takes a scan of every process in /proc
    (``/proc/<pid>/task/<tid>/children`` exists only on kernels built with
    CONFIG_PROC_CHILDREN), so the sampler reads
    only the known members' ``statm`` and rescans once every
    ``rescan_every`` samples, to catch a Python worker started in
    between; ``cpu_s`` rescans too."""

    def __init__(self, interval_s: float = 0.2, rescan_every: int = 5) -> None:
        self.root = str(os.getpid())
        self.peak_rss_mb = 0.0
        self._pids = [self.root]
        self._interval = interval_s
        self._rescan_every = rescan_every
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def members(self) -> list[tuple[str, list[str]]]:
        """(pid, /proc stat fields after the command) of every live member."""
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    stats[pid] = st
        members, frontier = [], [self.root]
        children: dict[str, list[str]] = {}
        for pid, st in stats.items():
            children.setdefault(st[1], []).append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in stats:
                members.append((pid, stats[pid]))
            frontier.extend(children.get(pid, ()))
        return members

    def rescan(self) -> list[tuple[str, list[str]]]:
        members = self.members()
        self._pids = [pid for pid, _ in members]
        return members

    def cpu_s(self) -> float:
        # fields after the command: utime=11, stime=12, cutime=13, cstime=14
        return sum(sum(int(v) for v in st[11:15]) for _, st in self.rescan()) / _TICK

    def rss_mb(self) -> float:
        """Summed resident set of the members found by the last rescan."""
        pages = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except OSError:  # the process has ended
                pass
        return pages * _PAGE / 2**20

    def _sample(self) -> None:
        n = 0
        while not self._stop.wait(self._interval):
            if n % self._rescan_every == 0:
                self.rescan()
            n += 1
            self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.rescan()
        self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_UNIT = {"B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
         "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """The total of one formatted SQL metric, in bytes or seconds.

    The status store keeps metrics as display strings: either ``"12.3 KiB"``
    or ``"total (min, med, max ...)\\n12.3 KiB (1.0 KiB, ...)"``."""
    head = text.strip().split("\n")[-1].split()
    value = float(head[0].replace(",", ""))
    return value * _UNIT[head[1]] if len(head) > 1 and head[1] in _UNIT else value


#: the Python-boundary SQL metrics every MapInPandas (and any other
#: Python-evaluating) plan node carries -> their key in ``Window.py``
PY_METRICS = {
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
    "time to start Python workers": "worker_start_s",
    "time to initialize Python workers": "worker_init_s",
    "time to run Python workers": "worker_run_s",
}
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")


@dataclass
class Window:
    """What Spark ran between two marks."""

    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    exchanges: int = 0
    map_in_pandas: int = 0
    py: dict[str, float] = field(default_factory=lambda: dict.fromkeys(PY_METRICS.values(), 0.0))

    def total(self, key: str) -> float:
        return sum(s[key] for s in self.stages)


class StatusStore:
    """Reads jobs, stages and SQL executions started after a mark."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        self.drain()
        jobs = [j.jobId() for j in _seq(self._sc.statusStore().jobsList(None))]
        execs = [e.executionId() for e in _seq(self._sql.executionsList())]
        return max(jobs, default=-1), max(execs, default=-1)

    def since(self, mark: tuple[int, int]) -> Window:
        self.drain()
        store = self._sc.statusStore()
        w = Window()
        stage_ids: set[int] = set()
        for j in _seq(store.jobsList(None)):
            if j.jobId() > mark[0]:
                ids = [int(s) for s in _seq(j.stageIds())]
                stage_ids.update(ids)
                w.jobs.append({"id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                               "end": _opt_ms(j.completionTime()), "stages": ids})
        jvm = self._gw.jvm
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        for s in _seq(stages):
            if s.stageId() not in stage_ids or str(s.status()) == "SKIPPED":
                continue
            w.stages.append({
                "id": s.stageId(), "attempt": s.attemptId(), "name": s.name(),
                "start": _opt_ms(s.submissionTime()), "end": _opt_ms(s.completionTime()),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(), "input_rows": s.inputRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark[1]:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                w.exchanges += name in EXCHANGE_NODES
                w.map_in_pandas += name == "MapInPandas"
                for m in _seq(node.metrics()):
                    key = PY_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        w.py[key] += parse_sql_metric(v.get())
        return w
