"""Per-layer measurement from outside the engine.

Four sources, read after each op so nothing is added inside its timed span:

* job groups the benchmark sets around each op phase (``plan``, ``run``);
* Spark's AppStatusStore: per-stage executor CPU, shuffle bytes and task
  durations of the jobs in those groups;
* Spark's SQL status store: the "time to run Python workers" and "data
  sent to / returned from Python workers" metrics of the same jobs;
* a count of py4j commands sent by this process.

None of these starts a Spark job. Spans are kept in memory and written out
when the run ends.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

_PY_METRICS = {
    "time to run Python workers": "py_s",
    "data sent to Python workers": "py_mb",
    "data returned from Python workers": "py_mb",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


class ProcessTree:
    """This process and all its descendants (the driver JVM and the Python
    workers), read from /proc: peak resident memory, sampled by a thread,
    and the CPU time of the descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _scan(self, root: int | None = None) -> tuple[int, int, dict[str, int], list[int]]:
        """→ (resident bytes of the tree under ``root``, this process by
        default; CPU ticks of its descendants, reaped children included;
        resident bytes by process name; the descendants' pids)."""
        parent, rss, cpu, name = {}, {}, {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            fields = tail.split()
            parent[int(pid)] = int(fields[1])
            rss[int(pid)] = int(fields[21]) * self._page
            cpu[int(pid)] = sum(int(x) for x in fields[11:15])
            name[int(pid)] = head.split("(", 1)[1]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        me = root or os.getpid()
        parts = {"benchmark": rss.get(me, 0)}
        ticks, todo, found = 0, list(children.get(me, [])), []
        while todo:
            pid = todo.pop()
            found.append(pid)
            # a child the JVM has spawned but not yet exec'd shares the
            # JVM's memory, and reads the same resident size under a thread's name
            shared = rss[pid] == rss[parent[pid]] and name[pid] != name[parent[pid]]
            if not shared:
                parts[name[pid]] = parts.get(name[pid], 0) + rss[pid]
            ticks += cpu.get(pid, 0)
            todo += children.get(pid, [])
        return sum(parts.values()), ticks, parts, found

    def descendants(self, root: int) -> list[int]:
        return self._scan(root)[3]

    def child_cpu_s(self) -> float:
        return self._scan()[1] / self._tick

    def _sample(self) -> None:
        total, _, parts, _ = self._scan()
        with self._lock:
            if total > self.peak:
                self.peak, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "ProcessTree":
        self._sample()
        self._thread.start()
        return self

    def reset(self) -> tuple[float, dict[str, int]]:
        """Start a new peak → the peak so far in MB, and its parts."""
        with self._lock:
            peak, parts = self.peak / 1e6, self.peak_parts
            self.peak, self.peak_parts = 0, {}
        self._sample()
        return peak, parts

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


def host_cpu_ticks() -> tuple[int, int]:
    """→ (stolen, total) CPU ticks of the host since boot, from /proc/stat:
    time a hypervisor gave this machine's CPUs to other tenants."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


class Py4jCounter:
    """Counts py4j commands this process sends, memory-release commands of
    garbage-collected proxies excluded (they arrive at arbitrary times)."""

    def __init__(self, spark):
        self.count = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(command, *a, **kw):
            if not command.startswith("m\n"):
                self.count += 1
            return self._orig(command, *a, **kw)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: the value before any "(min, med,
    max)" part on the last line, e.g. "3.5 s (...)" or "16.5 MiB"."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt, default=None):
    return jopt.get() if jopt.isDefined() else default


class StageCollector:
    """Reads what Spark's status stores recorded for a set of job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._sql_seen = self.sql.executionsCount()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def collect(self, job_ids: list[int]) -> dict:
        """Executor CPU, shuffle bytes, Python time/bytes and task skew of
        these jobs' stages and SQL executions."""
        stages = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        cpu_ns, shuffle, longest = 0, 0, None
        for sid in stages:
            for sd in _seq(self.store.stageData(sid, False, self._empty_list, False,
                                                self._no_quantiles)):
                if str(sd.status()) == "SKIPPED":
                    continue
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleWriteBytes()
                run = sd.executorRunTime()
                if longest is None or run > longest[0]:
                    longest = (run, sid, sd.attemptId())
        skew = 1.0
        if longest is not None:
            tasks = _seq(self.store.taskList(longest[1], longest[2], 100000))
            durs = [d for d in (_opt(t.duration(), None) for t in tasks) if d is not None]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        return {"exec_cpu_s": cpu_ns / 1e9, "shuffle_mb": shuffle / 1e6, "task_skew": skew,
                **self._python_metrics(set(job_ids))}

    def _python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python-worker time (s) and Arrow bytes (MB) of the SQL executions
        these jobs belong to. A plan node re-planned by adaptive execution
        lists its metrics again, so each accumulator is counted once."""
        total = self.sql.executionsCount()
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        for ex in _seq(self.sql.executionsList(self._sql_seen, total - self._sql_seen)):
            it = ex.jobs().keysIterator()
            ex_jobs = set()
            while it.hasNext():
                ex_jobs.add(int(it.next()))
            if not ex_jobs & job_ids:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            seen = set()
            for m in _seq(ex.metrics()):
                key = _PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                text = _opt(values.get(m.accumulatorId()), None)
                if text is not None:
                    out[key] += _parse_metric(text) / (1e6 if key == "py_mb" else 1.0)
        self._sql_seen = total
        return out


class Span:
    """A named interval with child intervals; self time excludes children."""

    def __init__(self, name: str, start: float, end: float, children=(), attrs=None):
        self.name, self.start, self.end = name, start, end
        self.children = list(children)
        self.attrs = attrs or {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def child_cover(self) -> float:
        """Length of the union of the children's intervals."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children, key=lambda c: c.start):
            if cur_e is None or c.start > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = c.start, c.end
            else:
                cur_e = max(cur_e, c.end)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered

    def self_time(self) -> float:
        return self.duration - self.child_cover()

    def to_json(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "self_s": self.self_time(), **self.attrs,
                "children": [c.to_json() for c in self.children]}
