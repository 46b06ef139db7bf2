"""Measurement from outside the program: an in-memory span recorder, Spark's
own counters read from the status store, a block-manager memory poller and
process-tree CPU / peak-RSS sampling from /proc.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree (the /proc walk of bench.py's _cpu_tree_sec)

def _stat(pid: int) -> tuple[str, list[str]]:
    with open(f"/proc/{pid}/stat") as f:
        # comm can contain spaces/parens: split after the LAST ')'
        head, tail = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def proc_tree(root: int) -> dict[str, float]:
    """CPU seconds of ``root`` and its descendants (utime+stime plus the
    cutime/cstime of reaped children, so exited Python workers still count),
    the share of it spent in Python processes, and the sum of VmHWM."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                children.setdefault(int(_stat(int(p))[1][1]), []).append(int(p))
            except (OSError, IndexError, ValueError):
                pass  # process exited mid-scan
    cpu = py_cpu = 0.0
    hwm_kb = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            comm, f = _stat(pid)
            c = sum(int(v) for v in f[11:15]) / _CLK
            hwm_kb += _hwm_kb(pid)
        except (OSError, IndexError, ValueError):
            continue
        cpu += c
        if comm.startswith("python"):
            py_cpu += c
        stack.extend(children.get(pid, []))
    return {"cpu_s": cpu, "python_cpu_s": py_cpu, "hwm_mb": hwm_kb / 1024.0}


# ---------------------------------------------------------------------------
# Spark counters

_STAGE_KEYS = ("numCompleteTasks", "shuffleWriteBytes", "shuffleReadBytes",
               "diskBytesSpilled", "executorRunTime", "executorCpuTime",
               "jvmGcTime")


class SparkCounters:
    """Reads job/stage ids from the DAG scheduler and per-stage metrics from
    ``statusStore()``.  Spans record id ranges only (two cheap reads); stage
    metrics are fetched by id right after the operation, so a diff never
    depends on which older stages the store still retains."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.cores = sc.defaultParallelism

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def stages(self, lo: int, hi: int) -> dict[int, dict]:
        """Metrics of stages ``lo <= id < hi``, summed over attempts.  A stage
        the store no longer holds is absent from the result."""
        self._bus.waitUntilEmpty()
        empty = self._jvm.java.util.ArrayList()
        found = self._jvm.java.util.ArrayList()
        for sid in range(lo, hi):
            try:
                found.add(self._store.stageData(sid, False, empty, False,
                                                self._no_quantiles))
            except Exception:  # py4j error wrapping NoSuchElementException
                continue
        out: dict[int, dict] = {}
        for attempts in json.loads(self._mapper.writeValueAsString(found)):
            for a in attempts:
                s = out.setdefault(a["stageId"], {k: 0 for k in _STAGE_KEYS})
                s["status"] = a["status"]
                for k in _STAGE_KEYS:
                    s[k] += a[k]
        return out

    def storage_mb(self) -> float:
        """Block-manager memory held by persisted/checkpointed blocks."""
        ex = json.loads(self._mapper.writeValueAsString(self._store.executorList(True)))
        return sum(e["memoryUsed"] for e in ex) / 2**20


class MemoryPoller:
    """Samples :meth:`SparkCounters.storage_mb` every ``interval`` seconds on a
    daemon thread while an operation runs; :meth:`stop` returns the peak."""

    def __init__(self, counters: SparkCounters, interval: float = 0.1):
        self._counters = counters
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak = 0.0

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._peak = max(self._peak, self._counters.storage_mb())

    def start(self) -> None:
        self._peak = self._counters.storage_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("memory poller did not stop")
        return max(self._peak, self._counters.storage_mb())


# ---------------------------------------------------------------------------
# spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    jobs: tuple[int, int] | None = None  # [first, next) job ids
    stages: tuple[int, int] | None = None  # [first, next) stage ids


class Recorder:
    """In-memory spans: name, start, end, parent span and the trace id of
    the operation they belong to.  Disabled spans cost one attribute test."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counters: SparkCounters | None = None
        self.enabled = False
        self.trace = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace))
        self._stack.append(idx)
        # the id reads fall inside the span, so a root span covers all of
        # the recorder's own time within the operation
        j0, s0 = self.counters.ids() if self.counters else (None, None)
        try:
            yield
        finally:
            sp = self.spans[idx]
            if self.counters:
                j1, s1 = self.counters.ids()
                sp.jobs, sp.stages = (j0, j1), (s0, s1)
            self._stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def of_trace(self, trace: int) -> list[Span]:
        return [s for s in self.spans if s.trace == trace]

    def self_times(self, trace: int) -> dict[int, float]:
        """Span index -> duration minus the time its child spans cover."""
        own = {i: s.end - s.start for i, s in enumerate(self.spans) if s.trace == trace}
        for i in list(own):
            p = self.spans[i].parent
            if p is not None:
                own[p] -= self.spans[i].end - self.spans[i].start
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def instrument(rec: Recorder) -> None:
    """Wrap the program's layer entry points in spans, in this process only.
    A wrapper sees only the calls that look the name up through its module
    at call time: the boosting functions are called that way, but modules
    that did ``from ..session import load_tables`` keep the unwrapped
    function, so the load_tables span records warm_cache's call (the one
    session.load_tables_s reports) and not the query modules' calls."""
    from pyspark.sql.classic import dataframe as classic_df

    from spark_multiboost_spark import session
    from spark_multiboost_spark.ml import boosting

    for fn in ("train", "fit_stump", "update_weights", "stumps_to_df"):
        setattr(boosting, fn, rec.wrap(getattr(boosting, fn), f"boosting.{fn}"))
    session.load_tables = rec.wrap(session.load_tables, "session.load_tables")
    # the concrete class: patching pyspark.sql.DataFrame would never be hit
    classic_df.DataFrame.localCheckpoint = rec.wrap(
        classic_df.DataFrame.localCheckpoint, "spark.localCheckpoint"
    )
