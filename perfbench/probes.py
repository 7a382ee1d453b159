"""Measurement probes the benchmark attaches at the engine's public surface.

Everything here observes the engine from outside: the process tree through
``/proc``, Spark's scheduler and status store through the SparkContext's
JVM handles, Catalyst's rule metrics through ``RuleExecutor``, streaming
progress through a ``StreamingQueryListener``, and the registry by wrapping
``registry.table`` where the engine's modules bound it. The spans of a
traced run are kept in memory by :class:`Tracer` and written out once.
"""

from __future__ import annotations

import itertools
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- processes


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _io(pid: int) -> tuple[int, int]:
    try:
        with open(f"/proc/{pid}/io") as f:
            kv = dict(line.split(": ") for line in f.read().splitlines())
    except OSError:
        return 0, 0
    return int(kv.get("rchar", 0)), int(kv.get("wchar", 0))


def process_age() -> float:
    """Seconds since this process was started, at clock-tick resolution."""
    started = int(_stat(os.getpid())[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def host_spin(samples: int, n: int = 200_000) -> list[float]:
    """Time ``samples`` runs of a fixed pure-Python loop. The loop touches
    no engine code, so its time tracks only how fast the host ran this
    process at that moment; the record keeps it beside the pass times."""
    out = []
    for _ in range(samples):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        out.append(time.perf_counter() - t)
    return out


class ProcTree:
    """The benchmark's own process (the Spark driver), the JVM it launched,
    and the JVM's descendants (the Python worker daemon and its workers)."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st:
                    children.setdefault(int(st[1]), []).append(int(d))
        out, todo = [], list(children.get(self.jvm, ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def snapshot(self) -> dict:
        """CPU seconds per part of the tree, syscall I/O bytes, resident bytes.
        A worker that exits is reaped by its parent inside the tree, so its
        CPU stays counted through the parent's ``cutime``/``cstime``."""
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        rchar = wchar = rss = 0
        for pid in [self.driver, self.jvm, *self.descendants()]:
            st = _stat(pid)
            if not st:
                continue
            own = (int(st[11]) + int(st[12])) / _TICK
            reaped = (int(st[13]) + int(st[14])) / _TICK
            if pid == self.driver:
                cpu["driver"] += own
            elif pid == self.jvm:
                cpu["jvm"] += own
                cpu["pyworker"] += reaped
            else:
                cpu["pyworker"] += own + reaped
            rss += int(st[21]) * _PAGE
            r, w = _io(pid)
            rchar += r
            wchar += w
        return {"cpu": cpu, "rchar": rchar, "wchar": wchar, "rss": rss}

    def rss(self) -> int:
        total = 0
        for pid in [self.driver, self.jvm, *self.descendants()]:
            st = _stat(pid)
            if st:
                total += int(st[21]) * _PAGE
        return total

    def wait_gone(self, pids: list[int], timeout: float) -> None:
        """Wait until every pid in ``pids`` has exited; kill what remains."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not any(_alive(p) for p in pids):
                return
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    tree = ProcTree(int(spark._jvm.ProcessHandle.current().pid()))
    pids = [tree.jvm, *tree.descendants()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    tree.wait_gone(pids, timeout=30)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return bool(st) and st[0] != "Z"


class PeakRss:
    """Samples the tree's summed resident memory every ``interval`` seconds
    while active; ``stop()`` returns the peak in bytes."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        self.tree, self.interval = tree, interval
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._peak = max(self._peak, self.tree.rss())
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return max(self._peak, self.tree.rss())


# ------------------------------------------------------------------- spark


class SparkCounters:
    """Job and stage ids are handed out in sequence by the DAG scheduler, so
    the ids issued between two reads are exactly the work done in between,
    including micro-batches that run on streaming threads."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._jvm = spark._jvm

    def ids(self) -> tuple[int, int]:
        return int(self._dag.numTotalJobs()), int(self._dag.nextStageId())

    def stages(self, first: int, end: int) -> dict:
        """Sum task and executor metrics of stages ``[first, end)`` from the
        status store (populated with the UI off). Skipped stages ran no
        tasks and are not counted."""
        store = self.sc._jsc.sc().statusStore()
        tot = dict.fromkeys(
            (
                "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                "shuffle_read", "shuffle_write", "spill",
            ),
            0,
        )
        for sid in range(first, end):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += (
                st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            )
            tot["failed_tasks"] += st.numFailedTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["cpu_ns"] += st.executorCpuTime()
            tot["gc_ms"] += st.jvmGcTime()
            tot["shuffle_read"] += st.shuffleReadBytes()
            tot["shuffle_write"] += st.shuffleWriteBytes()
            tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def gc_seconds(self) -> float:
        """Collection time of every JVM garbage collector since start."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def jit_seconds(self) -> float:
        """Time the JIT compiler threads have spent compiling since start."""
        bean = self._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return bean.getTotalCompilationTime() / 1e3

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()


_RULE_ROW = re.compile(r"(\d+) / (\d+)\s+(\d+) / (\d+)\s*$")


class Catalyst:
    """Analyzer/optimizer rule metrics, JVM-wide, via ``RuleExecutor``."""

    def __init__(self, spark):
        self._re = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor

    def reset(self) -> None:
        self._re.resetMetrics()

    def read(self) -> dict:
        dump = self._re.dumpTimeSpent()
        runs = int(re.search(r"Total number of runs: (\d+)", dump).group(1))
        secs = float(re.search(r"Total time: ([\d.]+) seconds", dump).group(1))
        effective = sum(
            int(m.group(3))
            for m in map(_RULE_ROW.search, dump.splitlines())
            if m
        )
        return {"rule_runs": runs, "effective_runs": effective, "rule_s": secs}


def streaming_listener(spark):
    """A StreamingQueryListener that counts micro-batches, sums their
    ``addBatch`` time and keeps the latest state-store row count of each
    query, all since its last ``reset()``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.reset()

        def reset(self) -> None:
            """Forget everything seen so far. Call it with the listener bus
            drained, so no earlier event is delivered after it."""
            self.batches = 0
            self.add_batch_ms = 0
            self.state_rows: dict[str, int] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches += 1
            self.add_batch_ms += int(p.durationMs.get("addBatch", 0))
            self.state_rows[str(p.id)] = sum(
                op.numRowsTotal for op in p.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def totals(self) -> dict:
            return {
                "batches": self.batches,
                "add_batch_ms": self.add_batch_ms,
                "state_rows": sum(self.state_rows.values()),
            }

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


# ---------------------------------------------------------------- registry


class RegistryProbe:
    """Counts and times calls to ``registry.table`` by rebinding it, while
    installed, in the registry and in every engine module that imported it
    by name. ``parallel_table``/``adaptive_spread`` reach it through the
    registry's globals, so their loads are counted too."""

    def __init__(self, tracer: "Tracer"):
        from geektime_bigdata_spark import registry

        self.tracer = tracer
        self.calls = 0
        self.seconds = 0.0
        self._orig = registry.table
        self._sites = [
            mod
            for name, mod in list(sys.modules.items())
            if mod is not None
            and (name.startswith("geektime_bigdata_spark") or name == "__spark_entry__")
            and getattr(mod, "table", None) is self._orig
        ]

    def _wrapped(self, spark, sf_dir, name):
        t0 = time.perf_counter()
        with self.tracer.span("registry.table", table=name):
            df = self._orig(spark, sf_dir, name)
        self.calls += 1
        self.seconds += time.perf_counter() - t0
        return df

    @contextmanager
    def installed(self):
        for mod in self._sites:
            mod.table = self._wrapped
        try:
            yield self
        finally:
            for mod in self._sites:
                mod.table = self._orig


# ----------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: name, start, end, parent span and attributes, all
    sharing one run id. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per layer (span name) under ``root_id``, root included:
        a span's duration minus what its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [s for s in self.spans if s["id"] == root_id]
        while todo:
            s = todo.pop()
            ch = kids.get(s["id"], [])
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - sum(
                c["end"] - c["start"] for c in ch
            )
            todo.extend(ch)
        return out
