"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload sql_joins --seed 1 --seconds 8 --trace 0

One client in one driver process on ``local[<cores>]`` runs a workload's
queries (``__spark_entry__.queries()`` callables) one after another over the
engine's fixed test tables, copied from perfbench/testdata/ into a
per-invocation scratch directory. Each query is forced to completion with
the ``noop`` sink. The run:

1. starts the session it measures with, timing it from the start of this
   process to a live session (``get_spark`` and ``release_caches`` done;
   the first job's warm-up is left to the check);
2. checks every member once against its DuckDB oracle with the canonical
   comparison of ``tests/oracle.py``;
3. runs WARMUP_PASSES untimed warm-up passes, then passes over the
   members, each in an order drawn from ``--seed``, until ``--seconds``
   have passed (at least MIN_PASSES untraced passes; traced runs stop at
   the end of a block). ``session.release_caches`` and a heap collection
   open every pass outside the timed region, so each pass pays its own memo
   and cache fill. A fixed pure-Python loop is timed right before and
   right after each timed pass, outside the timed region, and recorded
   (the host spin), so a record shows how fast the host ran;
4. stops the session, then times SETUPS - 1 more fresh processes to a live
   session (perfbench/coldstart.py), one after another, and reports the
   median of all SETUPS cold starts as ``setup_s``.

With ``--trace 0`` every pass is untraced and the last stdout line carries
the end-to-end metrics; the line before it carries the median pass time.
With ``--trace 1`` passes run in blocks of untraced, traced, traced,
untraced, and the line carries the per-layer metrics of the traced passes
plus the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
OUT = HERE / "out"

# the engine's test tables (seed 42), byte for byte, at two scales: the
# benchmark runs on sf0.01, the self-test on sf0.001
TESTDATA = HERE / "testdata"
SCALES = ("0.01", "0.001")
# cold starts per run: this process's own, then SETUPS - 1 more
SETUPS = 2
# fewest timed passes of an untraced run
MIN_PASSES = 3
# untimed passes between the check and the timed passes: the JIT is still
# compiling then (pass times fall by a quarter over the first passes)
WARMUP_PASSES = 2
# spin loops timed on each side of a timed pass
SPIN_SAMPLES = 4

# Two mixes. sql_joins keeps all work in the JVM: planning, joins, a file
# source written and read back, a streaming state store. text_dedup puts it
# on Python/Arrow workers, session memos and caches. Each run pays two JVM
# starts and a cold check of every member, so a mix holds only a few members.
WORKLOADS = {
    "sql_joins": [
        "q5_local_supplier_volume",
        "orc_roundtrip_stats",
        "streaming_hourly_rollup",
    ],
    "text_dedup": ["word_counts", "ngram_jaccard_pairs"],
}
ALL_MEMBERS = [m for ms in WORKLOADS.values() for m in ms]

# name -> unit, in the order BENCHMARK.json lists them. The median pass
# time is in every record but not here: on the shared 4-core host it spread
# past any allowed bound from one set of runs to the next
END_TO_END = {
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.release_caches_s": "s",
    "registry.table_calls": "count",
    "registry.table_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.build_jobs": "count",
    "operators.exec_jobs": "count",
    "catalyst.rule_runs": "count",
    "catalyst.effective_runs": "count",
    "catalyst.rule_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "pyworker.cpu_s": "s",
    "driver.cpu_s": "s",
    "memo.entries": "count",
    "cache.persisted_rdds": "count",
    "io.read_bytes": "bytes",
    "io.write_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.state_rows": "count",
    "failed_frac": "frac",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_frac": "frac",
    "self_s.run": "s",
    "self_s.query": "s",
    "self_s.build": "s",
    "self_s.exec": "s",
    "self_s.registry": "s",
    "self_s.session": "s",
    "drift.run_s_ratio": "ratio",
    "drift.retained_rss_ratio": "ratio",
    **{f"query.{m}.wall_s": "s" for m in ALL_MEMBERS},
    **{f"query.{m}.jobs": "count" for m in ALL_MEMBERS},
}
# span name -> self_s.<layer>
SPAN_LAYER = {
    "run": "run",
    "query": "query",
    "build": "build",
    "exec": "exec",
    "registry.table": "registry",
    "session.release_caches": "session",
}
# growth in run_s or retained memory above this from the first untraced pass
# to the last, never falling in between, is flagged as drift
DRIFT_GROWTH = 1.25


def _load_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", ROOT / "tests" / "oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _drop_one_row(fn):
    """Self-test hook: the query's result minus one of its rows."""

    def corrupted(spark, sf_dir):
        df = fn(spark, sf_dir)
        return df.exceptAll(df.limit(1))

    return corrupted


def _copy_testdata(sf: str, dest: Path) -> str:
    """Copy the tables of scale ``sf`` to ``dest`` and check them against
    their SHA256SUMS; return the digest of that list."""
    src = TESTDATA / f"sf{sf}"
    sums = (src / "SHA256SUMS").read_text()
    dest.mkdir()
    for line in sums.splitlines():
        digest, name = line.split()
        shutil.copyfile(src / name, dest / name)
        got = hashlib.sha256((dest / name).read_bytes()).hexdigest()
        if got != digest:
            raise RuntimeError(f"{src / name}: sha256 {got}, expected {digest}")
    return hashlib.sha256(sums.encode()).hexdigest()


def _cold_start(conf: dict) -> dict:
    """Time one fresh process from launch to a live session."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "coldstart.py"), json.dumps(conf)],
        stdout=subprocess.PIPE,
        text=True,
    )
    line = ""
    try:
        for line in proc.stdout:  # the phase times are the first JSON line
            if line.startswith("{"):
                break
        setup_s = time.perf_counter() - t0
        rest = proc.stdout.read()
        proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not line.startswith("{"):
        raise RuntimeError(f"cold start exited {proc.returncode}: {line}{rest}")
    return {**json.loads(line), "setup_s": setup_s}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _isolate(scratch: Path) -> dict[str, str]:
    """Point every scratch location of the driver, the JVMs and the Python
    workers into ``scratch``; put the repo root on the workers' path (the
    Python data source unpickles engine classes in a worker process)."""
    for sub in ("tmp", "local", "warehouse", "jtmp"):
        (scratch / sub).mkdir()
    os.environ["TMPDIR"] = str(scratch / "tmp")
    tempfile.tempdir = str(scratch / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # every JVM (the launcher and the driver) keeps its temp files in the
    # scratch directory and writes no /tmp/hsperfdata_* counters
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'jtmp'}"
        f" -Dderby.system.home={scratch / 'warehouse'}"
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return {
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Bench:
    def __init__(
        self, workload, seed, seconds, trace, sf, scratch, drop_row=None, drift_s=0.0
    ):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace,
        )
        self.members = WORKLOADS[workload]
        self.sf = sf
        self.drop_row = drop_row
        self.drift_s = drift_s
        self.rng = random.Random(seed)
        self.data_sha256 = _copy_testdata(sf, scratch / "data")
        self.data = str(scratch / "data")
        self.conf = _isolate(scratch)
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []

    # -------------------------------------------------------------- setup

    def setup(self) -> dict:
        """Start the session as coldstart.py does, timed from the start of
        this process: the first of the run's cold starts. No job runs
        here; the check that follows warms the session up."""
        from probes import Catalyst, ProcTree, SparkCounters, process_age

        t0 = time.perf_counter()
        import pyspark
        from geektime_bigdata_spark import session
        import __spark_entry__

        t1 = time.perf_counter()
        self.pyspark_version = pyspark.__version__
        self.session = session
        self.entry = __spark_entry__
        self.spark = session.get_spark(extra_conf=self.conf)
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        session.release_caches(self.spark)
        cold = {
            "import_s": t1 - t0,
            "get_spark_s": t2 - t1,
            "setup_s": process_age(),
        }

        self.queries = self.entry.queries()
        if self.drop_row:
            self.queries[self.drop_row] = _drop_one_row(self.queries[self.drop_row])
        self.tree = ProcTree(int(self.spark._jvm.ProcessHandle.current().pid()))
        self.counters = SparkCounters(self.spark)
        self.catalyst = Catalyst(self.spark)
        return cold

    # -------------------------------------------------------------- check

    def check(self) -> list[dict]:
        """Run every member once and compare it with its DuckDB oracle."""
        oracle = _load_oracle_module()
        sqls = self.entry.oracle_sql()
        con = oracle.duckdb_connection(self.data)
        out = []
        try:
            for name in self.members:
                t0 = time.perf_counter()
                self.attempted += 1
                try:
                    oracle.assert_matches_oracle(
                        self.queries[name](self.spark, self.data), con, sqls[name], name
                    )
                    ok, err = True, None
                except Exception as e:  # a failed query is a counted outcome
                    ok, err = False, f"{type(e).__name__}: {e}"[:500]
                    self.failures.append({"query": name, "phase": "check", "error": err})
                out.append(
                    {"query": name, "ok": ok, "s": time.perf_counter() - t0, "error": err}
                )
        finally:
            con.close()
        return out

    # ------------------------------------------------------------- passes

    def run_pass(self, index: int, traced: bool, tracer, registry_probe, listener):
        """One pass over the members. ``session.release_caches`` and a heap
        collection on both sides come first, outside the timed region."""
        from probes import PeakRss, host_spin

        spark = self.spark
        order = self.rng.sample(self.members, len(self.members))
        rec = {"pass": index, "traced": traced, "order": order, "queries": {}}
        with tracer.span("pass", index=index) as root:
            with tracer.span("session.release_caches"):
                r0 = time.perf_counter()
                self.session.release_caches(spark)
                rec["release_caches_s"] = time.perf_counter() - r0
            spark._jvm.System.gc()
            gc.collect()
            if traced:
                self.catalyst.reset()
                self.counters.drain_listeners()
                listener.reset()
                registry_probe.calls, registry_probe.seconds = 0, 0.0
                ids0 = self.counters.ids()
            snap0 = self.tree.snapshot()
            rec["retained_rss_mb"] = snap0["rss"] / 2**20
            gc0, jit0 = self.counters.gc_seconds(), self.counters.jit_seconds()
            spin = host_spin(SPIN_SAMPLES)
            rss = PeakRss(self.tree).start()
            t0 = time.perf_counter()
            with tracer.span("run"), (
                registry_probe.installed() if traced else contextlib.nullcontext()
            ):
                for name in order:
                    rec["queries"][name] = self._query(name, index, traced, tracer)
                time.sleep(self.drift_s * max(index, 0))
            rec["run_s"] = time.perf_counter() - t0
            rec["peak_rss_mb"] = rss.stop() / 2**20
            snap1 = self.tree.snapshot()
            rec["spin_s"] = spin + host_spin(SPIN_SAMPLES)
        rec["jvm_gc_s"] = self.counters.gc_seconds() - gc0
        rec["jvm_jit_s"] = self.counters.jit_seconds() - jit0
        cpu = {k: snap1["cpu"][k] - snap0["cpu"][k] for k in snap0["cpu"]}
        rec["cpu_s"] = sum(cpu.values())
        rec["cpu"] = cpu
        rec["io_read_bytes"] = snap1["rchar"] - snap0["rchar"]
        rec["io_write_bytes"] = snap1["wchar"] - snap0["wchar"]
        rec["memo_entries"] = sum(len(m) for m in self.session._SESSION_MEMOS)
        rec["persisted_rdds"] = self.counters.persisted_rdds()
        if traced:
            ids1 = self.counters.ids()
            rec["catalyst"] = self.catalyst.read()
            rec["jobs"] = ids1[0] - ids0[0]
            # stage completions and streaming progress reach the status
            # store and the listener on the listener bus
            self.counters.drain_listeners()
            rec["stages"] = self.counters.stages(ids0[1], ids1[1])
            rec["streaming"] = listener.totals()
            rec["registry"] = {"calls": registry_probe.calls, "s": registry_probe.seconds}
            rec["self_s"] = tracer.self_times(root["id"])
        return rec

    def _query(self, name: str, index: int, traced: bool, tracer) -> dict:
        """Build the member's DataFrame, then force it with the noop sink.
        Traced, the query's jobs run under a job group named for it and the
        job and stage ids it used are recorded."""
        spark = self.spark
        q = {"build_s": 0.0, "exec_s": 0.0}
        self.attempted += 1
        try:
            with tracer.span("query", query=name):
                if traced:
                    spark.sparkContext.setJobGroup(name, f"perfbench {name}")
                    a = self.counters.ids()
                b0 = time.perf_counter()
                with tracer.span("build"):
                    df = self.queries[name](spark, self.data)
                b1 = time.perf_counter()
                if traced:
                    b = self.counters.ids()
                with tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                b2 = time.perf_counter()
                if traced:
                    c = self.counters.ids()
                    q["build_jobs"], q["exec_jobs"] = b[0] - a[0], c[0] - b[0]
                    q["stages"] = [a[1], c[1]]
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            q["build_s"], q["exec_s"] = b1 - b0, b2 - b1
        except Exception as e:  # counted, and the pass goes on
            q["error"] = f"{type(e).__name__}: {e}"[:500]
            self.failures.append({"query": name, "phase": f"pass {index}", "error": q["error"]})
        return q

    def passes(self) -> list[dict]:
        from probes import RegistryProbe, Tracer, streaming_listener

        self.tracer = Tracer(
            f"{self.workload}-seed{self.seed}-{os.getpid()}-{int(time.time())}",
            enabled=False,
        )
        probe = listener = None
        if self.trace:
            probe = RegistryProbe(self.tracer)
            listener = streaming_listener(self.spark)
        # the JIT is still warming up in the first passes after the check
        self.warmup = [
            self.run_pass(i - WARMUP_PASSES, False, self.tracer, probe, listener)
            for i in range(WARMUP_PASSES)
        ]
        # traced runs order their passes untraced, traced, traced, untraced
        # (repeated), so a remaining warm-up trend cancels out of the overhead
        out = []
        start = time.monotonic()
        while True:
            traced = bool(self.trace) and len(out) % 4 in (1, 2)
            self.tracer.enabled = traced
            out.append(self.run_pass(len(out), traced, self.tracer, probe, listener))
            enough = len(out) % 4 == 0 if self.trace else len(out) >= MIN_PASSES
            if enough and time.monotonic() - start >= self.seconds:
                break
        self.tracer.enabled = False
        return out

    # ------------------------------------------------------------ teardown

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it and its workers to exit."""
        if self.spark is None:
            return
        from probes import stop_session

        stop_session(self.spark)
        self.spark = None


# ---------------------------------------------------------------- metrics


def _drift(untraced: list[dict]) -> dict:
    """Per-pass cache and memory bookkeeping, and a flag when run time or
    retained memory (resident after release_caches and a heap collection)
    never falls from pass to pass and ends DRIFT_GROWTH above where it
    began. Two untraced passes, the fewest a run makes, are enough."""
    series = {
        k: [p[k] for p in untraced]
        for k in (
            "run_s", "peak_rss_mb", "retained_rss_mb", "memo_entries", "persisted_rdds",
        )
    }

    def growing(xs):
        return (
            len(xs) >= 2
            and all(b >= a for a, b in zip(xs, xs[1:]))
            and xs[-1] > DRIFT_GROWTH * xs[0]
        )

    flags = [k for k in ("run_s", "retained_rss_mb") if growing(series[k])]
    ratio = {
        k: (series[k][-1] / series[k][0] if series[k] and series[k][0] else 1.0)
        for k in ("run_s", "retained_rss_mb")
    }
    return {"series": series, "ratio": ratio, "flags": flags}


def end_to_end(setups, warmup, untraced) -> dict:
    # every pass after the check does the same work, so the warm-up passes
    # are memory samples too: G1 resizes the heap from pass to pass, and the
    # median of three timed passes alone spread 0.14 to 0.22 on sql_joins
    return {
        "peak_rss_mb": _median([p["peak_rss_mb"] for p in warmup + untraced]),
        "setup_s": _median([s["setup_s"] for s in setups]),
    }


def per_layer(setups, untraced, traced, members, attempted, failed, drift) -> dict:
    def med(f):
        return _median([f(p) for p in traced])

    def qsum(p, key):
        return sum(q.get(key, 0) for q in p["queries"].values())

    def self_s(p, layer):
        return sum(
            v for name, v in p["self_s"].items() if SPAN_LAYER.get(name) == layer
        )

    m = {
        "session.import_s": _median([s["import_s"] for s in setups]),
        "session.get_spark_s": _median([s["get_spark_s"] for s in setups]),
        "session.release_caches_s": med(lambda p: p["release_caches_s"]),
        "registry.table_calls": med(lambda p: p["registry"]["calls"]),
        "registry.table_s": med(lambda p: p["registry"]["s"]),
        "operators.build_s": med(lambda p: qsum(p, "build_s")),
        "operators.exec_s": med(lambda p: qsum(p, "exec_s")),
        "operators.build_jobs": med(lambda p: qsum(p, "build_jobs")),
        "operators.exec_jobs": med(lambda p: qsum(p, "exec_jobs")),
        "catalyst.rule_runs": med(lambda p: p["catalyst"]["rule_runs"]),
        "catalyst.effective_runs": med(lambda p: p["catalyst"]["effective_runs"]),
        "catalyst.rule_s": med(lambda p: p["catalyst"]["rule_s"]),
        "scheduler.jobs": med(lambda p: p["jobs"]),
        "scheduler.stages": med(lambda p: p["stages"]["stages"]),
        "scheduler.tasks": med(lambda p: p["stages"]["tasks"]),
        "scheduler.failed_tasks": med(lambda p: p["stages"]["failed_tasks"]),
        "executor.run_s": med(lambda p: p["stages"]["run_ms"] / 1e3),
        "executor.cpu_s": med(lambda p: p["stages"]["cpu_ns"] / 1e9),
        "executor.gc_s": med(lambda p: p["stages"]["gc_ms"] / 1e3),
        "shuffle.read_bytes": med(lambda p: p["stages"]["shuffle_read"]),
        "shuffle.write_bytes": med(lambda p: p["stages"]["shuffle_write"]),
        "spill.bytes": med(lambda p: p["stages"]["spill"]),
        "jvm.cpu_s": med(lambda p: p["cpu"]["jvm"]),
        "jvm.gc_s": med(lambda p: p["jvm_gc_s"]),
        "jvm.jit_s": med(lambda p: p["jvm_jit_s"]),
        "pyworker.cpu_s": med(lambda p: p["cpu"]["pyworker"]),
        "driver.cpu_s": med(lambda p: p["cpu"]["driver"]),
        "memo.entries": med(lambda p: p["memo_entries"]),
        "cache.persisted_rdds": med(lambda p: p["persisted_rdds"]),
        "io.read_bytes": med(lambda p: p["io_read_bytes"]),
        "io.write_bytes": med(lambda p: p["io_write_bytes"]),
        "streaming.batches": med(lambda p: p["streaming"]["batches"]),
        "streaming.add_batch_s": med(lambda p: p["streaming"]["add_batch_ms"] / 1e3),
        "streaming.state_rows": med(lambda p: p["streaming"]["state_rows"]),
        "failed_frac": failed / attempted,
        "trace.run_s": med(lambda p: p["run_s"]),
        "trace.overhead_s": med(lambda p: p["run_s"])
        - _median([p["run_s"] for p in untraced]),
        "trace.unaccounted_frac": med(
            lambda p: 1 - (qsum(p, "build_s") + qsum(p, "exec_s")) / p["run_s"]
        ),
        "drift.run_s_ratio": drift["ratio"]["run_s"],
        "drift.retained_rss_ratio": drift["ratio"]["retained_rss_mb"],
    }
    for layer in ("run", "query", "build", "exec", "registry", "session"):
        m[f"self_s.{layer}"] = med(lambda p, layer=layer: self_s(p, layer))
    for name in ALL_MEMBERS:
        ran = name in members
        m[f"query.{name}.wall_s"] = med(
            lambda p: p["queries"][name]["build_s"] + p["queries"][name]["exec_s"]
        ) if ran else 0.0
        m[f"query.{name}.jobs"] = med(
            lambda p: p["queries"][name].get("build_jobs", 0)
            + p["queries"][name].get("exec_jobs", 0)
        ) if ran else 0
    return m


def _labelled(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def run(
    workload, seed, seconds, trace, sf=SCALES[0], drop_row=None, drift_s=0.0
) -> tuple[dict, dict]:
    """Run one benchmark invocation; return (full record, result line)."""
    WORK.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK))
    bench = None
    phases = {}
    try:
        bench = Bench(workload, seed, seconds, trace, sf, scratch, drop_row, drift_s)
        t = time.perf_counter()
        setups = [bench.setup()]
        phases["setup"] = time.perf_counter() - t
        check = bench.check()
        phases["check"] = time.perf_counter() - t - phases["setup"]
        passes = bench.passes()
        phases["passes"] = time.perf_counter() - t - phases["setup"] - phases["check"]
        spans = bench.tracer.spans
        t = time.perf_counter()
        bench.close()
        phases["close"] = time.perf_counter() - t
        setups += [_cold_start(bench.conf) for _ in range(SETUPS - 1)]
        phases["cold_starts"] = time.perf_counter() - t - phases["close"]
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                WORK.rmdir()
            except OSError:
                pass  # another invocation is still using it
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    failed = len(bench.failures)
    drift = _drift(untraced)
    if drift["flags"]:
        print(f"perfbench: drift in {drift['flags']}: {drift['series']}", file=sys.stderr)
    if trace:
        metrics = _labelled(
            per_layer(setups, untraced, traced, bench.members, bench.attempted, failed, drift),
            PER_LAYER,
        )
    else:
        metrics = _labelled(end_to_end(setups, bench.warmup, untraced), END_TO_END)
    result = {
        "correct": failed == 0 and all(c["ok"] for c in check),
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    record = {
        "workload": workload,
        "queries": bench.members,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "sf": float(sf),
        "data_sha256": bench.data_sha256,
        "pyspark": bench.pyspark_version,
        # the median pass time is not gated (see README.md, Steadiness)
        "run_s": _median([p["run_s"] for p in untraced]),
        "spin_ms": _median([s for p in untraced for s in p["spin_s"]]) * 1e3,
        "run_id": bench.tracer.run_id,
        "phases_s": phases,
        "setups": setups,
        "check": check,
        "warmup": bench.warmup,
        "passes": passes,
        "drift": drift,
        "failures": bench.failures,
        "result": result,
    }
    OUT.mkdir(exist_ok=True)
    stem = OUT / f"{workload}-seed{seed}-trace{trace}"
    stem.with_suffix(".json").write_text(json.dumps(record, indent=1, default=str))
    if trace:
        stem.with_suffix(".spans.json").write_text(
            json.dumps({"run_id": bench.tracer.run_id, "spans": spans})
        )
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0], help="scale of the test tables")
    ap.add_argument(
        "--drop-row",
        metavar="QUERY",
        help="self-test hook: drop one row of QUERY's result before it is checked",
    )
    ap.add_argument(
        "--inject-drift",
        metavar="SECONDS",
        type=float,
        default=0.0,
        help="self-test hook: idle SECONDS times the pass index inside each timed pass",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    record, result = run(
        args.workload, args.seed, args.seconds, args.trace, args.sf, args.drop_row,
        args.inject_drift,
    )
    print(json.dumps({k: record[k] for k in ("workload", "queries", "seed", "cpus", "sf", "pyspark", "run_s", "spin_ms", "drift")}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
