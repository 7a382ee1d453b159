"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs ``run.py`` three ways, each from a working directory other than the
repo root:

1. ``--trace 0`` with one member's result corrupted (one row dropped) and
   drift injected (idle time growing with the pass index): every
   ``end_to_end`` metric of BENCHMARK.json is emitted with its unit, the
   dropped row is counted as a failure and the drift check flags ``run_s``;
2. ``--trace 1`` with the same corruption: every ``per_layer`` metric is
   emitted with its unit, ``failed_frac`` counts the failure, build plus
   exec time accounts for the traced pass within UNACCOUNTED_TOLERANCE,
   and the span file shares one run id with parent links that resolve;
3. from a directory holding only BENCHMARK.json and the benchmark's files:
   the run exits non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
UNACCOUNTED_TOLERANCE = 0.05
SF = "0.001"


def _run(cwd: Path, script: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(script), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise SystemExit(f"run.py exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    return result


def _check_metrics(result: dict, specs: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metrics differ: missing {want.keys() - got.keys()}, extra {got.keys() - want.keys()}, units {[(k, got[k], want[k]) for k in want.keys() & got.keys() if got[k] != want[k]]}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    run_py = HERE / "run.py"
    work = HERE / ".work"
    work.mkdir(exist_ok=True)
    cwd = Path(tempfile.mkdtemp(prefix="selftest-", dir=work))
    try:
        # 1. untraced: end-to-end metrics, a dropped row counted, drift flagged
        r = _result(_run(cwd, run_py, "--workload", "text_dedup", "--seed", "1",
                         "--seconds", "1", "--trace", "0", "--sf", SF,
                         "--drop-row", "word_counts", "--inject-drift", "5"))
        _check_metrics(r, SPEC["end_to_end"])
        assert r["failed"] == 1 and not r["correct"], r
        drift = json.loads((HERE / "out" / "text_dedup-seed1-trace0.json").read_text())["drift"]
        assert drift["flags"] == ["run_s"], drift
        print("untraced run: end-to-end metrics, the dropped row and injected drift: ok")

        # 2. traced: per-layer metrics, failed_frac, accounting, spans
        r = _result(_run(cwd, run_py, "--workload", "sql_joins", "--seed", "1",
                         "--seconds", "1", "--trace", "1", "--sf", SF,
                         "--drop-row", "orc_roundtrip_stats"))
        _check_metrics(r, SPEC["per_layer"])
        m = {k: v["value"] for k, v in r["metrics"].items()}
        assert r["failed"] == 1 and m["failed_frac"] == 1 / r["attempted"], (r["failed"], m["failed_frac"])
        assert m["trace.unaccounted_frac"] < UNACCOUNTED_TOLERANCE, m["trace.unaccounted_frac"]
        assert m["streaming.batches"] > 0 and m["registry.table_calls"] > 0, m
        assert m["streaming.state_rows"] > 0 and m["scheduler.tasks"] > 0, m
        spans = json.loads((HERE / "out" / "sql_joins-seed1-trace1.spans.json").read_text())
        ids = {s["id"] for s in spans["spans"]}
        assert spans["run_id"] and all(s["parent"] in ids for s in spans["spans"] if s["parent"])
        assert {"pass", "run", "query", "build", "exec", "registry.table"} <= {s["name"] for s in spans["spans"]}
        print("traced run: per-layer metrics, failed_frac, accounting and spans: ok")

        # 3. without the engine next to it, the run fails without a result
        bare = cwd / "bare"
        bare.mkdir()
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns(".work", "out"))
        proc = _run(bare, bare / "perfbench" / "run.py", "--workload", "sql_joins",
                    "--seed", "1", "--seconds", "1", "--trace", "0")
        assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)
        print("bare directory: non-zero exit, no result: ok")
    finally:
        shutil.rmtree(cwd, ignore_errors=True)
        try:
            work.rmdir()
        except OSError:
            pass  # a concurrent run still uses it
    return 0


if __name__ == "__main__":
    sys.exit(main())
