"""Self-test of the benchmark at tiny sizes (operator tables at sf0.001,
``--seconds 0``: the warm-up round and the fewest timed rounds a run
makes).

    python3 perfbench/smoke.py

For every workload in ``BENCHMARK.json`` it checks that

* an untraced run prints every end-to-end metric by name with its unit,
  and its verification passes;
* a traced run prints every per-layer metric by name with its unit, and
  two traced runs of one seed log the same op sequence and the same
  count metrics;

and that the benchmark exits non-zero, printing no result, in a
directory that holds only ``BENCHMARK.json`` and the benchmark's files.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SEED = 7
RUN_TIMEOUT_S = 300


def run(workload: str, trace: int, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
         "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def result_of(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def check_metrics(res: dict, specs: list[dict], label: str) -> list[str]:
    problems = []
    if not res["correct"] or res["failed"]:
        problems.append(f"{label}: verification failed ({res['failed']} of {res['attempted']})")
    got = res["metrics"]
    for spec in specs:
        m = got.get(spec["name"])
        if m is None:
            problems.append(f"{label}: metric {spec['name']} missing")
        elif m["unit"] != spec["unit"]:
            problems.append(f"{label}: {spec['name']} unit {m['unit']} != {spec['unit']}")
    extra = set(got) - {s["name"] for s in specs}
    if extra:
        problems.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return problems


def traced(workload: str) -> tuple[dict, list[str]]:
    code, lines = run(workload, 1)
    if code:
        raise SystemExit(f"{workload} traced run exited {code}")
    trace = json.loads((ROOT / ".perfbench_out" / f"trace-{workload}-{SEED}.json").read_text())
    return result_of(lines), trace["op_log"]


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        code, lines = run(wl, 0)
        if code:
            problems.append(f"{wl}: untraced run exited {code}")
            continue
        problems += check_metrics(result_of(lines), bench["end_to_end"], f"{wl} untraced")
        first, log1 = traced(wl)
        second, log2 = traced(wl)
        problems += check_metrics(first, bench["per_layer"], f"{wl} traced")
        if log1 != log2:
            problems.append(f"{wl}: seed {SEED} gave two op sequences")
        counts = [s["name"] for s in bench["per_layer"] if s["unit"] == "count"]
        for name in counts:
            a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
            if a != b:
                problems.append(f"{wl}: count {name} differs between runs: {a} != {b}")
        print(f"{wl}: checked, {len(log1)} ops logged", flush=True)

    # without the program next to it the benchmark must fail, printing nothing
    tmp_root = ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    bare = Path(tempfile.mkdtemp(prefix="smoke-bare-", dir=tmp_root))
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(BENCH_DIR, bare / BENCH_DIR.name,
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(bench["workloads"][0]["name"], 0, cwd=bare)
        if code == 0 or any(line.startswith("{") for line in lines):
            problems.append("run without the program exited 0 or printed a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass  # a benchmark run still uses it

    for p in problems:
        print("FAIL:", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
