"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced (one warm pass of
each kind) and checks that the result line names every metric of
BENCHMARK.json with its unit and that no op failed. Last, it
copies only BENCHMARK.json and perfbench/ into an empty directory and
checks that the benchmark refuses to run there (exit code not 0, no
result line).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(proc: subprocess.CompletedProcess, metrics: list[dict], what: str) -> None:
    assert proc.returncode == 0, f"{what}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == RESULT_KEYS, f"{what}: result keys {sorted(res)}"
    assert res["attempted"] >= 1 and res["failed"] / res["attempted"] == 0, f"{what}: failed_frac > 0"
    assert res["correct"] is True, what
    want = {m["name"]: m["unit"] for m in metrics}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metric names/units differ: {set(got) ^ set(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), f"{what}: {k}={v}"
    print(f"ok {what}: {res['attempted']} ops", flush=True)


def check_bare_dir(bench: dict) -> None:
    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("_work", "__pycache__")
        )
    proc = subprocess.run(
        bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0, "benchmark ran without the package"
    assert "correct" not in proc.stdout, "benchmark printed a result without the package"
    print("ok bare directory: refused to run", flush=True)


def main() -> int:
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    for w in bench["workloads"]:
        check_result(run(ROOT, w["name"], 0), bench["end_to_end"], f"{w['name']} trace 0")
        check_result(run(ROOT, w["name"], 1), bench["per_layer"], f"{w['name']} trace 1")
    check_bare_dir(bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
