#!/usr/bin/env python
"""Parallel pytest runner (VERDICT r4 ask #7: the 1300-test suite took
~19 min single-process).

pytest-xdist isn't in this environment, so this shards BY FILE over a
dynamic work queue: N worker threads each run ``pytest <one file>`` in
a subprocess with its own small Spark session (SPARK_GRAFT_CPUS=5 by
default, so 6 workers ≈ 30 executor threads on the 32-CPU box). The
queue self-balances — the oracle-parity shards (which also audit every
oracle-backed plan) are seeded first so they never trail the tail.

Usage:  python tests/partest.py            # whole suite
        PARTEST_WORKERS=4 python tests/partest.py test_graph test_diff

Exit code 0 iff every file's pytest exited 0. Per-file stdout is
captured; failures replay their tail so CI logs stay readable.
"""

from __future__ import annotations

import glob
import os
import queue
import re
import subprocess
import sys
import threading
import time

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(TESTS_DIR)

# measured heavyweights run first so the queue tail stays short
# (the oracle-parity gate is hash-sharded into 4 files — VERDICT r5
# ask #2 — so no single shard dominates the critical path)
_BIG_FIRST = [
    "test_oracle_parity_0.py",
    "test_oracle_parity_1.py",
    "test_oracle_parity_2.py",
    "test_oracle_parity_3.py",
    "test_graph.py",
    "test_streaming.py",
    "test_etl.py",
    "test_dedup.py",
]


def main(argv: list[str]) -> int:
    only = set(argv)
    files = sorted(glob.glob(os.path.join(TESTS_DIR, "test_*.py")))
    if only:
        files = [
            f
            for f in files
            if os.path.basename(f) in only
            or os.path.basename(f)[:-3] in only
        ]
    files.sort(
        key=lambda f: (
            _BIG_FIRST.index(os.path.basename(f))
            if os.path.basename(f) in _BIG_FIRST
            else len(_BIG_FIRST),
            f,
        )
    )
    workers = int(os.environ.get("PARTEST_WORKERS", "6"))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=os.environ.get("PARTEST_SESSION_CPUS", "5"),
    )

    q: queue.Queue[str] = queue.Queue()
    for f in files:
        q.put(f)
    results: dict[str, tuple[int, float, str]] = {}
    lock = threading.Lock()
    t_start = time.time()

    def work() -> None:
        while True:
            try:
                f = q.get_nowait()
            except queue.Empty:
                return
            t0 = time.time()
            p = subprocess.run(
                [
                    sys.executable,
                    "-m",
                    "pytest",
                    f,
                    "-q",
                    "--no-header",
                    "-p",
                    "no:cacheprovider",
                ],
                capture_output=True,
                text=True,
                env=env,
                cwd=REPO_DIR,
            )
            dt = time.time() - t0
            name = os.path.basename(f)
            with lock:
                results[f] = (p.returncode, dt, p.stdout + p.stderr)
                mark = "ok" if p.returncode == 0 else f"FAIL rc={p.returncode}"
                summary = ""
                for ln in reversed(p.stdout.splitlines()):
                    if re.search(r"\d+ (passed|failed|skipped|error)", ln):
                        summary = ln.strip()
                        break
                print(f"[{dt:6.1f}s] {mark:10s} {name}  {summary}", flush=True)

    threads = [threading.Thread(target=work) for _ in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    failed = {f: r for f, r in results.items() if r[0] != 0}
    wall = time.time() - t_start
    print(
        f"\npartest: {len(results)} files, {len(failed)} failed, "
        f"{wall:.0f}s wall with {workers} workers",
        flush=True,
    )
    for f, (rc, _, out) in sorted(failed.items()):
        print(f"\n===== {os.path.basename(f)} (rc={rc}) — output tail =====")
        print("\n".join(out.splitlines()[-60:]))
    # never report green unless every queued file actually ran: a dead
    # worker (MemoryError, OSError from subprocess) or a typo'd filter
    # selecting zero files must fail loudly, not silently skip coverage
    if not files:
        print("partest: no test files matched the filter", flush=True)
        return 1
    if len(results) != len(files):
        missing = sorted(
            os.path.basename(f) for f in files if f not in results
        )
        print(f"partest: {len(missing)} files never ran: {missing}", flush=True)
        return 1
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
