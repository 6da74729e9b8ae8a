"""Self-test of the benchmark harness (not of the engine).

    python3 perfbench/selftest.py            # from the repository root

Checks, at smoke size:
* every workload, untraced and traced, exits 0 with ``correct`` true, no
  failed op, and every metric BENCHMARK.json names for that mode, each
  with its unit;
* a traced run writes its spans, and the layers' self times fit inside
  the traced wall time;
* no process of the run survives, and its scratch root is removed, after a
  normal exit, a failure injected after set-up, the supervisor's own
  deadline, or a SIGTERM from outside;
* in a directory holding only BENCHMARK.json and perfbench/, the command
  exits non-zero without printing a result.

Takes several minutes (each run starts its own Spark session).
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import PR_SET_CHILD_SUBREAPER, descendants, describe  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def no_survivors(what: str) -> None:
    """Every process the run started is gone (this process is the child
    subreaper, so orphans of the run would be our descendants), and so is
    its scratch root."""
    time.sleep(0.5)
    left = descendants(os.getpid())
    check(not left, f"{what}: no process left running {[describe(p) for p in left]}")
    for pid in left:
        os.kill(pid, signal.SIGKILL)
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    runs = os.listdir(scratch) if os.path.isdir(scratch) else []
    runs = [d for d in runs if d.startswith("run-")]
    check(not runs, f"{what}: scratch root removed {runs}")


def bench(workload: str, trace: int, env: dict | None = None, cwd: str = ROOT,
          timeout: float = 240) -> tuple[int, str]:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "2",
                             "--trace", str(trace), "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=cwd, env={**os.environ, **(env or {})},
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=timeout)
    return proc.returncode, proc.stdout


def check_result(workload: str, trace: int) -> None:
    what = f"{workload} trace={trace}"
    rc, out = bench(workload, trace)
    lines = out.strip().splitlines()
    check(rc == 0 and bool(lines), f"{what}: exit 0 with a result")
    if rc != 0 or not lines:
        return
    res = json.loads(lines[-1])
    check(sorted(res) == ["attempted", "correct", "failed", "metrics"], f"{what}: result keys")
    check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
          f"{what}: correct, error rate 0 ({res['failed']}/{res['attempted']})")
    wanted = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    check(got == wanted, f"{what}: every named metric with its unit")
    if trace:
        spans_file = os.path.join(ROOT, ".perfbench_out",
                                  f"{workload}-seed7-trace1-spans.json")
        with open(spans_file) as f:
            spans = json.load(f)
        wall = res["metrics"]["trace.wall_s"]["value"]
        selfs = spans["self_s"]
        check(bool(spans["spans"]) and all(v >= 0 for v in selfs.values())
              and sum(selfs.values()) <= wall + 1e-6,
              f"{what}: span self times ({sum(selfs.values()):.2f}s) fit the traced wall "
              f"({wall:.2f}s)")


def main() -> int:
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    workloads = [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            check_result(w, trace)
            no_survivors(f"{w} trace={trace} normal exit")

    rc, out = bench(workloads[0], 0, env={"PERFBENCH_INJECT": "raise"})
    check(rc != 0 and not out.strip(), "injected failure: non-zero exit, no result")
    no_survivors("injected failure")

    rc, out = bench(workloads[0], 0, env={"PERFBENCH_INJECT": "hang",
                                          "PERFBENCH_DEADLINE_S": "40"})
    check(rc != 0 and not out.strip(), "deadline: non-zero exit, no result")
    no_survivors("deadline kill")

    cmd = SPEC["command"] + ["--workload", workloads[0], "--seed", "7", "--seconds", "2",
                             "--trace", "0", "--size", "smoke"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            env={**os.environ, "PERFBENCH_INJECT": "hang"})
    time.sleep(30)  # inside set-up or the hang: the JVM is up
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=60)
    check(proc.returncode != 0 and not out.strip(), "SIGTERM: non-zero exit, no result")
    no_survivors("SIGTERM")

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = bench(workloads[0], 0, cwd=bare, timeout=180)
        check(rc != 0 and not out.strip(), "bare directory: non-zero exit, no result")
    finally:
        shutil.rmtree(bare)
    no_survivors("bare directory")

    print(f"{len(FAILURES)} failure(s)" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
