"""Benchmark entry point: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload corpus_roundtrip --seed 1 --seconds 15 --trace 0

Run from the repository root. The workload itself runs in a child process
(perfbench/workload.py) in its own process group; this supervisor

* makes itself the child subreaper, so every descendant (the JVM, the
  ``pyspark.daemon`` and its forked workers, which leave the group) stays
  findable in /proc after the child exits;
* kills the tree on SIGTERM/SIGINT and on timeout;
* after the child exits, kills and reports any descendant that survived
  (the run then fails);
* removes the run's scratch root (Spark local dirs, checkpoints,
  comparator output) on every exit path.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; a run that fails
prints no such line and exits non-zero.
"""

from __future__ import annotations

import argparse
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
BENCH_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
# the child must finish well inside the 180 s a run may take
CHILD_DEADLINE_S = 165.0
PR_SET_CHILD_SUBREAPER = 36


def descendants(root_pid: int) -> list[int]:
    """Live (non-zombie) PIDs whose parent chain leads to ``root_pid``,
    read from /proc."""
    parent: dict[int, int] = {}
    zombies = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # state and ppid follow the parenthesised command name
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        parent[int(name)] = int(ppid)
        if state == "Z":
            zombies.add(int(name))
    out = []
    for pid in parent:
        p = parent.get(pid)
        seen = 0
        while p and p != root_pid and seen < 64:
            p = parent.get(p)
            seen += 1
        if p == root_pid and pid not in zombies:
            out.append(pid)
    return out


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return "?"


def kill_tree(child: subprocess.Popen | None, grace_s: float = 0.0) -> list[str]:
    """Give the child's descendants ``grace_s`` to exit on their own, then
    SIGKILL the child's group and every descendant left, and reap them.
    Returns a description of each process that had to be killed."""
    if child is not None and child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    deadline = time.monotonic() + grace_s
    while True:
        reap()
        pids = descendants(os.getpid())
        if not pids or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    killed = []
    for _ in range(3):
        if not pids:
            break
        for pid in pids:
            killed.append(f"{pid} {describe(pid)}")
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        reap()
        pids = descendants(os.getpid())
    return killed


def reap() -> None:
    """Collect exit statuses of orphans re-parented to this subreaper."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for perfbench/selftest.py")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "parquet_extra_spark", "__init__.py")):
        print("perfbench: run from the repository root (parquet_extra_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(BENCH_JSON) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    scratch_parent = os.path.join(root, ".perfbench_tmp")
    os.makedirs(scratch_parent, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=scratch_parent)
    result_path = os.path.join(scratch, "result.json")
    child: subprocess.Popen | None = None

    def on_signal(signum, _frame):
        kill_tree(child)
        shutil.rmtree(scratch, ignore_errors=True)
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["TMPDIR"] = scratch
    # every JVM (spark-submit's launcher too): temp files in the scratch
    # root, no hsperfdata file outside it
    jvm_tmp = os.path.join(scratch, "jvm")
    os.makedirs(jvm_tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jvm_tmp}"
    env["PYTHONUNBUFFERED"] = "1"
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--scratch", scratch, "--result", result_path,
    ]
    try:
        # the child's stdout joins our stderr: our stdout carries only the result
        child = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr,
                                 start_new_session=True)
        try:
            child.wait(timeout=float(env.get("PERFBENCH_DEADLINE_S", CHILD_DEADLINE_S)))
            timed_out = False
        except subprocess.TimeoutExpired:
            timed_out = True
        # pyspark.daemon's workers exit on the SIGHUP it sends as the JVM
        # stops them; a few seconds' grace keeps that from reading as a leak
        survivors = kill_tree(child, grace_s=0 if timed_out else 5)
        if timed_out:
            print("perfbench: workload exceeded its deadline; process tree killed",
                  file=sys.stderr)
            return 3
        if child.returncode != 0 or not os.path.exists(result_path):
            print(f"perfbench: workload failed (exit {child.returncode})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        kill_tree(child)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_parent)
        except OSError:
            pass

    if survivors:
        # a leaked JVM or worker is a failed run, not a measurement
        result["correct"] = False
        result["failed"] += 1
        print("perfbench: processes survived the workload: " + "; ".join(survivors),
              file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
