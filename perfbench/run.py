"""Benchmark launcher: run one workload once, in a fresh, host-sized process.

    python3 perfbench/run.py --workload query --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The workload process gets
``SPARK_GRAFT_CPUS`` = the cores this process may use and
a fixed ``SPARK_GRAFT_DRIVER_MEM``, and keeps every file it writes under
``.perfbench_work/run-<pid>/`` (generated inputs, outputs, Spark scratch,
event logs; removed at the end) and ``.perfbench_out/`` (one JSON record
per run). The launcher relays the workload's stdout, whose last
line is the result object, and kills whatever the workload left running.
It exits non-zero, printing no result, when the engine is not there or
the workload fails or overruns.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = ("gcp_food_delivery_data_pipeline_spark/__init__.py", "__spark_entry__.py")
DEADLINE_S = 170  # the whole run, launcher included, must end within 180 s
# A fixed driver heap, not one that follows the host's free memory, so that
# runs of the same code use the same heap. 1 GiB holds the inputs (a 50k-row
# CSV, sf0.01 tables) many times over; the engine's own default, 32g, gets
# the JVM killed on a 16 GiB host.
DRIVER_MEM = "1024m"


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()

    missing = [p for p in ENGINE if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine not found next to the benchmark: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PERFBENCH_MEM_AVAILABLE_MB=str(mem_available_mb()),
        PERFBENCH_RUN_DIR=run_dir,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    t0 = time.monotonic()
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        _stop_session(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"perfbench: {args.workload} overran {DEADLINE_S} s", file=sys.stderr)
        return 3
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        print(f"perfbench: {args.workload} failed (exit {proc.returncode}) after "
              f"{time.monotonic() - t0:.0f} s", file=sys.stderr)
        return 1
    sys.stdout.write("\n".join(lines) + "\n")
    return 0


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop every process of the workload's session (the JVM, and PySpark's
    daemon and workers, which leave the workload's process group) and wait
    until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        # poll() reaps the workload process itself, so a zombie does not count
        while time.monotonic() < deadline and (proc.poll() is None or _session_pids(proc.pid)):
            time.sleep(0.05)
    proc.wait()


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:  # state, ..., session
            pids.append(int(pid))
    return pids


if __name__ == "__main__":
    sys.exit(main())
