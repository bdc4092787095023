"""Benchmark entry point.

    python3 perfbench/run.py --workload <extract_job|extract_pdf>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads, metrics and checks are
described in ``perfbench/README.md``.  This launcher makes a private run
directory under ``perfbench/``, starts the workload process
(``perfbench.main``) in its own process group with every temporary
location pointed into that directory, relays its output, then stops
every process of the group, waits for them to end and removes the run
directory.  The last line of standard output is the result JSON.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 175


def _group_alive(pgid: int) -> bool:
    for stat in os.listdir("/proc"):
        if not stat.isdigit():
            continue
        try:
            with open(f"/proc/{stat}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "pdf_extractor2_spark", "__init__.py")):
        print("perfbench: the program (pdf_extractor2_spark/) is not next to perfbench/",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, f".run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONHASHSEED="0",  # the kernel's set orderings, as in the program's tests
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PEX2_IVF_CACHE_DIR=os.path.join(run_dir, "ivf"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PEX2_DRIVER_MEM="2g",
        # glibc's per-thread malloc arenas put a few hundred MB of run-to-run
        # noise into the JVM's resident size; two arenas hold it to a few %
        MALLOC_ARENA_MAX="2",
    )
    cmd = [sys.executable, "-m", "perfbench.main", *sys.argv[1:], "--run-dir", run_dir]
    # a terminated launcher still stops the workload's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: workload exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
