"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--cores 4] [--sf 0.01] [--out DIR]

Run from the root of a checkout. Starts ``perfbench/bench.py`` in a
process group of its own, with ``TMPDIR`` (and the JVMs' temp dir) set to
a fresh directory under ``.perfbench-runs/`` in the checkout, waits for
it, stops whatever is left of the group, and deletes the directory. The
last line of standard output is the run's JSON result; the exit code is
the benchmark's, or 1 when it did not finish within ``TIME_LIMIT_S``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench-runs")
# Left by the package's streaming drains, which put their checkpoints here.
CHECKPOINTS = os.path.join(ROOT, ".stream-checkpoints")
TIME_LIMIT_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill every process left in the group led by ``proc`` and wait until
    none is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()  # a member not yet reaped would keep the group alive
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    # A SIGTERM ends the run through the clean-up below, not around it.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(1))
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    had_checkpoints = os.path.exists(CHECKPOINTS)
    env = dict(os.environ, TMPDIR=run_dir, PYTHONDONTWRITEBYTECODE="1",
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData")
    rc = 1
    try:
        proc = subprocess.Popen([sys.executable, "-m", "perfbench.bench", *sys.argv[1:]],
                                cwd=ROOT, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: no result within {TIME_LIMIT_S} s", file=sys.stderr)
        finally:
            _stop_group(proc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        for path in (RUNS, None if had_checkpoints else CHECKPOINTS):
            if path is not None:
                try:
                    os.rmdir(path)  # only if empty: a concurrent run may own it
                except OSError:
                    pass
    return rc


if __name__ == "__main__":
    sys.exit(main())
