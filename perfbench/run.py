"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs worker.py twice, each in a session of its own: `stage` (build the
input pool once per checkout, slice the seed's input) and `run` (the
measured process). After each, every process left in that session — the
Spark JVM, the pyspark daemon and its workers — is terminated, then
killed, and waited for until none is left. This holds on success, on
failure, on SIGTERM/SIGINT and on the benchmark's own deadline. The last
line of standard output is the result JSON, printed only when the run
completed; otherwise the exit code is not 0 and nothing is printed.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TMP_ROOT = os.path.join(HERE, ".cache", "tmp")
STAGE_DEADLINE_S = 600  # building a pool happens once per checkout
RUN_DEADLINE_S = 160
GRACE_S = 10  # between SIGTERM and SIGKILL when cleaning up a session
PR_SET_PDEATHSIG = 1


def _session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is `sid`."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def end_session(proc: subprocess.Popen) -> None:
    """Stop every process of the child's session and wait until none is
    left. The child is the session leader, so its pid is the session id;
    the pyspark daemon moves to a process group of its own but stays in
    the session."""
    sid = proc.pid
    t_kill = time.time() + GRACE_S
    _signal_all(_session_members(sid), signal.SIGTERM)
    while True:
        proc.poll()  # reap the leader so it does not linger as a zombie
        left = _session_members(sid)
        if not left:
            break
        if time.time() >= t_kill:
            _signal_all(left, signal.SIGKILL)
        time.sleep(0.1)
    proc.wait()


def _die_with_parent() -> None:
    # the child is killed if this supervisor dies without cleaning up
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def _clear_stale_tmp() -> None:
    """Remove temporary directories of supervisors that no longer run."""
    if not os.path.isdir(TMP_ROOT):
        return
    for name in os.listdir(TMP_ROOT):
        pid = name.split("-")[1] if name.startswith("run-") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", help="input sizes; 'tiny' for the self-test")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fs2_osm_spark", "session.py")):
        print("perfbench: fs2_osm_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2

    stop: list[int] = []

    def on_signal(signum, _frame):
        stop.append(signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    _clear_stale_tmp()
    os.makedirs(TMP_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=TMP_ROOT)
    result_path = os.path.join(tmp, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        "PERFBENCH_TMP": tmp,
        "PERFBENCH_RESULT": result_path,
    })
    common = ["--workload", args.workload, "--seed", str(args.seed), "--scale", args.scale]
    steps = [
        (["stage", *common], STAGE_DEADLINE_S),
        (["run", *common, "--seconds", str(args.seconds), "--trace", str(args.trace)],
         float(os.environ.get("PERFBENCH_DEADLINE_S", RUN_DEADLINE_S))),
    ]
    try:
        for argv, deadline in steps:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), *argv],
                env=env, stdout=sys.stderr, start_new_session=True,
                preexec_fn=_die_with_parent,
            )
            t_end = time.time() + deadline
            try:
                while proc.poll() is None and not stop and time.time() < t_end:
                    time.sleep(0.2)
            finally:
                end_session(proc)
            if stop:
                print(f"perfbench: stopped by signal {stop[0]}", file=sys.stderr)
                return 128 + stop[0]
            if proc.returncode != 0:
                why = "deadline" if time.time() >= t_end else f"exit {proc.returncode}"
                print(f"perfbench: {argv[0]} failed ({why})", file=sys.stderr)
                return 1
        with open(result_path) as f:
            result = f.read().strip()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
