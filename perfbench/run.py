"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 8 --trace 0

Workloads: lookup, graph_iterate, nt_ingest (see perfbench/README.md).
The last stdout line is the JSON result.  Each run gets a fresh work
directory under ``.perfbench_work/`` in the repository root (removed at
exit), which holds every file Spark, the engine and the benchmark write:
generated tables, stats, ingest and checkpoint directories, Spark local
and temp directories.  The run happens in a child process in its own
process group, so the Spark JVM and its Python workers are all stopped
and waited for before this exits."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: a run that has not finished by then is killed and fails
TIMEOUT_S = 150


def _pinned_env(root: str, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]
    # the JVM writes perf data under /tmp unless told not to
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env.update({
        "PYTHONPATH": os.pathsep.join([HERE, root]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '{jvm_opts}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return env


def _stop_group(pgid: int) -> None:
    """SIGKILL whatever is left of the run's process group and wait until
    it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dream_spark", "__init__.py")):
        print("perfbench: run from the repository root (no dream_spark/ here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work],
            cwd=work, env=_pinned_env(root, work), stdout=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            proc.communicate()
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 3
        finally:
            _stop_group(proc.pid)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write("".join(f"{ln}\n" for ln in lines if not ln.startswith("{")))
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    json.loads(lines[-1])
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
