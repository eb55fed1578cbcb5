"""Launcher for the KG-construction benchmark.

    python3 perfbench/run.py --workload <build_refined|update> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the root of a checkout. It sets up the environment the engine
needs, runs ``kgbench.py`` in its own session with a time
limit, and makes sure every process it started (the Spark JVM, the Python
worker daemon and its workers) has ended before it returns:

- ``SPARK_GRAFT_CPUS`` = the cores this process may run on;
- ``SPARK_DRIVER_MEM`` = a quarter of physical memory, at most 4 GiB
  (``session.py`` defaults to 48g, sized for a 32-core host);
- the checkout on ``PYTHONPATH``, or Python workers fail to import the
  engine;
- Spark local dirs and every temporary file under ``.perfbench_out/``, so
  nothing is written outside the checkout.

Exits non-zero, without printing a result, when the engine is not there.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

TIME_LIMIT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of a session. The session, not the
    process group: the Python worker daemon moves itself into a group of
    its own, but stays in the session."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _reap_session(sid: int, grace_s: float = 5.0) -> None:
    """Wait for the session to end by itself (the JVM exits once its Python
    parent is gone, the worker daemon once the JVM is), then SIGTERM and
    SIGKILL what is left, waiting after each; at most ``grace_s`` + 4 s."""
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.2)
        pids = _session_pids(sid)
        if sig is None or not pids:
            return
        _signal_all(pids, sig)
        deadline = time.monotonic() + 2.0


def _env(root: str) -> dict:
    env = dict(os.environ)
    out = os.path.join(root, ".perfbench_out")
    tmp = os.path.join(out, "tmp")
    local = os.path.join(out, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=f"{min(4096, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p
        ),
    )
    return env


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ontologymatching_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "ontologymatching_spark/", file=sys.stderr)
        return 2
    # a launcher stopped by a signal still stops the benchmark's group
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "kgbench.py"), *sys.argv[1:]],
        env=_env(root),
        start_new_session=True,
    )
    rc = 124
    try:
        rc = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: over {TIME_LIMIT_S}s, stopping", file=sys.stderr)
    finally:
        if proc.poll() is None:
            _signal_all(_session_pids(proc.pid), signal.SIGKILL)
            proc.wait()
        _reap_session(proc.pid)
    return rc


if __name__ == "__main__":
    sys.exit(main())
