"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload llm --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The program is not built: the engine is
imported from the checkout's ``xlearning_spark`` package. The run works
only inside ``.perfbench_work/<pid>/`` (Spark local dirs, temp files, the
ingest corpus), which it removes at the end, and keeps its last result
and spans under ``.perfbench_out/``.

The run itself happens in a child interpreter (``worker.py``) with a
pinned environment; this process samples the resident memory of the
child and every process under it (JVM, Python workers), waits for all of
them to end, and prints the metrics. The last line of standard output is
the JSON result; the line before it carries the environment record and
the numbers that are not metrics (tail percentile, canary, pass
times, failures).

Exit codes: 0 with a result; 2 when the checkout lacks the program or
the fixture; 1 when the run failed or overran its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

#: Pinned driver heap: the engine's default derives it from MemAvailable,
#: which drifts between runs.
DRIVER_MEM = "2g"
#: Limit for the worker, in seconds; stopping it takes at most ~11 s more,
#: which keeps a run under three minutes.
TIME_LIMIT = 160


def cores() -> int:
    return len(os.sched_getaffinity(0))


def preflight() -> str | None:
    """Why this checkout cannot run the benchmark, or None."""
    if not os.path.isfile(os.path.join(ROOT, "xlearning_spark", "engine.py")):
        return f"no xlearning_spark package under {ROOT}"
    data = os.path.join(HERE, "data", "sf0.01")
    if not os.path.isdir(data) or len(os.listdir(data)) < 10:
        return f"fixture tables missing under {data}"
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return "pyspark is not importable"
    return None


def _children(pids: set[int]) -> set[int]:
    """``pids`` plus every process below them, from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out = set(pids)
    grew = True
    while grew:
        new = {p for p, pp in parent.items() if pp in out and p not in out}
        out |= new
        grew = bool(new)
    return out


def _rss_bytes(pids: set[int]) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def _cpu_times() -> list[int]:
    """The machine-wide CPU counters of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, then guest times (already in user)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int, grace: float) -> None:
    """Wait for the process group to end; terminate it after ``grace``."""
    deadline = time.monotonic() + grace
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        os.killpg(pgid, sig)
        end = time.monotonic() + 5
        while _group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def environment(args, env: dict, shuffle_partitions: str) -> dict:
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
        "shuffle_partitions": shuffle_partitions,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": java[0] if java else "unknown",
        "fixture": "perfbench/data/sf0.01",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    why = preflight()
    if why:
        print(f"perfbench: cannot run: {why}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json")
    log = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.log")

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PERFBENCH_SPAWN_T=repr(time.time()),
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    if os.path.exists(out):
        os.remove(out)
    # A terminated benchmark still stops its process group (finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    cpu0 = _cpu_times()
    with open(log, "w") as logfh:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=logfh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        peak = 0
        overran = True
        try:
            deadline = time.monotonic() + TIME_LIMIT
            while proc.poll() is None and time.monotonic() < deadline:
                peak = max(peak, _rss_bytes(_children({proc.pid})))
                time.sleep(0.1)
            overran = proc.poll() is None
        finally:
            # A finished worker has stopped its SparkContext; the JVM would
            # linger ~2 s more, so it is told to exit now.
            _stop_group(proc.pid, grace=0 if overran else 0.5)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's directory is still there
    cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    if overran or proc.returncode != 0 or not os.path.exists(out):
        print(
            f"perfbench: run failed (exit {proc.returncode}, "
            f"overran={overran}); log: {os.path.relpath(log, ROOT)}",
            file=sys.stderr,
        )
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        return 1

    with open(out) as fh:
        res = json.load(fh)
    shuffle_partitions = res["info"].pop("shuffle_partitions")
    record = {
        "env": environment(args, env, shuffle_partitions),
        **{k: res[k] for k in ("tail", "info", "failures")},
    }
    if args.trace:
        metrics = {
            name: {"value": value, "unit": wl.PER_LAYER[name][0]}
            for name, value in sorted(wl.complete_layers(res["layers"]).items())
        }
    else:
        values = dict(res["e2e"], peak_rss_mb=peak / 2**20)
        metrics = {k: {"value": values[k], "unit": u} for k, u in wl.END_TO_END.items()}
    record["ops_failed_frac"] = res["failed"] / res["attempted"]
    # CPU time the hypervisor gave to other guests during the run: like
    # the canary, it is for reading noise and never drops a run.
    record["host_steal_frac"] = cpu[7] / max(sum(cpu[:8]), 1)
    print(json.dumps({"perfbench": record}, ensure_ascii=False))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
