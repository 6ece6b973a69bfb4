#!/usr/bin/env python3
"""Product-path benchmark for the rollup engine.

Run from the repository root:

    python3 perfbench/run.py --workload cascade --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload query --seed 1 --repeat 5

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). A readable table
goes to standard error. ``--repeat N`` runs the workload N times with
seeds ``seed..seed+N-1`` in fresh processes and prints each end-to-end
metric's median, quartiles and spread against its bound in
``BENCHMARK.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("cascade", "query", "ingest")
#: a run that has not finished by now is abandoned without a result
DEADLINE_S = 170
WORK_DIR = ".perfbench_work"
#: never take more than this share of available memory for the heap
HEAP_SHARE = 0.25
HEAP_MAX_GB = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run N times in fresh processes and summarize the spread")
    return ap.parse_args(argv)


def host_fit() -> tuple[int, int]:
    """(cores from this process's affinity mask, heap GB from available
    memory)."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    avail_gb = (avail_kb or 4 << 20) / (1 << 20)
    return cores, max(1, min(HEAP_MAX_GB, int(avail_gb * HEAP_SHARE)))


def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``
    and make the engine importable by the workers."""
    for d in ("tmp", "local", "duckdb"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # engine knobs read from the environment stay at the product defaults
    for k in ("SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
              "SPARK_DRIVER_JAVA_OPTS"):
        os.environ.pop(k, None)


def process_tree(root: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``root``, read from
    /proc; the start time tells a reused pid apart."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c[0])
    return out


def state(proc: tuple[int, str]) -> str | None:
    """The process's state letter, or None once it is gone."""
    try:
        with open(f"/proc/{proc[0]}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0] if fields[19] == proc[1] else None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have processes orphaned below this one (a JVM's children outlive
    it) reparented here rather than to init, so ``end_processes`` can
    reap them. Best effort: off Linux nothing changes."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def end_processes(procs: set[tuple[int, str]], timeout_s: float = 30.0) -> None:
    """SIGKILL each process still running, then reap this process's
    children and wait until every one of ``procs`` is gone from the
    process table."""
    for p in procs:
        if state(p) not in (None, "Z"):
            try:
                os.kill(p[0], signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not any(state(p) for p in procs) or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and every process the JVM
    started (Python workers, shell helpers), waiting for each to end.
    ``spark.stop()`` alone leaves the JVM to exit on its own some time
    after this process does."""
    from pyspark import SparkContext

    tree = process_tree(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 - the processes are ended below anyway
            print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        tree |= process_tree(os.getpid())
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is ended below anyway
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - killed below
            pass
    end_processes(tree)


def abandon(reason: str) -> None:
    """Leave without a result, ending every process this one started."""
    print(f"perfbench: {reason}; abandoning the run", file=sys.stderr)
    sys.stderr.flush()
    end_processes(process_tree(os.getpid()), timeout_s=5.0)
    os._exit(3)


def run_once(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "opentsdb_rollup_rust_spark")):
        print("perfbench: the engine package opentsdb_rollup_rust_spark is not in the "
              "current directory; run from the repository root", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S - (time.monotonic() - T_PROCESS), abandon,
                               args=(f"no result after {DEADLINE_S}s",))
    watchdog.daemon = True
    watchdog.start()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: abandon(f"signal {signum}"))
    become_subreaper()

    work = os.path.join(root, WORK_DIR, f"run-{os.getpid()}")
    prepare_env(root, work)
    sys.path[:0] = [HERE, root]
    import workloads

    cores, heap_gb = host_fit()
    b = workloads.Bench(args, work, cores, heap_gb, T_PROCESS)
    try:
        out = workloads.WORKLOADS[args.workload](b)
        if args.trace:
            metrics = workloads.per_layer(b, out)
            units = workloads.per_layer_units()
        else:
            metrics = out["metrics"]
            units = E2E_UNITS
    finally:
        stop_spark(b.spark)
        b.con.close()
        shutil.rmtree(work, ignore_errors=True)
    for p in b.problems:
        print(f"perfbench: WRONG: {p}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} local[{cores}] heap={heap_gb}g "
          f"ops attempted={out['attempted']} failed={out['failed']} "
          f"walls={[round(w, 3) for w in out['walls']]}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:36s} {v:14.4f} {units[k]}", file=sys.stderr)
    result = {
        "correct": not b.problems,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


E2E_UNITS = {
    "setup_s": "s",
    "op_ms": "ms",
    "points_per_s": "pt/s",
    "bytes_per_point": "B/pt",
    "store_mb": "MB",
    "store_files": "files",
}


def repeat(args) -> int:
    """Run the workload ``args.repeat`` times and summarize each metric."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    failed_share = set()
    for i in range(args.repeat):
        seed = args.seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t = time.monotonic()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}")
            return 1
        r = json.loads(p.stdout.strip().splitlines()[-1])
        failed_share.add((r["failed"], r["attempted"]))
        print(f"seed {seed}: {time.monotonic() - t:.1f}s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()),
              flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"failed/attempted seen: {sorted(failed_share)}")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(k)
        verdict = "" if bound is None else (
            f" bound={bound} {'ok' if spread <= bound / 3 else 'WIDE'}")
        print(f"{k:36s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.4f}{verdict}")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    return repeat(args) if args.repeat else run_once(args)


if __name__ == "__main__":
    sys.exit(main())
