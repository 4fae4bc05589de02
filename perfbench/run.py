#!/usr/bin/env python3
"""The repository benchmark: one workload per run, oracle-checked.

    python3 perfbench/run.py --workload {spark_search,gates} \\
        --seed N --seconds S --trace {0,1}

Starts one local Spark session (``local[3]``, 3 shuffle partitions),
sets the workload up several times, runs its calls in a closed loop for
``--seconds``, checks every output against an oracle and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. All files go under
``perfbench/.work`` (removed at exit) and ``perfbench/.out`` (traces).
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SCALES = {
    "full": {"docs": 6000, "vocab": 100_000, "max_rank": 20000,
             "queries": 100, "batch": 8, "oracle_queries": 3},
    "tiny": {"docs": 2000, "vocab": 5000, "max_rank": 2000,
             "queries": 10, "batch": 4, "oracle_queries": 2},
}

END_TO_END = {"call_p50_s": "s", "setup_s": "s"}
# A run is one fresh JVM: the first set-up is cold and costs two to three
# times the others, so the median of three is a warm one.
SETUPS = 3
def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the package from the checkout, whatever the cwd."""
    from workloads import CPUS

    tmp, jtmp = os.path.join(work, "tmp"), os.path.join(work, "jvm-tmp")
    os.makedirs(tmp)
    os.makedirs(jtmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the status store must still hold every stage when a traced run
    # reads it at the end (it keeps 1000 by default)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        f"--driver-java-options '-Djava.io.tmpdir={jtmp} -XX:-UsePerfData' "
        "pyspark-shell")


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            break
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)
    for p in kids:  # reap any direct children
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def run(args, work: str) -> tuple[dict, int, int, list[str]]:
    from tracing import Tracer
    from workloads import CPUS, WORKLOADS, layer_metrics

    scale = SCALES[args.scale]
    tr = Tracer(enabled=bool(args.trace))
    with tr.span("run", request="run") as root:
        with tr.span("session.start", request="setup"):
            from anserini_spark.session import get_spark

            spark = get_spark(app="perfbench", master=f"local[{CPUS}]",
                              shuffle_partitions=CPUS,
                              local_dir=os.path.join(work, "spark-local"))
            spark.sparkContext.setLogLevel("ERROR")
        tr.bind(spark.sparkContext)
        try:
            wl = WORKLOADS[args.workload](spark, tr, work, args.seed, scale)
            t0 = time.perf_counter()
            wl.prepare()
            log(f"prepare: {time.perf_counter() - t0:.3f} s")
            setups = []
            for rep in range(SETUPS):
                t0 = time.perf_counter()
                with tr.span("workload.setup", request=f"setup-{rep}"):
                    wl.setup(rep)
                setups.append(time.perf_counter() - t0)
                log(f"setup {rep}: {setups[-1]:.3f} s")
            calls, failed, streak, i = [], 0, 0, 0
            t_end = time.perf_counter() + args.seconds
            # a call starts only if a typical one still ends within
            # --seconds, once the workload's minimum count is made
            while streak < 3 and (
                    i < wl.min_calls or time.perf_counter()
                    + (statistics.median(calls) if calls else 0.0) <= t_end):
                t0 = time.perf_counter()
                try:
                    with tr.span("workload.call", request=f"call-{i}"):
                        out = wl.call(i)
                    calls.append(time.perf_counter() - t0)
                    wl.record(i, out)
                    streak = 0
                except Exception:  # noqa: BLE001 - a failed call is counted
                    log(f"call {i} failed:\n{traceback.format_exc()}")
                    failed += 1
                    streak += 1
                i += 1
            log(f"{len(calls)} calls: {' '.join(f'{c:.3f}' for c in calls)}")
            t0 = time.perf_counter()
            with tr.span("workload.check", request="check"):
                errs = wl.check()
            log(f"check: {time.perf_counter() - t0:.3f} s")
            metrics = {
                "call_p50_s": statistics.median(calls) if calls else 0.0,
                "setup_s": statistics.median(setups),
            }
            if args.trace:
                metrics = layer_metrics(wl, metrics)
        finally:
            with tr.span("session.stop", request="teardown"):
                stop_spark(spark)
    if args.trace:
        selfs = tr.self_times()
        metrics["trace.self_coverage"] = 1.0 - selfs[root.id] / root.dur
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        tr.dump(os.path.join(
            out, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    return metrics, i, failed, errs


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "anserini_spark", "__init__.py")):
        print("perfbench: anserini_spark/ not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import PER_LAYER

    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        metrics, attempted, failed, errs = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errs:
        log(f"MISMATCH {e}")
    units = {**{k: u for k, (u, _better) in PER_LAYER.items()}, **END_TO_END}
    for k, v in metrics.items():
        print(f"{k:40s} {v:>16.6g} {units[k]}")
    print(json.dumps({
        "correct": not errs,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
