"""Frontier benchmark: one workload, one closed-loop run, one JSON result.

Run from the repository root:

  python3 frontierbench/run.py --workload crawl_heavy --seed 1 --seconds 10 --trace 0

It starts Spark on ``local[<nproc>]`` from this process, builds the
workload's inputs from ``--seed``, runs one untimed warm-up op and then
timed ops back to back (the next starts when the previous has finished)
until ``--seconds`` of op time have passed. Every op's output is checked;
an op that fails its checks or raises counts as failed. The last line of
standard output is the result; the line before it records the pinned
environment and the per-op samples.

``--trace 1`` runs the same measurement untraced, then again in a fresh
Spark session with the event log on, and prints the per-layer ledger
(see trace.py) instead of the end-to-end metrics.

Nothing is read from earlier runs: the working directory ``.bench_run``
under the repository root is emptied at start and removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_run")
DRIVER_MEMORY = "2g"  # well inside a 15 GB host; get_spark defaults to 24g
SETUP_REPEATS = 3
PINNED_ENV = {
    "FRONTIER_SHM_TMP": "0",  # spill and shuffle on disk under WORK, not /dev/shm
    "FRONTIER_ARROW_BATCH": "1024",
    "FRONTIER_ARROW_MAX_BYTES": "8m",
    "PYTHONWARNINGS": "ignore",
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
}
UNSET_ENV = ("FRONTIER_TIMING", "FRONTIER_PROFILE")  # both add count() actions


def _pin_env() -> int:
    cores = len(os.sched_getaffinity(0))
    for k in UNSET_ENV:
        os.environ.pop(k, None)
    os.environ.update(PINNED_ENV)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    return cores


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
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
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Summed RSS of ``pid`` and its descendants. A child whose memory
    figures equal its parent's is still sharing the parent's address space
    (the JVM spawns helper commands that way) and is not counted twice."""
    kids, statm = _children(), {}
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(pid, None)]
    while todo:
        p, parent = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                statm[p] = f.read()
        except OSError:
            continue
        if statm[p] != statm.get(parent):
            total += int(statm[p].split()[1]) * page
        todo.extend((c, p) for c in kids.get(p, []))
    return total


class PeakRss:
    """Peak summed RSS of this process and its descendants (the Spark JVM
    and its Python workers), sampled every 100 ms on a daemon thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop Spark and its gateway JVM, and wait until the JVM and every
    process under it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    left = descendants(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in left:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------- phases


def start_spark(cores: int, traced: bool):
    from frontier_engine.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark_local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        ev_dir = os.path.join(WORK, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=cores, app="frontierbench", driver_memory=DRIVER_MEMORY, extra_conf=conf)


def measure(name: str, seed: int, seconds: float, cores: int, traced: bool, setups: int) -> dict:
    """One Spark session: set up ``setups`` times, run one untimed warm-up
    op, then timed ops until ``seconds`` of op time have passed."""
    from frontierbench.trace import Spans
    from frontierbench.workloads import make_workload

    t0 = time.perf_counter()
    spark = start_spark(cores, traced)
    out = {"spark_start_s": time.perf_counter() - t0, "setup_s": [], "ops": [], "failed": 0}
    try:
        out["spans"] = spans = Spans()
        out["wl"] = wl = make_workload(name, spark, seed, WORK, spans)
        for _ in range(setups):
            t = time.perf_counter()
            wl.prepare()
            out["setup_s"].append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.op()
        warm_errs = wl.check(warm)
        wl.cleanup(warm)
        out["warmup_s"] = time.perf_counter() - t
        out["warmup_ok"] = not warm_errs
        for e in warm_errs:
            print(f"warm-up op: {e}", file=sys.stderr)
        op_time = 0.0
        while op_time < seconds:
            spans.op = len(out["ops"])
            res, errs = None, []
            try:
                res = wl.op()
                errs = wl.check(res)
            except Exception:  # the op counts as failed and the run goes on
                traceback.print_exc()
                errs.append("raised")
            finally:
                spans.op = -1
                if res is not None:
                    wl.cleanup(res)
            op_time += res.wall_s if res is not None else seconds / 4
            out["ops"].append(res)
            out["failed"] += bool(errs)
            for e in errs:
                print(f"op {len(out['ops']) - 1}: {e}", file=sys.stderr)
        out["extras"] = wl.trace_extras() if traced else {}
        return out
    finally:
        stop_spark(spark)


def end_to_end(run: dict, peak_rss: int) -> dict:
    ok = [r for r in run["ops"] if r is not None]
    walls = [r.wall_s for r in ok]
    setup = run["spark_start_s"] + statistics.median(run["setup_s"]) + run["warmup_s"]
    return {
        "work_per_s": {"value": sum(r.work for r in ok) / sum(walls) if walls else 0.0, "unit": "1/s"},
        "op_s_p50": {"value": statistics.median(walls) if walls else 0.0, "unit": "s"},
        "setup_s": {"value": setup, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl_heavy", "seen_scale"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import frontier_engine  # noqa: F401  (fails fast, before any file is written, outside a checkout)

    shutil.rmtree(WORK, ignore_errors=True)
    cores = _pin_env()
    import pyarrow
    import pyspark

    env = {
        "cores": cores,
        "driver_memory": DRIVER_MEMORY,
        "store_root": os.path.join(WORK, "store"),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        **{k: os.environ[k] for k in PINNED_ENV},
        **{k: None for k in UNSET_ENV},
    }
    try:
        # A traced run reports no set-up time, so it sets up once per session.
        setups = 1 if args.trace else SETUP_REPEATS
        with PeakRss() as rss:
            run = measure(args.workload, args.seed, args.seconds, cores, False, setups)
        metrics = end_to_end(run, rss.peak)
        runs = [run]
        samples = {"op_s": [r.wall_s for r in run["ops"] if r], "setup_s": run["setup_s"],
                   "counters": next((r.counters for r in run["ops"] if r), None)}
        reconciled = True
        if args.trace:
            from frontierbench.trace import layer_metrics

            traced = measure(args.workload, args.seed, args.seconds, cores, True, setups)
            runs.append(traced)
            metrics, reconciled = layer_metrics(
                traced, os.path.join(WORK, "eventlog"), cores, metrics["op_s_p50"]["value"]
            )
            samples["traced_op_s"] = [r.wall_s for r in traced["ops"] if r]
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    attempted = sum(len(r["ops"]) for r in runs)
    failed = sum(r["failed"] for r in runs)
    correct = all(r["warmup_ok"] for r in runs) and reconciled and failed == 0
    print(json.dumps({"env": env, "samples": samples}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
