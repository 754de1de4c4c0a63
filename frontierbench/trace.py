"""Traced-run ledger: split each op's wall time among the modules whose Spark
stages ran during it, from the Spark event log and the benchmark's spans.

A stage belongs to the module whose Python function its plan runs. The
event log names no function per stage, so the link goes through SQL metric
accumulators: every plan node (initial and adaptive plans, cached plans
included) lists its metrics' accumulator ids, and a stage reports the ids
it updated. A stage that runs none of the functions below, but runs the
result tasks of a file write, is IceLite's; any other stage (joins, anti
joins, aggregations) belongs to the module the op drives: the frontier's
round plumbing in a crawl op, the exact anti join in a seen-set op.

Wall time is split instant by instant: at each moment every running stage
gets an equal share, and time with no stage running is driver gap (plan
compilation, ``getNumPartitions`` probes, snapshot walks). The driver gap
is also computed a second way, as wall minus the union of stage intervals;
``ledger_residual`` is what the parts plus that gap leave of op wall time,
and it must stay within ``RECONCILE_TOLERANCE``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict


class Spans:
    """Spans kept in memory: (name, start, end, op) with epoch-second times,
    so they share a clock with the Spark event log. ``op`` is the index of
    the op the span ran in (-1 outside ops). Appends are atomic under the
    interpreter lock, so the engine's commit threads may record too."""

    def __init__(self):
        self.records: list[tuple[str, float, float, int]] = []
        self.op = -1

    def wrap(self, name, fn):
        def traced(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.records.append((name, t0, time.time(), self.op))

        return traced

    def total(self, name: str, op: int) -> float:
        return sum(e - s for n, s, e, o in self.records if n == name and o == op)


RECONCILE_TOLERANCE = 0.02  # share of op wall time

# (pattern in a plan node's description, module part), first match wins.
FUNCTION_PARTS = (
    (re.compile(r"\b_process\("), "pipeline.extract"),
    (re.compile(r"\b(extend|build)\("), "urlseen.extend"),
    (re.compile(r"^FlatMapCoGroupsInPandas\b"), "urlseen.test"),
    (re.compile(r"\bgate\("), "politeness.gate"),
    (re.compile(r"\bpq\("), "politeness.schedule"),
    (re.compile(r"\b_canon_id\("), "frontier.discover"),
)
PART_ORDER = [p for _, p in FUNCTION_PARTS]
WRITE_PART = "icelite.write"
WRITE_NODE = re.compile(r"InsertIntoHadoopFsRelationCommand|^WriteFiles\b")


def _events(ev_dir: str):
    for path in sorted(glob.glob(os.path.join(ev_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path, errors="replace") as f:
                for line in f:
                    yield json.loads(line)


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    """Stages, jobs and tasks of one Spark application, with each stage's
    module part resolved."""

    def __init__(self, ev_dir: str):
        acc_part: dict[int, str] = {}
        write_execs: set[int] = set()
        job_exec: dict[int, int] = {}
        self.jobs: list[tuple[int, float]] = []  # (job id, submit time)
        self.stages: dict[tuple, dict] = {}
        tasks: dict[tuple, list] = defaultdict(list)
        for ev in _events(ev_dir):
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                for node in _walk(ev["sparkPlanInfo"]):
                    desc = node.get("simpleString") or node.get("nodeName", "")
                    if WRITE_NODE.search(desc) or WRITE_NODE.search(node.get("nodeName", "")):
                        write_execs.add(ev["executionId"])
                    part = next((p for rx, p in FUNCTION_PARTS if rx.search(desc)), None)
                    if part:
                        for m in node.get("metrics", []):
                            acc_part[m["accumulatorId"]] = part
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if "spark.sql.execution.id" in props:
                    exec_id = int(props["spark.sql.execution.id"])
                    for sid in ev.get("Stage IDs", []):
                        job_exec[sid] = exec_id
                self.jobs.append((ev["Job ID"], ev["Submission Time"] / 1000))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info or "Completion Time" not in info:
                    continue
                self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "id": info["Stage ID"],
                    "start": info["Submission Time"] / 1000,
                    "end": info["Completion Time"] / 1000,
                    "accs": {a["ID"] for a in info.get("Accumulables", [])},
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = ev["Task Info"]
                tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append(
                    {
                        "dur": (t["Finish Time"] - t["Launch Time"]) / 1000,
                        "run": m.get("Executor Run Time", 0) / 1000,
                        "gc": m.get("JVM GC Time", 0) / 1000,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "result": ev.get("Task Type") == "ResultTask",
                    }
                )
        for key, st in self.stages.items():
            st["tasks"] = tasks.get(key, [])
            parts = {acc_part[a] for a in st["accs"] if a in acc_part}
            if parts:
                st["part"] = min(parts, key=PART_ORDER.index)
            elif job_exec.get(st["id"]) in write_execs and any(t["result"] for t in st["tasks"]):
                st["part"] = WRITE_PART
            else:
                st["part"] = None  # no UDF, no write: the op's own module

    def in_window(self, t0: float, t1: float) -> list[dict]:
        """Stages submitted inside [t0, t1]."""
        return [s for s in self.stages.values() if t0 <= s["start"] <= t1]


def split_wall(stages: list[dict], t0: float, t1: float, other: str) -> dict[str, float]:
    """Seconds per part, each instant of [t0, t1] shared equally among the
    stages running at it. Stages with no part of their own count as
    ``other``; instants with no stage running count nowhere."""
    ivs = [(max(s["start"], t0), min(s["end"], t1), s["part"] or other) for s in stages]
    ivs = [iv for iv in ivs if iv[1] > iv[0]]
    points = sorted({t0, t1, *(a for a, _, _ in ivs), *(b for _, b, _ in ivs)})
    parts: dict[str, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        running = [p for s, e, p in ivs if s <= a and e >= b]
        for p in running:
            parts[p] += (b - a) / len(running)
    return parts


def union_gap(stages: list[dict], t0: float, t1: float) -> float:
    """Wall time of [t0, t1] covered by no stage, by interval merging."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s["start"], t0), min(s["end"], t1)) for s in stages):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (t1 - t0) - covered


def op_ledger(log: EventLog, t0: float, t1: float, cores: int, other: str) -> dict:
    """Per-op stage parts, driver gap, residual and Spark totals."""
    stages = log.in_window(t0, t1)
    parts = split_wall(stages, t0, t1, other)
    wall = t1 - t0
    gap = union_gap(stages, t0, t1)
    tasks = [t for s in stages for t in s["tasks"]]
    skews = []
    for s in stages:
        durs = [t["dur"] for t in s["tasks"]]
        if s["part"] == "pipeline.extract" and durs and statistics.median(durs) > 0:
            skews.append(max(durs) / statistics.median(durs))
    return {
        "parts": dict(parts),
        "gap": gap,
        "residual": (wall - sum(parts.values()) - gap) / wall,
        "jobs": sum(1 for _, t in log.jobs if t0 <= t <= t1),
        "stages": len(stages),
        "busy": sum(t["run"] for t in tasks) / (cores * wall),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "task_skew": statistics.median(skews) if skews else 0.0,
    }


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(run: dict, ev_dir: str, cores: int, untraced_p50: float) -> tuple[dict, bool]:
    """Per-layer metrics of a traced run (medians over its timed ops), and
    whether the run passed: every op's ledger reconciles within
    RECONCILE_TOLERANCE, and no seen candidate escaped the bloom test.
    Layers a workload does not run read 0."""
    from frontierbench import kernels

    log = EventLog(ev_dir)
    spans, wl = run["spans"], run["wl"]
    ops = [(i, r, op_ledger(log, r.start, r.end, cores, wl.other_part)) for i, r in enumerate(run["ops"]) if r]

    def part(name):
        return _median(led["parts"].get(name, 0.0) for _, _, led in ops)

    def span(name):
        return _median(spans.total(name, i) for i, _, _ in ops)

    def per_op(fn):
        return _median(fn(r, led) for _, r, led in ops)

    extras = run["extras"]
    k = kernels.probe(*extras["probe"]) if "probe" in extras else dict.fromkeys(kernels.KERNEL_METRICS, 0.0)
    docs = per_op(lambda r, _: r.docs)
    extract_s = part("pipeline.extract")
    bytes_written = per_op(lambda r, _: r.detail.get("bytes_written", 0))
    pending_in = per_op(lambda r, _: sum(c.get("pending_in", 0) for c in r.counters))
    scheduled = per_op(lambda r, _: sum(c.get("scheduled", 0) for c in r.counters))
    bloom = extras.get("bloom", {})
    extend_s, filter_s = span("urlseen.extend_shards"), span("urlseen.filter_unseen")
    n_seen, n_cand = getattr(wl, "n_seen", 0), getattr(wl, "n_cand", 0)
    residuals = [led["residual"] for _, _, led in ops]
    traced_p50 = _median(r.wall_s for _, r, _ in ops)
    m = {
        "extract.kernel_ms_per_doc": (k["extract.kernel_ms_per_doc"], "ms"),
        "pipeline.extract_stage_s": (extract_s, "s"),
        "pipeline.kernel_share": (
            docs * k["extract.kernel_ms_per_doc"] / 1e3 / (cores * extract_s) if extract_s else 0.0, "ratio"),
        "pipeline.task_skew": (per_op(lambda _, led: led["task_skew"]), "ratio"),
        "urlnorm.canon_us_per_url": (k["urlnorm.canon_us_per_url"], "us"),
        "identity.id_us_per_url": (k["identity.id_us_per_url"], "us"),
        "frontier.discover_stage_s": (part("frontier.discover"), "s"),
        "politeness.robots_us_per_url": (k["politeness.robots_us_per_url"], "us"),
        "politeness.gate_stage_s": (part("politeness.gate"), "s"),
        "politeness.schedule_stage_s": (part("politeness.schedule"), "s"),
        "politeness.scheduled_ratio": (scheduled / pending_in if pending_in else 0.0, "ratio"),
        "urlseen.extend_s": (extend_s, "s"),
        "urlseen.filter_s": (filter_s, "s"),
        "urlseen.ns_per_hash_extend": (extend_s / n_seen * 1e9 if n_seen else 0.0, "ns"),
        "urlseen.ns_per_hash_filter": (filter_s / n_cand * 1e9 if n_cand else 0.0, "ns"),
        "urlseen.exact_rows_ratio": (bloom.get("maybe_ratio", 0.0), "ratio"),
        "urlseen.observed_fpr": (bloom.get("observed_fpr", 0.0), "ratio"),
        "urlseen.extend_stage_s": (part("urlseen.extend"), "s"),
        "urlseen.test_stage_s": (part("urlseen.test"), "s"),
        "icelite.commit_s": (span("icelite.commit"), "s"),
        "icelite.write_table_s": (span("icelite.write_table"), "s"),
        "icelite.write_stage_s": (part(WRITE_PART), "s"),
        "icelite.files_written": (per_op(lambda r, _: r.detail.get("files_written", 0)), "count"),
        "icelite.bytes_written": (bytes_written, "byte"),
        "icelite.bytes_per_doc": (bytes_written / docs if docs else 0.0, "byte"),
        "frontier.init_s": (span("frontier.init"), "s"),
        "frontier.driver_gap_s": (per_op(lambda _, led: led["gap"]), "s"),
        "frontier.other_stage_s": (part("frontier.other"), "s"),
        "urlseen.other_stage_s": (part("urlseen.other"), "s"),
        "frontier.jobs_per_op": (per_op(lambda _, led: led["jobs"]), "count"),
        "frontier.stages_per_op": (per_op(lambda _, led: led["stages"]), "count"),
        "spark.executor_busy_ratio": (per_op(lambda _, led: led["busy"]), "ratio"),
        "spark.gc_s": (per_op(lambda _, led: led["gc_s"]), "s"),
        "spark.shuffle_write_mb": (per_op(lambda _, led: led["shuffle_write_mb"]), "MB"),
        "spark.spill_mb": (per_op(lambda _, led: led["spill_mb"]), "MB"),
        "ledger_residual": (max((abs(x) for x in residuals), default=0.0), "ratio"),
        "trace_overhead": (traced_p50 / untraced_p50 if untraced_p50 else 0.0, "ratio"),
    }
    ok = bool(ops) and all(abs(x) <= RECONCILE_TOLERANCE for x in residuals)
    ok = ok and not bloom.get("escaped")  # no seen candidate may pass the bloom test
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, ok
