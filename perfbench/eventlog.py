"""Spark layer metrics from Spark's own event log.

The benchmark turns the event log on from the outside (``spark-submit``
``--conf`` flags in ``PYSPARK_SUBMIT_ARGS``) and tags every Spark job with
the program call site that started it: ``CallSites`` wraps the DataFrame
actions and sets two local properties before delegating, which Spark
copies into every job the action starts (AQE stage jobs included):

* ``perfbench.site`` — ``action@path:function:line`` of the innermost
  frame in ``trek_spark/`` or ``jobs/``;
* ``perfbench.stack`` — the enclosing program function names, innermost
  first, joined by ``<``.

``EventLog`` parses one application's log into jobs, stages, task run
times and SQL plans; ``extraction_metrics`` and ``curate_metrics`` group
the stages into the ``job.*``/``udf.*`` and ``ops.*`` metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

SITE = "perfbench.site"
STACK = "perfbench.stack"
PHASE = "perfbench.phase"


class CallSites:
    """Wraps DataFrame actions so each Spark job carries its call site, and
    records the driver-side wall time of every wrapped call per site."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.prefixes = tuple(os.path.join(self.root, d) + os.sep
                              for d in ("trek_spark", "jobs"))
        self.saved: list[tuple] = []
        # one (site, enclosing program function names, wall s) per call
        self.calls: list[tuple[str, tuple[str, ...], float]] = []

    def _site(self, action: str) -> tuple[str, list[str]]:
        frame = sys._getframe(2)
        names, site = [], None
        while frame is not None:
            path = frame.f_code.co_filename
            if path.startswith(self.prefixes):
                if site is None:
                    rel = os.path.relpath(path, self.root)
                    site = (f"{action}@{rel}:{frame.f_code.co_name}:"
                            f"{frame.f_lineno}")
                names.append(frame.f_code.co_name)
            frame = frame.f_back
        return site or f"{action}@perfbench", names

    def _wrap(self, cls, action: str) -> None:
        orig = getattr(cls, action)
        owner = self

        def tagged(obj, *a, **k):
            from pyspark import SparkContext
            sc = SparkContext._active_spark_context
            site, names = owner._site(action)
            prev = (sc.getLocalProperty(SITE), sc.getLocalProperty(STACK))
            sc.setLocalProperty(SITE, site)
            sc.setLocalProperty(STACK, "<".join(names))
            t0 = time.perf_counter()
            try:
                return orig(obj, *a, **k)
            finally:
                owner.calls.append((site, tuple(names),
                                    time.perf_counter() - t0))
                sc.setLocalProperty(SITE, prev[0])
                sc.setLocalProperty(STACK, prev[1])

        self.saved.append((cls, action, orig))
        setattr(cls, action, tagged)

    def install(self) -> "CallSites":
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        # the actions run_extraction_job and curate_job call
        for action in ("count", "collect", "localCheckpoint"):
            self._wrap(DataFrame, action)
        self._wrap(DataFrameWriter, "parquet")
        return self

    def uninstall(self) -> None:
        for cls, action, orig in reversed(self.saved):
            setattr(cls, action, orig)
        self.saved.clear()


def _num(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        try:
            return float(v)
        except (TypeError, ValueError):
            return 0


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, list[dict]] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line))

    @staticmethod
    def latest(events_dir: str) -> "EventLog":
        """The log of the most recently started application."""
        files = [p for p in glob.glob(os.path.join(events_dir, "*"))
                 if os.path.isfile(p) and not p.endswith(".inprogress")]
        if not files:
            raise FileNotFoundError(f"no event log under {events_dir}")
        return EventLog(max(files, key=os.path.getmtime))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {"tasks": [], "done": False})

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "props": e.get("Properties") or {},
                "start": e["Submission Time"], "end": None,
                "stages": list(e["Stage IDs"])}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            acc: dict[str, float] = {}
            for a in info.get("Accumulables", []):
                acc[a["Name"]] = acc.get(a["Name"], 0) + _num(a.get("Value"))
            st.update(done=True, submit=info["Submission Time"],
                      complete=info["Completion Time"], acc=acc,
                      acc_ids={a["ID"] for a in info.get("Accumulables", [])})
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self._stage(e["Stage ID"])["tasks"].append(
                m.get("Executor Run Time", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans.setdefault(e["executionId"], []).append(
                e["sparkPlanInfo"])

    def jobs_where(self, pred) -> list[dict]:
        return [j for _, j in sorted(self.jobs.items()) if pred(j["props"])]

    def done_stages(self, jobs: list[dict]) -> list[dict]:
        seen, out = set(), []
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st and st["done"] and sid not in seen:
                    seen.add(sid)
                    out.append(st)
        return out


def _stage_s(st: dict) -> float:
    return (st["complete"] - st["submit"]) / 1000.0


def _busy_s(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [start, end] intervals."""
    spans = sorted((j["start"], j["end"]) for j in jobs if j["end"])
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in spans:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def _sum(stages: list[dict], name: str) -> float:
    return sum(st["acc"].get(name, 0) for st in stages)


def _skew(tasks_ms: list[int]) -> float:
    if len(tasks_ms) < 2:
        return 1.0
    med = statistics.median(tasks_ms)
    return max(tasks_ms) / med if med > 0 else 1.0


_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def _common(stages: list[dict]) -> dict:
    return {
        "shuffle_write": _sum(stages,
                              "internal.metrics.shuffle.write.bytesWritten"),
        "shuffle_read": (
            _sum(stages, "internal.metrics.shuffle.read.localBytesRead")
            + _sum(stages, "internal.metrics.shuffle.read.remoteBytesRead")),
        "spill": _sum(stages, "internal.metrics.diskBytesSpilled"),
        "tasks": sum(len(st["tasks"]) for st in stages),
    }


def extraction_metrics(log: EventLog, phase: str, wall_s: float) -> dict:
    """``job.*`` and the event-log part of ``udf.*`` for the jobs of one
    ``run_extraction_job`` call (local property ``perfbench.phase`` equal
    to ``phase``).

    Stages are grouped by the call site that started their job: a write
    execution that ran the Python UDF splits into its map stages (scan and
    salt shuffle) and its extract stages (shuffle read, ``MapInPandas``,
    partitioned write); ``count`` sites are the per-wave readback; every
    other site (the metrics side-table write and the final failure sum) is
    metrics work."""
    jobs = log.jobs_where(lambda p: p.get(PHASE) == phase)
    by_exec: dict[str, list[dict]] = {}
    for j in jobs:
        by_exec.setdefault(j["props"].get("spark.sql.execution.id", ""),
                           []).append(j)
    m = {"map": 0.0, "extract": 0.0, "readback": 0.0, "metrics": 0.0}
    extract_stages: list[dict] = []
    for ex_jobs in by_exec.values():
        stages = log.done_stages(ex_jobs)
        site = ex_jobs[0]["props"].get(SITE, "")
        if any(_PY_SENT in st["acc"] for st in stages):
            for st in stages:
                if _PY_SENT in st["acc"]:
                    m["extract"] += _stage_s(st)
                    extract_stages.append(st)
                else:
                    m["map"] += _stage_s(st)
        elif site.startswith("count@"):
            m["readback"] += sum(_stage_s(st) for st in stages)
        else:
            m["metrics"] += sum(_stage_s(st) for st in stages)
    stages = log.done_stages(jobs)
    c = _common(stages)
    tasks = [t for st in extract_stages for t in st["tasks"]]
    return {
        "job.map_stage_s": m["map"],
        "job.extract_stage_s": m["extract"],
        "job.readback_s": m["readback"],
        "job.metrics_s": m["metrics"],
        "job.driver_s": max(0.0, wall_s - _busy_s(jobs)),
        "job.spark_jobs": len(jobs),
        "job.stages": len(stages),
        "job.tasks": c["tasks"],
        "shuffle.write_bytes": c["shuffle_write"],
        "shuffle.read_bytes": c["shuffle_read"],
        "spill.bytes": c["spill"],
        "task.skew": _skew(tasks),
        "task.max_s": max(tasks, default=0) / 1000.0,
        "write.bytes": _sum(stages, "internal.metrics.output.bytesWritten"),
        "udf.arrow_to_py_bytes": _sum(extract_stages, _PY_SENT),
        "udf.arrow_from_py_bytes": _sum(extract_stages, _PY_BACK),
        "_extract_task_s": sum(tasks) / 1000.0,
    }


# the curation job marks each stage boundary with an Observation named
# curate_<stage>; the gates whose work the ops.* metrics split out
CURATE_GATES = {"curate_repetition": "repetition",
                "curate_decontaminate": "contamination"}


def _op_accumulators(plans: list[dict]) -> dict[int, str]:
    """Accumulator id -> gate name for the plan nodes that compute a gate's
    flagged set: below the ``CollectMetrics curate_<gate>`` node, the first
    node with several children is the gate's anti-join, and every child but
    the first (the corpus path) is the gate's subtree."""
    out: dict[int, str] = {}

    def mark(node, label):
        for met in node.get("metrics", []):
            out.setdefault(met["accumulatorId"], label)
        for ch in node.get("children", []):
            mark(ch, label)

    def walk(node):
        text = node.get("simpleString", "")
        gate = next((g for k, g in CURATE_GATES.items()
                     if text.startswith(f"CollectMetrics {k},")), None)
        if gate is not None:
            join = node
            while len(join.get("children", [])) == 1:
                join = join["children"][0]
            for ch in join.get("children", [])[1:]:
                mark(ch, gate)
            for ch in join.get("children", [])[:1]:
                walk(ch)
            return
        for ch in node.get("children", []):
            walk(ch)

    for plan in plans:
        walk(plan)
    return out


def curate_metrics(log: EventLog, sites: CallSites) -> dict:
    """``ops.*`` for one ``curate_job.main`` call (one application).

    ``localCheckpoint`` jobs are grouped by their enclosing program
    function: ``_min_label_cc`` (connected components, one per round) and
    ``_cluster_edges`` (the n-gram jaccard pair list). The final write is
    one SQL execution; its stages are split between the repetition gate,
    the decontamination gate and the rest (scan, dedup anti-join, sample,
    write, readback) by the plan nodes whose metrics each stage updated."""
    jobs = log.jobs_where(lambda p: True)
    cc_jobs, jac_jobs, write_jobs = [], [], []
    for j in jobs:
        site, stack = j["props"].get(SITE, ""), j["props"].get(STACK, "")
        names = stack.split("<")
        if "_min_label_cc" in names:
            cc_jobs.append(j)
        elif "_cluster_edges" in names:
            jac_jobs.append(j)
        else:
            write_jobs.append(j)
    split = {"repetition": 0.0, "contamination": 0.0, "write": 0.0}
    for j in write_jobs:
        ex = _num(j["props"].get("spark.sql.execution.id", -1))
        accs = _op_accumulators(log.plans.get(ex, []))
        for st in log.done_stages([j]):
            hits = [accs[a] for a in st["acc_ids"] if a in accs]
            label = max(set(hits), key=hits.count) if hits else "write"
            split[label] += _stage_s(st)
    stages = log.done_stages(jobs)
    c = _common(stages)
    longest = max(stages, key=lambda st: sum(st["tasks"]), default=None)
    ckpt = [(names, wall) for site, names, wall in sites.calls
            if site.startswith("localCheckpoint@")]
    return {
        "ops.repetition_s": split["repetition"],
        "ops.ngram_jaccard_s": sum(_stage_s(s)
                                   for s in log.done_stages(jac_jobs)),
        "ops.cc_s": sum(_stage_s(s) for s in log.done_stages(cc_jobs)),
        "ops.cc_rounds": sum("_min_label_cc" in names for names, _ in ckpt),
        "ops.contamination_s": split["contamination"],
        "ops.checkpoint_s": sum(wall for _, wall in ckpt),
        "ops.write_s": split["write"],
        "ops.shuffle_bytes": c["shuffle_write"],
        "ops.spill_bytes": c["spill"],
        "ops.stages": len(stages),
        "ops.tasks": c["tasks"],
        "ops.task_skew": _skew(longest["tasks"]) if longest else 1.0,
    }
