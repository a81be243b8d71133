"""Spans around public calls, and layer metrics read back from Spark's
event log.

A :class:`Tracer` records one in-memory span (name, start, end, parent)
per call it wraps and sets a Spark job group named after the span, so that
every job the call launches can be attributed to it afterwards. Spans are
written out once, when the benchmark ends.

:func:`layer_metrics` reads the (uncompressed, unrolled) event log of the
traced session. Plan-metric accumulator ids from ``sparkPlanInfo`` (both
the initial ``SQLExecutionStart`` plan and every AQE re-plan) are mapped to
the accumulator updates carried by ``TaskEnd`` events, which gives
per-operator sums such as Python UDF time and Arrow bytes for each
``ArrowEvalPython`` node. UDF nodes are assigned to a layer by UDF name.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# UDF name -> layer. Names are the pandas_udf function names that appear in
# the physical plan (``ArrowEvalPython [parse_name_udf(...)]``).
UDF_LAYERS = {
    "parse_name_udf": "normalize",
    "standardize_udf": "normalize",
    "soundex_udf": "blocking",
    "component_scores_dict": "scoring",
    "component_scores": "scoring",
    "compute": "dedup_rerank",  # _pair_intersections_from_dict's mapInArrow body
}
PYTHON_NODES = ("ArrowEvalPython", "MapInArrow", "PythonMapInArrow", "MapInPandas")
JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
PASS_THROUGH = ("Sort", "AQEShuffleRead", "ShuffleQueryStage", "InputAdapter")


class Tracer:
    """Nested spans + Spark job groups. With ``enabled=False`` every
    ``span`` is a no-op, so the same workload code serves timed runs."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent,
                           "start": time.time(), "end": None})
        self._stack.append(idx)
        self.sc.setJobGroup(f"{idx}:{name}", name)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{top['id']}:{top['name']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def _walk(plan: dict, ancestors: tuple = ()):
    yield plan, ancestors
    for child in plan.get("children", []):
        yield from _walk(child, (*ancestors, plan))


def _feeds_join(ancestors: tuple) -> bool:
    """True when the nearest ancestor that is not a sort, a shuffle read or
    a stage wrapper is a join: the exchange is a pair-join input."""
    for a in reversed(ancestors):
        if a["nodeName"] not in PASS_THROUGH and not a["nodeName"].startswith(
            "WholeStageCodegen"
        ):
            return a["nodeName"] in JOIN_NODES
    return False


def _udf_name(simple: str) -> str | None:
    for udf in UDF_LAYERS:
        if f"{udf}(" in simple:
            return udf
    return None


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Parsed event log: jobs, stages, tasks and per-node metric sums."""

    def __init__(self, log_dir: str):
        self.accs: dict[int, tuple[str, str, str]] = {}  # acc id -> (node, layer, metric)
        self.acc_udf: dict[int, str] = {}
        self.join_input_accs: set[int] = set()
        self.stage_group: dict[int, str] = {}
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        job_start: dict[int, dict] = {}
        with open(_event_log_file(log_dir)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    self._add_plan(ev["sparkPlanInfo"])
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    self.stage_group[sid] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_start[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "start": ev["Submission Time"] / 1e3,
                    }
                elif kind == "SparkListenerJobEnd":
                    j = job_start.pop(ev["Job ID"], None)
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1e3
                        self.jobs.append(j)
                elif kind == "SparkListenerTaskEnd":
                    self._add_task(ev)

    def _add_plan(self, plan: dict) -> None:
        for node, ancestors in _walk(plan):
            name, simple = node["nodeName"], node.get("simpleString", "")
            udf = _udf_name(simple) if name.startswith(PYTHON_NODES) else None
            layer = UDF_LAYERS.get(udf)
            feeds_join = name == "Exchange" and _feeds_join(ancestors)
            for m in node.get("metrics", []):
                acc = m["accumulatorId"]
                self.accs[acc] = (name, layer or "", m["name"])
                if udf:
                    self.acc_udf[acc] = udf
                if feeds_join and m["name"] == "shuffle bytes written":
                    self.join_input_accs.add(acc)

    def _add_task(self, ev: dict) -> None:
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        node_updates = []
        for a in info.get("Accumulables", []):
            meta = self.accs.get(a.get("ID"))
            if meta is not None:
                node_updates.append((*meta, _num(a.get("Update")), a.get("ID")))
        sw = tm.get("Shuffle Write Metrics") or {}
        self.tasks.append({
            "stage": ev["Stage ID"],
            "start": info["Launch Time"] / 1e3,
            "end": info["Finish Time"] / 1e3,
            "run_s": tm.get("Executor Run Time", 0) / 1e3,
            "gc_s": tm.get("JVM GC Time", 0) / 1e3,
            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            "shuffle_w": sw.get("Shuffle Bytes Written", 0),
            "bytes_read": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
            "bytes_written": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
            "nodes": node_updates,
        })


def _group_span(group: str) -> int | None:
    head = group.split(":", 1)[0]
    return int(head) if head.isdigit() else None


def layer_metrics(log: EventLog, tracer: Tracer, root: int, cores: int,
                  num_ranges: int = 0) -> dict[str, float]:
    """Per-layer metrics for the spans under the span with id ``root``."""
    spans = tracer.spans
    root_span = spans[root]
    under: dict[int, str] = {}
    for s in spans:
        p, chain = s["id"], []
        while p is not None:
            chain.append(p)
            p = spans[p]["parent"]
        if root_span["id"] in chain:
            under[s["id"]] = s["name"]

    def span_of(group: str) -> str | None:
        sid = _group_span(group)
        return under.get(sid) if sid is not None else None

    tasks = [t for t in log.tasks if span_of(log.stage_group.get(t["stage"], "")) is not None]
    jobs = [j for j in log.jobs if span_of(j["group"]) is not None]
    jobs_in = defaultdict(int)
    for j in jobs:
        jobs_in[span_of(j["group"])] += 1

    node = defaultdict(float)
    udfs_run = set()
    stage_layers: dict[int, set] = defaultdict(set)
    stage_joins: set[int] = set()
    blocking_shuffle = 0.0
    clustering_spans = ("clustering.assign_clusters", "sink.write_clusters")
    lsh_spans = ("dedup.minhash_lsh_pairs", "sink.write_near_dups")
    # joins in these spans are not the linkage's pair join
    not_blocking = (*clustering_spans, *lsh_spans, "dedup.shingle_jaccard_rerank")

    def stage_span(stage: int) -> str | None:
        return span_of(log.stage_group.get(stage, ""))

    for t in tasks:
        blocking = stage_span(t["stage"]) not in not_blocking
        for name, layer, metric, upd, acc in t["nodes"]:
            node[(layer, metric)] += upd
            if acc in log.acc_udf:
                udfs_run.add(log.acc_udf[acc])
            if layer:
                stage_layers[t["stage"]].add(layer)
            if name in JOIN_NODES and blocking:
                stage_joins.add(t["stage"])
            if acc in log.join_input_accs and blocking:
                blocking_shuffle += upd

    def py(layer: str, metric: str) -> float:
        return node[(layer, metric)]

    def python_s(layer: str) -> float:
        # Arrow UDF nodes report their Python compute as "time to run
        # Python workers" (a millisecond timing)
        return py(layer, "time to run Python workers") / 1e3

    wall = root_span["end"] - root_span["start"]
    busy = sorted((t["start"], t["end"]) for t in tasks)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in busy:
        s, e = max(s, root_span["start"]), min(e, root_span["end"])
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
    run_s = sum(t["run_s"] for t in tasks)

    def stage_task_s(pred) -> float:
        return sum(t["run_s"] for t in tasks if pred(t["stage"]))

    return {
        "readers.scan_s": tracer_sum(spans, under, "readers.read_table")
        + py("", "scan time") / 1e3,
        "readers.bytes_read": float(sum(t["bytes_read"] for t in tasks)),
        "readers.jobs": float(jobs_in["readers.read_table"]),
        "normalize.python_s": python_s("normalize"),
        "normalize.arrow_bytes_sent": py("normalize", "data sent to Python workers"),
        "normalize.arrow_bytes_returned": py("normalize", "data returned from Python workers"),
        "linkage.plan_build_s": tracer_sum(spans, under, "linkage.dedup_table"),
        "linkage.plan_build_jobs": float(jobs_in["linkage.dedup_table"]),
        "linkage.dict_path": 1.0 if "component_scores_dict" in udfs_run else 0.0,
        "blocking.key_python_s": python_s("blocking"),
        "blocking.shuffle_bytes": blocking_shuffle,
        # task time of the pair-join stages, the Python UDFs fused into
        # them (scoring) included: Python time overlaps the JVM task time,
        # so it cannot be taken out
        "blocking.join_task_s": stage_task_s(lambda s: s in stage_joins),
        "scoring.python_s": python_s("scoring"),
        "scoring.arrow_bytes_sent": py("scoring", "data sent to Python workers"),
        "scoring.arrow_bytes_returned": py("scoring", "data returned from Python workers"),
        "scoring.udf_rows": py("scoring", "number of output rows"),
        "clustering.call_s": sum(tracer_sum(spans, under, n) for n in clustering_spans),
        "clustering.jobs": float(sum(jobs_in[n] for n in clustering_spans)),
        "checkpoint.run_s": tracer_sum(spans, under, "checkpoint.run"),
        "checkpoint.jobs_per_range": jobs_in["checkpoint.run"] / num_ranges
        if num_ranges else 0.0,
        "checkpoint.resume_s": tracer_sum(spans, under, "checkpoint.resume"),
        "checkpoint.resume_jobs": float(jobs_in["checkpoint.resume"]),
        "checkpoint.bytes_written": float(sum(
            t["bytes_written"] for t in tasks if stage_span(t["stage"]) == "checkpoint.run")),
        # MinHash signatures and the band join; a stage that also runs the
        # rerank kernel counts as rerank
        "dedup.lsh_task_s": stage_task_s(
            lambda s: stage_span(s) in lsh_spans and "dedup_rerank" not in stage_layers[s]),
        # the rerank's eager shingle-dictionary jobs plus its kernel's stages
        "dedup.rerank_task_s": stage_task_s(
            lambda s: "dedup_rerank" in stage_layers[s]
            or stage_span(s) == "dedup.shingle_jaccard_rerank"),
        "dedup.rerank_python_s": python_s("dedup_rerank"),
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(len(tasks)),
        "spark.core_util": run_s / (wall * cores) if wall else 0.0,
        "spark.driver_only_s": wall - covered,
        "spark.shuffle_bytes": float(sum(t["shuffle_w"] for t in tasks)),
        "spark.spill_bytes": float(sum(t["spill"] for t in tasks)),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "trace.wall_s": wall,
    }


def tracer_sum(spans: list[dict], under: dict[int, str], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["id"] in under and s["name"] == name)
