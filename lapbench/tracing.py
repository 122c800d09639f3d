"""Per-layer tracing from outside the library.

A traced rep wraps the public functions the uploader's entry points call
(module attributes and class methods, restored after the rep), records one
span per call, and tags the Spark jobs each span triggers with a job group
named after the span. After the session stops, the Spark event log is read
offline to attribute jobs, stages, shuffle bytes, output bytes and task time
to those spans. Layer names follow the package's modules.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time

from procstat import files, written_bytes

from linz_bde_uploader_spark.meta.store import MetaStore
from linz_bde_uploader_spark.plans import discovery
from linz_bde_uploader_spark.plans import uploader as uploader_mod
from linz_bde_uploader_spark.sinks import target as target_mod
from linz_bde_uploader_spark.sinks.target import (
    DatasetManifest,
    DatasetTransaction,
    ParquetTarget,
)

GROUP = "spark.jobGroup.id"
STAGE_SPANS = ("sinks.target.stage_replace", "sinks.target.stage_incremental",
               "sinks.target.stage_full_incremental")

#: (owner, attribute, span name): every call the traced layers make through
#: these names is recorded
WRAPPED = [
    (uploader_mod, "read_crs", "sources.crs.read_crs"),
    (uploader_mod, "clean_text", "operators.clean.clean_text"),
    (uploader_mod, "negotiate_columns", "operators.negotiate.negotiate_columns"),
    (discovery, "list_datasets", "plans.discovery"),
    (discovery, "pending_level0", "plans.discovery"),
    (discovery, "pending_level5", "plans.discovery"),
    (target_mod, "classify_incremental_changes", "operators.diff.classify"),
    (target_mod, "full_table_diff", "operators.diff.full_table_diff"),
    (target_mod, "apply_changes", "operators.diff.apply_changes"),
    (target_mod, "merge_stats", "operators.diff.merge_stats"),
    (ParquetTarget, "stage_replace", "sinks.target.stage_replace"),
    (ParquetTarget, "stage_incremental", "sinks.target.stage_incremental"),
    (ParquetTarget, "stage_full_incremental", "sinks.target.stage_full_incremental"),
    (DatasetTransaction, "commit", "sinks.target.commit"),
    (DatasetManifest, "commit", "sinks.target.commit"),
] + [(MetaStore, m, "meta.store") for m in (
    "create_upload", "finish_upload", "register_table", "acquire_table_lock",
    "table_status", "record_load")]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.rep = None
        self._saved = []

    # -- spans ---------------------------------------------------------------

    def _group(self, span: dict | None) -> str | None:
        return None if span is None else f"lap{self.rep}:{span['id']}"

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else None
            span = {"id": len(tracer.spans), "name": name, "rep": tracer.rep,
                    "parent": parent["id"] if parent else None}
            if name in STAGE_SPANS:
                span["current"] = _current_path(args[0])
            if name == "meta.store":
                before = files(args[0].root)
            tracer.spans.append(span)
            tracer.stack.append(span)
            tracer.sc.setLocalProperty(GROUP, tracer._group(span))
            span["start"] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer.stack.pop()
                tracer.sc.setLocalProperty(GROUP, tracer._group(parent) if parent
                                           else f"lap{tracer.rep}:root")
                if name == "meta.store":
                    span["bytes"] = written_bytes(before, files(args[0].root))

        traced.__wrapped__ = fn
        return traced

    def begin(self, rep: int) -> None:
        self.rep = rep
        for owner, attr, name in WRAPPED:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))
        self.sc.setLocalProperty(GROUP, f"lap{rep}:root")

    def end(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        self.sc.setLocalProperty(GROUP, None)
        self.rep = None

    # -- results -------------------------------------------------------------

    def finish(self, spec: dict, reps: list[dict]) -> tuple[dict, list[dict]]:
        """Per-layer metrics (the median over traced reps of each rep's
        value) and each traced rep's self-time sums. Call after the Spark
        session has stopped."""
        with open(spec["spans"], "w") as fh:
            json.dump(self.spans, fh)
        log = EventLog(os.path.join(spec["work"], "eventlog"))
        traced = [r for r in reps if r["traced"]]
        untraced = [r for r in reps if not r["warmup"] and not r["traced"]]
        per_rep = [self._rep_metrics(r, spec, log) for r in traced]
        out = {}
        for name, unit in METRICS:
            if name == "tracing_overhead_s":
                v = (statistics.median(r["wall_s"] for r in traced)
                     - statistics.median(r["wall_s"] for r in untraced))
            else:
                v = statistics.median(m[name] for m in per_rep)
            out[name] = {"value": v, "unit": unit}
        return out, [m["selfcheck"] for m in per_rep]

    def _rep_metrics(self, rep: dict, spec: dict, log: "EventLog") -> dict:
        i = rep["rep"]
        wall = rep["wall_s"]
        spans = [s for s in self.spans if s["rep"] == i]
        by_id = {s["id"]: s for s in spans}
        children: dict = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)

        def dur(s):
            return s["end"] - s["start"]

        def outermost(name):
            """Spans of ``name`` not nested in another span of the same name."""
            out = []
            for s in spans:
                if s["name"] != name:
                    continue
                p = by_id.get(s["parent"])
                while p is not None and p["name"] != name:
                    p = by_id.get(p["parent"])
                if p is None:
                    out.append(s)
            return out

        def total(name):
            return sum(dur(s) for s in outermost(name))

        def self_time(s):
            return dur(s) - _covered([(c["start"], c["end"]) for c in children.get(s["id"], [])])

        root_self = wall - _covered([(s["start"], s["end"]) for s in children.get(None, [])])
        self_by_layer: dict[str, float] = {}
        for s in spans:
            self_by_layer[s["name"]] = self_by_layer.get(s["name"], 0.0) + self_time(s)

        def under(s, names):
            while s is not None:
                if s["name"] in names:
                    return True
                s = by_id.get(s["parent"])
            return False

        def jobs_of(pred):
            return [j for j in log.jobs if j["rep"] == i and pred(j)]

        def span_of(j):
            return by_id.get(j["span"])

        applies = [s for s in spans if s["name"] in STAGE_SPANS]
        n_apply = max(1, len(applies))
        apply_jobs = jobs_of(lambda j: j["span"] != "root" and under(span_of(j), STAGE_SPANS))
        apply_stages = [st for j in apply_jobs for st in log.stages_of(j)]
        rep_jobs = jobs_of(lambda j: True)
        rep_stages = [st for j in rep_jobs for st in log.stages_of(j)]
        crs_files = spec["crs_files"]
        text_scans = sum(log.plan_scans(rep_jobs, "text", f) for f in crs_files)
        current_scans = sum(
            log.plan_scans([j for j in apply_jobs if _within(span_of(j), s, by_id)],
                           "parquet", s["current"])
            for s in applies if s["current"])
        meta = outermost("meta.store")
        m = {
            "plans.uploader.self_s": root_self,
            "plans.uploader.jobs": len(jobs_of(lambda j: j["span"] == "root")),
            "plans.discovery.wall_s": total("plans.discovery"),
            "sources.crs.read_crs.wall_s": total("sources.crs.read_crs"),
            "sources.crs.read_crs.jobs": len(jobs_of(
                lambda j: j["span"] != "root" and under(span_of(j), {"sources.crs.read_crs"}))),
            "sources.crs.scans_per_file": text_scans / max(1, len(crs_files)),
            "sources.crs.read_amp": sum(st["input_b"] for st in rep_stages if st["text_scan"])
            / spec["crs_bytes"],
            "operators.clean.clean_text.plan_s": total("operators.clean.clean_text"),
            "operators.clean.clean_text.calls": len(outermost("operators.clean.clean_text")),
            "operators.negotiate.negotiate_columns.plan_s":
                total("operators.negotiate.negotiate_columns"),
            "operators.diff.classify.plan_s": total("operators.diff.classify"),
            "operators.diff.full_table_diff.plan_s": total("operators.diff.full_table_diff"),
            "operators.diff.apply_changes.plan_s": total("operators.diff.apply_changes"),
            "operators.diff.merge_stats.wall_s": total("operators.diff.merge_stats"),
            "operators.diff.merge_stats.jobs": len(jobs_of(
                lambda j: j["span"] != "root"
                and under(span_of(j), {"operators.diff.merge_stats"}))),
            "sinks.target.stage_replace.wall_s": total("sinks.target.stage_replace"),
            "sinks.target.stage_incremental.wall_s": total("sinks.target.stage_incremental"),
            "sinks.target.stage_full_incremental.wall_s":
                total("sinks.target.stage_full_incremental"),
            "sinks.target.jobs_per_apply": len(apply_jobs) / n_apply,
            "sinks.target.stages_per_apply": len(apply_stages) / n_apply,
            "sinks.target.current_scans_per_apply": current_scans / n_apply,
            "sinks.target.shuffle_write_bytes":
                sum(st["shuffle_write_b"] for st in apply_stages) / n_apply,
            "sinks.target.output_bytes": sum(st["output_b"] for st in apply_stages) / n_apply,
            "sinks.target.task_busy_s": sum(st["busy_s"] for st in apply_stages) / n_apply,
            "sinks.target.commit_s": total("sinks.target.commit"),
            "meta.store.wall_s": sum(dur(s) for s in meta),
            "meta.store.calls": len(meta),
            "meta.store.bytes_written": sum(s["bytes"] for s in meta),
            "session.jvm_gc_s": rep["gc_s"],
            "session.busy_cores": sum(st["busy_s"] for st in rep_stages) / wall,
        }
        m["selfcheck"] = {"rep": i, "wall_s": wall,
                          "self_sum_s": root_self + sum(self_by_layer.values()),
                          "self_s": self_by_layer}
        return m


def _current_path(target: ParquetTarget) -> str | None:
    v = target.current_version()
    return None if v is None else os.path.join(os.path.abspath(target.path), v)


def _within(s, ancestor, by_id) -> bool:
    while s is not None:
        if s is ancestor:
            return True
        s = by_id.get(s["parent"])
    return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


_SCAN = re.compile(r"^\(\d+\) Scan (\w+)", re.M)


class EventLog:
    """The Spark event log of one session, reduced to what the layer
    metrics need."""

    def __init__(self, directory: str):
        paths = [p for p in glob.glob(os.path.join(directory, "*"))
                 if not p.endswith(".inprogress")]
        if len(paths) != 1:
            raise RuntimeError(f"expected one finished event log in {directory}: {paths}")
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, str] = {}
        with open(paths[0]) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get(GROUP) or ""
            m = re.fullmatch(r"lap(\d+):(\w+)", group)
            if m is None:
                return
            span = m.group(2)
            self.jobs.append({
                "rep": int(m.group(1)), "span": span if span == "root" else int(span),
                "stage_ids": e["Stage IDs"],
                "execution": int(props.get("spark.sql.execution.id", -1)),
            })
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = [json.loads(r["Scope"])["name"] for r in info.get("RDD Info", [])
                      if r.get("Scope")]
            st = self.stages.setdefault(info["Stage ID"], _empty_stage())
            st["done"] = True
            st["text_scan"] = any(s.startswith("Scan text") for s in scopes)
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], _empty_stage())
            tm = e.get("Task Metrics") or {}
            st["busy_s"] += tm.get("Executor Run Time", 0) / 1000
            st["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["output_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            st["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self.plans[e["executionId"]] = e["physicalPlanDescription"]

    def stages_of(self, job: dict) -> list[dict]:
        return [self.stages[s] for s in job["stage_ids"]
                if s in self.stages and self.stages[s]["done"]]

    def plan_scans(self, jobs: list[dict], fmt: str, path: str) -> int:
        """Scan nodes of format ``fmt`` over ``path`` in the final plans of
        the SQL executions ``jobs`` ran."""
        n = 0
        for ex in {j["execution"] for j in jobs if j["execution"] >= 0}:
            for block in self.plans.get(ex, "").split("\n\n"):
                m = _SCAN.match(block.strip())
                if m and m.group(1) == fmt and path in block:
                    n += 1
        return n


def _empty_stage() -> dict:
    return {"done": False, "text_scan": False, "busy_s": 0.0, "input_b": 0,
            "output_b": 0, "shuffle_write_b": 0}


#: the per-layer metrics a traced run reports, with their units
METRICS = [
    ("plans.uploader.self_s", "s"), ("plans.uploader.jobs", "count"),
    ("plans.discovery.wall_s", "s"),
    ("sources.crs.read_crs.wall_s", "s"), ("sources.crs.read_crs.jobs", "count"),
    ("sources.crs.scans_per_file", "scans/file"), ("sources.crs.read_amp", "B/B"),
    ("operators.clean.clean_text.plan_s", "s"), ("operators.clean.clean_text.calls", "count"),
    ("operators.negotiate.negotiate_columns.plan_s", "s"),
    ("operators.diff.classify.plan_s", "s"), ("operators.diff.full_table_diff.plan_s", "s"),
    ("operators.diff.apply_changes.plan_s", "s"),
    ("operators.diff.merge_stats.wall_s", "s"), ("operators.diff.merge_stats.jobs", "count"),
    ("sinks.target.stage_replace.wall_s", "s"), ("sinks.target.stage_incremental.wall_s", "s"),
    ("sinks.target.stage_full_incremental.wall_s", "s"),
    ("sinks.target.jobs_per_apply", "count"), ("sinks.target.stages_per_apply", "count"),
    ("sinks.target.current_scans_per_apply", "scans"),
    ("sinks.target.shuffle_write_bytes", "B/apply"), ("sinks.target.output_bytes", "B/apply"),
    ("sinks.target.task_busy_s", "s/apply"), ("sinks.target.commit_s", "s"),
    ("meta.store.wall_s", "s"), ("meta.store.calls", "count"),
    ("meta.store.bytes_written", "B"),
    ("session.jvm_gc_s", "s"), ("session.busy_cores", "cores"),
    ("tracing_overhead_s", "s"),
]
