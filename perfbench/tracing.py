"""Traced pass: spans around the calls into each layer, recorded from the
benchmark's side, plus Spark's own counters read from the UI REST API.

A span is (id, name, parent, run, start, end).  Spans stay in memory and
are written out when the run ends.  A span's self time is its duration
minus the time its direct children cover.  Every Spark job submitted
while a span is innermost carries ``perfbench-span:<id>`` as its job
description, so job and stage counters are attributed to spans exactly.

Layers are named after the repo's modules:

  jobs        dachshund_spark.jobs.main
  operators   the operator entry points the workloads call
  superstep   plans.superstep.{iterate, cut_lineage, release} and
              CheckpointManager.{save, load_latest}
  sources     sources.io.{read_table, write_table} and the edge build
  extraction  functions.extraction.extract
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import importlib
import json
import os
import pkgutil
import re
import statistics
import sys
import time
import urllib.request
import uuid

# (module, attribute, span name); attributes of a class are "Class.attr"
TARGETS = [
    ("dachshund_spark.jobs", "main", "jobs.main"),
    ("dachshund_spark.operators.pagerank", "pagerank", "operators.pagerank"),
    ("dachshund_spark.operators.components", "connected_components",
     "operators.connected_components"),
    ("dachshund_spark.operators.coreness", "coreness", "operators.coreness"),
    ("dachshund_spark.operators.coreness", "k_truss_edges",
     "operators.k_truss_edges"),
    ("dachshund_spark.operators.centrality", "betweenness",
     "operators.betweenness"),
    ("dachshund_spark.operators.centrality", "betweenness_superstep",
     "operators.betweenness_superstep"),
    ("dachshund_spark.plans.superstep", "iterate", "superstep.iterate"),
    ("dachshund_spark.plans.superstep", "cut_lineage",
     "superstep.cut_lineage"),
    ("dachshund_spark.plans.superstep", "release", "superstep.release"),
    ("dachshund_spark.plans.superstep", "CheckpointManager.save",
     "superstep.ckpt_save"),
    ("dachshund_spark.plans.superstep", "CheckpointManager.load_latest",
     "superstep.ckpt_load"),
    ("dachshund_spark.sources.io", "read_table", "sources.read_table"),
    ("dachshund_spark.sources.io", "write_table", "sources.write_table"),
    ("dachshund_spark.sources.pages", "edges_from_extracted",
     "sources.edge_build"),
    ("dachshund_spark.functions.extraction", "extract",
     "extraction.extract"),
]

SPAN_DESC = "perfbench-span:"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.supersteps: list[dict] = []  # iterate() results, by span
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _describe(self) -> None:
        self.sc.setJobDescription(
            f"{SPAN_DESC}{self.stack[-1]}" if self.stack else None)

    def _call(self, name: str, fn, args, kwargs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self._describe()
        try:
            out = fn(*args, **kwargs)
            if name == "superstep.iterate":
                self.supersteps.append({
                    "span": sid, "iterations": out.iterations,
                    "metrics": [m.__dict__ for m in out.metrics]})
            return out
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._describe()

    def root(self, name: str, call) -> None:
        """The benchmark's own call into a workload step."""
        self._call(name, call, (), {})

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer._call(name, fn, args, kwargs)

        return traced

    # -- rebinding ----------------------------------------------------------

    @contextlib.contextmanager
    def installed(self):
        """Replace every target by its traced wrapper: on its defining
        module or class, and in every loaded dachshund_spark module that
        bound the same function object at import time (operator modules
        do ``from ..plans.superstep import cut_lineage, release``).
        Modules importing inside a function body read the defining
        module's attribute at call time, which the first step covers."""
        import dachshund_spark

        for info in pkgutil.walk_packages(dachshund_spark.__path__,
                                          "dachshund_spark."):
            with contextlib.suppress(ImportError):
                importlib.import_module(info.name)
        try:
            for mod_name, attr, name in TARGETS:
                mod = sys.modules[mod_name]
                owner, leaf = mod, attr
                if "." in attr:
                    cls, leaf = attr.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, leaf)
                wrapper = self._wrap(orig, name)
                self._set(owner, leaf, wrapper)
                if owner is not mod:
                    continue
                for m_name, m in list(sys.modules.items()):
                    if not m_name.startswith("dachshund_spark") or m is mod:
                        continue
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._set(m, k, wrapper)
            yield self
        finally:
            for owner, leaf, orig in reversed(self._patched):
                setattr(owner, leaf, orig)
            self._patched.clear()

    def _set(self, owner, leaf, value) -> None:
        self._patched.append((owner, leaf, getattr(owner, leaf)))
        setattr(owner, leaf, value)

    # -- Spark's counters ---------------------------------------------------

    def report(self, sc) -> dict:
        """Spans plus the REST API's jobs, stage attempts and SQL
        executions of the application (the status store keeps them all:
        the benchmark's session raises the retained counts)."""
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _get(base + "/jobs")
        stages = _get(base + "/stages?details=false")
        sql = _get(base + "/sql?details=true&planDescription=false"
                   "&offset=0&length=1000000")
        keep = ("stageId", "attemptId", "status", "numTasks",
                "numFailedTasks", "numKilledTasks", "executorRunTime",
                "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
                "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
                "shuffleFetchWaitTime", "submissionTime", "completionTime")
        return {
            "run": self.run_id,
            "spans": self.spans,
            "supersteps": self.supersteps,
            "jobs": [{k: j.get(k) for k in
                      ("jobId", "jobGroup", "description", "stageIds",
                       "status", "submissionTime", "completionTime")}
                     for j in jobs],
            "stages": [{k: s.get(k) for k in keep} for s in stages],
            "sql": [_sql_summary(e) for e in sql],
        }


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


_PY_METRICS = {
    "time to start Python workers": "boot_s",
    "time to run Python workers": "total_s",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "received_b",
}
_JOINS = {"BroadcastHashJoin": "bhj", "ShuffledHashJoin": "shj",
          "SortMergeJoin": "smj"}


def _sql_summary(e: dict) -> dict:
    """Join-strategy counts and Python-worker metrics of one SQL
    execution's final (adaptive) plan."""
    out = {"jobIds": (e.get("successJobIds", []) + e.get("failedJobIds", [])
                      + e.get("runningJobIds", [])),
           "joins": {}, "python": {}}
    for node in e.get("nodes", []):
        name = node.get("nodeName", "")
        for prefix, key in _JOINS.items():
            if name.startswith(prefix):
                out["joins"][key] = out["joins"].get(key, 0) + 1
        kind = ("udf" if name.startswith("ArrowEvalPython") else
                "map" if name.startswith("MapInPandas") else None)
        if kind is None:
            continue
        acc = out["python"].setdefault(kind, {})
        for m in node.get("metrics", []):
            key = _PY_METRICS.get(m.get("name"))
            if key:
                acc[key] = acc.get(key, 0.0) + parse_metric(m.get("value"))
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(value: str | None) -> float:
    """A SQL metric's total from the UI string: either ``"1.2 s"`` or
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (...)"``.
    Times come back in seconds, sizes in bytes."""
    if not value:
        return 0.0
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------------------
# per-layer metrics of the traced pass
# ---------------------------------------------------------------------------

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_boot_s": "s",
    "jobs.extract_s": "s",
    "jobs.pagerank_s": "s",
    "jobs.cc_s": "s",
    "jobs.coreness_s": "s",
    "jobs.ktruss_s": "s",
    "operators.betweenness_s": "s",
    "operators.betweenness_superstep_s": "s",
    "jobs.self_s": "s",
    "operators.self_s": "s",
    "sources.read_mb": "MB",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "sources.self_s": "s",
    "extraction.pages_per_s": "1/s",
    "extraction.self_s": "s",
    "extraction.python_total_s": "s",
    "extraction.data_sent_mb": "MB",
    "extraction.data_received_mb": "MB",
    "kernels.python_total_s": "s",
    "kernels.data_sent_mb": "MB",
    "superstep.iterations": "count",
    "superstep.rounds": "count",
    "superstep.cuts": "count",
    "superstep.releases": "count",
    "superstep.cut_s": "s",
    "superstep.self_s": "s",
    "superstep.jobs_per_round": "count",
    "superstep.s_per_round": "s",
    "superstep.delta_ratio": "ratio",
    "superstep.ckpt_saves": "count",
    "superstep.ckpt_save_s": "s",
    "superstep.ckpt_mb": "MB",
    "superstep.edges_per_s": "1/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.driver_gap_s": "s",
    "spark.core_util": "ratio",
    "spark.join_bhj": "count",
    "spark.join_shj": "count",
    "spark.join_smj": "count",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "trace.self_sum_err": "ratio",
}

STEP_METRIC = {
    "jobs.extract": "jobs.extract_s",
    "jobs.pagerank": "jobs.pagerank_s",
    "jobs.cc": "jobs.cc_s",
    "jobs.coreness": "jobs.coreness_s",
    "jobs.ktruss": "jobs.ktruss_s",
    "operators.betweenness": "operators.betweenness_s",
    "operators.betweenness_superstep": "operators.betweenness_superstep_s",
}


def self_times(spans: list[dict]) -> dict[int, float]:
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def traced_pass(res: dict) -> dict:
    return next(p for p in res["passes"] if p["traced"])


def step_breakdown(res: dict) -> list[dict]:
    """Per traced step: wall, self time per layer (they partition the
    wall), the engine-busy time (union of its stage attempts' spans) and
    the driver gap (wall minus busy)."""
    tr = res["trace"]
    spans = tr["spans"]
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    stage_iv = {}
    for st in tr["stages"]:
        a, b = _ts(st["submissionTime"]), _ts(st["completionTime"])
        if st["status"] != "SKIPPED" and a and b:
            stage_iv.setdefault(st["stageId"], []).append((a, b))
    out = []
    for step in traced_pass(res)["steps"]:
        root = next(s for s in spans
                    if s["parent"] is None and s["name"] == step["name"])
        layers: dict[str, float] = {}
        for s in spans:
            r = s
            while r["parent"] is not None:
                r = by_id[r["parent"]]
            if r is root:
                layer = "benchmark" if s is root else s["name"].split(".")[0]
                layers[layer] = layers.get(layer, 0.0) + selfs[s["id"]]
        wall = root["end"] - root["start"]
        iv = [x for j in tr["jobs"] if j["jobGroup"] == step["group"]
              for sid in j["stageIds"] for x in stage_iv.get(sid, ())]
        iv = [(max(a, root["start"]), min(b, root["end"])) for a, b in iv]
        busy = _union_length([x for x in iv if x[1] > x[0]])
        out.append({"step": step["name"], "wall_s": wall,
                    "self_s": layers, "self_sum_s": sum(layers.values()),
                    "engine_busy_s": busy, "driver_gap_s": wall - busy})
    return out


def layer_metrics(workload: str, res: dict, untraced_job_s: float,
                  n_pages: int, n_edges: int) -> dict[str, tuple[float, str]]:
    """Every PER_LAYER metric for the traced pass; a metric whose layer
    the workload does not exercise reads 0.  ``untraced_job_s`` is the
    same run's untraced cold pass, the base of the tracing overhead."""
    tr = res["trace"]
    traced = traced_pass(res)
    groups = {s["group"] for s in traced["steps"]}
    spans = tr["spans"]
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    m = dict.fromkeys(PER_LAYER, 0.0)

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    def spans_named(name):
        return [s for s in spans if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    m["session.start_s"] = res["setup_s"]
    for e in tr["sql"]:
        m["session.worker_boot_s"] += sum(
            p.get("boot_s", 0.0) for p in e["python"].values())
    for step in traced["steps"]:
        if step["name"] in STEP_METRIC:
            m[STEP_METRIC[step["name"]]] = step["wall_s"]
    for s in spans:
        layer = s["name"].split(".")[0]
        key = f"{layer}.self_s"
        if s["parent"] is not None and key in m:
            m[key] += selfs[s["id"]]

    jobs = [j for j in tr["jobs"] if j["jobGroup"] in groups]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    attempts = [st for st in tr["stages"]
                if st["stageId"] in stage_ids and st["status"] != "SKIPPED"]

    def span_of(job):
        d = job.get("description") or ""
        return by_id.get(int(d[len(SPAN_DESC):])) if d.startswith(
            SPAN_DESC) else None

    def out_mb(span_name):
        ids = set()
        for j in jobs:
            s = span_of(j)
            if s is not None and (s["name"] == span_name or any(
                    a["name"] == span_name for a in ancestors(s))):
                ids.update(j["stageIds"])
        return sum(st["outputBytes"] or 0 for st in attempts
                   if st["stageId"] in ids) / 1e6

    m["sources.read_mb"] = sum(st["inputBytes"] or 0 for st in attempts) / 1e6
    m["sources.write_s"] = sum(dur(s) for s in
                               spans_named("sources.write_table"))
    m["sources.write_mb"] = out_mb("sources.write_table")

    sql = [e for e in tr["sql"] if job_ids.intersection(e["jobIds"])]
    for e in sql:
        for k, n in e["joins"].items():
            m[f"spark.join_{k}"] += n
        udf, mp = e["python"].get("udf", {}), e["python"].get("map", {})
        m["extraction.python_total_s"] += udf.get("total_s", 0.0)
        m["extraction.data_sent_mb"] += udf.get("sent_b", 0.0) / 1e6
        m["extraction.data_received_mb"] += udf.get("received_b", 0.0) / 1e6
        m["kernels.python_total_s"] += mp.get("total_s", 0.0)
        m["kernels.data_sent_mb"] += mp.get("sent_b", 0.0) / 1e6
    if m["jobs.extract_s"]:
        m["extraction.pages_per_s"] = n_pages / m["jobs.extract_s"]

    cuts = spans_named("superstep.cut_lineage")
    iterate_ids = {s["id"] for s in spans_named("superstep.iterate")}
    m["superstep.iterations"] = sum(x["iterations"] for x in tr["supersteps"])
    m["superstep.cuts"] = len(cuts)
    m["superstep.rounds"] = m["superstep.iterations"] + sum(
        1 for c in cuts
        if not any(a["id"] in iterate_ids for a in ancestors(c)))
    m["superstep.releases"] = len(spans_named("superstep.release"))
    m["superstep.cut_s"] = sum(selfs[s["id"]] for s in cuts)
    rows = sum(x["rows"] for it in tr["supersteps"] for x in it["metrics"])
    delta = sum(x["delta"] for it in tr["supersteps"] for x in it["metrics"])
    m["superstep.delta_ratio"] = delta / rows if rows else 0.0
    saves = spans_named("superstep.ckpt_save")
    m["superstep.ckpt_saves"] = len(saves)
    m["superstep.ckpt_save_s"] = sum(dur(s) for s in saves)
    m["superstep.ckpt_mb"] = out_mb("superstep.ckpt_save")
    for it in tr["supersteps"]:
        if any(a["name"] == "operators.pagerank"
               for a in ancestors(by_id[it["span"]])):
            secs = [x["seconds"] for x in it["metrics"]][1:]
            if secs:
                m["superstep.edges_per_s"] = n_edges / statistics.median(secs)

    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(attempts)
    m["spark.tasks"] = sum(st["numTasks"] for st in attempts)
    m["spark.task_retries"] = sum(
        (st["numFailedTasks"] or 0) + (st["numKilledTasks"] or 0)
        for st in attempts) + sum(1 for st in attempts if st["attemptId"])
    m["spark.executor_run_s"] = sum(st["executorRunTime"] or 0
                                    for st in attempts) / 1e3
    m["spark.executor_cpu_s"] = sum(st["executorCpuTime"] or 0
                                    for st in attempts) / 1e9
    m["spark.gc_s"] = sum(st["jvmGcTime"] or 0 for st in attempts) / 1e3
    m["spark.shuffle_read_mb"] = sum(st["shuffleReadBytes"] or 0
                                     for st in attempts) / 1e6
    m["spark.shuffle_write_mb"] = sum(st["shuffleWriteBytes"] or 0
                                      for st in attempts) / 1e6
    m["spark.spill_mb"] = sum(st["diskBytesSpilled"] or 0
                              for st in attempts) / 1e6
    m["spark.fetch_wait_s"] = sum(st["shuffleFetchWaitTime"] or 0
                                  for st in attempts) / 1e3
    parts = step_breakdown(res)
    m["spark.driver_gap_s"] = sum(p["driver_gap_s"] for p in parts)
    wall = sum(p["wall_s"] for p in parts)
    m["spark.core_util"] = m["spark.executor_run_s"] / (
        wall * len(os.sched_getaffinity(0))) if wall else 0.0
    m["superstep.jobs_per_round"] = (
        m["spark.jobs"] / m["superstep.rounds"] if m["superstep.rounds"]
        else 0.0)
    m["superstep.s_per_round"] = (
        wall / m["superstep.rounds"] if m["superstep.rounds"] else 0.0)

    m["trace.job_s"] = traced["job_s"]
    m["trace.overhead_s"] = traced["job_s"] - untraced_job_s
    m["trace.spans"] = len(spans)
    m["trace.self_sum_err"] = max(
        abs(p["self_sum_s"] - p["wall_s"]) / p["wall_s"] for p in parts)
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}


def write_trace(directory: str, workload: str, seed: int, res: dict,
                layers: dict) -> str:
    """Spans, the per-step breakdown and the per-layer table of one traced
    run, as one JSON file."""
    os.makedirs(directory, exist_ok=True)
    tr = res["trace"]
    path = os.path.join(directory, f"{workload}-s{seed}-{tr['run']}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "run": tr["run"],
                   "spans": tr["spans"], "steps": step_breakdown(res),
                   "layers": {k: {"value": v, "unit": u}
                              for k, (v, u) in layers.items()}}, f, indent=1)
    return path
