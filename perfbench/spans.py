"""Span tracing from outside the package, and a stdlib-only event-log fold.

Spans come from wrappers installed around public functions of
``osmquadtree_spark``; no package source is edited. A wrapper patches the
name where the caller looks it up (``pipeline.write_tile_sorted`` is bound
into ``pipeline`` at import, ``compute_groups`` is imported from
``operators.sortblocks`` inside ``stage_groups``), and sets the SparkContext
local property :data:`SPAN_PROP` to its span id for the duration of the call,
so every Spark job launched inside the span is tagged with its innermost
span.

:func:`fold` reads the session's uncompressed, non-rolling event log with
``json`` only and attributes job, stage, task and SQL metrics to spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"

# SQL plan nodes whose "number of output rows" counts rows that crossed the
# Arrow boundary into a Python worker
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "PythonMapInArrow")
PY_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


class Span:
    __slots__ = ("id", "parent", "name", "layer", "t0", "t1", "children")

    def __init__(self, sid, parent, name, layer, t0):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.t0, self.t1 = t0, None
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def self_time(self) -> float:
        """Duration minus the part of it covered by child spans (children
        of one span run sequentially on the driver thread)."""
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    """In-memory span tree; spans nest by call order on the driver thread."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []
        self.observations: list = []

    def begin(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name, layer, time.time())
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self.stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sp.id))
        return sp

    def end(self, sp: Span) -> None:
        sp.t1 = time.time()
        popped = self.stack.pop()
        if popped is not sp:
            raise RuntimeError(f"span {sp.name} closed out of order")
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(self.stack[-1].id) if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.begin(name, layer)
        try:
            yield sp
        finally:
            self.end(sp)

    def _patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(current)``; the attribute exactly
        as stored (a classmethod, say) comes back on uninstall."""
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, make(getattr(owner, attr)))

    def wrap(self, owner, attr: str, name: str, layer: str, on_result=None) -> None:
        """Run ``owner.attr`` inside a span; ``on_result(tracer, result)``
        may record counts from the return value."""

        def make(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with self.span(name, layer):
                    out = fn(*a, **kw)
                if on_result is not None:
                    on_result(self, out)
                return out

            return wrapper

        self._patch(owner, attr, make)

    def count_calls(self, owner, attr: str, counter: str) -> None:
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                self.counters[counter] += 1
                return fn(*a, **kw)

            return wrapper

        self._patch(owner, attr, make)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def install(tracer: Tracer) -> None:
    """Wrap the public functions the benchmark drives and the ones they
    call, each patched where its caller looks it up."""
    from osmquadtree_spark import curation, metrics, pipeline
    from osmquadtree_spark.operators import components, dedup, extract, sortblocks, update
    from osmquadtree_spark.plans import qttree

    w = tracer.wrap
    w(pipeline, "run_image_tiling", "pipeline.run_image_tiling", "pipeline")
    for st in ("stage_qts", "stage_groups", "stage_tiles"):
        w(pipeline, st, f"pipeline.{st}", "pipeline")
    w(pipeline, "write_tile_sorted", "sortblocks.write_tile_sorted", "sortblocks")
    w(sortblocks, "compute_groups", "sortblocks.compute_groups", "sortblocks")
    w(qttree.QtTreeArr, "build", "qttree.build", "qttree")
    w(sortblocks, "tree_rollup_arr", "qttree.build", "qttree")
    w(sortblocks, "find_groups", "qttree.find_groups", "qttree")

    def count_groups(tr, table):
        tr.counters["qttree.groups"] += len(table[0])

    w(sortblocks, "group_table", "qttree.group_table", "qttree", on_result=count_groups)

    def count_kept(tr, kept):
        tr.counters["extract.tiles_kept"] += len(kept)

    w(extract, "prune_tiles", "extract.prune_tiles", "extract", on_result=count_kept)
    w(update, "change_allocs", "update.change_allocs", "update")
    w(update, "find_change_tiles", "update.find_change_tiles", "update")

    w(curation, "run_curation", "curation.run_curation", "curation")
    for st in ("quality", "dedup", "decon", "weights", "shards"):
        w(curation, f"stage_{st}", f"curation.stage_{st}", "curation")
    def count_errors(tr, result):
        tr.counters["metrics.commit_errors"] += len(result.get("errors", {}))

    w(metrics, "commit_pending", "metrics.commit_pending", "metrics", on_result=count_errors)
    tracer.count_calls(components, "release_stage_checkpoint", "cache.checkpoint_releases")

    # kept-pair count: observed on the pair frame the dedup stage consumes
    # (adds one CollectMetrics node to the traced plan, nothing else)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def observed(fn):
        @functools.wraps(fn)
        def observed_pairs(*a, **kw):
            obs = Observation()
            tracer.observations.append(obs)
            return fn(*a, **kw).observe(obs, F.count(F.lit(1)).alias("pairs"))

        return observed_pairs

    tracer._patch(dedup, "minhash_lsh_pairs", observed)


# -- event-log fold ---------------------------------------------------------------


def _walk_plan(node, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m["metricType"])
    for c in node.get("children", []):
        _walk_plan(c, out)


def _scale(mtype: str, v: float) -> float:
    if mtype == "timing":
        return v / 1e3
    if mtype == "nsTiming":
        return v / 1e9
    return v


def fold(path: str) -> dict:
    """Fold one event log into per-span Spark metrics.

    Returns ``{"jobs": [...], "spans": {span_id|None: totals}}`` where each
    job is ``(span_id, submit_s, end_s)`` and totals hold jobs, stages,
    tasks, executor/GC seconds, shuffle, spill, IO, Python-worker and
    written-file counts, plus per-stage task durations for skew."""
    accs: dict[int, tuple] = {}
    job_span: dict[int, str | None] = {}
    job_t: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    first_exec: dict = {}
    readback_job: set[int] = set()
    stage_tasks: dict[int, list] = defaultdict(list)
    tot: dict = defaultdict(lambda: defaultdict(float))
    task_accum: list[tuple[str | None, int, float]] = []
    driver_accum: list[tuple[int, int, float]] = []
    exec_jobs: dict[int, list] = defaultdict(list)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"].rsplit(".", 1)[-1]
            if ev in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], accs)
            elif ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                job_span[jid] = props.get(SPAN_PROP)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_jobs[int(ex)].append(jid)
                    # jobs of any SQL execution after a span's first one
                    # read back what that span already wrote or computed
                    if first_exec.setdefault(job_span[jid], int(ex)) != int(ex):
                        readback_job.add(jid)
                job_t[jid] = [e["Submission Time"] / 1e3, None]
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                job_t[e["Job ID"]][1] = e["Completion Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                jid = stage_job.get(sid)
                t = tot[job_span.get(jid)]
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                t["tasks"] += 1
                stage_tasks[sid].append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
                t["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                t["spill_disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
                t["peak_execution_memory_bytes"] = max(
                    t["peak_execution_memory_bytes"], tm.get("Peak Execution Memory", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                t["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                t["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                im = tm.get("Input Metrics") or {}
                t["bytes_read"] += im.get("Bytes Read", 0)
                t["records_read"] += im.get("Records Read", 0)
                if jid in readback_job:
                    t["readback_bytes_read"] += im.get("Bytes Read", 0)
                # SQL metric increments of this task (stage-level values
                # accumulate across every stage a plan node runs in)
                for a in ti.get("Accumulables", []):
                    if a.get("Metadata") == "sql" and "Update" in a:
                        task_accum.append((job_span.get(jid), a["ID"], float(a["Update"])))
                om = tm.get("Output Metrics") or {}
                t["bytes_written"] += om.get("Bytes Written", 0)
                t["records_written"] += om.get("Records Written", 0)
            elif ev == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                tot[job_span.get(stage_job.get(sid))]["stages"] += 1
            elif ev == "SparkListenerDriverAccumUpdates":
                for aid, v in e["accumUpdates"]:
                    driver_accum.append((e["executionId"], aid, v))

    for jid, span in job_span.items():
        tot[span]["jobs"] += 1
    for span, aid, v in task_accum:
        if aid not in accs:
            continue
        node, name, mtype = accs[aid]
        t = tot[span]
        if name in PY_METRICS:
            t[PY_METRICS[name]] += _scale(mtype, v)
        elif name == "number of output rows" and node.startswith(PYTHON_NODES):
            t["python_rows"] += v
    for ex, aid, v in driver_accum:
        if aid in accs and accs[aid][1] == "number of written files" and exec_jobs.get(ex):
            tot[job_span.get(exec_jobs[ex][0])]["files_written"] += v
    for sid, durs in stage_tasks.items():
        span = job_span.get(stage_job.get(sid))
        t = tot[span]
        total = sum(durs)
        if total > t["_longest_stage_s"]:
            t["_longest_stage_s"] = total
            med = statistics.median(durs)
            t["task_skew"] = max(durs) / med if med > 0 else 1.0
    jobs = [(job_span[j], job_t[j][0], job_t[j][1]) for j in job_span if job_t[j][1] is not None]
    return {"jobs": jobs, "spans": {k: dict(v) for k, v in tot.items()}}


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
