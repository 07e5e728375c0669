"""Spans around calls into the engine's layers, with Spark counters.

The benchmark wraps public engine calls at run time, from its own files;
the engine itself is not changed. Each span runs in its own Spark job
group, and when it ends the span reads its group's jobs and stages from
Spark's in-process status store (this works with the UI disabled):

    wall_s      wall time of the call
    driver_s    wall time not covered by any running stage of the span
    jobs, stages, tasks
    exec_run_s, exec_cpu_s        summed over the span's tasks
    input_bytes, shuffle_read_bytes, shuffle_write_bytes, spill_bytes

Counters are inclusive: a span's numbers cover its child spans. Spans stay
in memory and are written out once, when the run ends. With tracing off
no wrapper is installed and `Tracer.span` does nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from statistics import median

# spill_bytes is kept in the span file but not reported as a metric: at
# the benchmark's sizes nothing spills, so it would always read 0
_COUNTERS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
             "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes")
FIELDS = ("wall_s", "driver_s") + _COUNTERS[:-1]
UNITS = {"wall_s": "s", "driver_s": "s", "exec_run_s": "s",
         "exec_cpu_s": "s", "jobs": "count", "stages": "count",
         "tasks": "count", "input_bytes": "B", "shuffle_read_bytes": "B",
         "shuffle_write_bytes": "B"}
_BUILD_TABLES = ("documents", "postings", "term_stats")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: str | None = None  # id shared by the spans of one op
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "id": next(self._ids),
              "parent": parent["id"] if parent else None, "op": self.op,
              **attrs, **{c: 0 for c in _COUNTERS}, "_iv": []}
        group = f"perfbench-{sp['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall_s"] = time.perf_counter() - t0
            sp["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"perfbench-{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_group(sp, group)
            covered = _union_len(sp["_iv"], sp["start"], sp["end"])
            sp["driver_s"] = max(0.0, sp["wall_s"] - covered)
            if parent:
                for c in _COUNTERS:
                    parent[c] += sp[c]
                parent["_iv"].extend(sp["_iv"])
            self.spans.append(sp)

    def _read_group(self, sp: dict, group: str) -> None:
        jsc = self.sc._jsc.sc()  # noqa: SLF001 — the status store is JVM-only
        # the status store is fed by the listener bus asynchronously:
        # drain it so every job and stage of this span has landed
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            sp["jobs"] += 1
            for stage in info.stageIds:
                sp["stages"] += 1
                st = store.lastStageAttempt(stage)
                sp["tasks"] += st.numCompleteTasks()
                sp["exec_run_s"] += st.executorRunTime() / 1e3
                sp["exec_cpu_s"] += st.executorCpuTime() / 1e9
                sp["input_bytes"] += st.inputBytes()
                sp["shuffle_read_bytes"] += st.shuffleReadBytes()
                sp["shuffle_write_bytes"] += st.shuffleWriteBytes()
                sp["spill_bytes"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled())
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined():
                    end = (done.get().getTime() / 1e3 if done.isDefined()
                           else sp["end"])
                    sp["_iv"].append((sub.get().getTime() / 1e3, end))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({k: v for k, v in sp.items()
                                    if k != "_iv"}) + "\n")


def _union_len(intervals: list[tuple[float, float]], lo: float,
               hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _wrap(owner, attr: str, tracer: Tracer, name_of) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name_of(*args, **kwargs)):
            return fn(*args, **kwargs)
    setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the engine calls that run INSIDE the calls the benchmark makes
    itself: table writes (which split build_index into its documents /
    postings / term_stats phases), vocabulary lookups and query parsing.
    The benchmark opens the outer spans (build, append, compaction,
    Searcher construction, search) at its own call sites."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.plans import query

    def write_name(_io, _df, name, *a, **k):
        return (f"index_build.{name}" if name in _BUILD_TABLES
                else f"catalog.write.{name}")

    _wrap(TableIO, "write", tracer, write_name)
    _wrap(TableIO, "append_atomic", tracer,
          lambda _io, _df, name, *a, **k: f"catalog.append.{name}")
    _wrap(TableIO, "write_rows", tracer,
          lambda *a, **k: "catalog.write_rows")
    _wrap(query.Searcher, "lookup_terms", tracer,
          lambda *a, **k: "query.vocab.lookup")
    _wrap(query.Searcher, "expand", tracer,
          lambda *a, **k: "query.vocab.expand")
    _wrap(query, "parse_query", tracer, lambda *a, **k: "parser.parse")


def phase_metrics(spans: list[dict], prefix: str, fields=FIELDS) -> dict:
    """`prefix.field` → median per call of each field over `spans`."""
    if not spans:
        return {}
    return {f"{prefix}.{f}": (median([s[f] for s in spans]), UNITS[f])
            for f in fields}


def child_time_per(spans: list[dict], parent_name: str,
                   child_prefix: str) -> float | None:
    """Median over `parent_name` spans of the summed wall time of their
    descendant spans whose name starts with `child_prefix`."""
    by_id = {s["id"]: s for s in spans}
    totals: dict[int, float] = {s["id"]: 0.0 for s in spans
                                if s["name"] == parent_name}
    if not totals:
        return None
    for s in spans:
        if not s["name"].startswith(child_prefix):
            continue
        p = s["parent"]
        while p is not None and p not in totals:
            p = by_id[p]["parent"] if p in by_id else None
        if p is not None:
            totals[p] += s["wall_s"]
    return median(list(totals.values()))
