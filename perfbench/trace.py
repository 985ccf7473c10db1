"""Spans around the package's layers, installed from outside the package.

:meth:`Tracer.install` replaces each public function a layer exposes at
every module attribute that holds it (``plans.pipeline`` imports
``fetch_search_results`` by name, so the wrapper must sit there as well
as in ``sources.http_fetch``). Each call then records a span — name,
start, end, parent, run id — and:

- tags the Spark jobs it starts with ``setJobGroup`` so the status
  tracker can give each span its own jobs, stages and tasks;
- when the function returns DataFrames, persists and counts each one
  inside the span, so that layer's work runs there and not in whatever
  later action would have pulled it lazily; downstream layers then read
  the cached rows;
- after that action reads rows, shuffle bytes and spill from the
  executed plan.

Self time is a span's duration minus the union of its children's
intervals. The wrappers change where work runs, not what it computes:
the traced pass's output digest must equal the untraced one's.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

PKG = "dbd_datawarehouse_scraper_spark"

# (module, function, span name, materialize): True persists and counts
# the returned DataFrame inside the span; a tuple of names does it for
# each DataFrame of a returned tuple, in a child span of that name
LAYERS: list[tuple[str, str, str, bool | tuple[str, ...]]] = [
    ("sources.files", "csv_companies_source", "sources.files", True),
    ("functions.search_terms", "add_search_terms", "functions.search_terms", True),
    ("sources.http_fetch", "fetch_search_results", "sources.http_fetch.search", True),
    ("sources.http_fetch", "fetch_financial_pages", "sources.http_fetch.financial", True),
    ("operators.joins", "strategy_ranked_first_match", "operators.joins.exact", True),
    ("operators.joins", "similarity_fallback_join", "operators.joins.similarity", True),
    ("plans.pipeline", "scrape_pipeline", "plans.pipeline",
     ("plans.pipeline.extract", "plans.pipeline.not_found")),
    ("sources.sinks", "side_output_sink", "sources.sinks", False),
    ("sources.sinks", "fold_epoch_dirs", "sources.sinks.fold_epoch_dirs", False),
    ("plans.curation", "curate_documents", "plans.curation", True),
    ("operators.dedup", "exact_dedup", "operators.dedup.exact_dedup", True),
    ("operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs", True),
    ("operators.graph", "component_survivors", "operators.graph.component_survivors", True),
    ("streaming.near_dedup", "stream_near_dedup", "streaming.near_dedup", False),
    ("streaming.near_dedup", "near_dedup_epoch", "streaming.near_dedup.epoch", False),
    ("streaming._store", "validate_or_init_marker", "streaming._store", False),
    ("streaming._store", "validate_or_init_out_schema", "streaming._store", False),
    ("streaming._store", "committed_epochs_below", "streaming._store", False),
    ("streaming._store", "epochs_with_partition_data", "streaming._store", False),
]

# counted, not spanned: the tracked-persist lifecycle
CACHE_CALLS = ("tracked_persist", "release_caches", "release_since", "release_these")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)


def _plan_children(node, seen: Callable[[Any], bool] | None = None) -> list:
    """Children of a physical plan node, looking through adaptive
    execution and query stages to the plan that actually ran. A cached
    relation's filling plan is walked only when ``seen`` says it has not
    been walked before, so each cache fill counts once, in the first
    span whose plan reaches it."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "InMemoryTableScanExec":
        filled = node.relation().cacheBuilder().cachedPlan()
        return [] if seen is None or seen(filled) else [filled]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


# join-key columns that identify a candidate join: the similarity join's
# first-token block and the LSH band self-join's bucket
JOIN_MARKERS = ("_block", "_bucket")


def plan_metrics(plan, seen: Callable[[Any], bool]) -> dict[str, float]:
    """Shuffle-write bytes, spill bytes and exchanges summed over a plan
    tree, plus the output rows of the candidate joins (JOIN_MARKERS)."""
    out = {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "exchanges": 0.0}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            key, value = kv._1(), kv._2().value()
            if key == "dataSize" and cls == "ShuffleExchangeExec":
                out["shuffle_write_bytes"] += value
            elif key == "spillSize":
                out["spill_bytes"] += value
        if cls == "ShuffleExchangeExec":
            out["exchanges"] += 1
        if cls.endswith("JoinExec"):
            keys = str(node.leftKeys())
            for marker in JOIN_MARKERS:
                if marker in keys:
                    rows = node.metrics().get("numOutputRows")
                    if rows.isDefined():
                        out[f"join_rows{marker}"] = (
                            out.get(f"join_rows{marker}", 0) + rows.get().value()
                        )
        stack.extend(_plan_children(node, seen))
    return out


def _cached_plan(df: DataFrame):
    """The physical plan that filled ``df``'s cache."""
    node = df._jdf.queryExecution().executedPlan()
    while node.getClass().getSimpleName() != "InMemoryTableScanExec":
        kids = _plan_children(node)
        if not kids:
            return None
        node = kids[0]
    return node.relation().cacheBuilder().cachedPlan()


class Tracer:
    """Spans of one traced pass, kept in memory until the run ends."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {"persists": 0, "released": 0}
        self._local = threading.local()
        # spans also open on the streaming query's foreachBatch thread
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []
        self._pinned: list[DataFrame] = []
        self.outputs: dict[str, list[DataFrame]] = {}
        self._walked: set[int] = set()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1].id if stack else None
        with self._lock:
            span = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
            self.spans.append(span)
        stack.append(span)
        self.spark.sparkContext.setJobGroup(f"{self.run_id}/{span.id}", name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        sc = self.spark.sparkContext
        if stack:
            sc.setJobGroup(f"{self.run_id}/{stack[-1].id}", stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def materialize(self, span: Span, df: DataFrame) -> DataFrame:
        pinned = df.persist()
        self._pinned.append(pinned)
        self.outputs.setdefault(span.name, []).append(pinned)
        rows = pinned.count()
        span.counters["rows_out"] = span.counters.get("rows_out", 0) + rows
        plan = _cached_plan(pinned)
        if plan is not None and not self._seen(plan):
            for k, v in plan_metrics(plan, self._seen).items():
                span.counters[k] = span.counters.get(k, 0) + v
        return pinned

    def _materialize_each(self, out: tuple, names: tuple[str, ...]) -> tuple:
        done = []
        for df, name in zip(out, names):
            child = self.open(name)
            try:
                done.append(self.materialize(child, df))
            finally:
                self.close(child)
        return tuple(done)

    def _seen(self, jplan) -> bool:
        """True if this JVM plan object was walked before; marks it."""
        key = self.spark._jvm.System.identityHashCode(jplan)
        if key in self._walked:
            return True
        self._walked.add(key)
        return False

    def _wrap(self, fn: Callable, name: str, materialize) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(materialize, tuple):
                    out = self._materialize_each(out, materialize)
                elif materialize:
                    out = self.materialize(span, out)
                return out
            finally:
                self.close(span)

        return traced

    def _count(self, fn: Callable, key: str) -> Callable:
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            with self._lock:
                self.counts[key] += 1 if key == "persists" else int(out or 0)
            return out

        return counted

    # -- installation ----------------------------------------------------

    def _replace_everywhere(self, original: Any, replacement: Any) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def install(self) -> None:
        import importlib

        for mod, _, _, _ in LAYERS:
            importlib.import_module(f"{PKG}.{mod}")
        for mod, fn_name, span_name, mat in LAYERS:
            original = getattr(importlib.import_module(f"{PKG}.{mod}"), fn_name)
            self._replace_everywhere(original, self._wrap(original, span_name, mat))
        caching = importlib.import_module(f"{PKG}.caching")
        for fn_name in CACHE_CALLS:
            original = getattr(caching, fn_name)
            key = "persists" if fn_name == "tracked_persist" else "released"
            self._replace_everywhere(original, self._count(original, key))

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, original = self._patched.pop()
            setattr(mod, attr, original)
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    # -- read-out --------------------------------------------------------

    def collect_jobs(self) -> None:
        """Job, stage and task counts per span from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        for span in self.spans:
            jobs = list(st.getJobIdsForGroup(f"{self.run_id}/{span.id}"))
            span.jobs = sorted(jobs)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numTasks > 0:
                        stages += 1
                        tasks += si.numTasks
            span.counters["jobs"] = len(jobs)
            span.counters["stages"] = stages
            span.counters["tasks"] = tasks

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = (s.end - s.start) - covered
        return out

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, busy_s (summed self time), and every
        counter summed; ``incl_*`` sums jobs/stages/tasks over the
        span's whole subtree."""
        selft = self.self_times()
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.id)

        def subtree(i: int) -> list[int]:
            out, todo = [], [i]
            while todo:
                j = todo.pop()
                out.append(j)
                todo.extend(children.get(j, []))
            return out

        agg: dict[str, dict[str, float]] = {}
        for s in self.spans:
            a = agg.setdefault(s.name, {"calls": 0, "busy_s": 0.0})
            a["calls"] += 1
            a["busy_s"] += selft[s.id]
            for k, v in s.counters.items():
                a[k] = a.get(k, 0) + v
            for k in ("jobs", "stages", "tasks"):
                a[f"incl_{k}"] = a.get(f"incl_{k}", 0) + sum(
                    self.spans[j].counters.get(k, 0) for j in subtree(s.id)
                )
        return agg

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": s.start, "end": s.end, "jobs": s.jobs, **s.counters}
            for s in self.spans
        ]
