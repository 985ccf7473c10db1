"""The traced pass: per-layer metrics from spans, plan metrics and the
simulated site's accumulators.

``traced_pass`` installs the :class:`~perfbench.trace.Tracer`, runs one
pass of the workload, checks its output (which must hash-equal the
untraced pass's), derives the per-layer metrics listed in
BENCHMARK.json, and uninstalls the wrappers. Every per-layer metric is
reported on every workload; a layer the workload does not run reads 0.

A workload with a ``companion`` (``ingest_epochs``: the same corpus
curated in one batch) also runs it here, once untraced as its warm-up
and reference digest and once under its own tracer. Only the span names
the main pass did not produce are taken from that trace, so the
companion reports the curation-only layers without adding to the
shared dedup kernels' numbers.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from .trace import Tracer

# (metric, unit) read from the span table
SPAN_METRICS = [
    ("sources.files.busy_s", "s"), ("sources.files.rows_out", "rows"),
    ("functions.search_terms.busy_s", "s"),
    ("sources.http_fetch.search.busy_s", "s"), ("sources.http_fetch.search.jobs", "count"),
    ("sources.http_fetch.search.rows_out", "rows"),
    ("operators.joins.exact.busy_s", "s"), ("operators.joins.exact.rows_out", "rows"),
    ("operators.joins.similarity.busy_s", "s"),
    ("sources.http_fetch.financial.busy_s", "s"),
    ("sources.http_fetch.financial.rows_out", "rows"),
    ("plans.pipeline.extract.busy_s", "s"), ("plans.pipeline.extract.rows_out", "rows"),
    ("sources.sinks.busy_s", "s"),
    ("sources.sinks.fold_epoch_dirs.calls", "count"),
    ("sources.sinks.fold_epoch_dirs.busy_s", "s"),
    ("operators.dedup.minhash_lsh_pairs.busy_s", "s"),
    ("operators.dedup.minhash_lsh_pairs.shuffle_write_bytes", "bytes"),
    ("operators.graph.component_survivors.busy_s", "s"),
    ("operators.dedup.exact_dedup.busy_s", "s"), ("plans.curation.busy_s", "s"),
    ("streaming.near_dedup.epoch.busy_s", "s"),
    ("streaming._store.busy_s", "s"),
]
# inclusive over the span's subtree: the epoch's and the component
# loop's whole work, whichever spans ran inside them
INCLUSIVE = {
    "operators.graph.component_survivors.jobs": "operators.graph.component_survivors",
    "streaming.near_dedup.epoch.jobs": "streaming.near_dedup.epoch",
    "streaming.near_dedup.epoch.stages": "streaming.near_dedup.epoch",
    "streaming.near_dedup.epoch.tasks": "streaming.near_dedup.epoch",
}
# computed by each workload's layer_counters(); 0 where a workload does
# not run the layer
DERIVED = [
    ("sources.http_fetch.search.calls_per_company", "ratio"),
    ("functions.search_terms.terms_per_company", "ratio"),
    ("sources.http_fetch.search.exact_hit_ratio", "ratio"),
    ("operators.joins.similarity.candidate_pairs", "count"),
    ("operators.joins.similarity.max_block_rows", "rows"),
    ("operators.joins.similarity.accept_ratio", "ratio"),
    ("sources.http_fetch.financial.profile_valid_ratio", "ratio"),
    ("sources.sinks.bytes_written", "bytes"),
    ("sources.sinks.files_written", "count"),
    ("operators.dedup.minhash_lsh_pairs.candidate_pairs", "count"),
    ("operators.dedup.minhash_lsh_pairs.verified_pairs", "count"),
    ("operators.dedup.minhash_lsh_pairs.verify_ratio", "ratio"),
    ("streaming.near_dedup.store_bytes", "bytes"),
    ("streaming.near_dedup.store_files", "count"),
    ("streaming.near_dedup.write_amplification", "ratio"),
    ("bench.fuzzy_recall", "ratio"),
]
SITE_COUNTERS = ("search_calls", "search_busy_s", "profile_calls", "profile_busy_s",
                 "transient_failures")


def traced_pass(spark, wl, run_id: str, untraced_wall: float, untraced_digest: str) -> dict:
    from pyspark.accumulators import AccumulatorParam

    class _FloatSum(AccumulatorParam):
        def zero(self, value):
            return 0.0

        def addInPlace(self, a, b):
            return a + b

    from dbd_datawarehouse_scraper_spark import caching

    sc = spark.sparkContext
    counters = {
        k: sc.accumulator(0.0, _FloatSum()) if k.endswith("_s") else sc.accumulator(0)
        for k in SITE_COUNTERS
    }
    tracer = Tracer(spark, run_id)
    wl.prepare_pass()
    tracer.install()
    try:
        t0 = time.perf_counter()
        res = wl.run_pass(spark, wl.fetcher_factory(counters))
        wall = time.perf_counter() - t0
        live_after = caching.live_persist_count() + caching.live_scratch_count()
        tracer.collect_jobs()
        table = tracer.by_name()
        site = {k: a.value for k, a in counters.items()}
        derived = wl.layer_counters(spark, tracer, site)
    finally:
        tracer.uninstall()
    failed, _, digest = wl.check(spark)
    ok = failed == 0 and digest == untraced_digest and live_after == 0
    failed = failed if digest == untraced_digest else res["items"]
    attempted = res["items"]
    spans = tracer.dump()

    if hasattr(wl, "companion"):
        comp = wl.companion()
        comp.run_pass(spark)
        _, _, ref = comp.check(spark)
        ctracer = Tracer(spark, run_id + "-companion")
        ctracer.install()
        try:
            cres = comp.run_pass(spark)
            live_after += caching.live_persist_count() + caching.live_scratch_count()
            ctracer.collect_jobs()
            for name, agg in ctracer.by_name().items():
                table.setdefault(name, agg)
        finally:
            ctracer.uninstall()
        cfailed, _, cdigest = comp.check(spark)
        ok = ok and cfailed == 0 and cdigest == ref and live_after == 0
        failed += cfailed if cdigest == ref else cres["items"]
        attempted += cres["items"]
        spans += ctracer.dump()

    with open(os.path.join(os.getcwd(), ".bench_work", f"trace-{run_id}.json"), "w") as fh:
        json.dump({"spans": spans, "by_name": table}, fh)

    m: dict[str, tuple[float, str]] = {}
    for metric, unit in SPAN_METRICS:
        name, _, key = metric.rpartition(".")
        m[metric] = (table.get(name, {}).get(key, 0), unit)
    for metric, span in INCLUSIVE.items():
        key = "incl_" + metric.rpartition(".")[2]
        m[metric] = (table.get(span, {}).get(key, 0), "count")
    for metric, unit in DERIVED:
        m[metric] = (0, unit)
    m.update(derived)
    m["sources.http_fetch.search.retries"] = (site["transient_failures"], "count")
    m["bench.site.search_calls"] = (site["search_calls"], "count")
    m["bench.site.search_busy_s"] = (site["search_busy_s"], "s")
    m["bench.site.profile_calls"] = (site["profile_calls"], "count")
    m["bench.site.profile_busy_s"] = (site["profile_busy_s"], "s")
    m["caching.persists"] = (tracer.counts["persists"], "count")
    m["caching.released"] = (tracer.counts["released"], "count")
    m["caching.live_after"] = (live_after, "count")
    m["bench.trace_overhead_frac"] = (wall / untraced_wall - 1.0, "ratio")
    m["bench.traced_wall_s"] = (wall, "s")
    m["_correct"] = ok
    m["_failed"] = failed
    m["_attempted"] = attempted
    return m


def block_sizes(lines: list[str]) -> Counter:
    """First-core-token blocks of the similarity join's candidate side,
    with the package's own Python core-name mirror."""
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import py_core_name

    blocks: Counter = Counter()
    for line in lines:
        toks = py_core_name(line).split()
        if toks:
            blocks[toks[0]] += 1
    return blocks
