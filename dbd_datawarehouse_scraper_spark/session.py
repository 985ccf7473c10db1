"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen
so the same code is correct on a 1000-executor cluster against ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast conversion) so plans adapt to real data sizes.
- Arrow on for every pandas-UDF exchange (the only Python hot paths are
  vectorized).
- Session timezone pinned to UTC so timestamp semantics are stable
  across engines (and match a DuckDB oracle).
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. At cluster scale raise it to ~2-3x total cores.
- AQE also coalesces inside persisted plans
  (``canChangeCachedPlanOutputPartitioning``; Spark's default is off).
  Without it every ``tracked_persist``'d leg keeps the full
  shuffle-partition layout, and on small legs the fixed per-task cost
  dominates: one Python task costs about 0.3 s whatever it does
  (``local[4]`` on a 4-core VM), so each ``add_core_name`` Arrow stage
  of the E1 scrape took 2.2-2.8 s as 32 tasks and 0.4 s as one, and
  the whole scrape ran ~34 s → ~19 s (BENCH_NOTES.md). The one stage
  that must not collapse with its input is the remote fetch; it sizes
  itself (``sources/http_fetch.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE coalesce the shuffles inside persisted (cached) plans too;
    # see the module docstring
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # 32 MB: dimension tables (region/nation/customer at test SF) broadcast;
    # at 100 TB the fact side never broadcasts and AQE re-checks at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # The epoch stores' replay-idempotence contract assumes overwrite of
    # a partitioned dir TRUNCATES it (static mode, Spark's default).
    # Pin it: under a cluster-wide dynamic default, a replayed epoch
    # occupying fewer partitions would leave stale partition dirs in
    # place — phantom rows surviving in a committed store. The
    # truncation-dependent writes also set this per-write (a session
    # not built by this factory gets the same guarantee).
    "spark.sql.sources.partitionOverwriteMode": "static",
    # ContextCleaner only reclaims shuffle files / broadcast blocks after
    # their driver-side handles are GARBAGE-COLLECTED — and on a large
    # heap a long-running driver may not GC for ages, so state from
    # completed queries accumulates until throughput collapses (measured
    # locally: the same query 1.8 s on a fresh session, 13 s after 28
    # queries, 1.8 s again after one System.gc()). The default periodic
    # GC is 30min; 5min bounds the accumulation window for long-running
    # multi-query sessions at negligible GC cost.
    "spark.cleaner.periodicGC.interval": "5min",
}


def get_spark(
    app_name: str = "dbd-datawarehouse-scraper-spark",
    master: str | None = None,
    **overrides: str,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass the cluster master / rely on spark-submit.
    Keyword overrides are raw Spark conf keys.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
