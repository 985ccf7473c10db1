"""Benchmark entry point.

    python3 perfbench/run.py --workload scrape_e1 --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). All scratch files live under ``.bench_work/`` in the
current directory and are removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree (the Spark JVM, its Python
    daemon and workers), sampled from /proc every 0.2 s."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak = 0
        self._stop_event = threading.Event()

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(entry)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        total, todo = 0, [self.root_pid]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_event.wait(0.2)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # every file Spark, Python and the JVM write stays in the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers unpickle the simulated site by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r} (valid: {sorted(WORKLOADS)})")
        result = _run(WORKLOADS[args.workload], args, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None


def _start_spark(work: str, ncores: int):
    from dbd_datawarehouse_scraper_spark.session import get_spark

    return get_spark(
        master=f"local[{ncores}]",
        **{
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _run(W, args, work: str) -> dict:
    ncores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]

    # set-up: session start, input generation (several times; the
    # median counts) and the workload's one untimed warm-up pass, which
    # compiles every plan and starts the Python workers (none for a
    # workload timed cold). One warm-up only: it costs more than a
    # timed pass.
    t0 = time.perf_counter()
    spark = _start_spark(work, ncores)
    session_s = time.perf_counter() - t0
    gen_s = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl = W(args.seed, _fresh(work, "main"))
        wl.setup_inputs()
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up(spark, _fresh(work, "warm"))
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(gen_s) + warmup_s

    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    passes: list[dict] = []
    failed = 0
    extra: dict = {}
    digest = None
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < args.seconds:
        wl.prepare_pass()
        t0 = time.perf_counter()
        res = wl.run_pass(spark, wl.fetcher_factory())
        res["wall_s"] = time.perf_counter() - t0
        passes.append(res)
        f, extra, d = wl.check(spark)
        # a pass whose output differs from the previous pass's fails whole
        failed += res["items"] if digest is not None and d != digest else f
        digest = d
    peak_rss = sampler.stop()

    wall = statistics.median(p["wall_s"] for p in passes)
    items = passes[0]["items"]
    epochs = [e for p in passes for e in p.get("epoch_s", [p["wall_s"]])]
    out = {
        "correct": failed == 0,
        "attempted": items * len(passes),
        "failed": failed,
    }
    box = {
        "load_start": load_start, "load_end": os.getloadavg()[0], "ncores": ncores,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "passes": [round(p["wall_s"], 4) for p in passes],
        "session_s": round(session_s, 4), "gen_s": [round(s, 4) for s in gen_s],
        "warmup_s": round(warmup_s, 4),
        **extra,
    }
    print("# run " + json.dumps(box), flush=True)
    if not args.trace:
        out["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "items_per_s": {"value": items / wall, "unit": "1/s"},
            "epoch_s_p50": {"value": statistics.median(epochs), "unit": "s"},
        }
        _select(out["metrics"], "end_to_end")
        return out

    from perfbench.layers import traced_pass

    ref_wall = wall
    if wl.timed_cold:
        # the timed pass was the session's first; the traced pass is
        # compared with a warm untraced one run just before it
        wl.prepare_pass()
        t0 = time.perf_counter()
        res = wl.run_pass(spark, wl.fetcher_factory())
        ref_wall = time.perf_counter() - t0
        f, _, d = wl.check(spark)
        out["correct"] = out["correct"] and f == 0 and d == digest
        out["attempted"] += res["items"]
        out["failed"] += res["items"] if d != digest else f
    layer = traced_pass(
        spark, wl, run_id=f"{W.name}-{args.seed}", untraced_wall=ref_wall,
        untraced_digest=digest,
    )
    out["correct"] = out["correct"] and layer.pop("_correct")
    layer_failed = layer.pop("_failed")
    out["attempted"] += layer.pop("_attempted")
    out["failed"] += layer_failed
    layer.update({
        "session.busy_s": (session_s, "s"),
        "bench.load_start": (load_start, "load"),
        "bench.load_end": (os.getloadavg()[0], "load"),
        "bench.ncores": (ncores, "count"),
        "bench.shuffle_partitions": (box["shuffle_partitions"], "count"),
        "bench.peak_rss_mb": (peak_rss / 2**20, "MB"),
        "bench.error_frac": (out["failed"] / out["attempted"], "ratio"),
    })
    for k, v in extra.items():
        layer[f"bench.{k}"] = (v, "count" if isinstance(v, int) else "ratio")
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layer.items())}
    _select(out["metrics"], "per_layer")
    return out


def _select(metrics: dict, kind: str) -> None:
    """Keep exactly the metrics BENCHMARK.json lists under ``kind``; the
    traced run's full table stays in .bench_work/trace-*.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)[kind]]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    for k in list(metrics):
        if k not in names:
            del metrics[k]


def _fresh(work: str, name: str) -> str:
    path = os.path.join(work, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


if __name__ == "__main__":
    sys.exit(main())
