"""The three workloads: input set-up, one timed pass, and the check of
a pass's output against what the generator planted.

A workload object holds its generated inputs; ``warm_up`` is the
untimed pass of set-up; ``prepare_pass`` (untimed) resets any state a
pass starts from; ``run_pass`` goes from the generated input files to
committed (or collected) output and returns the pass's item count and
any per-epoch times; ``check`` compares that output with the planted
truth and returns (failed items, extra counters, output digest). The
digest is order-independent, so the traced run's output can be
compared with the untimed run's.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .dbd_site import SiteIndex, SimulatedDbdSite, check_against_fixture

SCRAPE_COMPANIES = 1500
CURATE_DOCS = 4000
# set-up ingests all but the last epoch; each pass ingests the last one
INGEST_EPOCHS = 3
INGEST_PER_EPOCH = 200
# folds whenever a committed generation lies below the epoch: at the
# second epoch (in set-up) and at the last (in every pass)
INGEST_FOLD_AFTER = 1
# a batch workload's warm-up input: same generator, another seed, a
# tenth the size
WARMUP_SEED_OFFSET = 7919


def _crc(parts) -> int:
    return zlib.crc32("\x1f".join("" if p is None else str(p) for p in parts).encode())


def _digest_rows(rows) -> str:
    """Order-independent digest: row count and the sum of row CRCs."""
    n = s = 0
    for r in rows:
        n += 1
        s += _crc(r)
    return f"{n}:{s}"


class _Batch:
    """A workload whose pass starts from nothing but its input files."""

    n: int
    # True: the timed pass is the session's first, so set-up runs no
    # warm-up pass
    timed_cold = False

    def warm_up(self, spark, work: str) -> None:
        if self.timed_cold:
            return
        warm = type(self)(self.seed + WARMUP_SEED_OFFSET, work, self.n // 10)
        warm.setup_inputs()
        warm.run_pass(spark, warm.fetcher_factory())

    def prepare_pass(self) -> None:
        pass

    def fetcher_factory(self, counters=None):
        return None


class ScrapeE1(_Batch):
    """Companies CSV → ``scrape_pipeline`` → fact + not-found Parquet."""

    name = "scrape_e1"
    # a scrape is a batch job: every CLI run starts a fresh session and
    # its operator waits for that session's first, cold pass
    timed_cold = True

    def __init__(self, seed: int, work: str, n: int = SCRAPE_COMPANIES):
        from dbd_datawarehouse_scraper_spark.config import load_config

        self.seed, self.work, self.n = seed, work, n
        self.conf = load_config(
            overrides={
                "matching": {"similarity_threshold": 0.4, "max_pages": 3},
            }
        )

    def setup_inputs(self) -> None:
        self.inputs = gen.make_companies(self.seed, self.n)
        self.csv = os.path.join(self.work, "companies.csv")
        gen.write_companies_csv(self.csv, self.inputs.companies)
        ext = self.conf["extraction"]
        self.index = SiteIndex(
            self.inputs.registry, ext["income_fields"], ext["balance_fields"],
            fail_regs=self.inputs.fail_regs,
        )

    def fetcher_factory(self, counters=None):
        return functools.partial(SimulatedDbdSite, self.index, self.seed, counters)

    def run_pass(self, spark, factory) -> dict:
        from dbd_datawarehouse_scraper_spark.caching import release_caches
        from dbd_datawarehouse_scraper_spark.plans.pipeline import scrape_pipeline
        from dbd_datawarehouse_scraper_spark.sources.files import csv_companies_source
        from dbd_datawarehouse_scraper_spark.sources.sinks import side_output_sink

        out = os.path.join(self.work, "out")
        companies = csv_companies_source(spark, self.csv)
        fact, not_found = scrape_pipeline(companies, factory, self.conf)
        side_output_sink(fact, not_found, f"{out}/fact", f"{out}/not_found")
        release_caches()
        return {"items": len(self.inputs.companies)}

    def layer_counters(self, spark, tracer, site) -> dict:
        from pyspark.sql import functions as F

        from .layers import block_sizes

        def rows(span: str) -> int:
            return sum(s.counters.get("rows_out", 0) for s in tracer.spans if s.name == span)

        def plan(span: str, key: str) -> float:
            return sum(s.counters.get(key, 0) for s in tracer.spans if s.name == span)

        (terms,) = tracer.outputs["functions.search_terms"]
        searched = rows("functions.search_terms")
        n_terms = terms.select(F.sum(F.size("terms"))).first()[0] or 0
        (raw,) = tracer.outputs["sources.http_fetch.search"]
        lines = [r[0] for r in raw.filter(F.col("line").isNotNull())
                 .select("line").distinct().collect()]
        exact = rows("operators.joins.exact")
        unmatched = searched - exact
        (fin,) = tracer.outputs["sources.http_fetch.financial"]
        per_company = fin.groupBy("company_name").agg(
            F.max(F.col("fetch_error").isNull().cast("int")).alias("ok")
        )
        n_valid, n_matched = per_company.select(F.sum("ok"), F.count("*")).first()
        out = os.path.join(self.work, "out")
        sink_bytes, sink_files = _dir_stats(out)
        return {
            "sources.http_fetch.search.calls_per_company": (
                site["search_calls"] / max(1, searched), "ratio"),
            "functions.search_terms.terms_per_company": (n_terms / max(1, searched), "ratio"),
            "sources.http_fetch.search.exact_hit_ratio": (exact / max(1, searched), "ratio"),
            "operators.joins.similarity.candidate_pairs": (
                plan("operators.joins.similarity", "join_rows_block"), "count"),
            "operators.joins.similarity.max_block_rows": (
                max(block_sizes(lines).values(), default=0), "rows"),
            "operators.joins.similarity.accept_ratio": (
                rows("operators.joins.similarity") / max(1, unmatched), "ratio"),
            "sources.http_fetch.financial.profile_valid_ratio": (
                (n_valid or 0) / max(1, n_matched), "ratio"),
            "sources.sinks.bytes_written": (sink_bytes, "bytes"),
            "sources.sinks.files_written": (sink_files, "count"),
        }

    def check(self, spark) -> tuple[int, dict, str]:
        from pyspark.sql import functions as F

        out = os.path.join(self.work, "out")
        fact = spark.read.parquet(f"{out}/fact")
        nf = spark.read.parquet(f"{out}/not_found")
        cents = F.round(F.col("value") * 100).cast("long")
        per_company = fact.groupBy("company_name").agg(
            F.collect_set("registration_number").alias("regs"),
            F.collect_set("match_type").alias("types"),
            F.count("*").alias("n"),
            F.sum(
                F.crc32(F.concat_ws("|", "table_type", "field_name", "year", cents))
            ).alias("crc"),
        ).collect()
        nf_rows = nf.collect()
        digest = _digest_rows(
            [tuple(sorted(r.regs)) + tuple(sorted(r.types)) + (r.company_name, r.n, r.crc)
             for r in per_company]
        ) + "/" + _digest_rows([tuple(r) for r in nf_rows])

        truth = self.inputs
        got = {r.company_name: r for r in per_company}
        missing = {r.company_name: r.reason for r in nf_rows}
        bad: list[str] = []
        fuzzy_ok = fuzzy_wrong = 0
        for name, _ in truth.companies:
            kind = truth.kind[name]
            reg = truth.true_reg.get(name)
            r = got.get(name)
            if kind == "unknown" or (kind == "perturbed" and r is None):
                if missing.get(name) != "No search results" or r is not None:
                    bad.append(f"{kind} {name}: {missing.get(name)!r}")
                continue
            if reg in truth.fail_regs:
                if missing.get(name) != f"injected failure for {reg}" or r is not None:
                    bad.append(f"planted failure {name}: {missing.get(name)!r}")
                continue
            if r is None or name in missing or len(r.regs) != 1:
                bad.append(f"{kind} {name}: facts {r}, not found {missing.get(name)!r}")
                continue
            got_reg = r.regs[0]
            if kind == "perturbed":
                if got_reg == reg:
                    fuzzy_ok += 1
                else:
                    fuzzy_wrong += 1
            else:
                want_type = "existing" if kind == "reg" else "exact"
                if got_reg != reg or list(r.types) != [want_type]:
                    bad.append(f"{kind} {name}: got {got_reg} {list(r.types)}, want {reg}")
                    continue
            if (r.n, r.crc) != self._expected_facts(got_reg):
                bad.append(f"{kind} {name}: fact values differ from the site's")
        _report(bad)
        failed = len(bad)
        n_pert = sum(1 for k in truth.kind.values() if k == "perturbed")
        extra = {
            "fuzzy_recall": fuzzy_ok / max(1, n_pert),
            "fuzzy_wrong": fuzzy_wrong,
            "site_mismatches": self._site_check(),
        }
        failed += extra["site_mismatches"] > 0
        return failed, extra, digest

    def _expected_facts(self, reg: str) -> tuple[int, int]:
        site = SimulatedDbdSite(self.index)
        n = crc = 0
        for table, rows in site.profile(site._valid_prefix(reg) + reg)["tables"].items():
            for field, by_year in rows:
                for year, raw in by_year.items():
                    if raw in ("-", "", "0.00"):
                        continue
                    cents = int(raw.replace(",", "").replace(".", ""))
                    n += 1
                    crc += zlib.crc32(f"{table}|{field}|{year}|{cents}".encode())
        return n, crc

    def _site_check(self) -> int:
        """The simulated site against the package fixture on sampled
        search terms (full names, cores, prefixes of the core, a
        partial first token) and registration numbers."""
        import random

        rng = random.Random(self.seed)
        terms = []
        for name, _ in rng.sample(self.inputs.companies, 10):
            core = name.removeprefix("บริษัท ").removesuffix(" จำกัด")
            toks = core.split()
            terms += [name, core + " จำกัด", core, " ".join(toks[:2]), toks[0], toks[0][:3]]
        regs = [r for r, _ in rng.sample(self.inputs.registry, 8)]
        regs += sorted(self.inputs.fail_regs)[:2] + ["0999999999999"]
        return check_against_fixture(self.index, terms, regs)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_bytes += os.path.getsize(os.path.join(base, f))
                n_files += 1
    return n_bytes, n_files


def _report(bad: list[str]) -> None:
    for line in bad[:5]:
        print(f"check failed: {line}", file=sys.stderr)


def _write_docs(path: str, docs) -> None:
    table = pa.table(
        {"doc_id": pa.array([d for d, _ in docs], pa.int64()),
         "text": pa.array([t for _, t in docs], pa.string())}
    )
    pq.write_table(table, path)


def _check_survivors(inputs: gen.DocInputs, survivors: list[int]) -> tuple[int, dict]:
    """Every planted cluster keeps exactly one member and no unplanted
    document is dropped. Returns (failed items, extra counters)."""
    kept = set(survivors)
    in_cluster = set()
    bad = []
    for members in inputs.clusters.values():
        in_cluster.update(members)
        n_kept = sum(m in kept for m in members)
        if n_kept != 1:
            bad.append(f"cluster {members} keeps {n_kept}")
    for doc_id, _ in inputs.docs:
        if doc_id not in in_cluster and doc_id not in kept:
            bad.append(f"unplanted doc {doc_id} dropped")
    if len(survivors) != len(kept):
        bad.append("duplicate survivor rows")
    _report(bad)
    return len(bad), {"survivors": len(kept), "clusters": len(inputs.clusters)}


def _minhash_counters(tracer) -> dict:
    cand = sum(s.counters.get("join_rows_bucket", 0) for s in tracer.spans
               if s.name == "operators.dedup.minhash_lsh_pairs")
    verified = sum(s.counters.get("rows_out", 0) for s in tracer.spans
                   if s.name == "operators.dedup.minhash_lsh_pairs")
    return {
        "operators.dedup.minhash_lsh_pairs.candidate_pairs": (cand, "count"),
        "operators.dedup.minhash_lsh_pairs.verified_pairs": (verified, "count"),
        "operators.dedup.minhash_lsh_pairs.verify_ratio": (verified / max(1, cand), "ratio"),
    }


class CurateBatch(_Batch):
    """Documents Parquet → ``curate_documents`` → collected survivor ids."""

    name = "curate_batch"

    def __init__(self, seed: int, work: str, n: int = CURATE_DOCS,
                 inputs: gen.DocInputs | None = None):
        self.seed, self.work, self.n = seed, work, n
        self.inputs = inputs

    def setup_inputs(self) -> None:
        if self.inputs is None:
            self.inputs = gen.make_documents(self.seed, self.n)
        self.path = os.path.join(self.work, "docs.parquet")
        _write_docs(self.path, self.inputs.docs)

    def run_pass(self, spark, factory=None) -> dict:
        from dbd_datawarehouse_scraper_spark.caching import release_caches
        from dbd_datawarehouse_scraper_spark.plans.curation import curate_documents

        docs = spark.read.parquet(self.path)
        self.survivors = [r[0] for r in curate_documents(docs).select("doc_id").collect()]
        release_caches()
        return {"items": len(self.inputs.docs)}

    def layer_counters(self, spark, tracer, site) -> dict:
        return _minhash_counters(tracer)

    def check(self, spark) -> tuple[int, dict, str]:
        failed, extra = _check_survivors(self.inputs, self.survivors)
        return failed, extra, _digest_rows([(i,) for i in self.survivors])


class IngestEpochs:
    """One Parquet file per epoch in the stream's source directory;
    ``stream_near_dedup`` with one file per trigger (availableNow) runs
    one micro-batch per epoch on one checkpoint. Epoch time is each
    batch's duration from the query's progress reports.

    Set-up ingests every epoch but the last. That is its warm-up: the
    first epoch has no history, the second reads the first's store and
    folds it, so both legs compile there. It then snapshots the stream's
    directories. Each pass restores the snapshot (untimed) and ingests
    the last epoch, which arrives at a store with history and folds.

    ``companion`` is the same corpus curated in one batch. Only the
    traced run runs it, for the layers nothing else here reaches
    (``plans.curation``, ``operators.dedup.exact_dedup``)."""

    name = "ingest_epochs"
    timed_cold = False

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.run_dir = os.path.join(work, "stream")
        self.snapshot = os.path.join(work, "stream-snapshot")

    def fetcher_factory(self, counters=None):
        return None

    def setup_inputs(self) -> None:
        self.inputs = gen.make_epochs(self.seed, INGEST_EPOCHS, INGEST_PER_EPOCH)
        by_id = dict(self.inputs.docs)
        self.files = []
        for e, ids in enumerate(self.inputs.epochs):
            path = os.path.join(self.work, f"epoch-{e:03d}.parquet")
            _write_docs(path, [(i, by_id[i]) for i in ids])
            self.files.append(path)
        self.text_bytes = sum(len(t.encode()) for _, t in self.inputs.docs)

    def warm_up(self, spark, work: str) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self._stream(spark, self.files[:-1])
        shutil.copytree(self.run_dir, self.snapshot)

    def prepare_pass(self) -> None:
        # same absolute paths as in set-up: the checkpoint's file-source
        # log names the source files it has already read
        shutil.rmtree(self.run_dir)
        shutil.copytree(self.snapshot, self.run_dir)

    def run_pass(self, spark, factory=None) -> dict:
        epoch_s = self._stream(spark, self.files[-1:])
        return {"items": len(self.inputs.epochs[-1]), "epoch_s": epoch_s}

    def _stream(self, spark, files: list[str]) -> list[float]:
        """Add ``files`` to the source directory and run the stream until
        it has read them. Returns each batch's duration."""
        from pyspark.sql import types as T

        from dbd_datawarehouse_scraper_spark.streaming.micro_batch import file_stream
        from dbd_datawarehouse_scraper_spark.streaming.near_dedup import stream_near_dedup

        src, out, store, ckpt = (f"{self.run_dir}/{d}" for d in ("src", "out", "store", "ckpt"))
        os.makedirs(src, exist_ok=True)
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
        ])
        for path in files:
            os.link(path, f"{src}/{os.path.basename(path)}")
        q = stream_near_dedup(
            file_stream(spark, src, schema, max_files_per_trigger=1),
            out, store, ckpt, fold_store_after=INGEST_FOLD_AFTER,
        )
        q.awaitTermination(170)
        if q.isActive:
            q.stop()
            raise RuntimeError("stream did not finish within 170 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.out, self.store = out, store
        return [p["batchDuration"] / 1000.0 for p in q.recentProgress if p["numInputRows"] > 0]

    def companion(self) -> CurateBatch:
        comp = CurateBatch(self.seed, os.path.join(self.work, "curate"),
                           inputs=gen.DocInputs(self.inputs.docs, self.inputs.clusters))
        os.makedirs(comp.work, exist_ok=True)
        comp.setup_inputs()
        return comp

    def layer_counters(self, spark, tracer, site) -> dict:
        store_bytes, store_files = _dir_stats(self.store)
        out_bytes, _ = _dir_stats(self.out)
        return {
            **_minhash_counters(tracer),
            "streaming.near_dedup.store_bytes": (store_bytes, "bytes"),
            "streaming.near_dedup.store_files": (store_files, "count"),
            "streaming.near_dedup.write_amplification": (
                (store_bytes + out_bytes) / self.text_bytes, "ratio"),
        }

    def check(self, spark) -> tuple[int, dict, str]:
        survivors = [
            r[0] for r in spark.read.parquet(f"{self.out}/epoch=*").select("doc_id").collect()
        ]
        failed, extra = _check_survivors(self.inputs, survivors)
        return failed, extra, _digest_rows([(i,) for i in survivors])


WORKLOADS = {w.name: w for w in (ScrapeE1, CurateBatch, IngestEpochs)}
