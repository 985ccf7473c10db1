"""End-to-end scrape pipeline over the deterministic FakeDbdFetcher —
the hermetic replay of the reference's E1 lifecycle (no network)."""

import pytest
from pyspark.sql import functions as F

from dbd_datawarehouse_scraper_spark.config import load_config
from dbd_datawarehouse_scraper_spark.plans import match_companies, scrape_pipeline
from dbd_datawarehouse_scraper_spark.sources import FakeDbdFetcher
from dbd_datawarehouse_scraper_spark.operators.unpivot import (
    FACT_COLUMNS,
    NOT_FOUND_COLUMNS,
)

REGISTRY = [
    ("0105536041711", "บริษัท ซีพี ออลล์ จำกัด (มหาชน)"),
    ("0105536041712", "บริษัท ทดสอบ จำกัด"),
    ("0105536041713", "บริษัท ทดสอบ สอง จำกัด"),
    ("0103536041714", "ห้างหุ้นส่วนจำกัด รุ่งเรือง การค้า"),
    ("0105536041715", "บริษัท เสริมสุข จำกัด (มหาชน)"),
    ("0105536041716", "บริษัท น้ำตาล ไทย จำกัด"),
    ("0105536041719", "บริษัท อื่น อื่น จำกัด"),
]

COMPANIES = [
    # exact via search / redirect
    ("บริษัท ซีพี ออลล์ จำกัด (มหาชน)", None),
    ("บริษัท ทดสอบ จำกัด", None),
    ("ห้างหุ้นส่วนจำกัด รุ่งเรือง การค้า", None),
    # existing reg bypass
    ("บริษัท มีเลข อยู่แล้ว จำกัด", "0105536041716"),
    # near-miss with a SINGLE registry hit on a trimmed term → the site
    # redirects and the reference accepts it as exact/direct even on
    # name mismatch (scraper_v2.py:915-917)
    ("บริษัท เสริมสุข มาก จำกัด", None),
    # near-miss with MULTIPLE hits ("ทดสอบ" → 2 lines, neither core-equal)
    # → similarity fallback: jaccard({ทดสอบ,สาม},{ทดสอบ}) = 0.5
    ("บริษัท ทดสอบ สาม จำกัด", None),
    # no hit anywhere
    ("บริษัท ไม่มีจริง แน่นอน จำกัด", None),
]


def factory():
    return FakeDbdFetcher(REGISTRY)


@pytest.fixture(scope="module")
def conf():
    return load_config(
        overrides={"matching": {"similarity_threshold": 0.4, "max_pages": 5}}
    )


@pytest.fixture(scope="module")
def companies_df(spark):
    return spark.createDataFrame(
        COMPANIES, ["company_name", "registration_number"]
    )


def test_match_companies(spark, companies_df, conf):
    matched, not_found = match_companies(companies_df, factory, conf)
    rows = {r["company_name"]: r for r in matched.collect()}

    assert rows["บริษัท มีเลข อยู่แล้ว จำกัด"]["match_type"] == "existing"
    assert rows["บริษัท มีเลข อยู่แล้ว จำกัด"]["registration_number"] == "0105536041716"

    assert rows["บริษัท ซีพี ออลล์ จำกัด (มหาชน)"]["registration_number"] == "0105536041711"
    assert rows["บริษัท ซีพี ออลล์ จำกัด (มหาชน)"]["match_type"] == "exact"

    # "ทดสอบ" has two registry hits → result lines, exact core match wins
    assert rows["บริษัท ทดสอบ จำกัด"]["registration_number"] == "0105536041712"
    assert rows["บริษัท ทดสอบ จำกัด"]["match_type"] == "exact"

    assert rows["ห้างหุ้นส่วนจำกัด รุ่งเรือง การค้า"]["registration_number"] == "0103536041714"

    # redirect-accepted mismatch: reference parity (scraper_v2.py:915-917)
    redirected = rows["บริษัท เสริมสุข มาก จำกัด"]
    assert redirected["match_type"] == "exact"
    assert redirected["search_strategy"] == "direct"
    assert redirected["registration_number"] == "0105536041715"

    fuzzy = rows["บริษัท ทดสอบ สาม จำกัด"]
    assert fuzzy["match_type"] == "similarity_50%"
    assert fuzzy["search_strategy"] == "fallback"
    assert fuzzy["registration_number"] == "0105536041712"

    nf = [r["company_name"] for r in not_found.collect()]
    assert nf == ["บริษัท ไม่มีจริง แน่นอน จำกัด"]


def test_scrape_pipeline_fact_table(spark, companies_df, conf):
    fact, not_found = scrape_pipeline(companies_df, factory, conf)
    assert fact.columns == FACT_COLUMNS
    assert not_found.columns == NOT_FOUND_COLUMNS

    fact_rows = fact.collect()
    assert len(fact_rows) > 0
    # every value parsed as double, placeholders dropped
    assert all(isinstance(r["value"], float) for r in fact_rows)
    # both statement types present
    assert {r["table_type"] for r in fact_rows} == {"งบกำไรขาดทุน", "งบแสดงฐานะการเงิน"}
    # years are Buddhist-era ints from the fake registry
    assert {r["year"] for r in fact_rows} <= {2564, 2565, 2566}

    nf_rows = not_found.collect()
    reasons = {r["reason"] for r in nf_rows}
    assert "No search results" in reasons


def test_fallback_pool_superset_of_reference_fallback_page(spark, companies_df, conf):
    """DEVIATION pin (plans/pipeline.py): the engine's fuzzy-fallback
    candidate pool (distinct exact-pass lines) must contain every
    candidate the reference's fresh one-page first-token fallback search
    (scraper_v2.py:1033-1043) would score for each unmatched company."""
    import re

    from dbd_datawarehouse_scraper_spark.functions.search_terms import (
        add_search_terms,
    )
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import (
        fetch_search_results,
        py_core_name,
    )

    matched, _ = match_companies(companies_df, factory, conf)
    matched_names = {r["company_name"] for r in matched.collect()}
    unmatched = [
        n for (n, reg) in COMPANIES if n not in matched_names and reg is None
    ]
    assert unmatched, "fixture must leave at least one company unmatched"

    needs_search = companies_df.filter(
        F.col("registration_number").isNull()
    ).select("company_name")
    raw = fetch_search_results(
        add_search_terms(needs_search), factory, max_pages=conf["matching"]["max_pages"]
    )
    pool = {
        r["line"] for r in raw.collect() if r["line"] is not None
    }

    ref_fetcher = factory()
    for name in unmatched:
        core = py_core_name(name)
        token = core.split()[0] if core.split() else None
        if not token:
            continue
        page = ref_fetcher.search(token, 1)
        ref_candidates = {
            ln
            for ln in page["lines"]
            if re.search(r"0\d{12}", ln) and "จำกัด" in ln
        }
        missing = ref_candidates - pool
        assert not missing, f"{name}: reference fallback candidates not in pool: {missing}"


def test_early_exit_saves_fetches(spark, conf):
    """The in-UDF cascade must stop at the first exact hit: a company
    whose first term hits exactly generates exactly one search call in
    a single-partition run."""
    fetcher = FakeDbdFetcher(REGISTRY, redirect_singletons=False)
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import _search_one

    rows = _search_one(
        fetcher,
        "บริษัท ทดสอบ จำกัด",
        ["ทดสอบ จำกัด", "ทดสอบ"],
        max_pages=5,
        max_retries=1,
        backoff_unit=0,
        delay=0,
    )
    assert fetcher.search_calls == 1
    assert any(r["exact_hit"] for r in rows)


def test_retry_then_error_row(spark, conf, companies_df):
    """Profile fetch failures exhaust retries and land in the not-found
    channel with the truncated exception text (scraper_v2.py:1541)."""
    def failing_factory():
        return FakeDbdFetcher(REGISTRY, fail_regs=frozenset({"0105536041712"}))

    fact, not_found = scrape_pipeline(companies_df, failing_factory, conf)
    reasons = {
        r["company_name"]: r["reason"] for r in not_found.collect()
    }
    assert "injected failure" in reasons.get("บริษัท ทดสอบ จำกัด", "")


def test_fetch_stages_size_to_cores(spark):
    """Both fetch sources run one partition per core by default, even over
    a persisted single-partition input (what AQE makes of a small
    persisted leg); an explicit fetch_partitions still wins, and the
    partition count never changes the output."""
    from collections import Counter

    from dbd_datawarehouse_scraper_spark.caching import release_caches, tracked_persist
    from dbd_datawarehouse_scraper_spark.functions.search_terms import add_search_terms
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import (
        fetch_financial_pages,
        fetch_search_results,
    )

    release_caches()
    names = spark.createDataFrame([(n,) for n, _ in COMPANIES], ["company_name"])
    terms = tracked_persist(add_search_terms(names).repartition(1))
    matched = tracked_persist(
        spark.createDataFrame(
            [(disp, reg, "exact", "1") for reg, disp in REGISTRY],
            ["company_name", "registration_number", "match_type", "search_strategy"],
        ).repartition(1)
    )
    assert terms.rdd.getNumPartitions() == matched.rdd.getNumPartitions() == 1

    cores = spark.sparkContext.defaultParallelism
    for fetch, src in ((fetch_search_results, terms), (fetch_financial_pages, matched)):
        default = fetch(src, factory)
        explicit = fetch(src, factory, fetch_partitions=3)
        assert default.rdd.getNumPartitions() == cores
        assert explicit.rdd.getNumPartitions() == 3
        rows = default.collect()
        assert rows and Counter(rows) == Counter(explicit.collect())
    release_caches(blocking=True)


def test_fake_fetcher_registry_reassignment():
    """The fixture's membership set follows a reassigned registry (the
    benchmark's simulated site swaps it per profile call)."""
    reg = "0105536041713"  # valid under prefix '3'
    fetcher = FakeDbdFetcher([])
    assert fetcher.profile("3" + reg) is None
    fetcher.registry = [(reg, "บริษัท ทดสอบ จำกัด")]
    assert fetcher.profile("3" + reg) is not None
    fetcher.registry = []
    assert fetcher.profile("3" + reg) is None


def test_page_cap_limits_fetches():
    """max_pages caps pagination (scraper_v2.py:929-941): a term with 3
    pages of hits but max_pages=2 fetches exactly 2 pages."""
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import _search_one

    registry = [
        (f"01055360417{i:02d}", f"บริษัท ร่วม คำ {i} จำกัด") for i in range(25)
    ]
    fetcher = FakeDbdFetcher(registry, redirect_singletons=False)
    rows = _search_one(
        fetcher, "บริษัท ไม่ตรง จำกัด", ["ร่วม คำ"],
        max_pages=2, max_retries=1, backoff_unit=0, delay=0,
    )
    assert fetcher.search_calls == 2  # 3 pages exist, cap at 2
    assert len(rows) == 20  # 10 results per fetched page


def test_profile_prefix_fallback_order():
    """Prefixes tried in ['5','7','6','3',''] order until one is valid
    (scraper_v2.py:1259-1269)."""
    import pandas as pd
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import _extract_one

    reg = "0105536041713"  # last digit 3 → valid prefix index 3 % 5 → '3'
    fetcher = FakeDbdFetcher([(reg, "บริษัท ทดสอบ จำกัด")])
    assert fetcher._valid_prefix(reg) == "3"
    row = pd.Series(
        {"company_name": "บริษัท ทดสอบ จำกัด", "registration_number": reg,
         "match_type": "exact", "search_strategy": "1"}
    )
    out = _extract_one(
        fetcher, row, ("5", "7", "6", "3", ""), True, 1, 0
    )
    assert fetcher.profile_calls == 4  # 5,7,6 invalid then 3 hits
    assert all(r["fetch_error"] is None for r in out)
