"""The UDF-shaped web-fetch source (SURVEY §2.1 http_fetch_source).

The reference drives one Selenium WebDriver per OS worker through a
search → paginate → profile-extract cascade (scraper_v2.py:412-455,
869-994, 1259-1331). The Spark-native shape is ``mapInPandas`` over a
partitioned key DataFrame:

- one fetcher client per PARTITION (setup/teardown at iterator
  boundaries — the analog of one WebDriver per worker,
  scraper_v2.py:1453);
- the sequential strategy cascade with EARLY EXIT lives inside the UDF
  (it saves network calls; Catalyst cannot reason about a remote
  cursor), as do pagination caps, retry-with-backoff, and per-row rate
  limiting (scraper_v2.py:929-958, 1489-1517);
- everything downstream of the fetched lines (candidate filtering,
  exact/fuzzy matching, unpivot) is declarative — see operators/ and
  plans/pipeline.py.

The fetcher is INJECTABLE: tests and the driver's hermetic entrypoint
use ``FakeDbdFetcher`` (deterministic, in-memory); a production
deployment plugs an HTTP/Selenium client with the same protocol. The
cluster-wide request rate is controlled by partition count
(``fetch_partitions``) × per-row delay — the one place the engine pins
parallelism explicitly instead of letting AQE choose. Each fetch source
round-robins its input over ``fetch_partitions`` tasks, or one per core
(``defaultParallelism``) when it is None — the analog of the
reference's ``Pool(workers)``. It does so unconditionally: AQE coalesces
persisted legs too (session.py), so a small input may arrive as one
partition, which would otherwise put every remote call behind one
client.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterator
from typing import Any, Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Python-side mirrors of the core-name normalization (used only for the
# in-UDF early-exit check; the declarative layer uses the column
# expressions in functions/text_norm.py — same semantics,
# scraper_v2.py:624-662).
# ---------------------------------------------------------------------------

_PARTNERSHIP_PREFIXES = (
    "ห้างหุ้นส่วนจำกัด",
    "ห้างหุ้นส่วนสามัญนิติบุคคล",
    "ห้างหุ้นส่วนสามัญ",
)


def py_core_name(name: str) -> str:
    s = name.strip()
    m = re.search(r"\d+\s+(0\d{12})\s+(.+)", s)
    if m:
        s = m.group(2)
    for p in _PARTNERSHIP_PREFIXES:
        if p in s:
            s = s.replace(p, "").strip()
            break
    s = s.replace("บริษัท", "").strip()
    if "จำกัด" in s:
        s = s.split("จำกัด")[0].strip()
    return " ".join(s.split())


# ---------------------------------------------------------------------------
# Fetcher protocol + deterministic fake
# ---------------------------------------------------------------------------


class Fetcher(Protocol):
    """Client protocol the fetch UDF drives. One instance per partition."""

    def search(self, term: str, page: int) -> dict[str, Any]:
        """Return {'redirect': (reg, name)|None, 'lines': [str], 'total_pages': int}."""
        ...

    def profile(self, prefixed_reg: str) -> dict[str, Any] | None:
        """Return {'tables': {table_type: [(field_text, {year: raw_value})]}}
        or None when the prefixed URL is invalid."""
        ...

    def close(self) -> None: ...


INCOME_TABLE = "งบกำไรขาดทุน"
BALANCE_TABLE = "งบแสดงฐานะการเงิน"


class FakeDbdFetcher:
    """Deterministic in-memory registry standing in for the DBD site.

    ``registry``: list of (reg_number, display_name). Search returns the
    registry rows whose display contains the term, 10 per page, in the
    reference's result-line format ``"<rank> <reg> <display>"``
    (scraper_v2.py:637-639). Profiles are valid only under one prefix
    (derived from the reg) to exercise the prefix-fallback cascade;
    financial values derive arithmetically from the reg digits so tests
    can predict them. ``fail_regs`` raises on profile fetch to exercise
    retry / fault isolation.
    """

    RESULTS_PER_PAGE = 10

    def __init__(
        self,
        registry: list[tuple[str, str]],
        years: tuple[int, ...] = (2566, 2565, 2564),
        income_fields: tuple[str, ...] = ("รายได้รวม", "กำไรสุทธิ"),
        balance_fields: tuple[str, ...] = ("สินทรัพย์รวม", "หนี้สินรวม"),
        fail_regs: frozenset[str] = frozenset(),
        redirect_singletons: bool = True,
    ):
        self.registry = registry
        self.years = years
        self.income_fields = income_fields
        self.balance_fields = balance_fields
        self.fail_regs = fail_regs
        self.redirect_singletons = redirect_singletons
        self.search_calls = 0
        self.profile_calls = 0
        self.closed = False

    @property
    def registry(self) -> list[tuple[str, str]]:
        return self._registry

    @registry.setter
    def registry(self, rows: list[tuple[str, str]]) -> None:
        # the membership set is built once per assignment, not per profile
        # call; a subclass that swaps the registry keeps it in step
        self._registry = sorted(rows)
        self._regs = frozenset(r for r, _ in self._registry)

    def _hits(self, term: str) -> list[tuple[str, str]]:
        return [(reg, disp) for reg, disp in self.registry if term and term in disp]

    def search(self, term: str, page: int) -> dict[str, Any]:
        self.search_calls += 1
        hits = self._hits(term)
        if self.redirect_singletons and len(hits) == 1:
            # the real site redirects straight to the profile page on a
            # unique hit (scraper_v2.py:893-921)
            return {"redirect": hits[0], "lines": [], "total_pages": 1}
        per = self.RESULTS_PER_PAGE
        total_pages = max(1, -(-len(hits) // per))
        page_hits = hits[(page - 1) * per : page * per]
        lines = [
            f"{(page - 1) * per + i + 1} {reg} {disp}"
            for i, (reg, disp) in enumerate(page_hits)
        ]
        return {"redirect": None, "lines": lines, "total_pages": total_pages}

    def _valid_prefix(self, reg: str) -> str:
        return ["5", "7", "6", "3", ""][int(reg[-1]) % 5]

    def profile(self, prefixed_reg: str) -> dict[str, Any] | None:
        self.profile_calls += 1
        m = re.search(r"(0\d{12})$", prefixed_reg)
        if not m:
            return None
        reg = m.group(1)
        prefix = prefixed_reg[: -len(reg)]
        if reg in self.fail_regs:
            raise ConnectionError(f"injected failure for {reg}")
        if reg not in self._regs:
            return None
        if prefix != self._valid_prefix(reg):
            return None
        seed = int(reg[-6:]) + 7  # +7 keeps the seed non-zero for small regs
        tables: dict[str, list] = {}
        for table, fields in (
            (INCOME_TABLE, self.income_fields),
            (BALANCE_TABLE, self.balance_fields),
        ):
            rows = []
            for fi, field in enumerate(fields):
                by_year = {}
                for yi, year in enumerate(self.years):
                    v = (seed * (fi + 3) * (yi + 2)) % 10_000_000
                    if (seed + fi + yi) % 11 == 0:
                        by_year[year] = "-"  # placeholder, must be skipped
                    else:
                        by_year[year] = f"{v:,}.{seed % 100:02d}"
                rows.append((field, by_year))
            tables[table] = rows
        return {"tables": tables}

    def close(self) -> None:
        self.closed = True


# ---------------------------------------------------------------------------
# Fetch UDFs
# ---------------------------------------------------------------------------

SEARCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("company_name", T.StringType()),
        T.StructField("strategy_rank", T.IntegerType()),
        T.StructField("search_term", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("line", T.StringType()),
        T.StructField("redirect_reg", T.StringType()),
        T.StructField("redirect_name", T.StringType()),
        T.StructField("exact_hit", T.BooleanType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)

FINANCIAL_LONG_SCHEMA = T.StructType(
    [
        T.StructField("company_name", T.StringType()),
        T.StructField("registration_number", T.StringType()),
        T.StructField("match_type", T.StringType()),
        T.StructField("search_strategy", T.StringType()),
        T.StructField("table_type", T.StringType()),
        T.StructField("field_name", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("raw_value", T.StringType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)


def _fetch_stage(df: DataFrame, fetch_partitions: int | None) -> DataFrame:
    """Round-robin the fetch input over ``fetch_partitions`` tasks, one
    per core by default, whatever partitioning the input arrives with
    (see the module docstring)."""
    n = fetch_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def _with_retry(fn, max_retries: int, backoff_unit: float):
    """Reference retry: up to max_retries attempts, progressive backoff
    attempt × unit (scraper_v2.py:1489-1506)."""
    last = None
    for attempt in range(1, max(1, max_retries) + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — one bad row ≠ failed partition
            last = exc
            if attempt < max_retries:
                time.sleep(backoff_unit * attempt)
    raise last  # type: ignore[misc]


def fetch_search_results(
    companies_with_terms: DataFrame,
    fetcher_factory: Callable[[], Fetcher],
    max_pages: int = 20,
    max_retries: int = 3,
    backoff_unit: float = 0.0,
    delay: float = 0.0,
    fetch_partitions: int | None = None,
) -> DataFrame:
    """Run the search cascade for each company (E2, scraper_v2.py:997-1067).

    Input: (company_name, terms array<string>) — terms from
    ``functions.generate_search_terms``. Output: one row per fetched
    candidate line / redirect, tagged with the 1-based strategy rank.

    In-UDF optimizations mirroring the reference:
    - terms tried in rank order; STOP at the first exact core-name hit
      (scraper_v2.py:1019-1028);
    - pagination stops at min(total_pages, max_pages) and at the first
      exact hit (scraper_v2.py:940-972);
    - per-company try/except → error row, pipeline continues.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetcher = fetcher_factory()
        try:
            for pdf in batches:
                out: list[dict] = []
                for _, row in pdf.iterrows():
                    name = row["company_name"]
                    terms = list(row["terms"]) if row["terms"] is not None else []
                    try:
                        out.extend(
                            _search_one(
                                fetcher, name, terms, max_pages, max_retries,
                                backoff_unit, delay,
                            )
                        )
                    except Exception as exc:  # noqa: BLE001
                        out.append(
                            _result_row(name, None, None, None, error=str(exc)[:200])
                        )
                yield pd.DataFrame(out, columns=[f.name for f in SEARCH_RESULT_SCHEMA])
        finally:
            fetcher.close()

    return _fetch_stage(companies_with_terms, fetch_partitions).mapInPandas(
        run, SEARCH_RESULT_SCHEMA
    )


def _result_row(
    name: str,
    rank: int | None,
    term: str | None,
    page: int | None,
    line: str | None = None,
    redirect: tuple[str, str] | None = None,
    exact: bool = False,
    error: str | None = None,
) -> dict:
    return {
        "company_name": name,
        "strategy_rank": rank,
        "search_term": term,
        "page": page,
        "line": line,
        "redirect_reg": redirect[0] if redirect else None,
        "redirect_name": redirect[1] if redirect else None,
        "exact_hit": exact,
        "fetch_error": error,
    }


def _search_one(
    fetcher: Fetcher,
    name: str,
    terms: list[str],
    max_pages: int,
    max_retries: int,
    backoff_unit: float,
    delay: float,
) -> list[dict]:
    target_core = py_core_name(name)
    rows: list[dict] = []
    for rank, term in enumerate(terms, start=1):
        page = 1
        total_pages = 1
        while page <= min(total_pages, max_pages):
            if delay:
                time.sleep(delay)
            res = _with_retry(
                lambda t=term, p=page: fetcher.search(t, p), max_retries, backoff_unit
            )
            total_pages = max(total_pages, int(res.get("total_pages") or 1))
            if res.get("redirect"):
                rows.append(
                    _result_row(
                        name, rank, term, page, redirect=res["redirect"], exact=True
                    )
                )
                return rows  # direct profile redirect ends the cascade
            exact_found = False
            for line in res.get("lines", []):
                # candidate predicate: reg number AND จำกัด (scraper_v2.py:964-965)
                if not (re.search(r"0\d{12}", line) and "จำกัด" in line):
                    continue
                is_exact = py_core_name(line) == target_core and target_core != ""
                rows.append(
                    _result_row(name, rank, term, page, line=line, exact=is_exact)
                )
                exact_found = exact_found or is_exact
            if exact_found:
                return rows  # early exit: first exact hit wins
            page += 1
    return rows


def fetch_financial_pages(
    matched: DataFrame,
    fetcher_factory: Callable[[], Fetcher],
    profile_prefixes: tuple[str, ...] = ("5", "7", "6", "3", ""),
    include_balance_sheet: bool = True,
    max_retries: int = 3,
    backoff_unit: float = 0.0,
    delay: float = 0.0,
    fetch_partitions: int | None = None,
) -> DataFrame:
    """Profile extraction (E3, scraper_v2.py:1233-1331) as a mapInPandas
    source emitting the LONG relation directly — the reference's nested
    {field → {year → value}} matrix never materializes.

    Prefix fallback: try profile URLs ``{prefix}{reg}`` in order, first
    valid page wins (scraper_v2.py:1259-1269). Rows that fail every
    retry emit a single error row (→ not-found channel, reason
    parity with scraper_v2.py:1514, 1541).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetcher = fetcher_factory()
        try:
            for pdf in batches:
                out: list[dict] = []
                for _, row in pdf.iterrows():
                    if delay:
                        time.sleep(delay)
                    out.extend(_extract_one(fetcher, row, profile_prefixes,
                                            include_balance_sheet, max_retries,
                                            backoff_unit))
                yield pd.DataFrame(
                    out, columns=[f.name for f in FINANCIAL_LONG_SCHEMA]
                )
        finally:
            fetcher.close()

    return _fetch_stage(matched, fetch_partitions).mapInPandas(
        run, FINANCIAL_LONG_SCHEMA
    )


def _extract_one(
    fetcher: Fetcher,
    row: pd.Series,
    prefixes: tuple[str, ...],
    include_balance: bool,
    max_retries: int,
    backoff_unit: float,
) -> list[dict]:
    base = {
        "company_name": row["company_name"],
        "registration_number": row["registration_number"],
        "match_type": row["match_type"],
        "search_strategy": row["search_strategy"],
    }
    try:
        profile = None
        for prefix in prefixes:
            profile = _with_retry(
                lambda p=prefix: fetcher.profile(f"{p}{row['registration_number']}"),
                max_retries,
                backoff_unit,
            )
            if profile is not None:
                break
        if profile is None:
            return [dict(base, table_type=None, field_name=None, year=None,
                         raw_value=None, fetch_error="No revenue data")]
        out = []
        for table_type, field_rows in profile["tables"].items():
            if table_type == BALANCE_TABLE and not include_balance:
                continue
            for field_name, by_year in field_rows:
                for year, raw in by_year.items():
                    out.append(
                        dict(base, table_type=table_type, field_name=field_name,
                             year=int(year), raw_value=raw, fetch_error=None)
                    )
        if not out:
            return [dict(base, table_type=None, field_name=None, year=None,
                         raw_value=None, fetch_error="No revenue data")]
        return out
    except Exception as exc:  # noqa: BLE001
        return [dict(base, table_type=None, field_name=None, year=None,
                     raw_value=None, fetch_error=str(exc)[:200])]
