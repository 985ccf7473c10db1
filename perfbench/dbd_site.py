"""The benchmark's simulated DBD site: the package's ``FakeDbdFetcher``
with its registry scans replaced by an index, so lookup work is
proportional to the hits returned instead of the registry size.

It is the load generator, not the program under test. Its cost is
reported separately (``bench.site.*`` in the traced run) so it can be
subtracted from the scrape workload; it is never an engine gain.

Search, pagination, redirects, URL prefixes and the profile tables are
the fixture's own code. Only two things are replaced:

- ``_hits`` (substring containment of the term in each display name)
  reads a suffix array over all display names joined by a separator:
  the suffixes that start with the term form one contiguous range,
  found by two binary searches that compare only ``len(term)``
  characters, and each suffix in the range is one occurrence of the
  term. A lookup costs O(|term| log N) plus the occurrences.
- ``profile`` tests registry membership against a set. The fixture
  rebuilds ``{r for r, _ in self.registry}`` on every call
  (sources/http_fetch.py, ``FakeDbdFetcher.profile``), which costs
  about 40% of a 15k-company scrape; that is the lead for indexing the
  fixture itself.
"""

from __future__ import annotations

import re
import time
import zlib
from array import array
from bisect import bisect_left, bisect_right
from typing import Any

from dbd_datawarehouse_scraper_spark.sources.http_fetch import FakeDbdFetcher

_SEP = "\x00"
_REG_AT_END = re.compile(r"(0\d{12})$")
# about one call in this many fails once and then answers its retry
# (a guess, not a measured rate of the real site)
FLAKY_EVERY = 64


class SiteIndex:
    """The immutable, picklable part of the site: the sorted registry,
    its suffix array, and the profile layout. Built once per input on
    the driver; every per-partition :class:`SimulatedDbdSite` shares it."""

    def __init__(
        self,
        registry: list[tuple[str, str]],
        income_fields: tuple[str, ...],
        balance_fields: tuple[str, ...],
        fail_regs: frozenset[str] = frozenset(),
    ):
        self.registry = sorted(registry)
        self.reg_set = frozenset(r for r, _ in self.registry)
        self.income_fields = tuple(income_fields)
        self.balance_fields = tuple(balance_fields)
        self.fail_regs = frozenset(fail_regs)
        self.text = _SEP.join(d for _, d in self.registry) + _SEP
        self.starts = array("i")
        pos = 0
        for _, d in self.registry:
            self.starts.append(pos)
            pos += len(d) + 1
        # suffixes up to and including the separator: a term never holds
        # the separator, so the rest of the text never decides a match
        text = self.text
        self.suffixes = array(
            "i",
            sorted(
                (p for p in range(len(text)) if text[p] != _SEP),
                key=lambda p: text[p : text.index(_SEP, p) + 1],
            ),
        )

    def hits(self, term: str) -> list[tuple[str, str]]:
        if not term:
            return []
        text, n = self.text, len(term)
        key = lambda p: text[p : p + n]  # noqa: E731
        lo = bisect_left(self.suffixes, term, key=key)
        hi = bisect_right(self.suffixes, term, lo=lo, key=key)
        starts, sa = self.starts, self.suffixes
        rows = sorted({bisect_right(starts, sa[i]) - 1 for i in range(lo, hi)})
        return [self.registry[i] for i in rows]


class SimulatedDbdSite(FakeDbdFetcher):
    """One per partition, like every ``Fetcher``.

    ``flaky_seed``: when not None, about one call in ``FLAKY_EVERY``
    (chosen by a hash of the seed and the call's key) fails once with a
    ``ConnectionError`` and then answers the retry, so the engine's
    retry loop runs a seeded, partition-independent number of times.
    ``counters``: the traced run's accumulators (``search_calls``,
    ``search_busy_s``, ``profile_calls``, ``profile_busy_s``,
    ``transient_failures``); None in timed runs.

    ``registry`` holds at most the one entry the current ``profile``
    call asks for; search reads the index instead."""

    def __init__(
        self,
        index: SiteIndex,
        flaky_seed: int | None = None,
        counters: dict[str, Any] | None = None,
    ):
        super().__init__(
            [], income_fields=index.income_fields, balance_fields=index.balance_fields,
            fail_regs=index.fail_regs,
        )
        self.index = index
        self.flaky_seed = flaky_seed
        self.counters = counters
        self._retrying: tuple | None = None

    def _maybe_fail(self, key: tuple) -> None:
        """Fail the first attempt of each selected call. A retry repeats
        the same key right away; any other key ends the retry window."""
        if self.flaky_seed is None:
            return
        if key == self._retrying:
            return
        self._retrying = None
        if zlib.crc32(repr((self.flaky_seed,) + key).encode()) % FLAKY_EVERY:
            return
        self._retrying = key
        if self.counters is not None:
            self.counters["transient_failures"].add(1)
        raise ConnectionError(f"transient failure for {key!r}")

    def _hits(self, term: str) -> list[tuple[str, str]]:
        return self.index.hits(term)

    def search(self, term: str, page: int) -> dict[str, Any]:
        t0 = time.perf_counter()
        try:
            self._maybe_fail(("search", term, page))
            return super().search(term, page)
        finally:
            if self.counters is not None:
                self.counters["search_calls"].add(1)
                self.counters["search_busy_s"].add(time.perf_counter() - t0)

    def profile(self, prefixed_reg: str) -> dict[str, Any] | None:
        t0 = time.perf_counter()
        try:
            self._maybe_fail(("profile", prefixed_reg))
            # the fixture's own profile code over a registry of just the
            # entry asked for (or none), so its per-call membership set
            # is built from at most one row
            m = _REG_AT_END.search(prefixed_reg)
            reg = m.group(1) if m else None
            self.registry = [(reg, "")] if reg in self.index.reg_set else []
            return super().profile(prefixed_reg)
        finally:
            if self.counters is not None:
                self.counters["profile_calls"].add(1)
                self.counters["profile_busy_s"].add(time.perf_counter() - t0)


def check_against_fixture(index: SiteIndex, terms: list[str], regs: list[str]) -> int:
    """Compare the two methods this site replaces with the package's
    ``FakeDbdFetcher`` over the same registry: the hits of each term,
    and the profile of each registration number under every URL
    prefix. Returns the number of mismatching calls."""
    fake = FakeDbdFetcher(
        index.registry, income_fields=index.income_fields,
        balance_fields=index.balance_fields, fail_regs=index.fail_regs,
    )
    site = SimulatedDbdSite(index)
    bad = sum(site._hits(term) != fake._hits(term) for term in terms)
    for reg in regs:
        for prefix in ("5", "7", "6", "3", "", "9"):
            url = prefix + reg
            try:
                want = ("ok", fake.profile(url))
            except ConnectionError as exc:
                want = ("err", str(exc))
            try:
                got = ("ok", site.profile(url))
            except ConnectionError as exc:
                got = ("err", str(exc))
            bad += got != want
    return bad
