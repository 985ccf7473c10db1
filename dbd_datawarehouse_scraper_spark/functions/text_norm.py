"""Thai company-name normalization as pure column expressions.

Replicates the reference's normalization semantics (scraper_v2.py:612-734)
with built-in Spark SQL functions only — no Python in the hot path, so
the whole chain stays inside whole-stage codegen.

Semantics notes (parity with the reference, which uses Python
``str.replace`` — literal, all occurrences — and ``' '.join(s.split())``
for whitespace collapse):

- prefix removal is LITERAL substring removal, not word-boundary regex;
- partnership prefixes are removed longest-first and only ONE is removed
  (``break`` after the first hit, scraper_v2.py:643-651);
- whitespace collapse strips leading/trailing and squeezes interior runs.
"""

from __future__ import annotations

import re as _re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered longest-first, exactly as the reference iterates them
# (scraper_v2.py:643-647): only the first matching prefix is removed.
PARTNERSHIP_PREFIXES = [
    "ห้างหุ้นส่วนจำกัด",          # limited partnership
    "ห้างหุ้นส่วนสามัญนิติบุคคล",  # registered ordinary partnership
    "ห้างหุ้นส่วนสามัญ",          # ordinary partnership
]

COMPANY_PREFIX = "บริษัท"
LIMITED = "จำกัด"
PUBLIC = "มหาชน"

# 18 filler patterns (scraper_v2.py:666-677), case-insensitive, applied as
# one alternation. Order inside the alternation mirrors the reference's
# sequential re.sub loop: parenthesized forms before bare forms so the
# longest match wins at the same position.
_FILLER_PATTERNS = [
    r"\(ประเทศไทย\)", r"ประเทศไทย",
    r"\(ไทยแลนด์\)", r"ไทยแลนด์",
    r"\(Thailand\)", r"Thailand",
    r"\(เอเชีย\)", r"เอเชีย",
    r"\(Asia\)", r"Asia",
    r"อินเตอร์เนชั่นแนล", r"อินเตอร์เนชันแนล",
    r"กรุ๊ปส์", r"กรุ๊ป",
    r"โฮลดิ้งส์", r"โฮลดิ้ง",
    r"เอ็นเตอร์ไพรส์", r"เอ็นเตอร์ไพรซ์",
    r"คอร์ปอเรชั่น", r"คอร์ปอเรชัน",
]
FILLER_REGEX = "(?i)(" + "|".join(_FILLER_PATTERNS) + ")"


def collapse_ws(col: Column) -> Column:
    """``' '.join(s.split())`` — trim + squeeze all whitespace runs."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def _drop_literal(col: Column, literal: str) -> Column:
    """Remove every occurrence of a literal substring (str.replace parity)."""
    return F.replace(col, F.lit(literal), F.lit(""))


def normalize_company_name(col: Column) -> Column:
    """Strip บริษัท / ห้างหุ้นส่วนจำกัด / ห้างหุ้นส่วนสามัญ and collapse
    whitespace (scraper_v2.py:612-621).

    Mirrors the reference ordering: ห้างหุ้นส่วนจำกัด is removed before
    ห้างหุ้นส่วนสามัญ, and removals are literal (all occurrences).
    """
    out = _drop_literal(col, COMPANY_PREFIX)
    out = _drop_literal(out, "ห้างหุ้นส่วนจำกัด")
    out = _drop_literal(out, "ห้างหุ้นส่วนสามัญ")
    return collapse_ws(out)


def strip_partnership_prefix(col: Column) -> Column:
    """Remove the FIRST matching partnership prefix only (longest first),
    replicating the reference's break-after-first loop
    (scraper_v2.py:643-651)."""
    out = col
    # chain of whens: once a prefix matches, later ones must not also fire.
    expr = F.when(
        out.contains(PARTNERSHIP_PREFIXES[0]),
        _drop_literal(out, PARTNERSHIP_PREFIXES[0]),
    )
    for prefix in PARTNERSHIP_PREFIXES[1:]:
        expr = expr.when(out.contains(prefix), _drop_literal(out, prefix))
    return F.trim(expr.otherwise(out))


def _once(value: Column, body) -> Column:
    """Evaluate ``value`` exactly once and feed it to ``body`` as a
    bound variable: ``element_at(transform(array(value), body), 1)``.

    The normalization steps below are conditional rewrites of the form
    ``when(cond(X), f(X)).otherwise(X)`` — Catalyst inlines ``X`` into
    every branch, so chaining them multiplies subtree evaluations
    (~21 regex/trim evals per row for the full core-name chain, the
    match engine's measured CPU hot spot; round 2 capped it with
    persist barriers, round 3 with an Arrow kernel). Binding each
    intermediate to a higher-order-function lambda variable makes the
    duplicated references free variable reads instead of re-evaluated
    regex trees. HOFs are interpreted (no codegen), but two regexes +
    a dozen literal ops per row beat 21 codegen'd regex evals by ~10×
    — and unlike the round-2 staging, this needs no persist barrier,
    so it composes into any expression context (SQL included)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def extract_core_name(col: Column) -> Column:
    """Core company name (before จำกัด), handling raw search-result lines
    (scraper_v2.py:624-662).

    Steps, in reference order:
    1. If the text matches ``\\d+\\s+(0\\d{12})\\s+(.+)`` (a search-result
       line ``rank reg name ...``), keep only the name part.
    2. Remove ONE partnership prefix (longest first).
    3. Remove every literal บริษัท.
    4. If จำกัด occurs, keep the text before the first occurrence.
    5. Collapse whitespace.

    The step-1 result is bound via :func:`_once` exactly once: it is
    the subtree every later when-branch would otherwise duplicate
    (~7 references × a regex each — the source of the chain's old ~21
    regex evals per row). Inside the binding only cheap literal ops
    (contains / replace / trim / split on the bound variable) are
    duplicated, so the whole chain costs 2 regexp_extract + 1
    regexp_replace + ~20 literal string ops per row. Equivalence to
    the reference semantics is pinned by the per-function fuzz suite
    vs the Python model."""
    name_part = F.regexp_extract(col, r"\d+\s+(0\d{12})\s+(.+)", 2)
    return _once(
        F.when(name_part != "", name_part).otherwise(F.trim(col)),
        lambda c0: _core_tail(c0),
    )


def _core_tail(c0: Column) -> Column:
    """Steps 2-5 of :func:`extract_core_name` over an already-bound
    (cheap-to-reference) step-1 result."""
    c2 = F.trim(_drop_literal(strip_partnership_prefix(c0), COMPANY_PREFIX))
    return collapse_ws(
        F.when(
            c2.contains(LIMITED),
            F.trim(F.element_at(F.split(c2, LIMITED), 1)),
        ).otherwise(c2)
    )


# --- Arrow-vectorized core-name kernel -------------------------------------
#
# The column-expression chain above is the semantic reference, but its
# when-branches duplicate upstream subtrees (~21 regex/trim evals per row
# after optimizer collapse — measured ~60-90 µs/row at sf0.1: the match
# engine's CPU hot spot even behind persist barriers). The kernel below
# runs the same five steps as ONE Python pass per row over an Arrow
# batch, with Java-regex semantics reproduced exactly:
#   - Java \s and \d are ASCII-only ([ \t\n\x0B\f\r], [0-9]); Python's
#     default classes are Unicode (Thai digits ๐-๙ match \d!).
#   - Java's un-DOTALL `.` excludes \r \n     ; Python's
#     excludes only \n.
#   - Spark's trim() strips U+0020 spaces only, not all whitespace.
# Equivalence to `extract_core_name` is fuzz-pinned (adversarial
# whitespace/digit rows included) in tests/test_property_fuzz.py.
_JAVA_DOT = "[^\\n\\r\\u0085\\u2028\\u2029]"
_RESULT_LINE_RE = _re.compile(
    r"[0-9]+[ \t\n\x0b\f\r]+(0[0-9]{12})[ \t\n\x0b\f\r]+(" + _JAVA_DOT + r"+)"
)
_ASCII_WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")


def _collapse_ws_py(s: str) -> str:
    """Python mirror of ``collapse_ws``: ASCII-\\s runs → single space,
    then strip leading/trailing spaces."""
    return _ASCII_WS_RE.sub(" ", s).strip(" ")


def py_core_name(name: str | None) -> str | None:
    """Pure-Python ``extract_core_name``, step-for-step (Spark/Java
    semantics — see block comment above)."""
    if name is None:
        return None
    m = _RESULT_LINE_RE.search(name)
    core = m.group(2) if m and m.group(2) != "" else name.strip(" ")
    for prefix in PARTNERSHIP_PREFIXES:
        if prefix in core:
            core = core.replace(prefix, "")
            break
    # the column form trims after the prefix stage whether or not a
    # prefix matched (F.trim wraps the whole when-chain)
    core = core.strip(" ")
    core = core.replace(COMPANY_PREFIX, "").strip(" ")
    if LIMITED in core:
        core = core.split(LIMITED, 1)[0].strip(" ")
    return _collapse_ws_py(core)


@lru_cache(maxsize=None)
def _core_name_udf():
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _core(names: pd.Series) -> pd.Series:
        return names.map(py_core_name, na_action="ignore")

    return _core


def extract_core_name_vec(col: Column) -> Column:
    """Arrow-vectorized :func:`extract_core_name` — identical output
    (fuzz-pinned), ~2 orders of magnitude less CPU per row. Partition-
    local, no shuffle."""
    return _core_name_udf()(col)


def extract_core_name_key(col: Column) -> Column:
    """:func:`extract_core_name`, but empty results become NULL — the
    equi-join key form. An inner join on this key drops empty-core rows
    without an explicit ``filter(key != '')``, which matters for the
    no-barrier chain: Catalyst pushes such a filter through the key
    projection, substituting (and re-evaluating) the whole chain in the
    filter. With the emptiness folded into the :func:`_once` body the
    chain runs exactly once per row per side.

    Column-expression CONSTRUCTION is itself a cost at this tree size:
    each ``F.xxx`` call is a py4j round-trip, and the full key tree is
    ~0.5 s of driver-side build per invocation. Columns are immutable
    plan fragments, so the built tree is cached per source-column name
    and reused across queries (:func:`_core_key_cached`)."""
    name_part = F.regexp_extract(col, r"\d+\s+(0\d{12})\s+(.+)", 2)
    return _once(
        F.when(name_part != "", name_part).otherwise(F.trim(col)),
        lambda c0: _once(_core_tail(c0), lambda c: F.when(c != "", c)),
    )


@lru_cache(maxsize=64)
def _core_key_cached(col_name: str) -> Column:
    """Memoized :func:`extract_core_name_key` over a named column."""
    return extract_core_name_key(F.col(col_name))


def add_core_name(
    df: DataFrame,
    src_col: str,
    out_col: str = "_core",
    persist: bool = True,
) -> DataFrame:
    """Pipeline form of ``extract_core_name`` — size-aware form
    selection (round 4):

    - ``persist=True`` (big pipeline legs, re-read across join
      branches): the Arrow kernel (:func:`extract_core_name_vec`) —
      one Python pass per row instead of the column chain's ~21
      regex/trim re-evaluations (measured ~5× faster than the r2
      staged-chain form on the match-engine legs, byte-identical
      output, fuzz-pinned in tests/test_property_fuzz.py) — followed
      by one tracked cache barrier so re-reads don't re-run the
      Python workers.
    - ``persist=False`` (small one-shot relations, the caller's
      explicit signal that barriers aren't worth paying): the pure
      column-expression chain, which stays inside whole-stage codegen
      with zero Python-worker stages. Below ~10⁵ rows the two
      Arrow worker round-trips dominate the per-row savings (the r3
      kernel-everywhere form cost 0.77 s on a 1.5k-row broadcast join
      whose oracle runs in 0.04 s); the codegen chain is effectively
      free there, and its re-evaluation toll only matters on inputs
      big enough that callers persist anyway. Both figures were
      measured before AQE could coalesce persisted legs, when each
      kernel ran 32 Python tasks at ~0.3 s apiece on ``local[4]``
      (session.py); the break-even has not been re-measured since.

    Both forms are semantically identical (the chain IS the semantic
    reference; the kernel is fuzz-pinned to it). Persists are tracked
    (caching.py) — call ``release_caches()`` after the consuming
    action."""
    from ..caching import tracked_persist

    if not persist:
        return df.select("*", extract_core_name(F.col(src_col)).alias(out_col))
    out = df.select("*", extract_core_name_vec(F.col(src_col)).alias(out_col))
    return tracked_persist(out)


def clean_filler_words(col: Column) -> Column:
    """Remove the 18 filler patterns, case-insensitive, then collapse
    whitespace (scraper_v2.py:666-697)."""
    return collapse_ws(F.regexp_replace(col, FILLER_REGEX, ""))


def remove_parentheses(col: Column) -> Column:
    """Drop ``(...)`` and full-width ``（...）`` content
    (scraper_v2.py:700-714)."""
    out = F.regexp_replace(col, r"\([^)]*\)", "")
    out = F.regexp_replace(out, r"（[^）]*）", "")
    return collapse_ws(out)


def remove_trailing_numbers(col: Column) -> Column:
    """Drop ``(123)`` anywhere and a trailing numeric suffix
    (scraper_v2.py:717-734)."""
    out = F.regexp_replace(col, r"\(\d+\)", "")
    out = F.regexp_replace(out, r"\s+\d+\s*$", "")
    return collapse_ws(out)
