"""Seeded input generators for the three workloads.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same seed gives byte-identical inputs, and the program under test
only ever sees the generated files. Each generator also returns what it
planted, which is what the workload's correctness check compares the
engine's output against.

The shape parameters below (the Zipf skew, the family sizes, the one
perturbation, the planted failure, duplicate and re-send rates) are
guesses chosen to exercise each code path, not fitted to DBD registry
statistics or any measured corpus. Counters that depend on them —
search pagination, similarity block sizes, ``fuzzy_recall``, LSH
candidate counts — describe this generator, not real traffic.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# Thai-style company names
# --------------------------------------------------------------------------

_CONSONANTS = "กขคงจฉชซดตถทนบปผพฟมยรลวสหอฮ"
_VOWELS = ("า", "ี", "ู", "ะ", "ิ", "ึ", "ุ", "ื", "ำ")
_FINALS = ("", "", "น", "ง", "ม", "ก", "ด", "บ", "ย")
# words the engine's normalizers treat specially, or that the generator
# uses as markers: no vocabulary word may contain any of them
_RESERVED = (
    "บริษัท", "จำกัด", "มหาชน", "ห้างหุ้นส่วน", "ประเทศไทย", "ไทยแลนด์",
    "เอเชีย", "อินเตอร์", "พิเศษ", "ไม่มีจริง",
)
PERTURB_TOKEN = "พิเศษ"
UNKNOWN_TOKEN = "ไม่มีจริง"
# the r-th of the first HEAD_WORDS words starts a Zipf(s) share of the
# name families, so a few first tokens own large search pages and
# similarity blocks (guessed values)
HEAD_WORDS = 300
ZIPF_S = 1.1
# share of the matchable companies whose profile always fails (a guess)
FAIL_FRAC = 0.005


def thai_vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(
            rng.choice(_CONSONANTS) + rng.choice(_VOWELS) + rng.choice(_FINALS)
            for _ in range(rng.randint(2, 3))
        )
        if w in words or any(r in w for r in _RESERVED):
            continue
        words.add(w)
        out.append(w)
    return out


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _apportion(total: int, weights: list[float]) -> list[int]:
    """``total`` slots split by ``weights`` (largest remainder), as a
    list of bucket indices in bucket order."""
    scale = total / sum(weights)
    counts = [int(w * scale) for w in weights]
    by_remainder = sorted(range(len(weights)), key=lambda i: counts[i] - weights[i] * scale)
    for i in by_remainder[: total - sum(counts)]:
        counts[i] += 1
    return [i for i, c in enumerate(counts) for _ in range(c)]


def display_name(core: str) -> str:
    return f"บริษัท {core} จำกัด"


@dataclass
class CompanyInputs:
    """The scrape_e1 input and what was planted in it.

    ``registry``: (reg, display) rows the simulated site serves.
    ``companies``: (company_name, registration_number or "") in CSV order.
    ``kind``: company_name → exact | reg | perturbed | unknown.
    ``true_reg``: company_name → the registry entry it was made from
    (absent for unknown companies).
    ``fail_regs``: registry numbers whose profile always errors."""

    registry: list[tuple[str, str]]
    companies: list[tuple[str, str]]
    kind: dict[str, str]
    true_reg: dict[str, str]
    fail_regs: frozenset[str]


def make_companies(seed: int, n: int) -> CompanyInputs:
    """``n`` companies over an ``n``-entry registry. Mix by position
    (the hermetic pipeline query's layout): 1/2 exact registry names,
    1/4 exact names carrying their registration number, 1/8 perturbed
    by a token inserted before the last one (the fuzzy path: token
    Jaccard 3/4 to the true entry, at most 2/5 to its family), 1/8
    unknown."""
    rng = random.Random(seed)
    vocab = thai_vocabulary(rng, 3000)
    head = vocab[:HEAD_WORDS]
    # cores come in families sharing their first two tokens, so a
    # perturbed name's two-token trim returns several hits (a page of
    # candidate lines, no redirect) and only the similarity join can
    # pick the right one. The shape is the same on every seed — family
    # sizes cycle 2, 3, 4 and the r-th head word starts a fixed Zipf
    # share of the families — so a pass's work barely depends on the
    # seed; only the strings and their order do.
    sizes: list[int] = []
    while sum(sizes) < n:
        sizes.append(min(2 + len(sizes) % 3, n - sum(sizes)))
    firsts = [head[r] for r in _apportion(len(sizes), _zipf_weights(HEAD_WORDS, ZIPF_S))]
    cores: list[str] = []
    seen: set[str] = set()
    stems: set[str] = set()
    for first, size in zip(firsts, sizes):
        stem = f"{first} {rng.choice(vocab)}"
        while stem in stems:
            stem = f"{first} {rng.choice(vocab)}"
        stems.add(stem)
        members = 0
        while members < size:
            core = f"{stem} {rng.choice(vocab)}"
            if core not in seen:
                seen.add(core)
                cores.append(core)
                members += 1
    rng.shuffle(cores)
    regs: set[str] = set()
    while len(regs) < n:
        regs.add("0" + "".join(rng.choice("0123456789") for _ in range(12)))
    reg_list = sorted(regs)
    rng.shuffle(reg_list)
    registry = [(reg, display_name(core)) for reg, core in zip(reg_list, cores)]

    companies: list[tuple[str, str]] = []
    kind: dict[str, str] = {}
    true_reg: dict[str, str] = {}
    for i, (reg, disp) in enumerate(registry):
        slot = i % 8
        if slot == 7:
            name, k, r = f"บริษัท {UNKNOWN_TOKEN} {i} จำกัด", "unknown", ""
        elif slot == 3:
            first, second, last = cores[i].split(" ")
            name = display_name(f"{first} {second} {PERTURB_TOKEN} {last}")
            k, r = "perturbed", ""
        elif slot in (1, 5):
            name, k, r = disp, "reg", reg
        else:
            name, k, r = disp, "exact", ""
        companies.append((name, r))
        kind[name] = k
        if k != "unknown":
            true_reg[name] = reg
    matchable = [
        true_reg[c] for c, _ in companies if kind[c] in ("exact", "reg")
    ]
    fail_regs = frozenset(rng.sample(matchable, max(1, int(len(matchable) * FAIL_FRAC))))
    rng.shuffle(companies)
    return CompanyInputs(registry, companies, kind, true_reg, fail_regs)


def write_companies_csv(path: str, companies: list[tuple[str, str]]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["company_name", "registration_number"])
        w.writerows(companies)


# --------------------------------------------------------------------------
# English-like documents with planted duplicate clusters
# --------------------------------------------------------------------------

_LETTERS_C = "bcdfghjklmnprstvwz"
_LETTERS_V = "aeiou"
# English marker stopwords (functions/text_analysis LANG_MARKERS "en"):
# a fifth of every document, so the fast language id says "en" and the
# quality score clears the curation gate
_EN_STOP = ("the", "and", "of", "is", "was", "with", "that", "this", "for", "are")
DOC_WORDS = 60
# share of the batch corpus in planted duplicate clusters, and share of
# each later epoch's rows re-sent from earlier epochs (guesses)
DUP_FRAC = 0.3
RESEND_FRAC = 0.2


def _latin_vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        w = "".join(
            rng.choice(_LETTERS_C) + rng.choice(_LETTERS_V)
            for _ in range(rng.randint(2, 4))
        )
        words.add(w)
    return sorted(words)


def _doc_text(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(
        rng.choice(_EN_STOP) if rng.random() < 0.2 else rng.choice(vocab)
        for _ in range(DOC_WORDS)
    )


def _near_copy(rng: random.Random, vocab: list[str], text: str) -> str:
    """Replace the last word: one of 58 word 3-shingles changes, so the
    Jaccard to the original is 57/59 ≈ 0.97 — far above the 0.8
    threshold even for the 128-hash signature estimate (σ ≈ 0.016)."""
    words = text.split(" ")
    new = rng.choice(vocab)
    while new == words[-1]:
        new = rng.choice(vocab)
    words[-1] = new
    return " ".join(words)


def _exact_copy(rng: random.Random, text: str) -> str:
    """Same content with some single spaces doubled: the exact-dedup
    fingerprint squeezes whitespace and the shingler splits on
    whitespace runs, so both see the original. Case is kept, since
    shingles are case-sensitive."""
    words = text.split(" ")
    gaps = [" "] * (len(words) - 1)
    for i in rng.sample(range(len(gaps)), 3):
        gaps[i] = "  "
    return words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))


@dataclass
class DocInputs:
    """Documents as (doc_id, text) and the planted duplicate clusters:
    ``clusters`` maps a cluster id to its member doc ids; every doc not
    in a cluster is unique. ``epochs`` (ingest only) lists the doc ids
    of each epoch in order."""

    docs: list[tuple[int, str]]
    clusters: dict[int, list[int]]
    epochs: list[list[int]] = field(default_factory=list)


def make_documents(seed: int, n: int) -> DocInputs:
    """``n`` documents; about ``DUP_FRAC`` of them are members of planted
    clusters of 2-5 documents mixing exact and near copies of one base.
    Ids are shuffled so a cluster's survivor is not always its base."""
    rng = random.Random(seed)
    vocab = _latin_vocabulary(rng, 5000)
    texts: list[str] = []
    groups: list[list[int]] = []
    while len(texts) < n:
        base = _doc_text(rng, vocab)
        if rng.random() < DUP_FRAC / 3.5:
            size = min(rng.randint(2, 5), n - len(texts))
            members = [base] + [
                _exact_copy(rng, base) if rng.random() < 0.5
                else _near_copy(rng, vocab, base)
                for _ in range(size - 1)
            ]
        else:
            members = [base]
        groups.append(list(range(len(texts), len(texts) + len(members))))
        texts.extend(members)
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    docs = [(ids[i], t) for i, t in enumerate(texts)]
    clusters = {
        ci: sorted(ids[i] for i in g) for ci, g in enumerate(groups) if len(g) > 1
    }
    return DocInputs(docs, clusters)


def make_epochs(seed: int, n_epochs: int, per_epoch: int) -> DocInputs:
    """``n_epochs`` epochs of ``per_epoch`` documents. Every epoch plants
    a few in-epoch near-duplicate pairs; each later epoch also re-sends
    ``RESEND_FRAC`` of its rows as exact or near copies of documents
    from earlier epochs. A near copy only ever changes the last word,
    so any chain of copies stays within one word of its cluster's first
    document. Ids grow with the epoch, so a cluster's earliest member
    is its minimum id — the one the store keeps."""
    rng = random.Random(seed)
    vocab = _latin_vocabulary(rng, 5000)
    docs: list[tuple[int, str]] = []
    clusters: dict[int, list[int]] = {}
    cluster_of: dict[int, int] = {}
    epochs: list[list[int]] = []
    for e in range(n_epochs):
        rows: list[tuple[str, int | None]] = []
        while len(rows) < per_epoch:
            if e > 0 and rng.random() < RESEND_FRAC:
                src_id, src_text = docs[rng.randrange(len(docs))]
                if src_id not in cluster_of:
                    cluster_of[src_id] = len(clusters)
                    clusters[len(clusters)] = [src_id]
                text = (
                    _exact_copy(rng, src_text) if rng.random() < 0.5
                    else _near_copy(rng, vocab, src_text)
                )
                rows.append((text, cluster_of[src_id]))
            elif rng.random() < 0.05 and len(rows) + 2 <= per_epoch:
                base = _doc_text(rng, vocab)
                ci = len(clusters)
                clusters[ci] = []
                rows += [(base, ci), (_near_copy(rng, vocab, base), ci)]
            else:
                rows.append((_doc_text(rng, vocab), None))
        ids = []
        for text, ci in rows:
            doc_id = len(docs) + 1
            docs.append((doc_id, text))
            ids.append(doc_id)
            if ci is not None:
                clusters[ci].append(doc_id)
                cluster_of[doc_id] = ci
        epochs.append(ids)
    return DocInputs(docs, {k: sorted(v) for k, v in clusters.items()}, epochs)
