"""Closed-form model of the benchmark's input recipe.

The expectations every op is checked against are computed here, in plain
Python and NumPy, from the generator recipe alone (FIXTURES.md and
``sources/synth.py``'s docstrings): row ordinal ``i`` gets

    doc_id = f"doc-{i:08d}", n_tok = 1 + i % 512, source = SOURCES[i % 4],
    tokens = [(31 i + 7 j) % VOCAB[source] for j in range(n_tok)]

then corruption mode ``i % every`` (modes 0-6, see ``corrupt_sequences``) and
an exact duplicate of every row with ``i % dup_every == 7``. Nothing here
calls the engine, so a wrong engine answer cannot also be the expectation.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

SOURCES = ("cc", "wiki", "code", "books")
VOCABS = {"cc": 50304, "wiki": 32000, "code": 65536, "books": 32000}
MAX_SEQ_LEN = 512
N_MODES = 7

RULE_IDS = (
    "doc_id_format",
    "tokens_spec",
    "ntok_consistency",
    "tokens_not_empty",
    "ntok_bounds",
    "doc_id_unique",
    "source_known",
    "tokens_in_vocab",
    "tokens_match_reference",
    "ntok_drift",
)

# Row-level violations of each corruption mode (seq_rules.yaml).
_MODE_RULES = {
    0: ("tokens_not_empty", "ntok_bounds", "tokens_match_reference"),
    1: ("ntok_consistency",),
    2: ("tokens_spec", "tokens_in_vocab", "tokens_match_reference"),
    3: ("tokens_spec", "ntok_consistency", "tokens_match_reference"),
    4: ("source_known",),
    5: ("doc_id_format",),
    6: ("tokens_match_reference",),
}

# ntok_drift rule parameters (seq_rules.yaml) and the reference histogram
# (synth.gen_ref_distribution: uniform over 16 buckets for known sources).
_DRIFT_BUCKETS, _DRIFT_LO, _DRIFT_HI, _DRIFT_THRESHOLD = 16, 0, 512, 0.25
_PSI_EPS = 1e-6


@dataclass
class TableModel:
    """What the seeded table must contain and what validating it must find."""

    rows: int = 0
    tokens: int = 0
    rule_counts: Counter = field(default_factory=Counter)
    subjects: set = field(default_factory=set)

    @property
    def violations(self) -> int:
        return sum(self.rule_counts.values())


def _mode(i: int, every: int) -> int | None:
    m = i % every
    return m if m < N_MODES else None


def _duplicated(i: int, mode: int | None, dup_every: int) -> bool:
    # a malformed doc_id (mode 5) no longer parses back to its ordinal
    return mode != 5 and i % dup_every == 7


def _psi_violations(hist: dict[str, Counter]) -> list[str]:
    """Groups whose PSI against the reference histogram exceeds the
    threshold. Known sources carry reference mass 1/16 in every bucket;
    any other group has no reference rows at all."""
    bad = []
    for grp, counts in hist.items():
        total = sum(counts.values())
        ref = (
            {b: 1.0 / _DRIFT_BUCKETS for b in range(_DRIFT_BUCKETS)}
            if grp in VOCABS
            else {}
        )
        psi = 0.0
        for b in set(ref) | set(counts):
            q = max(counts.get(b, 0) / total, _PSI_EPS)
            p = max(ref.get(b, 0.0), _PSI_EPS)
            psi += (q - p) * math.log(q / p)
        if psi > _DRIFT_THRESHOLD:
            bad.append(grp)
    return bad


def _bucket(n_tok: int) -> int:
    width = (_DRIFT_HI - _DRIFT_LO) / _DRIFT_BUCKETS
    return min(_DRIFT_BUCKETS - 1, max(0, math.floor((n_tok - _DRIFT_LO) / width)))


def pristine_tokens(start: int, n: int) -> int:
    """Total tokens of the uncorrupted reference over the same ordinals."""
    return sum(1 + i % MAX_SEQ_LEN for i in range(start, start + n))


def table_model(start: int, n: int, every: int, dup_every: int = 101) -> TableModel:
    """Model of ``with_duplicates(corrupt_sequences(ordinals start..start+n-1))``
    validated with seq_rules.yaml against a pristine reference."""
    out = TableModel()
    hist: dict[str, Counter] = {}
    for i in range(start, start + n):
        mode = _mode(i, every)
        mult = 2 if _duplicated(i, mode, dup_every) else 1
        n_tok = 1 + i % MAX_SEQ_LEN
        source = SOURCES[i % 4]
        doc_id = f"DOC_{i}" if mode == 5 else f"doc-{i:08d}"
        size = n_tok
        if mode == 0:
            size, n_tok = 0, 0
        elif mode == 1:
            n_tok += 1
        elif mode == 3:
            size = 0  # null token list
        elif mode == 4:
            source = "bogus"
        out.rows += mult
        out.tokens += mult * size
        hist.setdefault(source, Counter())[_bucket(n_tok)] += mult
        rules = list(_MODE_RULES.get(mode, ()))
        if mode == 1 and n_tok > MAX_SEQ_LEN:
            rules.append("ntok_bounds")
        for r in rules:
            out.rule_counts[r] += mult
        if mult == 2:
            out.rule_counts["doc_id_unique"] += 1
        if rules or mult == 2:
            out.subjects.add(doc_id)
    for grp in _psi_violations(hist):
        out.rule_counts["ntok_drift"] += 1
        out.subjects.add(grp)
    return out


# ---------------------------------------------------------------------------
# token k-gram duplication (operators.dedup.token_ngram_dup_stats)


def _row_tokens(i: int, every: int) -> list[int] | None:
    mode = _mode(i, every)
    n_tok = 1 + i % MAX_SEQ_LEN
    vocab = VOCABS[SOURCES[i % 4]]
    toks = [(i * 31 + j * 7) % vocab for j in range(n_tok)]
    if mode == 0:
        return []
    if mode == 2:
        return [-1] + toks[1:]
    if mode == 3:
        return None
    if mode == 6:
        return toks[:-1] + [(toks[-1] + 1) % 32000]
    return toks


def ngram_model(
    start: int,
    n: int,
    every: int,
    dup_every: int = 101,
    k: int = 8,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> tuple[int, int]:
    """(windows, dup_windows) over the table: every k-token window's
    polynomial fingerprint ``(seed*base^k + sum_t tok[j+t]*base^(k-1-t)) %
    mod`` (tokens taken floor-mod ``mod``); a window is duplicated when its
    fingerprint occurs in at least two row instances."""
    coeff = np.array([pow(base, k - 1 - t, mod) for t in range(k)], dtype=np.int64)
    head = seed * pow(base, k, mod) % mod
    row_ids, hashes = [], []
    row = 0
    for i in range(start, start + n):
        toks = _row_tokens(i, every)
        mode = _mode(i, every)
        copies = 2 if _duplicated(i, mode, dup_every) else 1
        for _ in range(copies):
            if toks is not None and len(toks) >= k:
                t = np.asarray(toks, dtype=np.int64) % mod
                win = np.lib.stride_tricks.sliding_window_view(t, k)
                # each product < 2^31 * 2^31: reduce term by term, no overflow
                h = np.zeros(len(win), dtype=np.int64)
                for c in range(k):
                    h = (h + win[:, c] * coeff[c] % mod) % mod
                hashes.append((h + head) % mod)
                row_ids.append(np.full(len(win), row, dtype=np.int64))
            row += 1
    if not hashes:
        return 0, 0
    h = np.concatenate(hashes)
    r = np.concatenate(row_ids)
    uniq_h, inv = np.unique(h, return_inverse=True)
    # row instances per fingerprint: distinct (row, fingerprint) pairs
    pairs = np.unique(r * len(uniq_h) + inv)
    docs_per_h = np.bincount(pairs % len(uniq_h), minlength=len(uniq_h))
    return int(len(h)), int((docs_per_h[inv] >= 2).sum())
