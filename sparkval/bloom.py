"""Bloom filter kernel (numpy/python) — the membership monoid.

Fifth member of the engine's mergeable-sketch family (histogram
partials, KLL, HLL, count-min): per-task bit arrays OR together
into any rollup, so a persisted per-partition sketch table answers
"was this value ever seen in any group union" without rescanning.
Same StripReducer partial/merge discipline (strip.rs:126-209) as the
count-min sketch, applied to set membership.

The hash chain is shared with sparkval.countmin and equally
ENGINE-REPLAYABLE: h0 is the first 8 md5 hex chars (identical in
Python, Spark md5()+conv(), DuckDB md5()), and the k probe positions
come from the same mod-Mersenne-prime mixing with every intermediate
< 2^63 — numpy int64, Spark LongType and DuckDB BIGINT compute the
identical bit position, so membership answers are deterministic and
carry a FULL value oracle (positions-present-in-set semantics), not
an invariant one. No false negatives ever; false positives only,
at rate ~(set_bits/m)^k.

Storage: m bits packed into m/64 int64 words (LSB-first within each
word), so a 2^20-bit filter is 16,384 longs = 128 KB — broadcastable
as ONE ROW no matter how many values were added, which is the whole
point versus a distinct-hash-set broadcast that grows linearly.
"""

from __future__ import annotations

import numpy as np

from sparkval.countmin import P, row_coeffs, term_hash

K = 4
M_BITS = 1 << 20  # 1,048,576 bits -> 16,384 longs -> 128 KB


def positions(h0: int, k: int = K, m_bits: int = M_BITS) -> list[int]:
    """The k bit positions for base hash ``h0`` — countmin's
    (a_j*h0+b_j) mod p chain reduced mod m_bits instead of the
    sketch width."""
    return [((a * h0 + b) % P) % m_bits for a, b in row_coeffs(k)]


def empty_filter(m_bits: int = M_BITS) -> np.ndarray:
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    return np.zeros(m_bits // 64, dtype=np.int64)


def add(
    filt: np.ndarray, terms, k: int = K, m_bits: int = M_BITS
) -> np.ndarray:
    """Set the k bits for each term (in place). Hashing is per
    DISTINCT term — callers pre-dedup their batch, so python-level
    md5 cost is O(batch vocabulary). Bit 63 is set through a uint64
    view (1 << 63 overflows signed int64)."""
    u = filt.view(np.uint64)
    for term in terms:
        for pos in positions(term_hash(term), k, m_bits):
            u[pos >> 6] |= np.uint64(1) << np.uint64(pos & 63)
    return filt


def merge(filters) -> np.ndarray:
    """Elementwise bitwise OR — the monoid op (set union)."""
    out = None
    for f in filters:
        a = np.asarray(f, dtype=np.int64)
        out = a.copy() if out is None else out | a
    return out


def contains(
    filt: np.ndarray, term: str, k: int = K, m_bits: int = M_BITS
) -> bool:
    """Membership probe: all k bits set. Never a false negative."""
    u = filt.view(np.uint64)
    return all(
        bool((u[pos >> 6] >> np.uint64(pos & 63)) & np.uint64(1))
        for pos in positions(term_hash(term), k, m_bits)
    )


def fill_ratio(filt: np.ndarray) -> float:
    """Fraction of bits set — the false-positive rate is
    approximately fill_ratio ** k."""
    u = filt.view(np.uint64)
    set_bits = int(sum(int(w).bit_count() for w in u))
    return set_bits / (len(filt) * 64)
