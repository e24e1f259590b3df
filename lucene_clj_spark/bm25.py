"""BM25 scoring — Lucene 10 ``BM25Similarity`` semantics (k1=1.2, b=0.75).

The reference scores every hit with Lucene's default BM25
(IndexSearcher built at reference session.clj:20; scores surface in
every result, search.clj:77). Public Lucene semantics replicated here:

- ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``
- Since Lucene 8 the ``(k1+1)`` numerator factor is dropped:
  ``score = idf * tf / (tf + k1 * (1 - b + b * dl/avgdl))``
- ``avgdl = sumTotalTermFreq / docCount`` (exact, not quantized)
- **dl is byte-quantized**: Lucene stores doc length as a SmallFloat
  4-bit-mantissa byte norm, so ``dl`` in the formula is
  ``byte4ToInt(intToByte4(length))`` — i.e. the length with all but its
  top 4 significant bits zeroed. Score-identical output requires this
  quantization (SURVEY.md §7 hard-part #1).

Three implementations of the SAME arithmetic, so the Spark plan, the
DuckDB oracle, and the numpy WAND kernel agree:

- Column expressions (JVM, whole-stage codegen — the hot path),
- a SQL-text generator (for DuckDB oracles),
- numpy (float32 "lucene-exact" mode for the kernel and test oracles).

The quantization trick shared by all three: ``numBits(dl)`` via the
length of the binary-string rendering (Spark ``bin``, DuckDB
``printf('%b',·)``), then ``qdl = (dl >> shift) << shift`` with
``shift = max(numBits - 4, 0)`` — integer-exact everywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


# --- SmallFloat (public Lucene util semantics) -------------------------

def int_to_int4(i: np.ndarray | int):
    """Lucene SmallFloat.intToInt4: 4-bit-mantissa encode (0..231)."""
    i = np.asarray(i, dtype=np.int64)
    num_bits = np.where(i > 0, 64 - _nlz64(i), 0)
    shift = np.maximum(num_bits - 4, 0)
    small = num_bits < 4
    encoded = ((i >> shift) & 0x07) | ((shift + 1) << 3)
    return np.where(small, i, encoded)


def int4_to_int(b: np.ndarray | int):
    """Lucene SmallFloat.int4ToInt: decode back to the quantized length."""
    b = np.asarray(b, dtype=np.int64)
    bits = b & 0x07
    shift = (b >> 3) - 1
    return np.where(shift == -1, bits, (bits | 0x08) << np.maximum(shift, 0))


def _nlz64(i: np.ndarray) -> np.ndarray:
    i = np.asarray(i, dtype=np.uint64)
    out = np.zeros(i.shape, dtype=np.int64)
    nz = i > 0
    # number of leading zeros via float64 exponent is unsafe >2^53; do it
    # with a log2 on exact integers <= 2^62 (doc lengths are far smaller,
    # but keep it exact anyway via bit-shifting loop over 6 strides).
    v = i.copy()
    n = np.full(i.shape, 64, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        mask = v >= (np.uint64(1) << np.uint64(s))
        n = np.where(mask, n - s, n)
        v = np.where(mask, v >> np.uint64(s), v)
    n = n - 1  # v is now 1 for nonzero inputs
    return np.where(nz, n, 64)


# LUT used by the WAND kernel: norm byte -> quantized length (float32),
# mirroring BM25Similarity.LENGTH_TABLE.
LENGTH_TABLE = int4_to_int(np.arange(256)).astype(np.float32)


def quantize_length_np(dl: np.ndarray) -> np.ndarray:
    """length -> quantized length (top-4-significant-bits)."""
    return int4_to_int(int_to_int4(dl))


def norm_byte_np(dl: np.ndarray) -> np.ndarray:
    """length -> the stored 1-byte norm (uint8)."""
    return int_to_int4(dl).astype(np.uint8)


# --- Column-expression implementation (JVM hot path) -------------------

def quantized_dl_col(dl: Column) -> Column:
    """Byte-quantized doc length as a JVM Column expression.

    ``shiftleft/shiftright`` take only literal shift amounts in the
    Column API, so the shift is done with exact power-of-two double
    arithmetic: dl < 2^31 and 2^shift <= 2^27, so division, floor and
    multiply are all exact in float64 — bit-identical to the integer
    ``>>``/``<<`` the DuckDB oracle uses."""
    d = dl.cast("long")
    nbits = F.length(F.bin(d))
    shift = F.greatest(nbits - F.lit(4), F.lit(0))
    p = F.pow(F.lit(2.0), shift.cast("double"))
    return (F.floor(d.cast("double") / p) * p).cast("long")


def idf_col(df_: Column, n_docs: Column) -> Column:
    return F.log(
        F.lit(1.0)
        + (n_docs.cast("double") - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )


def freq_score_col(w_idf: Column, freq: Column, dl: Column,
                   avgdl: Column) -> Column:
    """BM25 over a per-doc ``freq`` as a Column expression (double
    math): ``w_idf * freq / (freq + K1*((1-B) + B*qdl/avgdl))`` with
    Lucene's byte-quantized dl. The one scorer of the term plans
    (``score_col``, ``w_idf`` the term's idf) and of every positional
    plan (``w_idf`` the boost-folded idf sum, ``freq`` the phrase or
    span freq) — the association the kernels' numpy scoring uses."""
    freq = freq.cast("double")
    denom = freq + F.lit(K1) * (
        F.lit(1.0 - B)
        + F.lit(B) * quantized_dl_col(dl).cast("double")
        / avgdl.cast("double")
    )
    return w_idf * freq / denom


def score_col(tf: Column, dl: Column, df_: Column, n_docs: Column,
              avgdl: Column) -> Column:
    """Full BM25 score of a term as a Column expression."""
    return freq_score_col(idf_col(df_, n_docs), tf, dl, avgdl)


# --- SQL-text implementation (DuckDB oracle parity) --------------------

def quantized_dl_sql(dl: str) -> str:
    return (
        f"(({dl} >> greatest(length(printf('%b', {dl})) - 4, 0))"
        f" << greatest(length(printf('%b', {dl})) - 4, 0))"
    )


def idf_sql(df_: str, n_docs: str) -> str:
    return f"ln(1.0 + (CAST({n_docs} AS DOUBLE) - {df_} + 0.5) / ({df_} + 0.5))"


def score_sql(tf: str, dl: str, df_: str, n_docs: str, avgdl: str) -> str:
    denom = (
        f"(CAST({tf} AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} * "
        f"CAST({quantized_dl_sql(dl)} AS DOUBLE) / CAST({avgdl} AS DOUBLE)))"
    )
    return f"({idf_sql(df_, n_docs)} * CAST({tf} AS DOUBLE) / {denom})"


# --- numpy float32 implementation (lucene-exact; kernel + oracles) -----

def score_np(
    tf: np.ndarray,
    norm_bytes: np.ndarray,
    df_: int,
    n_docs: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
) -> np.ndarray:
    """Float32 scoring exactly as BM25Scorer computes it:
    ``weight - weight / (1 + freq * cache[norm])`` with
    ``cache[i] = 1 / (k1 * (1 - b + b * LENGTH_TABLE[i] / avgdl))``.
    """
    idf = np.float32(np.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5)))
    cache = (
        1.0 / (k1 * ((1.0 - b) + b * LENGTH_TABLE.astype(np.float64) / avgdl))
    ).astype(np.float32)
    weight = idf  # boost = 1
    norm_inv = cache[np.asarray(norm_bytes, dtype=np.uint8)]
    freq = np.asarray(tf, dtype=np.float32)
    return (weight - weight / (np.float32(1.0) + freq * norm_inv)).astype(
        np.float32
    )
