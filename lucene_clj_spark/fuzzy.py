"""Edit-distance metrics for fuzzy matching.

Lucene's FuzzyQuery measures Damerau-Levenshtein distance — an adjacent
transposition ("ab" -> "ba") counts as ONE edit, where plain Levenshtein
counts two (reference query.clj:126-147; SURVEY §7 hard-part 6).  This
module implements the true (unrestricted) Damerau-Levenshtein metric of
Lowrance & Wagner, which is also exactly what DuckDB's
``damerau_levenshtein`` computes, so the oracle twin is expressible 1:1
in SQL.  (The common "restricted" variant, OSA, differs only on
contrived cases like "ca" -> "abc" — OSA 3 vs DL 2.)

``damerau_levenshtein_many`` runs the same DP for one query term
against many candidates at once, vectorized over the candidates — the
driver-side candidate scan over the term dictionary (termdict.py).
The scalar version serves the Arrow-batched pandas UDF that scans the
dictionary in Spark when it is too large for the driver; query terms
are short, so the O(|a|*|b|) DP is trivially cheap per pair.
"""

from __future__ import annotations

import numpy as np


def damerau_levenshtein(a: str, b: str) -> int:
    """True Damerau-Levenshtein distance (Lowrance-Wagner DP with the
    last-occurrence table), matching DuckDB's damerau_levenshtein."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    # (la+2) x (lb+2) DP matrix with the sentinel border row/col
    d = [[maxdist] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        ai = a[i - 1]
        for j in range(1, lb + 1):
            bj = b[j - 1]
            k = da.get(bj, 0)
            l = db
            if ai == bj:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitute / match
                d[i + 1][j] + 1,           # insert
                d[i][j + 1] + 1,           # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        da[ai] = i
    return d[la + 1][lb + 1]


def bounded_distance(a: str, b: str, max_edits: int) -> int:
    """Distance with a cheap length-difference short-circuit; returns
    ``max_edits + 1`` when the bound provably cannot be met."""
    if abs(len(a) - len(b)) > max_edits:
        return max_edits + 1
    return damerau_levenshtein(a, b)


def damerau_levenshtein_many(query: str, terms) -> np.ndarray:
    """``[damerau_levenshtein(query, t) for t in terms]`` as an int64
    array: the same Lowrance-Wagner DP with ``query`` on the rows and
    every candidate on one vectorized column axis. Candidates are
    code-point arrays padded with -1 (never a query char); a cell
    depends only on the two prefixes, so each candidate's distance is
    read at its own length and the padding never reaches it. The
    sentinel border exceeds every reachable distance, like ``maxdist``.
    """
    n = len(terms)
    lens = np.fromiter(map(len, terms), np.int64, n)
    width = int(lens.max()) if n else 0
    cand = np.full((n, width), -1, np.int64)
    flat = np.frombuffer("".join(terms).encode("utf-32-le"), np.uint32)
    starts = np.cumsum(lens) - lens
    cand[np.repeat(np.arange(n), lens),
         np.arange(len(flat)) - np.repeat(starts, lens)] = flat
    la = len(query)
    # d[i+1, j+1, c] = distance(query[:i], terms[c][:j])
    d = np.full((la + 2, width + 2, n), la + width + 1, np.int64)
    d[1:, 1, :] = np.arange(la + 1)[:, None]
    d[1, 1:, :] = np.arange(width + 1)[:, None]
    last_row = np.zeros((n, width), np.int64)  # da[] per candidate char
    cols = np.arange(n)
    for i in range(1, la + 1):
        ai = ord(query[i - 1])
        db = np.zeros(n, np.int64)
        for j in range(1, width + 1):
            k = last_row[:, j - 1]
            l = db
            match = cand[:, j - 1] == ai
            db = np.where(match, j, db)
            best = np.minimum(d[i, j] + ~match,          # substitute
                              np.minimum(d[i + 1, j],    # insert
                                         d[i, j + 1]) + 1)  # delete
            d[i + 1, j + 1] = np.minimum(
                best, d[k, l, cols] + (i - k - 1) + 1 + (j - l - 1))
        last_row = np.where(cand == ai, i, last_row)
    return d[la + 1, lens + 1, cols]
