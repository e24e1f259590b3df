"""Span/sloppy position matchers — the per-doc frequency algorithms
shared by the DataFrame pandas-UDF paths (search._scored_sloppy_phrase,
_scored_span_near) and the segment span kernels (wand.span_near_topk).
A leaf module (numpy + stdlib only) so both importers stay cycle-free;
one implementation means the two execution paths return bit-identical
frequencies by construction.

Reference parity: the reference exposes Lucene's SpanNearQuery /
sloppy PhraseQuery through its prebuilt-query passthrough
(query.clj:50-52); these matchers re-implement the PUBLIC Lucene
algorithms (SloppyPhraseScorer.phraseFreq, NearSpansOrdered) from
their published descriptions.
"""

from __future__ import annotations

import heapq

import numpy as np


def _sloppy_freq_py(pos_lists, slop: int, bias: int = 0) -> float:
    """Sloppy-phrase frequency for ONE doc — Lucene's
    SloppyPhraseScorer.phraseFreq() greedy (public algorithm: pop the
    min phrase-adjusted position, minimize the current match length
    while that list stays minimal, count a match worth
    ``1/(1+matchLength)`` when it overtakes the next list, plus the
    final pending match at exhaustion). ``pos_lists``: one SORTED int
    array of offset-adjusted positions (pos - slot) per phrase slot;
    phrase terms all distinct (the repeat-group variant is
    unsupported — search rejects repeats). ``bias`` shifts
    the slop arithmetic: the effective match slop is
    ``match_len - bias`` (0 = phrase semantics; k-1 over UNSHIFTED
    positions = unordered span-near, where the covering interval of k
    distinct positions has match_len >= k-1 by construction). Lives in
    wand (not search) so the segment span kernels and the DataFrame
    pandas-UDF path share ONE implementation — bit-identical freqs."""
    k = len(pos_lists)
    if k == 1:
        # one slot: every position is a match of length 0
        return float(len(pos_lists[0])) if slop >= 0 else 0.0
    idx = [0] * k
    heap = []
    end = None
    for i, p in enumerate(pos_lists):
        v = int(p[0])
        heap.append((v, i))
        if end is None or v > end:
            end = v
    heapq.heapify(heap)
    freq = 0.0
    pos_v, i = heapq.heappop(heap)
    match_len = end - pos_v
    nxt = heap[0][0]
    while True:
        idx[i] += 1
        if idx[i] >= len(pos_lists[i]):
            break  # this slot is exhausted -> no further matches
        p = int(pos_lists[i][idx[i]])
        if p > end:
            end = p
        if p > nxt:
            # done minimizing the current match length
            if match_len - bias <= slop:
                freq += 1.0 / (1.0 + match_len - bias)
            heapq.heappush(heap, (p, i))
            pos_v, i = heapq.heappop(heap)
            nxt = heap[0][0]
            match_len = end - pos_v
        else:
            ml2 = end - p
            if ml2 < match_len:
                match_len = ml2
    if match_len - bias <= slop:
        freq += 1.0 / (1.0 + match_len - bias)  # the last pending match
    return freq


def _span_near_ordered_freq(pos_lists, slop: int) -> float:
    """NearSpansOrdered for single-term clauses: one minimal-completion
    match per first-clause position — from each position of clause 1,
    greedily take the smallest strictly-increasing position of each
    subsequent clause; the match counts when
    ``matchSlop = (last - first + 1) - k <= slop`` and contributes
    ``1/(1 + matchSlop)``. A clause running out of positions ends the
    enumeration (every later anchor would fail the same clause).
    Shared by the segment span kernel and the DataFrame path."""
    k = len(pos_lists)
    freq = 0.0
    for a in pos_lists[0]:
        cur = int(a)
        ok = True
        for pl in pos_lists[1:]:
            j = int(np.searchsorted(pl, cur + 1))
            if j == len(pl):
                ok = False
                break
            cur = int(pl[j])
        if not ok:
            break
        ms = (cur - int(a) + 1) - k
        if ms <= slop:
            freq += 1.0 / (1.0 + ms)
    return freq
