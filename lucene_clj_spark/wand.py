"""Block-max WAND top-k over compressed segments.

The scale-path query kernels (north_star: "BM25 top-k retrieval using
block-max WAND posting-list intersection and a bounded min-heap").
Every segment query runs on one of THREE kernels:

- **pooled-tf** (``span_or_topk``): SpanOrQuery, the clause tfs summed
  per doc and saturated once with the summed idf.
- **boolean tree** (``tree_spec``, ``wand_tree_topk``): every term
  boolean — the segment twin of search._scored_tree. Terms,
  AND/OR/mixed booleans, maps over several fields, min_should_match
  (a root-only ``msm``) and fuzzy expansions run as one flat node
  (search._flat_tree; ``wand_pairs_topk`` / ``wand_topk`` build it for
  a direct call); nested MUST/SHOULD/MUST_NOT trees at any depth,
  boosted groups, in-scan phrase leaves and DisjunctionMaxQuery (a
  root node with a ``tie``) run as the tree they are. An exact phrase
  query is a one-leaf tree (``PhraseTreeLeaf``).
- **positions** (``sloppy_phrase_topk``, ``span_near_topk``,
  ``span_first_topk``, ``span_not_topk``): the kernels that decode
  position streams, lazily, per chunk, for sloppy phrases and span
  near / first / not.

All of them are built by ONE skeleton, ``_run_kernel``: each kernel
supplies only its per-chunk evaluator ``(chunk, theta) -> (ids,
scores)`` — a list of one per query, so the tree kernel, split into a
driver-side ``KernelSpec`` and the shared run (``run_specs``), serves
a whole ``search_batch`` in one pass — and the skeleton owns the
rest:

- Term selection prunes at THREE levels before any decode: parquet
  directory pruning on ``bucket=`` (same xxhash64 as the writer),
  row-group min/max skipping on the sorted ``term`` column, and the
  per-block upper bounds below (``_segment_scan``).
- Block upper bounds are computed AT SCAN TIME from each block's
  stored impact frontier (pareto (tf, qdl) pairs — segments.py) with
  the CURRENT corpus stats, as a JVM column expression whose float64
  operation order matches the kernel's numpy scoring exactly, so the
  bound equals the true max block score bit-for-bit for any stats.
  The scan is unweighted; an evaluator scales the bounds by its own
  boosts, so queries with different boosts share one scan.
  This is what lets delta segments appended after a corpus change keep
  exact pruning (Lucene's impacts model).
- Blocks are co-located by doc range, sized by the matched posting
  mass (the summed df the terms seek already returned). A small mass
  (``SINGLE_PARTITION_MASS``) reads every block into ONE partition
  with ``coalesce(1)`` + ``sortWithinPartitions("chunk")``: no
  range-sampling job, no exchange, one Spark job per query. A larger
  mass uses ``repartitionByRange("chunk")`` + the same sort, putting
  every query term's blocks for a doc interval in the same partition
  IN CHUNK ORDER (one narrow shuffle of compressed blocks, no
  row-level shuffle ever). Either way scoring is partition-local.
- Inside each partition the skeleton STREAMS Arrow batches chunk by
  chunk (doc-order traversal, ``_stream_chunks``) and hands each chunk
  to the evaluator with the bounded min-heap's θ: a chunk whose upper
  bound can't beat θ is dropped without decoding, and within a
  surviving chunk per-block bounds skip individual blocks; decoded
  blocks are scored fully vectorized (numpy varint decode + LUT
  norms). Peak kernel memory is ONE chunk's blocks — not the
  partition — so the per-task footprint is set by chunk_span,
  independent of partition size (VERDICT r02 item 5).
- The tombstone and keyset masks apply before any heap insert
  (``_push_topk``); partitions emit each query's local top-k, merged
  by ``orderBy(...).limit(k)`` (TakeOrderedAndProject) for one query
  and by the bounded per-query window for a batch.

Queries may span MULTIPLE fields: every posting stream is keyed by
``fkey = field || '\\x1f' || term`` with its own idf and its field's
norm-denominator cache, so a map query {title: ..., body: ...} runs in
the SAME one-pass kernel (chunk = doc range is field-independent).

Scores are computed with the same double-precision formula as the
DataFrame path (bm25.score_col), so the two execution strategies are
result-identical — pinned by tests/test_wand_segments.py.
"""

from __future__ import annotations

import functools
import heapq
import math
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_clj_spark import bm25, codec
from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.search import (
    _check_sloppy_phrase,
    _check_span_first,
    _check_span_near,
    _check_span_not,
    _check_span_or,
    _empty_scores,
)
from lucene_clj_spark.spans import _sloppy_freq_py, _span_near_ordered_freq

_EMPTY = {"q": "int32", "doc_id": "int64", "score": "float64"}


class TreeLeaf(NamedTuple):
    """A term leaf of an ARBITRARY-DEPTH boolean tree. ``weight`` is
    the leaf's own boost times the product of every ancestor node's
    boost (score trees are linear in the leaf scores, so folding the
    boosts down to the leaves is score-preserving up to float
    association). ``scored`` is False when any edge on the root path
    is MUST_NOT — such leaves only ever gate matching (their match
    EXCLUDES docs somewhere up the tree), so they are decoded ids-only
    and never enter score bounds."""

    lid: int
    field: str
    term: str
    weight: float
    scored: bool


class PhraseTreeLeaf(NamedTuple):
    """An exact-adjacency phrase leaf of an arbitrary-depth boolean
    tree — scored in-scan by the tree kernel from the positions
    streams (weight folded into its idf_sum, the DataFrame phrase
    plan's association). ``scored`` False (a MUST_NOT edge on
    the root path) makes it match-only: evaluated for its match set,
    never scored, never in bounds."""

    lid: int
    field: str
    terms: tuple
    weight: float
    scored: bool


class TreeNode(NamedTuple):
    """An inner node of an arbitrary-depth boolean tree. Children are
    either an ``int`` (a TreeLeaf lid) or a nested TreeNode. Lucene
    BooleanQuery semantics: the node matches iff every ``musts`` child
    matches, no ``nots`` child matches, and — when there are no musts
    — at least one ``shoulds`` child matches; its score is the sum of
    the musts' scores plus the matching shoulds' scores (boosts are
    pre-folded into the leaves). A node with neither musts nor shoulds
    (empty or pure-negative) matches nothing.

    A ``tie`` makes the node a DisjunctionMaxQuery over its shoulds:
    score = ``max + tie * (sum - max)`` over the matching shoulds
    (0 <= tie <= 1, so the score never exceeds the plain sum and the
    kernel's sum bounds stay sound).

    Both evaluators add a node's score in ONE order (``sum_order``):
    its MUST and SHOULD leaves first, by ``leaf_rank``, then its
    subtree MUSTs and SHOULDs in child order, so the DataFrame plan
    and the tree kernel agree bit for bit."""

    musts: tuple
    shoulds: tuple
    nots: tuple
    tie: float | None = None


def _excluded_ids(index) -> np.ndarray | None:
    """The index's tombstoned doc_ids as a sorted int64 array for the
    kernels' pre-heap mask (None when there are none). Ships in the
    kernel closure — bounded by the purge cadence, same contract as
    Lucene's live-docs bitset (see indexer.delete_documents)."""
    tomb = getattr(index, "tombstones", None)
    if not tomb:
        return None
    return np.array(sorted(tomb), dtype=np.int64)


def _push_topk(
    heap: list,
    k: int,
    uniq: np.ndarray,
    agg: np.ndarray,
    search_after: tuple[float, int] | None = None,
    excluded: np.ndarray | None = None,
) -> None:
    """Push one chunk's candidate ``(doc_id, score)`` arrays into the
    bounded ``(score, -doc_id)`` min-heap — vectorized preselection so
    the Python heap loop runs over at most k items, never the chunk:

    - keyset filter (search_after) as an array mask;
    - when the heap is full, everything strictly below θ is dropped
      wholesale (score == θ survives: it can still win the doc_id
      tiebreak against the current minimum);
    - of the remainder only the chunk's own top-k by
      (score desc, doc_id asc) can possibly enter ANY global top-k —
      an item outside it has k chunk-mates ahead of it in the total
      order — so a lexsort selection bounds the loop at k."""
    if excluded is not None and excluded.size and uniq.size:
        # tombstone mask BEFORE any heap interaction: a deleted doc
        # must neither take a top-k slot nor raise θ (``excluded`` is
        # sorted, so searchsorted beats np.isin's internal sort)
        at = np.searchsorted(excluded, uniq)
        at[at == excluded.size] = 0
        m = excluded[at] != uniq
        uniq, agg = uniq[m], agg[m]
    if search_after is not None:
        sa_s, sa_d = search_after
        m = (agg < sa_s) | ((agg == sa_s) & (uniq > sa_d))
        uniq, agg = uniq[m], agg[m]
    if len(heap) >= k:
        m = agg >= heap[0][0]
        uniq, agg = uniq[m], agg[m]
    if uniq.size > k:
        sel = np.lexsort((uniq, -agg))[:k]
        uniq, agg = uniq[sel], agg[sel]
    for d, s in zip(uniq.tolist(), agg.tolist()):
        item = (s, -d)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)


def tree_possible(node, present, msm: int = 0) -> bool:
    """Can ``node`` match ANY doc given the set of present leaf lids?
    MUST_NOT children are ignored: an absent exclusion just never
    fires, it cannot make a node unmatchable. ``msm`` is the root's
    min_should_match (only a flat root has one, search._term_tree)."""
    if isinstance(node, int):
        return node in present
    if not all(tree_possible(m, present) for m in node.musts):
        return False
    live = sum(tree_possible(s, present) for s in node.shoulds)
    return live >= msm and (bool(node.musts) or live > 0)


def leaf_rank(leaves: list) -> dict:
    """lid -> the leaf's place in the order a node adds its leaf
    children: (field, term) ascending — a phrase leaf's "term" is its
    terms joined by spaces — with the lid breaking ties between
    repeated pairs."""
    def key(le):
        term = le.term if isinstance(le, TreeLeaf) else " ".join(le.terms)
        return (le.field, term, le.lid)

    return {le.lid: r for r, le in enumerate(sorted(leaves, key=key))}


def sum_order(node, rank: dict) -> list:
    """``(is_must, child)`` for ``node``'s MUST and SHOULD children in
    the order its score adds them: the leaves by ``rank``, then the
    subtrees in child order, MUSTs before SHOULDs."""
    kids = ([(True, c) for c in node.musts]
            + [(False, c) for c in node.shoulds])
    leaves = sorted((kc for kc in kids if isinstance(kc[1], int)),
                    key=lambda kc: rank[kc[1]])
    return leaves + [kc for kc in kids if not isinstance(kc[1], int)]


def _heap_frame(heaps) -> pd.DataFrame:
    return pd.DataFrame(
        [(q, -nd, s) for q, heap in enumerate(heaps) for s, nd in heap],
        columns=list(_EMPTY),
    ).astype(_EMPTY)


@functools.lru_cache(maxsize=64)
def _denom_cache(avgdl: float) -> np.ndarray:
    """norm byte -> k1*(1-b+b*qdl/avgdl), like BM25Scorer's cache.
    Memoized and read-only: every query on a field holds the SAME
    array, so a batch's closure pickles it once per field, not once
    per query."""
    out = bm25.K1 * (
        (1.0 - bm25.B)
        + bm25.B * bm25.LENGTH_TABLE.astype(np.float64) / avgdl
    )
    out.flags.writeable = False
    return out


def _stream_chunks(batches: Iterator[pd.DataFrame], process) -> None:
    """Drive ``process(chunk_pdf)`` over the partition's batches one
    chunk at a time. The scan is sorted by chunk within the partition,
    so a chunk is complete when the key changes — peak memory is one
    chunk's blocks, never the whole partition."""
    cur = None
    buf: list[pd.DataFrame] = []
    for b in batches:
        if len(b) == 0:
            continue
        for chunk, grp in b.groupby("chunk", sort=True):
            if cur is not None and chunk != cur:
                process(pd.concat(buf, ignore_index=True)
                        if len(buf) > 1 else buf[0])
                buf = []
            cur = chunk
            buf.append(grp)
    if buf:
        process(pd.concat(buf, ignore_index=True)
                if len(buf) > 1 else buf[0])


def _term_idfs(index, pairs) -> dict:
    """Shared driver preamble for the segment kernels: validate the
    segments dir + format and resolve per-(field, term) idfs through
    the terms seek (search._seek_terms, a term-dictionary lookup).
    Returns ``fkey -> idf`` for the pairs present in the dictionary;
    keys are ``field + '\\x1f' + term``."""
    import os

    from lucene_clj_spark.search import _seek_terms
    from lucene_clj_spark.segments import (
        SEGMENT_FORMAT,
        missing_buckets,
        seg_dir,
        segments_meta,
    )

    root = index.path
    if not root or not os.path.isfile(
        os.path.join(root, "manifests", "_segments_meta.json")
    ):
        raise ValueError(
            "segment kernels need a disk index with built segments "
            "(run segments.build_segments first)"
        )
    meta = segments_meta(root)
    if meta.get("format") != SEGMENT_FORMAT:
        raise ValidationError(
            f"segments at {root} use format {meta.get('format')}; this "
            f"engine reads format {SEGMENT_FORMAT} — rebuild with "
            "build_segments(resume=False)",
            {"path": root},
        )
    if not os.path.isdir(seg_dir(root, meta)):
        raise ValueError(
            "segment kernels need a disk index with built segments "
            "(run segments.build_segments first)"
        )
    missing = missing_buckets(root, meta)
    if missing:
        raise ValidationError(
            f"segments at {root} are INCOMPLETE (buckets {missing} have "
            "no manifest — the build was interrupted); serving them "
            "would silently drop those buckets' postings. Re-run "
            "build_segments(resume=True) to finish the build",
            {"path": root, "missing_buckets": missing},
        )
    return {_fkey(p): v[1]
            for p, v in _seek_terms(index, sorted(set(pairs))).items()}


def _fkey(pair) -> str:
    return f"{pair[0]}\x1f{pair[1]}"


def _blocks_scan(index, key_idfs: dict,
                 unbounded_keys=frozenset()) -> DataFrame:
    """The bucket/term-filtered blocks scan of the fkeys in
    ``key_idfs`` (the bucket literals constant-fold into
    PartitionFilters, so bucket resolution runs no job) with a
    scan-time ``block_max_score`` column computed from each block's
    impact frontier and the CURRENT stats — float64 operation order
    matched to the kernel's numpy scoring, so the bound is the exact
    max block score. The bound is UNWEIGHTED: an evaluator scales it by
    its own positive boost (``w * max(x) == max(w * x)`` exactly), so
    queries with different boosts share one scan.
    ``unbounded_keys`` marks fkeys whose block bound is never consulted
    (MUST_NOT exclusion keys): their bound column is a constant instead
    of the per-block impacts fold. Every per-query literal (the idf
    and avgdl maps, the filters, the gate) is SQL text from
    ``search.sql_lit``, exact and one Py4J call per expression."""
    from lucene_clj_spark.search import (
        bucket_filter,
        pairs_filter,
        sql_lit,
        sql_map,
    )
    from lucene_clj_spark.segments import (
        SEGMENT_SCHEMA,
        seg_dir,
        segments_meta,
    )

    root = index.path
    meta = segments_meta(root)
    pairs = [tuple(key.split("\x1f", 1)) for key in key_idfs]
    fields = sorted({f_ for f_, _ in pairs})
    idf_map = sql_map(key_idfs.items(), "string", "double")
    avg_map = sql_map(
        [(f_, float(index.field_stats(f_)["avgdl"])) for f_ in fields],
        "string", "double",
    )
    k1, one_b, b = (sql_lit(x, "double")
                    for x in (bm25.K1, 1.0 - bm25.B, bm25.B))
    # (idf*tf) / (tf + K1*((1-B) + (B*qdl)/avgdl)) — EXACTLY the
    # association of both the kernel's numpy scoring and the DataFrame
    # path's score_col, so the bound equals the true max block score
    # bit for bit
    bound = (
        "array_max(transform(impacts, im -> (__idf * im.tf)"
        f" / (im.tf + {k1} * ({one_b} + ({b} * im.qdl) / __avgdl))))"
    )
    if unbounded_keys:
        excluded = ", ".join(sql_lit(k, "string")
                             for k in sorted(unbounded_keys))
        bound = f"CASE WHEN fkey IN ({excluded}) THEN 0.0D ELSE {bound} END"
    present_terms = sorted({t_ for _, t_ in pairs})
    sep = sql_lit("\x1f", "string")
    # the declared schema (the segment format fixes it): the scan lists
    # files but runs no schema-inference job
    return (
        index.spark.read.schema(SEGMENT_SCHEMA + ", bucket int")
        .parquet(seg_dir(root, meta))
        .filter(bucket_filter(index, present_terms, meta["n_buckets"]))
        .filter(pairs_filter(pairs))
        .selectExpr("*", f"concat(field, {sep}, term) AS fkey")
        .selectExpr("*", f"{idf_map}[fkey] AS __idf",
                    f"{avg_map}[field] AS __avgdl")
        .selectExpr("*", f"{bound} AS block_max_score")
    )


def _segment_scan(index, pairs, unbounded_keys=frozenset()):
    """``(key_idfs, blocks)`` for a single-query kernel: the terms seek
    (``_term_idfs``) and the blocks scan of the present keys
    (``_blocks_scan``); blocks is None if no term is present."""
    key_idfs = _term_idfs(index, pairs)
    if not key_idfs:
        return key_idfs, None
    return key_idfs, _blocks_scan(index, key_idfs, unbounded_keys)


def _key_denoms(index, key_idfs: dict) -> dict:
    """fkey -> the field's norm-denominator cache (shared per field)."""
    return {
        key: _denom_cache(
            float(index.field_stats(key.split("\x1f", 1)[0])["avgdl"])
        )
        for key in key_idfs
    }


def _phrase_spec(index, field: str, terms: tuple, weight: float,
                 p_idfs: dict) -> dict:
    """The spec of a tree-kernel phrase leaf: offset map (repeated
    terms fold into one stream with several offsets), constituent idfs,
    the boost-weighted idf_sum (``weight * idf_sum``, the DataFrame
    path's association), and the field's norm-denominator cache. The
    tree kernel adds each leaf's lid/scored keys."""
    offsets: dict[str, list[int]] = {}
    for i, t_ in enumerate(terms):
        offsets.setdefault(t_, []).append(i)
    t_idfs = {t_: p_idfs[f"{field}\x1f{t_}"] for t_ in offsets}
    idf_sum = sum(t_idfs[t_] * len(offs) for t_, offs in offsets.items())
    if weight != 1.0:
        idf_sum = weight * idf_sum
    return {
        "offsets": offsets,
        "term_idfs": t_idfs,
        "fkey_term": {f"{field}\x1f{t_}": t_ for t_ in offsets},
        "fkeys": {f"{field}\x1f{t_}" for t_ in offsets},
        "idf_sum": idf_sum,
        "denom": _denom_cache(float(index.field_stats(field)["avgdl"])),
    }


def _phrase_chunk_bound(p: dict, rows: pd.DataFrame) -> float | None:
    """Upper bound of one phrase's score within a chunk, derived from
    its constituents' block maxima:
    ``idf_sum * min_t(chunk_max_t / idf_t)`` — valid because the
    phrase freq is <= every member tf and x/(x+d) is increasing.
    None when a constituent is absent from the chunk: the phrase
    cannot match there (chunk == doc-id range)."""
    tmax = rows.groupby("fkey")["block_max_score"].max()
    if not p["fkeys"] <= set(tmax.index):
        return None
    return p["idf_sum"] * min(
        float(tmax[fk]) / p["term_idfs"][p["fkey_term"][fk]]
        for fk in p["fkeys"]
    )


#: Matched posting mass (the summed df of a query's keys) at or below
#: which the kernel runs in ONE partition. Measured on a 200k-doc Zipf
#: index (tools/zipf_corpus, 4 buckets, local[4], 4-core host; warm
#: median of 3, one partition vs range-partitioned): block-max OR wins
#: on one partition up to 1.3M postings (0.73-0.89x) and loses at 2.5M
#: (1.08x); the positions kernels cross over far earlier — sloppy
#: phrase 0.67x at 49k and 1.06x at 147k, exact phrase 0.76x at 82k
#: and 1.19x at 266k. The constant sits below the earliest crossover.
SINGLE_PARTITION_MASS = 100_000


def _posting_mass(index, keys) -> int:
    """Summed df of the fkeys a kernel scans, from the terms seek
    (search._seek_terms: the term dictionary, or over its cap the pairs
    _term_idfs has just sought — no job either way)."""
    from lucene_clj_spark.search import _seek_terms

    dfs = _seek_terms(index, [tuple(fk.split("\x1f", 1)) for fk in keys])
    return sum(df for df, _ in dfs.values())


def _co_located(blocks: DataFrame, cols: list[str],
                mass: int) -> DataFrame:
    """Chunk-range co-location + in-partition chunk order (the contract
    _stream_chunks relies on), with the kernel's input pruned to the
    columns it decodes — positions stay out of the WAND scan.

    Up to ``SINGLE_PARTITION_MASS`` matched postings every block goes
    to one partition in chunk order: no range-sampling job and no
    exchange, so scan, kernel and the top-k merge run as one job.
    Larger masses range-partition the chunks over the cluster. Either
    way every chunk lands whole in one partition in chunk order, and
    the (score, -doc_id) heap order is total, so both give the same
    top-k bit for bit."""
    blocks = blocks.select(*cols)
    if mass <= SINGLE_PARTITION_MASS:
        return blocks.coalesce(1).sortWithinPartitions("chunk")
    return blocks.repartitionByRange(
        blocks.sparkSession.sparkContext.defaultParallelism, "chunk"
    ).sortWithinPartitions("chunk")


#: the blocks columns the tf kernels decode; the positions kernels add
#: ``positions``
_TF_COLS = ["chunk", "fkey", "block_max_score", "doc_deltas", "tfs",
            "norms"]
_POS_COLS = _TF_COLS + ["positions"]


def _positive_weight(weight: float) -> None:
    if weight <= 0:
        raise ValueError("kernel weight must be positive (non-positive "
                         "weights invert the skip bounds)")


def _run_kernel(index, blocks: DataFrame, cols: list[str], k: int,
                search_after: tuple[float, int] | None,
                evaluators: list) -> DataFrame:
    """The one kernel skeleton. ``evaluators`` holds one
    ``(keys, evaluate)`` per query: a single-query kernel is a list of
    one, a batch (``run_specs``) one per query. The skeleton co-locates
    ``blocks`` by the posting mass of all the queries' keys
    (``_co_located``), streams each partition chunk by chunk, hands each
    query ITS keys' rows of the chunk (``_rows_by_query``) and calls
    ``evaluate(rows, theta) -> (ids, scores) | None``, then pushes the
    hits through the tombstone and keyset masks into that query's
    bounded ``(score, -doc_id)`` min-heap (``_push_topk``).

    Returns every partition's heaps as ``(q, doc_id, score)``, q the
    query's position in ``evaluators``; the caller merges them —
    ``_ordered_topk`` for one query, batch._topk_per_query for a
    batch.

    θ is a query's heap minimum once its heap holds k docs, else -inf.
    An evaluator may skip a chunk or block only when its bound is
    STRICTLY below θ: a doc scoring exactly θ can still win the
    (score desc, doc_id asc) tiebreak against the current minimum.
    The evaluator runs on the executors, so it must close over plain
    values (dicts, arrays), never the index."""
    excluded = _excluded_ids(index)
    one = len(evaluators) == 1
    by_key: dict[str, list[int]] = {}
    for q, (keys, _) in enumerate(evaluators):
        for key in keys:
            by_key.setdefault(key, []).append(q)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heaps: list[list] = [[] for _ in evaluators]

        def process(cpdf: pd.DataFrame) -> None:
            parts = [(0, cpdf)] if one else _rows_by_query(cpdf, by_key)
            for q, rows in parts:
                heap = heaps[q]
                theta = heap[0][0] if len(heap) >= k else -math.inf
                hits = evaluators[q][1](rows, theta)
                if hits is not None:
                    _push_topk(heap, k, hits[0], hits[1], search_after,
                               excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heaps)

    co = _co_located(blocks, cols, _posting_mass(index, by_key))
    return co.mapInPandas(kernel, "q int, doc_id long, score double")


def _rows_by_query(cpdf: pd.DataFrame, by_key: dict):
    """Yield ``(q, rows)``: each query's own keys' rows of one chunk,
    ``by_key`` mapping fkey -> the queries reading it (built once per
    kernel). The chunk is sorted by fkey ONCE and only the keys present
    in it are visited, so the cost is the chunk's rows times the
    queries sharing each key, never the batch size. A query with no
    rows in the chunk is left out (no key of it occurs in this doc
    range, so it cannot match here)."""
    cpdf = cpdf.sort_values("fkey", kind="stable", ignore_index=True)
    fks = cpdf["fkey"].to_numpy()
    cut = np.flatnonzero(fks[1:] != fks[:-1]) + 1
    starts = np.concatenate(([0], cut))
    ends = np.concatenate((cut, [fks.size]))
    spans: dict[int, list] = {}
    for key, s, e in zip(fks[starts], starts, ends):
        for q in by_key.get(key, ()):
            spans.setdefault(q, []).append(np.arange(s, e))
    for q in sorted(spans):
        yield q, cpdf.take(np.concatenate(spans[q]))


def _ordered_topk(local: DataFrame, k: int) -> DataFrame:
    """One query's merge of the partitions' heaps: the ordered
    ``limit`` (TakeOrderedAndProject)."""
    return (
        local.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


class KernelSpec(NamedTuple):
    """A tree query's kernel plan, fixed BEFORE the terms seek,
    so that a batch can seek and scan the union of its queries' keys
    once (``run_specs``). ``pairs`` are the (field, term) pairs whose
    tfs it reads, ``phrase_pairs`` those whose positions it reads,
    ``unbounded`` the fkeys whose block bound it never consults
    (exclusion-only keys), and ``build(key_idfs)`` turns the idfs of
    its keys present in the dictionary into ``(keys, evaluate)`` — the
    fkeys whose rows it reads and its per-chunk evaluator — or None
    when the query cannot match. Calling a spec runs it alone:
    ``spec(k, search_after)`` is its top-k ``(doc_id, score)``."""

    index: object
    pairs: frozenset
    phrase_pairs: frozenset
    unbounded: frozenset
    build: object

    def __call__(self, k: int,
                 search_after: tuple[float, int] | None = None):
        return _ordered_topk(
            run_specs(self.index, [self], k, search_after), k
        )


def run_specs(index, specs: list, k: int,
              search_after: tuple[float, int] | None = None) -> DataFrame:
    """Run every spec in ONE kernel pass: one terms seek and one blocks
    scan over the union of their keys (phrase constituents keep their
    positions), co-located once by the union's posting mass, one
    evaluator, heap and θ per spec. The scan is unweighted, so specs
    with different boosts share it. Returns the partitions' heaps as
    ``(q, doc_id, score)``, q the spec's position in ``specs``
    (``_run_kernel``); a spec that cannot match contributes no rows."""
    idfs = _term_idfs(
        index, set().union(*(s.pairs | s.phrase_pairs for s in specs))
    )
    evaluators: list = []
    tf_keys: set = set()
    pos_keys: set = set()
    bounded: set = set()
    for s in specs:
        own = {
            fk: idfs[fk]
            for fk in map(_fkey, s.pairs | s.phrase_pairs)
            if fk in idfs
        }
        built = s.build(own) if own else None
        if built is None:
            evaluators.append((frozenset(), None))
            continue
        keys, _ = built
        evaluators.append(built)
        phrase_keys = keys & set(map(_fkey, s.phrase_pairs))
        pos_keys |= phrase_keys
        tf_keys |= keys - phrase_keys
        bounded |= keys - s.unbounded
    # a key some query reads positions of rides the positions scan only
    tf_keys -= pos_keys
    if not tf_keys and not pos_keys:
        return index.spark.createDataFrame(
            [], "q int, doc_id long, score double"
        )

    def scan(keys: set) -> DataFrame:
        return _blocks_scan(index, {fk: idfs[fk] for fk in keys},
                            keys - bounded)

    if not pos_keys:
        return _run_kernel(index, scan(tf_keys), _TF_COLS, k, search_after,
                           evaluators)
    blocks = scan(pos_keys).select(*_POS_COLS)
    if tf_keys:
        # the term keys' scan drops the position bytes the phrase
        # constituents' scan keeps
        blocks = (
            scan(tf_keys)
            .withColumn("positions", F.lit(None).cast("binary"))
            .select(*_POS_COLS)
            .unionByName(blocks)
        )
    return _run_kernel(index, blocks, _POS_COLS, k, search_after,
                       evaluators)


def _live_blocks(cpdf: pd.DataFrame, theta: float, key_ws: dict):
    """Decode one chunk's tf blocks, yielding ``(fkey, ids, tfs,
    norms)`` per block in CANONICAL (field, term) order: per-doc sums
    add in this order, and the raw chunk frame's row order varies with
    file/batch layout — which made IDENTICAL docs in different chunks
    differ by 1 ulp (surfaced by the sf1 duplication run: tie sets
    under 320-way duplication came out chunk-dependent). A stable fkey
    sort == (field, term) ascending, every chunk, every layout.

    A block's bound is its unweighted ``block_max_score`` times its
    key's weight ``key_ws[fkey]`` (exactly the max of the weighted
    scores, for a positive weight). The chunk bound is the sum of the
    per-key chunk maxima; a block's bound adds the OTHER keys' maxima.
    Nothing decodes when the chunk bound is below θ, and a block whose
    bound is below θ is skipped: no doc in it can beat θ."""
    cpdf = cpdf.sort_values("fkey", kind="stable", ignore_index=True)
    fks = cpdf["fkey"]
    bound = cpdf["block_max_score"].to_numpy() * fks.map(key_ws).to_numpy()
    key_maxes = pd.Series(bound).groupby(fks).max()
    tm_sum = float(key_maxes.sum())
    if tm_sum < theta:
        return
    for i, row in enumerate(cpdf.itertuples(index=False)):
        others = tm_sum - float(key_maxes[row.fkey])
        if bound[i] + others < theta:
            continue
        yield (
            row.fkey,
            codec.delta_decode(codec.decode_block(row.doc_deltas)),
            codec.decode_block(row.tfs).astype(np.float64),
            np.frombuffer(row.norms, dtype=np.uint8),
        )


def wand_pairs_topk(
    index,
    pairs: list[tuple[str, str]],
    k: int = 10,
    mode: str = "or",
    weights: dict | None = None,
    search_after: tuple[float, int] | None = None,
    msm: int = 0,
) -> DataFrame:
    """Top-k (doc_id, score) for a (field, term) set — possibly
    spanning SEVERAL fields — on the tree kernel, as one flat node of
    the distinct pairs. ``mode`` = 'or' (SHOULD sum) or 'and' (every
    pair MUST, scores summed). ``weights`` maps (field, term) -> boost:
    scores and skip bounds both scale linearly, so pruning stays exact.
    ``msm`` keeps docs matching at least that many distinct pairs —
    minimumNumberShouldMatch for all-SHOULD flat booleans."""
    if mode not in ("or", "and"):
        raise ValidationError(
            f"mode must be 'or' or 'and' (got {mode!r})", {"mode": mode}
        )
    if msm < 0:
        raise ValidationError(
            f"msm must be >= 0 (got {msm!r})", {"msm": msm}
        )
    weights = weights or {}
    leaves = [TreeLeaf(lid, f_, t_, float(weights.get((f_, t_), 1.0)), True)
              for lid, (f_, t_) in enumerate(dict.fromkeys(pairs))]
    lids = tuple(range(len(leaves)))
    root = (TreeNode(lids, (), ()) if mode == "and"
            else TreeNode((), lids, ()))
    return tree_spec(index, leaves, root, msm)(k, search_after)


def wand_topk(
    index,
    field: str,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    term_weights: dict | None = None,
) -> DataFrame:
    """Single-field convenience wrapper over ``wand_pairs_topk``."""
    weights = (
        {(field, t): w for t, w in term_weights.items()}
        if term_weights
        else None
    )
    return wand_pairs_topk(
        index,
        [(field, t) for t in terms],
        k=k,
        mode=mode,
        weights=weights,
    )


def span_or_topk(
    index,
    field: str,
    terms: list[str],
    k: int = 10,
    boost: float = 1.0,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """SpanOrQuery (pooled-tf synonym scoring) over the compressed
    segments: per-doc freq = the SUM of the clause tfs, saturated ONCE
    with the summed idf — bit-identical to the DataFrame path
    (search._scored_span_or), with block-max skipping.

    Bound soundness: BM25 is subadditive in tf (f(a+b) <= f(a)+f(b)
    for f(x) = x/(x+d)), so widf*f(sum tf_i) <= sum_i widf*f(tf_i) —
    the pooled score is bounded by the per-term blocks' bounds IF each
    term's bound uses the FULL summed idf, not its own. That is
    arranged by folding weight w_t = widf/idf_t into each term's
    block_max_score; because the scan computes idf_t * w_t with two
    roundings, w_t is inflated by a relative 1e-12 (>> the few-ulp
    rounding budget) so the folded bound provably dominates the true
    pooled score. The inflation loosens skipping immeasurably and
    never touches the returned scores, which use the exact widf."""
    terms = list(dict.fromkeys(terms))
    _check_span_or(terms)
    _positive_weight(boost)
    pairs = [(field, t) for t in terms]
    key_idfs = _term_idfs(index, pairs)
    if not key_idfs:
        return _empty_scores(index)
    # idf_sum in ORIGINAL clause order — the DataFrame path sums its
    # idf literals in `present` order, and float addition is
    # order-sensitive; matching the fold order keeps scores bit-equal
    idf_sum = 0.0
    for f_, t_ in pairs:
        v = key_idfs.get(f"{f_}\x1f{t_}")
        if v is not None:
            idf_sum += v
    widf = float(boost) * idf_sum
    key_ws = {fk: (widf / idf) * (1.0 + 1e-12)
              for fk, idf in key_idfs.items()}
    blocks = _blocks_scan(index, key_idfs)
    denom = _denom_cache(float(index.field_stats(field)["avgdl"]))

    def evaluate(cpdf: pd.DataFrame, theta: float):
        # RAW tfs + the per-doc norm byte accumulate, then saturate
        # ONCE with widf; the per-block bounds hold by subadditivity
        live = list(_live_blocks(cpdf, theta, key_ws))
        if not live:
            return None
        uniq, inv = np.unique(
            np.concatenate([ids for _, ids, _, _ in live]),
            return_inverse=True,
        )
        tf_agg = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(tf_agg, inv,
                  np.concatenate([tfs for _, _, tfs, _ in live]))
        # same doc => same field dl => same norm byte; last write wins
        # over identical values
        norm_agg = np.zeros(uniq.size, dtype=np.uint8)
        norm_agg[inv] = np.concatenate([n for _, _, _, n in live])
        return uniq, widf * tf_agg / (tf_agg + denom[norm_agg])

    return _ordered_topk(_run_kernel(index, blocks, _TF_COLS, k,
                                     search_after, [(key_idfs, evaluate)]),
                         k)


def _index_chunk_terms(rows: pd.DataFrame, key_term: dict) -> dict:
    """Phase 1 of every positions kernel: decode ONLY doc ids (cheap)
    per term of one chunk; positions stay as raw varint buffers until
    a block is known to hold a candidate — positions are the bulk of
    segment bytes, so the lazy decode skips most of a frequent term's
    blocks. Delta-appended blocks may INTERLEAVE doc ranges with base
    blocks, so lookups go through a global argsort of the chunk's ids,
    not block-first_doc bisection. Returns term ->
    ``(sorted_ids, blocks, block_of, posting_in_block)``."""
    per_term: dict = {}
    for keyv, grp in rows.groupby("fkey"):
        t = key_term[keyv]
        blocks = []
        for row in grp.itertuples(index=False):
            ids = codec.delta_decode(codec.decode_block(row.doc_deltas))
            blocks.append(
                {
                    "ids": ids,
                    "tfs_buf": row.tfs,
                    "norms": row.norms,
                    "pos_buf": row.positions,
                    "flat": None,  # decoded lazily
                }
            )
        counts = [len(b["ids"]) for b in blocks]
        all_ids = np.concatenate([b["ids"] for b in blocks])
        order = np.argsort(all_ids, kind="mergesort")
        per_term[t] = (
            all_ids[order],
            blocks,
            np.repeat(np.arange(len(blocks)), counts)[order],
            np.concatenate(
                [np.arange(c, dtype=np.int64) for c in counts]
            )[order],
        )
    return per_term


def _gather_positions_for(entry, cands: np.ndarray,
                          norms_out: np.ndarray | None = None):
    """Chunk-vectorized position gather for ONE term (phase 2 core):
    every candidate's position run is pulled from the flat decoded
    stream with one multi-segment fancy-index per TOUCHED block —
    untouched blocks never decode their positions. Candidates absent
    from the term's postings contribute nothing (presence mask; a
    phrase leaf's intersection pre-guarantees presence, span-not's
    exclude term does not). Returns ``(pos_all, cidx_all)`` where
    ``cidx_all`` indexes into ``cands``; each candidate's positions
    form one contiguous ascending run (a doc's postings live in one
    block and the delta stream cumsums ascending). ``norms_out``, when
    given, receives the doc's norm byte at each present candidate's
    slot."""
    sorted_ids, blocks, blk_of, pos_in = entry
    at = np.searchsorted(sorted_ids, cands)
    at_c = np.minimum(at, sorted_ids.size - 1)
    present = (at < sorted_ids.size) & (sorted_ids[at_c] == cands)
    pidx = np.flatnonzero(present)
    if pidx.size == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    at = at[pidx]
    blkc = blk_of[at]
    jc = pos_in[at]
    # decode each TOUCHED block once; untouched blocks never decode
    order = np.argsort(blkc, kind="stable")
    bounds = np.flatnonzero(np.diff(blkc[order])) + 1
    pos_parts, cidx_parts = [], []
    for grp_idx in np.split(order, bounds):
        b = blocks[int(blkc[grp_idx[0]])]
        if b["flat"] is None:
            tfs_b = codec.decode_block(b["tfs_buf"]).astype(np.int64)
            b["tfs_a"] = tfs_b
            b["flat"], b["p_starts"] = codec.decode_positions_flat(
                b["pos_buf"], tfs_b
            )
            b["norms_a"] = np.frombuffer(b["norms"], dtype=np.uint8)
        js = jc[grp_idx]
        seg_lens = b["tfs_a"][js]
        seg_starts = b["p_starts"][js]
        total = int(seg_lens.sum())
        # multi-segment gather: flat[starts[j] : starts[j]+lens[j]]
        # for all j at once
        gather = (
            np.repeat(
                seg_starts
                - np.concatenate(([0], np.cumsum(seg_lens)[:-1])),
                seg_lens,
            )
            + np.arange(total, dtype=np.int64)
        )
        pos_parts.append(b["flat"][gather])
        cidx_parts.append(np.repeat(pidx[grp_idx], seg_lens))
        if norms_out is not None:
            norms_out[pidx[grp_idx]] = b["norms_a"][js]
    return np.concatenate(pos_parts), np.concatenate(cidx_parts)


def _eval_phrase_chunk(
    rows: pd.DataFrame,
    key_term: dict,
    offsets: dict,
    idf_sum: float,
    denom_cache: np.ndarray,
    score: bool = True,
):
    """Evaluate ONE exact-adjacency phrase (a tree-kernel phrase leaf)
    over one chunk's block rows (caller guarantees every constituent
    key is present in ``rows``).

    Phase 1 decodes ONLY doc ids (cheap) per term; positions stay as
    raw varint buffers until a block is known to hold a candidate —
    positions are the bulk of segment bytes, so the lazy decode skips
    most of the frequent term's blocks. Delta-appended blocks may
    INTERLEAVE doc ranges with base blocks, so lookups go through a
    global argsort of the chunk's ids, not block-first_doc bisection.

    Phase 2 is CHUNK-VECTORIZED (no per-candidate Python loop): for
    each term, every candidate's position run is gathered from the
    flat decoded stream with one multi-segment fancy-index per touched
    block, tagged ``cand_index * 2^32 + position + L`` (L = max phrase
    offset, so shifted keys never cross candidate boundaries), and the
    phrase match is ONE ``np.intersect1d`` per (term, offset) over the
    whole chunk; per-doc phrase freqs fall out of a bincount on the
    surviving keys' high bits. Scores stay bit-identical to the scalar
    form: ``idf_sum * freq / (freq + denom[norm])`` in float64.

    Returns ``(doc_ids, scores)`` numpy arrays for docs with phrase
    freq > 0; ``scores`` is None when ``score=False`` (exclusion-only
    phrases need the match set, not BM25). ``key_term`` maps the
    fkey to the phrase term it carries."""
    per_term = _index_chunk_terms(rows, key_term)
    cands = None
    for t in sorted(per_term, key=lambda t: per_term[t][0].size):
        cands = (
            per_term[t][0]
            if cands is None
            else np.intersect1d(cands, per_term[t][0], assume_unique=True)
        )
    if cands is None or cands.size == 0:
        return np.zeros(0, dtype=np.int64), (
            np.zeros(0, dtype=np.float64) if score else None
        )

    n_c = cands.size
    # key bias: pos + L - off >= 0 for every phrase offset, so a
    # shifted key can never spill into the previous candidate's range
    # (positions are doc-token indexes, far below 2^32 - L)
    L = max(off for offs in offsets.values() for off in offs)
    inter = None
    norms_c = np.empty(n_c, dtype=np.uint8)
    first_term = True
    for t, offs in offsets.items():
        # the norm byte is the DOC's field norm — identical across the
        # phrase's terms, so gather it once (first term only)
        pos_all, cidx_all = _gather_positions_for(
            per_term[t], cands,
            norms_out=norms_c if first_term else None,
        )
        first_term = False
        if pos_all.size and int(pos_all.max()) + L >= (1 << 32):
            # the packed (cidx << 32 | pos+L-off) key would spill into
            # the next candidate's range and silently corrupt matches
            # (ADVICE r03). Unreachable for real documents (a 4-billion-
            # token doc), so fail loud rather than widen the shift.
            raise ValueError(
                "tree kernel phrase leaf: token position "
                f"{int(pos_all.max())} + {L} exceeds the 2^32 packed-key "
                "range; document too long for packed phrase matching"
            )
        keys = (cidx_all << np.int64(32)) + (pos_all + np.int64(L))
        for off in offs:
            cand_keys = keys - np.int64(off)
            inter = (
                cand_keys
                if inter is None
                else np.intersect1d(inter, cand_keys, assume_unique=True)
            )
            if inter.size == 0:
                break
        if inter is not None and inter.size == 0:
            break
    if inter is None or inter.size == 0:
        return np.zeros(0, dtype=np.int64), (
            np.zeros(0, dtype=np.float64) if score else None
        )
    freq = np.bincount(
        (inter >> np.int64(32)).astype(np.int64), minlength=n_c
    )
    matched = freq > 0
    ids_a = cands[matched]
    if not score:
        return ids_a, None
    fr = freq[matched].astype(np.float64)
    scores = idf_sum * fr / (fr + denom_cache[norms_c[matched]])
    return ids_a, scores


def _eval_span_near_chunk(
    rows: pd.DataFrame,
    key_term: dict,
    slop: int,
    in_order: bool,
    w_idf_sum: float,
    denom_cache: np.ndarray,
    phrase_shift: bool = False,
):
    """Evaluate one span-near query over one chunk's block rows
    (caller guarantees every clause term is present in ``rows``);
    ``key_term`` maps each clause's fkey to its term, in clause order.
    Same lazy two-phase shape as ``_eval_phrase_chunk``: doc ids
    decode first, candidates = the conjunction of the clause postings,
    positions decode only for touched blocks. The per-candidate
    matcher is the SAME function the DataFrame pandas UDF runs
    (``_span_near_ordered_freq`` / ``_sloppy_freq_py`` with the span
    bias), over the gathered ascending position runs — scores stay
    bit-identical to search._scored_span_near. Candidates are bounded
    by the rarest clause's df within the chunk.

    ``phrase_shift=True`` switches the matcher to SLOPPY-PHRASE
    semantics (search._scored_sloppy_phrase): each clause's positions
    are offset-adjusted by its phrase slot (``pos - slot``, exactly
    the DataFrame path's ``_shift(i)`` transform) and the greedy runs
    with ``bias=0`` — phrase slop arithmetic instead of the span
    covering-interval form. ``in_order`` is ignored in that mode."""
    terms = list(key_term.values())
    per_term = _index_chunk_terms(rows, key_term)
    cands = None
    for t in sorted(terms, key=lambda t: per_term[t][0].size):
        ids = per_term[t][0]
        cands = (
            ids if cands is None
            else np.intersect1d(cands, ids, assume_unique=True)
        )
        if cands.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0)
    n_c = cands.size
    norms_c = np.empty(n_c, dtype=np.uint8)
    # per clause (IN CLAUSE ORDER — ordered matching is asymmetric):
    # one gathered flat stream + per-candidate run boundaries
    runs = []
    grid = np.arange(n_c, dtype=np.int64)
    for ti, t in enumerate(terms):
        pos_all, cidx_all = _gather_positions_for(
            per_term[t], cands,
            norms_out=norms_c if ti == 0 else None,
        )
        order = np.argsort(cidx_all, kind="stable")
        pos_s = pos_all[order]
        if phrase_shift and ti:
            # phrase-offset normalization (pos - slot): a constant
            # per-clause shift, so each candidate's run stays sorted
            pos_s = pos_s - ti
        cidx_s = cidx_all[order]
        starts = np.searchsorted(cidx_s, grid)
        ends = np.searchsorted(cidx_s, grid + 1)
        runs.append((pos_s, starts, ends))
    bias = len(terms) - 1
    freq = np.zeros(n_c, dtype=np.float64)
    for c in range(n_c):
        pls = [ps[st[c]:en[c]] for ps, st, en in runs]
        if phrase_shift:
            freq[c] = _sloppy_freq_py(pls, slop)
        elif in_order:
            freq[c] = _span_near_ordered_freq(pls, slop)
        else:
            freq[c] = _sloppy_freq_py(pls, slop, bias=bias)
    matched = freq > 0
    ids_a = cands[matched]
    fr = freq[matched]
    scores = w_idf_sum * fr / (fr + denom_cache[norms_c[matched]])
    return ids_a, scores


def span_near_topk(
    index,
    field: str,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """SpanNearQuery top-k over the compressed segments (positions
    decode inside the kernel — a span query never shuffles raw
    postings). Result-identical to the DataFrame _scored_span_near
    path: identical matcher functions, idf_sum accumulated in clause
    order, the same float64 association; invalid clauses raise the
    DataFrame path's errors."""
    terms = list(terms)
    _check_span_near(terms, slop)
    return _span_near(index, field, terms, int(slop), bool(in_order), k,
                      search_after, weight, False)


def _span_near(index, field: str, terms: list[str], slop: int,
               in_order: bool, k: int,
               search_after: tuple[float, int] | None, weight: float,
               phrase_shift: bool) -> DataFrame:
    """The span-near kernel body, shared by ``span_near_topk`` and
    (``phrase_shift=True``, the sloppy-phrase matcher)
    ``sloppy_phrase_topk``; the callers validate the clauses.

    Chunk-level skip bounds (block-max): a span match contributes
    ``1/(1+matchSlop) <= 1`` per enumerated match, so
    - ordered:   freq <= tf(first clause)  (one match per anchor), so
      ``score <= w_idf_sum * chunk_max_first / idf_first``;
    - unordered (and sloppy phrase): the greedy advances one clause
      position per counted match, so ``freq <= sum_t tf_t``, and
      BM25's tf saturation ``f(x) = x/(x+d)`` is concave with f(0)=0
      hence subadditive: ``score <= w_idf_sum * sum_t(chunk_max_t /
      idf_t)``.
    Both are also < w_idf_sum (f < 1). Bounds are inflated by 1e-12
    relative so float rounding in the ``chunk_max/idf`` fold can never
    prune a true top-k doc (same insurance as span_or_topk). Chunks
    missing ANY clause term are skipped without decoding — the
    conjunction semantics make this the dominant pruning at scale."""
    _positive_weight(weight)
    key_idfs, blocks = _segment_scan(index, [(field, t) for t in terms])
    if blocks is None or len(key_idfs) < len(terms):
        # any clause term absent from the dictionary -> no match
        return _empty_scores(index)
    key_term = {f"{field}\x1f{t}": t for t in terms}
    # idf_sum accumulated in ORIGINAL clause order — float addition is
    # order-sensitive and the DataFrame path folds its idf literals in
    # clause order; matching it keeps scores bit-equal
    idf_sum = 0.0
    for key in key_term:
        idf_sum += key_idfs[key]
    w_idf_sum = float(weight) * idf_sum if weight != 1.0 else idf_sum
    denom = _denom_cache(float(index.field_stats(field)["avgdl"]))
    ordered = in_order and not phrase_shift
    bound_keys = list(key_term)[:1] if ordered else list(key_term)
    bound_idfs = {key: key_idfs[key] for key in bound_keys}

    def evaluate(cpdf: pd.DataFrame, theta: float):
        tmax = cpdf.groupby("fkey")["block_max_score"].max()
        # chunks missing any clause term can't match at all
        if not all(key in tmax.index for key in key_term):
            return None
        ratio = sum(float(tmax[key]) / idf for key, idf in bound_idfs.items())
        if w_idf_sum * min(1.0, ratio) * (1.0 + 1e-12) < theta:
            return None
        return _eval_span_near_chunk(cpdf, key_term, slop, ordered,
                                     w_idf_sum, denom, phrase_shift)

    return _ordered_topk(_run_kernel(index, blocks, _POS_COLS, k,
                                     search_after, [(key_idfs, evaluate)]),
                         k)


def sloppy_phrase_topk(
    index,
    field: str,
    terms: list[str],
    slop: int,
    k: int = 10,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """Sloppy phrase (``"a b"~N``) top-k over the compressed segments:
    the span-near kernel with ``phrase_shift=True``. Result-identical
    to search._scored_sloppy_phrase — the SAME greedy
    (spans._sloppy_freq_py, bias=0) runs over the same offset-adjusted
    (``pos - slot``) ascending position runs, idf_sum folds in phrase
    slot order, and the BM25 denominator comes from the shared norm
    cache — scores stay bit-equal. The greedy advances one position of
    one clause per counted match, so the unordered span-near bound
    holds. Repeated terms raise the DataFrame path's error."""
    terms = list(terms)
    _check_sloppy_phrase(terms, slop)
    return _span_near(index, field, terms, int(slop), False, k,
                      search_after, weight, True)


def span_first_topk(
    index,
    field: str,
    term: str,
    end: int,
    k: int = 10,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """SpanFirstQuery(SpanTermQuery, end) top-k over the compressed
    segments: freq = the count of the term's positions < ``end``
    (Lucene keeps spans with span.end() <= end; a width-1 span at p
    ends at p+1), BM25 over that freq with the term's FULL df —
    result-identical to search._scored_span_first. Skipping is
    BLOCK-level (finer than the span-near kernels' chunk level — the
    query is single-term, so each block prunes independently):
    freq <= tf gives ``score <= weight * block_max_score``; positions
    decode only for blocks that beat θ."""
    _check_span_first(end)
    _positive_weight(weight)
    key_idfs, blocks = _segment_scan(index, [(field, term)])
    if blocks is None or end == 0:
        return _empty_scores(index)
    idf = key_idfs[f"{field}\x1f{term}"]
    w_idf = float(weight) * idf if weight != 1.0 else idf
    denom = _denom_cache(float(index.field_stats(field)["avgdl"]))
    end_i = int(end)
    wf = float(weight)

    def evaluate(cpdf: pd.DataFrame, theta: float):
        ids_parts, score_parts = [], []
        for row in cpdf.itertuples(index=False):
            if wf * float(row.block_max_score) * (1.0 + 1e-12) < theta:
                continue
            ids = codec.delta_decode(codec.decode_block(row.doc_deltas))
            tfs = codec.decode_block(row.tfs).astype(np.int64)
            flat, _starts = codec.decode_positions_flat(row.positions, tfs)
            seg = np.repeat(np.arange(ids.size, dtype=np.int64), tfs)
            freq = np.bincount(seg[flat < end_i], minlength=ids.size)
            m = freq > 0
            fr = freq[m].astype(np.float64)
            norms = np.frombuffer(row.norms, dtype=np.uint8)[m]
            ids_parts.append(ids[m])
            score_parts.append(w_idf * fr / (fr + denom[norms]))
        if not ids_parts:
            return None
        return np.concatenate(ids_parts), np.concatenate(score_parts)

    return _ordered_topk(_run_kernel(index, blocks, _POS_COLS, k,
                                     search_after, [(key_idfs, evaluate)]),
                         k)


def span_not_topk(
    index,
    field: str,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """SpanNotQuery top-k over the compressed segments: an include
    position p survives unless an exclude position q lands in
    ``[p - pre, p + post]``; freq = surviving-position count, BM25
    over the include term's FULL df (the exclude clause gates matching
    but contributes no idf) — result-identical to
    search._scored_span_not. Chunk skip bound: freq <= tf(include),
    so ``score <= w_idf * chunk_max_include / idf_include``. The
    exclude term's blocks ride in the same doc-range chunks (the
    writer co-locates all terms of a doc range), its impact-frontier
    bound is never consulted (``unbounded_keys``), and its positions
    decode only for docs that contain BOTH terms — the per-doc
    survival filter is two vectorized searchsorteds per such doc."""
    _check_span_not(pre, post)
    _positive_weight(weight)
    exc_key = f"{field}\x1f{exclude}"
    inc_key = f"{field}\x1f{include}"
    key_idfs, blocks = _segment_scan(
        index, [(field, include), (field, exclude)],
        unbounded_keys={exc_key},
    )
    if blocks is None or inc_key not in key_idfs:
        # include term absent -> no match (exclude-absent still runs)
        return _empty_scores(index)
    idf = key_idfs[inc_key]
    w_idf = float(weight) * idf if weight != 1.0 else idf
    denom = _denom_cache(float(index.field_stats(field)["avgdl"]))
    pre_i, post_i = int(pre), int(post)

    def evaluate(cpdf: pd.DataFrame, theta: float):
        grp = cpdf[cpdf["fkey"] == inc_key]
        if len(grp) == 0:
            return None
        upper = (w_idf * (float(grp["block_max_score"].max()) / idf)
                 * (1.0 + 1e-12))
        if upper < theta:
            return None
        per_term = _index_chunk_terms(
            cpdf, {inc_key: include, exc_key: exclude}
        )
        cands = per_term[include][0]
        n_c = cands.size
        norms_c = np.empty(n_c, dtype=np.uint8)
        inc_pos, inc_cidx = _gather_positions_for(
            per_term[include], cands, norms_out=norms_c
        )
        io = np.argsort(inc_cidx, kind="stable")
        ip, ic = inc_pos[io], inc_cidx[io]
        freq = np.bincount(ic, minlength=n_c)
        if exclude in per_term:
            exc_pos, exc_cidx = _gather_positions_for(
                per_term[exclude], cands
            )
            if exc_pos.size:
                eo = np.argsort(exc_cidx, kind="stable")
                ep, ec = exc_pos[eo], exc_cidx[eo]
                # only docs containing BOTH terms re-filter
                both = np.unique(ec)
                e_lo = np.searchsorted(ec, both)
                e_hi = np.searchsorted(ec, both + 1)
                i_lo = np.searchsorted(ic, both)
                i_hi = np.searchsorted(ic, both + 1)
                for j, c in enumerate(both.tolist()):
                    exc_run = ep[e_lo[j]:e_hi[j]]
                    inc_run = ip[i_lo[j]:i_hi[j]]
                    lo = np.searchsorted(exc_run, inc_run - pre_i,
                                         side="left")
                    hi = np.searchsorted(exc_run, inc_run + post_i,
                                         side="right")
                    freq[c] = int(np.count_nonzero(hi == lo))
        m = freq > 0
        fr = freq[m].astype(np.float64)
        return cands[m], w_idf * fr / (fr + denom[norms_c[m]])

    return _ordered_topk(_run_kernel(index, blocks, _POS_COLS, k,
                                     search_after, [(key_idfs, evaluate)]),
                         k)


def _tree_eval(
    key_idfs: dict,
    key_denoms: dict,
    occs: dict,
    leaf_by_lid: dict,
    root,
    rank: dict,
    never_skip: frozenset,
    phrases: list,
    phrase_fkeys: frozenset,
    msm: int,
    cpdf: pd.DataFrame,
    theta: float,
):
    """Per-chunk evaluator for ARBITRARY-DEPTH boolean trees — the
    segment analogue of search._scored_tree — bound to its query by
    ``functools.partial`` (tree_spec): a partial of a module function
    pickles by reference, where a closure pickles its code once per
    query of a batch. ``occs`` maps
    fkey -> [(lid, weight, scored)] occurrence list; ``leaf_by_lid``
    maps lid -> (fkey, weight, scored); ``root`` is a TreeNode whose
    leaves are lids (absent-from-dictionary leaves already pruned by
    the caller — they are simply missing from occs/leaf_by_lid and
    evaluate as constant non-matches). ``rank`` is ``leaf_rank`` of
    the leaves: each node adds its children in ``sum_order``.

    Bound model: the chunk upper bound is the sum over COUNTABLE
    leaves of weight * chunk_max_base(fkey). A leaf is countable iff
    it is scored, its fkey appears in the chunk, and every SHOULD
    ancestor subtree on its root path is possible in the chunk
    (impossible subtrees contribute exactly 0 to any doc's score —
    chunk == doc-id range, so possibility is a per-chunk constant).
    Because the bound is LINEAR in the leaf maxima, a block b of fkey
    F bounds docs it contains by ``ub - cw[F]*(chunk_max[F] -
    block_max[b])`` with cw[F] the summed countable weight of F —
    skipping on that bound below θ is exact, and dropping the skipped
    block's match flags is sound: any such doc's total is below θ.

    Keys in ``never_skip`` carry at least one match-only occurrence
    (a MUST_NOT edge somewhere on a root path): missing one of their
    matches could wrongly INCLUDE a doc, so their blocks are always
    decoded (ids-only when no countable occurrence needs scores).
    A key with zero countable weight in a chunk and no never_skip
    obligation is skipped outright — every occurrence sits in a
    subtree that cannot match in this chunk.

    ``phrases`` adds PHRASE leaves (PhraseTreeLeaf specs as dicts with
    {lid, scored, offsets, term_idfs, fkey_term, fkeys, idf_sum,
    denom}): a phrase is live in a chunk only if ALL its constituent
    keys appear there; a live countable phrase contributes the derived
    bound ``idf_sum * min_t(chunk_max_t / idf_t)`` to the chunk upper
    bound as a per-chunk CONSTANT (term-block skipping subtracts only
    term-key deltas, so the phrase part stays an upper bound), and
    phrase constituent blocks are never block-skipped. Match-only
    phrases contribute nothing to bounds and evaluate ids-only.

    A node with a ``tie`` (DisjunctionMaxQuery) scores
    ``max + tie * (sum - max)`` over its matching shoulds; for
    tie <= 1 that is at most their sum, so the sum bounds stay sound,
    merely conservative by the (1 - tie) * (sum - max) slack.

    ``msm`` is the root's min_should_match (search._flat_tree's flat
    node): the root also needs that many matched SHOULD children. A
    chunk holding fewer possible SHOULDs cannot match and is skipped
    whole; the tally is sound under block skipping, as a doc inside a
    skipped block cannot beat θ anyway."""
    if phrase_fkeys:
        ph = cpdf[cpdf["fkey"].isin(phrase_fkeys)]
        tp = cpdf[~cpdf["fkey"].isin(phrase_fkeys)]
    else:
        ph = None
        tp = cpdf
    live: list = []
    if phrases and ph is not None and len(ph):
        have_ph = set(ph["fkey"].unique())
        for p in phrases:
            if p["fkeys"] <= have_ph:
                live.append((p, ph[ph["fkey"].isin(p["fkeys"])]))
    live_lids = {p["lid"] for p, _ in live}
    have_lids = frozenset(
        lid
        for fk in tp["fkey"].unique()
        for lid, _, _ in occs.get(fk, ())
    ) | live_lids
    if not tree_possible(root, have_lids, msm):
        return None
    key_maxes = (
        tp.groupby("fkey")["block_max_score"].max()
        if len(tp) else None
    )

    countable: list[tuple[int, str | None, float]] = []

    def collect(node, included: bool) -> None:
        if isinstance(node, int):
            if included and node in have_lids:
                # phrase leaves ride leaf_by_lid with fk=None
                fk, w, sc = leaf_by_lid[node]
                if sc:
                    countable.append((node, fk, w))
            return
        for m in node.musts:
            collect(m, included)
        for s in node.shoulds:
            collect(s, included and tree_possible(s, have_lids))
        # nots never enter the (positive-sum) bound

    collect(root, True)
    cw: dict[str, float] = {}
    ub = 0.0
    phrase_countable: set[int] = set()
    for lid, fk, w in countable:
        if fk is None:
            phrase_countable.add(lid)
            continue
        ub += w * float(key_maxes[fk])
        cw[fk] = cw.get(fk, 0.0) + w
    for p, rows_ in live:
        if not p["scored"] or p["lid"] not in phrase_countable:
            continue
        ub += _phrase_chunk_bound(p, rows_)
    if ub < theta:
        return None
    per_fkey: dict[str, list] = {}
    for row in tp.itertuples(index=False):
        fk = row.fkey
        if fk not in occs:
            continue
        cwf = cw.get(fk, 0.0)
        if cwf == 0.0:
            if fk not in never_skip:
                # every occurrence sits in a chunk-impossible
                # subtree: neither score nor flags can matter
                continue
        elif (
            fk not in never_skip
            and ub
            - cwf * (float(key_maxes[fk]) - float(row.block_max_score))
            < theta
        ):
            continue
        ids = codec.delta_decode(
            codec.decode_block(row.doc_deltas)
        )
        if cwf > 0.0:
            tfs = codec.decode_block(row.tfs).astype(np.float64)
            norms = np.frombuffer(row.norms, dtype=np.uint8)
            base = (
                key_idfs[fk] * tfs / (tfs + key_denoms[fk][norms])
            )
        else:
            base = None  # match-only this chunk: ids suffice
        per_fkey.setdefault(fk, []).append((ids, base))
    # live phrases evaluate from positions (lazy per-block
    # decode); countable ones are scored, the rest (match-only
    # or in chunk-impossible subtrees) ids-only
    phrase_hits: list[tuple[dict, np.ndarray, object]] = []
    for p, rows_ in live:
        want_score = p["lid"] in phrase_countable
        ids_p, sc_p = _eval_phrase_chunk(
            rows_, p["fkey_term"], p["offsets"], p["idf_sum"],
            p["denom"], score=want_score,
        )
        if ids_p.size:
            phrase_hits.append((p, ids_p, sc_p))
    # candidate universe: every matching doc matches at least
    # one countable leaf (a matched node always reaches a
    # matched, included, possible scored leaf), so the union
    # of the countable keys' decoded ids is complete
    cand_parts = [
        ids
        for fk, rows_ in per_fkey.items()
        if cw.get(fk, 0.0) > 0.0
        for ids, _ in rows_
    ] + [
        ids_p
        for p, ids_p, _ in phrase_hits
        if p["lid"] in phrase_countable
    ]
    if not cand_parts:
        return None
    uids = np.unique(np.concatenate(cand_parts))
    n = uids.size
    matched: dict[int, np.ndarray] = {}
    scores: dict[int, np.ndarray] = {}
    for fk, rows_ in per_fkey.items():
        ids = np.concatenate([r[0] for r in rows_])
        base = (
            np.concatenate([r[1] for r in rows_])
            if rows_[0][1] is not None
            else None
        )
        idx = np.searchsorted(uids, ids)
        idx_c = np.minimum(idx, n - 1)
        valid = uids[idx_c] == ids
        at = idx_c[valid]
        # one (read-only) match mask shared by every
        # occurrence of the key; scores scatter per occurrence
        m = np.zeros(n, dtype=bool)
        m[at] = True
        for lid, w, sc in occs[fk]:
            matched[lid] = m
            if sc and base is not None:
                s = np.zeros(n, dtype=np.float64)
                s[at] = w * base[valid]
                scores[lid] = s
    for p, ids_p, sc_p in phrase_hits:
        idx = np.searchsorted(uids, ids_p)
        idx_c = np.minimum(idx, n - 1)
        valid = uids[idx_c] == ids_p
        at = idx_c[valid]
        m = np.zeros(n, dtype=bool)
        m[at] = True
        matched[p["lid"]] = m
        if sc_p is not None:
            s = np.zeros(n, dtype=np.float64)
            s[at] = sc_p[valid]
            scores[p["lid"]] = s
    zero_s = np.zeros(n, dtype=np.float64)
    zero_m = np.zeros(n, dtype=bool)

    def ev(node):
        """(matched bool[n], score float64[n]) — ``sum_order``
        and left-assoc adds, exactly as search._scored_tree's
        Column expression (an unmatched leaf adds 0.0)."""
        if isinstance(node, int):
            m = matched.get(node)
            if m is None:
                return zero_m, zero_s
            return m, scores.get(node, zero_s)
        m_acc = None
        s_acc = None
        any_s = None
        s_max = None
        for is_must, ch in sum_order(node, rank):
            cm, cs = ev(ch)
            if is_must:
                m_acc = cm if m_acc is None else (m_acc & cm)
                contrib = cs
            else:
                any_s = cm if any_s is None else (any_s | cm)
                contrib = np.where(cm, cs, 0.0)
                if node.tie is not None:
                    s_max = (contrib if s_max is None
                             else np.maximum(s_max, contrib))
            s_acc = contrib if s_acc is None else (s_acc + contrib)
        if s_max is not None:
            # DisjunctionMaxQuery combine (a tie node has no musts)
            s_acc = s_max + node.tie * (s_acc - s_max)
        if not node.musts:
            m_acc = any_s if any_s is not None else zero_m
        for nch in node.nots:
            cm, _ = ev(nch)
            m_acc = m_acc & ~cm
        return m_acc, (s_acc if s_acc is not None else zero_s)

    m_root, s_root = ev(root)
    if msm:
        tally = sum(ev(ch)[0].astype(np.int64) for ch in root.shoulds)
        m_root = m_root & (tally >= msm)
    if not m_root.any():
        return None
    return uids[m_root], s_root[m_root]

def tree_spec(index, leaves: list, root, msm: int = 0) -> KernelSpec:
    """The tree kernel's spec for ``leaves`` (TreeLeaf and
    PhraseTreeLeaf, ancestor boosts pre-folded into the weights,
    search._bool_tree_spec) under ``root``, a TreeNode over their lids,
    with ``msm`` the root's min_should_match (search._term_tree).

    A non-positive weight on a scored leaf would invert the bounds, so
    it raises. The caller guarantees — when PhraseTreeLeaf leaves are
    present — that no (field, term) pair is shared between a phrase
    constituent and anything else. Leaves absent
    from the term dictionary are pruned when the spec is built: an
    absent leaf can never match (a phrase leaf is present only if ALL
    its terms are), so subtrees it renders impossible drop out, and if
    the root itself becomes impossible the query is empty. Only a key
    with no scored occurrence is ``unbounded`` (exclusion-only keys skip
    the per-block impacts fold)."""
    for le in leaves:
        if le.scored:
            _positive_weight(le.weight)
    term_leaves = [le for le in leaves if isinstance(le, TreeLeaf)]
    phrase_leaves = [le for le in leaves if isinstance(le, PhraseTreeLeaf)]
    rank = leaf_rank(leaves)

    def leaf_keys(le) -> set:
        if isinstance(le, TreeLeaf):
            return {_fkey((le.field, le.term))}
        return {_fkey((le.field, t_)) for t_ in le.terms}

    scored = set().union(*(leaf_keys(le) for le in leaves if le.scored))
    unscored = set().union(*(leaf_keys(le) for le in leaves
                             if not le.scored))

    def build(key_idfs: dict):
        present_lids = frozenset(
            le.lid for le in leaves if leaf_keys(le) <= key_idfs.keys()
        )
        if not tree_possible(root, present_lids, msm):
            return None
        occs: dict[str, list] = {}
        leaf_by_lid: dict[int, tuple] = {}
        for le in term_leaves:
            if le.lid not in present_lids:
                continue
            fk = _fkey((le.field, le.term))
            occs.setdefault(fk, []).append(
                (le.lid, float(le.weight), le.scored)
            )
            leaf_by_lid[le.lid] = (fk, float(le.weight), le.scored)
        never_skip = frozenset(
            fk for fk, lst in occs.items()
            if any(not sc for _, _, sc in lst)
        )
        phrases: list[dict] = []
        for le in phrase_leaves:
            if le.lid not in present_lids:
                continue
            spec = _phrase_spec(index, le.field, le.terms, le.weight,
                                key_idfs)
            spec.update(lid=le.lid, scored=le.scored)
            phrases.append(spec)
            # phrase leaves ride leaf_by_lid with fk=None so the
            # kernel's countable-collection treats them uniformly
            leaf_by_lid[le.lid] = (None, float(le.weight), le.scored)
        phrase_fkeys = frozenset(fk for p in phrases for fk in p["fkeys"])
        return frozenset(occs) | phrase_fkeys, functools.partial(
            _tree_eval, key_idfs, _key_denoms(index, key_idfs), occs,
            leaf_by_lid, root, rank, never_skip, phrases, phrase_fkeys, msm,
        )

    return KernelSpec(
        index,
        frozenset((le.field, le.term) for le in term_leaves),
        frozenset((le.field, t_) for le in phrase_leaves for t_ in le.terms),
        frozenset(unscored - scored),
        build,
    )


def wand_tree_topk(
    index,
    leaves: list,
    root,
    k: int = 10,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for an ARBITRARY-DEPTH boolean tree of
    term and exact-phrase leaves over the compressed segments
    (``tree_spec``). Executes the same semantics as the recursive
    DataFrame compiler (search._scored_bool_joins) in ONE streaming
    pruned scan of the query keys' blocks — ``((a AND b) OR (c AND d))
    NOT e`` at any nesting depth, no join per clause.

    Phrase constituent keys go through a SEPARATE pushed-down scan
    that keeps the ``positions`` column; term keys' scan replaces it
    with NULL, so position bytes are only read for the blocks a phrase
    actually needs (``run_specs``). Both scans union before the
    chunk-range co-location — still one streaming doc-ordered pass. A
    root ``tie`` runs DisjunctionMaxQuery (see ``_tree_eval``)."""
    return tree_spec(index, leaves, root)(k, search_after)
