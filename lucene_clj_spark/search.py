"""Search execution — scoring, top-k, pagination.

Mirrors reference search.clj:49-78 (`IndexSearcher.search(query, k)` ->
TopDocs sorted by (score desc, docID asc)), :page looping
(search.clj:27-47) and :search-after keyset pagination (search.clj:8-32).

Compilation strategy (scale-first):

- Each AST node compiles to a lazy DataFrame ``(doc_id, score)``.
- Term/phrase/fuzzy plans start from a postings FILTER on (field, term):
  against a disk index this prunes to one ``bucket=`` directory
  (partition pruning via the same xxhash64 the writer used) and then
  row-group min/max skipping on the sorted ``term`` column — the Spark
  analogue of Lucene's term-dictionary seek. `.explain()` shows
  PartitionFilters + PushedFilters.
- BM25 constants (N, avgdl) are driver-side scalars folded into the
  score expression -> whole-stage codegen, no joins for stats.
- The per-term df joins the (tiny) filtered ``terms`` row via an
  explicit ``F.broadcast``.
- Top-k = ``orderBy(score desc, doc_id asc).limit(k)`` which Spark
  executes as TakeOrderedAndProject: per-partition bounded heaps + a
  driver merge — no global shuffle/sort of the scored set.
- ``page=p`` fetches ``(p+1)*k`` rows the same way and drops the first
  ``p*k`` (the reference re-scores each page too, search.clj:27-47).
- ``search_after`` applies the keyset predicate
  ``score < s OR (score = s AND doc_id > d)`` BEFORE the top-k, so the
  predicate participates in pruning (SURVEY.md §4.1).
"""

from __future__ import annotations

from functools import reduce
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucene_clj_spark import bm25
from lucene_clj_spark.spans import (  # shared with the segment span
    _sloppy_freq_py,  # kernels (wand.span_near_topk) — one matcher
    _span_near_ordered_freq,  # implementation, bit-identical freqs
)
from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.query import (
    FILTER,
    MUST,
    SHOULD,
    BoolQ,
    ConstantScoreQ,
    DisMaxQ,
    ExactQ,
    FuzzyQ,
    MatchAll,
    MatchNone,
    MultiPhraseQ,
    Node,
    PhraseQ,
    RangeQ,
    RegexpQ,
    FunctionScoreQ,
    SpanFirstQ,
    SpanNearQ,
    SpanNotQ,
    SpanOrQ,
    TermInSetQ,
    TermQ,
    WildcardQ,
    combine_fuzzy,
    parse,
)

DEFAULT_RESULTS_PER_PAGE = 10  # reference search.clj:33-35


def _lookup_term_stats(index, pairs: list[tuple[str, str]]) -> dict:
    """Driver-side term-dictionary seek: df for each (field, term) in
    ONE tiny action against the cached/pruned terms table — the Spark
    analogue of Lucene's TermsEnum.seekExact before scoring. Folding df
    into the plan as a literal removes a broadcast-join stage per term.

    Results are memoized on the Index (absent terms as None), like a
    Lucene session amortizing term-state seeks across searches — a warm
    repeated query then needs NO stats job, only the scoring job. The
    cache is per-Index and vocabulary lookups only, so it stays tiny
    (query terms seen this session, not the whole dictionary)."""
    if not pairs:
        return {}
    cache = getattr(index, "_term_stats_cache", None)
    if cache is None:
        cache = {}
        index._term_stats_cache = cache
    missing = [p for p in dict.fromkeys(pairs) if p not in cache]
    if missing:
        cond = None
        by_field: dict[str, list[str]] = {}
        for f, t in missing:
            by_field.setdefault(f, []).append(t)
        for f, ts in by_field.items():
            c = (F.col("field") == f) & F.col("term").isin(ts)
            cond = c if cond is None else (cond | c)
        rows = index.terms.filter(cond).select("field", "term", "df").collect()
        found = {(r["field"], r["term"]): int(r["df"]) for r in rows}
        for p in missing:
            cache[p] = found.get(p)
    return {p: cache[p] for p in pairs if cache.get(p) is not None}


def _flatten(node: Node) -> Node:
    """Associative boolean flattening: unwrap single-clause bools,
    splice SHOULD-only children into SHOULD lists and MUST-only
    children into MUST lists (score = sum either way, so this is
    score-preserving)."""
    if not isinstance(node, BoolQ):
        return node
    clauses = [(occ, _flatten(n)) for occ, n in node.clauses]
    msm = node.min_should_match
    if (
        msm == 0
        and len(clauses) == 1
        and clauses[0][0] in (MUST, SHOULD)
    ):
        occ, child = clauses[0]
        if node.boost == 1.0:
            return child
        if isinstance(child, BoolQ):
            return BoolQ(
                node.boost * child.boost, child.clauses,
                child.min_should_match,
            )
        return BoolQ(node.boost, ((occ, child),))
    out = []
    for occ, n in clauses:
        if (
            isinstance(n, BoolQ)
            and n.boost == 1.0
            and n.min_should_match == 0  # msm groups are opaque
            and n.clauses
            and all(o == occ for o, _ in n.clauses)
            and occ in (MUST, SHOULD)
            and (occ == SHOULD or len(n.clauses) == 1)
            # splicing SHOULD members into an msm parent would change
            # the clause count msm is measured against
            and not (occ == SHOULD and msm)
        ):
            out.extend(n.clauses)
        else:
            out.append((occ, n))
    return BoolQ(node.boost, tuple(out), msm)


def _as_term(node: Node) -> TermQ | None:
    """TermQ, or keyword-exact (scored identically to a term query)."""
    if isinstance(node, TermQ):
        return node
    if isinstance(node, ExactQ) and node.value_type == "keyword":
        return TermQ(node.boost, node.field, str(node.value))
    return None


def _canonical_score_sum(field_col: str = "field",
                         term_col: str = "term",
                         score_col: str = "score"):
    """Aggregate expression: the per-doc score sum folded in sorted
    (field, term, score) order — bit-stable across partition layouts,
    unlike a bare ``F.sum`` over doubles (see _scored_term_group's
    tie-precision note). The collected list is clause-bounded (one
    entry per matched clause), so the per-doc sort is O(k log k) tiny
    work inside the same single aggregation."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(field_col), F.col(term_col),
                         F.col(score_col))
            )
        ),
        F.lit(0.0),
        lambda acc, x: acc + x[score_col],
    )


#: clause-count bound for the codegen pivot form of the canonical sum
#: (above it, the collect-sort-fold form keeps the generated code
#: bounded); 64 covers the default fuzzy expansion cap (50)
_PIVOT_SUM_MAX = 64


def _pivot_canonical_aggs(keys: list[tuple[str, str]]):
    """The codegen form of the canonical score sum for a DRIVER-KNOWN
    clause set where each (field, term) contributes at most one row
    per doc: one ``max(when)`` pivot aggregate per clause, added back
    in sorted-key order with ``coalesce(_, 0.0)``. Bit-identical to
    the collect-sort-fold form — x + 0.0 is an IEEE identity (scores
    are positive, no -0.0), so absent clauses don't perturb the
    fixed-order addition — but stays entirely inside whole-stage
    codegen instead of materializing per-doc struct arrays. Returns
    (agg_exprs, score_expr_builder)."""
    keys = sorted(keys)
    aggs = [
        F.max(
            F.when(
                (F.col("field") == f) & (F.col("term") == t),
                F.col("score"),
            )
        ).alias(f"__c{i}")
        for i, (f, t) in enumerate(keys)
    ]
    total = reduce(
        lambda acc, i: acc + F.coalesce(F.col(f"__c{i}"), F.lit(0.0)),
        range(1, len(keys)),
        F.coalesce(F.col("__c0"), F.lit(0.0)),
    )
    return aggs, total


def _canonical_sum_by(key_col: str, score_col: str = "score",
                      cond=None):
    """Like _canonical_score_sum but keyed by a single id column
    (clause/group id); ``cond`` optionally zeroes non-qualifying rows
    INSIDE the fold so the addition order still includes them
    deterministically."""
    sc = F.col(score_col)
    if cond is not None:
        sc = F.when(cond, sc).otherwise(F.lit(0.0))
    return F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(F.col(key_col), sc.alias("__v")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["__v"],
    )


def _flat_term_clauses(node) -> list[tuple[str, TermQ]] | None:
    """The ``(occ, TermQ)`` clauses of a FLAT boolean — boost 1, every
    clause a MUST or SHOULD term-like leaf — else None. The one
    eligibility test of the term-group plan (_scored_term_group), the
    flat kernel route (_wand_route) and search_batch."""
    if not isinstance(node, BoolQ) or node.boost != 1.0:
        return None
    terms = [(occ, _as_term(n)) for occ, n in node.clauses]
    if all(occ in (MUST, SHOULD) and t is not None for occ, t in terms):
        return terms
    return None


def _merge_term_clauses(
    term_clauses: list[tuple[str, TermQ]],
) -> tuple[dict[tuple[str, str], float], set[tuple[str, str]]]:
    """``(weights, must)``: each distinct (field, term) pair's SUMMED
    boost (score is linear in boost, so SHOULD a + SHOULD a == boost
    2a), in first-occurrence order, and the pairs some occurrence of
    which is MUST. The one merge of _scored_term_group, the flat kernel
    and search_batch, so all three score a pair with the same boost,
    bit for bit."""
    weights: dict[tuple[str, str], float] = {}
    must: set[tuple[str, str]] = set()
    for occ, t in term_clauses:
        pair = (t.field, t.term)
        weights[pair] = weights.get(pair, 0.0) + t.boost
        if occ == MUST:
            must.add(pair)
    return weights, must


def _scored_term_group(
    index, term_clauses: list[tuple[str, TermQ]],
    min_should_match: int = 0,
) -> DataFrame:
    """ONE postings scan for a whole boolean of term clauses.

    Instead of one scan + one join per term (k scans, k joins), the
    (field, term, df, boost, is_must) rows become a broadcast local
    relation joined against a single IN-filtered postings scan; MUST
    semantics fall out of ``count(matched must clauses) == n_musts`` in
    the same aggregation that sums scores. One scan, one shuffle,
    regardless of clause count — this is what survives a 100x scale-up.

    Tie-precision note: the per-doc score is folded in CANONICAL
    (field, term) order — collect the per-clause contributions,
    array_sort, then a fixed-order aggregate fold — NOT a bare
    ``F.sum``, whose aggregation order varies with partition layout.
    This is the DataFrame twin of the segment kernels' fkey-sorted
    accumulation (wand.py): without it, identical docs in different
    partitions score 1 ulp apart, and a per-group rank under heavy
    duplication picks copy-dependent winners (surfaced by the sf1
    320x-duplication run's field-collapse query, where the zh/fr tie
    groups came out partition-dependent)."""
    spark = index.spark
    merged, must = _merge_term_clauses(term_clauses)
    stats = _lookup_term_stats(index, list(merged))
    n_musts = len(must)
    rows = []
    for (f, t), boost in merged.items():
        if (f, t) not in stats:
            if (f, t) in must:
                return _empty_scores(index)  # missing MUST term
            continue
        st = index.field_stats(f)
        rows.append(
            (f, t, float(boost), (f, t) in must, stats[(f, t)],
             int(st["N"]), float(st["avgdl"]))
        )
    if not rows:
        return _empty_scores(index)
    local = spark.createDataFrame(
        rows,
        "field string, term string, boost double, is_must boolean, "
        "df long, n_docs long, avgdl double",
    )
    fields = sorted({f for f, _ in merged})
    terms_ = sorted({t for _, t in merged})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
        "doc_id",
        "field",
        "term",
        (
            F.col("boost")
            * bm25.score_col(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            )
        ).alias("score"),
        F.col("is_must"),
    )
    present_keys = [k for k in sorted(merged) if k in stats]
    count_aggs = [
        F.sum(F.when(F.col("is_must"), 1).otherwise(0)).alias("__musts"),
        F.sum(F.when(~F.col("is_must"), 1).otherwise(0)).alias("__opts"),
    ]
    if len(present_keys) <= _PIVOT_SUM_MAX:
        pivot_aggs, total = _pivot_canonical_aggs(present_keys)
        agg = scored.groupBy("doc_id").agg(*pivot_aggs, *count_aggs)
        agg = agg.select(
            "doc_id", total.alias("score"), "__musts", "__opts"
        )
    else:
        agg = scored.groupBy("doc_id").agg(
            _canonical_score_sum().alias("score"), *count_aggs
        )
    cond = F.col("__musts") == n_musts
    if min_should_match:
        # minimumNumberShouldMatch: >= m SHOULD clauses matched (the
        # caller guarantees SHOULD (field, term) pairs are distinct, so
        # matched rows == matched clauses)
        cond = cond & (F.col("__opts") >= min_should_match)
    return agg.filter(cond).select("doc_id", "score")


def bucket_filter(terms: list[str], n_buckets: int):
    """The predicate keeping only the ``bucket`` directories that hold
    ``terms``. ``pmod(xxhash64(lit(term)), nb)`` is the same hash the
    writer used; Catalyst constant-folds each to a literal, so the
    ``bucket IN (...)`` becomes PartitionFilters (directory pruning)
    with no job to evaluate the hash. One flat IN, not a chain of ORs:
    a chain nests one level per term and overflows the JVM stack at a
    few hundred terms (a large search_batch). Shared by the postings
    scans and the segment kernels' blocks scan."""
    nb = F.lit(n_buckets)
    return F.col("bucket").isin(
        [F.pmod(F.xxhash64(F.lit(t)), nb) for t in terms]
    )


def _bucket_pruned(index, scan: DataFrame, terms: list[str]) -> DataFrame:
    """Restrict a postings scan to the query terms' bucket directories
    (``bucket_filter``) — a boolean query reads only its terms'
    buckets, not the whole index."""
    if "bucket" not in index.postings.columns or not terms:
        return scan
    return scan.filter(bucket_filter(terms, index.n_buckets()))


def _scored_group_tree(
    index, clauses: list[tuple[str, object]]
) -> DataFrame:
    """ONE postings scan for a one-level boolean GROUP TREE — clauses
    are (occ, TermQ) or (occ, BoolQ of all-SHOULD term-likes), occ in
    {MUST, SHOULD, MUST_NOT}. Generalizes ``_scored_term_group``:
    every leaf maps to (group_id, effective boost); the scan joins a
    broadcast leaf relation, aggregates per (doc, group), then per doc
    — so ``(a OR b) AND c NOT d`` is one scan + two vocab-keyed
    shuffles regardless of clause count, instead of one join per
    clause. Lucene semantics: a group's score is the sum of its
    matching members (scaled by the group boost), the doc's score is
    the sum of matching non-prohibited groups, every MUST group must
    match, any MUST_NOT group match excludes the doc."""
    spark = index.spark
    # group_id -> (occ, [(field, term, eff_boost)])
    groups: list[tuple[str, list[tuple[str, str, float]]]] = []
    for occ, node in clauses:
        t = _as_term(node)
        if t is not None:
            groups.append((occ, [(t.field, t.term, t.boost)]))
            continue
        assert isinstance(node, BoolQ)
        members = []
        for _, child in node.clauses:
            ct = _as_term(child)
            members.append((ct.field, ct.term, ct.boost * node.boost))
        groups.append((occ, members))

    pairs = [(f, t) for _, ms in groups for f, t, _ in ms]
    stats = _lookup_term_stats(index, pairs)
    must_ids = []
    rows = []
    for gid, (occ, members) in enumerate(groups):
        present = [(f, t, b) for f, t, b in members if (f, t) in stats]
        if occ == MUST:
            if not present:
                return _empty_scores(index)  # unmatched MUST group
            must_ids.append(gid)
        for f, t, b in present:
            st = index.field_stats(f)
            rows.append(
                (f, t, gid, float(b), occ == "MUST_NOT", occ == MUST,
                 stats[(f, t)], int(st["N"]), float(st["avgdl"]))
            )
    if not rows:
        return _empty_scores(index)
    local = spark.createDataFrame(
        rows,
        "field string, term string, gid int, boost double, "
        "is_not boolean, is_must boolean, df long, n_docs long, "
        "avgdl double",
    )
    fields = sorted({r[0] for r in rows})
    terms_ = sorted({r[1] for r in rows})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
        "doc_id", "gid", "is_not", "is_must", "field", "term",
        (
            F.col("boost")
            * bm25.score_col(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            )
        ).alias("score"),
    )
    per_group = scored.groupBy("doc_id", "gid").agg(
        _canonical_score_sum().alias("g_score"),
        F.first("is_not").alias("is_not"),
        F.first("is_must").alias("is_must"),
    )
    agg = per_group.groupBy("doc_id").agg(
        _canonical_sum_by("gid", "g_score",
                          cond=~F.col("is_not")).alias("score"),
        F.sum(F.when(F.col("is_must"), 1).otherwise(0)).alias("__musts"),
        F.max(F.when(F.col("is_not"), 1).otherwise(0)).alias("__hit_not"),
    )
    return agg.filter(
        (F.col("__musts") == len(must_ids)) & (F.col("__hit_not") == 0)
    ).select("doc_id", "score")


def _dismax_term_groups(node: DisMaxQ):
    """``[(field, term, eff_boost), ...]`` per disjunct when EVERY
    disjunct is term-like (TermQ / keyword-exact via ``_as_term``, or
    an unboosted-occur all-SHOULD boolean of those) — the shapes the
    one-scan dismax plan can serve. ``None`` otherwise."""
    groups: list[list[tuple[str, str, float]]] = []
    for d in node.disjuncts:
        t = _as_term(d)
        if t is not None:
            groups.append([(t.field, t.term, t.boost)])
            continue
        if (
            isinstance(d, BoolQ)
            and d.min_should_match == 0
            and d.clauses
            and all(occ == SHOULD for occ, _ in d.clauses)
        ):
            members = []
            for _, ch in d.clauses:
                ct = _as_term(ch)
                if ct is None:
                    return None
                members.append((ct.field, ct.term, ct.boost * d.boost))
            groups.append(members)
            continue
        return None
    return groups


def _dismax_combine(node: DisMaxQ, mx, sm):
    """DisjunctionMaxQuery score expression: boost * (max +
    tie_breaker * (sum - max)) over the matching disjuncts' scores."""
    tie = float(node.tie_breaker)
    out = mx + F.lit(tie) * (sm - mx) if tie else mx
    if node.boost != 1.0:
        out = F.lit(node.boost) * out
    return out


def _scored_dismax(index, node: DisMaxQ) -> DataFrame:
    """Lucene DisjunctionMaxQuery: per-doc ``max`` over the matching
    disjuncts' scores plus ``tie_breaker`` times the rest.

    Scale shape: when every disjunct is term-like this is ONE
    bucket-pruned postings scan joined to a broadcast (field, term,
    gid, boost) relation, a per-(doc, disjunct) partial sum, and a
    per-doc max/sum aggregate — one scan and two vocab-keyed shuffles
    regardless of disjunct count, the same skeleton as
    ``_scored_group_tree``. General disjuncts (phrases, fuzzies,
    subtrees) compile independently and union before the same
    aggregate — still no joins between disjuncts, because dismax
    needs no per-doc intersection."""
    if not (0.0 <= float(node.tie_breaker) <= 1.0):
        raise ValidationError(
            "tie_breaker must be within 0 <= t <= 1 "
            f"(got {node.tie_breaker!r})",
            {"tie_breaker": node.tie_breaker},
        )
    if not node.disjuncts:
        return _empty_scores(index)
    groups = _dismax_term_groups(node)
    if groups is not None:
        return _scored_dismax_terms(index, node, groups)
    parts = [
        compile_node(index, d)
        .select("doc_id", "score")
        .withColumn("__did", F.lit(i))
        for i, d in enumerate(node.disjuncts)
    ]
    u = reduce(DataFrame.unionByName, parts)
    agg = u.groupBy("doc_id").agg(
        F.max("score").alias("__mx"),
        _canonical_sum_by("__did").alias("__sm"),
    )
    return agg.select(
        "doc_id",
        _dismax_combine(node, F.col("__mx"), F.col("__sm")).alias("score"),
    )


def _scored_dismax_terms(
    index, node: DisMaxQ, groups: list[list[tuple[str, str, float]]]
) -> DataFrame:
    """One-scan dismax over term-like disjuncts — the
    ``_scored_group_tree`` skeleton with the dismax combine."""
    spark = index.spark
    pairs = [(f, t) for ms in groups for f, t, _ in ms]
    stats = _lookup_term_stats(index, pairs)
    rows = []
    for gid, members in enumerate(groups):
        for f, t, b in members:
            if (f, t) not in stats:
                continue  # absent term: the member never matches
            st = index.field_stats(f)
            rows.append(
                (f, t, gid, float(b), stats[(f, t)],
                 int(st["N"]), float(st["avgdl"]))
            )
    if not rows:
        return _empty_scores(index)
    local = spark.createDataFrame(
        rows,
        "field string, term string, gid int, boost double, "
        "df long, n_docs long, avgdl double",
    )
    fields = sorted({r[0] for r in rows})
    terms_ = sorted({r[1] for r in rows})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
        "doc_id", "gid", "field", "term",
        (
            F.col("boost")
            * bm25.score_col(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            )
        ).alias("score"),
    )
    per_group = scored.groupBy("doc_id", "gid").agg(
        _canonical_score_sum().alias("g_score")
    )
    agg = per_group.groupBy("doc_id").agg(
        F.max("g_score").alias("__mx"),
        _canonical_sum_by("gid", "g_score").alias("__sm"),
    )
    return agg.select(
        "doc_id",
        _dismax_combine(node, F.col("__mx"), F.col("__sm")).alias("score"),
    )


def _bool_tree_spec(node: BoolQ, allow_phrase: bool = False):
    """Normalize an ARBITRARY-DEPTH boolean tree of term leaves into
    ``(leaves, root)`` — a list of ``wand.TreeLeaf`` and a nested
    ``wand.TreeNode`` over their lids — or None if any descendant is
    not a term-like leaf (phrase/fuzzy/typed-exact subtrees keep the
    recursive join compiler) or carries an unknown occurrence.

    ``allow_phrase=True`` additionally admits exact PhraseQ leaves as
    ``wand.PhraseTreeLeaf`` — used by the kernel route, whose tree
    kernel scores phrases in-scan from the positions streams; the
    DataFrame tree plan stays term-only (phrases there are position
    joins, handled by the recursive compiler).

    Every node's boost is folded down into its leaves' weights (score
    trees are linear in the leaf scores); leaves under a MUST_NOT edge
    are marked unscored — they gate matching only. The result feeds
    BOTH one-scan executors: ``_scored_tree`` (DataFrame) and
    ``wand.wand_tree_topk`` (segment kernel)."""
    from lucene_clj_spark.wand import PhraseTreeLeaf, TreeLeaf, TreeNode

    leaves: list = []

    def build(b: BoolQ, wmul: float, scored: bool):
        if b.min_should_match:
            return None  # msm needs the counting compiler
        musts, shoulds, nots = [], [], []
        for occ, child in b.clauses:
            if occ not in (MUST, SHOULD, "MUST_NOT"):
                return None
            child_scored = scored and occ != "MUST_NOT"
            t = _as_term(child)
            if t is not None:
                ref = len(leaves)
                leaves.append(
                    TreeLeaf(ref, t.field, t.term, t.boost * wmul,
                             child_scored)
                )
            elif (
                allow_phrase
                and isinstance(child, PhraseQ)
                and child.terms
                and child.slop == 0  # sloppy -> DataFrame matcher
            ):
                ref = len(leaves)
                leaves.append(
                    PhraseTreeLeaf(ref, child.field, tuple(child.terms),
                                   child.boost * wmul, child_scored)
                )
            elif isinstance(child, BoolQ):
                ref = build(child, wmul * child.boost, child_scored)
                if ref is None:
                    return None
            else:
                return None
            (musts if occ == MUST
             else shoulds if occ == SHOULD else nots).append(ref)
        return TreeNode(tuple(musts), tuple(shoulds), tuple(nots))

    root = build(node, node.boost, True)
    if root is None or not leaves:
        return None
    return leaves, root


def _scored_tree(index, leaves: list, root) -> DataFrame:
    """ONE postings scan for an ARBITRARY-DEPTH boolean tree of term
    leaves — the depth-unlimited generalization of
    ``_scored_group_tree``. The leaf occurrences become a broadcast
    relation joined against a single IN-filtered bucket-pruned scan;
    per-doc leaf scores land in one conditional aggregation (one
    column per leaf occurrence), and the tree's match/score semantics
    evaluate as a pure Column expression over those columns — so
    ``((a AND b) OR (c AND d)) NOT e`` is one scan + one doc-keyed
    shuffle at any nesting depth, instead of a join per clause
    (what survives a 100x scale-up).

    Semantics match the recursive join compiler (_scored_bool_joins):
    a node matches iff all MUST children match, no MUST_NOT child
    matches, and (absent musts) at least one SHOULD child matches;
    score = sum of must scores + sum of MATCHING should scores, with
    boosts pre-folded into the leaf weights by _bool_tree_spec."""
    from lucene_clj_spark.wand import tree_possible

    spark = index.spark
    pairs = [(le.field, le.term) for le in leaves]
    stats = _lookup_term_stats(index, pairs)
    present = {le.lid for le in leaves if (le.field, le.term) in stats}
    if not tree_possible(root, present):
        # an absent leaf starves a MUST chain somewhere up the tree
        return _empty_scores(index)
    # flat all-SHOULD groups of term leaves (e.g. a fuzzy clause's
    # expansion OR-group, up to 50 members) COLLAPSE to a single
    # aggregation column each — matched = any member present, score =
    # sum of present members' scores (a pure OR's contribution) — so
    # the aggregation width stays proportional to the query's clause
    # structure, not the expansion fan-out (past ~100 columns Spark
    # silently drops whole-stage codegen for the aggregate)
    leaf_gid: dict[int, int] = {}
    node_gid: dict[int, int] = {}

    def assign_groups(node) -> None:
        if isinstance(node, int):
            return
        int_shoulds = [s for s in node.shoulds if isinstance(s, int)]
        if len(int_shoulds) >= 2:
            gid = len(node_gid)
            node_gid[id(node)] = gid
            for s in int_shoulds:
                leaf_gid[s] = gid
        for ch in node.musts + node.shoulds + node.nots:
            assign_groups(ch)

    assign_groups(root)
    rows = []
    for le in leaves:
        if le.lid not in present:
            continue
        st = index.field_stats(le.field)
        rows.append(
            (le.field, le.term, le.lid, leaf_gid.get(le.lid, -1),
             float(le.weight), stats[(le.field, le.term)],
             int(st["N"]), float(st["avgdl"]))
        )
    local = spark.createDataFrame(
        rows,
        "field string, term string, lid int, gid int, weight double, "
        "df long, n_docs long, avgdl double",
    )
    fields = sorted({r[0] for r in rows})
    terms_ = sorted({r[1] for r in rows})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
        "doc_id", "lid", "gid", "field", "term",
        (
            F.col("weight")
            * bm25.score_col(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            )
        ).alias("score"),
    )
    solo_lids = sorted(le for le in present if le not in leaf_gid)
    gids = sorted({g for le, g in leaf_gid.items() if le in present})

    def _gid_fold(j: int):
        # canonical-order group sum, NULL when no member matched (the
        # tree evaluator reads nullness as the group's match flag) —
        # collect_list drops the non-member NULLs, array_sort fixes
        # the fold order (same 1-ulp tie hazard as _scored_term_group)
        lst = F.array_sort(
            F.collect_list(
                F.when(
                    F.col("gid") == j,
                    F.struct(F.col("field"), F.col("term"),
                             F.col("score")),
                )
            )
        )
        return F.when(
            F.size(lst) > 0,
            F.aggregate(lst, F.lit(0.0),
                        lambda acc, x: acc + x["score"]),
        )

    agg = scored.groupBy("doc_id").agg(
        *(
            [
                F.max(F.when(F.col("lid") == i, F.col("score")))
                .alias(f"__l{i}")
                for i in solo_lids
            ]
            + [_gid_fold(j).alias(f"__g{j}") for j in gids]
        )
    )
    present_gids = set(gids)

    def ev(node):
        """(matched Column, score Column) — child order and left-assoc
        adds mirror the kernel's numpy evaluator; a node's INT should
        children fold into one collapsed sum column (their combined
        contribution is exactly the sum of the present members' scores
        and their combined match is sum-not-null, like
        _scored_group_tree's per-gid aggregation)."""
        if isinstance(node, int):
            if node not in present:
                return F.lit(False), F.lit(0.0)
            c = F.col(f"__l{node}")
            return c.isNotNull(), F.coalesce(c, F.lit(0.0))
        g = node_gid.get(id(node))
        m_acc = None
        s_acc = None
        for mch in node.musts:
            cm, cs = ev(mch)
            m_acc = cm if m_acc is None else (m_acc & cm)
            s_acc = cs if s_acc is None else (s_acc + cs)
        any_s = None
        if g is not None and g in present_gids:
            c = F.col(f"__g{g}")
            any_s = c.isNotNull()
            contrib = F.coalesce(c, F.lit(0.0))
            s_acc = contrib if s_acc is None else (s_acc + contrib)
        elif g is not None:
            any_s = F.lit(False)
        for sch in node.shoulds:
            if g is not None and isinstance(sch, int):
                continue  # folded into the collapsed group column
            cm, cs = ev(sch)
            any_s = cm if any_s is None else (any_s | cm)
            contrib = F.when(cm, cs).otherwise(F.lit(0.0))
            s_acc = contrib if s_acc is None else (s_acc + contrib)
        if not node.musts:
            m_acc = any_s if any_s is not None else F.lit(False)
        for nch in node.nots:
            cm, _ = ev(nch)
            m_acc = m_acc & ~cm
        return m_acc, (s_acc if s_acc is not None else F.lit(0.0))

    m_root, s_root = ev(root)
    return agg.filter(m_root).select("doc_id", s_root.alias("score"))


def _group_tree_clauses(node: BoolQ) -> list | None:
    """Return the (occ, child) clause list if ``node`` is a one-level
    term-only group tree executable by ``_scored_group_tree``, else
    None. Also requires at least one positive clause (a pure-negative
    boolean matches nothing, handled by the generic path)."""
    if node.boost != 1.0 or node.min_should_match:
        return None
    positive = False
    for occ, child in node.clauses:
        if occ not in (MUST, SHOULD, "MUST_NOT"):
            return None
        if _as_term(child) is not None:
            positive = positive or occ != "MUST_NOT"
            continue
        if not (
            isinstance(child, BoolQ)
            and child.clauses
            and child.min_should_match == 0  # msm -> counting compiler
            and all(o == SHOULD and _as_term(c) is not None
                    for o, c in child.clauses)
        ):
            return None
        positive = positive or occ != "MUST_NOT"
    return list(node.clauses) if positive else None


def _term_postings(index, field: str, term: str) -> DataFrame:
    p = index.postings.filter(
        (F.col("field") == field) & (F.col("term") == term)
    )
    return _bucket_pruned(index, p, [term])


def _scored_term(index, node: TermQ) -> DataFrame:
    st = index.field_stats(node.field)
    stats = _lookup_term_stats(index, [(node.field, node.term)])
    df_ = stats.get((node.field, node.term))
    if df_ is None:
        return _empty_scores(index)
    post = _term_postings(index, node.field, node.term)
    # df/N/avgdl folded as literals -> pure scan+project+top-k, no joins
    scored = post.select(
        "doc_id",
        (
            F.lit(node.boost)
            * bm25.score_col(
                F.col("tf"),
                F.col("dl"),
                F.lit(df_),
                F.lit(st["N"]),
                F.lit(st["avgdl"]),
            )
        ).alias("score"),
    )
    return scored


def _scored_span_first(index, node: SpanFirstQ) -> DataFrame:
    """SpanFirstQuery(SpanTermQuery, end): one bucket-pruned postings
    seek — identical scan shape to ``_scored_term`` — with freq
    recomputed JVM-side as the count of positions < end (a span at
    position p ends at p+1; Lucene keeps span.end() <= end). BM25 uses
    the term's FULL df (SpanWeight builds its SimWeight from the
    underlying term statistics) and the same quantized length norm."""
    _check_span_first(node.end)
    st = index.field_stats(node.field)
    stats = _lookup_term_stats(index, [(node.field, node.term)])
    df_ = stats.get((node.field, node.term))
    if df_ is None or node.end == 0:
        return _empty_scores(index)
    post = _term_postings(index, node.field, node.term)
    freq = F.size(
        F.filter("positions", lambda p: p < F.lit(node.end))
    )
    qdl = bm25.quantized_dl_col(F.col("dl"))
    denom = F.col("__freq").cast("double") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    idf = bm25.idf_col(F.lit(df_), F.lit(st["N"]))
    return (
        post.withColumn("__freq", freq)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            (
                F.lit(node.boost) * idf
                * F.col("__freq").cast("double") / denom
            ).alias("score"),
        )
    )


# One argument check per span shape, raised by both its DataFrame plan
# and its segment kernel (wand.*_topk), so the two cannot drift.


def _check_span_first(end) -> None:
    if not isinstance(end, int) or end < 0:
        raise ValidationError(
            f"span_first end must be a non-negative int (got {end!r})",
            {"end": end},
        )


def _check_sloppy_phrase(terms: list, slop) -> None:
    if len(set(terms)) != len(terms):
        raise ValidationError(
            "sloppy phrases with repeated terms are not supported "
            "(Lucene's repeat-group matcher variant); use slop=0 or "
            "distinct terms",
            {"terms": terms, "slop": slop},
        )


def _check_span_near(terms: list, slop) -> None:
    if len(terms) < 2:
        raise ValidationError(
            "span_near needs >= 2 clauses (SpanNearQuery.Builder "
            "refuses an empty/one-clause near)",
            {"terms": terms},
        )
    if len(set(terms)) != len(terms):
        raise ValidationError(
            "span_near with repeated terms is not supported (the "
            "repeat-group matcher variant); use distinct terms",
            {"terms": terms},
        )
    if slop < 0:
        raise ValidationError("span_near slop must be >= 0", {"slop": slop})


def _check_span_or(terms: list) -> None:
    if not terms:
        raise ValidationError(
            "span_or needs >= 1 clause (SpanOrQuery with no clauses "
            "matches nothing by construction)",
            {"terms": terms},
        )


def _check_span_not(pre, post) -> None:
    if pre < 0 or post < 0:
        raise ValidationError(
            "span_not pre/post must be >= 0", {"pre": pre, "post": post}
        )


def _shift(offset):
    # NOTE: F.transform calls 2-arg lambdas as (elem, idx); keep a
    # 1-arg closure so `offset` is the phrase offset, not the index.
    return lambda x: x - F.lit(offset)


def _scored_sloppy_phrase(index, node: PhraseQ) -> DataFrame:
    """Sloppy phrase (``"a b"~N``): all terms must co-occur, freq is
    the slop-weighted match count from _sloppy_freq_py, and the score
    is BM25 over that (float) freq with idf = sum of per-term idfs —
    Lucene SloppyPhraseScorer semantics. Plan: the same rarest-first
    postings join as the exact path bounds candidates by the rarest
    term's df; the greedy runs Arrow-batched over the (already
    conjunction-bounded) candidates only."""
    import numpy as np

    terms = list(node.terms)
    if not terms:
        return _empty_scores(index)
    if len(terms) == 1:
        # Lucene rewrites one-term phrases to TermQuery (slop is moot)
        return _scored_term(index, TermQ(node.boost, node.field,
                                         terms[0]))
    st = index.field_stats(node.field)
    _check_sloppy_phrase(terms, node.slop)
    stats = _lookup_term_stats(index, [(node.field, t) for t in terms])
    if any((node.field, t) not in stats for t in terms):
        return _empty_scores(index)
    parts = []
    for i, t in enumerate(terms):
        p = _term_postings(index, node.field, t).select(
            "doc_id",
            F.col("dl").alias(f"__dl_{i}"),
            F.transform(F.col("positions"), _shift(i)).alias(f"__pos_{i}"),
        )
        parts.append(p)
    order = sorted(
        range(len(terms)),
        key=lambda i: (stats[(node.field, terms[i])], i),
    )
    joined = reduce(
        lambda a, b: a.join(b, "doc_id"), [parts[i] for i in order]
    )
    slop = int(node.slop)
    n_slots = len(terms)

    @F.pandas_udf("double")
    def _freq_udf(packed: pd.Series) -> pd.Series:
        out = np.empty(len(packed), dtype=np.float64)
        for r, slots in enumerate(packed):
            pls = [
                np.sort(np.asarray(p, dtype=np.int64)) for p in slots
            ]
            out[r] = _sloppy_freq_py(pls, slop)
        return pd.Series(out)

    freq_col = _freq_udf(
        F.array(*[F.col(f"__pos_{i}") for i in range(n_slots)])
    )
    idf_sum = None
    for t in terms:
        e = bm25.idf_col(F.lit(stats[(node.field, t)]), F.lit(st["N"]))
        idf_sum = e if idf_sum is None else (idf_sum + e)
    qdl = bm25.quantized_dl_col(F.col("__dl_0"))
    denom = F.col("__freq") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    return (
        joined.withColumn("__freq", freq_col)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            (
                F.lit(node.boost) * idf_sum * F.col("__freq") / denom
            ).alias("score"),
        )
    )


def _scored_span_near(index, node: SpanNearQ) -> DataFrame:
    """SpanNearQuery over single-term clauses (query.SpanNearQ — see
    its docstring for the match/weight contract). Plan: the sloppy
    phrase's rarest-first conjunction join bounds candidates by the
    rarest term's df, then the per-doc matcher (ordered
    minimal-completion greedy / unordered sloppy greedy with the
    span bias) runs Arrow-batched over candidates only — identical
    scale shape to _scored_sloppy_phrase."""
    import numpy as np

    terms = list(node.terms)
    _check_span_near(terms, node.slop)
    st = index.field_stats(node.field)
    stats = _lookup_term_stats(index, [(node.field, t) for t in terms])
    if any((node.field, t) not in stats for t in terms):
        return _empty_scores(index)
    parts = []
    for i, t in enumerate(terms):
        p = _term_postings(index, node.field, t).select(
            "doc_id",
            F.col("dl").alias(f"__dl_{i}"),
            F.col("positions").alias(f"__pos_{i}"),
        )
        parts.append(p)
    order = sorted(
        range(len(terms)),
        key=lambda i: (stats[(node.field, terms[i])], i),
    )
    joined = reduce(
        lambda a, b: a.join(b, "doc_id"), [parts[i] for i in order]
    )
    slop = int(node.slop)
    n_slots = len(terms)
    in_order = bool(node.in_order)
    bias = n_slots - 1

    @F.pandas_udf("double")
    def _freq_udf(packed: pd.Series) -> pd.Series:
        out = np.empty(len(packed), dtype=np.float64)
        for r, slots in enumerate(packed):
            pls = [
                np.sort(np.asarray(p, dtype=np.int64)) for p in slots
            ]
            if in_order:
                out[r] = _span_near_ordered_freq(pls, slop)
            else:
                out[r] = _sloppy_freq_py(pls, slop, bias=bias)
        return pd.Series(out)

    freq_col = _freq_udf(
        F.array(*[F.col(f"__pos_{i}") for i in range(n_slots)])
    )
    idf_sum = None
    for t in terms:
        e = bm25.idf_col(F.lit(stats[(node.field, t)]), F.lit(st["N"]))
        idf_sum = e if idf_sum is None else (idf_sum + e)
    qdl = bm25.quantized_dl_col(F.col("__dl_0"))
    denom = F.col("__freq") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    return (
        joined.withColumn("__freq", freq_col)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            (
                F.lit(node.boost) * idf_sum * F.col("__freq") / denom
            ).alias("score"),
        )
    )


def _scored_phrase(index, node: PhraseQ) -> DataFrame:
    """Positions-aware exact-adjacency phrase (slop 0), scored as BM25
    over the phrase frequency — public Lucene PhraseQuery semantics
    (reference query.clj:70-75, tested lucene_test.clj:63-72).
    ``slop > 0`` routes to the sloppy matcher."""
    if node.slop:
        return _scored_sloppy_phrase(index, node)
    st = index.field_stats(node.field)
    terms = list(node.terms)
    if not terms:
        return _empty_scores(index)

    # PhraseQuery weight: idf = SUM of per-term idfs (public Lucene
    # semantics); per-term df folded as literals from the driver-side
    # term-dictionary seek.
    uniq = list(dict.fromkeys(terms))
    stats = _lookup_term_stats(index, [(node.field, t) for t in uniq])
    if any((node.field, t) not in stats for t in uniq):
        return _empty_scores(index)
    parts = []
    for i, t in enumerate(terms):
        p = _term_postings(index, node.field, t).select(
            "doc_id",
            F.col("dl").alias(f"__dl_{i}"),
            F.transform(F.col("positions"), _shift(i)).alias(f"__pos_{i}"),
        )
        parts.append(p)
    # Rarest-term-first join order (df ascending): the smallest postings
    # set drives the join chain, so every later join is bounded by the
    # rarest term's df instead of shuffling a frequent term's full
    # postings — 'the merge' joins merge->the, not the->merge. The
    # position arrays are aliased by phrase offset, so the intersection
    # below is order-independent.
    order = sorted(
        range(len(terms)),
        key=lambda i: (stats[(node.field, terms[i])], i),
    )
    joined = reduce(
        lambda a, b: a.join(b, "doc_id"), [parts[i] for i in order]
    )
    inter = reduce(
        lambda acc, i: F.array_intersect(acc, F.col(f"__pos_{i}")),
        range(1, len(terms)),
        F.col("__pos_0"),
    )
    freq = F.size(inter)
    idf_sum = None
    for t in uniq:
        e = bm25.idf_col(
            F.lit(stats[(node.field, t)]), F.lit(st["N"])
        ) * F.lit(terms.count(t))
        idf_sum = e if idf_sum is None else (idf_sum + e)
    qdl = bm25.quantized_dl_col(F.col("__dl_0"))
    denom = freq.cast("double") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    return (
        joined.withColumn("__freq", freq)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            (F.lit(node.boost) * idf_sum * F.col("__freq").cast("double") / denom).alias(
                "score"
            ),
        )
    )


def _scored_exact(index, node: ExactQ) -> DataFrame:
    if node.value_type == "keyword":
        return _scored_term(
            index, TermQ(node.boost, node.field, str(node.value))
        )
    # typed point query -> docs-table filter, constant score 1.0 * boost
    # (Lucene point exact queries are constant-score)
    col = F.col(node.field)
    if node.value_type == "instant":
        # Compare at epoch-millis resolution (reference values.clj:76-95).
        # TIMESTAMP_NTZ columns hold a wall clock with no zone; the
        # engine's contract is "NTZ wall clock == UTC", enforced
        # SESSION-TZ-INDEPENDENTLY by comparing against a TIMESTAMP_NTZ
        # literal range [t, t+1ms) — no cast through the session zone
        # (a bare cast('timestamp') would silently shift results in a
        # non-UTC session). Range predicates also push down to parquet
        # min/max. Zoned TIMESTAMP columns are absolute instants, so
        # unix_millis needs no zone handling.
        import datetime as _dt

        dtype = index.docs.schema[node.field].dataType
        if dtype.typeName() == "timestamp_ntz":
            naive = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                milliseconds=int(node.value)
            )
            iso = naive.strftime("%Y-%m-%d %H:%M:%S.%f")
            lo = F.expr(f"TIMESTAMP_NTZ '{iso}'")
            hi = F.expr(
                f"TIMESTAMP_NTZ '{iso}' + INTERVAL 1 MILLISECOND"
            )
            cond = (col >= lo) & (col < hi)
        else:
            cond = F.unix_millis(col.cast("timestamp")) == F.lit(node.value)
    else:
        cond = col == F.lit(node.value)
    return index.docs.filter(cond).select(
        "doc_id", F.lit(float(node.boost)).alias("score")
    )


def _wildcard_like(pattern: str) -> str:
    """Translate QueryParser wildcard syntax to a SQL LIKE pattern
    (escape char ``\\``): ``*`` -> ``%``, ``?`` -> ``_``, ``\\x``
    unescapes to literal x, and LIKE's own metachars ``% _ \\`` are
    escaped."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            nxt = pattern[i + 1]
            out.append("\\" + nxt if nxt in ("%", "_", "\\") else nxt)
            i += 2
            continue
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("%", "_", "\\"):
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _scored_wildcard(index, node: WildcardQ) -> DataFrame:
    """WildcardQuery / PrefixQuery — constant-score rewrite: every doc
    containing >=1 matching term scores ``boost`` (Lucene's
    MultiTermQuery constant-score rewrite; the DSL surface is reachable
    through the reference's parse-dsl, query.clj:115-124). Fully
    distributed: ONE postings scan with the translated LIKE predicate
    pushed into the parquet reader (a trailing-* prefix pattern plans
    as StartsWith -> row-group min/max pruning on the sorted term
    column), then a doc_id distinct bounded by the matching docs. No
    driver-side term expansion — a pattern matching 10^6 vocab terms
    at web scale still costs one scan."""
    if node.field not in index.stats:
        return _empty_scores(index)
    pat = _wildcard_like(node.pattern)
    post = index.postings.filter(
        (F.col("field") == node.field) & F.col("term").like(pat)
    )
    return (
        post.select("doc_id")
        .distinct()
        .select("doc_id", F.lit(float(node.boost)).alias("score"))
    )


def _scored_term_in_set(index, node: TermInSetQ) -> DataFrame:
    """TermInSetQuery — constant-score rewrite: every doc containing
    >=1 of the set's terms in ``field`` scores ``boost`` (Lucene
    TermInSetQuery / MultiTermQuery CONSTANT_SCORE_REWRITE). ONE
    postings scan: the IN predicate pushes into the parquet reader
    (row-group min/max pruning on the sorted term column) and the
    terms' bucket directories constant-fold into PartitionFilters
    (``_bucket_pruned``), then a distinct bounded by the matching
    docs. No per-term scans, no driver-side expansion."""
    if not node.terms or node.field not in index.stats:
        return _empty_scores(index)
    terms = list(dict.fromkeys(node.terms))
    post = index.postings.filter(
        (F.col("field") == node.field) & F.col("term").isin(terms)
    )
    post = _bucket_pruned(index, post, terms)
    return (
        post.select("doc_id")
        .distinct()
        .select("doc_id", F.lit(float(node.boost)).alias("score"))
    )


def _scored_span_or(index, node: SpanOrQ) -> DataFrame:
    """SpanOrQuery over single-term clauses (query.SpanOrQ — see its
    docstring for the weight contract): freq = total occurrence count
    across the matching terms, idf = sum over the present terms' dfs,
    BM25 once over the pooled freq. Plan: ONE bucket-pruned postings
    scan with an IN predicate (the TermInSet scan shape) feeding a
    single aggregate — tf sums combine map-side, so the shuffle
    carries one row per (doc, matched-term-set) partial, never the
    positions."""
    terms = list(dict.fromkeys(node.terms))
    _check_span_or(terms)
    if node.field not in index.stats:
        return _empty_scores(index)
    st = index.field_stats(node.field)
    stats = _lookup_term_stats(index, [(node.field, t) for t in terms])
    present = [t for t in terms if (node.field, t) in stats]
    if not present:
        return _empty_scores(index)
    post = index.postings.filter(
        (F.col("field") == node.field) & F.col("term").isin(present)
    )
    post = _bucket_pruned(index, post, present)
    # integer tf sum — order-insensitive, no canonical fold needed
    agg = post.groupBy("doc_id").agg(
        F.sum("tf").alias("__freq"), F.max("dl").alias("__dl")
    )
    idf_sum = None
    for t in present:
        e = bm25.idf_col(F.lit(stats[(node.field, t)]), F.lit(st["N"]))
        idf_sum = e if idf_sum is None else (idf_sum + e)
    qdl = bm25.quantized_dl_col(F.col("__dl"))
    denom = F.col("__freq").cast("double") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    return agg.select(
        "doc_id",
        (
            F.lit(node.boost) * idf_sum
            * F.col("__freq").cast("double") / denom
        ).alias("score"),
    )


def _scored_span_not(index, node: SpanNotQ) -> DataFrame:
    """SpanNotQuery over single-term clauses (query.SpanNotQ — see its
    docstring for the overlap/weight contract): include positions
    survive unless an exclude position lands in
    ``[p - pre, p + post]``; freq = surviving-position count, BM25
    over the include term's FULL df. Plan: two single-term
    bucket-pruned seeks, LEFT join on doc_id (exclude-absent docs keep
    everything), position filtering via JVM higher-order array
    functions — no Python in the plan, candidates bounded by the
    include term's df."""
    _check_span_not(node.pre, node.post)
    st = index.field_stats(node.field)
    stats = _lookup_term_stats(index, [(node.field, node.include)])
    df_ = stats.get((node.field, node.include))
    if df_ is None:
        return _empty_scores(index)
    inc = _term_postings(index, node.field, node.include).select(
        "doc_id", "dl", F.col("positions").alias("__inc")
    )
    exc = _term_postings(index, node.field, node.exclude).select(
        "doc_id", F.col("positions").alias("__exc")
    )
    pre, post_ = int(node.pre), int(node.post)

    def _survives(p):
        return ~F.exists(
            F.coalesce(F.col("__exc"), F.array().cast("array<int>")),
            lambda q: (q >= p - F.lit(pre)) & (q <= p + F.lit(post_)),
        )

    freq = F.size(F.filter(F.col("__inc"), _survives))
    qdl = bm25.quantized_dl_col(F.col("dl"))
    denom = F.col("__freq").cast("double") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    idf = bm25.idf_col(F.lit(df_), F.lit(st["N"]))
    return (
        inc.join(exc, "doc_id", "left")
        .withColumn("__freq", freq)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            (
                F.lit(node.boost) * idf
                * F.col("__freq").cast("double") / denom
            ).alias("score"),
        )
    )


def _scored_function_score(index, node: FunctionScoreQ) -> DataFrame:
    """FunctionScoreQuery with a stored-field DoubleValuesSource
    (query.FunctionScoreQ): the inner match set joined to the docs
    table pruned to (doc_id, source_field); multiply =
    ``boostByValue``, replace = plain FunctionScoreQuery. NULL stored
    values take ``missing``. The docs scan reads exactly two columns
    (column pruning reaches parquet) and joins on the docs table's
    own sort key."""
    if node.inner is None:
        return _empty_scores(index)
    if node.mode not in ("multiply", "replace"):
        raise ValidationError(
            "function_score mode must be 'multiply' or 'replace'",
            {"mode": node.mode},
        )
    if node.source_field not in index.docs.columns:
        raise ValidationError(
            f"function_score source_field {node.source_field!r} is not "
            "a stored field",
            {"source_field": node.source_field,
             "stored": sorted(index.docs.columns)},
        )
    inner = compile_node(index, node.inner)
    vals = index.docs.select(
        "doc_id",
        F.coalesce(
            F.col(node.source_field).cast("double"),
            F.lit(float(node.missing)),
        ).alias("__fv"),
    )
    joined = inner.join(vals, "doc_id")
    if node.mode == "multiply":
        sc = F.col("score") * F.col("__fv")
    else:
        sc = F.col("__fv")
    return joined.select(
        "doc_id", (F.lit(float(node.boost)) * sc).alias("score")
    )


def _scored_multi_phrase(index, node: MultiPhraseQ) -> DataFrame:
    """MultiPhraseQuery — exact-adjacency phrase with per-slot term
    ALTERNATIVES (synonym phrase). Same join shape as
    ``_scored_phrase``: one bucket-pruned postings scan per SLOT (the
    slot's alternatives share a scan via an IN predicate), positions
    shifted by slot offset and UNIONED across alternatives
    (deduplicated — a slot matched by two alternatives at one
    position is still one occurrence, Lucene's UnionPostingsEnum),
    rarest-slot-first join chain, freq = |intersection|. idf = sum of
    per-(slot, term) idfs over every PRESENT term (Lucene
    IndexSearcher.termStatistics returns null at docFreq 0, so absent
    alternatives drop out of both matching and the weight); a slot
    with NO present alternative can never match — empty result."""
    st = index.field_stats(node.field)
    if not node.positions:
        return _empty_scores(index)
    for ts in node.positions:
        if not ts:
            raise ValidationError(
                "multi_phrase slot with no terms (Lucene "
                "MultiPhraseQuery.Builder.add rejects empty term "
                "arrays)",
                {"positions": node.positions},
            )
    slots = [list(dict.fromkeys(ts)) for ts in node.positions]
    stats = _lookup_term_stats(
        index, [(node.field, t) for ts in slots for t in ts]
    )
    present = [
        [t for t in ts if (node.field, t) in stats] for ts in slots
    ]
    if any(not ts for ts in present):
        return _empty_scores(index)

    parts = []
    slot_df = []
    for i, ts in enumerate(present):
        post = index.postings.filter(
            (F.col("field") == node.field) & F.col("term").isin(ts)
        )
        post = _bucket_pruned(index, post, ts)
        p = post.select(
            "doc_id",
            F.col("dl").alias(f"__dl_{i}"),
            F.transform(F.col("positions"), _shift(i)).alias(f"__pos_{i}"),
        )
        if len(ts) > 1:
            # union the alternatives' (shifted) position lists per doc
            p = p.groupBy("doc_id").agg(
                F.min(f"__dl_{i}").alias(f"__dl_{i}"),
                F.array_distinct(
                    F.flatten(F.collect_list(f"__pos_{i}"))
                ).alias(f"__pos_{i}"),
            )
        parts.append(p)
        slot_df.append(sum(stats[(node.field, t)] for t in ts))

    # rarest-slot-first join order: the slot with the smallest summed
    # df (an upper bound on its matching-doc count) drives the chain
    order = sorted(range(len(parts)), key=lambda i: (slot_df[i], i))
    joined = reduce(
        lambda a, b: a.join(b, "doc_id"), [parts[i] for i in order]
    )
    inter = reduce(
        lambda acc, i: F.array_intersect(acc, F.col(f"__pos_{i}")),
        range(1, len(parts)),
        F.col("__pos_0"),
    )
    freq = F.size(inter)
    idf_sum = None
    for ts in present:
        for t in ts:
            e = bm25.idf_col(
                F.lit(stats[(node.field, t)]), F.lit(st["N"])
            )
            idf_sum = e if idf_sum is None else (idf_sum + e)
    qdl = bm25.quantized_dl_col(F.col("__dl_0"))
    denom = freq.cast("double") + F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B)
        + F.lit(bm25.B) * qdl.cast("double") / F.lit(st["avgdl"])
    )
    return (
        joined.withColumn("__freq", freq)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            (
                F.lit(node.boost) * idf_sum
                * F.col("__freq").cast("double") / denom
            ).alias("score"),
        )
    )


_REGEX_META = set(".?*+(){}[]|\\^$")


def _regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex — the chars before the first
    metacharacter (stopping one earlier if the metachar is a quantifier,
    which binds the previous char). Lucene's CompiledAutomaton extracts
    the same common prefix to seek the terms dict; we use it to bound
    the postings scan with a sargable term range. A TOP-LEVEL
    unparenthesized alternation (``small|slow``) voids the prefix —
    each branch starts independently."""
    depth = 0
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return ""
        i += 1
    out = []
    for c in pattern:
        if c in _REGEX_META:
            if c in "?*+{" and out:
                out.pop()  # quantifier applies to the previous literal
            break
        out.append(c)
    return "".join(out)


def _scored_regexp(index, node: RegexpQ) -> DataFrame:
    """RegexpQuery — constant-score rewrite: every doc containing >=1
    term fully matching the anchored pattern scores ``boost`` (DSL
    surface reachable through the reference's parse-dsl,
    query.clj:115-124). One distributed postings scan, JVM-side regex
    (``rlike``, whole-stage codegen) — no driver-side term expansion.
    The pattern's literal prefix (Lucene CompiledAutomaton-style)
    becomes a sargable term range so parquet row-group min/max pruning
    still applies when the pattern is anchored by literals."""
    if node.field not in index.stats:
        return _empty_scores(index)
    post = index.postings.filter(F.col("field") == node.field)
    prefix = _regex_literal_prefix(node.pattern)
    if prefix:
        # exact "starts with prefix" predicate — plans as
        # StringStartsWith (row-group min/max pruning on the sorted
        # term column), and unlike a [prefix, prefix+MAXCHAR) range it
        # cannot exclude terms that CONTAIN the max code point
        post = post.filter(F.col("term").startswith(F.lit(prefix)))
    post = post.filter(
        F.col("term").rlike("^(?:" + node.pattern + ")$")
    )
    return (
        post.select("doc_id")
        .distinct()
        .select("doc_id", F.lit(float(node.boost)).alias("score"))
    )


def _scored_range(index, node: RangeQ) -> DataFrame:
    """Range query, constant score (Lucene TermRangeQuery on
    text/keyword — lexicographic over the term dictionary — and
    LongPoint/DoublePoint/epoch-millis ``newRangeQuery`` on typed
    fields; both use constant-score rewrites). Text ranges are one
    postings scan with the term-range predicate pushed to the parquet
    reader; typed ranges filter the docs table directly (the range
    pushes to the column's row-group min/max)."""
    boost = F.lit(float(node.boost)).alias("score")
    if node.value_type in ("text", "keyword"):
        if node.field not in index.stats:
            return _empty_scores(index)
        post = index.postings.filter(F.col("field") == node.field)
        t = F.col("term")
        if node.lo is not None:
            post = post.filter(
                t >= F.lit(node.lo) if node.include_lo else t > F.lit(node.lo)
            )
        if node.hi is not None:
            post = post.filter(
                t <= F.lit(node.hi) if node.include_hi else t < F.lit(node.hi)
            )
        return post.select("doc_id").distinct().select("doc_id", boost)
    import datetime as _dt

    col = F.col(node.field)
    if node.value_type == "instant":
        dtype = index.docs.schema[node.field].dataType.typeName()
        if dtype == "timestamp_ntz":
            # NTZ wall clock == UTC contract — compare against
            # TIMESTAMP_NTZ literals, never a session-zone cast
            # (same reasoning as the exact-instant path above)
            def mk(ms):
                naive = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                    milliseconds=int(ms)
                )
                iso = naive.strftime("%Y-%m-%d %H:%M:%S.%f")
                return F.expr(f"TIMESTAMP_NTZ '{iso}'")

            cmp_col = col
        else:
            cmp_col = F.unix_millis(col.cast("timestamp"))

            def mk(ms):
                return F.lit(int(ms))

    else:
        cmp_col = col

        def mk(v):
            return F.lit(v)

    cond = col.isNotNull()
    if node.lo is not None:
        lo = mk(node.lo)
        cond = cond & (cmp_col >= lo if node.include_lo else cmp_col > lo)
    if node.hi is not None:
        hi = mk(node.hi)
        cond = cond & (cmp_col <= hi if node.include_hi else cmp_col < hi)
    return index.docs.filter(cond).select("doc_id", boost)


def _scored_matchall(index, node: MatchAll) -> DataFrame:
    """``*:*`` — MatchAllDocsQuery: every doc, score = boost."""
    return index.docs.select(
        "doc_id", F.lit(float(node.boost)).alias("score")
    )


def _fuzzy_expansions(index, node: FuzzyQ) -> list[tuple[str, int, float]]:
    """Driver-side FuzzyTermsEnum: expand the query term against the
    term DICTIONARY (vocab-sized, never postings) within max_edits by
    Damerau-Levenshtein (transpositions count 1 — Lucene FuzzyQuery
    semantics, fuzzy.py), rank by closeness boost then df then term,
    cap at max_expansions (Lucene default 50), and collect the tiny
    result. Returns [(term, df, fboost)].

    Expansions are memoized per-Index (the index snapshot is immutable,
    like the term-stats cache): a repeated fuzzy query costs zero
    expansion jobs."""
    from lucene_clj_spark._udfs import edit_distance_udf

    key = (node.field, node.term, node.max_edits, node.prefix_length,
           node.max_expansions)
    cache = getattr(index, "_fuzzy_exp_cache", None)
    if cache is None:
        cache = {}
        index._fuzzy_exp_cache = cache
    if key in cache:
        return cache[key]

    q = node.term
    qlen = len(q)
    cand = (
        index.terms.filter(F.col("field") == node.field)
        .filter(F.abs(F.length("term") - F.lit(qlen)) <= node.max_edits)
    )
    if node.prefix_length > 0:
        cand = cand.filter(
            F.col("term").startswith(q[: node.prefix_length])
        )
    cand = (
        cand.withColumn(
            "__edits", edit_distance_udf(q, node.max_edits)(F.col("term"))
        )
        .filter(F.col("__edits") <= node.max_edits)
        .withColumn(
            "__fboost",
            F.when(F.col("__edits") == 0, F.lit(1.0)).otherwise(
                F.lit(1.0)
                - F.col("__edits").cast("double")
                / F.least(F.length("term"), F.lit(qlen)).cast("double")
            ),
        )
        .orderBy(F.desc("__fboost"), F.desc("df"), F.asc("term"))
        .limit(node.max_expansions)
        .select("term", "df", "__fboost")
    )
    exp = [
        (r["term"], int(r["df"]), float(r["__fboost"]))
        for r in cand.collect()
    ]
    cache[key] = exp
    return exp


def _scored_fuzzy(index, node: FuzzyQ) -> DataFrame:
    """FuzzyQuery: expand the term against the term dictionary within
    max_edits (Damerau-Levenshtein — a transposition is ONE edit), cap
    expansions (Lucene default 50, ranked by boost then df), then score
    each expanded term with its own idf multiplied by the closeness
    boost ``1 - edits/min(|q|,|t|)`` and OR-combine (public
    FuzzyTermsEnum semantics; reference query.clj:126-147, behavior
    shown in README.org:803-832).

    The expansion set is collected driver-side (<= 50 rows), so the
    postings scan filters on LITERAL term + bucket sets — on a disk
    index a fuzzy query reads only the expanded terms' bucket
    directories instead of the whole field's postings."""
    st = index.field_stats(node.field)
    exp = _fuzzy_expansions(index, node)
    if not exp:
        return _empty_scores(index)
    local = index.spark.createDataFrame(
        [(node.field, t, df_, fb) for t, df_, fb in exp],
        "field string, term string, df long, __fboost double",
    )
    terms_ = sorted({t for t, _, _ in exp})
    post = index.postings.filter(
        (F.col("field") == node.field) & F.col("term").isin(terms_)
    )
    post = _bucket_pruned(index, post, terms_).join(
        F.broadcast(local), ["field", "term"]
    )
    scored = post.select(
        "doc_id",
        "field",
        "term",
        (
            F.lit(node.boost)
            * F.col("__fboost")
            * bm25.score_col(
                F.col("tf"),
                F.col("dl"),
                F.col("df"),
                F.lit(st["N"]),
                F.lit(st["avgdl"]),
            )
        ).alias("score"),
    )
    exp_keys = [(node.field, t) for t, _, _ in exp]
    if len(exp_keys) <= _PIVOT_SUM_MAX:
        pivot_aggs, total = _pivot_canonical_aggs(exp_keys)
        return (
            scored.groupBy("doc_id")
            .agg(*pivot_aggs)
            .select("doc_id", total.alias("score"))
        )
    return scored.groupBy("doc_id").agg(
        _canonical_score_sum().alias("score")
    )


def _empty_scores(index) -> DataFrame:
    return index.spark.createDataFrame([], "doc_id long, score double")


def _expand_fuzzy_clauses(index, node: BoolQ) -> BoolQ | None:
    """Rewrite FuzzyQ children of a boolean — and fuzzy members of
    one-level all-SHOULD groups — into OR groups of expansion TermQs
    weighted ``fuzzy.boost * closeness`` (the memoized driver-side
    FuzzyTermsEnum, _fuzzy_expansions). Score-preserving: FuzzyQuery
    IS an OR over its expansions with per-term closeness boosts
    (reference query.clj:126-147), and the member boost ``b * fb`` is
    the same float product _scored_fuzzy computes, so after this
    rewrite booleans containing fuzzy clauses take the same one-scan
    group plans — and the same segment kernels — as term-only
    booleans, instead of a join per fuzzy clause.

    Returns the rewritten node (``node`` itself if no fuzzy children),
    or None if a MUST fuzzy has no expansions (the result is empty).
    """
    def members_of(fz: FuzzyQ) -> list[tuple[str, TermQ]]:
        return [
            (SHOULD, TermQ(fz.boost * fb, fz.field, t))
            for t, _, fb in _fuzzy_expansions(index, fz)
        ]

    changed = False
    out: list[tuple[str, Node]] = []
    for occ, child in node.clauses:
        if isinstance(child, FuzzyQ):
            ms = members_of(child)
            changed = True
            if not ms:
                if occ == MUST:
                    return None
                continue  # unmatched SHOULD / MUST_NOT drops out
            out.append((occ, BoolQ(1.0, tuple(ms))))
            continue
        if (
            isinstance(child, BoolQ)
            and child.clauses
            and child.min_should_match == 0  # msm groups stay opaque
            and all(o == SHOULD for o, _ in child.clauses)
            and any(isinstance(c, FuzzyQ) for _, c in child.clauses)
        ):
            # fuzzy inside an OR group: splice expansions inline
            # (OR-of-OR flattens; the group boost is folded into every
            # member later by the group compilers)
            ms = []
            for _, c in child.clauses:
                if isinstance(c, FuzzyQ):
                    ms.extend(members_of(c))
                else:
                    ms.append((SHOULD, c))
            changed = True
            if not ms:
                if occ == MUST:
                    return None
                continue
            out.append((occ, BoolQ(child.boost, tuple(ms))))
            continue
        out.append((occ, child))
    if not changed:
        return node
    return BoolQ(node.boost, tuple(out), node.min_should_match)


def _expand_fuzzy_deep(index, node: BoolQ) -> BoolQ:
    """Recursively rewrite FuzzyQ leaves ANYWHERE in a boolean tree
    into OR groups of expansion TermQs weighted ``boost * closeness``
    (the same score-preserving rewrite as _expand_fuzzy_clauses, which
    only reaches depth 1) — so nested trees containing fuzzy leaves
    become term-only and take the one-scan tree plans instead of the
    join compiler. A fuzzy with ZERO dictionary expansions becomes an
    EMPTY BoolQ — a never-matching node the tree compilers evaluate
    exactly like Lucene: a MUST parent can then never match, while
    SHOULD / MUST_NOT occurrences simply never fire. Returns ``node``
    itself (identity) when the tree holds no fuzzy leaves."""
    changed = False

    def walk(b: BoolQ) -> BoolQ:
        nonlocal changed
        out = []
        for occ, child in b.clauses:
            if isinstance(child, FuzzyQ):
                changed = True
                ms = tuple(
                    (SHOULD, TermQ(child.boost * fb, child.field, t))
                    for t, _, fb in _fuzzy_expansions(index, child)
                )
                out.append((occ, BoolQ(1.0, ms)))
            elif isinstance(child, BoolQ):
                out.append((occ, walk(child)))
            else:
                out.append((occ, child))
        return BoolQ(b.boost, tuple(out), b.min_should_match)

    new = walk(node)
    return new if changed else node


def _scored_bool(index, node: BoolQ) -> DataFrame:
    rewritten = _expand_fuzzy_clauses(index, node)
    if rewritten is None:
        return _empty_scores(index)  # a MUST fuzzy matched nothing
    node = _flatten(rewritten) if rewritten is not node else node
    if not isinstance(node, BoolQ):
        return compile_node(index, node)
    has_filter = any(occ == FILTER for occ, _ in node.clauses)
    known_occs = (MUST, SHOULD, "MUST_NOT", FILTER)
    bad_occs = [occ for occ, _ in node.clauses if occ not in known_occs]
    if bad_occs:
        # validated HERE, before any fast path, so an unknown occur can
        # never be silently scored as SHOULD by the term-group plan
        raise ValidationError(
            f"unknown boolean occur value(s) {sorted(set(bad_occs))!r}"
            f" — expected one of {list(known_occs)}",
            {"occurs": sorted(set(bad_occs))},
        )
    msm = node.min_should_match

    # fast path: every positive clause is a term (or keyword-exact)
    # query -> single-scan single-shuffle plan (_scored_term_group).
    # min_should_match rides into the same aggregation UNLESS two
    # SHOULD clauses share a (field, term) — the scan merges them into
    # one row, undercounting the matched-clause tally Lucene keeps
    term_clauses = _flat_term_clauses(node)
    if term_clauses and msm:
        # any shared (field, term) — SHOULD/SHOULD or MUST/SHOULD —
        # merges into one scan row and breaks the clause tally
        pairs = [(t.field, t.term) for _, t in term_clauses]
        if len(pairs) != len(set(pairs)):
            term_clauses = None
    if term_clauses:
        return _scored_term_group(index, term_clauses, msm)

    if msm or has_filter:
        # the one-scan group/tree plans don't carry the matched-SHOULD
        # tally or unscored-FILTER semantics; the recursive compiler
        # does (and the kernel router rejects these shapes upstream)
        return _scored_bool_joins(index, node)

    # one-level group trees ((a OR b) AND c NOT d, all term leaves) get
    # the single-scan two-agg plan instead of one join per clause
    if node.boost == 1.0:
        gclauses = _group_tree_clauses(node)
        if gclauses is not None:
            return _scored_group_tree(index, gclauses)

    # DEEPER term-only trees — ((a AND b) OR (c AND d)) NOT e at any
    # nesting depth, boosted roots included — get the one-scan
    # tree-expression plan instead of a join per clause; fuzzy leaves
    # at depth expand into weighted term OR-groups first
    spec = _bool_tree_spec(node)
    if spec is None:
        deep = _expand_fuzzy_deep(index, node)
        if deep is not node:
            spec = _bool_tree_spec(deep)
    if spec is not None:
        return _scored_tree(index, *spec)

    return _scored_bool_joins(index, node)


def _scored_bool_joins(index, node: BoolQ) -> DataFrame:
    """The fully-general recursive boolean compiler: one scored
    DataFrame per clause, combined with joins/unions. Correct for ANY
    clause type (phrase/fuzzy/typed-exact subtrees land here), but
    join-per-clause — term-only shapes are intercepted upstream by the
    one-scan plans (_scored_term_group / _scored_group_tree /
    _scored_tree), and tests pin those against this compiler as the
    semantic reference."""
    musts = [n for occ, n in node.clauses if occ == MUST]
    shoulds = [n for occ, n in node.clauses if occ == SHOULD]
    must_nots = [n for occ, n in node.clauses if occ == "MUST_NOT"]
    filters = [n for occ, n in node.clauses if occ == FILTER]
    known = (MUST, SHOULD, "MUST_NOT", FILTER)
    bad = [occ for occ, _ in node.clauses if occ not in known]
    if bad:
        raise ValidationError(
            f"unknown boolean occur value(s) {sorted(set(bad))!r} — "
            f"expected one of {list(known)}",
            {"occurs": sorted(set(bad))},
        )
    msm = node.min_should_match
    if msm and msm > len(shoulds):
        # Lucene BooleanQuery.rewrite: minimumNumberShouldMatch larger
        # than the SHOULD clause count -> MatchNoDocsQuery
        return _empty_scores(index)

    def c(n: Node) -> DataFrame:
        return compile_node(index, n)

    # minimumNumberShouldMatch: the SHOULD union carries a matched-
    # clause tally; each clause emits <=1 row per doc so count == the
    # number of matched clauses (Lucene's counting scorer)
    opt: DataFrame | None = None
    if shoulds:
        opt = (
            reduce(
                DataFrame.unionByName,
                [
                    c(n).select("doc_id", "score")
                    .withColumn("__cid", F.lit(i))
                    for i, n in enumerate(shoulds)
                ],
            )
            .groupBy("doc_id")
            .agg(
                _canonical_sum_by("__cid").alias("__opt"),
                F.count(F.lit(1)).alias("__optn"),
            )
        )
        if msm:
            opt = opt.filter(F.col("__optn") >= msm)

    base: DataFrame | None = None
    if musts:
        dfs = [c(n).withColumnRenamed("score", f"__s{i}") for i, n in enumerate(musts)]
        base = reduce(lambda a, b: a.join(b, "doc_id"), dfs)
        total = reduce(
            lambda a, i: a + F.col(f"__s{i}"),
            range(1, len(musts)),
            F.col("__s0"),
        )
        base = base.select("doc_id", total.alias("score"))
        if opt is not None:
            join_type = "inner" if msm else "left"
            base = base.join(opt, "doc_id", join_type).select(
                "doc_id",
                (F.col("score") + F.coalesce(F.col("__opt"), F.lit(0.0))).alias(
                    "score"
                ),
            )
    elif filters:
        # FILTER counts as a required clause (Lucene: SHOULDs become
        # optional whenever MUST or FILTER clauses exist) — the match
        # set is the filter intersection, scored 0 plus any matched
        # SHOULD scores
        base = c(filters[0]).select(
            "doc_id", F.lit(0.0).alias("score")
        )
        filters = filters[1:]
        if opt is not None:
            join_type = "inner" if msm else "left"
            base = base.join(opt, "doc_id", join_type).select(
                "doc_id",
                (F.col("score")
                 + F.coalesce(F.col("__opt"), F.lit(0.0))).alias("score"),
            )
    elif opt is not None:
        base = opt.select("doc_id", F.col("__opt").alias("score"))
    else:
        base = _empty_scores(index)
    for fn in filters:
        # required match, no score contribution: a semi join keeps the
        # clause out of the score expression entirely
        base = base.join(c(fn).select("doc_id"), "doc_id", "left_semi")
    if must_nots and base is not None:
        neg = reduce(DataFrame.unionByName, [c(n).select("doc_id") for n in must_nots])
        base = base.join(neg, "doc_id", "left_anti")
    if node.boost != 1.0:
        base = base.select(
            "doc_id", (F.col("score") * F.lit(node.boost)).alias("score")
        )
    return base


def compile_node(index, node: Node) -> DataFrame:
    """AST -> lazy scored DataFrame ``(doc_id, score double)``."""
    node = _flatten(node)
    if isinstance(node, TermQ):
        return _scored_term(index, node)
    if isinstance(node, PhraseQ):
        return _scored_phrase(index, node)
    if isinstance(node, ExactQ):
        return _scored_exact(index, node)
    if isinstance(node, FuzzyQ):
        return _scored_fuzzy(index, node)
    if isinstance(node, WildcardQ):
        return _scored_wildcard(index, node)
    if isinstance(node, RegexpQ):
        return _scored_regexp(index, node)
    if isinstance(node, RangeQ):
        return _scored_range(index, node)
    if isinstance(node, MatchAll):
        return _scored_matchall(index, node)
    if isinstance(node, BoolQ):
        return _scored_bool(index, node)
    if isinstance(node, DisMaxQ):
        return _scored_dismax(index, node)
    if isinstance(node, SpanFirstQ):
        return _scored_span_first(index, node)
    if isinstance(node, TermInSetQ):
        return _scored_term_in_set(index, node)
    if isinstance(node, SpanNearQ):
        return _scored_span_near(index, node)
    if isinstance(node, SpanOrQ):
        return _scored_span_or(index, node)
    if isinstance(node, SpanNotQ):
        return _scored_span_not(index, node)
    if isinstance(node, FunctionScoreQ):
        return _scored_function_score(index, node)
    if isinstance(node, MultiPhraseQ):
        return _scored_multi_phrase(index, node)
    if isinstance(node, ConstantScoreQ):
        # Lucene ConstantScoreQuery: every matching doc scores boost;
        # the inner query contributes its MATCH SET only (its scoring
        # columns are projected away, so Catalyst prunes any scoring
        # arithmetic the inner plan doesn't need for matching)
        if node.inner is None:
            return _empty_scores(index)
        # compile_node's contract is <=1 row per doc (the boolean join
        # compiler counts on it), so no dedup shuffle is needed here
        return compile_node(index, node.inner).select(
            "doc_id", F.lit(float(node.boost)).alias("score")
        )
    if isinstance(node, MatchNone):
        return _empty_scores(index)
    raise ValidationError(f"cannot compile node {node!r}", {})


def _wand_route(index, node: Node):
    """Decide whether a query runs on a segment kernel (the scale
    path) of a disk index with built segments, and on which:

    - ``flat``: a term / boosted term, a flat MUST/SHOULD boolean of
      term-like clauses over ANY mix of fields (map queries
      {title: ..., body: ...}), with or without
      minimumNumberShouldMatch, and a fuzzy query's expansion OR;
    - ``span_or``: SpanOrQ on the pooled-tf kernel;
    - ``tree``: every other boolean whose leaves are terms or exact
      phrases (any depth, MUST_NOT, boosted groups, fuzzy leaves
      expanded) and term-like DisMaxQ (a root node with a ``tie``);
    - ``phrase`` / ``sloppy_phrase`` / ``span_near`` / ``span_first``
      / ``span_not``: the positions kernels.

    Returns None (the DataFrame plan serves the query) or
    ``(kind, run)`` where ``run(k, search_after)`` builds the kernel's
    top-k plan; ``empty`` runs the empty frame (a MUST fuzzy with no
    expansions). For ``flat`` and ``tree`` the run is a
    ``wand.KernelSpec``, which batch.search_batch runs together with
    its other queries' specs in one kernel pass. Boosts ride as kernel
    weights (scores and block-max skip bounds scale linearly, so
    pruning stays exact); a non-positive weight would invert the
    bounds and falls back."""
    if not index.path:
        return None
    from lucene_clj_spark import wand
    from lucene_clj_spark.segments import segments_ready

    if not segments_ready(index.path):
        # segments written by an older engine format OR left incomplete
        # by a killed build: auto falls back to the (correct, slower)
        # DataFrame path instead of raising — or worse, serving a
        # silently-partial top-k from the encoded subset of buckets.
        # Resume/rebuild with build_segments to get the kernels back.
        # strategy='wand' still raises, via the eligibility error in
        # search().
        return None

    node = _flatten(node)
    if node.boost <= 0:
        return None  # a non-positive weight inverts the skip bounds
    if hasattr(node, "field") and node.field not in index.stats:
        return None
    if isinstance(node, TermQ):
        return _flat_route(index, [(SHOULD, node)])
    if isinstance(node, FuzzyQ):
        # expand driver-side (memoized): a weighted OR of the
        # expansions on the flat kernel, closeness boosts as weights
        exp = _fuzzy_expansions(index, node)
        if not exp:
            return "empty", lambda k, sa: _empty_scores(index)
        return _flat_route(index, [
            (SHOULD, TermQ(node.boost * fb, node.field, t))
            for t, _, fb in exp
        ])
    if isinstance(node, PhraseQ):
        terms = list(node.terms)
        if not terms:
            return None
        if node.slop == 0:
            return "phrase", lambda k, sa: wand.phrase_topk(
                index, node.field, terms, k=k, search_after=sa,
                weight=node.boost)
        if node.slop < 0:
            return None  # matches nothing; the DataFrame plan serves it
        if len(terms) == 1:
            # Lucene rewrites one-term phrases to TermQuery (slop is
            # moot) — the same rewrite the DataFrame path applies
            return _flat_route(
                index, [(SHOULD, TermQ(node.boost, node.field, terms[0]))]
            )
        return "sloppy_phrase", lambda k, sa: wand.sloppy_phrase_topk(
            index, node.field, terms, slop=int(node.slop), k=k,
            search_after=sa, weight=node.boost)
    if isinstance(node, SpanOrQ):
        return "span_or", lambda k, sa: wand.span_or_topk(
            index, node.field, list(node.terms), k=k, boost=node.boost,
            search_after=sa)
    if isinstance(node, SpanNearQ):
        return "span_near", lambda k, sa: wand.span_near_topk(
            index, node.field, list(node.terms), slop=node.slop,
            in_order=bool(node.in_order), k=k, search_after=sa,
            weight=node.boost)
    if isinstance(node, SpanFirstQ):
        return "span_first", lambda k, sa: wand.span_first_topk(
            index, node.field, node.term, node.end, k=k, search_after=sa,
            weight=node.boost)
    if isinstance(node, SpanNotQ):
        return "span_not", lambda k, sa: wand.span_not_topk(
            index, node.field, node.include, node.exclude, pre=node.pre,
            post=node.post, k=k, search_after=sa, weight=node.boost)
    if isinstance(node, DisMaxQ):
        if not (0.0 <= float(node.tie_breaker) <= 1.0):
            return None  # the DataFrame compiler raises the error
        groups = _dismax_term_groups(node)
        if not groups:
            return None
        leaves: list = []
        kids = []
        for g in groups:
            lids = []
            for f_, t_, b_ in g:
                lid = len(leaves)
                leaves.append(
                    wand.TreeLeaf(lid, f_, t_, b_ * node.boost, True)
                )
                lids.append(lid)
            kids.append(lids[0] if len(lids) == 1
                        else wand.TreeNode((), tuple(lids), ()))
        root = wand.TreeNode((), tuple(kids), (), float(node.tie_breaker))
        return _tree_spec_route(index, leaves, root)
    if not (isinstance(node, BoolQ) and node.clauses):
        return None
    msm = node.min_should_match
    if not msm:
        # fuzzy clauses expand driver-side (memoized) into weighted OR
        # groups of terms; a MUST fuzzy with no expansions empties the
        # result
        rewritten = _expand_fuzzy_clauses(index, node)
        if rewritten is None:
            return "empty", lambda k, sa: _empty_scores(index)
        if rewritten is not node:
            node = _flatten(rewritten)
            if not isinstance(node, BoolQ):
                return _wand_route(index, node)  # collapsed to one leaf
            if not node.clauses:
                return None
    terms = _flat_term_clauses(node)
    if terms is not None:
        # the DataFrame twin is _scored_term_group: the same eligibility
        return _flat_route(index, terms, msm)
    if msm:
        # the tree kernel carries no matched-SHOULD tally; the counting
        # compiler serves msm over any other shape
        return None
    return _tree_route(index, node)


def _flat_route(index, clauses: list[tuple[str, TermQ]], msm: int = 0):
    """The flat-kernel route for MUST/SHOULD term clauses, merged by
    _merge_term_clauses like _scored_term_group (same boosts, same
    float addition order). With ``msm`` a duplicate pair would
    undercount the matched-clause tally, so it falls back to the
    counting compiler, as the DataFrame fast path does."""
    from lucene_clj_spark.wand import flat_spec

    if any(t.field not in index.stats for _, t in clauses):
        return None
    weights, must = _merge_term_clauses(clauses)
    if any(w <= 0 for w in weights.values()) or msm < 0 or (
        msm and len(weights) < len(clauses)
    ):
        return None
    return "flat", flat_spec(index, weights, must, msm)


def _tree_route(index, node: BoolQ):
    """Tree-kernel eligibility for a boolean: every leaf a term or
    exact phrase (fuzzy leaves at any depth expand into weighted term
    OR-groups first, exactly like the DataFrame tree path)."""
    spec = _bool_tree_spec(node, allow_phrase=True)
    if spec is None:
        deep = _expand_fuzzy_deep(index, node)
        if deep is not node:
            spec = _bool_tree_spec(deep, allow_phrase=True)
    if spec is None:
        return None
    return _tree_spec_route(index, *spec)


def _tree_spec_route(index, leaves: list, root):
    """The tree-kernel route for a normalized ``(leaves, root)`` tree:
    leaves on indexed fields, positive weights on all scored leaves,
    and no (field, term) pair shared between a phrase constituent and
    anything else (the positions scan and the impacts scan would
    double-carry the same blocks). Duplicate term pairs and pairs both
    scored and excluded are fine: the kernel's occurrence lists fan
    one decoded block out per occurrence."""
    from lucene_clj_spark.wand import PhraseTreeLeaf, tree_spec

    term_pairs: set[tuple[str, str]] = set()
    phrase_pairs: set[tuple[str, str]] = set()
    for le in leaves:
        if le.field not in index.stats or (le.scored and le.weight <= 0):
            return None
        if isinstance(le, PhraseTreeLeaf):
            pp = {(le.field, t_) for t_ in le.terms}
            if pp & (term_pairs | phrase_pairs):
                return None
            phrase_pairs |= pp
        else:
            if (le.field, le.term) in phrase_pairs:
                return None
            term_pairs.add((le.field, le.term))
    return "tree", tree_spec(index, leaves, root)


def fetch_hits(
    index,
    hits: list,
    hit_schema: list[tuple[str, str]],
    order: list,
    hit_columns: list[str] | None = None,
    project=None,
) -> DataFrame:
    """Stored-field retrieval for a bounded, already collected hit
    list — the one fetch behind search, suggest and search_batch.

    Lucene fetches stored fields by a docID seek. The Spark analogue
    is ONE scan of the live docs view with a literal
    ``doc_id IN (...)`` pushed into the reader (row-group min/max
    skipping on the doc_id-sorted disk table). Each hit's own columns
    (``hit_schema`` minus doc_id: score, completion or query_id) are
    attached by a literal ``doc_id -> [hit]`` map lookup, and the sort
    runs inside one partition. There is no local relation, no join and
    no exchange, so collecting the result runs one Spark job.

    ``hit_schema`` names the hit's columns in output order as
    ``(name, DDL type)`` pairs, doc_id among them; the stored columns
    (``hit_columns`` or every non-internal docs column) follow. A
    doc_id several hits share (batch queries, or one doc's several
    completions) yields one row per hit. ``docs`` and ``postings`` are
    the same tombstone view, so every scored hit finds its doc.
    ``project`` is an optional narrow transform applied before the
    sort (search's ``hit_fn``)."""
    cols = hit_columns or [
        c for c in index.docs.columns if not c.startswith("__")
    ]
    stored = [c for c in cols if c != "doc_id"]
    own = [(n, t) for n, t in hit_schema if n != "doc_id"]
    by_doc: dict[int, list] = {}
    for r in hits:
        by_doc.setdefault(int(r["doc_id"]), []).append(
            F.struct(*[F.lit(r[n]).cast(t).alias(n) for n, t in own])
        )
    docs = index.docs.select("doc_id", *stored)
    if by_doc:
        lookup = F.create_map(*[
            x
            for d, structs in by_doc.items()
            for x in (F.lit(d).cast("long"), F.array(*structs))
        ])
        docs = docs.filter(F.col("doc_id").isin(sorted(by_doc)))
    else:
        value = ", ".join(f"{n}: {t}" for n, t in own)
        lookup = F.lit(None).cast(f"map<bigint, array<struct<{value}>>>")
        docs = docs.filter(F.lit(False))
    doc_id = F.col("doc_id").cast("long")
    out = docs.select(
        doc_id.alias("doc_id"), F.inline(lookup[doc_id]), *stored
    ).select(*[n for n, _ in hit_schema], *stored).coalesce(1)
    if project is not None:
        out = project(out)
    return out.sortWithinPartitions(*order)


def _validate_opts(results_per_page, page, search_after):
    if not isinstance(results_per_page, int) or results_per_page <= 0:
        raise ValidationError(
            "results_per_page must be a positive int "
            "(reference validation.clj:46-72)",
            {"results_per_page": results_per_page},
        )
    if page is not None and search_after is not None:
        raise ValidationError(
            "page and search_after are mutually exclusive "
            "(reference validation.clj:46-72)",
            {},
        )
    if page is not None and (not isinstance(page, int) or page < 0):
        raise ValidationError("page must be a non-negative int", {"page": page})


def search(
    index,
    query: Any,
    *,
    field_name: str | None = None,
    results_per_page: int = DEFAULT_RESULTS_PER_PAGE,
    page: int | None = None,
    search_after: Any = None,
    fuzzy: bool = False,
    hit_columns: list[str] | None = None,
    hit_fn=None,
    hit_fn_schema: str | None = None,
    with_hit: bool = True,
    strategy: str = "auto",
    min_should_match: int = 0,
) -> DataFrame:
    """Top-k search -> DataFrame (doc_id, score [, stored columns]),
    ordered by (score desc, doc_id asc). See module docstring.

    ``hit_fn`` is the reference's arbitrary ``hit->doc`` surface
    (search.clj:49-54, document.clj:126-144): a Python callable taking
    the stored-doc row as a dict and returning a dict of derived
    columns, applied Arrow-batched over the (already top-k-bounded)
    hits. ``hit_fn_schema`` is the DDL of the returned columns, e.g.
    ``"full_name string, age_2x long"`` — required with hit_fn, since
    Spark needs a declared schema where Clojure returned free-form
    maps. ``hit_columns`` prunes which stored columns reach the fn.

    ``strategy``: 'auto' (default) runs every eligible query on a
    segment-backed disk index through one of the four segment kernels
    (``_wand_route``): the flat kernel (terms, flat AND/OR/mixed
    booleans over ANY mix of fields incl. map queries, msm booleans,
    fuzzy), the pooled-tf SpanOrQ kernel, the boolean tree kernel
    (nested trees, MUST_NOT, boosted groups, phrase leaves, term-like
    DisMaxQ) and the positions kernels (exact / sloppy phrases, span
    near / first / not) — any page, keyset pagination included, with
    boosts riding as kernel weights. The kernels are result-identical
    to the DataFrame plans, pinned by test; the compressed-segment
    scan + bounded heaps are the 100 TB path. 'dataframe' always uses
    the exhaustive DataFrame plan; 'wand' requires eligibility and
    raises otherwise."""
    if strategy not in ("auto", "dataframe", "wand"):
        raise ValidationError(
            "strategy must be 'auto', 'dataframe', or 'wand'",
            {"strategy": strategy},
        )
    _validate_opts(results_per_page, page, search_after)
    if hit_fn is not None:
        if not with_hit:
            raise ValidationError(
                "hit_fn operates on stored docs and requires "
                "with_hit=True",
                {},
            )
        if not hit_fn_schema:
            raise ValidationError(
                "hit_fn requires hit_fn_schema (DDL of the derived "
                "columns, e.g. 'full_name string')",
                {},
            )
    if fuzzy:
        ast = combine_fuzzy(query, index.specs)  # (query.clj:132-147)
    else:
        ast = parse(query, index.specs, index.analyzers, field_name)
    if min_should_match:
        # Lucene BooleanQuery.Builder.setMinimumNumberShouldMatch on
        # the query's root boolean (set/list/dict shapes and BoolQ
        # ASTs all compile to one)
        from dataclasses import replace as _dcr

        if int(min_should_match) < 0:
            raise ValidationError(
                "min_should_match must be >= 0",
                {"min_should_match": min_should_match},
            )
        # flatten first: shape parses wrap single-field queries in a
        # one-MUST boolean ({"text": {...}} -> +(a b c)); msm belongs
        # on the boolean that HOLDS the SHOULD clauses
        ast = _flatten(ast)
        if not isinstance(ast, BoolQ):
            raise ValidationError(
                "min_should_match applies to boolean queries "
                "(set/list/dict shapes or a BoolQ AST)",
                {"query": repr(query)},
            )
        ast = _dcr(ast, min_should_match=int(min_should_match))

    # kernels serve any page by fetching k*(page+1) into the bounded
    # heaps; search_after rides into EVERY kernel as a pre-heap keyset
    # mask
    kernel_k = results_per_page * ((page or 0) + 1)
    sa_key = None
    if search_after is not None:
        sa = (
            search_after
            if isinstance(search_after, dict)
            else search_after.asDict()
        )
        sa_key = (float(sa["score"]), int(sa["doc_id"]))
    route = None
    if strategy in ("auto", "wand"):
        route = _wand_route(index, ast)
    if strategy == "wand" and route is None:
        raise ValidationError(
            "strategy='wand' requires a segment-backed disk index and "
            "a term/AND/OR/map/group/phrase (exact or sloppy)/fuzzy/"
            "span query with positive boosts over indexed fields",
            {},
        )
    if route is not None:
        scores = route[1](kernel_k, sa_key)
    else:
        scores = compile_node(index, ast)

    k = results_per_page
    if sa_key is not None:
        # on the kernel path this is a no-op re-check over <= k rows
        # (the kernel already masked before its heaps); on the
        # DataFrame path it is THE keyset filter, applied before top-k
        s, d = sa_key
        scores = scores.filter(
            (F.col("score") < F.lit(s))
            | ((F.col("score") == F.lit(s)) & (F.col("doc_id") > F.lit(d)))
        )
    fetch = kernel_k  # k * (page+1) — same arithmetic both paths
    top = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(fetch)
    if page:
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        top = (
            top.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > page * k)
            .drop("__rn")
        )
    if with_hit:
        # the top-k is bounded (k * (page+1)): collecting it costs the
        # one action the caller was about to pay anyway, and the fetch
        # then seeks its docs by doc_id (fetch_hits)
        project = None
        if hit_fn is not None:
            from pyspark.sql.types import StructType

            from lucene_clj_spark._udfs import hit_doc_generator

            extra = StructType.fromDDL(hit_fn_schema)
            out_schema = "doc_id long, score double, " + hit_fn_schema
            project = lambda df: df.mapInPandas(  # noqa: E731
                hit_doc_generator(hit_fn, [f.name for f in extra.fields]),
                out_schema,
            )
        top = fetch_hits(
            index, top.collect(),
            [("doc_id", "long"), ("score", "double")],
            [F.desc("score"), F.asc("doc_id")],
            hit_columns, project,
        )
    return top
