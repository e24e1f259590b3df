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

import functools
import math
from functools import reduce
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
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
from lucene_clj_spark.termdict import candidates, term_dict

DEFAULT_RESULTS_PER_PAGE = 10  # reference search.clj:33-35


def sql_lit(value, type_: str) -> str:
    """``value`` as Spark SQL literal text of the DDL type ``type_``
    (``double``, ``long`` or ``string``; None is a typed NULL). Exact:
    a plan literal built as SQL text (one ``F.expr``/``selectExpr``/
    ``filter`` per expression instead of a Py4J call per element)
    reads back the very value a ``F.lit`` would.

    A double is ``repr(x)`` + ``D``: the shortest repr round-trips
    through Java's ``Double.parseDouble`` bit for bit (-0.0 and
    subnormals included); NaN and the infinities cast from their
    names. A string is its UTF-8 bytes as a hex binary literal cast to
    STRING, so no quote, backslash or control character needs escaping
    and the text reads the same under either setting of
    ``spark.sql.parser.escapedStringLiterals``."""
    if value is None:
        return f"CAST(NULL AS {type_})"
    if type_ == "double":
        x = float(value)
        if math.isfinite(x):
            return repr(x) + "D"
        name = "NaN" if math.isnan(x) else ("Infinity" if x > 0
                                            else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    if type_ == "long":
        return f"{int(value)}L"
    if type_ == "string":
        return f"CAST(X'{str(value).encode('utf-8').hex()}' AS STRING)"
    raise ValueError(f"sql_lit: unsupported type {type_!r}")


def sql_map(pairs, key_type: str, value_type: str) -> str:
    """``map(k1, v1, ...)`` SQL text over the ``(key, value)`` pairs,
    each rendered by ``sql_lit``."""
    return "map(" + ", ".join(
        f"{sql_lit(k, key_type)}, {sql_lit(v, value_type)}"
        for k, v in pairs
    ) + ")"


def pairs_filter(pairs) -> str:
    """``(field = f AND term IN (...)) OR ...`` over the (field, term)
    ``pairs``, one disjunct per field, as ONE SQL predicate: the
    predicate of the terms seek (``_seek_terms``) and of the segment
    kernels' blocks scan."""
    by_field: dict[str, list[str]] = {}
    for f, t in sorted(set(pairs)):
        by_field.setdefault(f, []).append(t)
    return " OR ".join(
        f"(field = {sql_lit(f, 'string')} AND term IN "
        f"({', '.join(sql_lit(t, 'string') for t in ts)}))"
        for f, ts in by_field.items()
    )


def _seek_terms(index, pairs) -> dict:
    """The terms seek: ``(df, idf)`` for each present (field, term) in
    ``pairs`` — Lucene's TermsEnum.seekExact before scoring. The
    DataFrame plans fold df into the plan as a literal
    (``_lookup_term_stats``); the segment kernels read idf
    (``wand._term_idfs``) and df, which sizes their co-location.

    A lookup in the generation's driver-resident dictionary
    (``termdict.term_dict``), with no Spark job. Over
    ``termdict.DICT_MAX_TERMS`` the dictionary stays in Spark and the
    pairs not sought yet this generation are fetched in ONE tiny action
    against the terms table, idf computed JVM-side (``bm25.idf_col``)
    as the loaded dictionary computes it: libm log and
    java.lang.Math.log differ by 1 ulp on some inputs, and the kernels'
    Python scores must equal the DataFrame plans' bit for bit."""
    td = term_dict(index)
    if td.fields is not None:
        return td.stats(pairs)
    missing = sorted({p for p in pairs if p not in td.sought})
    if missing:
        n_docs = F.expr(sql_map(
            [(f, float(int(index.stats[f]["N"]))
              if f in index.stats else 0.0)
             for f in sorted({f for f, _ in missing})],
            "string", "double",
        ) + "[field]")
        rows = index.terms.filter(pairs_filter(missing)).select(
            "field", "term", "df",
            bm25.idf_col(F.col("df"), n_docs).alias("idf"),
        ).collect()
        found = {(r["field"], r["term"]): (r["df"], r["idf"]) for r in rows}
        for p in missing:
            td.sought[p] = found.get(p)
    return {p: td.sought[p] for p in pairs if td.sought.get(p) is not None}


def _lookup_term_stats(index, pairs: list[tuple[str, str]]) -> dict:
    """df for each present (field, term) in ``pairs``, from the terms
    seek (``_seek_terms``) — what the DataFrame plans
    fold into their scoring as a literal."""
    return {p: v[0] for p, v in _seek_terms(index, pairs).items()}


def _flatten(node: Node) -> Node:
    """Associative boolean flattening: unwrap single-clause bools,
    splice SHOULD-only children into SHOULD lists and MUST-only
    children into MUST lists (score = sum either way, so this is
    score-preserving). A one-term phrase, at any depth of a boolean,
    becomes a TermQuery (Lucene PhraseQuery.rewrite; slop is moot), so
    it scores as the term on every plan."""
    if isinstance(node, PhraseQ) and len(node.terms) == 1:
        return TermQ(node.boost, node.field, node.terms[0])
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


def _canonical_sum_by(key_col: str):
    """Aggregate expression: the per-doc score sum folded in ``key_col``
    (clause/disjunct id) order — bit-stable across partition layouts,
    unlike a bare ``F.sum`` over doubles."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(F.col(key_col), F.col("score")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["score"],
    )


def _flat_term_clauses(node) -> list[tuple[str, TermQ]] | None:
    """The ``(occ, TermQ)`` clauses of a FLAT boolean — boost 1, every
    clause a MUST or SHOULD term-like leaf — else None: the eligibility
    test of ``_term_tree``'s flat node (``_flat_tree``)."""
    if not isinstance(node, BoolQ) or node.boost != 1.0:
        return None
    terms = [(occ, _as_term(n)) for occ, n in node.clauses]
    if all(occ in (MUST, SHOULD) and t is not None for occ, t in terms):
        return terms
    return None


def bucket_filter(index, terms: list[str], n_buckets: int) -> str:
    """The SQL predicate keeping only the ``bucket`` directories that
    hold ``terms`` under ``n_buckets``: an integer ``bucket IN (...)``
    read off the term dictionary (``termdict``,
    ``pmod(xxhash64(term), n)``, the writer's hash), so it becomes
    PartitionFilters (directory pruning) with no job and one literal
    per bucket, not per term. A term absent from the dictionary has no
    postings and adds no bucket. Over the dictionary cap it is
    ``pmod(xxhash64(term), n)`` per term, which Catalyst
    constant-folds. One flat IN, not a chain of ORs: a chain nests one
    level per term and overflows the JVM stack at a few hundred terms
    (a large search_batch). Shared by the postings scans and the
    segment kernels' blocks scan."""
    td = term_dict(index)
    if td.fields is not None:
        items = [str(b) for b in td.buckets(terms, n_buckets)]
    else:
        items = [f"pmod(xxhash64({sql_lit(t, 'string')}), {n_buckets})"
                 for t in terms]
    return f"bucket IN ({', '.join(items)})" if items else "false"


def _bucket_pruned(index, scan: DataFrame, terms: list[str]) -> DataFrame:
    """Restrict a postings scan to the query terms' bucket directories
    (``bucket_filter``) — a boolean query reads only its terms'
    buckets, not the whole index."""
    if "bucket" not in index.postings.columns or not terms:
        return scan
    return scan.filter(bucket_filter(index, terms, index.n_buckets()))


def _dismax_term_groups(node: DisMaxQ):
    """``[(field, term, eff_boost), ...]`` per disjunct when EVERY
    disjunct is term-like (TermQ / keyword-exact via ``_as_term``, or
    an unboosted-occur all-SHOULD boolean of those) — the shapes the
    one-scan tree plan can serve. ``None`` otherwise."""
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


def _dismax_tree(node: DisMaxQ):
    """``(leaves, root)`` of a term-like DisMaxQ: a root
    ``wand.TreeNode`` with the ``tie``, whose SHOULDs are the
    disjuncts (a leaf, or an all-SHOULD node of leaves), with the
    dismax boost folded into every leaf weight — the one tree both
    ``_scored_dismax`` and the kernel route run. None when a disjunct
    is not term-like (``_dismax_term_groups``)."""
    from lucene_clj_spark.wand import TreeLeaf, TreeNode

    groups = _dismax_term_groups(node)
    if not groups:
        return None
    leaves: list = []
    kids = []
    for g in groups:
        lids = []
        for f_, t_, b_ in g:
            lid = len(leaves)
            leaves.append(TreeLeaf(lid, f_, t_, b_ * node.boost, True))
            lids.append(lid)
        kids.append(lids[0] if len(lids) == 1
                    else TreeNode((), tuple(lids), ()))
    return leaves, TreeNode((), tuple(kids), (), float(node.tie_breaker))


def _scored_dismax(index, node: DisMaxQ) -> DataFrame:
    """Lucene DisjunctionMaxQuery: per-doc ``max`` over the matching
    disjuncts' scores plus ``tie_breaker`` times the rest.

    When every disjunct is term-like this is ``_scored_tree`` over
    ``_dismax_tree``: one bucket-pruned postings scan and one doc-keyed
    aggregation regardless of disjunct count. General disjuncts
    (phrases, fuzzies, subtrees) compile independently and union
    before a per-doc max/sum aggregate — still no joins between
    disjuncts, because dismax needs no per-doc intersection."""
    if not (0.0 <= float(node.tie_breaker) <= 1.0):
        raise ValidationError(
            "tie_breaker must be within 0 <= t <= 1 "
            f"(got {node.tie_breaker!r})",
            {"tie_breaker": node.tie_breaker},
        )
    if not node.disjuncts:
        return _empty_scores(index)
    # the tree folds the boost into the leaves, which commutes with
    # the max only for a positive boost
    spec = _dismax_tree(node) if node.boost > 0 else None
    if spec is not None:
        return _scored_tree(index, *spec)
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
    mx, sm = F.col("__mx"), F.col("__sm")
    tie = float(node.tie_breaker)
    score = mx + F.lit(tie) * (sm - mx) if tie else mx
    if node.boost != 1.0:
        score = F.lit(node.boost) * score
    return agg.select("doc_id", score.alias("score"))


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
    are marked unscored — they gate matching only. A MatchNone child
    (text that analyzes to nothing) is an empty node, which never
    matches, as Lucene's MatchNoDocsQuery. The result feeds
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
            elif isinstance(child, MatchNone):
                ref = TreeNode((), (), ())  # an empty node never matches
            else:
                return None
            (musts if occ == MUST
             else shoulds if occ == SHOULD else nots).append(ref)
        return TreeNode(tuple(musts), tuple(shoulds), tuple(nots))

    root = build(node, node.boost, True)
    if root is None or not leaves:
        return None
    return leaves, root


def _flat_tree(term_clauses: list[tuple[str, TermQ]]):
    """``(leaves, root)`` of a flat boolean (``_flat_term_clauses``):
    one leaf per distinct (field, term) pair, in first-occurrence
    order, with its SUMMED boost (score is linear in boost, so SHOULD a
    + SHOULD a == boost 2a), MUST when any occurrence is, under one
    root node. The caller keeps msm booleans with repeated pairs on the
    counting compiler: the merge would undercount their matched-clause
    tally."""
    from lucene_clj_spark.wand import TreeLeaf, TreeNode

    weights: dict[tuple[str, str], float] = {}
    must: set[tuple[str, str]] = set()
    for occ, t in term_clauses:
        pair = (t.field, t.term)
        weights[pair] = weights.get(pair, 0.0) + t.boost
        if occ == MUST:
            must.add(pair)
    leaves = [TreeLeaf(lid, f, t, w, True)
              for lid, ((f, t), w) in enumerate(weights.items())]
    musts = tuple(le.lid for le in leaves if (le.field, le.term) in must)
    shoulds = tuple(le.lid for le in leaves
                    if (le.field, le.term) not in must)
    return leaves, TreeNode(musts, shoulds, ())


def _scored_tree(index, leaves: list, root, msm: int = 0) -> DataFrame:
    """The one-scan DataFrame plan of every term-leaf boolean: flat
    booleans (``_flat_tree``, with the root's min_should_match
    ``msm``), trees of any depth (``_bool_tree_spec``) and term-like
    DisMaxQ (``_dismax_tree``). One terms seek, then ``_tree_plan``."""
    stats = _lookup_term_stats(index, [(le.field, le.term) for le in leaves])
    return _tree_plan(index, leaves, root, stats, msm)


def _tree_plan(index, leaves: list, root, dfs: dict,
               msm: int = 0) -> DataFrame:
    """ONE postings scan and ONE doc-keyed aggregation for a tree of
    term leaves (``wand.TreeLeaf`` under ``wand.TreeNode``s), ``dfs``
    the df of each present (field, term). The leaves become a broadcast
    relation joined against a single IN-filtered bucket-pruned scan;
    the aggregation holds one ``max(when)`` column per leaf, except
    that a node with two or more SHOULD leaves (an OR group, a fuzzy
    expansion of up to 50 terms) collects its matched MUST and SHOULD
    leaves into ONE sorted list column — so the aggregation's width
    follows the query's written clauses, not an expansion's fan-out
    (past ~100 columns Spark silently drops whole-stage codegen for
    the aggregate). The tree's match and score evaluate as a pure
    Column expression over those columns. So ``((a AND b) OR (c AND
    d)) NOT e`` is one scan + one shuffle at any depth, instead of a
    join per clause.

    Semantics match the recursive join compiler (_scored_bool_joins):
    a node matches iff all MUST children match, no MUST_NOT child
    matches, and — absent musts — at least one SHOULD child matches
    (the root also needs ``msm`` matching SHOULDs); its score is the
    sum of its MUST scores and MATCHING SHOULD scores, added in
    ``wand.sum_order`` — the tree kernel's order, so the two agree bit
    for bit. A ``tie`` node scores ``max + tie * (sum - max)`` over its
    matching SHOULDs."""
    from lucene_clj_spark.wand import leaf_rank, sum_order, tree_possible

    present = {le.lid for le in leaves if (le.field, le.term) in dfs}
    if not tree_possible(root, present, msm):
        # an absent leaf starves a MUST chain somewhere up the tree
        return _empty_scores(index)
    # each node's place in a pre-order walk (its gid), and each leaf's
    # parent gid and occurrence there: 0 MUST, 1 SHOULD, 2 MUST_NOT
    gid_of: dict[int, int] = {}
    parent: dict[int, tuple[int, int]] = {}
    listed: dict[int, int] = {}  # gid -> its list column's number

    def walk(node) -> None:
        gid = gid_of[id(node)] = len(gid_of)
        if sum(isinstance(ch, int) for ch in node.shoulds) >= 2:
            listed[gid] = len(listed)
        for occ, kids in enumerate((node.musts, node.shoulds, node.nots)):
            for ch in kids:
                if isinstance(ch, int):
                    parent[ch] = (gid, occ)
                else:
                    walk(ch)

    walk(root)
    # a listed node's MUST and SHOULD leaves share its list, which
    # array_sort orders by (field, term, lid) — leaf_rank's order, so
    # the list folds like the max(when) columns add; its MUST and
    # MUST_NOT leaves keep their own columns for the match
    in_list = {i for i in present
               if parent[i][0] in listed and parent[i][1] < 2}
    listed = {g: j for g, j in listed.items()
              if any(parent[i][0] == g for i in in_list)}
    # a leaf's gid and occ ride along only when a list reads them
    place = ["gid", "occ"] if in_list else []
    rows = []
    for le in leaves:
        if le.lid not in present:
            continue
        st = index.field_stats(le.field)
        rows.append(
            (le.field, le.term, le.lid, float(le.weight),
             dfs[(le.field, le.term)], int(st["N"]), float(st["avgdl"]),
             *(parent[le.lid] if in_list else ()))
        )
    local = index.spark.createDataFrame(
        rows,
        "field string, term string, lid int, weight double, df long, "
        "n_docs long, avgdl double" + "".join(f", {c} int" for c in place),
    )
    fields = sorted({r[0] for r in rows})
    terms_ = sorted({r[1] for r in rows})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
        "doc_id", "field", "term", "lid", *place,
        (
            F.col("weight")
            * bm25.score_col(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            )
        ).alias("score"),
    )
    aggs = [
        F.max(F.when(F.col("lid") == i, F.col("score"))).alias(f"__l{i}")
        for i in sorted(present) if i not in in_list or parent[i][1] == 0
    ] + [
        F.array_sort(F.collect_list(F.when(
            (F.col("gid") == g) & (F.col("occ") < 2),
            F.struct("field", "term", "lid", "occ", "score"),
        ))).alias(f"__g{j}")
        for g, j in listed.items()
    ]
    agg = scored.groupBy("doc_id").agg(*aggs)
    rank = leaf_rank(leaves)

    def _and(a, b):
        return b if a is None else a & b

    def _or(a, b):
        return b if a is None else a | b

    def _add(a, b):
        return b if a is None else a + b

    def _max(a, b):
        return b if a is None else F.greatest(a, b)

    def hit(lid: int):
        if lid not in present:
            return F.lit(False)
        return F.col(f"__l{lid}").isNotNull()

    def own_leaves(node, gid: int):
        """(all MUST leaves matched, the SHOULD leaves' match flags, a
        list's matched SHOULD count, any MUST_NOT leaf matched, score
        sum, max SHOULD leaf score) over ``node``'s own leaf children;
        None for an empty part."""
        ok = n = hit_not = s = mx = None
        hits = []
        for ch in node.musts:
            if isinstance(ch, int):
                ok = _and(ok, hit(ch))
        for ch in node.nots:
            if isinstance(ch, int):
                hit_not = _or(hit_not, hit(ch))
        if gid in listed:
            lst = F.col(f"__g{listed[gid]}")
            sh = F.filter(lst, lambda x: x["occ"] == 1)
            n = F.size(sh)
            s = F.aggregate(lst, F.lit(0.0),
                            lambda acc, x: acc + x["score"])
            mx = F.array_max(F.transform(sh, lambda x: x["score"]))
            return ok, hits, n, hit_not, s, mx
        for is_must, ch in sum_order(node, rank):
            if isinstance(ch, int) and ch in present:
                c = F.col(f"__l{ch}")
                s = _add(s, F.coalesce(c, F.lit(0.0)))
                if not is_must:
                    hits.append(c.isNotNull())
                    mx = _max(mx, c)
        return ok, hits, n, hit_not, s, mx

    def ev(node, msm: int = 0):
        """(matched, score) Columns of a TreeNode; ``msm`` is the
        root's."""
        ok, hits, n, hit_not, s, mx = own_leaves(node, gid_of[id(node)])
        for is_must, ch in sum_order(node, rank):
            if isinstance(ch, int):
                continue
            cm, cs = ev(ch)
            if is_must:
                ok, s = _and(ok, cm), _add(s, cs)
            else:
                hits.append(cm)
                s = _add(s, F.when(cm, cs).otherwise(F.lit(0.0)))
                mx = _max(mx, F.when(cm, cs))
        for ch in node.nots:
            if not isinstance(ch, int):
                hit_not = _or(hit_not, ev(ch)[0])
        need = msm if node.musts else max(msm, 1)
        if need == 1:
            # one matching SHOULD is an OR; only msm counts them
            anym = reduce(_or, hits, None if n is None else n > 0)
            ok = _and(ok, F.lit(False) if anym is None else anym)
        elif need > 1:
            cnt = reduce(_add, [h.cast("int") for h in hits], n)
            ok = _and(ok, F.lit(False) if cnt is None else cnt >= need)
        if hit_not is not None:
            ok = _and(ok, ~hit_not)
        s = F.lit(0.0) if s is None else s
        if node.tie is not None:
            s = mx + F.lit(node.tie) * (s - mx)
        return (F.lit(True) if ok is None else ok), s

    m_root, s_root = ev(root, msm)
    return agg.filter(m_root).select("doc_id", s_root.alias("score"))


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
    v = _seek_terms(index, [(node.field, node.term)]).get(
        (node.field, node.term))
    if v is None or node.end == 0:
        return _empty_scores(index)
    freq = F.size(F.filter("positions", lambda p: p < F.lit(node.end)))
    return _bm25_freq(_term_postings(index, node.field, node.term), freq,
                      "dl", node.boost * v[1], st["avgdl"])


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


def _freq_udf(matcher):
    """The per-doc freq of the sloppy phrase and span near plans:
    ``matcher`` (a spans.py matcher, the one their segment kernels run)
    over each candidate's sorted slot positions, Arrow-batched."""

    @F.pandas_udf("double")
    def freq(packed: pd.Series) -> pd.Series:
        return pd.Series(
            [matcher([np.sort(np.asarray(p, dtype=np.int64)) for p in slots])
             for slots in packed],
            dtype="float64",
        )

    return freq


def _bm25_freq(scan: DataFrame, freq: Column, dl: str, w_idf: float,
               avgdl) -> DataFrame:
    """The one scorer of the positional plans: the docs of ``scan``
    with a positive ``freq`` (phrase or span frequency), scored
    ``bm25.freq_score_col`` over the ``dl`` column. ``w_idf`` is the
    boost times the idf sum, folded in Python from the terms seek's
    idfs (the JVM-computed numbers the kernels score with) in the
    order the shape's kernel adds them."""
    return (
        scan.withColumn("__freq", freq)
        .filter(F.col("__freq") > 0)
        .select(
            "doc_id",
            bm25.freq_score_col(F.lit(float(w_idf)), F.col("__freq"),
                                F.col(dl), F.lit(avgdl)).alias("score"),
        )
    )


def _slot_plan(index, field: str, slots: list, stats: dict, w_idf: float,
               matcher=None, shift: bool = True) -> DataFrame:
    """The one plan of the phrase, multi-phrase, sloppy phrase and span
    near queries. Per slot (a list of present alternative terms) one
    bucket-pruned postings scan; a slot's alternatives share it through
    IN, and their positions union per doc, deduplicated (a slot matched
    by two alternatives at one position is still one occurrence,
    Lucene's UnionPostingsEnum). Phrase positions shift by the slot
    offset (``shift``); span near matches raw positions. The slots join
    on doc_id rarest first — by summed df, an upper bound on a slot's
    matching docs — so the rarest slot bounds every later join: 'the
    merge' joins merge->the, not the->merge. freq is
    |intersection| of the shifted positions (exact adjacency) or
    ``matcher`` run by ``_freq_udf``; ``_bm25_freq`` scores it."""
    parts = []
    for i, ts in enumerate(slots):
        post = _bucket_pruned(index, index.postings.filter(
            (F.col("field") == field) & F.col("term").isin(ts)
        ), ts)
        pos = F.transform("positions", _shift(i)) if shift else F.col(
            "positions")
        p = post.select("doc_id", F.col("dl").alias(f"__dl_{i}"),
                        pos.alias(f"__pos_{i}"))
        if len(ts) > 1:
            p = p.groupBy("doc_id").agg(
                F.min(f"__dl_{i}").alias(f"__dl_{i}"),
                F.array_distinct(
                    F.flatten(F.collect_list(f"__pos_{i}"))
                ).alias(f"__pos_{i}"),
            )
        parts.append(p)
    order = sorted(range(len(slots)), key=lambda i: (
        sum(stats[(field, t)][0] for t in slots[i]), i))
    joined = reduce(lambda a, b: a.join(b, "doc_id"),
                    [parts[i] for i in order])
    pos = [F.col(f"__pos_{i}") for i in range(len(slots))]
    freq = (F.size(reduce(F.array_intersect, pos)) if matcher is None
            else _freq_udf(matcher)(F.array(*pos)))
    return _bm25_freq(joined, freq, "__dl_0", w_idf,
                      index.field_stats(field)["avgdl"])


def _term_slot_plan(index, node, matcher=None,
                    shift: bool = True) -> DataFrame:
    """``_slot_plan`` of a phrase or span near, one slot per term: no
    match when a term is absent, idf = per distinct term its idf times
    its occurrences (``wand._phrase_spec``'s fold; only exact phrases
    repeat a term, so sloppy phrases and span near add in clause
    order)."""
    terms = list(node.terms)
    uniq = list(dict.fromkeys(terms))
    stats = _seek_terms(index, [(node.field, t) for t in uniq])
    if len(stats) < len(uniq):
        return _empty_scores(index)
    w_idf = node.boost * sum(
        stats[(node.field, t)][1] * terms.count(t) for t in uniq)
    return _slot_plan(index, node.field, [[t] for t in terms], stats,
                      w_idf, matcher, shift)


def _scored_sloppy_phrase(index, node: PhraseQ) -> DataFrame:
    """Sloppy phrase (``"a b"~N``): all terms must co-occur, freq is
    the slop-weighted match count from _sloppy_freq_py over the
    offset-shifted positions, and the score is BM25 over that (float)
    freq with idf = sum of per-term idfs — Lucene SloppyPhraseScorer
    semantics. The greedy runs Arrow-batched over the slot join's
    candidates only (``_slot_plan``)."""
    if not node.terms:
        return _empty_scores(index)
    index.field_stats(node.field)
    _check_sloppy_phrase(list(node.terms), node.slop)
    return _term_slot_plan(
        index, node, functools.partial(_sloppy_freq_py, slop=int(node.slop)))


def _scored_span_near(index, node: SpanNearQ) -> DataFrame:
    """SpanNearQuery over single-term clauses (query.SpanNearQ — see
    its docstring for the match/weight contract): the per-doc matcher
    (ordered minimal-completion greedy / unordered sloppy greedy with
    the span bias) runs Arrow-batched over the unshifted slot join's
    candidates (``_slot_plan``)."""
    terms = list(node.terms)
    _check_span_near(terms, node.slop)
    index.field_stats(node.field)
    slop = int(node.slop)
    matcher = (
        functools.partial(_span_near_ordered_freq, slop=slop)
        if node.in_order
        else functools.partial(_sloppy_freq_py, slop=slop,
                               bias=len(terms) - 1)
    )
    return _term_slot_plan(index, node, matcher, shift=False)


def _scored_phrase(index, node: PhraseQ) -> DataFrame:
    """Positions-aware exact-adjacency phrase (slop 0), scored as BM25
    over the phrase frequency — public Lucene PhraseQuery semantics
    (reference query.clj:70-75, tested lucene_test.clj:63-72): the
    multi-phrase with one-term slots, idf = SUM of per-term idfs.
    ``slop > 0`` routes to the sloppy matcher."""
    if node.slop:
        return _scored_sloppy_phrase(index, node)
    index.field_stats(node.field)
    if not node.terms:
        return _empty_scores(index)
    return _term_slot_plan(index, node)


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
    stats = _seek_terms(index, [(node.field, t) for t in terms])
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
    w_idf = node.boost * sum(stats[(node.field, t)][1] for t in present)
    return _bm25_freq(agg, F.col("__freq"), "__dl", w_idf, st["avgdl"])


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
    v = _seek_terms(index, [(node.field, node.include)]).get(
        (node.field, node.include))
    if v is None:
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
    return _bm25_freq(inc.join(exc, "doc_id", "left"), freq, "dl",
                      node.boost * v[1], st["avgdl"])


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
    ALTERNATIVES (synonym phrase), on the phrase's slot join
    (``_slot_plan``). idf = sum of per-(slot, term) idfs over every
    PRESENT term, in slot order (Lucene IndexSearcher.termStatistics
    returns null at docFreq 0, so absent alternatives drop out of both
    matching and the weight); a slot with NO present alternative can
    never match — empty result."""
    index.field_stats(node.field)
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
    stats = _seek_terms(
        index, [(node.field, t) for ts in slots for t in ts]
    )
    present = [
        [t for t in ts if (node.field, t) in stats] for ts in slots
    ]
    if any(not ts for ts in present):
        return _empty_scores(index)
    w_idf = node.boost * sum(
        stats[(node.field, t)][1] for ts in present for t in ts)
    return _slot_plan(index, node.field, present, stats, w_idf)


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
    """FuzzyTermsEnum: the query term's expansions in the term
    DICTIONARY (vocab-sized, never postings) within max_edits
    Damerau-Levenshtein edits (transpositions count 1 — Lucene
    FuzzyQuery semantics, fuzzy.py), ranked by closeness boost then df
    then term, capped at max_expansions (Lucene default 50). Returns
    [(term, df, fboost)].

    The one entry of every fuzzy path (``_scored_fuzzy``, the boolean
    rewrites, the kernel router, search_batch), so it validates the
    FuzzyQuery constructor's bounds. The scan is the dictionary's
    driver-side candidate scan (``termdict.candidates``): no job, and a
    repeated fuzzy query re-ranks in milliseconds."""
    if not 0 <= node.max_edits <= 2:
        raise ValidationError(
            "max_edits must be 0, 1 or 2 (Lucene LevenshteinAutomata "
            "limit)", {"max_edits": node.max_edits})
    if node.prefix_length < 0:
        raise ValidationError("prefix_length must be >= 0",
                              {"prefix_length": node.prefix_length})
    if node.max_expansions < 1:
        raise ValidationError("max_expansions must be >= 1",
                              {"max_expansions": node.max_expansions})
    return candidates(index, node.field, node.term, node.max_edits,
                      node.prefix_length, node.max_expansions)


def _fuzzy_tree(index, node: FuzzyQ):
    """``(leaves, root, dfs)`` of a FuzzyQuery, or None when nothing
    expands: its expansions (``_fuzzy_expansions``) as term leaves
    weighted ``boost * closeness`` under one OR node, with each
    expansion's df. The one expansion tree of ``_scored_fuzzy`` and the
    kernel route."""
    from lucene_clj_spark.wand import TreeLeaf, TreeNode

    exp = _fuzzy_expansions(index, node)
    if not exp:
        return None
    leaves = [TreeLeaf(lid, node.field, t, node.boost * fb, True)
              for lid, (t, _, fb) in enumerate(exp)]
    return (leaves, TreeNode((), tuple(range(len(leaves))), ()),
            {(node.field, t): df_ for t, df_, _ in exp})


def _scored_fuzzy(index, node: FuzzyQ) -> DataFrame:
    """FuzzyQuery: expand the term against the term dictionary within
    max_edits (Damerau-Levenshtein — a transposition is ONE edit), cap
    expansions (Lucene default 50, ranked by boost then df), then score
    each expanded term with its own idf multiplied by the closeness
    boost ``1 - edits/min(|q|,|t|)`` and OR-combine (public
    FuzzyTermsEnum semantics; reference query.clj:126-147, behavior
    shown in README.org:803-832).

    The expansion set comes from the driver-side term dictionary
    (<= max_expansions rows) with each term's df, and runs as
    ``_tree_plan``'s OR node of weighted term leaves with no further
    terms seek: the postings scan filters on
    LITERAL term + bucket sets, so on a disk index a fuzzy query reads
    only the expanded terms' bucket directories."""
    index.field_stats(node.field)  # raises for a field without stats
    tree = _fuzzy_tree(index, node)
    return _empty_scores(index) if tree is None else _tree_plan(index, *tree)


def _empty_scores(index) -> DataFrame:
    return index.spark.createDataFrame([], "doc_id long, score double")


def _expand_fuzzy_deep(index, node: BoolQ) -> BoolQ | None:
    """The one fuzzy rewrite of a boolean, at any depth: every FuzzyQ
    becomes an OR of its expansions (``_fuzzy_expansions``) as TermQs
    weighted ``boost * closeness``. Score-preserving: FuzzyQuery IS
    that OR (reference query.clj:126-147), and ``b * fb`` is the float
    product _scored_fuzzy computes, so booleans with fuzzy leaves take
    the one-scan tree plan and the tree kernel instead of a join per
    fuzzy clause; ``_flatten`` then splices an expansion into an OR
    parent.

    A clause that can never match (a fuzzy with no expansions, or a
    boolean left with no clauses) drops out under SHOULD or MUST_NOT,
    so msm booleans keep the tree plan, and under MUST or FILTER makes
    its parent never match in turn. Returns None when the root can
    never match, ``node`` itself when it holds no fuzzy leaf."""
    changed = False

    def walk(b: BoolQ) -> BoolQ | None:
        nonlocal changed
        out = []
        for occ, child in b.clauses:
            if isinstance(child, FuzzyQ):
                changed = True
                ms = tuple(
                    (SHOULD, TermQ(child.boost * fb, child.field, t))
                    for t, _, fb in _fuzzy_expansions(index, child)
                )
                child = BoolQ(1.0, ms) if ms else None
            elif isinstance(child, BoolQ):
                child = walk(child)
            if child is not None:
                out.append((occ, child))
            elif occ in (MUST, FILTER):
                return None
        if not out:
            return None
        return BoolQ(b.boost, tuple(out), b.min_should_match)

    new = walk(node)
    return new if changed else node


def _term_tree(index, node: BoolQ, allow_phrase: bool = False):
    """The one normalizer of a boolean into the tree's ``(leaves, root,
    msm)``, shared by ``_scored_bool``, the kernel route
    (``_wand_route``, with ``allow_phrase`` for the tree kernel's
    in-scan phrase leaves; ``search`` computes it once for both) and
    batch.search_batch: fuzzy leaves expand
    into weighted term groups (``_expand_fuzzy_deep``), a flat boolean
    becomes one node (``_flat_tree``) that carries the
    min_should_match, and every other term-leaf tree takes
    ``_bool_tree_spec``.

    Raises for a negative min_should_match. Returns None when nothing
    can match (a MUST fuzzy has no expansions), else ``(node, spec)``:
    ``node`` is the rewritten, flattened query, and ``spec`` is None
    when ``node`` is no longer a boolean or is the join compiler's: msm
    over repeated pairs (the merge would undercount the tally Lucene
    keeps) or over a non-flat shape, FILTER, sloppy phrase and typed
    leaves, unknown occurs."""
    if node.min_should_match < 0:
        # validated before any plan: the tree plan and the join
        # compiler would read a negative msm differently
        raise ValidationError(
            "min_should_match must be >= 0",
            {"min_should_match": node.min_should_match},
        )
    rewritten = _expand_fuzzy_deep(index, node)
    if rewritten is None:
        return None
    node = _flatten(rewritten) if rewritten is not node else node
    if not isinstance(node, BoolQ):
        return node, None
    msm = node.min_should_match
    term_clauses = _flat_term_clauses(node)
    if term_clauses is not None and not (
        msm and len({(t.field, t.term) for _, t in term_clauses})
        < len(term_clauses)
    ):
        return node, (*_flat_tree(term_clauses), msm)
    if msm or any(occ == FILTER for occ, _ in node.clauses):
        return node, None
    spec = _bool_tree_spec(node, allow_phrase)
    return node, None if spec is None else (*spec, 0)


def _scored_bool(index, node: BoolQ, norm=...) -> DataFrame:
    """A boolean on its one-scan tree plan (``_term_tree`` ->
    ``_scored_tree``): flat booleans with msm, (a OR b) AND c NOT d,
    ((a AND b) OR (c AND d)) NOT e at any depth, boosted roots, fuzzy
    leaves. The recursive join compiler serves the rest, phrase leaves
    included. ``norm`` is ``node``'s ``_term_tree`` result when the
    caller already has it (``search`` normalizes once for the router
    and this fallback)."""
    from lucene_clj_spark.wand import PhraseTreeLeaf

    if norm is ...:
        norm = _term_tree(index, node)
    if norm is None:
        return _empty_scores(index)  # a MUST fuzzy matched nothing
    node, spec = norm
    if not isinstance(node, BoolQ):
        return compile_node(index, node)
    if spec is not None and not any(
        isinstance(le, PhraseTreeLeaf) for le in spec[0]
    ):
        return _scored_tree(index, *spec)
    return _scored_bool_joins(index, node)


def _scored_bool_joins(index, node: BoolQ) -> DataFrame:
    """The fully-general recursive boolean compiler: one scored
    DataFrame per clause, combined with joins/unions. Correct for ANY
    clause type (phrase/fuzzy/typed-exact subtrees land here), but
    join-per-clause — term-only shapes are intercepted upstream by the
    one-scan plan (_scored_tree), and tests pin it against this
    compiler as the semantic reference."""
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


def _wand_route(index, node: Node, norm=...):
    """Decide whether a query runs on a segment kernel (the scale
    path) of a disk index with built segments, and on which:

    - ``tree``: every term boolean, as ``_term_tree`` normalizes it —
      a term or an exact phrase (one SHOULD leaf), a flat MUST/SHOULD
      boolean over ANY mix of fields (map queries {title: ..., body:
      ...}) with or without minimumNumberShouldMatch (one flat node),
      any other boolean whose leaves are terms or exact phrases (any
      depth, MUST_NOT, boosted groups), fuzzy leaves expanded — plus a
      fuzzy query's expansion OR (``_fuzzy_tree``) and term-like
      DisMaxQ (a root node with a ``tie``);
    - ``span_or``: SpanOrQ on the pooled-tf kernel;
    - ``sloppy_phrase`` / ``span_near`` / ``span_first`` /
      ``span_not``: the positions kernels.

    ``norm`` is a boolean ``node``'s ``_term_tree(..., allow_phrase=
    True)`` result when the caller already has it. Returns None (the
    DataFrame plan serves the query) or ``(kind, run)`` where ``run(k,
    search_after)`` builds the kernel's top-k plan; ``empty`` runs the
    empty frame (a fuzzy query, or a MUST fuzzy, with no expansions).
    For ``tree`` the run is a ``wand.KernelSpec``. Boosts ride as
    kernel weights (scores and block-max skip bounds scale linearly,
    so pruning stays exact); a non-positive weight would invert the
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
    if isinstance(node, FuzzyQ):
        tree = _fuzzy_tree(index, node)
        if tree is None:
            return "empty", lambda k, sa: _empty_scores(index)
        return _tree_spec_route(index, *tree[:2])
    if isinstance(node, PhraseQ):
        if not node.terms or node.slop < 0:
            return None  # matches nothing; the DataFrame plan serves it
        if node.slop:
            return "sloppy_phrase", lambda k, sa: wand.sloppy_phrase_topk(
                index, node.field, list(node.terms), slop=int(node.slop),
                k=k, search_after=sa, weight=node.boost)
    if isinstance(node, (TermQ, PhraseQ)):
        node = BoolQ(1.0, ((SHOULD, node),))
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
        spec = _dismax_tree(node)
        return _tree_spec_route(index, *spec) if spec else None
    if not (isinstance(node, BoolQ) and node.clauses):
        return None
    if norm is ...:
        norm = _term_tree(index, node, allow_phrase=True)
    if norm is None:
        return "empty", lambda k, sa: _empty_scores(index)
    node, spec = norm
    if not isinstance(node, BoolQ):
        return _wand_route(index, node)  # collapsed to one leaf
    return _tree_spec_route(index, *spec) if spec else None


def _tree_spec_route(index, leaves: list, root, msm: int = 0):
    """The tree-kernel route for a normalized ``(leaves, root, msm)``
    tree (``_term_tree``, ``_fuzzy_tree``, ``_dismax_tree``): leaves on
    indexed fields, positive weights on all scored leaves,
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
    return "tree", tree_spec(index, leaves, root, msm)


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
    attached by ONE literal ``map(doc_id, array(named_struct(..)), ..)``
    lookup. Both the filter and the lookup are SQL text built from
    ``sql_lit`` (exact literals), so the plan costs a handful of Py4J
    calls whatever the hit count, not a few per hit value. The sort
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
    by_doc: dict[int, list[str]] = {}
    for r in hits:
        by_doc.setdefault(int(r["doc_id"]), []).append(
            "named_struct(" + ", ".join(
                f"'{n}', {sql_lit(r[n], t)}" for n, t in own) + ")"
        )
    if by_doc:
        lookup = "map(" + ", ".join(
            f"{d}L, array({', '.join(structs)})"
            for d, structs in by_doc.items()
        ) + ")"
        keep = f"doc_id IN ({', '.join(map(str, sorted(by_doc)))})"
    else:
        value = ", ".join(f"{n}: {t}" for n, t in own)
        lookup = f"CAST(NULL AS map<bigint, array<struct<{value}>>>)"
        keep = "false"
    out = index.docs.filter(keep).selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"inline({lookup}[CAST(doc_id AS BIGINT)])",
        *["`" + c.replace("`", "``") + "`" for c in stored],
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
    segment-backed disk index through one of the three segment kernels
    (``_wand_route``): the boolean tree kernel (terms, exact phrases,
    flat AND/OR/mixed booleans over ANY mix of fields incl. map
    queries, msm booleans, fuzzy, nested trees, MUST_NOT, boosted
    groups, phrase leaves, term-like DisMaxQ), the pooled-tf SpanOrQ
    kernel and the positions kernels (sloppy phrases, span near /
    first / not) — any page, keyset pagination included, with boosts
    riding as kernel weights. A boolean is normalized once
    (``_term_tree``) for the router and the DataFrame fallback. The kernels are result-identical
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
    # a boolean normalizes ONCE (each fuzzy clause expands once): the
    # router and the DataFrame fallback read the same _term_tree result
    ast = _flatten(ast)
    norm = (_term_tree(index, ast, allow_phrase=True)
            if isinstance(ast, BoolQ) else ...)
    route = None
    if strategy in ("auto", "wand"):
        route = _wand_route(index, ast, norm)
    if strategy == "wand" and route is None:
        raise ValidationError(
            "strategy='wand' requires a segment-backed disk index and "
            "a term/AND/OR/map/group/phrase (exact or sloppy)/fuzzy/"
            "span query with positive boosts over indexed fields",
            {},
        )
    if route is not None:
        scores = route[1](kernel_k, sa_key)
    elif isinstance(ast, BoolQ):
        scores = _scored_bool(index, ast, norm)
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
