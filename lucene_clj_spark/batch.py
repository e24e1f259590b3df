"""Batch multi-query search — score a whole QUERY LOG in one Spark job.

The reference serves one query per call (`IndexSearcher.search`,
reference search.clj:49-78); its unit of work is a query. At cluster
scale the serving pattern for offline evaluation, relevance tuning,
query-log replay, and bulk retrieval (RAG corpus joins, distillation
set building) is a BATCH of M queries — and running M sequential
Spark jobs pays M times the per-job floor (scheduling + scan setup,
~0.3-1 s each in local mode, comparable on a busy cluster) plus M
separate postings scans.

``search_batch`` instead runs the whole batch as ONE job. Every query
goes through ``index.search``'s own normalizer (search._term_tree:
fuzzy clauses expand driver-side into weighted term groups, a flat
boolean becomes one node of merged (field, term) pairs, any other
boolean becomes a term-leaf tree), and the batch admits the one-level
family of those trees: terms, AND vectors, OR sets, multi-field maps,
and one-level DSL booleans whose MUST / SHOULD / MUST_NOT children are
term leaves or all-SHOULD groups of term leaves (fuzzy leaves
included). Then one of two plans runs it:

- **Segment kernels** (a disk index with ready segments, every query
  kernel-eligible): each query's tree becomes the tree-kernel spec
  ``index.search`` would route it to (``_tree_spec_route``), decided
  before any terms seek, and ALL specs run in one kernel pass
  (``wand.run_specs``): one terms seek (a term-dictionary lookup) and
  one unweighted blocks scan over the union of the batch's pairs,
  co-located once by the union's posting mass, one evaluator, bounded
  heap and θ per query, each evaluator handed only its own keys' rows
  of a chunk. The per-query merge is ``_topk_per_query``; a batch at
  or below ``wand.SINGLE_PARTITION_MASS`` postings runs on one
  partition with no exchange and no broadcast, so a warm batch is one
  Spark job.
- **DataFrame plan** (every in-memory index, and any batch holding a
  kernel-ineligible query): the trees' leaves become rows of a tiny
  leaf relation ``(query_id, field, term, lid, weight, df, N, avgdl,
  g, must_unit, is_not, need, n_groups)``, broadcast against ONE
  postings scan filtered to the UNION of all batch terms — on a disk
  index the filter constant-folds to bucket PartitionFilters
  (`_bucket_pruned`), so the batch reads only the term buckets any of
  its queries touch, once. Matching and scoring fall out of a single
  ``groupBy(query_id, doc_id)``: a doc matches when it holds all
  ``need`` MUST units (a MUST leaf, or any leaf of a MUST group —
  ``size(collect_set(must_unit))``) and no MUST_NOT leaf, and, with no
  MUST, any scored leaf. Its score folds the matched leaves in
  ``wand.sum_order``, the tree plan's and the kernels' one addition
  rule: the root's leaves (group ``g`` 0) in ``leaf_rank`` order, then
  each group's own fold in child order.

Either plan returns, per query, the rows ``index.search`` returns, bit
for bit.

Cost with the batch size M. Kernel plan: the driver keeps one small
spec per query (its keys' idfs and boost weights; the norm-denominator
arrays are shared per field) and an fkey -> queries index, so a chunk
costs its rows times the queries sharing each key present in it,
never M per chunk. The evaluators of one chunk run one after another
in one Python worker, so the plan's parallelism is the number of
chunks the batch's keys span. Measured on the perfbench corpus
(2,000 docs, one chunk, 4-core host), AND/OR pairs: 1,000 queries
~7.0 s against ~8.4 s on the DataFrame plan, 10,000 queries ~34 s
against ~62 s. DataFrame plan: the leaf relation stays
driver-tiny (10^6 queries x a few terms is MBs, far under the
broadcast threshold) and the work is one bucket-pruned scan, one
shuffle keyed ``(query_id, doc_id)`` and one k-bounded window for the
whole batch.

Skew note (100 TB), DataFrame plan: the agg key ``(query_id,
doc_id)`` is fine-grained, so a stop-word-heavy query cannot pin one
reducer; and the per-query top-k window compiles with
``WindowGroupLimit`` (Partial before the query_id exchange, Final
after — visible in `.explain()`, pinned by test), so each map
partition forwards at most k rows PER QUERY into the shuffle: a query
matching 10^9 docs ships ``k * n_partitions`` rows to its window
partition, not 10^9. The kernel plan above the mass constant
range-partitions the blocks by chunk and merges the partitions' heaps
through the same bounded window.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucene_clj_spark import bm25
from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.query import (
    MUST,
    SHOULD,
    BoolQ,
    FuzzyQ,
    MatchNone,
    Node,
    combine_fuzzy,
    parse,
)
from lucene_clj_spark.search import (
    DEFAULT_RESULTS_PER_PAGE,
    _as_term,
    _bucket_pruned,
    _flat_tree,
    _flatten,
    _lookup_term_stats,
    _term_tree,
    _tree_spec_route,
    fetch_hits,
    sql_lit,
)

MUST_NOT = "MUST_NOT"

_FAMILY = (
    "search_batch supports term / AND / OR / field-map / one-level "
    "boolean queries (fuzzy leaves included); use index.search for "
    "phrases and nested trees"
)


def _canonical_score_sum():
    """Aggregate expression: the per-doc score sum folded in sorted
    (field, term, score) order — bit-stable across partition layouts,
    unlike a bare ``F.sum`` over doubles: identical docs in different
    partitions would score 1 ulp apart, and a per-group rank under
    heavy duplication picks copy-dependent winners (the sf1
    320x-duplication run's field collapse). The collected list is
    clause-bounded (one entry per matched clause), so the per-doc sort
    is O(k log k) tiny work inside the same single aggregation."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(F.struct("field", "term", "score"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["score"],
    )


def _msm_error(node: BoolQ) -> ValidationError:
    return ValidationError(
        "search_batch does not support min_should_match; use "
        "index.search for msm booleans",
        {"min_should_match": node.min_should_match},
    )


def _one_level(root) -> bool:
    """Are ``root``'s children all leaves or all-SHOULD nodes of leaves?"""
    return all(
        isinstance(ch, int)
        or (not ch.musts and not ch.nots
            and all(isinstance(x, int) for x in ch.shoulds))
        for ch in (*root.musts, *root.shoulds, *root.nots)
    )


def _batch_tree(index, ast: Node):
    """One query's ``(leaves, root)`` from ``index.search``'s normalizer
    (search._term_tree), or None when it can never match (MatchNone, a
    MUST fuzzy with no expansions). Raises ValidationError for shapes
    outside the one-level family — min_should_match, unknown occurs,
    phrases, nested trees — checked before any routing: the kernel
    router would accept msm and nested trees."""
    ast = _flatten(ast)
    if isinstance(ast, MatchNone):
        return None
    if isinstance(ast, FuzzyQ):
        ast = BoolQ(1.0, ((SHOULD, ast),))
    leaf = _as_term(ast)
    if leaf is not None:
        return _flat_tree([(SHOULD, leaf)])
    if not isinstance(ast, BoolQ):
        raise ValidationError(_FAMILY, {"query_type": type(ast).__name__})
    if ast.min_should_match:
        # the batch plans keep no matched-SHOULD tally; rejecting beats
        # silently returning 1-of-N matches
        raise _msm_error(ast)
    for occ, child in ast.clauses:
        if occ not in (MUST, SHOULD, MUST_NOT):
            raise ValidationError(
                "search_batch: unknown boolean occur", {"occ": occ}
            )
        if isinstance(child, BoolQ) and child.min_should_match:
            raise _msm_error(child)
    norm = _term_tree(index, ast)
    if norm is None:
        return None
    node, spec = norm
    if not isinstance(node, BoolQ):
        leaf = _as_term(node)
        if leaf is None:
            raise ValidationError(
                "search_batch: unsupported query shape after fuzzy "
                "expansion", {"query_type": type(node).__name__},
            )
        return _flat_tree([(SHOULD, leaf)])
    if spec is None or not _one_level(spec[1]):
        raise ValidationError(_FAMILY, {"clause_type": next(
            (type(c).__name__ for _, c in node.clauses
             if _as_term(c) is None), "BoolQ")})
    return spec[:2]


def search_batch(
    index,
    queries: dict[str, Any],
    *,
    field_name: str | None = None,
    results_per_page: int = DEFAULT_RESULTS_PER_PAGE,
    fuzzy: bool = False,
    with_hit: bool = False,
    hit_columns: list[str] | None = None,
) -> DataFrame:
    """Top-k search for EVERY query in ``queries`` in one Spark job.

    ``queries`` maps a caller-chosen ``query_id`` (stringified; two ids
    with the same string raise) to any query form ``index.search``
    accepts within the one-level boolean family: a term string, AND
    list, OR set, multi-field map, a prebuilt / DSL-parsed one-level
    boolean (MUST / SHOULD / MUST_NOT, boosts, SHOULD-groups), or —
    with ``fuzzy=True`` — a fuzzy field map. Returns a DataFrame
    ``(query_id, doc_id, score [, stored cols])`` holding each query's
    top ``results_per_page`` hits ordered (query_id asc, score desc,
    doc_id asc) — bit-identical per query to
    ``index.search(q, with_hit=False)`` (pinned by test, unrounded).

    Each query normalizes through ``index.search``'s own term-tree
    normalizer. On a disk index with ready segments, every query runs
    on the segment kernel ``index.search`` would give it, all of them
    in ONE kernel pass; a batch holding any kernel-ineligible query,
    and every in-memory index, runs the DataFrame plan, which reads the
    same trees and adds scores in the same ``wand.sum_order``. See the
    module docstring.

    Queries that cannot match (empty after parsing, a MUST term absent
    from the dictionary, a MUST fuzzy with no expansions) contribute
    zero rows; the other queries are unaffected.
    """
    if not queries:
        raise ValidationError("search_batch needs at least one query", {})
    if not isinstance(queries, dict):
        raise ValidationError(
            "queries must be a dict of query_id -> query",
            {"queries_type": type(queries).__name__},
        )
    if results_per_page < 1:
        raise ValidationError(
            "results_per_page must be >= 1",
            {"results_per_page": results_per_page},
        )

    # --- every query to its term tree (driver-side, tiny)
    asts: dict[str, Node] = {}
    for qid, q in queries.items():
        key = str(qid)
        if key in asts:
            raise ValidationError(
                f"query ids collide as strings: {key!r}",
                {"query_id": key},
            )
        if fuzzy:
            asts[key] = combine_fuzzy(q, index.specs)
        else:
            asts[key] = parse(q, index.specs, index.analyzers, field_name)
    trees: dict[str, tuple] = {}
    for qid, ast in asts.items():
        tree = _batch_tree(index, ast)
        if tree is not None and tree[0]:  # no leaves: can never match
            trees[qid] = tree

    k = results_per_page
    specs = _kernel_specs(index, trees)
    if specs is None:
        top = _scored_batch(index, trees, k)
    elif specs:
        top = _kernel_batch(index, specs, k)
    else:
        top = index.spark.createDataFrame(
            [], "query_id string, doc_id long, score double"
        )
    return _batch_hits(index, top, hit_columns) if with_hit else top


def _kernel_specs(index, trees: dict) -> dict | None:
    """Each query's tree-kernel spec, in query-id order, built from the
    ``(leaves, root)`` ``_batch_tree`` returned — the tree
    ``_wand_route`` gives ``index.search`` for it — so no query is
    normalized (or fuzzy-expanded) twice. None — the whole batch runs
    the DataFrame plan — when the index has no ready segments (every
    in-memory index) or any query is kernel-ineligible. Decided before
    any terms seek."""
    from lucene_clj_spark.segments import segments_ready

    if not (index.path and segments_ready(index.path)):
        return None
    specs = {}
    for qid in sorted(trees):
        route = _tree_spec_route(index, *trees[qid])
        if route is None:
            return None
        specs[qid] = route[1]
    return specs


def _kernel_batch(index, specs: dict, k: int) -> DataFrame:
    """Every spec in one kernel pass (``wand.run_specs``), merged per
    query by ``_topk_per_query`` — on one partition with no exchange.
    The kernel keys its heaps by the spec's position; ``specs`` is in
    query-id order, so the merge's order is the query-id order."""
    from lucene_clj_spark.wand import run_specs

    top = _topk_per_query(run_specs(index, list(specs.values()), k), k,
                          key="q")
    qids = ", ".join(sql_lit(q, "string") for q in specs)
    return top.selectExpr(f"element_at(array({qids}), q + 1) AS query_id",
                          "doc_id", "score")


def _scored_batch(index, trees: dict, k: int) -> DataFrame:
    """The DataFrame plan: one broadcast leaf relation against one
    bucket-pruned postings scan, one ``(query_id, doc_id)`` aggregation
    and the bounded per-query window (module docstring). A query
    scores as ``search._tree_plan`` scores its tree: the root's leaves
    fold from 0.0 in ``leaf_rank`` order, then each group's fold is
    added in ``sum_order`` — adding 0.0 (an unmatched group, or the
    fold's start) is exact, so the sums agree bit for bit."""
    from lucene_clj_spark.wand import leaf_rank, sum_order, tree_possible

    spark = index.spark
    # --- one stats lookup for the union of (field, term) pairs
    dfs = _lookup_term_stats(index, sorted({
        (le.field, le.term) for leaves, _ in trees.values() for le in leaves
    }))
    rows: list[tuple] = []
    for qid, (leaves, root) in trees.items():
        present = {le.lid for le in leaves if (le.field, le.term) in dfs}
        if not tree_possible(root, present):
            continue  # an absent MUST leaf or group
        # g: 0 for the root's own leaves, then the scored groups in the
        # order sum_order adds them; a MUST unit per root MUST child
        groups = [ch for _, ch in sum_order(root, leaf_rank(leaves))
                  if not isinstance(ch, int)]
        g_of = {id(ch): g for g, ch in enumerate(groups, 1)}
        place: dict[int, tuple] = {}
        for occ, kids in enumerate((root.musts, root.shoulds, root.nots)):
            for unit, ch in enumerate(kids):
                g = 0 if isinstance(ch, int) else g_of.get(id(ch))
                for lid in (ch,) if isinstance(ch, int) else ch.shoulds:
                    place[lid] = (g, unit if occ == 0 else None, occ == 2)
        for le in leaves:
            if le.lid in present:
                st = index.field_stats(le.field)
                rows.append((
                    qid, le.field, le.term, le.lid, float(le.weight),
                    dfs[(le.field, le.term)], int(st["N"]),
                    float(st["avgdl"]), *place[le.lid], len(root.musts),
                    len(groups),
                ))
    if not rows:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double"
        )

    local = spark.createDataFrame(
        rows,
        "query_id string, field string, term string, lid int, "
        "weight double, df long, n_docs long, avgdl double, g int, "
        "must_unit int, is_not boolean, need int, n_groups int",
    )
    fields = sorted({r[1] for r in rows})
    terms_ = sorted({r[2] for r in rows})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    score = F.col("weight") * bm25.score_col(
        F.col("tf"), F.col("dl"), F.col("df"),
        F.col("n_docs"), F.col("avgdl"),
    )
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
        "query_id", "doc_id", "must_unit", "is_not", "need", "n_groups",
        F.when(~F.col("is_not"), F.struct(
            "g", "field", "term", "lid", score.alias("score")
        )).alias("__leaf"),
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        # sorted by (g, field, term, lid): each group's leaves in
        # leaf_rank order
        F.array_sort(F.collect_list("__leaf")).alias("__leaves"),
        F.size(F.collect_set("must_unit")).alias("__musts"),
        F.max("is_not").alias("__vetoed"),
        F.max("need").alias("__need"),  # constant per query
        F.max("n_groups").alias("__groups"),
    )

    def fold(xs):
        return F.aggregate(xs, F.lit(0.0), lambda acc, x: acc + x["score"])

    total = F.aggregate(
        F.sequence(F.lit(0), F.col("__groups")), F.lit(0.0),
        lambda acc, g: acc + fold(
            F.filter(F.col("__leaves"), lambda x: x["g"] == g)
        ),
    )
    matched = agg.filter(
        (F.col("__musts") == F.col("__need")) & ~F.col("__vetoed")
    ).select("query_id", "doc_id", total.alias("score"))
    return _topk_per_query(matched, k)


def search_batch_df(
    index,
    queries_df: DataFrame,
    *,
    results_per_page: int = DEFAULT_RESULTS_PER_PAGE,
) -> DataFrame:
    """Fully-distributed batch search: the query log is itself a
    DataFrame — no driver-side loop, no broadcast requirement, so the
    batch can be 10^7 queries replayed against a 100 TB index.

    ``queries_df`` is the clause relation directly, one row per
    (query, clause): columns ``query_id`` (string), ``field``,
    ``term`` (analyzer-normalized token — replayed logs store these),
    optional ``boost`` (double, default 1.0) and ``occ`` (one of
    MUST / SHOULD / MUST_NOT, default SHOULD). Each row is its own
    boolean clause (term / AND / OR / NOT replay — the log shape);
    SHOULD-groups-under-MUST and fuzzy expansion stay on
    ``search_batch``, whose driver-side normalization produces them.

    Returns ``(query_id, doc_id, score)`` top-k per query, ordered
    (query_id asc, score desc, doc_id asc) — semantics identical to
    ``search_batch`` on the same clauses (pinned by test).

    Plan: queries join the vocab-sized ``terms`` table for df, a
    fields-sized local relation for (N, avgdl), then the postings
    table on (field, term) — Spark/AQE picks broadcast vs shuffle
    join from the actual log size, which is exactly the call you want
    made at runtime, not in code. A MUST clause whose term is absent
    from the dictionary empties its query by arithmetic: the
    per-query MUST count comes from the raw log, matched MUSTs can
    never reach it. Aggregation and the WindowGroupLimit top-k are
    the same single-shuffle shape as ``search_batch``.
    """
    if results_per_page < 1:
        raise ValidationError(
            "results_per_page must be >= 1",
            {"results_per_page": results_per_page},
        )
    cols = set(queries_df.columns)
    for c in ("query_id", "field", "term"):
        if c not in cols:
            raise ValidationError(
                "queries_df needs columns (query_id, field, term "
                "[, boost, occ])", {"columns": sorted(cols)},
            )
    qn = queries_df
    if "boost" not in cols:
        qn = qn.withColumn("boost", F.lit(1.0))
    if "occ" not in cols:
        qn = qn.withColumn("occ", F.lit(SHOULD))
    qn = qn.select(
        F.col("query_id").cast("string").alias("query_id"),
        "field", "term",
        F.col("boost").cast("double").alias("boost"),
        "occ",
    )
    # fail fast on malformed occ — a typo'd occur must not silently
    # score as SHOULD. One pass over the (log-sized, postings-dwarfed)
    # queries table; first offender reported.
    bad = qn.filter(
        ~F.col("occ").isin(MUST, SHOULD, MUST_NOT)
    ).select("query_id", "occ").take(1)
    if bad:
        raise ValidationError(
            "occ must be one of MUST / SHOULD / MUST_NOT",
            {"query_id": bad[0]["query_id"], "occ": bad[0]["occ"]},
        )
    spark = index.spark

    # per-query MUST requirement from the RAW log (absent MUST terms
    # still count, so their queries can never be satisfied — same
    # contract as search_batch / the reference's BooleanQuery)
    need = qn.groupBy("query_id").agg(
        F.countDistinct(
            F.when(F.col("occ") == MUST, F.struct("field", "term"))
        ).alias("__need")
    )

    # vocab stats ride in as joins instead of driver literals: df from
    # the terms table, (N, avgdl) from a fields-sized local relation
    fstats = spark.createDataFrame(
        [(f, int(s["N"]), float(s["avgdl"]))
         for f, s in index.stats.items()],
        "field string, n_docs long, avgdl double",
    )
    qs = (
        qn.join(index.terms.select("field", "term", "df"),
                ["field", "term"])
        .join(F.broadcast(fstats), "field")
    )
    is_not = F.col("occ") == MUST_NOT
    scored = index.postings.join(qs, ["field", "term"]).select(
        "query_id",
        "doc_id",
        "field",
        "term",
        F.when(is_not, F.lit(0.0)).otherwise(
            F.col("boost")
            * bm25.score_col(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            )
        ).alias("score"),
        F.when(F.col("occ") == MUST,
               F.struct("field", "term")).alias("__mg"),
        is_not.cast("int").alias("__not"),
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        _canonical_score_sum().alias("score"),
        F.countDistinct("__mg").alias("__musts"),
        F.max("__not").alias("__vetoed"),
    )
    matched = agg.join(need, "query_id").filter(
        (F.col("__musts") == F.col("__need")) & (F.col("__vetoed") == 0)
    ).select("query_id", "doc_id", "score")
    return _topk_per_query(matched, results_per_page)


def _topk_per_query(
    matched: DataFrame, k: int, key: str = "query_id"
) -> DataFrame:
    """Bounded per-query top-k: row_number over (key | score desc,
    doc_id asc) compiles to WindowGroupLimit Partial+Final — each map
    partition forwards at most k rows per query into the shuffle
    (pinned by plan-shape test). On one partition the window needs no
    exchange at all."""
    w = Window.partitionBy(key).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy(key, F.desc("score"), F.asc("doc_id"))
    )


def more_like_this(
    index,
    field: str,
    *,
    doc_ids=None,
    top_terms: int = 10,
    max_df: int | None = None,
    results_per_page: int = DEFAULT_RESULTS_PER_PAGE,
    include_self: bool = False,
) -> DataFrame:
    """For every document, the top-k most BM25-similar documents —
    Lucene's MoreLikeThis (each doc's most distinctive terms become a
    query against the index) expressed as one Spark job over the
    index's own tables.

    Query construction follows MoreLikeThis's selectivity rule: each
    doc's ``top_terms`` RAREST terms in ``field`` (df ascending, term
    ascending for determinism; ``max_df`` additionally drops
    stop-word-frequency terms like MLT's maxDocFreq). ``doc_ids``
    restricts which docs get queries (the candidate side always scans
    the whole field). ``include_self=False`` (default) drops the
    trivial self-match before the per-doc top-k, so all k slots carry
    neighbors. Returns ``(query_doc_id, doc_id, score)``.

    Scale shape: (1) the query-term selection shuffles only the
    projected (doc_id, term, df) postings columns by doc_id (positions
    and tf prune out of the scan); (2) the candidate join is keyed on
    term, and because each doc queries its RAREST terms, per-term
    fanout is small by construction — the df-ascending selection is
    what makes index-replay MLT tractable at 10^9 docs (a hot term
    never becomes a query term unless the doc has nothing rarer, and
    ``max_df`` caps even that); (3) scoring aggregates on
    (query_doc_id, doc_id) and the top-k is WindowGroupLimit-bounded
    like every batch path. The fanout bound is a property of the
    VOCABULARY, not the plan: on Zipfian webtext the rarest-terms
    selection keeps per-term candidate lists tiny, but a degenerate
    small vocabulary (every term common) degrades toward all-pairs —
    measured at ~1.5M scored pairs/s/8-threads on the 31-term
    synthetic bench corpus (bench.py's SPARK_GRAFT_BENCH_MLT note);
    set ``max_df`` to refuse the dense regime outright. This is the
    doc-to-doc similarity primitive for near-dup clustering and
    retrieval-negative mining that embedding ANN (functions/ann.py)
    covers only when embeddings exist.
    """
    if results_per_page < 1 or top_terms < 1:
        raise ValidationError(
            "results_per_page and top_terms must be >= 1",
            {"results_per_page": results_per_page,
             "top_terms": top_terms},
        )
    st = index.field_stats(field)

    p = index.postings.filter(F.col("field") == field)
    qside = p.select("doc_id", "term")
    if doc_ids is not None:
        if isinstance(doc_ids, range) and doc_ids.step == 1:
            # contiguous ranges compile to a min/max-skippable BETWEEN
            # instead of a literal IN list
            qside = qside.filter(
                (F.col("doc_id") >= doc_ids.start)
                & (F.col("doc_id") < doc_ids.stop)
            )
        else:
            qside = qside.filter(F.col("doc_id").isin(list(doc_ids)))
    tdf = (
        index.terms.filter(F.col("field") == field)
        .select("term", "df")
    )
    if max_df is not None:
        tdf = tdf.filter(F.col("df") <= max_df)
    wq = Window.partitionBy("doc_id").orderBy(
        F.asc("df"), F.asc("term")
    )
    qterms = (
        qside.join(tdf, "term")
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= top_terms)
        .select(
            F.col("doc_id").alias("query_doc_id"), "term", "df",
        )
    )
    scored = p.join(qterms, "term").select(
        "query_doc_id",
        "doc_id",
        "field",
        "term",
        bm25.score_col(
            F.col("tf"), F.col("dl"), F.col("df"),
            F.lit(int(st["N"])), F.lit(float(st["avgdl"])),
        ).alias("score"),
    )
    agg = scored.groupBy("query_doc_id", "doc_id").agg(
        _canonical_score_sum().alias("score")
    )
    if not include_self:
        agg = agg.filter(F.col("doc_id") != F.col("query_doc_id"))
    return _topk_per_query(agg, results_per_page, key="query_doc_id")


def _batch_hits(
    index, top: DataFrame, hit_columns: list[str] | None
) -> DataFrame:
    """Stored-field retrieval for a batch result: the same doc_id seek
    as single-query search (``fetch_hits``; the top set is bounded by
    M*k, so collecting it costs one action)."""
    return fetch_hits(
        index, top.collect(),
        [("query_id", "string"), ("doc_id", "long"), ("score", "double")],
        [F.asc("query_id"), F.desc("score"), F.asc("doc_id")],
        hit_columns,
    )
