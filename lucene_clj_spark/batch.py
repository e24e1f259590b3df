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
first normalizes driver-side to clause groups — the one-level
group-tree family `_scored_term_group` / `_scored_group_tree` accept
for single queries (terms, AND vectors, OR sets, multi-field maps,
one-level DSL booleans with MUST/SHOULD/MUST_NOT and SHOULD-groups;
fuzzy leaves expand driver-side to weighted term groups exactly like
the single-query path, search.py `_expand_fuzzy_clauses`; a flat
boolean merges duplicate (field, term) pairs by summed boost, as
`_scored_term_group` and the flat kernel do). Then one of two plans
runs it:

- **Segment kernels** (a disk index with ready segments, every query
  kernel-eligible): each query gets the flat or tree kernel spec
  ``index.search`` would route it to (``_wand_route``), decided before
  any terms seek, and ALL specs run in one kernel pass
  (``wand.run_specs``): one memoized terms seek and one unweighted
  blocks scan over the union of the batch's (field, term) pairs,
  co-located once by the union's posting mass, one evaluator, bounded
  heap and θ per query, each evaluator handed only its own keys' rows
  of a chunk. The per-query merge is ``_topk_per_query``; a batch at
  or below ``wand.SINGLE_PARTITION_MASS`` postings runs on one
  partition with no exchange and no broadcast, so a warm batch is one
  Spark job. Results are bit-identical per query to ``index.search``.
- **DataFrame plan** (every in-memory index, and any batch holding a
  kernel-ineligible query): the clause groups become rows of a tiny
  clause relation ``(query_id, group_id, field, term, boost, occ)``,
  broadcast against ONE postings scan filtered to the UNION of all
  batch terms — on a disk index the filter constant-folds to bucket
  PartitionFilters (`_bucket_pruned`), so the batch reads only the
  term buckets any of its queries touch, once. BM25 scoring +
  MUST/MUST_NOT semantics fall out of a single
  ``groupBy(query_id, doc_id)``: score is the boost-weighted sum of
  the non-negated clause scores, a MUST group counts as satisfied
  when any of its members matched (``count(DISTINCT group_id)``), and
  a matched MUST_NOT member vetoes the doc. Per-doc score addition
  runs in canonical (field, term) order (`_canonical_score_sum`).

Cost with the batch size M. Kernel plan: the driver keeps one small
spec per query (its keys' idfs and boost weights; the norm-denominator
arrays are shared per field) and an fkey -> queries index, so a chunk
costs its rows times the queries sharing each key present in it,
never M per chunk. The evaluators of one chunk run one after another
in one Python worker, so the plan's parallelism is the number of
chunks the batch's keys span. Measured on the perfbench corpus
(2,000 docs, one chunk, 4-core host), AND/OR pairs: 1,000 queries
~7.0 s against ~8.4 s on the DataFrame plan, 10,000 queries ~34 s
against ~62 s. DataFrame plan: the clause relation stays
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
    TermQ,
    combine_fuzzy,
    parse,
)
from lucene_clj_spark.search import (
    DEFAULT_RESULTS_PER_PAGE,
    _as_term,
    _bucket_pruned,
    _canonical_score_sum,
    _expand_fuzzy_clauses,
    _flat_term_clauses,
    _flatten,
    _lookup_term_stats,
    _merge_term_clauses,
    _wand_route,
    fetch_hits,
)

MUST_NOT = "MUST_NOT"


# _canonical_score_sum (imported from search.py): order-canonical
# per-doc score fold — see its docstring; the sf1 320x-duplication run
# caught both more_like_this (r04 earlier) and field collapse (r04
# later) selecting copy-dependent tie winners under plain F.sum.


def _group_members(node: BoolQ) -> list[TermQ] | None:
    """Term-like members of a one-level all-SHOULD group, else None."""
    if not isinstance(node, BoolQ) or not node.clauses:
        return None
    if node.min_should_match:
        return None  # msm groups need the counting compiler
    if any(occ != SHOULD for occ, _ in node.clauses):
        return None
    members = [_as_term(c) for _, c in node.clauses]
    if any(m is None for m in members):
        return None
    return [TermQ(node.boost * m.boost, m.field, m.term) for m in members]


def _clause_groups(index, ast: Node):
    """Normalize one parsed query to ``[(occ, [TermQ, ...])]`` groups.

    Returns None when the query can never match (MatchNone, or a MUST
    fuzzy clause with zero dictionary expansions). Raises
    ValidationError for shapes outside the one-level group family
    (phrases, nested trees) — those stay on ``index.search``.
    """
    ast = _flatten(ast)
    if isinstance(ast, MatchNone):
        return None
    if isinstance(ast, FuzzyQ):
        ast = BoolQ(1.0, ((SHOULD, ast),))
    leaf = _as_term(ast)
    if leaf is not None:
        return [(SHOULD, [leaf])]
    if not isinstance(ast, BoolQ):
        raise ValidationError(
            "search_batch supports term / AND / OR / field-map / "
            "one-level boolean queries (fuzzy leaves included); use "
            "index.search for phrases and nested trees",
            {"query_type": type(ast).__name__},
        )
    expanded = _expand_fuzzy_clauses(index, ast)
    if expanded is None:
        return None  # a MUST fuzzy with no expansions: empty result
    ast = _flatten(expanded)
    if not isinstance(ast, BoolQ):
        leaf = _as_term(ast)
        if leaf is None:
            raise ValidationError(
                "search_batch: unsupported query shape after fuzzy "
                "expansion", {"query_type": type(ast).__name__},
            )
        return [(SHOULD, [leaf])]
    if ast.min_should_match:
        # the batch plan's per-query aggregation has no matched-SHOULD
        # tally; rejecting beats silently returning 1-of-N matches
        raise ValidationError(
            "search_batch does not support min_should_match; use "
            "index.search for msm booleans",
            {"min_should_match": ast.min_should_match},
        )
    flat = _flat_term_clauses(ast)
    if flat is not None:
        # duplicate (field, term) pairs merge ACROSS the query, as
        # index.search merges them, so each pair scores with its boost
        weights, must = _merge_term_clauses(flat)
        return [(MUST if p in must else SHOULD, [TermQ(w, *p)])
                for p, w in weights.items()]
    groups: list[tuple[str, list[TermQ]]] = []
    for occ, child in ast.clauses:
        if occ not in (MUST, SHOULD, MUST_NOT):
            raise ValidationError(
                "search_batch: unknown boolean occur", {"occ": occ}
            )
        if isinstance(child, BoolQ) and child.min_should_match:
            raise ValidationError(
                "search_batch does not support min_should_match; use "
                "index.search for msm booleans",
                {"min_should_match": child.min_should_match},
            )
        if isinstance(child, MatchNone):
            if occ == MUST:
                return None
            continue
        t = _as_term(child)
        if t is not None:
            groups.append(
                (occ, [TermQ(ast.boost * t.boost, t.field, t.term)])
            )
            continue
        members = _group_members(child) if isinstance(child, BoolQ) else None
        if members is not None:
            if not members:
                continue
            groups.append(
                (occ, [TermQ(ast.boost * m.boost, m.field, m.term)
                       for m in members])
            )
            continue
        raise ValidationError(
            "search_batch supports term / AND / OR / field-map / "
            "one-level boolean queries (fuzzy leaves included); use "
            "index.search for phrases and nested trees",
            {"clause_type": type(child).__name__},
        )
    return groups


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
    ``index.search(q, with_hit=False)`` (pinned by test).

    On a disk index with ready segments, every query runs on the
    segment kernel ``index.search`` would give it, all of them in ONE
    kernel pass; a batch holding any kernel-ineligible query, and every
    in-memory index, runs the DataFrame plan. See the module docstring.

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

    # --- normalize every query to clause groups (driver-side, tiny)
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
    per_query: dict[str, list[tuple[str, list[TermQ]]]] = {}
    for qid, ast in asts.items():
        groups = _clause_groups(index, ast)
        if groups:  # None or no groups: the query can never match
            per_query[qid] = groups

    k = results_per_page
    specs = _kernel_specs(index, {qid: asts[qid] for qid in per_query})
    if specs is None:
        top = _scored_batch(index, per_query, k)
    elif specs:
        top = _kernel_batch(index, specs, k)
    else:
        top = index.spark.createDataFrame(
            [], "query_id string, doc_id long, score double"
        )
    return _batch_hits(index, top, hit_columns) if with_hit else top


def _kernel_specs(index, asts: dict[str, Node]) -> dict | None:
    """Each query's segment-kernel spec, in query-id order: the flat
    or tree plan ``_wand_route`` gives ``index.search`` for it (the
    one-level family ``_clause_groups`` admits routes to nothing else;
    a query routed ``empty`` is left out). None — the whole batch runs
    the DataFrame plan — when any query is kernel-ineligible, including
    every query of an in-memory index or of one whose segments are not
    ready. Decided before any terms seek."""
    specs = {}
    for qid in sorted(asts):
        route = _wand_route(index, asts[qid])
        if route is None:
            return None
        kind, spec = route
        if kind != "empty":
            specs[qid] = spec
    return specs


def _kernel_batch(index, specs: dict, k: int) -> DataFrame:
    """Every spec in one kernel pass (``wand.run_specs``), merged per
    query by ``_topk_per_query`` — on one partition with no exchange.
    The kernel keys its heaps by the spec's position; ``specs`` is in
    query-id order, so the merge's order is the query-id order."""
    from lucene_clj_spark.wand import run_specs

    top = _topk_per_query(run_specs(index, list(specs.values()), k), k,
                          key="q")
    qid = F.element_at(F.array(*[F.lit(q) for q in specs]), F.col("q") + 1)
    return top.select(qid.alias("query_id"), "doc_id", "score")


def _scored_batch(index, per_query: dict, k: int) -> DataFrame:
    """The DataFrame plan: one broadcast clause relation against one
    bucket-pruned postings scan, one ``(query_id, doc_id)``
    aggregation and the bounded per-query window (module docstring)."""
    spark = index.spark
    # --- one stats lookup for the union of (field, term) pairs
    all_pairs = sorted({
        (m.field, m.term)
        for groups in per_query.values()
        for _, members in groups
        for m in members
    })
    stats = _lookup_term_stats(index, all_pairs)

    # rows: query_id, group_id, field, term, boost, occ  (+ per-term
    # df and per-field N/avgdl so scoring needs no further joins)
    rows: list[tuple] = []
    for qid, groups in per_query.items():
        q_rows: list[tuple] = []
        n_must_groups = 0
        dead = False
        for gidx, (occ, members) in enumerate(groups):
            # merge duplicate (field, term) within a group: score sum
            # is linear in boost, so SHOULD a + SHOULD a == boost 2a
            # (same merge as _scored_term_group)
            merged: dict[tuple[str, str], float] = {}
            for m in members:
                key = (m.field, m.term)
                merged[key] = merged.get(key, 0.0) + m.boost
            present = {
                k: b for k, b in merged.items() if k in stats
            }
            if occ == MUST:
                if not present:
                    dead = True  # MUST group can never match
                    break
                n_must_groups += 1
            if not present:
                continue  # vacuous SHOULD / MUST_NOT group
            for (f, t), b in present.items():
                st = index.field_stats(f)
                q_rows.append((
                    qid, gidx, f, t, float(b), occ, stats[(f, t)],
                    int(st["N"]), float(st["avgdl"]),
                ))
        if dead or not q_rows:
            continue
        rows.extend(r + (n_must_groups,) for r in q_rows)

    if not rows:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double"
        )

    local = spark.createDataFrame(
        rows,
        "query_id string, group_id int, field string, term string, "
        "boost double, occ string, df long, n_docs long, avgdl double, "
        "n_must_groups int",
    )
    fields = sorted({r[2] for r in rows})
    terms_ = sorted({r[3] for r in rows})
    scan = index.postings.filter(
        F.col("field").isin(fields) & F.col("term").isin(terms_)
    )
    scan = _bucket_pruned(index, scan, terms_)
    is_not = F.col("occ") == MUST_NOT
    scored = scan.join(F.broadcast(local), ["field", "term"]).select(
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
        F.when(F.col("occ") == MUST, F.col("group_id")).alias("__mg"),
        is_not.cast("int").alias("__not"),
        "n_must_groups",
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        _canonical_score_sum().alias("score"),
        F.countDistinct("__mg").alias("__musts"),  # nulls don't count
        F.max("__not").alias("__vetoed"),
        F.first("n_must_groups").alias("__need"),  # constant per query
    )
    matched = agg.filter(
        (F.col("__musts") == F.col("__need")) & (F.col("__vetoed") == 0)
    ).select("query_id", "doc_id", "score")
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
