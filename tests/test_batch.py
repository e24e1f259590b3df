"""search_batch: M queries in one job, result-identical per query to
index.search. Each shape in the supported one-level family is pinned
against the single-query path on the reference sample corpus, on both
plans: the DataFrame plan (in-memory index) and the one-pass segment
kernel (the same corpus as a disk index with segments)."""

from __future__ import annotations

import pytest

from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.query import parse_dsl


def _hits(df):
    return [
        (r["doc_id"], round(r["score"], 6))
        for r in df.orderBy(df.score.desc(), df.doc_id.asc()).collect()
    ]


def _batch_hits(df, qid):
    rows = [r for r in df.collect() if r["query_id"] == qid]
    rows.sort(key=lambda r: (-r["score"], r["doc_id"]))
    return [(r["doc_id"], round(r["score"], 6)) for r in rows]


SHAPES = {
    "term": ("antics", {"field_name": "bio"}),
    "and_pair": (["strong", "antics"], {"field_name": "bio"}),
    "or_set": ({"bio": {"strong", "peace", "antics"}}, {}),
    "multi_field": ({"bio": "antics", "gender": "m"}, {}),
}


def test_batch_matches_single_query_per_shape(sample_index):
    queries = {qid: q for qid, (q, _) in SHAPES.items()}
    # field_name applies batch-wide; the shapes that need it are
    # strings/lists, the rest carry their own fields
    out = sample_index.search_batch(
        queries, field_name="bio", results_per_page=10
    )
    assert out.columns == ["query_id", "doc_id", "score"]
    for qid, (q, opts) in SHAPES.items():
        single = sample_index.search(
            q, results_per_page=10, with_hit=False, **opts
        )
        assert _batch_hits(out, qid) == _hits(single), qid


def test_batch_fuzzy_matches_single(sample_index):
    out = sample_index.search_batch(
        {"fz": {"bio": "stron"}}, fuzzy=True, results_per_page=10
    )
    single = sample_index.search(
        {"bio": "stron"}, fuzzy=True, results_per_page=10, with_hit=False
    )
    assert _batch_hits(out, "fz") == _hits(single)


def test_batch_dsl_not_and_groups(sample_index):
    dsl = "(strong OR peace) NOT kryptonite"
    node = parse_dsl(dsl, "bio", sample_index.specs, sample_index.analyzers)
    out = sample_index.search_batch({"q": node}, results_per_page=10)
    single = sample_index.search(node, results_per_page=10, with_hit=False)
    assert _batch_hits(out, "q") == _hits(single)
    assert len(_batch_hits(out, "q")) > 0


def test_batch_boost_rides(sample_index):
    node = parse_dsl(
        "strong^3 antics", "bio", sample_index.specs,
        sample_index.analyzers,
    )
    out = sample_index.search_batch({"b": node}, results_per_page=10)
    single = sample_index.search(node, results_per_page=10, with_hit=False)
    assert _batch_hits(out, "b") == _hits(single)


def test_missing_must_term_empties_only_that_query(sample_index):
    out = sample_index.search_batch(
        {
            "dead": ["antics", "zzzznotaword"],
            "alive": "antics",
        },
        field_name="bio",
    )
    assert _batch_hits(out, "dead") == []
    assert _batch_hits(out, "alive") == _hits(
        sample_index.search("antics", field_name="bio", with_hit=False)
    )


def test_missing_should_term_is_dropped_not_fatal(sample_index):
    out = sample_index.search_batch(
        {"q": {"bio": {"antics", "zzzznotaword"}}}
    )
    single = sample_index.search(
        {"bio": {"antics"}}, with_hit=False
    )
    assert _batch_hits(out, "q") == _hits(single)


def test_batch_k_bounds_each_query(sample_index):
    out = sample_index.search_batch(
        {"a": "antics", "b": {"bio": {"strong", "love"}}},
        field_name="bio", results_per_page=2,
    )
    assert len(_batch_hits(out, "a")) == 2
    assert len(_batch_hits(out, "b")) == 2


def test_batch_with_hit_fetches_stored_columns(sample_index):
    out = sample_index.search_batch(
        {"q": "antics"}, field_name="bio", with_hit=True,
        hit_columns=["first_name", "last_name"],
    )
    rows = out.collect()
    assert out.columns == [
        "query_id", "doc_id", "score", "first_name", "last_name"
    ]
    assert all(r["first_name"] for r in rows)


def test_batch_rejects_phrase_and_empty(sample_index):
    with pytest.raises(ValidationError):
        sample_index.search_batch({"p": "wonderful innocent"},
                                  field_name="bio")
    with pytest.raises(ValidationError):
        sample_index.search_batch({})


def test_batch_df_matches_dict_variant(sample_index, spark):
    """search_batch_df on the explicit clause relation == search_batch
    on the equivalent query dict (singleton clauses)."""
    node = parse_dsl(
        "(strong OR peace) NOT kryptonite", "bio",
        sample_index.specs, sample_index.analyzers,
    )
    dict_out = sample_index.search_batch(
        {
            "and2": ["strong", "antics"],
            "or3": {"bio": {"strong", "peace", "antics"}},
            "term": "antics",
            "notq": node,
        },
        field_name="bio",
    )
    rows = [
        ("and2", "bio", "strong", 1.0, "MUST"),
        ("and2", "bio", "antics", 1.0, "MUST"),
        ("or3", "bio", "strong", 1.0, "SHOULD"),
        ("or3", "bio", "peace", 1.0, "SHOULD"),
        ("or3", "bio", "antics", 1.0, "SHOULD"),
        ("term", "bio", "antics", 1.0, "SHOULD"),
        ("notq", "bio", "strong", 1.0, "SHOULD"),
        ("notq", "bio", "peace", 1.0, "SHOULD"),
        ("notq", "bio", "kryptonite", 1.0, "MUST_NOT"),
    ]
    qdf = spark.createDataFrame(
        rows, "query_id string, field string, term string, "
        "boost double, occ string",
    )
    df_out = sample_index.search_batch_df(qdf)
    for qid in ("and2", "or3", "term", "notq"):
        assert _batch_hits(df_out, qid) == _batch_hits(dict_out, qid), qid


def test_batch_df_missing_must_empties_query(sample_index, spark):
    qdf = spark.createDataFrame(
        [("dead", "bio", "antics"), ("dead", "bio", "zzqqnotaword"),
         ("alive", "bio", "antics")],
        "query_id string, field string, term string",
    )  # no boost/occ columns: defaults SHOULD... but force MUST:
    from pyspark.sql import functions as F

    qdf = qdf.withColumn(
        "occ",
        F.when(F.col("query_id") == "dead", "MUST").otherwise("SHOULD"),
    )
    out = sample_index.search_batch_df(qdf)
    assert _batch_hits(out, "dead") == []
    assert _batch_hits(out, "alive") == _hits(
        sample_index.search("antics", field_name="bio", with_hit=False)
    )


def test_batch_df_default_columns(sample_index, spark):
    qdf = spark.createDataFrame(
        [("q", "bio", "antics")],
        "query_id string, field string, term string",
    )
    out = sample_index.search_batch_df(qdf)
    assert _batch_hits(out, "q") == _hits(
        sample_index.search("antics", field_name="bio", with_hit=False)
    )


def test_batch_df_validates_columns(sample_index, spark):
    qdf = spark.createDataFrame([("q", "antics")],
                                "query_id string, term string")
    with pytest.raises(ValidationError):
        sample_index.search_batch_df(qdf)


def test_batch_df_rejects_malformed_occ(sample_index, spark):
    qdf = spark.createDataFrame(
        [("q", "bio", "antics", "SHULD")],
        "query_id string, field string, term string, occ string",
    )
    with pytest.raises(ValidationError):
        sample_index.search_batch_df(qdf)


def _rarest_terms(index, doc_id, field, n):
    from pyspark.sql import functions as F

    doc_terms = {
        r["term"]
        for r in index.postings.filter(
            (F.col("field") == field) & (F.col("doc_id") == doc_id)
        ).select("term").collect()
    }
    stats = index.terms.filter(
        (F.col("field") == field) & F.col("term").isin(list(doc_terms))
    ).select("term", "df").collect()
    ranked = sorted(stats, key=lambda r: (r["df"], r["term"]))
    return [r["term"] for r in ranked[:n]]


def test_more_like_this_matches_or_query(sample_index):
    """MLT for one doc == an OR query over that doc's n rarest terms,
    with the self-match dropped."""
    terms = _rarest_terms(sample_index, 0, "bio", 5)
    expected = [
        h for h in _hits(
            sample_index.search({"bio": set(terms)}, with_hit=False,
                                results_per_page=13)
        ) if h[0] != 0
    ][:3]
    mlt = sample_index.more_like_this(
        "bio", top_terms=5, results_per_page=3
    )
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in mlt.collect() if r["query_doc_id"] == 0
    ]
    assert got == expected


def test_more_like_this_no_self_by_default(sample_index):
    mlt = sample_index.more_like_this("bio", top_terms=5).collect()
    assert mlt and all(r["query_doc_id"] != r["doc_id"] for r in mlt)
    with_self = sample_index.more_like_this(
        "bio", top_terms=5, include_self=True
    ).collect()
    # every doc's own terms match itself; with include_self the self
    # row exists and is that doc's best hit
    best = {}
    for r in with_self:
        q = r["query_doc_id"]
        if q not in best or (-r["score"], r["doc_id"]) < best[q][0]:
            best[q] = ((-r["score"], r["doc_id"]), r["doc_id"])
    assert all(doc == q for q, (_, doc) in best.items())


def test_more_like_this_max_df(sample_index):
    """max_df=1 restricts query terms to hapaxes: every returned
    score must then come from terms no other doc shares... meaning NO
    matches at all (a df-1 term exists in exactly one doc — the query
    doc itself, which is excluded)."""
    mlt = sample_index.more_like_this("bio", top_terms=5, max_df=1)
    assert mlt.count() == 0


def test_duplicated_docs_score_bit_identically(spark):
    """Canonical-order score summation: verbatim copies of a doc must
    receive BIT-identical batch/MLT scores regardless of partition
    arrival order — plain F.sum adds in arrival order and IEEE
    addition is not associative, which broke top-k tie selection on
    the 320x-duplicated sf1 corpus (copies 1 ulp apart)."""
    from pyspark.sql import functions as F

    from lucene_clj_spark import create_index
    from tests.conftest import SAMPLE_COLUMNS, SAMPLE_ROWS

    copies = 64
    rows = [
        (i + c * len(SAMPLE_ROWS), *r)
        for c in range(copies)
        for i, r in enumerate(SAMPLE_ROWS)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id"] + SAMPLE_COLUMNS
    ).repartition(8)
    idx = create_index(
        spark, df.select("doc_id", "bio"), {"bio": "text"},
        id_column="doc_id",
    )
    out = idx.search_batch(
        {"q": {"bio": {"strong", "antics", "love", "peace", "soul"}}},
        results_per_page=13 * copies,
    ).collect()
    by_base = {}
    for r in out:
        by_base.setdefault(r["doc_id"] % 13, set()).add(r["score"])
    # every copy family collapses to ONE full-precision score
    assert by_base and all(len(s) == 1 for s in by_base.values()), {
        k: len(v) for k, v in by_base.items()
    }
    mlt = idx.more_like_this(
        "bio", doc_ids=range(13), top_terms=5,
        results_per_page=13 * copies, include_self=True,
    ).collect()
    per_q = {}
    for r in mlt:
        per_q.setdefault(
            (r["query_doc_id"], r["doc_id"] % 13), set()
        ).add(r["score"])
    assert per_q and all(len(s) == 1 for s in per_q.values())


def test_batch_plan_shape(sample_index):
    """ONE postings scan serves the whole batch (not one per query),
    and the per-query top-k is map-side bounded: Spark compiles the
    row_number window with WindowGroupLimit Partial BEFORE the
    query_id exchange, so a wide-matching query forwards at most
    k * n_partitions rows into the shuffle."""
    import re

    out = sample_index.search_batch(
        {f"q{i}": {"bio": {"strong", "antics"}} for i in range(8)}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(
        r"InMemoryTableScan|Scan parquet|LocalTableScan", plan
    ))
    assert scans == 1, plan
    assert plan.count("WindowGroupLimit") == 2, plan  # Partial + Final


def _exact(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _batch_exact(df, qid):
    return [(r["doc_id"], r["score"]) for r in df.collect()
            if r["query_id"] == qid]


@pytest.mark.parametrize("dsl", ["antics^1.1 +antics^2.3",
                                 "love^0.1 love^0.2 peace"])
def test_batch_flat_duplicate_pairs_bit_identical(sample_index, dsl):
    """Duplicate (field, term) pairs of a flat boolean merge across the
    whole query (summed boost, MUST if any occurrence is), as in
    index.search — compared unrounded."""
    node = parse_dsl(dsl, "bio", sample_index.specs, sample_index.analyzers)
    out = sample_index.search_batch({"q": node}, results_per_page=13)
    want = _exact(sample_index.search(node, results_per_page=13,
                                      with_hit=False))
    assert want
    assert _batch_exact(out, "q") == want


def test_batch_rejects_colliding_query_ids(sample_index):
    with pytest.raises(ValidationError, match="'1'") as err:
        sample_index.search_batch({1: "antics", "1": "peace"},
                                  field_name="bio")
    assert err.value.data == {"query_id": "1"}


# --- the segment-kernel route: a disk index with ready segments ------

SEG_FIELDS = {"first_name": "text", "last_name": "text", "gender": "text",
              "bio": "text"}


def _seg_index(spark, path):
    from lucene_clj_spark import create_index
    from lucene_clj_spark.segments import build_segments
    from tests.conftest import SAMPLE_COLUMNS, SAMPLE_ROWS

    rows = [(i, *r) for i, r in enumerate(SAMPLE_ROWS)]
    idx = create_index(
        spark, spark.createDataFrame(rows, ["doc_id"] + SAMPLE_COLUMNS),
        SEG_FIELDS, id_column="doc_id", path=path, index_type="disk",
        re_create=True, ignore_extra_columns=True,
    )
    # tiny chunks and blocks: several chunks per term at 13 docs
    build_segments(idx, n_buckets=2, chunk_span=4, block_size=2)
    return idx


@pytest.fixture(scope="module")
def seg_sample(spark, tmp_path_factory):
    return _seg_index(spark, str(tmp_path_factory.mktemp("bseg") / "idx"))


def _kernel_shapes(index):
    dsl = lambda s: parse_dsl(s, "bio", index.specs,  # noqa: E731
                              index.analyzers)
    return {
        "term": "antics",
        "and_pair": ["strong", "antics"],
        "or_set": {"bio": {"strong", "peace", "antics"}},
        "multi_field": {"bio": "antics", "gender": "m"},
        "not_group": dsl("(strong OR peace) NOT kryptonite"),
        "boost": dsl("strong^3 antics"),
        "dup_must": dsl("antics^1.1 +antics^2.3"),
        "dup_should": dsl("love^0.1 love^0.2 peace"),
        "missing_must": ["antics", "zzzznotaword"],
        "missing_should": {"bio": {"antics", "zzzznotaword"}},
    }


def _assert_kernel_parity(index, out, queries, k, **opts):
    """Every query's batch rows equal index.search on the DataFrame
    plan, unrounded and in order."""
    for qid, q in queries.items():
        want = _exact(index.search(q, results_per_page=k, with_hit=False,
                                   strategy="dataframe", **opts))
        assert _batch_exact(out, qid) == want, qid


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_batch_kernel_matches_search_per_shape(seg_sample):
    queries = _kernel_shapes(seg_sample)
    out = seg_sample.search_batch(queries, field_name="bio",
                                  results_per_page=10)
    assert out.columns == ["query_id", "doc_id", "score"]
    assert "MapInPandas" in _plan(out)
    _assert_kernel_parity(seg_sample, out, queries, 10, field_name="bio")
    assert _batch_exact(out, "missing_must") == []
    assert _batch_exact(out, "not_group")


def test_batch_kernel_fuzzy_and_k_bound(seg_sample):
    fz = {"fz": {"bio": "stron"}, "none": {"bio": "qqqqqqqq"}}
    out = seg_sample.search_batch(fz, fuzzy=True, results_per_page=10)
    assert "MapInPandas" in _plan(out)
    _assert_kernel_parity(seg_sample, out, fz, 10, fuzzy=True)
    assert _batch_exact(out, "fz") and not _batch_exact(out, "none")
    qs = {"a": "antics", "b": {"bio": {"strong", "love"}}}
    out = seg_sample.search_batch(qs, field_name="bio", results_per_page=2)
    assert [len(_batch_exact(out, q)) for q in qs] == [2, 2]
    _assert_kernel_parity(seg_sample, out, qs, 2, field_name="bio")


def test_batch_kernel_with_hit(seg_sample):
    out = seg_sample.search_batch(
        {"q": "antics", "r": "peace"}, field_name="bio", with_hit=True,
        hit_columns=["first_name", "last_name"],
    )
    assert out.columns == [
        "query_id", "doc_id", "score", "first_name", "last_name"
    ]
    rows = out.collect()
    assert [r["query_id"] for r in rows] == sorted(
        r["query_id"] for r in rows)
    for qid, term in (("q", "antics"), ("r", "peace")):
        want = seg_sample.search(term, field_name="bio",
                                 strategy="dataframe",
                                 hit_columns=["first_name", "last_name"])
        assert [tuple(r)[1:] for r in rows if r["query_id"] == qid] == [
            tuple(r) for r in want.collect()
        ]


def test_batch_kernel_job_floor(spark, seg_sample):
    """A batch of term/AND/OR queries: cold, the terms seek plus ONE
    kernel job; warm, building the plan runs no job, collecting it one,
    and the plan holds no exchange (one partition, no broadcast)."""
    from tests.conftest import count_jobs

    qs = {"t": "antics", "a": ["strong", "antics"],
          "o": {"bio": {"peace", "love", "soul"}}}
    seg_sample.search("hero", field_name="bio", with_hit=False).collect()
    seg_sample._seg_term_cache.clear()  # every pair needs the seek again
    jobs, cold = count_jobs(spark, lambda: seg_sample.search_batch(
        qs, field_name="bio").collect())
    assert jobs <= 2
    jobs, df = count_jobs(spark, lambda: seg_sample.search_batch(
        qs, field_name="bio"))
    assert jobs == 0
    plan = _plan(df)
    assert "Exchange" not in plan and "Broadcast" not in plan
    jobs, warm = count_jobs(spark, df.collect)
    assert jobs == 1
    assert warm == cold and {r["query_id"] for r in warm} == set(qs)


@pytest.mark.parametrize("mass", [0, 10**12])
def test_batch_kernel_parity_across_mass_constant(seg_sample, monkeypatch,
                                                  mass):
    """Range-partitioned (constant 0) and one-partition batches both
    match the DataFrame plan bit for bit."""
    from lucene_clj_spark import wand

    monkeypatch.setattr(wand, "SINGLE_PARTITION_MASS", mass)
    queries = _kernel_shapes(seg_sample)
    out = seg_sample.search_batch(queries, field_name="bio",
                                  results_per_page=10)
    assert ("rangepartitioning" in _plan(out).lower()) == (mass == 0)
    _assert_kernel_parity(seg_sample, out, queries, 10, field_name="bio")


def test_batch_kernel_never_returns_tombstoned(spark, tmp_path):
    idx = _seg_index(spark, str(tmp_path / "idx"))
    idx.delete_documents([4, 6])
    qs = {"or": {"bio": {"strong", "antics", "peace"}}, "t": "love",
          "and": ["strong", "antics"]}
    out = idx.search_batch(qs, field_name="bio", results_per_page=13)
    assert "MapInPandas" in _plan(out)
    assert {r["doc_id"] for r in out.collect()}.isdisjoint({4, 6})
    _assert_kernel_parity(idx, out, qs, 13, field_name="bio")


def test_batch_incomplete_segments_fall_back(spark, tmp_path):
    """Segments left incomplete by an interrupted build: the batch runs
    the DataFrame plan instead of raising or serving a partial top-k."""
    import os
    import shutil

    path = str(tmp_path / "idx")
    idx = _seg_index(spark, path)
    qs = {"or": {"bio": {"strong", "antics", "peace"}}, "t": "love"}
    complete = idx.search_batch(qs, field_name="bio").collect()
    os.remove(os.path.join(path, "manifests", "bucket_1.json"))
    shutil.rmtree(os.path.join(path, "segments", "bucket=1"))
    out = idx.search_batch(qs, field_name="bio")
    assert "MapInPandas" not in _plan(out)
    assert out.collect() == complete


def test_rows_by_query_visits_only_present_keys():
    """Each query gets exactly its own keys' rows of a chunk, in fkey
    order; a query none of whose keys occur in the chunk gets nothing,
    and keys no query reads are dropped."""
    import pandas as pd

    from lucene_clj_spark.wand import _rows_by_query

    chunk = pd.DataFrame({"fkey": ["b", "a", "c", "b", "z"],
                          "i": [0, 1, 2, 3, 4]})
    by_key = {"a": [0, 2], "b": [2], "c": [1], "d": [3]}
    got = {q: rows["i"].tolist() for q, rows in _rows_by_query(chunk, by_key)}
    assert got == {0: [1], 1: [2], 2: [1, 0, 3]}


def test_bucket_filter_flat_for_thousands_of_terms(seg_sample):
    """A large batch scans thousands of distinct terms at once: the
    bucket predicate plans without overflowing the JVM stack, still
    prunes bucket directories, and keeps exactly the terms' rows."""
    from pyspark.sql import functions as F

    from lucene_clj_spark.search import bucket_filter

    terms = ["antics", "peace"] + [f"zz{i}" for i in range(3000)]
    post = seg_sample.postings
    pruned = post.filter(F.col("term").isin(terms)).filter(
        bucket_filter(terms, seg_sample.n_buckets()))
    plan = _plan(pruned)
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:300]
    key = ["field", "term", "doc_id"]
    assert sorted(pruned.select(*key).collect()) == sorted(
        post.filter(F.col("term").isin(terms)).select(*key).collect())
