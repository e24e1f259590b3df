"""Plan literals built as SQL text (``search.sql_lit``) read back
exactly: every double bit for bit, every string byte for byte under
either setting of ``spark.sql.parser.escapedStringLiterals``, and the
engine paths that render them (the kernel's blocks scan, the over-cap
terms seek, suggest's contexts, the batch's query ids and the hit
fetch) return the rows the Column-built plans return, for values that
hold quotes and backslashes."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from lucene_clj_spark import create_index, termdict
from lucene_clj_spark.query import TermQ
from lucene_clj_spark.search import fetch_hits, sql_lit
from lucene_clj_spark.segments import build_segments
from tests.conftest import count_jobs
from tests.test_wand_segments import SF_DIR

STRINGS = ["'", "\\", "\\'", "a\tb\nc", "é漢😀", "%_", "", "\\n''\\\\"]
DOUBLES = [-0.0, 0.0, 5e-324, 1.7976931348623157e308, 1 / 3, -7.25,
           -1 / 3, 0.1, 1e16, 2.5e-310]
#: keyword values (and suggest completions) with quotes and backslashes
TAGS = ["o'brien", "back\\slash", "mix\\'d", "plain", "q''\\\\"]
LANGS = ["it's", "c:\\dir", "en"]


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


@pytest.fixture(params=["false", "true"])
def escaped(request, spark):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


def test_sql_lit_round_trips_exactly(spark, escaped):
    row = spark.range(1).selectExpr(
        *[f"{sql_lit(s, 'string')} AS s{i}" for i, s in enumerate(STRINGS)],
        *[f"{sql_lit(x, 'double')} AS d{i}" for i, x in enumerate(DOUBLES)],
        *[f"{sql_lit(x, 'double')} AS e{i}"
          for i, x in enumerate([math.inf, -math.inf, math.nan])],
        f"{sql_lit(-(2**63), 'long')} AS l0",
        f"{sql_lit(2**63 - 1, 'long')} AS l1",
        f"{sql_lit(None, 'double')} AS n0",
        f"{sql_lit(None, 'string')} AS n1",
    ).first()
    assert [row[f"s{i}"] for i in range(len(STRINGS))] == STRINGS
    assert [_bits(row[f"d{i}"]) for i in range(len(DOUBLES))] == [
        _bits(x) for x in DOUBLES
    ]
    assert row["e0"] == math.inf and row["e1"] == -math.inf
    assert math.isnan(row["e2"])
    assert (row["l0"], row["l1"]) == (-(2**63), 2**63 - 1)
    assert row["n0"] is None and row["n1"] is None
    types = dict(spark.range(1).selectExpr(
        f"{sql_lit(1.0, 'double')} AS d", f"{sql_lit(1, 'long')} AS l",
        f"{sql_lit('x', 'string')} AS s",
    ).dtypes)
    assert types == {"d": "double", "l": "bigint", "s": "string"}


def test_sql_lit_matches_column_literals(spark, escaped):
    """The SQL text reads back what ``F.lit(..).cast(..)`` builds."""
    vals = [(s, "string") for s in STRINGS] + [(x, "double")
                                               for x in DOUBLES]
    got = spark.range(1).selectExpr(
        *[f"{sql_lit(v, t)} AS c{i}" for i, (v, t) in enumerate(vals)]
    ).first()
    want = spark.range(1).select(
        *[F.lit(v).cast(t).alias(f"c{i}") for i, (v, t) in enumerate(vals)]
    ).first()
    assert [repr(x) for x in got] == [repr(x) for x in want]


@pytest.fixture(scope="module")
def quoted_idx(spark, tmp_path_factory):
    """A disk index with segments whose keyword values, suggest
    completions and suggest contexts hold quotes and backslashes."""
    rows = [
        (i, f"w{i % 5} w{i % 7} common", TAGS[i % len(TAGS)],
         LANGS[i % len(LANGS)])
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, tag string, lang string")
    idx = create_index(
        spark, docs,
        {"text": "text", "lang": "keyword",
         "tag": {"type": "keyword", "suggest": {"contexts_from": "lang"}}},
        id_column="doc_id", index_type="disk",
        path=str(tmp_path_factory.mktemp("quoted") / "idx"),
    )
    build_segments(idx, n_buckets=4, chunk_span=16, block_size=4)
    return idx


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _searches(idx):
    """Kernel searches over quoted keyword terms, alone and in a
    boolean with a text term, with their fetched hits."""
    out = {}
    for tag in TAGS:
        q = TermQ(1.0, "tag", tag)
        out[tag] = _rows(idx.search(q, strategy="wand",
                                    results_per_page=8))
        out[tag, "bool"] = _rows(idx.search(
            {"tag": {tag}, "text": {"w1"}}, strategy="wand",
            results_per_page=8))
    return out


def test_kernel_keyword_terms_with_quotes(quoted_idx):
    """A keyword TermQ whose term holds a quote or backslash runs the
    segment kernel (its blocks scan filters and maps that term as SQL
    text) and returns the DataFrame plan's rows, unrounded."""
    got = _searches(quoted_idx)
    for tag in TAGS:
        want = quoted_idx.search(TermQ(1.0, "tag", tag),
                                 strategy="dataframe",
                                 results_per_page=8).collect()
        assert want and got[tag] == [tuple(r) for r in want]
        assert {r["tag"] for r in want} == {tag}
        assert got[tag, "bool"] == _rows(quoted_idx.search(
            {"tag": {tag}, "text": {"w1"}}, strategy="dataframe",
            results_per_page=8))


def test_over_cap_terms_seek_with_quotes(quoted_idx, monkeypatch):
    """Over ``termdict.DICT_MAX_TERMS`` the terms seek and the bucket
    filter run in Spark on the SQL predicates; the quoted terms score
    as under the loaded dictionary."""
    loaded = _searches(quoted_idx)
    monkeypatch.setattr(termdict, "DICT_MAX_TERMS", 0)
    quoted_idx._drop_term_dict()
    try:
        assert _searches(quoted_idx) == loaded
        assert termdict.term_dict(quoted_idx).fields is None
    finally:
        quoted_idx._drop_term_dict()


def test_suggest_contexts_and_completions_with_quotes(quoted_idx):
    """Contexts holding quotes and backslashes filter as the docs'
    contexts say, and the fetched completions come back verbatim."""
    every = quoted_idx.suggest_("tag", "", max_results=100,
                                with_hit=False).collect()
    lang = {r["doc_id"]: r["lang"] for r in quoted_idx.docs.collect()}
    for ctx in (["it's"], ["c:\\dir"], ["it's", "c:\\dir"]):
        for prefix in ("o'", "mix\\", "q'"):
            want = [(r["doc_id"], r["completion"], r["score"])
                    for r in every
                    if r["completion"].startswith(prefix)
                    and lang[r["doc_id"]] in ctx]
            got = quoted_idx.suggest_("tag", prefix, contexts=ctx,
                                      max_results=100).collect()
            assert want
            assert [(r["doc_id"], r["completion"], r["score"])
                    for r in got] == want
            assert all(r["tag"] == r["completion"] for r in got)


def test_batch_query_ids_with_quotes(quoted_idx):
    """Query ids with quotes and backslashes come back verbatim from
    the kernel batch, each with its query's index.search rows, and
    survive the hit fetch."""
    queries = {tag + "'id\\": tag for tag in TAGS}
    rows = quoted_idx.search_batch(
        {q: TermQ(1.0, "tag", t) for q, t in queries.items()},
        results_per_page=5).collect()
    assert {r["query_id"] for r in rows} == set(queries)
    for qid, tag in queries.items():
        assert [(r["doc_id"], r["score"]) for r in rows
                if r["query_id"] == qid] == _rows(quoted_idx.search(
                    TermQ(1.0, "tag", tag), strategy="dataframe",
                    results_per_page=5, with_hit=False))
    fetched = quoted_idx.search_batch(
        {q: TermQ(1.0, "tag", t) for q, t in queries.items()},
        results_per_page=5, with_hit=True, hit_columns=["tag"]).collect()
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in fetched] == [
        (r["query_id"], r["doc_id"], r["score"]) for r in rows]
    assert all(r["tag"] == queries[r["query_id"]] for r in fetched)


def test_fetch_of_the_whole_corpus(spark):
    """One fetch whose hit list is every sf0.01 doc, each hit carrying
    an exact negative, subnormal or signed-zero score and a string with
    a quote and a backslash: one job, every row as the Python join of
    the hits to their docs says."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       ignore_extra_columns=True)
    stored = {r["doc_id"]: r["text"] for r in idx.docs.collect()}
    assert len(stored) >= 500
    hits = [
        {"doc_id": d, "score": DOUBLES[d % len(DOUBLES)] - d / 3,
         "tag": f"d'{d}\\" if d % 3 else None}
        for d in sorted(stored)
    ]
    hits[0]["score"] = -0.0
    hits[1]["score"] = 5e-324
    df = fetch_hits(
        idx, hits,
        [("doc_id", "long"), ("tag", "string"), ("score", "double")],
        [F.asc("doc_id")], ["text"])
    jobs, rows = count_jobs(spark, df.collect)
    assert jobs == 1
    assert df.dtypes == [("doc_id", "bigint"), ("tag", "string"),
                         ("score", "double"), ("text", "string")]
    assert [(r["doc_id"], r["tag"], _bits(r["score"]), r["text"])
            for r in rows] == [
        (h["doc_id"], h["tag"], _bits(h["score"]), stored[h["doc_id"]])
        for h in hits
    ]
