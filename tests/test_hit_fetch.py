"""Stored-field fetch (search.fetch_hits), shared by search, suggest_
and search_batch: collecting a hit-bearing result runs ONE Spark job
(a doc_id-seek scan, no local relation, no join, no exchange), and
every edge case keeps its columns, schema and rows."""

import pytest

from lucene_clj_spark import create_index
from lucene_clj_spark.segments import build_segments
from tests.conftest import count_jobs, count_py4j
from tools.zipf_corpus import synthesize

FIELDS = {
    "url": "keyword",
    "text": "text",
    "lang": "keyword",
    "source": {"type": "keyword", "suggest": {"contexts_from": "lang"}},
    "n_chars": "long",
}
DOC_COLS = ["doc_id", "url", "text", "lang", "source", "n_chars"]
#: a term with more than five hits in the corpus, and a second one
HOT, WARM = "t3", "t7"


def _docs(spark):
    return synthesize(spark, 400, vocab=5_000, seed=11)


@pytest.fixture(scope="module")
def disk_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fetch") / "idx")
    idx = create_index(spark, _docs(spark), FIELDS,
                       id_column="doc_id", index_type="disk", path=path)
    build_segments(idx, n_buckets=4)
    return idx


@pytest.fixture(scope="module")
def mem_idx(spark):
    return create_index(spark, _docs(spark), FIELDS,
                        id_column="doc_id")


def _expected(idx, query, cols, **kw):
    """The hit rows rebuilt without the fetch: the scored top-k, each
    joined in Python to its stored doc."""
    hits = idx.search(query, field_name="text", with_hit=False,
                      **kw).collect()
    docs = {
        r["doc_id"]: r
        for r in idx.docs.filter(
            idx.docs.doc_id.isin([h["doc_id"] for h in hits] or [-1])
        ).collect()
    }
    return [
        (h["doc_id"], h["score"], *[docs[h["doc_id"]][c] for c in cols])
        for h in hits
    ]


@pytest.mark.parametrize("which", ["disk_idx", "mem_idx"])
def test_search_fetch_runs_one_job(spark, request, which):
    idx = request.getfixturevalue(which)
    idx.search(HOT, field_name="text").collect()  # warm the seek
    df = idx.search(HOT, field_name="text", results_per_page=5)
    jobs, rows = count_jobs(spark, df.collect)
    assert jobs == 1
    assert len(rows) == 5 and all(r["text"] for r in rows)


def test_disk_fetch_pushes_doc_id_in(disk_idx):
    df = disk_idx.search(HOT, field_name="text", results_per_page=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "In(doc_id" in pushed
    assert "Exchange" not in plan and "Join" not in plan


def test_suggest_fetch_runs_one_job(spark, disk_idx):
    prefix = disk_idx.docs.first()["source"][:1]
    disk_idx.suggest_("source", prefix).collect()
    df = disk_idx.suggest_("source", prefix, max_results=3)
    jobs, rows = count_jobs(spark, df.collect)
    assert jobs == 1
    assert df.columns[:3] == ["doc_id", "completion", "score"]
    assert rows and all(r["text"] for r in rows)


@pytest.mark.parametrize("which", ["disk_idx", "mem_idx"])
def test_fetch_empty_hits_keeps_schema(request, which):
    idx = request.getfixturevalue(which)
    df = idx.search("zzzznotaterm", field_name="text")
    assert df.collect() == []
    assert df.columns == DOC_COLS[:1] + ["score"] + DOC_COLS[1:]
    assert df.dtypes[:2] == [("doc_id", "bigint"), ("score", "double")]


@pytest.mark.parametrize("which", ["disk_idx", "mem_idx"])
def test_fetch_page_and_search_after(request, which):
    idx = request.getfixturevalue(which)
    cols = DOC_COLS[1:]
    page = idx.search(HOT, field_name="text", results_per_page=3,
                      page=1)
    want = _expected(idx, HOT, cols, results_per_page=3, page=1)
    assert len(want) == 3
    assert [tuple(r) for r in page.collect()] == want
    first = idx.search(HOT, field_name="text", results_per_page=3,
                       with_hit=False).collect()
    sa = {"score": first[-1]["score"], "doc_id": first[-1]["doc_id"]}
    after = idx.search(HOT, field_name="text", results_per_page=3,
                       search_after=sa)
    assert [tuple(r) for r in after.collect()] == _expected(
        idx, HOT, cols, results_per_page=3, search_after=sa
    )


def test_fetch_hit_columns_without_doc_id(disk_idx):
    df = disk_idx.search(HOT, field_name="text", results_per_page=4,
                         hit_columns=["lang", "text"])
    assert df.columns == ["doc_id", "score", "lang", "text"]
    assert df.dtypes[:2] == [("doc_id", "bigint"), ("score", "double")]
    assert [tuple(r) for r in df.collect()] == _expected(
        disk_idx, HOT, ["lang", "text"], results_per_page=4
    )


def test_fetch_hit_fn(spark, disk_idx):
    df = disk_idx.search(
        HOT, field_name="text", results_per_page=4,
        hit_columns=["text"],
        hit_fn=lambda d: {"n_text": len(d["text"]), "id2": d["doc_id"] * 2},
        hit_fn_schema="n_text long, id2 long",
    )
    assert df.columns == ["doc_id", "score", "n_text", "id2"]
    want = _expected(disk_idx, HOT, ["text"], results_per_page=4)
    jobs, rows = count_jobs(spark, df.collect)
    assert jobs == 1
    assert [tuple(r) for r in rows] == [
        (d, s, len(t), 2 * d) for d, s, t in want
    ]


def test_batch_fetch_after_delete(spark):
    """Every batch hit finds its doc after a delete: docs and postings
    are the same tombstone view, so the shared inner fetch keeps the
    batch's rows exactly."""
    idx = create_index(spark, _docs(spark), FIELDS,
                       id_column="doc_id")
    queries = {"a": HOT, "b": {"text": {HOT, WARM}}, "c": [HOT, WARM],
               "d": "zzzznotaterm"}
    before = idx.search_batch(queries, field_name="text",
                              results_per_page=3).collect()
    gone = before[0]["doc_id"]
    idx.delete_documents([gone])
    bare = idx.search_batch(queries, field_name="text",
                            results_per_page=3).collect()
    df = idx.search_batch(queries, field_name="text", results_per_page=3,
                          with_hit=True, hit_columns=["text"])
    assert df.columns == ["query_id", "doc_id", "score", "text"]
    assert df.dtypes[:3] == [
        ("query_id", "string"), ("doc_id", "bigint"), ("score", "double")
    ]
    jobs, rows = count_jobs(spark, df.collect)
    assert jobs == 1
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in rows] == [
        (r["query_id"], r["doc_id"], r["score"]) for r in bare
    ]
    assert gone not in {r["doc_id"] for r in rows}
    assert all(r["text"] for r in rows)


#: a kernel batch of several multi-term shapes (AND, OR set, one term)
BATCH = {
    "and": [HOT, WARM], "or": {"text": {HOT, WARM, "t5", "t9"}},
    "one": "t4", "and3": ["t3", "t5", "t11"],
    "or3": {"text": {"t6", "t8", "t12"}}, "two": ["t5", "t6"],
}


@pytest.mark.parametrize("call,parent", [
    # Py4J commands one warm call sent when each hit value, map entry
    # and IN element was its own F.lit Column (counted on this fixture)
    ("search", 1348), ("suggest", 1232), ("batch", 786),
])
def test_warm_plan_build_py4j_calls(disk_idx, call, parent):
    """A warm kernel search (10 hits, fetched), prefix suggest (with
    hits) and kernel batch build their plans from SQL text
    (``search.sql_lit``): the per-query literals cost one Py4J call per
    expression, not per element, so each call sends at most 40% of the
    commands the per-element Column plans sent."""
    prefix = disk_idx.docs.first()["source"][:1]
    fn = {
        "search": lambda: disk_idx.search(
            HOT, field_name="text", results_per_page=10).collect(),
        "suggest": lambda: disk_idx.suggest_("source", prefix).collect(),
        "batch": lambda: disk_idx.search_batch(
            BATCH, field_name="text", results_per_page=10).collect(),
    }[call]
    warm = fn()
    sent, rows = count_py4j(fn)
    assert rows == warm and len(rows) >= 10
    assert sent <= 0.4 * parent, (call, sent, parent)
