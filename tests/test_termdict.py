"""The driver-resident term dictionary (termdict.py): its vectorized
Damerau DP equals the scalar metric, its candidate scan equals the kept
Spark UDF scan row for row (tie order included, non-ASCII terms in
code-point order), the whole engine answers alike under and over
``DICT_MAX_TERMS``, and every fuzzy route and spell_suggest validate
their arguments."""

from __future__ import annotations

import random

import pytest

from lucene_clj_spark import create_index, termdict
from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.fuzzy import (
    damerau_levenshtein,
    damerau_levenshtein_many,
)
from lucene_clj_spark.query import MUST, SHOULD, BoolQ, FuzzyQ, TermQ
from lucene_clj_spark.search import _fuzzy_expansions
from lucene_clj_spark.segments import build_segments
from lucene_clj_spark.termdict import _spark_candidates, term_dict
from tests.test_wand_segments import SF_DIR


@pytest.fixture(scope="module")
def sf_index(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang")
    idx = create_index(
        spark, docs, {"text": "text", "lang": "keyword"},
        id_column="doc_id", index_type="disk", re_create=True,
        path=str(tmp_path_factory.mktemp("termdict") / "idx"),
    )
    build_segments(idx, n_buckets=4, chunk_span=64, block_size=16)
    return idx


@pytest.fixture(params=["loaded", "over_cap"])
def cap(request, monkeypatch, sf_index):
    """The dictionary loaded on the driver, or over the cap (every
    lookup in Spark), as SINGLE_PARTITION_MASS is varied in
    test_batch_kernel_parity_across_mass_constant."""
    if request.param == "over_cap":
        monkeypatch.setattr(termdict, "DICT_MAX_TERMS", 0)
    sf_index._drop_term_dict()
    yield request.param
    sf_index._drop_term_dict()


def _typo(rng: random.Random, word: str) -> str:
    i = rng.randrange(len(word))
    op = rng.choice(["ins", "del", "sub", "swap"])
    c = rng.choice("aeioustrn")
    if op == "ins":
        return word[:i] + c + word[i:]
    if op == "del" and len(word) > 2:
        return word[:i] + word[i + 1:]
    if op == "swap" and i + 1 < len(word):
        return word[:i] + word[i + 1] + word[i] + word[i + 2:]
    return word[:i] + c + word[i + 1:]


def _typos(idx, n=8, seed=11):
    vocab = sorted(
        r["term"] for r in idx.terms.filter("field = 'text'").collect()
        if len(r["term"]) >= 4
    )
    rng = random.Random(seed)
    return [_typo(rng, rng.choice(vocab)) for _ in range(n)]


def test_damerau_many_matches_scalar():
    rng = random.Random(7)
    alphabet = "abcdéￚ\U0001f600"
    for _ in range(400):
        q = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        cands = ["".join(rng.choice(alphabet)
                         for _ in range(rng.randint(0, 9)))
                 for _ in range(rng.randint(0, 25))]
        assert damerau_levenshtein_many(q, cands).tolist() == [
            damerau_levenshtein(q, t) for t in cands], (q, cands)


def test_spell_and_fuzzy_match_spark_udf_path(sf_index, cap):
    """spell_suggest and fuzzy expansion equal the Spark UDF scan,
    exactly and in order, over seeded random typos of the sf0.01
    vocabulary; over the cap they ARE that scan."""
    idx = sf_index
    dfs = {r["term"]: r["df"]
           for r in idx.terms.filter("field = 'text'").collect()}
    for typo in _typos(idx):
        df_q = dfs.get(typo, 0)
        for edits, prefix in ((2, 1), (1, 0), (2, 0)):
            got = [tuple(r) for r in idx.spell_suggest(
                "text", typo, max_edits=edits, prefix_length=prefix,
                max_query_frequency=1.0).collect()]
            want = _spark_candidates(idx, "text", typo, edits, prefix, 5,
                                     True, df_q, 0.5)
            assert got == want, (typo, edits, prefix)
        for edits, prefix, cap_n in ((2, 0, 50), (1, 1, 50), (2, 2, 3),
                                     (0, 0, 50)):
            got = _fuzzy_expansions(
                idx, FuzzyQ(1.0, "text", typo, edits, prefix, cap_n))
            want = _spark_candidates(idx, "text", typo, edits, prefix,
                                     cap_n, False, 0, None)
            assert got == want, (typo, edits, prefix, cap_n)
    assert (term_dict(idx).fields is None) == (cap == "over_cap")


def test_non_ascii_ties_in_code_point_order(spark, monkeypatch):
    """Equal score and df: the term order is code-point order (= UTF-8
    byte order, Spark's string order), not UTF-16 order, on both
    paths: U+FFDA sorts before U+1F600 although its UTF-16 unit is
    larger than the surrogate's."""
    tags = ["zb", "\U0001f600b", "éb", "ￚb", "yb", "xc"]
    df = spark.createDataFrame(list(enumerate(tags)), ["doc_id", "tag"])
    idx = create_index(spark, df, {"tag": "keyword"}, id_column="doc_id")
    want = [("xc", 1, 0.5), ("yb", 1, 0.5), ("zb", 1, 0.5),
            ("éb", 1, 0.5), ("ￚb", 1, 0.5), ("\U0001f600b", 1, 0.5)]
    assert _spark_candidates(idx, "tag", "xb", 1, 0, 6, True, 0,
                             0.5) == want
    for over_cap in (False, True):
        if over_cap:
            monkeypatch.setattr(termdict, "DICT_MAX_TERMS", 0)
        idx._drop_term_dict()
        got = [tuple(r) for r in idx.spell_suggest(
            "tag", "xb", k=6, max_edits=1, prefix_length=0,
            max_query_frequency=1.0).collect()]
        assert got == want
        assert _fuzzy_expansions(
            idx, FuzzyQ(1.0, "tag", "xb", 1, 0, 50)) == want
        assert (term_dict(idx).fields is None) == over_cap


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _searches(idx, typo):
    queries = {
        "fz": FuzzyQ(1.0, "text", typo),
        "bool": BoolQ(1.0, ((SHOULD, FuzzyQ(1.0, "text", typo, 1)),
                            (MUST, TermQ(1.0, "text", "the")))),
        "term": TermQ(1.0, "text", "data"),
    }
    out = {
        (name, strategy): _rows(idx.search(
            q, results_per_page=10, with_hit=False, strategy=strategy))
        for name, q in queries.items()
        for strategy in ("auto", "dataframe")
    }
    out["batch"] = sorted(_rows(idx.search_batch(
        queries, field_name="text", results_per_page=10)))
    return out


def test_searches_alike_under_and_over_cap(sf_index, monkeypatch):
    """Seeks, bucket filters and expansions served by the loaded
    dictionary or by Spark give the same rows, bit for bit: kernel and
    DataFrame fuzzy, a boolean with a fuzzy clause, a term, a batch."""
    typo = _typos(sf_index, n=1, seed=5)[0]
    sf_index._drop_term_dict()
    loaded = _searches(sf_index, typo)
    assert term_dict(sf_index).fields is not None
    assert loaded["fz", "auto"] and loaded["bool", "auto"]
    monkeypatch.setattr(termdict, "DICT_MAX_TERMS", 0)
    sf_index._drop_term_dict()
    try:
        assert _searches(sf_index, typo) == loaded
        assert term_dict(sf_index).fields is None
    finally:
        sf_index._drop_term_dict()


@pytest.mark.parametrize("bad", [
    {"max_edits": 3}, {"max_edits": -1}, {"prefix_length": -1},
    {"max_expansions": 0},
])
def test_fuzzy_bounds_raise_on_every_route(sf_index, bad):
    """FuzzyQuery's constructor bounds, checked at the one entry every
    fuzzy path takes: the DataFrame plan, a boolean's rewrite, the
    kernel router and search_batch all raise."""
    fz = FuzzyQ(1.0, "text", "dta", **{
        "max_edits": 2, "prefix_length": 0, "max_expansions": 50, **bad})
    both = BoolQ(1.0, ((SHOULD, fz), (SHOULD, TermQ(1.0, "text", "data"))))
    calls = [
        lambda: sf_index.search(fz, strategy="dataframe"),
        lambda: sf_index.search(both, strategy="dataframe"),
        lambda: sf_index.search(fz, strategy="auto"),
        lambda: sf_index.search(both, strategy="auto"),
        lambda: sf_index.search_batch({"q": fz}, field_name="text"),
        lambda: sf_index.search_batch({"q": both}, field_name="text"),
    ]
    for call in calls:
        with pytest.raises(ValidationError):
            call()


@pytest.mark.parametrize("bad", [
    {"k": 0}, {"k": -1}, {"k": 2.5}, {"k": "5"}, {"prefix_length": -1},
])
def test_spell_suggest_rejects_bad_arguments(sf_index, bad):
    with pytest.raises(ValidationError):
        sf_index.spell_suggest("text", "dta", **bad)
