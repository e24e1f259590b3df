"""BooleanQuery minimum_should_match + FILTER occur — Lucene
BooleanQuery.Builder.setMinimumNumberShouldMatch and
BooleanClause.Occur.FILTER semantics, beyond the reference's surface
(lucene-clj exposes MUST/SHOULD/MUST_NOT via its shape compiler,
query.clj:54-60) but part of the BooleanQuery contract its users hold.

Semantics pinned: >= msm SHOULD clauses must match (matched SHOULD
always score); msm > |SHOULD| matches nothing; FILTER clauses are
required but contribute NO score; unknown occur values raise."""

import pytest

from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.query import (
    FILTER,
    MUST,
    SHOULD,
    BoolQ,
    PhraseQ,
    RangeQ,
    TermQ,
    render,
)
from lucene_clj_spark.search import _flatten


def ids_scores(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


# --- AST / flatten invariants -------------------------------------------

def test_flatten_preserves_msm_and_blocks_splice():
    inner = BoolQ(1.0, ((SHOULD, TermQ(1.0, "bio", "a")),
                        (SHOULD, TermQ(1.0, "bio", "b"))))
    outer = BoolQ(1.0, ((SHOULD, inner),
                        (SHOULD, TermQ(1.0, "bio", "c"))), 2)
    flat = _flatten(outer)
    # msm parent: SHOULD children may NOT splice (clause count is the
    # msm denominator) and msm must survive
    assert flat.min_should_match == 2
    assert len(flat.clauses) == 2
    # msm CHILD stays opaque inside a plain parent
    msm_child = BoolQ(1.0, ((SHOULD, TermQ(1.0, "bio", "a")),
                            (SHOULD, TermQ(1.0, "bio", "b"))), 2)
    parent = BoolQ(1.0, ((SHOULD, msm_child),
                         (SHOULD, TermQ(1.0, "bio", "c"))))
    flat2 = _flatten(parent)
    assert len(flat2.clauses) == 2
    assert flat2.clauses[0][1].min_should_match == 2
    # single-clause unwrap is blocked when msm is set
    single = BoolQ(1.0, ((SHOULD, TermQ(1.0, "bio", "a")),), 1)
    assert isinstance(_flatten(single), BoolQ)


def test_render_msm_and_filter():
    n = BoolQ(1.0, ((MUST, TermQ(1.0, "b", "x")),
                    (FILTER, TermQ(1.0, "b", "y"))))
    assert render(n) == "+b:x #b:y"
    n2 = BoolQ(1.0, ((SHOULD, TermQ(1.0, "b", "x")),
                     (SHOULD, TermQ(1.0, "b", "y"))), 2)
    assert render(n2) == "(b:x b:y)~2"


# --- execution: fast term-group path ------------------------------------

def test_msm_on_term_or(sample_index):
    # bio terms: love (docs 0,1), gun (1,7?), strong (4,6) — assert
    # against brute force instead of hand counts
    terms = ["love", "gun", "strong"]
    base = dict(ids_scores(
        sample_index.search({"bio": set(terms)}, results_per_page=100,
                            with_hit=False)
    ))
    got = dict(ids_scores(
        sample_index.search({"bio": set(terms)}, min_should_match=2,
                            results_per_page=100, with_hit=False)
    ))
    docs = {r["doc_id"]: r["bio"] for r in
            sample_index.docs.select("doc_id", "bio").collect()}
    an = sample_index.analyzers.get("bio") or sample_index.analyzers[None]
    expect = {
        d for d, bio in docs.items()
        if sum(t in an.tokens(bio) for t in terms) >= 2
    }
    assert set(got) == expect and expect
    # matched SHOULD clauses all still score: msm result == OR scores
    for d, s in got.items():
        assert s == pytest.approx(base[d], abs=1e-9)


def test_msm_greater_than_shoulds_matches_nothing(sample_index):
    out = sample_index.search({"bio": {"love", "gun"}},
                              min_should_match=3,
                              results_per_page=10, with_hit=False)
    assert ids_scores(out) == []


def test_msm_with_must(sample_index):
    # +strong (love OR gun)~1 : strong required AND >=1 of the shoulds
    node = BoolQ(1.0, ((MUST, TermQ(1.0, "bio", "strong")),
                       (SHOULD, TermQ(1.0, "bio", "love")),
                       (SHOULD, TermQ(1.0, "bio", "gun"))), 1)
    got = {d for d, _ in ids_scores(
        sample_index.search(node, results_per_page=100, with_hit=False)
    )}
    strong = {d for d, _ in ids_scores(
        sample_index.search(TermQ(1.0, "bio", "strong"),
                            results_per_page=100, with_hit=False))}
    either = {d for d, _ in ids_scores(
        sample_index.search({"bio": {"love", "gun"}},
                            results_per_page=100, with_hit=False))}
    assert got == (strong & either)


def test_msm_non_bool_raises(sample_index):
    with pytest.raises(ValidationError):
        sample_index.search("strong", field_name="bio",
                            min_should_match=1, with_hit=False)


def test_negative_msm_on_a_built_boolq_raises(spark):
    # search(min_should_match=-1) is rejected up front; a BoolQ built
    # directly must be too, on every plan: the tree plan (flat root),
    # the join compiler (FILTER present) and a nested msm child
    from lucene_clj_spark import create_index

    rows = [(0, "alpha beta"), (1, "alpha"), (2, "beta gamma"),
            (3, "alpha gamma")]
    idx = create_index(spark, spark.createDataFrame(rows, ["doc_id", "t"]),
                       {"t": "text"}, id_column="doc_id")

    def t(w):
        return TermQ(1.0, "t", w)

    flat = BoolQ(1.0, ((MUST, t("alpha")), (SHOULD, t("beta"))), -1)
    joins = BoolQ(1.0, flat.clauses + ((FILTER, t("alpha")),), -1)
    nested = BoolQ(1.0, ((MUST, t("gamma")), (SHOULD, flat)))
    for node in (flat, joins, nested):
        with pytest.raises(ValidationError, match="min_should_match"):
            idx.search(node, results_per_page=10, with_hit=False).collect()
    # msm 0 still serves: +alpha beta matches every alpha doc
    ok = BoolQ(1.0, flat.clauses, 0)
    assert sorted(d for d, _ in ids_scores(idx.search(
        ok, results_per_page=10, with_hit=False))) == [0, 1, 3]


# --- execution: joins path (mixed clause types) --------------------------

def test_msm_joins_path_with_phrase(sample_index):
    node = BoolQ(1.0, ((SHOULD, PhraseQ(1.0, "bio", ("love", "him"))),
                       (SHOULD, TermQ(1.0, "bio", "gun")),
                       (SHOULD, TermQ(1.0, "bio", "strong"))), 2)
    got = {d for d, _ in ids_scores(
        sample_index.search(node, results_per_page=100, with_hit=False)
    )}
    # brute force: count matched members per doc
    def members(d):
        out = 0
        phr = {d2 for d2, _ in ids_scores(sample_index.search(
            PhraseQ(1.0, "bio", ("love", "him")),
            results_per_page=100, with_hit=False))}
        return phr
    phr = members(None)
    gun = {d for d, _ in ids_scores(sample_index.search(
        TermQ(1.0, "bio", "gun"), results_per_page=100, with_hit=False))}
    strong = {d for d, _ in ids_scores(sample_index.search(
        TermQ(1.0, "bio", "strong"), results_per_page=100,
        with_hit=False))}
    expect = {
        d for d in (phr | gun | strong)
        if (d in phr) + (d in gun) + (d in strong) >= 2
    }
    assert got == expect


# --- FILTER occur ---------------------------------------------------------

def test_filter_required_but_unscored(sample_index):
    plain = dict(ids_scores(sample_index.search(
        TermQ(1.0, "bio", "love"), results_per_page=100,
        with_hit=False)))
    node = BoolQ(1.0, ((MUST, TermQ(1.0, "bio", "love")),
                       (FILTER, TermQ(1.0, "bio", "him"))))
    got = dict(ids_scores(sample_index.search(
        node, results_per_page=100, with_hit=False)))
    him = {d for d, _ in ids_scores(sample_index.search(
        TermQ(1.0, "bio", "him"), results_per_page=100,
        with_hit=False))}
    assert set(got) == set(plain) & him and got
    # scores identical to the MUST-only query: FILTER added nothing
    for d, s in got.items():
        assert s == pytest.approx(plain[d], abs=1e-12)


def test_filter_only_matches_with_zero_score(sample_index):
    node = BoolQ(1.0, ((FILTER, TermQ(1.0, "bio", "love")),
                       (FILTER, TermQ(1.0, "bio", "him"))))
    got = ids_scores(sample_index.search(node, results_per_page=100,
                                         with_hit=False))
    assert got and all(s == 0.0 for _, s in got)


def test_unknown_occ_raises(sample_index):
    node = BoolQ(1.0, (("BOGUS", TermQ(1.0, "bio", "love")),))
    with pytest.raises(ValidationError):
        sample_index.search(node, results_per_page=5,
                            with_hit=False).collect()


# --- kernel route: msm/FILTER fall back, never mis-serve ------------------

def test_msm_falls_off_wand_route(spark, tmp_path):
    from lucene_clj_spark import create_index
    from lucene_clj_spark.segments import build_segments

    rows = [(i, " ".join(
        w for j, w in enumerate(["alpha", "beta", "gamma"]) if i >> j & 1
    ) or "delta") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    idx = create_index(spark, df, {"t": "text"}, id_column="doc_id",
                       path=str(tmp_path / "idx"), index_type="disk",
                       re_create=True)
    build_segments(idx, n_buckets=2)
    q = {"t": {"alpha", "beta", "gamma"}}
    auto = ids_scores(idx.search(q, min_should_match=2,
                                 results_per_page=100, with_hit=False))
    df_path = ids_scores(idx.search(q, min_should_match=2,
                                    results_per_page=100,
                                    with_hit=False,
                                    strategy="dataframe"))
    assert auto == df_path
    assert {d for d, _ in auto} == {
        i for i in range(8) if bin(i).count("1") >= 2
    }
    # the flat all-SHOULD msm shape RIDES the tree kernel
    # (its matched-pair tally is the flat _scored_tree node's tally);
    # strategy='wand' accepts it and stays bit-identical
    wand_path = ids_scores(idx.search(q, min_should_match=2,
                                      results_per_page=100,
                                      with_hit=False, strategy="wand"))
    assert wand_path == df_path
    # mixed MUST/SHOULD msm rides the tree kernel too (MUST pairs +
    # msm of the other pairs) — also bit-identical
    mixed = BoolQ(1.0, ((MUST, TermQ(1.0, "t", "alpha")),
                        (SHOULD, TermQ(1.0, "t", "beta")),
                        (SHOULD, TermQ(1.0, "t", "gamma"))), 1)
    mw = ids_scores(idx.search(mixed, strategy="wand",
                               results_per_page=100, with_hit=False))
    md = ids_scores(idx.search(mixed, strategy="dataframe",
                               results_per_page=100, with_hit=False))
    assert mw == md
    # FILTER clauses still fall off the route
    node = BoolQ(1.0, ((MUST, TermQ(1.0, "t", "alpha")),
                       (FILTER, TermQ(1.0, "t", "beta"))))
    with pytest.raises(ValidationError):
        idx.search(node, strategy="wand", with_hit=False)


def test_filter_with_should_no_must(sample_index):
    # Lucene: SHOULDs are optional whenever FILTER/MUST clauses exist —
    # every filter-matching doc matches, scored by its matched SHOULDs
    node = BoolQ(1.0, ((FILTER, TermQ(1.0, "bio", "him")),
                       (SHOULD, TermQ(1.0, "bio", "love"))))
    got = dict(ids_scores(sample_index.search(
        node, results_per_page=100, with_hit=False)))
    him = {d for d, _ in ids_scores(sample_index.search(
        TermQ(1.0, "bio", "him"), results_per_page=100,
        with_hit=False))}
    love = dict(ids_scores(sample_index.search(
        TermQ(1.0, "bio", "love"), results_per_page=100,
        with_hit=False)))
    assert set(got) == him and him
    for d, s in got.items():
        assert s == pytest.approx(love.get(d, 0.0), abs=1e-9)


def test_unknown_occ_raises_with_musts_too(sample_index):
    # the fast term-group path must not silently score a bogus occur
    # as SHOULD when MUST clauses are present
    node = BoolQ(1.0, ((MUST, TermQ(1.0, "bio", "love")),
                       ("BOGUS", TermQ(1.0, "bio", "gun"))))
    with pytest.raises(ValidationError):
        sample_index.search(node, results_per_page=5,
                            with_hit=False).collect()


def test_search_batch_rejects_msm(sample_index):
    node = BoolQ(1.0, ((SHOULD, TermQ(1.0, "bio", "love")),
                       (SHOULD, TermQ(1.0, "bio", "gun"))), 2)
    with pytest.raises(ValidationError):
        sample_index.search_batch({"q1": node})
