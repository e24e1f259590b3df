"""Multi-term classic-DSL grammar: wildcard/prefix, ranges, fuzzy~N,
phrase slop, *:* — all reachable through the reference's parse-dsl
(query.clj:115-124 feeds any string to Lucene's QueryParser, whose
grammar includes these forms). Semantics pinned here: constant-score
rewrite for wildcard/range/match-all, Lucene SloppyPhraseScorer
phraseFreq for slop, FuzzyQuery for ~N."""

import numpy as np
import pytest

from lucene_clj_spark.analysis import STANDARD
from lucene_clj_spark.errors import ValidationError, ValueTypeError
from lucene_clj_spark.query import (
    MUST,
    SHOULD,
    BoolQ,
    FuzzyQ,
    MatchAll,
    PhraseQ,
    RangeQ,
    TermQ,
    WildcardQ,
    parse_dsl,
    render,
)
from lucene_clj_spark.schema import normalize_field_specs
from lucene_clj_spark.search import (
    _bool_tree_spec,
    _scored_phrase,
    _scored_sloppy_phrase,
    _sloppy_freq_py,
    _wildcard_like,
)

SPECS = normalize_field_specs(
    {"name": "text", "bio": "text", "lang": "keyword", "n": "long",
     "x": "double", "ts": "instant"}
)
ANALYZERS = {None: STANDARD}


def P(dsl, **kw):
    return parse_dsl(dsl, "bio", SPECS, ANALYZERS, **kw)


# --- parser ------------------------------------------------------------

def test_parse_wildcard_and_prefix():
    assert P("te*t") == WildcardQ(1.0, "bio", "te*t")
    assert P("te?t") == WildcardQ(1.0, "bio", "te?t")
    assert P("name:Pre*^2") == WildcardQ(2.0, "name", "pre*")
    # keyword fields keep case (no lowercasing analyzer)
    assert P("lang:D*") == WildcardQ(1.0, "lang", "D*")


def test_parse_leading_wildcard_guard():
    with pytest.raises(ValidationError):
        P("*bad")
    with pytest.raises(ValidationError):
        P("?bad")
    assert P("*bad", allow_leading_wildcard=True) == WildcardQ(
        1.0, "bio", "*bad"
    )
    # bare-star field-exists and *:* are exempt (Lucene special cases)
    assert P("bio:*") == WildcardQ(1.0, "bio", "*")
    assert P("*:*") == MatchAll(1.0)


def test_parse_wildcard_on_typed_field_raises():
    with pytest.raises(ValueTypeError):
        P("n:4?2")


def test_parse_fuzzy_suffix():
    assert P("merg~") == FuzzyQ(1.0, "bio", "merg", 2)
    assert P("merg~1") == FuzzyQ(1.0, "bio", "merg", 1)
    assert P("merg~0") == FuzzyQ(1.0, "bio", "merg", 0)
    assert P("name:Merg~1^3") == FuzzyQ(3.0, "name", "merg", 1)
    with pytest.raises(ValidationError):
        P("merg~3")
    with pytest.raises(ValidationError):
        P("merg~1.5")


def test_parse_ranges():
    assert P("[apple TO box]") == RangeQ(
        1.0, "bio", "apple", "box", True, True, "text"
    )
    assert P("{apple TO box}") == RangeQ(
        1.0, "bio", "apple", "box", False, False, "text"
    )
    assert P("n:[15 TO 45]") == RangeQ(
        1.0, "n", 15, 45, True, True, "long"
    )
    assert P("x:{0.5 TO 1.5]") == RangeQ(
        1.0, "x", 0.5, 1.5, False, True, "double"
    )
    assert P("[a TO *]") == RangeQ(1.0, "bio", "a", None, True, True,
                                   "text")
    # instant endpoints: ISO (colon inside the bracket survives the
    # field split) and epoch-millis
    node = P("ts:[2024-01-01T00:00:00Z TO 2024-01-02T00:00:00Z}")
    assert node.value_type == "instant"
    assert node.lo == 1704067200000 and node.hi == 1704153600000
    assert not node.include_hi
    assert P("ts:[0 TO 1000]").hi == 1000
    with pytest.raises(ValueTypeError):
        P("n:[a TO b]")


def test_parse_phrase_slop_and_boost():
    assert P('"love him"~2') == PhraseQ(1.0, "bio", ("love", "him"), 2)
    assert P('"love him"~2^3') == PhraseQ(3.0, "bio", ("love", "him"), 2)
    assert P('"love him"') == PhraseQ(1.0, "bio", ("love", "him"), 0)
    assert render(P('"love him"~2')) == 'bio:"love him"~2'


def test_wildcard_like_translation():
    assert _wildcard_like("te*t") == "te%t"
    assert _wildcard_like("te?t") == "te_t"
    assert _wildcard_like(r"te\*t") == "te*t"
    assert _wildcard_like("a%b_c") == r"a\%b\_c"
    assert _wildcard_like(r"a\\*") == "a\\\\%"


# --- sloppy freq (Lucene SloppyPhraseScorer.phraseFreq greedy) ---------

def test_sloppy_freq_cases():
    A = lambda *v: np.array(v, dtype=np.int64)
    # exact adjacency twice: "a b a b"
    assert _sloppy_freq_py([A(0, 2), A(0, 2)], 0) == 2.0
    # one gap -> matchLength 1 (k >= 2 slots always: the parser returns
    # TermQ for single-token phrases)
    assert _sloppy_freq_py([A(0), A(1)], 1) == 0.5
    # transposed terms need slop 2, weight 1/3
    assert _sloppy_freq_py([A(1), A(-1)], 2) == pytest.approx(1 / 3)
    assert _sloppy_freq_py([A(1), A(-1)], 1) == 0.0
    # far apart: no match
    assert _sloppy_freq_py([A(0), A(5)], 2) == 0.0
    # three slots, all aligned
    assert _sloppy_freq_py([A(0), A(0), A(0)], 0) == 1.0
    # greedy minimizes: a@[0,9], b@[10] -> best alignment 9 vs 10
    assert _sloppy_freq_py([A(0, 9), A(10)], 1) == 0.5


# --- kernel-route exclusion (sloppy stays on the DataFrame path) -------

def test_slop_phrase_excluded_from_one_scan_routes():
    exact = PhraseQ(1.0, "bio", ("love", "him"), 0)
    sloppy = PhraseQ(1.0, "bio", ("love", "him"), 2)
    t = TermQ(1.0, "bio", "strong")
    b_exact = BoolQ(1.0, ((MUST, exact), (MUST, t)))
    b_sloppy = BoolQ(1.0, ((MUST, sloppy), (MUST, t)))
    # the one-scan DataFrame plan takes term leaves only
    assert _bool_tree_spec(b_exact) is None
    assert _bool_tree_spec(b_sloppy) is None
    assert _bool_tree_spec(b_exact, allow_phrase=True) is not None
    assert _bool_tree_spec(b_sloppy, allow_phrase=True) is None


# --- end-to-end semantics on the sample corpus -------------------------

def ids_scores(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def test_wildcard_constant_score(sample_index):
    out = sample_index.search(
        P("bio:antic*"), results_per_page=20, with_hit=False
    )
    got = ids_scores(out)
    # docs whose bio contains antics: 0, 4, 5, 6 — constant score 1.0,
    # tie-broken by doc_id asc
    assert got == [(0, 1.0), (4, 1.0), (5, 1.0), (6, 1.0)]


def test_wildcard_inside_boolean_adds_constant(sample_index):
    term_only = dict(
        ids_scores(
            sample_index.search(
                TermQ(1.0, "bio", "strong"),
                results_per_page=20,
                with_hit=False,
            )
        )
    )
    both = ids_scores(
        sample_index.search(
            P("bio:antic* AND bio:strong"),
            results_per_page=20,
            with_hit=False,
        )
    )
    # score = 1.0 (wildcard constant) + BM25(strong); docs 4 and 6 have
    # both
    assert {d for d, _ in both} == {4, 6}
    for d, s in both:
        assert s == pytest.approx(1.0 + term_only[d], abs=1e-6)


def test_text_range_matches_lexicographic(sample_index):
    out = sample_index.search(
        P("last_name:[sharma TO twist]"), results_per_page=20,
        with_hit=False,
    )
    # last names in [sharma, twist]: Sharma (10, 11), Sikand (12),
    # Twist (9) — constant score
    assert ids_scores(out) == [(9, 1.0), (10, 1.0), (11, 1.0), (12, 1.0)]


def test_matchall(sample_index):
    out = sample_index.search(P("*:*"), results_per_page=100,
                              with_hit=False)
    assert ids_scores(out) == [(i, 1.0) for i in range(13)]


def test_fuzzy_dsl_equals_fuzzy_search(sample_index):
    via_dsl = ids_scores(
        sample_index.search(
            parse_dsl("first_name:shambu~2", "bio", sample_index.specs,
                      sample_index.analyzers),
            results_per_page=10, with_hit=False,
        )
    )
    via_opt = ids_scores(
        sample_index.search({"first_name": "shambu"}, fuzzy=True,
                            results_per_page=10, with_hit=False)
    )
    assert via_dsl and via_dsl == via_opt


def test_sloppy_slop0_bit_identical_to_exact(sample_index):
    exact = _scored_phrase(
        sample_index, PhraseQ(1.0, "bio", ("love", "him"), 0)
    )
    sloppy = _scored_sloppy_phrase(
        sample_index, PhraseQ(1.0, "bio", ("love", "him"), 0)
    )
    e = sorted((r["doc_id"], r["score"]) for r in exact.collect())
    s = sorted((r["doc_id"], r["score"]) for r in sloppy.collect())
    assert e == s and e  # non-empty, bit-identical floats


def test_sloppy_widens_recall_and_weights(sample_index):
    # doc 1 bio: "Carries a gun. But no bullets. Animals love him." —
    # "animals him" has one token between -> matchLength 1 at slop>=1
    exact = ids_scores(
        sample_index.search(P('"animals him"'), results_per_page=10,
                            with_hit=False)
    )
    sloppy = ids_scores(
        sample_index.search(P('"animals him"~1'), results_per_page=10,
                            with_hit=False)
    )
    assert exact == []
    assert [d for d, _ in sloppy] == [1]
    # freq = 1/(1+1); exact-adjacent "love him" on the same doc scores
    # with freq 1 — the sloppy score must be strictly lower
    adj = ids_scores(
        sample_index.search(P('"love him"'), results_per_page=10,
                            with_hit=False)
    )
    adj_d1 = dict(adj)[1]
    assert 0 < dict(sloppy)[1] < adj_d1


def test_sloppy_repeated_terms_rejected(sample_index):
    with pytest.raises(ValidationError):
        _scored_sloppy_phrase(
            sample_index, PhraseQ(1.0, "bio", ("love", "love"), 1)
        )


def test_wildcard_prefix_pushdown_plan(spark, tmp_path):
    """Scale contract: a prefix wildcard's postings scan must push the
    StartsWith predicate into the parquet reader (row-group min/max
    skipping on the sorted term column) and must NOT read positions;
    the top-k stays a bounded heap (TakeOrderedAndProject)."""
    from lucene_clj_spark import create_index

    rows = [(i, f"alpha{i} beta gamma delta") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    idx = create_index(
        spark, df, {"t": "text"}, id_column="doc_id",
        path=str(tmp_path / "idx"), index_type="disk", re_create=True,
    )
    out = idx.search(
        parse_dsl("t:alpha*", "t", idx.specs, idx.analyzers),
        results_per_page=5, with_hit=False,
    )
    s = out._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(term,alpha)" in s
    read_schema = s.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "positions" not in read_schema
    assert "TakeOrderedAndProject" in s
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert got == [(i, 1.0) for i in range(5)]


def test_typed_long_range(spark):
    from lucene_clj_spark import create_index

    rows = [(i, f"w{i}", 10 * i) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, t string, n long")
    idx = create_index(spark, df, {"t": "text", "n": "long"},
                       id_column="doc_id")
    specs, an = idx.specs, idx.analyzers
    run = lambda dsl: ids_scores(
        idx.search(parse_dsl(dsl, "t", specs, an), results_per_page=10,
                   with_hit=False)
    )
    assert run("n:[10 TO 30]") == [(1, 1.0), (2, 1.0), (3, 1.0)]
    assert run("n:{10 TO 30}") == [(2, 1.0)]
    assert run("n:[* TO 10]") == [(0, 1.0), (1, 1.0)]
    assert run("n:[40 TO *]") == [(4, 1.0), (5, 1.0)]


# --- QueryParser parity extras: && || !, f:(...), /regexp/ --------------

def test_operator_aliases():
    a, b = TermQ(1.0, "bio", "a"), TermQ(1.0, "bio", "b")
    assert P("a && b") == BoolQ(1.0, ((MUST, a), (MUST, b)))
    assert P("a || b") == BoolQ(1.0, ((SHOULD, a), (SHOULD, b)))
    assert P("a !b") == BoolQ(1.0, ((SHOULD, a), ("MUST_NOT", b)))
    assert P("a ! b") == P("a NOT b")


def test_field_scoped_group():
    # f:(a b c) rebinds the default field for the group's span
    node = P("name:(ada OR bob)")
    assert node == BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "name", "ada")),
        (SHOULD, TermQ(1.0, "name", "bob")),
    ))
    # explicit field inside the group still overrides
    node = P("name:(ada bio:x)")
    assert node == BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "name", "ada")),
        (SHOULD, TermQ(1.0, "bio", "x")),
    ))
    # boost applies to the whole group
    assert P("name:(ada bob)^3").boost == 3.0
    # nesting restores the outer default field after the group
    node = P("name:(ada) merge")
    assert node == BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "name", "ada")),
        (SHOULD, TermQ(1.0, "bio", "merge")),
    ))


def test_parse_regexp():
    from lucene_clj_spark.query import RegexpQ

    assert P("/s(mall|low)/") == RegexpQ(1.0, "bio", "s(mall|low)")
    assert P("name:/a[bc]+/^2") == RegexpQ(2.0, "name", "a[bc]+")
    # escaped slash inside the pattern
    assert P("/a\\/b/") == RegexpQ(1.0, "bio", "a/b")
    with pytest.raises(ValueTypeError):
        P("n:/4[0-9]/")
    assert render(P("/ab+/")) == "bio:/ab+/"


def test_regex_literal_prefix():
    from lucene_clj_spark.search import _regex_literal_prefix as lp

    assert lp("s(mall|low)") == "s"
    assert lp("small|slow") == ""       # top-level alternation: no prefix
    assert lp("ab*c") == "a"            # quantifier binds the previous char
    assert lp("ab?c") == "a"
    assert lp("ab{2}c") == "a"
    assert lp("st.am") == "st"
    assert lp("foo\\d") == "foo"
    assert lp("(ab)c") == ""
    assert lp("abc") == "abc"
    assert lp("a\\|b") == "a"           # escaped pipe is literal


def test_regexp_constant_score_and_bool(sample_index):
    # /anti.*/ matches the term 'antics' -> same docs as the prefix
    # wildcard antic*
    via_re = ids_scores(
        sample_index.search(P("bio:/anti.*/"), results_per_page=20,
                            with_hit=False)
    )
    via_wild = ids_scores(
        sample_index.search(P("bio:antic*"), results_per_page=20,
                            with_hit=False)
    )
    assert via_re == via_wild and via_re
    # anchored: /anti/ must NOT match 'antics' (whole-term semantics)
    none = sample_index.search(P("bio:/anti/"), results_per_page=20,
                               with_hit=False)
    assert ids_scores(none) == []


# --- review regressions: parser edge cases -------------------------------

def test_and_not_retro_promotes():
    # Lucene addClause promotes the previous clause on CONJ_AND even
    # when the incoming clause carries NOT: 'x a AND NOT b' = 'x +a -b'
    node = P("x a AND NOT b")
    assert node == BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "bio", "x")),
        (MUST, TermQ(1.0, "bio", "a")),
        ("MUST_NOT", TermQ(1.0, "bio", "b")),
    ))
    assert P("a && !b") == BoolQ(1.0, (
        (MUST, TermQ(1.0, "bio", "a")),
        ("MUST_NOT", TermQ(1.0, "bio", "b")),
    ))


def test_fractional_phrase_slop_truncates():
    # Lucene parses FUZZY_SLOP as float and truncates: ~2.5 -> slop 2,
    # and the '.5' must NOT leak out as a separate term clause
    assert P('"love him"~2.5') == PhraseQ(1.0, "bio", ("love", "him"), 2)


def test_wildcard_with_fuzzy_suffix_strips_slop():
    # 'te*t~1': the fuzzy slop is tokenized apart from the WILDTERM in
    # Lucene's grammar; the wildcard is built from the bare pattern
    assert P("te*t~1") == WildcardQ(1.0, "bio", "te*t")
    assert P("te*t~") == WildcardQ(1.0, "bio", "te*t")


def test_sloppy_one_term_rewrites_to_term(sample_index):
    one = _scored_sloppy_phrase(
        sample_index, PhraseQ(1.0, "bio", ("love",), 2)
    )
    term = sample_index.search(TermQ(1.0, "bio", "love"),
                               results_per_page=100, with_hit=False)
    got = sorted((r["doc_id"], round(r["score"], 9))
                 for r in one.collect())
    exp = sorted((r["doc_id"], round(r["score"], 9))
                 for r in term.collect())
    assert got == exp and got
    empty = _scored_sloppy_phrase(
        sample_index, PhraseQ(1.0, "bio", (), 2)
    )
    assert empty.collect() == []


def test_regexp_prefix_pushdown_plan(spark, tmp_path):
    """The regexp literal prefix must plan as StringStartsWith (exact
    'starts with' semantics — a [prefix, prefix+MAXCHAR) range could
    exclude terms containing the max code point)."""
    from lucene_clj_spark import create_index
    from lucene_clj_spark.query import RegexpQ

    rows = [(i, f"alpha{i} beta gamma") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    idx = create_index(
        spark, df, {"t": "text"}, id_column="doc_id",
        path=str(tmp_path / "idx"), index_type="disk", re_create=True,
    )
    out = idx.search(RegexpQ(1.0, "t", "alpha.*"), results_per_page=5,
                     with_hit=False)
    s = out._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(term,alpha)" in s
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert got == [(i, 1.0) for i in range(5)]
