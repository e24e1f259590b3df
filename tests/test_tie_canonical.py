"""Canonical score folds — identical documents must score BIT-identical
on every DataFrame query path, regardless of partition layout.

IEEE addition is not associative: a plain F.sum over >= 3 clause
contributions adds in partition-arrival order, so verbatim copies of a
doc can differ by 1 ulp — and any tie-broken selection (top-k
boundary, per-group row_number in field collapse) then picks
copy-dependent winners. The segment kernels fixed this with fkey-sorted
accumulation (wand.py); the sf1 320x-duplication run caught the
DataFrame paths twice (more_like_this, then field collapse). Every
multi-contribution aggregation now folds in sorted (field, term) /
clause-id order (batch._canonical_score_sum / search._canonical_sum_by);
this test pins it on a 40x-duplicated adversarially-partitioned corpus
for each path."""

from __future__ import annotations

import pytest

from lucene_clj_spark import create_index
from lucene_clj_spark.query import (
    MUST,
    SHOULD,
    BoolQ,
    DisMaxQ,
    FuzzyQ,
    PhraseQ,
    TermQ,
)

BASE = [
    "merge window dup vector scan",
    "merge window window compact",
    "dup vector merge scan scan scan",
    "window dup compact",
    "merge dup vector",
    "vector vector window merge dup",
]
COPIES = 40


@pytest.fixture(scope="module")
def idx(spark):
    rows = [
        (c * len(BASE) + i, t)
        for c in range(COPIES)
        for i, t in enumerate(BASE)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(16)
    return create_index(spark, df, {"text": "text"}, id_column="doc_id")


QUERIES = {
    "or3": BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "merge")),
                       (SHOULD, TermQ(1.0, "text", "dup")),
                       (SHOULD, TermQ(1.0, "text", "vector")))),
    "and3": BoolQ(1.0, ((MUST, TermQ(1.0, "text", "merge")),
                        (MUST, TermQ(1.0, "text", "dup")),
                        (MUST, TermQ(1.0, "text", "vector")))),
    "group_tree": BoolQ(1.0, (
        (MUST, BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "merge")),
                           (SHOULD, TermQ(1.0, "text", "dup")),
                           (SHOULD, TermQ(1.0, "text", "vector"))))),
        (SHOULD, TermQ(1.0, "text", "window")),
    )),
    "nested_tree": BoolQ(1.0, ((SHOULD, BoolQ(1.0, (
        (MUST, TermQ(1.0, "text", "merge")),
        (MUST, TermQ(1.0, "text", "window")),
    ))), (SHOULD, BoolQ(1.0, (
        (MUST, TermQ(1.0, "text", "dup")),
        (MUST, TermQ(1.0, "text", "vector")),
        (MUST, TermQ(1.0, "text", "scan")),
    ))))),
    "dismax": DisMaxQ(1.0, (
        TermQ(1.0, "text", "merge"),
        BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "dup")),
                    (SHOULD, TermQ(1.0, "text", "vector")),
                    (SHOULD, TermQ(1.0, "text", "scan")))),
        PhraseQ(1.0, "text", ("merge", "window")),
    ), 0.3),
    "fuzzy": FuzzyQ(1.0, "text", "vectr", 2, 0, 50),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_copies_score_bit_identical(idx, name):
    out = idx.search(
        QUERIES[name], results_per_page=len(BASE) * COPIES,
        with_hit=False,
    )
    by_base: dict[int, set] = {}
    for r in out.collect():
        by_base.setdefault(r["doc_id"] % len(BASE), set()).add(
            r["score"]
        )
    assert by_base, name
    for base_id, scores in by_base.items():
        # every copy of a base doc carries the EXACT same double
        assert len(scores) == 1, (name, base_id, sorted(scores))


def test_collapse_picks_lowest_doc_ids(spark, idx):
    # the sf1 failure shape: per-group rank under duplication — the
    # two lowest doc_ids of each group's top score must win
    out = idx.search_collapsed(
        {"text": {"merge", "dup", "vector"}}, "text",
        results_per_page=4, hits_per_group=2,
    )
    rows = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert rows, "collapse returned nothing"
    # group key here is the full text => groups ARE the copy sets;
    # with bit-identical scores the winners are the two lowest ids
    for d, _ in rows:
        assert d < 2 * len(BASE), rows
