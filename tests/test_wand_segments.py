"""Compressed segments + block-max WAND kernel: result-identity vs the
DataFrame execution path, and manifest-based resume (SURVEY.md §7.1
steps 5-6)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from lucene_clj_spark import create_index
from lucene_clj_spark.segments import build_segments
from lucene_clj_spark.wand import wand_topk

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def disk_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("seg") / "docs_idx")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = create_index(
        spark,
        docs,
        {"text": "text", "lang": "keyword", "source": "keyword",
         "n_chars": "long"},
        id_column="doc_id",
        path=path,
        index_type="disk",
        re_create=True,
    )
    # small chunk/block sizes to force multiple chunks & blocks at sf0.01
    build_segments(idx, n_buckets=4, chunk_span=64, block_size=16)
    return idx


def _dataframe_topk(idx, terms, k, mode):
    if mode == "or":
        q = {"text": set(terms)}
    else:
        q = [t for t in terms]
    return idx.search(
        q if mode == "or" else q, field_name="text",
        results_per_page=k, with_hit=False, strategy="dataframe",
    ).collect()


@pytest.mark.parametrize(
    "terms,mode",
    [
        (["merge"], "or"),
        (["merge", "window", "dup"], "or"),
        (["merge", "window"], "and"),
        (["dup", "scan"], "and"),
    ],
)
def test_wand_matches_dataframe_path(disk_index, terms, mode):
    k = 10
    want = _dataframe_topk(disk_index, terms, k, mode)
    got = wand_topk(disk_index, "text", terms, k=k, mode=mode).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-12)


def test_wand_unknown_term_empty(disk_index):
    got = wand_topk(disk_index, "text", ["zzzznotaterm"], k=5).collect()
    assert got == []


def test_segment_blocks_structure(spark, disk_index):
    blocks = spark.read.parquet(os.path.join(disk_index.path, "segments"))
    row = blocks.filter(F.col("n") > 1).first()
    assert row["first_doc"] <= row["last_doc"]
    assert len(row["norms"]) == row["n"]
    # every posting has delta-coded ids that decode to sorted ids
    from lucene_clj_spark import codec

    ids = codec.delta_decode(codec.decode_block(row["doc_deltas"]))
    assert list(ids) == sorted(ids)
    assert ids[0] == row["first_doc"] and ids[-1] == row["last_doc"]
    # impact frontier (format 2): pareto (tf, qdl) pairs — stats-free
    # exact block bound. tf strictly decreasing, qdl strictly
    # decreasing along the frontier; the max tf of the block is the
    # frontier head.
    from lucene_clj_spark import bm25

    tfs = codec.decode_block(row["tfs"])
    norms = __import__("numpy").frombuffer(row["norms"], dtype="uint8")
    imp = row["impacts"]
    assert imp[0]["tf"] == float(tfs.max())
    assert all(
        imp[i]["tf"] > imp[i + 1]["tf"] and imp[i]["qdl"] > imp[i + 1]["qdl"]
        for i in range(len(imp) - 1)
    )
    # frontier covers the block: min qdl present
    qdls = bm25.LENGTH_TABLE[norms]
    assert imp[-1]["qdl"] == float(qdls.min())


def test_resume_skips_completed_buckets(disk_index):
    man_dir = os.path.join(disk_index.path, "manifests")
    manifests = sorted(
        f for f in os.listdir(man_dir) if f.startswith("bucket_")
    )
    assert len(manifests) == 4
    # simulate interruption: drop one bucket's manifest, resume
    victim = os.path.join(man_dir, manifests[1])
    keep = os.path.join(man_dir, manifests[0])
    before = os.path.getmtime(keep)
    with open(victim) as f:
        old = json.load(f)
    os.remove(victim)
    build_segments(disk_index, n_buckets=4, chunk_span=64, block_size=16)
    assert os.path.exists(victim)
    with open(victim) as f:
        new = json.load(f)
    # re-encoded bucket reproduces identical metrics (determinism)
    for key in ("n_blocks", "n_postings", "n_terms", "max_doc"):
        assert new[key] == old[key]
    # untouched bucket was NOT recomputed
    assert os.path.getmtime(keep) == before


def test_manifest_metrics_cover_all_postings(spark, disk_index):
    man_dir = os.path.join(disk_index.path, "manifests")
    total = 0
    for f in os.listdir(man_dir):
        if f.startswith("bucket_"):
            with open(os.path.join(man_dir, f)) as fh:
                total += json.load(fh)["n_postings"]
    n_postings = disk_index.postings.count()
    assert total == n_postings


def test_wand_rare_term_empty_partitions(disk_index, monkeypatch):
    """A single rare term leaves most chunk-range partitions with zero
    rows; the kernel must yield an empty frame, not crash (regression:
    pd.concat of an empty batch iterator). A zero mass constant forces
    the range-partitioned path."""
    from lucene_clj_spark import wand

    monkeypatch.setattr(wand, "SINGLE_PARTITION_MASS", 0)
    got = wand_topk(disk_index, "text", ["dup"], k=5, mode="or").collect()
    want = disk_index.search("dup", field_name="text", results_per_page=5,
                             with_hit=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_cold_kernel_term_runs_no_bucket_job(spark, disk_index):
    """A cold single-term kernel search on a freshly loaded index:
    building the plan runs ONE job (the term-dictionary load — the
    bucket literal folds into the partition filter, and the blocks scan
    reads the declared segment schema), and a small mass runs scan,
    kernel and top-k merge as one job with no exchange."""
    from lucene_clj_spark.indexer import Index
    from tests.conftest import count_jobs

    idx = Index.load(spark, disk_index.path)
    jobs, df = count_jobs(
        spark, lambda: wand_topk(idx, "text", ["window"], k=5)
    )
    assert jobs == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    pf = plan.split("PartitionFilters:", 1)[1].splitlines()[0]
    assert "bucket" in pf
    jobs, rows = count_jobs(spark, df.collect)
    assert jobs == 1 and len(rows) == 5
    jobs, _ = count_jobs(
        spark, lambda: wand_topk(idx, "text", ["window"], k=5)
    )
    assert jobs == 0  # warm: the seek reads the loaded dictionary


@pytest.mark.parametrize("mass", [0, 10**12])
def test_co_location_parity_across_mass_constant(disk_index, monkeypatch,
                                                 mass):
    """A multi-term query returns the same rows on either side of
    SINGLE_PARTITION_MASS: range-partitioned (constant 0) and one
    partition (a constant above any mass) both match the DataFrame
    plan bit for bit."""
    from lucene_clj_spark import wand
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    monkeypatch.setattr(wand, "SINGLE_PARTITION_MASS", mass)
    q = BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "text", "merge")),
        (SHOULD, TermQ(2.0, "text", "window")),
        (MUST, TermQ(1.0, "text", "the")),
    ))
    got = disk_index.search(q, with_hit=False, strategy="wand",
                            results_per_page=10)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert ("rangepartitioning" in plan.lower()) == (mass == 0)
    want = disk_index.search(q, with_hit=False, strategy="dataframe",
                             results_per_page=10).collect()
    assert len(want) == 10
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    terms = ["merge", "window", "dup", "the"]
    a = wand_topk(disk_index, "text", terms, k=10).collect()
    b = _dataframe_topk(disk_index, terms, 10, "or")
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_disk_term_query_plan_prunes(disk_index):
    """The scale contract of the disk layout (SURVEY §4.3): a term
    query's parquet scan must show (a) partition pruning to the term's
    bucket directory, (b) the term equality pushed into the scan for
    row-group min/max skipping, (c) positions pruned from ReadSchema,
    and (d) bounded-heap top-k (TakeOrderedAndProject), not a global
    sort."""
    plan = disk_index.search("merge", field_name="text", with_hit=False,
                             strategy="dataframe")
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s and "bucket" in s.split(
        "PartitionFilters", 1)[1][:120]
    assert "EqualTo(term,merge)" in s
    read_schema = s.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "positions" not in read_schema
    assert "TakeOrderedAndProject" in s
    assert "Sort " not in s  # no global sort operator


def test_span_or_kernel_matches_dataframe(disk_index):
    """The pooled-tf kernel (wand.span_or_topk, auto-routed for
    SpanOrQ) must be BIT-identical to the DataFrame path: same summed
    idf fold order, same saturation association, sound (inflated)
    block bounds that never skip a true top-k doc. Covers boost,
    absent clauses, single clause, and keyset pagination."""
    from lucene_clj_spark.query import SpanOrQ

    shapes = [
        SpanOrQ(1.0, "text", ("merge", "window")),
        SpanOrQ(2.5, "text", ("merge", "window", "zzzznotaterm")),
        SpanOrQ(1.0, "text", ("dup",)),
        SpanOrQ(0.5, "text", ("the", "merge", "dup", "vector")),
    ]
    for q in shapes:
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], q.terms
    q = shapes[0]
    first = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
    sa = {"score": first[-1]["score"], "doc_id": first[-1]["doc_id"]}
    ka = disk_index.search(q, with_hit=False, strategy="wand",
                           search_after=sa).collect()
    da = disk_index.search(q, with_hit=False, strategy="dataframe",
                           search_after=sa).collect()
    assert [(r["doc_id"], r["score"]) for r in ka] == [
        (r["doc_id"], r["score"]) for r in da
    ]
    assert all(r["score"] <= sa["score"] for r in ka)


def test_span_or_kernel_fuzz_random_clause_sets(disk_index):
    """Seeded fuzz: random clause sets (1-5 terms drawn from the real
    vocabulary + occasional absent terms, random boosts) must be
    bit-identical between the pooled-tf kernel and the DataFrame
    path — the subadditivity bound argument has to hold for ANY mix
    of common/rare/absent clauses, not just the hand-picked shapes."""
    import random

    from lucene_clj_spark.query import SpanOrQ

    rng = random.Random(20260821)
    vocab = sorted(
        r["term"]
        for r in disk_index.terms.filter("field = 'text'")
        .select("term").distinct().collect()
    )
    for trial in range(12):
        n_terms = rng.randint(1, 5)
        terms = rng.sample(vocab, min(n_terms, len(vocab)))
        if rng.random() < 0.4:
            terms.append(f"zz_absent_{trial}")
        rng.shuffle(terms)
        boost = rng.choice([0.25, 1.0, 3.5])
        q = SpanOrQ(boost, "text", tuple(terms))
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (trial, terms, boost)


def test_disk_span_or_plan_prunes_and_aggregates_once(disk_index):
    """SpanOrQ on a disk index: ONE postings scan with the clause set
    as an IN predicate (bucket directories constant-folded into
    PartitionFilters, term IN pushed for row-group skipping), one
    partial-aggregate pair (map-side combine), positions pruned, and
    bounded-heap top-k."""
    from lucene_clj_spark.query import SpanOrQ

    plan = disk_index.search(
        SpanOrQ(1.0, "text", ("merge", "window")), with_hit=False,
        strategy="dataframe",
    )
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s and "bucket" in s.split(
        "PartitionFilters", 1)[1][:160]
    assert "In(term, [merge,window])" in s
    read_schema = s.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "positions" not in read_schema
    # one scan, one shuffle: exactly one Exchange below the aggregate
    assert s.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in s


def test_build_segments_bucket_scan_partition_prunes(disk_index):
    """VERDICT r03 finding #1: the per-bucket postings scan inside
    build_segments must filter on the PHYSICAL bucket partition column
    (partition pruning — each of the S bucket jobs reads 1/S of the
    postings table), not a recomputed pmod column that forces S full
    scans. Segment bucket b over P=32 postings buckets with S=4 maps to
    exactly the physical partitions {b, b+4, ..., b+28}."""
    from lucene_clj_spark.segments import _bucket_postings

    scan = _bucket_postings(disk_index, 1, 4)
    s = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s
    pf = s.split("PartitionFilters", 1)[1][:400]
    assert "bucket" in pf
    # the pruning predicate must be on the partition column, leaving
    # NO post-scan pmod recompute in the plan
    assert "xxhash64" not in s


def test_build_segments_bucket_scans_partition_postings_exactly(disk_index):
    """The pruned per-bucket scans must be a PARTITION of the postings
    table: disjoint, and their union covers every posting (parity with
    the recomputed pmod definition)."""
    from pyspark.sql import functions as F

    from lucene_clj_spark.segments import _bucket_postings

    n_total = disk_index.postings.count()
    seen = 0
    for b in range(4):
        part = _bucket_postings(disk_index, b, 4)
        # every row in the pruned scan has pmod(xxhash64(term), 4) == b
        bad = part.filter(
            F.pmod(F.xxhash64("term"), F.lit(4)) != b
        ).count()
        assert bad == 0, f"bucket {b} contains foreign terms"
        seen += part.count()
    assert seen == n_total


def test_with_hit_fetch_is_a_docid_seek(disk_index):
    """Stored-field retrieval must SEEK by doc_id (literal IN pushed
    into the docs scan over the doc_id-sorted table), never stream the
    full docs table through a broadcast join — at 100 TB the old shape
    was a full-corpus scan per hit-bearing query."""
    plan = disk_index.search("merge", field_name="text", with_hit=True,
                             results_per_page=5, strategy="dataframe")
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id, [" in s  # pushed literal id set
    got = plan.collect()
    assert len(got) == 5 and got[0]["text"] is not None


def test_duplicated_corpus_tie_sets_are_canonical(spark, tmp_path):
    """sf1 regression: identical docs living in DIFFERENT chunks must
    score BIT-identically in the kernels. The per-doc sum used to add
    term contributions in chunk-frame row order — which varies with
    file/batch layout — so copies of one doc drifted by 1 ulp and the
    k-boundary tie set came out chunk-dependent (320-way duplication at
    sf1 returned an arbitrary subset of copies instead of the smallest
    doc_ids). The kernels now accumulate in canonical fkey-sorted
    order."""
    from collections import defaultdict

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = base.count()
    copies = 30
    docs = base.selectExpr(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    for i in range(1, copies):
        docs = docs.unionByName(
            base.selectExpr(
                f"doc_id + {i * n} AS doc_id", "text", "lang",
                "source", "n_chars",
            )
        )
    idx = create_index(
        spark, docs,
        {"text": "text", "lang": "keyword", "source": "keyword",
         "n_chars": "long"},
        id_column="doc_id", path=str(tmp_path / "dup_idx"),
        index_type="disk", re_create=True,
    )
    # small chunk span so the copies of one doc span MANY chunks
    build_segments(idx, n_buckets=4, chunk_span=256, block_size=32)

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "merge")),
                           (SHOULD, TermQ(1.0, "text", "window"))))),
        (MUST, TermQ(1.0, "text", "dup")),
    ))
    from lucene_clj_spark.query import parse_dsl

    tree = parse_dsl("((merge AND window) OR (dup AND scan)) NOT compact",
                     "text", idx.specs, idx.analyzers)
    for q, kw in [
        (node, {"strategy": "wand"}),                      # tree kernel
        (tree, {"strategy": "wand"}),                      # tree kernel
        (["merge", "window"], {"field_name": "text"}),     # flat node, AND
        ({"text": {"merge", "dup", "vector"}}, {}),        # flat node, OR
    ]:
        got = idx.search(q, results_per_page=3 * copies,
                         with_hit=False, **kw).collect()
        # every copy of a base doc must carry IDENTICAL score bits
        per_base = defaultdict(set)
        for r in got:
            per_base[r["doc_id"] % n].add(r["score"])
        assert all(len(v) == 1 for v in per_base.values()), q
        # the k-boundary tie cohort resolves to the SMALLEST doc_ids:
        # result ids match the DataFrame path's ids exactly
        want = idx.search(q, results_per_page=3 * copies,
                          with_hit=False, strategy="dataframe",
                          **{k_: v for k_, v in kw.items()
                             if k_ != "strategy"}).collect()
        assert [r["doc_id"] for r in got] == [
            r["doc_id"] for r in want
        ], q

    # keyset pagination must WALK a tied cohort by doc_id: page through
    # 3 * copies results 10 at a time via search_after and land on the
    # same sequence as one big page, with no skips or repeats across
    # the equal-score runs
    one_page = idx.search(node, results_per_page=3 * copies,
                          with_hit=False, strategy="wand").collect()
    walked, after = [], None
    for _ in range(3 * copies // 10):
        page = idx.search(node, results_per_page=10, with_hit=False,
                          strategy="wand", search_after=after).collect()
        if not page:
            break
        walked.extend(page)
        after = {"score": page[-1]["score"], "doc_id": page[-1]["doc_id"]}
    assert [(r["doc_id"], r["score"]) for r in walked] == [
        (r["doc_id"], r["score"]) for r in one_page
    ]


def test_disk_bool_query_plan_prunes_buckets(disk_index):
    """The boolean-group fast path must prune to the query terms'
    bucket directories, same as the single-term path (VERDICT r01
    finding 3)."""
    plan = disk_index.search(["merge", "window"], field_name="text",
                             with_hit=False, strategy="dataframe")
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s
    pf = s.split("PartitionFilters", 1)[1][:250]
    assert "bucket" in pf


def test_auto_strategy_routes_to_wand_and_matches(disk_index):
    """On a segment-backed disk index, eligible term/AND/OR queries
    auto-route through the WAND kernel (plan shows the Arrow kernel,
    not the exhaustive scan+agg) with results identical to the
    DataFrame path."""
    for q, kw in [
        ("merge", {"field_name": "text"}),
        ("the merge", {"field_name": "text"}),  # tree-kernel phrase leaf
        (["merge", "window"], {"field_name": "text"}),
        ({"text": {"merge", "dup", "vector"}}, {}),
    ]:
        auto = disk_index.search(q, results_per_page=10, with_hit=False,
                                 **kw)
        s = auto._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in s  # the WAND kernel
        want = disk_index.search(q, results_per_page=10, with_hit=False,
                                 strategy="dataframe", **kw).collect()
        got = auto.collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
            (r["doc_id"], round(r["score"], 9)) for r in want
        ], q


def test_boosted_or_routes_with_weights(disk_index):
    """Per-term boosts ride the kernel as term weights — scores and
    skip bounds scale linearly, results match the DataFrame path."""
    from lucene_clj_spark.query import parse_dsl

    node = parse_dsl("merge^2 window", "text", disk_index.specs,
                     disk_index.analyzers)
    auto = disk_index.search(node, results_per_page=10, with_hit=False)
    s = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = auto.collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_fuzzy_routes_through_weighted_kernel(disk_index):
    """Fuzzy on a segment-backed index runs as a weighted-OR over the
    expanded terms (closeness boosts as weights)."""
    auto = disk_index.search({"text": "merg"}, fuzzy=True,
                             results_per_page=10, with_hit=False)
    s = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s
    want = disk_index.search({"text": "merg"}, fuzzy=True,
                             results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = auto.collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_auto_strategy_page_zero_routes(disk_index):
    """page=0 is the first page — WAND-eligible like page=None."""
    a = disk_index.search("merge", field_name="text", page=0,
                          with_hit=False)
    s = a._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s
    b = disk_index.search("merge", field_name="text", with_hit=False)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_auto_strategy_page2_matches_dataframe(disk_index):
    """Later pages route too: the kernel fetches k*(page+1) into its
    heaps, then the page window drops the earlier rows."""
    a = disk_index.search("the", field_name="text", page=2,
                          results_per_page=5, with_hit=False)
    s = a._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s
    want = disk_index.search("the", field_name="text", page=2,
                             results_per_page=5, with_hit=False,
                             strategy="dataframe").collect()
    got = a.collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    assert len(got) == 5


def test_wand_strategy_ineligible_raises(spark, disk_index):
    from lucene_clj_spark.errors import ValidationError

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from lucene_clj_spark import create_index
    mem = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       ignore_extra_columns=True)
    with pytest.raises(ValidationError):  # no segments on memory index
        mem.search("merge", field_name="text", strategy="wand")
    # keyset now rides EVERY kernel shape, including phrase/fuzzy


def test_multi_field_map_query_kernel_routes_and_matches(disk_index):
    """A map query {text: ..., lang: ...} — AND across fields, Q4 —
    now rides the one-pass multi-field kernel (wand_pairs_topk) under
    strategy='wand'/'auto', result-identical to the DataFrame path
    (VERDICT r02 item 4)."""
    q = {"text": "merge", "lang": "de"}
    want = disk_index.search(q, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(q, results_per_page=10, with_hit=False,
                            strategy="wand")
    s = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s  # actually on the kernel
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_negative_boost_not_kernel_routed(disk_index):
    """A non-positive boost would invert the kernel's block-max upper
    bounds (pruning could skip true top-k docs) — such queries must
    fall back to the DataFrame path (code-review r02b finding 1)."""
    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.query import SHOULD, BoolQ, TermQ

    node = BoolQ(1.0, ((SHOULD, TermQ(-1.0, "text", "the")),
                       (SHOULD, TermQ(3.0, "text", "merge"))))
    plan = disk_index.search(node, with_hit=False)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in s
    with pytest.raises(ValidationError):
        disk_index.search(node, strategy="wand")


def test_fuzzy_short_term_zero_weight_not_kernel_routed(
    spark, tmp_path_factory
):
    """Fuzzy closeness boost 1 - edits/min(|q|,|t|) is 0 (or negative)
    for short terms at max_edits=2 — a non-positive kernel weight would
    invert the block-max skip bounds, so such queries must fall back to
    the DataFrame path and still match it (ADVICE r02)."""
    from lucene_clj_spark import create_index
    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.segments import build_segments

    docs = spark.createDataFrame(
        [(0, "ab xy kq"), (1, "ab ab zz"), (2, "qq xy")],
        "doc_id long, text string",
    )
    path = str(tmp_path_factory.mktemp("shortfz") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True)
    build_segments(idx, n_buckets=2, chunk_span=64, block_size=16)
    auto = idx.search({"text": "ab"}, fuzzy=True, with_hit=False)
    s = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in s  # fell back — no kernel
    want = idx.search({"text": "ab"}, fuzzy=True, with_hit=False,
                      strategy="dataframe").collect()
    got = auto.collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    with pytest.raises(ValidationError):
        idx.search({"text": "ab"}, fuzzy=True, strategy="wand")


def test_auto_strategy_missing_must_term_empty(disk_index):
    got = disk_index.search(["merge", "zzzznotaterm"], field_name="text",
                            with_hit=False).collect()
    assert got == []
    want = disk_index.search(["merge", "zzzznotaterm"], field_name="text",
                             with_hit=False, strategy="dataframe").collect()
    assert want == []


def test_disk_fuzzy_query_plan_prunes_buckets(disk_index):
    """A fuzzy query's postings scan filters on the LITERAL expanded
    terms + their buckets, not the whole field (VERDICT r01 finding 4)."""
    plan = disk_index.search({"text": "merg"}, fuzzy=True, with_hit=False)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s
    pf = s.split("PartitionFilters", 1)[1][:250]
    assert "bucket" in pf
    # expansion terms are IN-literals pushed into the scan
    assert "In(term, [" in s or "EqualTo(term," in s


def test_fuzzy_results_match_memory_index(spark, disk_index):
    """Bucket pruning must not change fuzzy results: disk index ==
    in-memory index on the same corpus."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mem = create_index(
        spark,
        docs,
        {"text": "text", "lang": "keyword", "source": "keyword",
         "n_chars": "long"},
        id_column="doc_id",
    )
    want = mem.search({"text": "merg"}, fuzzy=True, results_per_page=10,
                      with_hit=False).collect()
    got = disk_index.search({"text": "merg"}, fuzzy=True,
                            results_per_page=10, with_hit=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


@pytest.mark.parametrize("phrase,boost", [
    ("the merge", 1.0), ("row column sort", 1.0), ("the merge", 2.9),
    ("the the", 2.9), ("order agg order", 0.3),
], ids=["the merge", "row column sort", "the merge^2.9", "the the^2.9",
        "order agg order^0.3"])
def test_phrase_kernel_matches_dataframe_path(disk_index, phrase, boost):
    """An exact phrase runs on the tree kernel as one phrase leaf
    (positions decode inside the Arrow kernel, no raw-postings shuffle)
    and must rank-and-score match the DataFrame _scored_phrase path
    unrounded — boosted and repeated-term phrases included."""
    from lucene_clj_spark.query import PhraseQ
    from lucene_clj_spark.search import _wand_route

    node = PhraseQ(boost, "text", tuple(phrase.split()))
    assert _wand_route(disk_index, node)[0] == "tree"
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_boosted_phrase_routes_through_kernel(disk_index):
    """A boosted phrase ('the merge'^2.5) routes to the tree kernel's
    phrase leaf (boost folded into idf_sum — the DataFrame path's exact
    float association), bit-identical to strategy='dataframe'. A
    boosted one-term phrase, alone or as a boolean clause, is the
    TermQuery on both plans (PhraseQuery.rewrite)."""
    from lucene_clj_spark.query import PhraseQ

    node = PhraseQ(2.5, "text", ("the", "merge"))
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand")
    s = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s
    got = got.collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # non-positive boost falls back (bound inversion hazard), and
    # strategy='wand' refuses rather than serving a wrong answer
    import pytest as _pt

    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.search import _wand_route

    neg = PhraseQ(-1.0, "text", ("the", "merge"))
    assert _wand_route(disk_index, neg) is None
    with _pt.raises(ValidationError):
        disk_index.search(neg, with_hit=False, strategy="wand")

    from lucene_clj_spark.query import SHOULD, BoolQ, TermQ

    one = PhraseQ(2.9, "text", ("merge",))
    term = TermQ(2.9, "text", "merge")
    window = (SHOULD, TermQ(1.0, "text", "window"))
    for a, b in ((one, term),
                 (BoolQ(1.0, ((SHOULD, one), window)),
                  BoolQ(1.0, ((SHOULD, term), window)))):
        for strategy in ("dataframe", "wand"):
            got, want = (
                [(r["doc_id"], r["score"]) for r in disk_index.search(
                    q, results_per_page=50, with_hit=False,
                    strategy=strategy).collect()]
                for q in (a, b)
            )
            assert want and got == want


def test_duplicate_pair_flat_bool_routes_and_merges(disk_index):
    """A flat boolean repeating the same (field, term) merges boosts
    (summed, the one merge of the flat node, _flat_tree) and still runs
    on the tree kernel — bit-identical to the DataFrame path."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ
    from lucene_clj_spark.search import _wand_route

    for occ in (MUST, SHOULD):
        node = BoolQ(1.0, (
            (occ, TermQ(1.0, "text", "merge")),
            (occ, TermQ(2.0, "text", "merge")),
            (occ, TermQ(1.0, "text", "window")),
        ))
        route = _wand_route(disk_index, node)
        assert route is not None and route[0] == "tree"
        want = disk_index.search(node, results_per_page=10,
                                 with_hit=False,
                                 strategy="dataframe").collect()
        got = disk_index.search(node, results_per_page=10,
                                with_hit=False, strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ]


def test_phrase_kernel_missing_term_empty(disk_index):
    from lucene_clj_spark.query import PhraseQ

    assert disk_index.search(
        PhraseQ(1.0, "text", ("the", "zzzznotaterm")), results_per_page=5,
        with_hit=False, strategy="wand").collect() == []


def test_phrase_kernel_duplicate_term(disk_index):
    """A phrase with a repeated term ('the X the' shape) must count
    idf twice and shift the same positions list twice."""
    from lucene_clj_spark.query import PhraseQ

    want = disk_index.search("the the", field_name="text",
                             results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(PhraseQ(1.0, "text", ("the", "the")),
                            results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_search_normalizes_a_boolean_once(disk_index, monkeypatch):
    """search normalizes a boolean once: the kernel router and the
    DataFrame fallback read one _term_tree result, so a boolean the
    kernel cannot serve (FILTER) expands its fuzzy clause once."""
    from lucene_clj_spark import search as search_mod
    from lucene_clj_spark.query import FILTER, MUST, BoolQ, FuzzyQ, TermQ

    calls = []
    real = search_mod._fuzzy_expansions

    def counting(index, node):
        calls.append(node.term)
        return real(index, node)

    monkeypatch.setattr(search_mod, "_fuzzy_expansions", counting)
    node = BoolQ(1.0, ((MUST, FuzzyQ(1.0, "text", "merg")),
                       (FILTER, TermQ(1.0, "text", "window"))))
    got = disk_index.search(node, results_per_page=10,
                            with_hit=False).collect()
    assert calls == ["merg"]
    assert got


def test_hot_term_bounded_groups(spark, tmp_path_factory):
    """Skew contract (SURVEY §7 hard-part 3): a stopword-like term in
    EVERY document must encode as ceil(N/chunk_span) independent
    bounded groups — structural salting by doc range, so a 10^11-
    posting term at web scale is spread over the cluster instead of
    landing on one task."""
    from lucene_clj_spark import create_index
    from lucene_clj_spark.segments import build_segments
    from lucene_clj_spark.wand import wand_topk

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the unique"), F.col("id").cast("string"),
                 F.lit(" filler")).alias("text"),
    )
    path = str(tmp_path_factory.mktemp("hot") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True)
    build_segments(idx, n_buckets=2, chunk_span=100, block_size=32)
    seg = spark.read.parquet(f"{path}/segments")
    hot = seg.filter(F.col("term") == "the")
    chunks = [r["chunk"] for r in hot.select("chunk").distinct().collect()]
    assert sorted(chunks) == list(range(10))  # 1000 docs / 100-doc chunks
    # postings conserved across the chunked groups
    assert hot.agg(F.sum("n")).collect()[0][0] == 1000
    # block-max WAND still answers over the chunked hot term
    got = wand_topk(idx, "text", ["the"], k=5, mode="or").collect()
    want = idx.search("the", field_name="text", results_per_page=5,
                      with_hit=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_resume_with_changed_params_refuses(spark, tmp_path_factory):
    """Resuming a segment build with different n_buckets/chunk_span
    must refuse instead of silently mixing pmod layouts."""
    from lucene_clj_spark import create_index
    from lucene_clj_spark.segments import build_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    path = str(tmp_path_factory.mktemp("mix") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(idx, n_buckets=4, chunk_span=64, block_size=16)
    with pytest.raises(ValueError, match="different segment parameters"):
        build_segments(idx, n_buckets=8, chunk_span=64, block_size=16,
                       resume=True)
    # explicit fresh rebuild with the new layout succeeds and clears
    # the old bucket dirs
    build_segments(idx, n_buckets=8, chunk_span=64, block_size=16,
                   resume=False)
    import os
    dirs = sorted(os.listdir(os.path.join(path, "segments")))
    assert all(d.startswith("bucket=") for d in dirs)
    assert len(dirs) <= 8
    # the guard must hold even when _segments_meta.json is missing
    # (pre-guard builds): bucket manifests embed the layout params and
    # are validated before any skip (ADVICE r01)
    os.remove(os.path.join(path, "manifests", "_segments_meta.json"))
    with pytest.raises(ValueError, match="different segment parameters"):
        build_segments(idx, n_buckets=4, chunk_span=64, block_size=16,
                       resume=True)
    # same params with no meta file: manifests validate clean, resume ok
    build_segments(idx, n_buckets=8, chunk_span=64, block_size=16,
                   resume=True)


def test_append_merge_matches_from_scratch(spark, tmp_path_factory):
    """Lucene's flush-then-merge model end-to-end: base build + two
    delta appends answer kernel queries bit-identically to a
    from-scratch build over the full corpus; merge_segments absorbs
    the deltas (manifests removed, block layout re-optimized) without
    changing any answer."""
    from lucene_clj_spark import create_index
    from lucene_clj_spark.segments import merge_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(90)
    base = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    root = tmp_path_factory.mktemp("delta")
    inc_path, full_path = str(root / "inc"), str(root / "full")
    inc = create_index(spark, base, {"text": "text"}, id_column="doc_id",
                       path=inc_path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(inc, n_buckets=4, chunk_span=32, block_size=8)
    inc.add_documents(b1, ignore_extra_columns=True)
    inc.add_documents(b2, ignore_extra_columns=True)

    full = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                        path=full_path, index_type="disk", re_create=True,
                        ignore_extra_columns=True)
    build_segments(full, n_buckets=4, chunk_span=32, block_size=8)

    def topk(idx, mode):
        return [
            (r["doc_id"], r["score"])
            for r in wand_topk(idx, "text", ["merge", "dup", "the"],
                               k=15, mode=mode).collect()
        ]

    for mode in ("or", "and"):
        assert topk(inc, mode) == topk(full, mode)

    man = os.path.join(inc_path, "manifests")
    assert sum(f.startswith("delta_") for f in os.listdir(man)) == 2
    before = topk(inc, "or")
    from lucene_clj_spark.segments import seg_dir

    merge_segments(inc)
    assert not any(f.startswith("delta_") for f in os.listdir(man))
    assert topk(inc, "or") == before
    # the merge wrote a NEW generation and repointed the meta; the
    # previous generation stays as the in-flight-reader grace window
    assert seg_dir(inc_path).endswith("segments_g2")
    assert os.path.isdir(os.path.join(inc_path, "segments"))
    # merged layout is block-optimal: same block count as from-scratch
    n_inc = spark.read.parquet(seg_dir(inc_path)).count()
    n_full = spark.read.parquet(seg_dir(full_path)).count()
    assert n_inc == n_full


def test_multi_field_pairs_kernel(spark, tmp_path_factory):
    """A map query spanning TWO text fields runs in ONE kernel pass
    (wand_pairs_topk): scores equal the sum of the per-field DataFrame
    scores, for both OR (sum) and AND (intersection) semantics."""
    import pandas as pd

    from lucene_clj_spark import create_index
    from lucene_clj_spark.wand import wand_pairs_topk

    rows = [
        (i,
         f"alpha title {'beta ' * (i % 3)}gamma",
         f"body delta {'epsilon ' * (i % 4)}zeta alpha")
        for i in range(40)
    ]
    path = str(tmp_path_factory.mktemp("mf") / "idx")
    idx = create_index(
        spark, spark.createDataFrame(rows, "doc_id long, title string, "
                                           "body string"),
        {"title": "text", "body": "text"}, id_column="doc_id",
        path=path, index_type="disk", re_create=True,
    )
    build_segments(idx, n_buckets=4, chunk_span=16, block_size=4)

    pairs = [("title", "beta"), ("body", "epsilon")]

    def field_scores(field, term):
        out = idx.search(term, field_name=field, results_per_page=100,
                         with_hit=False, strategy="dataframe").collect()
        return {r["doc_id"]: r["score"] for r in out}

    s_t = field_scores("title", "beta")
    s_b = field_scores("body", "epsilon")
    all_ids = set(s_t) | set(s_b)
    or_expect = sorted(
        ((d, s_t.get(d, 0.0) + s_b.get(d, 0.0)) for d in all_ids),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    and_expect = sorted(
        ((d, s_t[d] + s_b[d]) for d in set(s_t) & set(s_b)),
        key=lambda x: (-x[1], x[0]),
    )[:10]

    got_or = [(r["doc_id"], r["score"])
              for r in wand_pairs_topk(idx, pairs, k=10, mode="or").collect()]
    got_and = [(r["doc_id"], r["score"])
               for r in wand_pairs_topk(idx, pairs, k=10,
                                        mode="and").collect()]
    assert got_or == or_expect
    assert got_and == and_expect


def test_stream_chunks_reassembles_across_batches():
    """_stream_chunks must hand process() COMPLETE chunks even when a
    chunk's rows span multiple Arrow batches, and must never hold more
    than one chunk at a time."""
    import pandas as pd

    from lucene_clj_spark.wand import _stream_chunks

    batches = [
        pd.DataFrame({"chunk": [0, 0, 1], "v": [1, 2, 3]}),
        pd.DataFrame({"chunk": [1], "v": [4]}),
        pd.DataFrame({"chunk": [1, 2], "v": [5, 6]}),
        pd.DataFrame({"chunk": [], "v": []}),
        pd.DataFrame({"chunk": [3], "v": [7]}),
    ]
    seen = []
    _stream_chunks(iter(batches), lambda pdf: seen.append(
        (int(pdf["chunk"].iloc[0]), sorted(pdf["v"].tolist()))
    ))
    assert seen == [(0, [1, 2]), (1, [3, 4, 5]), (2, [6]), (3, [7])]


def test_multi_field_map_dataframe_plan_single_scan(disk_index):
    """VERDICT r02 item 4 'Done=' condition: the DataFrame plan for a
    two-field map query must contain exactly ONE postings scan (the
    broadcast leaf-relation join of _scored_tree), not
    join-per-clause."""
    plan = disk_index.search({"text": "merge", "lang": "de"},
                             with_hit=False, strategy="dataframe")
    s = plan._jdf.queryExecution().executedPlan().toString()
    n_scans = s.count("Scan parquet")
    assert n_scans == 1, f"expected 1 postings scan, saw {n_scans}"
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s


@pytest.mark.parametrize(
    "node_fn",
    [
        # (merge OR window) AND dup NOT scan — full one-level group tree
        lambda B, T, M, S: B(1.0, (
            (S if False else M, B(1.0, ((S, T(1.0, "text", "merge")),
                                        (S, T(1.0, "text", "window"))))),
            (M, T(1.0, "text", "dup")),
            ("MUST_NOT", T(1.0, "text", "scan")),
        )),
        # mixed MUST/SHOULD flat boolean
        lambda B, T, M, S: B(1.0, (
            (M, T(1.0, "text", "merge")),
            (S, T(1.0, "text", "dup")),
            (S, T(2.0, "text", "vector")),
        )),
        # boosted OR group + NOT
        lambda B, T, M, S: B(1.0, (
            (S, B(2.0, ((S, T(1.0, "text", "merge")),
                        (S, T(1.5, "text", "dup"))))),
            ("MUST_NOT", T(1.0, "text", "window")),
        )),
    ],
)
def test_group_tree_kernel_matches_dataframe(disk_index, node_fn):
    """One-level group trees ((a OR b) AND c NOT d, mixed MUST/SHOULD,
    boosted groups, MUST_NOT exclusion) execute on the segment tree
    kernel bit-identically to the DataFrame plan (_scored_tree) — same
    docs, same rank, same scores: both add a node's score in
    wand.sum_order."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    node = node_fn(BoolQ, TermQ, MUST, SHOULD)
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand")
    s = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s  # actually on the kernel
    got = got.collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_group_tree_kernel_missing_must_empty(disk_index):
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "zzzqqqxx")),))),
        (SHOULD, TermQ(1.0, "text", "merge")),
    ))
    # flatten unwraps the single-clause group to a MUST term; either
    # way the absent MUST empties the result on both paths
    got = disk_index.search(node, with_hit=False).collect()
    assert got == []


def test_group_tree_kernel_not_excludes(disk_index):
    """Docs matching the MUST_NOT group must vanish from kernel
    results even when they top the positive score order."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    node = BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "text", "merge")),
        ("MUST_NOT", TermQ(1.0, "text", "window")),
    ))
    got = disk_index.search(node, results_per_page=50, with_hit=False,
                            strategy="wand").collect()
    want = disk_index.search(node, results_per_page=50, with_hit=False,
                             strategy="dataframe").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # and the exclusion actually bites: some merge-docs contain window
    with_w = {
        r["doc_id"]
        for r in disk_index.search(
            ["merge", "window"], field_name="text", results_per_page=50,
            with_hit=False, strategy="dataframe").collect()
    }
    got_ids = {r["doc_id"] for r in got}
    assert with_w and not (got_ids & with_w)
    # a duplicate (field, term) pair across groups is NOT kernel-
    # eligible (per-(doc, pair) boost merge) — falls back cleanly
    dup = BoolQ(1.0, (
        (SHOULD, TermQ(1.0, "text", "merge")),
        ("MUST_NOT", TermQ(1.0, "text", "merge")),
    ))
    assert disk_index.search(dup, with_hit=False).collect() == []


def test_fuzzy_in_boolean_one_scan_and_kernel(disk_index):
    """A boolean with a fuzzy clause ('merg'~ AND window) expands the
    fuzzy into a weighted OR group of its dictionary expansions, so it
    takes the ONE-postings-scan group plan on the DataFrame path and
    the tree kernel on strategy='wand' — anchored against the
    unrewritten join of the untouched leaf plans
    (_scored_fuzzy ⋈ _scored_term)."""
    import math as m

    from lucene_clj_spark.query import MUST, BoolQ, FuzzyQ, TermQ
    from lucene_clj_spark.search import _scored_fuzzy, _scored_term

    node = BoolQ(1.0, (
        (MUST, FuzzyQ(1.0, "text", "merg")),
        (MUST, TermQ(1.0, "text", "window")),
    ))
    f = _scored_fuzzy(disk_index, FuzzyQ(1.0, "text", "merg"))
    t = _scored_term(disk_index, TermQ(1.0, "text", "window"))
    exp = (
        f.withColumnRenamed("score", "s1")
        .join(t.withColumnRenamed("score", "s2"), "doc_id")
        .select("doc_id", (F.col("s1") + F.col("s2")).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    ).collect()
    assert exp  # the conjunction is non-trivial at sf0.01
    got_df = disk_index.search(node, results_per_page=10, with_hit=False,
                               strategy="dataframe")
    s = got_df._jdf.queryExecution().executedPlan().toString()
    n_scans = s.count("Scan parquet")
    assert n_scans == 1, f"expected one postings scan, saw {n_scans}"
    got_df = got_df.collect()
    got_k = disk_index.search(node, results_per_page=10, with_hit=False,
                              strategy="wand")
    sk = got_k._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in sk
    got_k = got_k.collect()
    for got in (got_df, got_k):
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
        for a, b in zip(got, exp):
            assert abs(a["score"] - b["score"]) <= 4 * m.ulp(b["score"])


def test_fuzzy_must_not_excludes_expansions(disk_index):
    """A MUST_NOT fuzzy clause excludes every doc matching ANY of its
    expansions — on both paths; anchored against an explicit
    anti-join of the leaf plans."""
    from lucene_clj_spark.query import MUST, BoolQ, FuzzyQ, TermQ
    from lucene_clj_spark.search import _scored_fuzzy, _scored_term

    node = BoolQ(1.0, (
        (MUST, TermQ(1.0, "text", "window")),
        ("MUST_NOT", FuzzyQ(1.0, "text", "merg")),
    ))
    t = _scored_term(disk_index, TermQ(1.0, "text", "window"))
    f = _scored_fuzzy(disk_index, FuzzyQ(1.0, "text", "merg"))
    exp = (
        t.join(f.select("doc_id"), "doc_id", "left_anti")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    ).collect()
    assert exp
    for strategy in ("dataframe", "wand"):
        got = disk_index.search(node, results_per_page=20, with_hit=False,
                                strategy=strategy).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in exp
        ]
    # and the exclusion bites: some window-docs match the fuzzy
    full = {r["doc_id"] for r in t.collect()}
    assert full - {r["doc_id"] for r in exp}


def test_multi_field_fuzzy_map_matches_union_anchor(disk_index):
    """search(..., fuzzy=True) with a multi-field map is a SHOULD of
    per-field FuzzyQs (combine_fuzzy); after the expansion rewrite it
    must still equal the union-sum of the untouched per-field fuzzy
    plans (route choice is correctness-neutral)."""
    import math as m

    from lucene_clj_spark.query import FuzzyQ
    from lucene_clj_spark.search import _scored_fuzzy

    f1 = _scored_fuzzy(disk_index, FuzzyQ(1.0, "text", "merg"))
    f2 = _scored_fuzzy(disk_index, FuzzyQ(1.0, "lang", "de"))
    exp = (
        f1.unionByName(f2)
        .groupBy("doc_id")
        .agg(F.sum("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    ).collect()
    got = disk_index.search({"text": "merg", "lang": "de"}, fuzzy=True,
                            results_per_page=10, with_hit=False).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    for a, b in zip(got, exp):
        assert abs(a["score"] - b["score"]) <= 4 * m.ulp(b["score"])


@pytest.mark.parametrize(
    "node_fn",
    [
        # "the merge" AND window — MUST phrase + MUST term
        lambda B, T, P, M, S: B(1.0, (
            (M, P(1.0, "text", ("the", "merge"))),
            (M, T(1.0, "text", "window")),
        )),
        # phrase OR term (SHOULD mix)
        lambda B, T, P, M, S: B(1.0, (
            (S, P(1.0, "text", ("the", "merge"))),
            (S, T(1.0, "text", "window")),
        )),
        # boosted phrase inside a boosted OR group + a MUST term
        lambda B, T, P, M, S: B(1.0, (
            (S, B(2.0, ((S, P(1.5, "text", ("the", "merge"))),
                        (S, T(1.0, "text", "dup"))))),
            (M, T(1.0, "text", "window")),
        )),
        # NOT phrase: window docs minus exact-"the merge" docs
        lambda B, T, P, M, S: B(1.0, (
            (M, T(1.0, "text", "window")),
            ("MUST_NOT", P(1.0, "text", ("the", "merge"))),
        )),
        # three-term phrase + term
        lambda B, T, P, M, S: B(1.0, (
            (M, P(1.0, "text", ("row", "column", "sort"))),
            (S, T(1.0, "text", "merge")),
        )),
    ],
)
def test_phrase_in_boolean_group_kernel_matches(disk_index, node_fn):
    """Booleans mixing phrase and term clauses execute on the group
    kernel (phrase members scored in-scan from positions) and match
    the DataFrame join path: same docs, same rank, scores within a
    few ULPs (sum-order differences across paths)."""
    import math as m

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ

    node = node_fn(BoolQ, TermQ, PhraseQ, MUST, SHOULD)
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand")
    s = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s
    got = got.collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 4 * m.ulp(b["score"]), (
            a["doc_id"], a["score"], b["score"]
        )


def test_phrase_in_boolean_dsl_route(disk_index):
    """The DSL form '"the merge" AND window' takes the same kernel
    path and matches the DataFrame plan, and the mixed boolean result
    is non-trivial (some window docs lack the phrase)."""
    from lucene_clj_spark.query import parse_dsl

    ast = parse_dsl('"the merge" AND window', "text", disk_index.specs,
                    disk_index.analyzers)
    want = disk_index.search(ast, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(ast, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want and [r["doc_id"] for r in got] == [
        r["doc_id"] for r in want
    ]
    only_window = disk_index.search("window", field_name="text",
                                    results_per_page=10, with_hit=False,
                                    strategy="dataframe").collect()
    assert [r["doc_id"] for r in only_window] != [
        r["doc_id"] for r in want
    ]


def test_phrase_in_boolean_absent_term(disk_index):
    """A MUST phrase with an absent term empties the result on the
    kernel; a SHOULD phrase with an absent term just drops out."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ

    must = BoolQ(1.0, (
        (MUST, PhraseQ(1.0, "text", ("the", "zzzznotaterm"))),
        (MUST, TermQ(1.0, "text", "window")),
    ))
    assert disk_index.search(must, with_hit=False,
                             strategy="wand").collect() == []
    should = BoolQ(1.0, (
        (SHOULD, PhraseQ(1.0, "text", ("the", "zzzznotaterm"))),
        (SHOULD, TermQ(1.0, "text", "window")),
    ))
    got = disk_index.search(should, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    want = disk_index.search("window", field_name="text",
                             results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_multi_field_map_with_phrase_routes_group(disk_index):
    """A MAP query whose value is a phrase — {text: "the merge",
    lang: de} — routes through the tree kernel (phrase scored
    in-scan, keyword exact as a cross-field MUST term) and matches
    the DataFrame path exactly."""
    import math as m

    from lucene_clj_spark.query import parse
    from lucene_clj_spark.search import _wand_route

    node = parse({"text": "the merge", "lang": "de"},
                 disk_index.specs, disk_index.analyzers)
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == "tree"
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 4 * m.ulp(b["score"])


@pytest.mark.parametrize(
    "node_fn",
    [
        # a AND (a OR b): 'merge' scored twice for docs matching it
        lambda B, T, M, S: B(1.0, (
            (M, T(1.0, "text", "merge")),
            (M, B(1.0, ((S, T(1.0, "text", "merge")),
                        (S, T(1.0, "text", "window"))))),
        )),
        # boosted duplicates across groups
        lambda B, T, M, S: B(1.0, (
            (M, T(2.0, "text", "merge")),
            (S, B(1.5, ((S, T(0.5, "text", "merge")),
                        (S, T(1.0, "text", "dup"))))),
        )),
        # duplicate inside ONE group: (a OR a OR b)
        lambda B, T, M, S: B(1.0, (
            (M, B(1.0, ((S, T(1.0, "text", "merge")),
                        (S, T(1.0, "text", "merge")),
                        (S, T(1.0, "text", "window"))))),
            (S, T(1.0, "text", "dup")),
        )),
        # NOT-drop: b AND (a OR c) NOT a == b AND c NOT a
        lambda B, T, M, S: B(1.0, (
            (M, T(1.0, "text", "window")),
            (M, B(1.0, ((S, T(1.0, "text", "merge")),
                        (S, T(1.0, "text", "dup"))))),
            ("MUST_NOT", T(1.0, "text", "merge")),
        )),
    ],
)
def test_duplicate_pair_group_tree_routes_kernel(disk_index, node_fn):
    """Group trees with duplicate (field, term) pairs across clauses
    execute on the tree kernel — each occurrence fans out from
    one block decode — and match the DataFrame join-fan-out path
    doc-for-doc, scores within a few ULPs."""
    import math as m

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ
    from lucene_clj_spark.search import _wand_route

    node = node_fn(BoolQ, TermQ, MUST, SHOULD)
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == "tree"
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(b["score"]), (
            a["doc_id"], a["score"], b["score"]
        )


def test_duplicate_pair_must_fully_excluded_is_empty(disk_index):
    """A MUST group whose every member also has a MUST_NOT occurrence
    can only be satisfied by excluded docs: route short-circuits to an
    empty result, matching the DataFrame path."""
    from lucene_clj_spark.query import MUST, BoolQ, TermQ
    from lucene_clj_spark.search import _wand_route

    node = BoolQ(1.0, (
        (MUST, TermQ(1.0, "text", "merge")),
        (MUST, TermQ(1.0, "text", "window")),
        ("MUST_NOT", TermQ(1.0, "text", "merge")),
    ))
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == "tree"
    assert disk_index.search(node, with_hit=False,
                             strategy="wand").collect() == []
    assert disk_index.search(node, with_hit=False,
                             strategy="dataframe").collect() == []


def test_phrase_term_collision_falls_back(disk_index):
    """A phrase constituent colliding with a term clause's (field,
    term) pair is NOT kernel-eligible (per-(doc, pair) merge) — falls
    back to the DataFrame path, still correct."""
    from lucene_clj_spark.query import MUST, BoolQ, PhraseQ, TermQ
    from lucene_clj_spark.search import _wand_route

    node = BoolQ(1.0, (
        (MUST, PhraseQ(1.0, "text", ("the", "merge"))),
        (MUST, TermQ(1.0, "text", "merge")),
    ))
    assert _wand_route(disk_index, node) is None
    got = disk_index.search(node, results_per_page=5,
                            with_hit=False).collect()
    # every hit must contain both the phrase and the term (trivially
    # implied here) — just assert the query executes and is bounded
    assert len(got) <= 5


def test_random_mixed_trees_kernel_matches_dataframe(disk_index):
    """Property check: randomized one-level boolean trees mixing term
    AND PHRASE leaves (direct or inside OR groups, boosted, MUST /
    SHOULD / MUST_NOT) agree between auto-routed execution (kernel
    when eligible) and the DataFrame path — doc-for-doc, scores to a
    few ULPs. Ineligible shapes (phrase-constituent collisions) must
    fall back cleanly — duplicate TERM pairs stay kernel-eligible —
    and enough trials must actually route to prove kernel coverage."""
    import math as m
    import random

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ
    from lucene_clj_spark.search import _wand_route

    terms = ["merge", "window", "dup", "scan", "vector", "the", "row",
             "column", "sort"]
    phrases = [("the", "merge"), ("row", "column"), ("column", "sort"),
               ("the", "window"), ("row", "column", "sort")]
    rng = random.Random(13)
    routed = 0
    for trial in range(10):
        used: set = set()

        def leaf():
            # prefer collision-free leaves so most trials stay
            # kernel-eligible; an occasional duplicate pair exercises
            # the term fan-out (and, with phrases, the fallback path)
            for _ in range(6):
                if rng.random() < 0.35:
                    p = rng.choice(phrases)
                    if used.isdisjoint(p):
                        used.update(p)
                        return PhraseQ(rng.choice([1.0, 1.0, 2.0]),
                                       "text", tuple(p))
                else:
                    t = rng.choice(terms)
                    if t not in used:
                        used.add(t)
                        return TermQ(rng.choice([1.0, 1.0, 0.5, 2.0]),
                                     "text", t)
            return TermQ(1.0, "text", rng.choice(terms))

        clauses = []
        for _ in range(rng.randint(2, 4)):
            occ = rng.choice([MUST, SHOULD, SHOULD, "MUST_NOT"])
            if rng.random() < 0.4:
                child = BoolQ(
                    rng.choice([1.0, 1.0, 2.0]),
                    tuple((SHOULD, leaf())
                          for _ in range(rng.randint(1, 3))),
                )
            else:
                child = leaf()
            clauses.append((occ, child))
        if all(o == "MUST_NOT" for o, _ in clauses):
            clauses.append((SHOULD, leaf()))
        node = BoolQ(1.0, tuple(clauses))
        if _wand_route(disk_index, node) is not None:
            routed += 1
        want = disk_index.search(node, results_per_page=15,
                                 with_hit=False,
                                 strategy="dataframe").collect()
        got = disk_index.search(node, results_per_page=15,
                                with_hit=False).collect()
        assert [r["doc_id"] for r in got] == [
            r["doc_id"] for r in want
        ], f"trial {trial}: {node}"
        for a, b in zip(got, want):
            assert abs(a["score"] - b["score"]) <= 8 * m.ulp(
                max(abs(b["score"]), 1e-300)
            ), (trial, node, a["doc_id"])
    assert routed >= 4


def test_phrase_in_boolean_search_after(disk_index):
    """Keyset pagination rides into the mixed phrase+term group
    kernel: page 2 via search_after matches the DataFrame path."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ

    node = BoolQ(1.0, (
        (SHOULD, PhraseQ(1.0, "text", ("row", "column"))),
        (SHOULD, TermQ(1.0, "text", "window")),
        (MUST, TermQ(1.0, "text", "the")),
    ))
    p1 = disk_index.search(node, results_per_page=5, with_hit=False,
                           strategy="wand").collect()
    assert len(p1) == 5
    last = p1[-1]
    got = disk_index.search(node, results_per_page=5, with_hit=False,
                            search_after=last, strategy="wand").collect()
    want = disk_index.search(node, results_per_page=5, with_hit=False,
                             search_after=last,
                             strategy="dataframe").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    assert got and {r["doc_id"] for r in got}.isdisjoint(
        {r["doc_id"] for r in p1}
    )


def test_merge_generation_swap_crash_safe(spark, tmp_path_factory):
    """Merges never rename or delete the LIVE generation: a crashed
    merge (partial next-gen dir, pointer not swapped) leaves queries
    untouched; the next merge overwrites the partial dir and commits
    by atomically repointing the meta. Repeated merges keep exactly
    one grace generation behind the live one."""
    import shutil

    from lucene_clj_spark import create_index
    from lucene_clj_spark.segments import merge_segments, seg_dir

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    path = str(tmp_path_factory.mktemp("genswap") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(idx, n_buckets=2, chunk_span=32, block_size=8)
    before = [(r["doc_id"], r["score"])
              for r in wand_topk(idx, "text", ["the"], k=5).collect()]
    # simulate a crashed merge: partial next-gen dir, pointer NOT moved
    os.makedirs(os.path.join(path, "segments_g2", "bucket=0"))
    with open(os.path.join(path, "segments_g2", "bucket=0",
                           "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert seg_dir(path).endswith("/segments")  # pointer unmoved
    assert [(r["doc_id"], r["score"])
            for r in wand_topk(idx, "text", ["the"], k=5).collect()
            ] == before
    merge_segments(idx)  # overwrites the partial dir, commits g2
    assert seg_dir(path).endswith("segments_g2")
    assert [(r["doc_id"], r["score"])
            for r in wand_topk(idx, "text", ["the"], k=5).collect()
            ] == before
    # second merge: g3 live, g2 grace, g1 deleted
    merge_segments(idx)
    assert seg_dir(path).endswith("segments_g3")
    assert os.path.isdir(os.path.join(path, "segments_g2"))
    assert not os.path.isdir(os.path.join(path, "segments"))
    assert [(r["doc_id"], r["score"])
            for r in wand_topk(idx, "text", ["the"], k=5).collect()
            ] == before


def test_old_format_segments_fall_back_not_raise(spark, tmp_path_factory):
    """Segments written by an older engine format: strategy='auto'
    must fall back to the DataFrame path (correct answers), not raise;
    strategy='wand' still refuses (code-review r03)."""
    import json as _json

    import pytest as _pytest

    from lucene_clj_spark import create_index
    from lucene_clj_spark.errors import ValidationError

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    path = str(tmp_path_factory.mktemp("oldfmt") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(idx, n_buckets=2, chunk_span=32, block_size=8)
    meta_path = os.path.join(path, "manifests", "_segments_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta.pop("format", None)  # pre-format-2 build
    with open(meta_path, "w") as fh:
        _json.dump(meta, fh)
    out = idx.search("the", field_name="text", with_hit=False)
    s = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in s  # DataFrame fallback, no kernel
    assert out.count() > 0
    with _pytest.raises(ValidationError):
        idx.search("the", field_name="text", strategy="wand")


def test_incomplete_segments_fall_back_not_serve_partial(
    spark, tmp_path_factory
):
    """A build killed mid-flight leaves some buckets unencoded. Serving
    those segments would silently DROP the missing buckets' postings
    from top-k — auto must fall back to the DataFrame path, and a
    direct kernel call must raise naming the missing buckets
    (discovered by this round's real kill -9 drill)."""
    import shutil

    from lucene_clj_spark import create_index
    from lucene_clj_spark.errors import ValidationError

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    path = str(tmp_path_factory.mktemp("partial") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(idx, n_buckets=4, chunk_span=32, block_size=8)
    complete = idx.search("the", field_name="text", with_hit=False).collect()
    # simulate the mid-build kill: one bucket not yet committed
    os.remove(os.path.join(path, "manifests", "bucket_2.json"))
    shutil.rmtree(os.path.join(path, "segments", "bucket=2"))
    out = idx.search("the", field_name="text", with_hit=False)
    s = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in s  # fell back — not serving partial
    assert [(r["doc_id"], r["score"]) for r in out.collect()] == [
        (r["doc_id"], r["score"]) for r in complete
    ]
    with pytest.raises(ValidationError, match="INCOMPLETE"):
        wand_topk(idx, "text", ["the"], k=5).collect()
    with pytest.raises(ValidationError):
        idx.search("the", field_name="text", strategy="wand")
    # resume completes the build and the kernel comes back
    build_segments(idx, n_buckets=4, chunk_span=32, block_size=8)
    back = idx.search("the", field_name="text", with_hit=False)
    assert "MapInPandas" in (
        back._jdf.queryExecution().executedPlan().toString()
    )
    assert [(r["doc_id"], r["score"]) for r in back.collect()] == [
        (r["doc_id"], r["score"]) for r in complete
    ]


@pytest.mark.parametrize("q,kw", [
    ("merge", {"field_name": "text"}),
    ({"text": {"merge", "dup", "vector"}}, {}),
    ({"text": "merge", "lang": "de"}, {}),
    ("the merge", {"field_name": "text"}),   # tree-kernel phrase leaf
    ({"text": "merg"}, {"fuzzy": True}),     # tree kernel, fuzzy OR
])
def test_search_after_kernel_matches_dataframe(disk_index, q, kw):
    """Keyset pagination rides the kernels: page 1 top-5, then
    search_after from its last hit — both pages kernel-executed and
    identical to the DataFrame path (S4 on the scale path)."""
    p1 = disk_index.search(q, results_per_page=5, with_hit=False, **kw)
    assert "MapInPandas" in (
        p1._jdf.queryExecution().executedPlan().toString()
    )
    p1 = p1.collect()
    assert p1
    last = {"score": p1[-1]["score"], "doc_id": p1[-1]["doc_id"]}
    got = disk_index.search(q, results_per_page=5, with_hit=False,
                            search_after=last, **kw)
    s = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s  # kernel serves the keyset page too
    want = disk_index.search(q, results_per_page=5, with_hit=False,
                             search_after=last, strategy="dataframe", **kw)
    got, want = got.collect(), want.collect()
    # same docs same rank; scores may differ by a few ULPs on 3+-term
    # sums (non-associative float addition across differing physical
    # row orders — see test_group_tree_kernel_matches_dataframe)
    import math as m

    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 4 * m.ulp(b["score"])


# ---------------------------------------------------------------------------
# Arbitrary-depth boolean trees: one-scan execution on BOTH paths
# ---------------------------------------------------------------------------

def _nested_shapes():
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ as B, TermQ as T
    N = "MUST_NOT"
    return [
        # ((a AND b) OR (c AND d)) — inner MUST groups, depth 2
        B(1.0, (
            (SHOULD, B(1.0, ((MUST, T(1.0, "text", "merge")),
                             (MUST, T(1.0, "text", "window"))))),
            (SHOULD, B(1.0, ((MUST, T(1.0, "text", "dup")),
                             (MUST, T(1.0, "text", "scan"))))),
        )),
        # NOT inside a positive subtree (local exclusion, not global)
        B(1.0, (
            (MUST, B(1.0, ((MUST, T(1.0, "text", "merge")),
                           (N, T(1.0, "text", "window"))))),
            (SHOULD, T(1.5, "text", "dup")),
        )),
        # depth 3 with boosted inner nodes and a compound MUST_NOT
        B(1.0, (
            (MUST, B(2.0, (
                (SHOULD, B(0.5, ((MUST, T(1.0, "text", "merge")),
                                 (SHOULD, T(2.0, "text", "dup"))))),
                (SHOULD, T(1.0, "text", "scan")),
            ))),
            (N, B(1.0, ((MUST, T(1.0, "text", "window")),
                        (MUST, T(1.0, "text", "scan"))))),
        )),
        # same pair scored at one depth, excluded deeper (mixed usage)
        B(1.0, (
            (MUST, T(1.0, "text", "merge")),
            (SHOULD, B(1.0, ((MUST, T(1.0, "text", "dup")),
                             (N, T(1.0, "text", "merge"))))),
        )),
        # an absent term starves one inner MUST; the other branch lives
        B(1.0, (
            (SHOULD, B(1.0, ((MUST, T(1.0, "text", "zzznotaterm")),
                             (MUST, T(1.0, "text", "merge"))))),
            (SHOULD, T(1.0, "text", "window")),
        )),
        # boosted ROOT (group paths require boost==1; the tree folds it)
        B(2.0, (
            (SHOULD, B(1.0, ((MUST, T(1.0, "text", "merge")),
                             (MUST, T(1.0, "text", "dup"))))),
            (SHOULD, T(0.5, "text", "window")),
        )),
        # multi-field nesting
        B(1.0, (
            (MUST, B(1.0, ((SHOULD, B(1.0, (
                (MUST, T(1.0, "text", "merge")),
                (MUST, T(1.0, "lang", "de"))))),
                (SHOULD, T(1.0, "text", "dup"))))),
            (SHOULD, T(1.0, "text", "window")),
        )),
    ]


@pytest.mark.parametrize("i", range(len(_nested_shapes())))
def test_nested_tree_kernel_matches_dataframe(disk_index, i):
    """Depth>=2 boolean trees route to the arbitrary-depth tree kernel
    (mode 'tree') and match the DataFrame path doc-for-doc and bit for
    bit (both add a node's score in wand.sum_order)."""
    from lucene_clj_spark.search import _wand_route

    node = _nested_shapes()[i]
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == "tree"
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want, "shape should match something"
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


@pytest.mark.parametrize("i", range(len(_nested_shapes())))
def test_scored_tree_matches_joins_compiler(disk_index, i):
    """_scored_tree (one-scan tree-expression plan) is pinned against
    the fully-general recursive join compiler _scored_bool_joins — the
    semantic reference for nested Lucene BooleanQuery scoring."""
    import math as m

    from pyspark.sql import functions as SF

    from lucene_clj_spark.search import (
        _bool_tree_spec,
        _scored_bool_joins,
        _scored_tree,
    )

    node = _nested_shapes()[i]
    spec = _bool_tree_spec(node)
    assert spec is not None
    ref = (_scored_bool_joins(disk_index, node)
           .orderBy(SF.desc("score"), SF.asc("doc_id")).limit(10).collect())
    got = (_scored_tree(disk_index, *spec)
           .orderBy(SF.desc("score"), SF.asc("doc_id")).limit(10).collect())
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in ref]
    for a, b in zip(got, ref):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(abs(b["score"]))


def test_nested_tree_dataframe_plan_single_scan(disk_index):
    """The one-scan contract at depth: a nested tree's DataFrame plan
    holds exactly ONE postings scan (broadcast leaf relation + one
    doc-keyed aggregation + tree expression), not join-per-clause."""
    node = _nested_shapes()[0]
    plan = disk_index.search(node, with_hit=False, strategy="dataframe")
    s = plan._jdf.queryExecution().executedPlan().toString()
    n_scans = s.count("Scan parquet")
    assert n_scans == 1, f"expected 1 postings scan, saw {n_scans}"
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s
    pf = s.split("PartitionFilters", 1)[1][:250]
    assert "bucket" in pf  # bucket-pruned like every other term path


def test_nested_tree_search_after_kernel_matches(disk_index):
    """Keyset pagination rides the tree kernel: page 1 top-5, then
    search_after from its last hit — both kernel-executed, identical
    to the DataFrame path."""
    import math as m

    node = _nested_shapes()[0]
    p1 = disk_index.search(node, results_per_page=5, with_hit=False)
    assert "MapInPandas" in (
        p1._jdf.queryExecution().executedPlan().toString())
    p1 = p1.collect()
    assert p1
    last = {"score": p1[-1]["score"], "doc_id": p1[-1]["doc_id"]}
    got = disk_index.search(node, results_per_page=5, with_hit=False,
                            search_after=last)
    assert "MapInPandas" in (
        got._jdf.queryExecution().executedPlan().toString())
    want = disk_index.search(node, results_per_page=5, with_hit=False,
                             search_after=last, strategy="dataframe")
    got, want = got.collect(), want.collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 4 * m.ulp(b["score"])


def test_nested_tree_starved_root_is_empty(disk_index):
    """An absent leaf that starves EVERY positive branch empties the
    result on both paths without running a scoring job."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, (
            (SHOULD, BoolQ(1.0, ((MUST, TermQ(1.0, "text", "zzznope")),
                                 (MUST, TermQ(1.0, "text", "merge"))))),
        ))),
        (SHOULD, TermQ(1.0, "text", "window")),
    ))
    assert disk_index.search(node, with_hit=False,
                             strategy="wand").collect() == []
    assert disk_index.search(node, with_hit=False,
                             strategy="dataframe").collect() == []


def test_random_nested_trees_kernel_matches_dataframe(disk_index):
    """Fuzz: random depth-<=3 trees (boosts, MUST/SHOULD/MUST_NOT,
    unknown terms, multi-field leaves) agree between the auto-routed
    kernel and the DataFrame path; enough trials must actually route
    as 'tree' to prove coverage."""
    import math as m
    import random

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ
    from lucene_clj_spark.search import _wand_route

    rng = random.Random(20260817)
    vocab = [("text", t) for t in
             ["merge", "window", "dup", "scan", "compact", "zzznope",
              "index", "the"]] + [("lang", "de"), ("lang", "en")]

    def rand_tree(depth):
        cls = []
        for _ in range(rng.randint(2, 4)):
            occ = rng.choice([MUST, SHOULD, SHOULD, "MUST_NOT"])
            if depth > 0 and rng.random() < 0.55:
                child = rand_tree(depth - 1)
            else:
                f, t = rng.choice(vocab)
                child = TermQ(rng.choice([0.5, 1.0, 2.0]), f, t)
            cls.append((occ, child))
        return BoolQ(rng.choice([0.5, 1.0, 1.0, 2.0]), tuple(cls))

    routed = 0
    for _ in range(25):
        node = rand_tree(rng.randint(2, 3))
        route = _wand_route(disk_index, node)
        want = disk_index.search(node, results_per_page=10,
                                 with_hit=False,
                                 strategy="dataframe").collect()
        got = disk_index.search(node, results_per_page=10,
                                with_hit=False).collect()
        if route is not None and route[0] == "tree":
            routed += 1
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        for a, b in zip(got, want):
            assert abs(a["score"] - b["score"]) <= 8 * m.ulp(
                max(abs(b["score"]), 1e-300)), (a, b)
    assert routed >= 12, f"only {routed}/25 trials routed 'tree'"


def test_nested_tree_with_fuzzy_leaf_routes_tree(disk_index):
    """A FuzzyQ leaf BELOW depth 1 expands into a weighted term
    OR-group (memoized driver-side), so the whole tree still routes to
    the tree kernel and matches the DataFrame path."""
    import math as m

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, FuzzyQ, TermQ
    from lucene_clj_spark.search import _wand_route

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, (
            (SHOULD, BoolQ(1.0, ((MUST, TermQ(1.0, "text", "window")),
                                 (MUST, FuzzyQ(1.0, "text", "merg"))))),
            (SHOULD, TermQ(1.0, "text", "dup")),
        ))),
        (SHOULD, TermQ(0.5, "text", "scan")),
    ))
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == "tree"
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(b["score"])


def test_nested_tree_fuzzy_joins_parity(disk_index):
    """The deep-expanded tree plan is pinned against the join compiler
    run on the ORIGINAL tree (whose recursion expands fuzzy level by
    level) — the two rewrites must be score-equivalent."""
    import math as m

    from pyspark.sql import functions as SF

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, FuzzyQ, TermQ
    from lucene_clj_spark.search import (
        _bool_tree_spec,
        _expand_fuzzy_deep,
        _scored_bool_joins,
        _scored_tree,
    )

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, ((MUST, TermQ(1.0, "text", "window")),
                           (SHOULD, FuzzyQ(2.0, "text", "merg"))))),
        ("MUST_NOT", TermQ(1.0, "text", "compact")),
    ))
    assert _bool_tree_spec(node) is None  # fuzzy at depth: not term-only
    deep = _expand_fuzzy_deep(disk_index, node)
    spec = _bool_tree_spec(deep)
    assert spec is not None
    ref = (_scored_bool_joins(disk_index, node)
           .orderBy(SF.desc("score"), SF.asc("doc_id")).limit(10).collect())
    got = (_scored_tree(disk_index, *spec)
           .orderBy(SF.desc("score"), SF.asc("doc_id")).limit(10).collect())
    assert ref
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in ref]
    for a, b in zip(got, ref):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(abs(b["score"]))


def test_nested_tree_fuzzy_no_expansions_starves_must(disk_index):
    """A deep MUST fuzzy with zero dictionary expansions becomes a
    never-matching node: the subtree can't match, and a root that
    depends on it empties — on both paths."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, FuzzyQ, TermQ

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, (
            (MUST, FuzzyQ(1.0, "text", "zzqzzqzzq", 1)),
            (MUST, TermQ(1.0, "text", "merge")),
        ))),
        (SHOULD, TermQ(1.0, "text", "window")),
    ))
    assert disk_index.search(node, with_hit=False,
                             strategy="wand").collect() == []
    assert disk_index.search(node, with_hit=False,
                             strategy="dataframe").collect() == []


@pytest.mark.parametrize("shape", ["deep", "not_deep", "or_of_ands"])
def test_nested_tree_phrase_leaf_kernel_matches(disk_index, shape):
    """PhraseQ leaves at ANY depth execute in-scan inside the tree
    kernel (positions decoded lazily per block) and match the
    DataFrame join compiler doc-for-doc."""
    import math as m

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ
    from lucene_clj_spark.search import _wand_route

    N = "MUST_NOT"
    nodes = {
        "deep": BoolQ(1.0, (
            (MUST, BoolQ(1.0, (
                (SHOULD, BoolQ(1.0, (
                    (MUST, PhraseQ(1.0, "text", ("the", "merge"))),
                    (SHOULD, TermQ(2.0, "text", "dup"))))),
                (SHOULD, TermQ(1.0, "text", "scan")),
            ))),
            (SHOULD, TermQ(0.5, "text", "window")),
        )),
        "not_deep": BoolQ(1.0, (
            (MUST, TermQ(1.0, "text", "window")),
            (SHOULD, BoolQ(1.0, (
                (MUST, TermQ(1.0, "text", "dup")),
                (N, PhraseQ(1.0, "text", ("the", "merge")))))),
        )),
        "or_of_ands": BoolQ(1.0, (
            (SHOULD, BoolQ(1.0, (
                (MUST, PhraseQ(2.0, "text", ("the", "merge"))),
                (MUST, TermQ(1.0, "text", "dup"))))),
            (SHOULD, BoolQ(1.0, (
                (MUST, TermQ(1.0, "text", "scan")),
                (MUST, TermQ(1.0, "text", "window"))))),
        )),
    }
    node = nodes[shape]
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == "tree"
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert want
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(b["score"])


def test_nested_tree_phrase_term_collision_falls_back(disk_index):
    """A phrase constituent sharing a (field, term) pair with a term
    leaf anywhere in the tree is NOT tree-kernel-eligible (the two
    scans would double-carry the same blocks) — falls back cleanly."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ
    from lucene_clj_spark.search import _wand_route

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, (
            (MUST, PhraseQ(1.0, "text", ("the", "merge"))),
            (SHOULD, TermQ(1.0, "text", "dup"))))),
        (SHOULD, TermQ(1.0, "text", "merge")),
    ))
    assert _wand_route(disk_index, node) is None
    # the DataFrame fallback still answers it
    assert disk_index.search(node, with_hit=False,
                             strategy="dataframe").collect()


def test_flat_or_group_collapses_in_tree_agg(disk_index):
    """A flat all-SHOULD term group ANYWHERE in a nested tree (e.g. a
    fuzzy clause's expansion OR-group, up to 50 members) collapses to
    ONE aggregation column (matched = sum-not-null), so aggregation
    width follows the query's clause structure, not the expansion
    fan-out — past ~100 agg columns Spark silently drops whole-stage
    codegen for the aggregate. Asserted on the analyzed plan (the
    optimizer later folds the aliases into the final expressions)."""
    import math as m
    import re

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, (
            (MUST, TermQ(1.0, "text", "window")),
            (SHOULD, BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "merge")),
                                 (SHOULD, TermQ(0.5, "text", "dup")),
                                 (SHOULD, TermQ(1.0, "text", "compact"))
                                 )))))),
        (SHOULD, TermQ(1.0, "text", "scan")),
    ))
    df = disk_index.search(node, with_hit=False, strategy="dataframe")
    s = df._jdf.queryExecution().analyzed().toString()
    assert "__g0" in s, "OR-group should collapse to one agg column"
    # solo leaf columns stay proportional to the written clause count
    # (window + scan), not the group fan-out
    assert len(set(re.findall(r"__l\d+", s))) == 2
    # and the collapsed plan still matches the kernel
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = disk_index.search(node, results_per_page=10, with_hit=False,
                            strategy="wand").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(b["score"])


def test_append_after_merge_kernels_stay_exact(spark, tmp_path_factory):
    """The full ingest lifecycle across segment GENERATIONS: base build
    -> delta append (gen 1) -> merge (gen 2) -> delta append ON TOP OF
    the merged generation -> second merge (gen 3). At the mixed
    gen2+delta stage the OR, phrase and arbitrary-depth tree kernels
    must all answer bit-identically to a from-scratch build over the
    same corpus; the second merge must absorb the delta, advance the
    generation pointer, keep exactly one grace generation, and change
    no answer."""
    from lucene_clj_spark.query import PhraseQ, parse_dsl
    from lucene_clj_spark.segments import merge_segments, seg_dir

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    root = tmp_path_factory.mktemp("lifecycle")
    inc_path, full_path = str(root / "inc"), str(root / "full")
    inc = create_index(
        spark, parts[0].unionByName(parts[1]), {"text": "text"},
        id_column="doc_id", path=inc_path, index_type="disk",
        re_create=True, ignore_extra_columns=True,
    )
    build_segments(inc, n_buckets=4, chunk_span=32, block_size=8)
    inc.add_documents(parts[2], ignore_extra_columns=True)  # delta on g1
    merge_segments(inc)                                     # -> g2
    inc.add_documents(parts[3], ignore_extra_columns=True)  # delta on g2

    full = create_index(
        spark, docs, {"text": "text"}, id_column="doc_id",
        path=full_path, index_type="disk", re_create=True,
        ignore_extra_columns=True,
    )
    build_segments(full, n_buckets=4, chunk_span=32, block_size=8)

    def col(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    assert col(wand_topk(inc, "text", ["merge", "dup", "the"], k=15,
                         mode="or")) == \
        col(wand_topk(full, "text", ["merge", "dup", "the"], k=15,
                      mode="or"))
    phrase = PhraseQ(1.0, "text", ("merge", "window"))
    assert col(inc.search(phrase, results_per_page=10, with_hit=False,
                          strategy="wand")) == \
        col(full.search(phrase, results_per_page=10, with_hit=False,
                        strategy="wand"))
    node = parse_dsl(
        "((merge AND window) OR (dup AND scan)) NOT compact",
        "text", inc.specs, inc.analyzers,
    )
    got = inc.search(node, results_per_page=10, with_hit=False,
                     strategy="wand")
    s = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s  # really the kernel, not a fallback
    want = inc.search(node, results_per_page=10, with_hit=False,
                      strategy="dataframe")
    assert col(got) == col(want)

    before = col(wand_topk(inc, "text", ["merge"], k=10, mode="or"))
    merge_segments(inc)  # -> g3, absorbs the g2 delta
    assert seg_dir(inc_path).endswith("segments_g3")
    assert os.path.isdir(os.path.join(inc_path, "segments_g2"))  # grace
    assert not os.path.isdir(os.path.join(inc_path, "segments"))  # g1 gone
    assert col(wand_topk(inc, "text", ["merge"], k=10, mode="or")) == before


def test_append_refused_under_half_built_segments(spark, tmp_path_factory):
    """Appending under a PARTIAL segment build is unsound in both
    directions (committed buckets would miss the batch; resumed buckets
    would double-count it once the delta also lands) — add_documents
    must refuse BEFORE mutating any table, and work again once the
    build is completed with resume."""
    from lucene_clj_spark.errors import ValidationError

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("halfbuilt") / "idx")
    idx = create_index(spark, base, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(idx, n_buckets=4, chunk_span=32, block_size=8)
    # simulate a build killed after 3/4 buckets committed
    os.remove(os.path.join(path, "manifests", "bucket_2.json"))
    n_docs_before = idx.docs.count()
    with pytest.raises(ValidationError, match="incomplete"):
        idx.add_documents(batch, ignore_extra_columns=True)
    # fail-fast: nothing was appended, no pending journal left behind
    assert idx.docs.count() == n_docs_before
    assert not os.path.exists(os.path.join(path, "_append_pending.json"))
    # finishing the build makes the append legal again, and the kernel
    # answers match a from-scratch build over the full corpus
    build_segments(idx, n_buckets=4, chunk_span=32, block_size=8,
                   resume=True)
    idx.add_documents(batch, ignore_extra_columns=True)
    full_path = str(tmp_path_factory.mktemp("halfbuilt_full") / "idx")
    full = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                        path=full_path, index_type="disk", re_create=True,
                        ignore_extra_columns=True)
    build_segments(full, n_buckets=4, chunk_span=32, block_size=8)

    def col(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    assert col(wand_topk(idx, "text", ["merge", "the"], k=12, mode="or")) \
        == col(wand_topk(full, "text", ["merge", "the"], k=12, mode="or"))


def test_segment_ops_honor_append_journal(spark, tmp_path_factory):
    """A surviving _append_pending.json (crashed append) must fence
    build_segments and merge_segments too — encoding or merging from
    possibly-partial tables would bake the partial state into
    committed segment files that the load-time refusal can't catch."""
    import json as _json

    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.segments import merge_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    path = str(tmp_path_factory.mktemp("fence") / "idx")
    idx = create_index(spark, docs, {"text": "text"}, id_column="doc_id",
                       path=path, index_type="disk", re_create=True,
                       ignore_extra_columns=True)
    build_segments(idx, n_buckets=2, chunk_span=32, block_size=8)
    pending = os.path.join(path, "_append_pending.json")
    with open(pending, "w") as f:
        _json.dump({"n_new_docs": 1}, f)
    with pytest.raises(ValidationError, match="interrupted append"):
        build_segments(idx, n_buckets=2, chunk_span=32, block_size=8)
    with pytest.raises(ValidationError, match="interrupted append"):
        merge_segments(idx)
    os.remove(pending)
    merge_segments(idx)  # clean journal: merge proceeds


def test_search_after_group_and_tree_kernels(disk_index):
    """Keyset pagination parity on the two kernel shapes the existing
    search_after tests don't cover: one-level group trees and
    arbitrary-depth trees. Page 2 via search_after must equal the
    DataFrame path's page 2, and must continue exactly after page 1."""
    from lucene_clj_spark.query import parse_dsl

    for dsl in (
        "(merge OR window) AND dup NOT compact",            # one-level tree
        "((merge AND window) OR (dup AND scan)) NOT echo",  # tree kernel
    ):
        node = parse_dsl(dsl, "text", disk_index.specs,
                         disk_index.analyzers)
        p1 = disk_index.search(node, results_per_page=3, with_hit=False,
                               strategy="wand").collect()
        assert len(p1) == 3
        sa = {"score": p1[-1]["score"], "doc_id": p1[-1]["doc_id"]}
        got = disk_index.search(node, results_per_page=3, with_hit=False,
                                strategy="wand", search_after=sa)
        s = got._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in s  # still the kernel with a keyset
        want = disk_index.search(node, results_per_page=3, with_hit=False,
                                 strategy="dataframe", search_after=sa)
        gl = [(r["doc_id"], round(r["score"], 9)) for r in got.collect()]
        wl = [(r["doc_id"], round(r["score"], 9)) for r in want.collect()]
        assert gl == wl
        # page 2 really continues after page 1 (no repeats, ordered)
        assert not ({d for d, _ in gl}
                    & {r["doc_id"] for r in p1})


def test_slab_encoder_bit_identical_to_group_encode(spark):
    """The mapInArrow slab encoder (r04 generation-2 kernel) must be
    BIT-identical to the per-group reference encode (_encode_group),
    including when a (field, term, chunk) group spans Arrow batch
    boundaries — forced here with maxRecordsPerBatch=7 so every group
    of the 400-posting hot term crosses many carries."""
    import numpy as np
    import pandas as pd

    from lucene_clj_spark import segments as S

    rng = np.random.default_rng(11)
    rows = []
    # hot term: 400 postings across 4 chunks (chunk_span=128)
    for d in range(400):
        tf = int(rng.integers(1, 4))
        rows.append(("text", "hot", d, tf,
                     int(rng.integers(5, 60)),
                     [int(p) for p in sorted(rng.integers(0, 50, tf))]))
    # sparse vocab: 60 terms, 1-3 postings each
    for t in range(60):
        for d in sorted(rng.choice(500, rng.integers(1, 4), replace=False)):
            rows.append(("text", f"t{t}", int(d), 1,
                         int(rng.integers(5, 60)), [int(rng.integers(0, 9))]))
    # a non-positional field (positions NULL end-to-end)
    for d in range(0, 50, 5):
        rows.append(("lang", "en", d, 1, 1, None))
    post = spark.createDataFrame(
        rows,
        "field string, term string, doc_id long, tf long, dl long, "
        "positions array<int>",
    )

    old_batch = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = S._encode_blocks(post, chunk_span=128, block_size=32).toPandas()
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)

    # reference: the per-group pandas encode, group by hand
    pdf = post.toPandas()
    pdf["chunk"] = pdf["doc_id"] // 128
    want = pd.concat(
        [S._encode_group(g, 32)
         for _, g in pdf.groupby(["field", "term", "chunk"], sort=False)],
        ignore_index=True,
    )

    key = ["field", "term", "chunk", "block_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 400 / 32
    for col in ("field", "term", "chunk", "block_id", "n",
                "first_doc", "last_doc"):
        assert got[col].tolist() == want[col].tolist(), col
    for col in ("doc_deltas", "tfs", "norms", "positions"):
        assert got[col].tolist() == want[col].tolist(), col
    for gi, wi in zip(got["impacts"], want["impacts"]):
        assert [(round(p["tf"], 9), round(p["qdl"], 9))
                for p in (dict(x.asDict()) if hasattr(x, "asDict") else x
                          for x in gi)] == \
               [(round(p["tf"], 9), round(p["qdl"], 9)) for p in wi]


def test_decode_encode_slab_round_trip():
    """_decode_blocks_table is the exact inverse of _encode_table:
    decode(encode(postings)) == postings and re-encode is bit-stable —
    pure kernel test, no Spark job. Covers positional and
    non-positional groups, multi-block groups, and the doc-order
    lexsort guard (fed deliberately first_doc-misordered blocks)."""
    import numpy as np
    import pyarrow as pa

    from lucene_clj_spark import segments as S

    rng = np.random.default_rng(23)
    field, term, chunk = [], [], []
    doc_id, tf, dl, pos = [], [], [], []
    for t, nd, positional in (("alpha", 70, True), ("beta", 3, True),
                              ("gamma", 1, False)):
        docs = sorted(rng.choice(1000, nd, replace=False))
        for d in docs:
            k = int(rng.integers(1, 4))
            field.append("text" if positional else "lang")
            term.append(t)
            chunk.append(int(d) // 512)
            doc_id.append(int(d))
            tf.append(k)
            dl.append(int(rng.integers(3, 90)))
            pos.append(sorted(int(p) for p in rng.integers(0, 99, k))
                       if positional else None)
    order = np.lexsort((doc_id, chunk, term, field))
    ptbl = pa.table({
        "field": pa.array(np.array(field, dtype=object)[order].tolist()),
        "term": pa.array(np.array(term, dtype=object)[order].tolist()),
        "chunk": pa.array(np.array(chunk, dtype=np.int64)[order]),
        "doc_id": pa.array(np.array(doc_id, dtype=np.int64)[order]),
        "tf": pa.array(np.array(tf, dtype=np.int64)[order]),
        "dl": pa.array(np.array(dl, dtype=np.int64)[order]),
        "positions": pa.array([pos[i] for i in order],
                              type=pa.list_(pa.int64())),
    })

    enc = S._encode_table(ptbl, block_size=16)
    dec = S._decode_blocks_table(pa.Table.from_batches([enc]))
    assert dec.column("field").to_pylist() == ptbl.column("field").to_pylist()
    assert dec.column("term").to_pylist() == ptbl.column("term").to_pylist()
    assert dec.column("doc_id").to_pylist() == \
        ptbl.column("doc_id").to_pylist()
    assert dec.column("tf").to_pylist() == ptbl.column("tf").to_pylist()
    assert dec.column("positions").to_pylist() == \
        ptbl.column("positions").to_pylist()
    # dl round-trips through the SmallFloat norm byte: quantized equal
    from lucene_clj_spark import bm25
    want_dl = bm25.LENGTH_TABLE[
        bm25.norm_byte_np(np.array(dl, dtype=np.int64)[order])
    ].astype(np.int64).tolist()
    assert dec.column("dl").to_pylist() == want_dl

    # re-encode of the decode is bit-stable
    enc2 = S._encode_table(dec, block_size=16)
    assert enc2.equals(enc)

    # ordering guard: feed the decoder the same blocks reversed —
    # doc order inside each group must be repaired by the lexsort
    rev = pa.Table.from_batches([enc]).take(
        pa.array(np.arange(enc.num_rows)[::-1].copy()))
    # group rows back together (decoder expects group-contiguous
    # slabs, but NOT first_doc order within a group)
    import pandas as pd
    rpdf = rev.to_pandas()
    rpdf = rpdf.sort_values(["field", "term", "chunk"], kind="stable")
    rev = pa.Table.from_pandas(rpdf, preserve_index=False)
    dec2 = S._decode_blocks_table(rev.combine_chunks())
    got = sorted(zip(dec2.column("term").to_pylist(),
                     dec2.column("doc_id").to_pylist()))
    want = sorted(zip(ptbl.column("term").to_pylist(),
                      ptbl.column("doc_id").to_pylist()))
    assert got == want
    # and within each group the repaired order is ascending
    d2 = dec2.to_pandas()
    for _, g in d2.groupby(["field", "term", "chunk"], sort=False):
        assert g["doc_id"].is_monotonic_increasing


def test_seg_idf_cache_warm_repeat_and_invalidation(spark, tmp_path):
    """The terms seek reads per-(field, term) (df, idf) from the one
    driver-resident term dictionary the DataFrame plans read too
    (search._seek_terms, termdict.term_dict), loaded by ONE labelled
    job per index generation: a repeated query must return identical
    results from it; searches, spell and fuzzy expansion launch no
    further load; add_documents, purge_deletes and truncate drop it
    (the stats change), and the next lookup loads it once again."""
    from lucene_clj_spark.query import FuzzyQ
    from lucene_clj_spark.search import _fuzzy_expansions
    from lucene_clj_spark.termdict import term_dict
    from tests.conftest import count_dict_loads

    docs = spark.read.parquet(
        f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    idx = create_index(
        spark, docs,
        {"text": "text"}, id_column="doc_id",
        path=str(tmp_path / "idf_cache_idx"), index_type="disk",
        re_create=True,
    )
    build_segments(idx, n_buckets=4, chunk_span=64, block_size=16)
    loads, cold = count_dict_loads(spark, lambda: wand_topk(
        idx, "text", ["merge", "window"], k=5).collect())
    assert loads == 1
    df_merge = idx.terms.filter(
        (F.col("field") == "text") & (F.col("term") == "merge")
    ).first()["df"]
    assert term_dict(idx).stats([("text", "merge")])[("text", "merge")][0] \
        == df_merge
    # absent terms are simply not in the dictionary (no rescan per query)
    wand_topk(idx, "text", ["merge", "zzzznotaterm"], k=5).collect()
    assert term_dict(idx).stats(
        [("text", "zzzznotaterm")]).get(("text", "zzzznotaterm")) is None
    warm = wand_topk(idx, "text", ["merge", "window"], k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in cold] == \
           [(r["doc_id"], r["score"]) for r in warm]
    loads, _ = count_dict_loads(spark, lambda: (
        idx.search("window", field_name="text",
                   strategy="dataframe").collect(),
        idx.search_batch({"a": "merge", "b": ["merge", "window"]},
                         field_name="text").collect(),
        idx.spell_suggest("text", "windw").collect(),
        _fuzzy_expansions(idx, FuzzyQ(1.0, "text", "mrege")),
        idx.search(FuzzyQ(1.0, "text", "mrege")).collect(),
    ))
    assert loads == 0
    # append: stats move, so the loaded dictionary must be dropped
    batch = docs.limit(3).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    idx.add_documents(batch, ignore_extra_columns=True)
    assert "_term_dict" not in idx.__dict__
    loads, post = count_dict_loads(spark, lambda: wand_topk(
        idx, "text", ["merge", "window"], k=5).collect())
    assert loads == 1
    assert len(post) == 5  # re-resolved idfs serve the grown index
    assert term_dict(idx).stats([("text", "merge")])[("text", "merge")][0] \
        > df_merge  # the appended docs are counted
    idx.delete_documents([post[0]["doc_id"]])
    loads, _ = count_dict_loads(spark, lambda: wand_topk(
        idx, "text", ["merge"], k=5).collect())
    assert loads == 0  # a tombstone leaves the stats stale, as in Lucene
    idx.purge_deletes()
    assert "_term_dict" not in idx.__dict__
    loads, _ = count_dict_loads(spark, lambda: idx.search(
        "merge", field_name="text", strategy="dataframe").collect())
    assert loads == 1
    idx.truncate()
    assert "_term_dict" not in idx.__dict__
    loads, rows = count_dict_loads(spark, lambda: idx.search(
        "merge", field_name="text", strategy="dataframe").collect())
    assert loads == 1 and rows == []


# --- DisjunctionMaxQuery on the tree kernel ----------------------------


def _dismax_node(tie, boost=1.0, disjuncts=None):
    from lucene_clj_spark.query import SHOULD, BoolQ, DisMaxQ, TermQ

    disjuncts = disjuncts or (
        TermQ(1.0, "text", "merge"),
        BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "dup")),
                    (SHOULD, TermQ(2.0, "text", "vector")))),
    )
    return DisMaxQ(boost, tuple(disjuncts), tie)


@pytest.mark.parametrize("tie", [0.0, 0.3, 1.0])
def test_dismax_kernel_routes_and_matches(disk_index, tie):
    """Term-like DisMaxQ auto-routes through the tree kernel (a root
    node with a ``tie``, the dismax combine); results identical to the
    DataFrame compiler. The kernel's sum-combine bounds stay sound for
    tie <= 1 (dismax <= sum), so pruning can never drop a true top-k
    doc."""
    node = _dismax_node(tie)
    auto = disk_index.search(node, results_per_page=10, with_hit=False)
    s = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s  # the kernel served it
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = auto.collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_dismax_kernel_boosted_and_multi_field(disk_index):
    from lucene_clj_spark.query import DisMaxQ, ExactQ, TermQ

    # root boost folds into member weights; disjuncts span an analyzed
    # and a keyword field (fkeys carry the field)
    node = DisMaxQ(2.5, (TermQ(1.0, "text", "merge"),
                         ExactQ(1.0, "lang", "de", "keyword")), 0.4)
    auto = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="wand")
    want = disk_index.search(node, results_per_page=10, with_hit=False,
                             strategy="dataframe").collect()
    got = auto.collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_dismax_kernel_search_after(disk_index):
    node = _dismax_node(0.3)
    first = disk_index.search(node, results_per_page=5,
                              with_hit=False).collect()
    got = disk_index.search(node, results_per_page=5, with_hit=False,
                            search_after=first[-1]).collect()
    want = disk_index.search(node, results_per_page=5, with_hit=False,
                             search_after=first[-1],
                             strategy="dataframe").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_dismax_ineligible_falls_back(disk_index):
    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.query import DisMaxQ, PhraseQ, TermQ
    from lucene_clj_spark.search import _wand_route

    # a phrase disjunct is not term-like -> no kernel route
    node = DisMaxQ(1.0, (PhraseQ(1.0, "text", ("the", "merge")),
                         TermQ(1.0, "text", "dup")), 0.2)
    assert _wand_route(disk_index, node) is None
    with pytest.raises(ValidationError):
        disk_index.search(node, strategy="wand", with_hit=False)
    # a negative disjunct boost would invert the skip bounds
    neg = DisMaxQ(1.0, (TermQ(-1.0, "text", "merge"),
                        TermQ(1.0, "text", "dup")), 0.2)
    assert _wand_route(disk_index, neg) is None
    # out-of-range tie falls to the DataFrame path, which raises
    bad = _dismax_node(1.5)
    assert _wand_route(disk_index, bad) is None
    with pytest.raises(ValidationError):
        disk_index.search(bad, with_hit=False).collect()


# --- span kernels (round 5): span_near / span_first / span_not -------


def test_span_near_kernel_matches_dataframe(disk_index):
    """The positions-decoding span-near kernel (wand.span_near_topk,
    auto-routed for SpanNearQ) must be BIT-identical to the DataFrame
    path: the SAME matcher functions (spans._span_near_ordered_freq /
    _sloppy_freq_py) run over the same ascending position runs, the
    idf fold order matches, and the chunk bounds (anchor-count bound
    for ordered, subadditive bound for unordered) never skip a true
    top-k doc. Covers ordered/unordered, slop range, boosts, and an
    absent clause term (empty result on both paths)."""
    from lucene_clj_spark.query import SpanNearQ

    shapes = [
        SpanNearQ(1.0, "text", ("merge", "window"), 0, True),
        SpanNearQ(1.0, "text", ("merge", "window"), 3, True),
        SpanNearQ(1.0, "text", ("merge", "window"), 3, False),
        SpanNearQ(2.5, "text", ("the", "merge"), 1, True),
        SpanNearQ(0.5, "text", ("row", "column", "sort"), 4, False),
        SpanNearQ(1.0, "text", ("merge", "zzzznotaterm"), 5, True),
    ]
    for q in shapes:
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (q.terms, q.slop, q.in_order)


def test_span_near_kernel_keyset(disk_index):
    from lucene_clj_spark.query import SpanNearQ

    q = SpanNearQ(1.0, "text", ("the", "merge"), 2, False)
    first = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
    assert first  # slop-2 unordered "the merge" matches at sf0.01
    sa = {"score": first[-1]["score"], "doc_id": first[-1]["doc_id"]}
    ka = disk_index.search(q, with_hit=False, strategy="wand",
                           search_after=sa).collect()
    da = disk_index.search(q, with_hit=False, strategy="dataframe",
                           search_after=sa).collect()
    assert [(r["doc_id"], r["score"]) for r in ka] == [
        (r["doc_id"], r["score"]) for r in da
    ]


def test_span_first_kernel_matches_dataframe(disk_index):
    from lucene_clj_spark.query import SpanFirstQ

    for q in [
        SpanFirstQ(1.0, "text", "merge", 5),
        SpanFirstQ(1.0, "text", "merge", 1),
        SpanFirstQ(3.0, "text", "the", 12),
        SpanFirstQ(1.0, "text", "zzzznotaterm", 5),
        SpanFirstQ(1.0, "text", "merge", 0),  # end=0 -> empty
    ]:
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (q.term, q.end)


def test_span_not_kernel_matches_dataframe(disk_index):
    from lucene_clj_spark.query import SpanNotQ

    for q in [
        SpanNotQ(1.0, "text", "merge", "window", 0, 0),
        SpanNotQ(1.0, "text", "merge", "window", 2, 3),
        SpanNotQ(2.0, "text", "the", "merge", 1, 1),
        SpanNotQ(1.0, "text", "merge", "zzzznotaterm", 0, 0),
        SpanNotQ(1.0, "text", "zzzznotaterm", "merge", 0, 0),
    ]:
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (q.include, q.exclude, q.pre, q.post)


def test_span_kernels_auto_route(disk_index):
    """SpanNearQ / SpanFirstQ / SpanNotQ auto-route to the segment
    kernels (plan shows MapInPandas, not the exhaustive postings
    join)."""
    from lucene_clj_spark.query import SpanFirstQ, SpanNearQ, SpanNotQ

    for q in [
        SpanNearQ(1.0, "text", ("merge", "window"), 2, True),
        SpanFirstQ(1.0, "text", "merge", 5),
        SpanNotQ(1.0, "text", "merge", "window", 0, 0),
    ]:
        auto = disk_index.search(q, with_hit=False)
        s = auto._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in s, type(q).__name__


def test_span_near_kernel_fuzz_random_shapes(disk_index):
    """Seeded fuzz over real-vocabulary clause sets, random slops and
    order flags: kernel and DataFrame paths must stay bit-identical
    for any mix of common/rare clauses — the pruning-bound argument
    has to hold everywhere, not just on hand-picked shapes."""
    import random

    from lucene_clj_spark.query import SpanNearQ

    rng = random.Random(20260821)
    vocab = sorted(
        r["term"]
        for r in disk_index.terms.filter("field = 'text'")
        .select("term").distinct().collect()
    )
    for trial in range(10):
        n_terms = rng.randint(2, 4)
        terms = tuple(rng.sample(vocab, min(n_terms, len(vocab))))
        slop = rng.randint(0, 6)
        in_order = rng.random() < 0.5
        boost = rng.choice([0.25, 1.0, 3.5])
        q = SpanNearQ(boost, "text", terms, slop, in_order)
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (trial, terms, slop, in_order, boost)


# --- sloppy-phrase kernel (round 5): the last DataFrame-only shape ---


def test_sloppy_phrase_kernel_matches_dataframe(disk_index):
    """The positions-decoding sloppy-phrase kernel
    (wand.sloppy_phrase_topk, auto-routed for PhraseQ slop>0) must be
    BIT-identical to search._scored_sloppy_phrase: the SAME greedy
    (spans._sloppy_freq_py, bias=0) over the same offset-adjusted
    position runs, idf folded in slot order, shared norm cache.
    Covers slop range, boosts, 3-term phrases, reversed order (phrase
    offsets are asymmetric), and an absent term (empty on both
    paths)."""
    from lucene_clj_spark.query import PhraseQ

    shapes = [
        PhraseQ(1.0, "text", ("merge", "window"), 1),
        PhraseQ(1.0, "text", ("merge", "window"), 3),
        PhraseQ(1.0, "text", ("window", "merge"), 3),
        PhraseQ(2.5, "text", ("the", "merge"), 2),
        PhraseQ(0.5, "text", ("row", "column", "sort"), 5),
        PhraseQ(1.0, "text", ("merge", "zzzznotaterm"), 4),
    ]
    for q in shapes:
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (q.terms, q.slop)


def test_sloppy_phrase_kernel_keyset(disk_index):
    from lucene_clj_spark.query import PhraseQ

    q = PhraseQ(1.0, "text", ("the", "merge"), 2)
    first = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
    assert first  # slop-2 "the merge" matches at sf0.01
    sa = {"score": first[-1]["score"], "doc_id": first[-1]["doc_id"]}
    ka = disk_index.search(q, with_hit=False, strategy="wand",
                           search_after=sa).collect()
    da = disk_index.search(q, with_hit=False, strategy="dataframe",
                           search_after=sa).collect()
    assert [(r["doc_id"], r["score"]) for r in ka] == [
        (r["doc_id"], r["score"]) for r in da
    ]


def test_sloppy_phrase_kernel_rejects_repeated_terms(disk_index):
    """A direct kernel call refuses repeated terms with the same
    ValidationError the DataFrame path raises — never an empty frame."""
    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.query import PhraseQ
    from lucene_clj_spark.wand import sloppy_phrase_topk

    with pytest.raises(ValidationError, match="repeated terms"):
        sloppy_phrase_topk(disk_index, "text", ["merge", "merge"], slop=2)
    with pytest.raises(ValidationError, match="repeated terms"):
        disk_index.search(PhraseQ(1.0, "text", ("merge", "merge"), 2),
                          with_hit=False, strategy="dataframe").collect()


def test_sloppy_phrase_auto_route_and_fallbacks(disk_index):
    """slop>0 distinct-term phrases auto-route to the kernel (plan
    shows MapInPandas); single-term sloppy phrases route as the term
    kernel (Lucene's TermQuery rewrite); repeated-term sloppy phrases
    fall back so the DataFrame path raises its repeat-group error."""
    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.query import PhraseQ

    q = PhraseQ(1.0, "text", ("merge", "window"), 2)
    auto = disk_index.search(q, with_hit=False)
    s = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s

    one = PhraseQ(2.0, "text", ("merge",), 3)
    a = disk_index.search(one, with_hit=False,
                          strategy="dataframe").collect()
    b = disk_index.search(one, with_hit=False,
                          strategy="wand").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]

    rep = PhraseQ(1.0, "text", ("merge", "merge"), 2)
    with pytest.raises(ValidationError):
        disk_index.search(rep, with_hit=False).collect()


def test_sloppy_phrase_kernel_fuzz_random_shapes(disk_index):
    """Seeded fuzz over real-vocabulary phrases and random slops:
    kernel and DataFrame paths must stay bit-identical everywhere —
    the subadditive pruning bound has to hold for any common/rare term
    mix, not just hand-picked shapes."""
    import random

    from lucene_clj_spark.query import PhraseQ

    rng = random.Random(20260821)
    vocab = sorted(
        r["term"]
        for r in disk_index.terms.filter("field = 'text'")
        .select("term").distinct().collect()
    )
    for trial in range(10):
        n_terms = rng.randint(2, 4)
        terms = tuple(rng.sample(vocab, min(n_terms, len(vocab))))
        slop = rng.randint(1, 8)
        boost = rng.choice([0.25, 1.0, 3.5])
        q = PhraseQ(boost, "text", terms, slop)
        a = disk_index.search(q, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (trial, terms, slop, boost)


# --- msm on the tree kernel: minimumNumberShouldMatch rides WAND -----


def test_msm_kernel_matches_dataframe(disk_index):
    """All-SHOULD flat term booleans with minimumNumberShouldMatch
    auto-route to the tree kernel: its root's matched-SHOULD count IS the
    tally _scored_tree keeps for a flat node, so results stay bit-identical
    — including the msm > matched-possible empty case and absent
    terms shrinking the matchable set."""
    shapes = [
        ({"text": {"merge", "dup", "vector"}}, 2),
        ({"text": {"merge", "dup", "vector"}}, 3),
        ({"text": {"merge", "window", "sort", "row"}}, 2),
        ({"text": {"merge", "window", "sort", "row"}}, 4),
        ({"text": {"merge", "zzzznotaterm", "dup"}}, 2),
        ({"text": {"merge", "zzzznotaterm", "dup"}}, 3),  # absent term
        ({"text": {"merge", "dup"}}, 5),  # msm > n clauses -> empty
    ]
    for q, m in shapes:
        a = disk_index.search(q, min_should_match=m, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(q, min_should_match=m, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (q, m)


def test_msm_kernel_auto_route_plan(disk_index):
    """Flat msm shapes show the kernel plan (MapInPandas): all-SHOULD
    and mixed MUST/SHOULD both ride the tree kernel; a
    duplicate pair (broken tally) stays on the counting compiler."""
    from lucene_clj_spark.query import BoolQ, TermQ

    auto = disk_index.search({"text": {"merge", "dup", "vector"}},
                             min_should_match=2, with_hit=False)
    s = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s

    mixed = BoolQ(1.0, (
        ("MUST", TermQ(1.0, "text", "merge")),
        ("SHOULD", TermQ(1.0, "text", "dup")),
        ("SHOULD", TermQ(1.0, "text", "vector")),
    ), 1)
    s2 = disk_index.search(
        mixed, with_hit=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s2

    dup = BoolQ(1.0, (
        ("SHOULD", TermQ(1.0, "text", "merge")),
        ("SHOULD", TermQ(2.0, "text", "merge")),
        ("SHOULD", TermQ(1.0, "text", "dup")),
    ), 2)
    s3 = disk_index.search(
        dup, with_hit=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in s3


def test_msm_mixed_kernel_matches_dataframe(disk_index):
    """Mixed MUST/SHOULD msm booleans on the tree kernel: the
    distinct-SHOULD-pair tally must reproduce the flat _scored_tree
    node's SHOULD count while the MUST gate and score fold stay as before —
    bit-identical to the DataFrame path in every mix."""
    from lucene_clj_spark.query import BoolQ, TermQ

    shapes = [
        # one MUST + three SHOULDs, msm 1 and 2
        [("MUST", "merge", 1.0), ("SHOULD", "dup", 1.0),
         ("SHOULD", "vector", 1.0), ("SHOULD", "window", 1.0)],
        # two MUSTs + two SHOULDs with boosts
        [("MUST", "merge", 1.0), ("MUST", "the", 2.0),
         ("SHOULD", "dup", 0.5), ("SHOULD", "sort", 1.5)],
        # absent SHOULD term shrinks the matchable set
        [("MUST", "merge", 1.0), ("SHOULD", "zzzznotaterm", 1.0),
         ("SHOULD", "dup", 1.0)],
        # absent MUST term -> empty on both paths
        [("MUST", "zzzznotaterm", 1.0), ("SHOULD", "merge", 1.0),
         ("SHOULD", "dup", 1.0)],
        # several fields: the tally counts keyword pairs like text pairs
        [("MUST", "the", 1.0), ("SHOULD", "merge", 1.0),
         ("SHOULD", ("lang", "en"), 2.0), ("SHOULD", ("source", "src1"), 0.5),
         ("SHOULD", "dup", 1.0)],
    ]
    for spec in shapes:
        n_should = sum(1 for occ, _, _ in spec if occ == "SHOULD")
        for msm in range(1, n_should + 1):
            bq = BoolQ(1.0, tuple(
                (occ, TermQ(b, *(t if isinstance(t, tuple) else ("text", t))))
                for occ, t, b in spec
            ), msm)
            a = disk_index.search(bq, with_hit=False,
                                  strategy="dataframe").collect()
            b = disk_index.search(bq, with_hit=False,
                                  strategy="wand").collect()
            assert [(r["doc_id"], r["score"]) for r in a] == [
                (r["doc_id"], r["score"]) for r in b
            ], (spec, msm)


def test_msm_kernel_keyset_and_fuzz(disk_index):
    """search_after keyset parity on the msm kernel, plus seeded fuzz
    over random SHOULD sets / msm values / boosts."""
    import random

    q = {"text": {"merge", "dup", "vector", "window"}}
    first = disk_index.search(q, min_should_match=2, with_hit=False,
                              strategy="wand").collect()
    assert first
    sa = {"score": first[-1]["score"], "doc_id": first[-1]["doc_id"]}
    ka = disk_index.search(q, min_should_match=2, with_hit=False,
                           strategy="wand", search_after=sa).collect()
    da = disk_index.search(q, min_should_match=2, with_hit=False,
                           strategy="dataframe", search_after=sa).collect()
    assert [(r["doc_id"], r["score"]) for r in ka] == [
        (r["doc_id"], r["score"]) for r in da
    ]

    from lucene_clj_spark.query import BoolQ, TermQ

    rng = random.Random(20260821)
    vocab = sorted(
        r["term"]
        for r in disk_index.terms.filter("field = 'text'")
        .select("term").distinct().collect()
    )
    for trial in range(8):
        n_terms = rng.randint(2, 5)
        terms = rng.sample(vocab, min(n_terms, len(vocab)))
        msm = rng.randint(1, n_terms)
        clauses = tuple(
            ("SHOULD", TermQ(rng.choice([0.5, 1.0, 2.0]), "text", t))
            for t in terms
        )
        bq = BoolQ(1.0, clauses, msm)
        a = disk_index.search(bq, with_hit=False,
                              strategy="dataframe").collect()
        b = disk_index.search(bq, with_hit=False,
                              strategy="wand").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], (trial, terms, msm)


# --- one skeleton, one router: direct kernels validate, job floor -----


@pytest.mark.parametrize("kernel,node", [
    ("span_near", lambda Q: Q.SpanNearQ(1.0, "text", ("merge", "merge"), 1)),
    ("span_or", lambda Q: Q.SpanOrQ(1.0, "text", ())),
    ("span_not", lambda Q: Q.SpanNotQ(1.0, "text", "merge", "window", -1)),
    ("span_first", lambda Q: Q.SpanFirstQ(1.0, "text", "merge", -1)),
])
def test_direct_span_kernel_raises_like_dataframe(disk_index, kernel, node):
    """A direct span-kernel call with invalid clauses raises the SAME
    ValidationError as the DataFrame plan — never an empty frame or
    rows."""
    from lucene_clj_spark import query as Q
    from lucene_clj_spark import wand
    from lucene_clj_spark.errors import ValidationError

    n = node(Q)
    with pytest.raises(ValidationError) as df_err:
        disk_index.search(n, with_hit=False, strategy="dataframe")
    call = {
        "span_near": lambda: wand.span_near_topk(
            disk_index, "text", list(n.terms), slop=n.slop),
        "span_or": lambda: wand.span_or_topk(disk_index, "text",
                                             list(n.terms)),
        "span_not": lambda: wand.span_not_topk(
            disk_index, "text", n.include, n.exclude, pre=n.pre),
        "span_first": lambda: wand.span_first_topk(disk_index, "text",
                                                   n.term, n.end),
    }[kernel]
    with pytest.raises(ValidationError) as k_err:
        call().collect()
    assert str(k_err.value) == str(df_err.value)
    # the routed search raises it too (from the kernel now)
    with pytest.raises(ValidationError) as r_err:
        disk_index.search(n, with_hit=False)
    assert str(r_err.value) == str(df_err.value)


def test_direct_and_with_absent_term_is_empty(disk_index):
    """An AND over a term absent from the dictionary matches nothing,
    on a direct kernel call as on the routed search."""
    got = wand_topk(disk_index, "text", ["merge", "zzzznotaterm"],
                    mode="and").collect()
    assert got == []
    assert disk_index.search(["merge", "zzzznotaterm"], field_name="text",
                             with_hit=False).collect() == []


def _route_kind_queries():
    from lucene_clj_spark.query import (
        MUST,
        SHOULD,
        BoolQ,
        PhraseQ,
        SpanFirstQ,
        SpanNearQ,
        SpanNotQ,
        SpanOrQ,
        TermQ,
    )

    T = lambda t, b=1.0: TermQ(b, "text", t)  # noqa: E731
    return {
        "term": ("tree", T("merge")),
        "and": ("tree", BoolQ(1.0, ((MUST, T("merge")),
                                    (MUST, T("window"))))),
        "mixed_msm": ("tree", BoolQ(1.0, ((MUST, T("merge")),
                                          (SHOULD, T("dup")),
                                          (SHOULD, T("vector"))), 1)),
        "phrase": ("tree", PhraseQ(1.0, "text", ("the", "merge"))),
        "sloppy_phrase": ("sloppy_phrase",
                          PhraseQ(1.0, "text", ("merge", "window"), 2)),
        "span_near": ("span_near",
                      SpanNearQ(1.0, "text", ("merge", "window"), 3)),
        "span_first": ("span_first", SpanFirstQ(1.0, "text", "merge", 5)),
        "span_not": ("span_not",
                     SpanNotQ(1.0, "text", "merge", "window", 2, 2)),
        "span_or": ("span_or", SpanOrQ(1.0, "text", ("merge", "window"))),
        "tree_phrase": ("tree", BoolQ(1.0, (
            (MUST, BoolQ(1.0, (
                (SHOULD, PhraseQ(1.0, "text", ("the", "merge"))),
                (SHOULD, T("dup"))))),
            (SHOULD, T("window", 0.5)),
        ))),
        "group_not": ("tree", BoolQ(1.0, (
            (MUST, BoolQ(1.0, ((SHOULD, T("merge")),
                               (SHOULD, T("window"))))),
            (MUST, T("dup")),
            ("MUST_NOT", T("scan")),
        ))),
        "dismax": ("tree", _dismax_node(0.3)),
    }


@pytest.mark.parametrize("name", sorted(_route_kind_queries()))
def test_warm_kernel_job_floor_every_route_kind(spark, disk_index, name):
    """Every route kind runs on the one skeleton: warm, building the
    plan runs no job, collecting it runs exactly one, and the plan
    holds no exchange (the small-mass single-partition co-location);
    the kernel's rows equal the DataFrame plan's."""
    import math as m

    from lucene_clj_spark.search import _wand_route
    from tests.conftest import count_jobs

    kind, node = _route_kind_queries()[name]
    route = _wand_route(disk_index, node)
    assert route is not None and route[0] == kind

    def build():
        return disk_index.search(node, results_per_page=5, with_hit=False,
                                 strategy="wand")

    build().collect()  # warm: terms seek, schema and expansions memoized
    jobs, df = count_jobs(spark, build)
    assert jobs == 0
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    jobs, got = count_jobs(spark, df.collect)
    assert jobs == 1
    want = disk_index.search(node, results_per_page=5, with_hit=False,
                             strategy="dataframe").collect()
    assert want
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 8 * m.ulp(b["score"])


def test_wand_pairs_topk_rejects_unknown_mode_and_negative_msm(disk_index):
    """A direct wand_pairs_topk call validates what the router validates: an
    unknown ``mode`` (e.g. "AND") used to run silently as OR, and a
    negative ``msm`` has no meaning."""
    from lucene_clj_spark.errors import ValidationError
    from lucene_clj_spark.wand import wand_pairs_topk

    pairs = [("text", "merge"), ("text", "dup")]
    with pytest.raises(ValidationError, match="mode"):
        wand_pairs_topk(disk_index, pairs, mode="AND")
    with pytest.raises(ValidationError, match="msm"):
        wand_pairs_topk(disk_index, pairs, msm=-1)


def test_flat_and_tree_specs_reject_non_positive_weights(disk_index):
    """A negative weight makes w * block_max underestimate a block's
    best score, so the kernel would skip blocks holding hits: both
    boolean kernels refuse it, like the other five kernels."""
    from lucene_clj_spark.wand import (
        TreeLeaf,
        TreeNode,
        tree_spec,
        wand_pairs_topk,
    )

    with pytest.raises(ValueError, match="positive"):
        wand_pairs_topk(disk_index, [("text", "merge"), ("text", "dup")],
                        weights={("text", "merge"): -1.0,
                                 ("text", "dup"): -1.0})
    with pytest.raises(ValueError, match="positive"):
        wand_pairs_topk(disk_index, [("text", "merge")],
                        weights={("text", "merge"): 0.0})
    leaves = [TreeLeaf(0, "text", "merge", -1.0, True),
              TreeLeaf(1, "text", "dup", 1.0, True)]
    with pytest.raises(ValueError, match="positive"):
        tree_spec(disk_index, leaves, TreeNode((), (0, 1), ()))
    # an unscored (MUST_NOT) leaf never enters a bound: any weight goes
    excl = [TreeLeaf(0, "text", "merge", 1.0, True),
            TreeLeaf(1, "text", "dup", -1.0, False)]
    tree_spec(disk_index, excl, TreeNode((), (0,), (1,)))


@pytest.mark.parametrize("shape", [
    "flat_and", "flat_msm", "group_not", "nested", "dismax",
])
def test_boolean_shapes_one_scan_one_exchange(disk_index, shape):
    """Every term-leaf boolean shape compiles, on the DataFrame path, to
    ONE postings scan and exactly ONE hash exchange (the doc-keyed
    aggregation of _scored_tree): no join per clause, no second
    aggregation per group or disjunct."""
    import re

    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, DisMaxQ, TermQ

    def t(term):
        return TermQ(1.0, "text", term)

    node = {
        "flat_and": BoolQ(1.0, ((MUST, t("merge")), (MUST, t("window")),
                                (MUST, t("scan")))),
        "flat_msm": BoolQ(1.0, ((MUST, t("merge")), (SHOULD, t("window")),
                                (SHOULD, t("scan")), (SHOULD, t("hash"))),
                          2),
        "group_not": BoolQ(1.0, (
            (MUST, BoolQ(1.0, ((SHOULD, t("merge")),
                               (SHOULD, t("window"))))),
            (MUST, t("scan")), ("MUST_NOT", t("hash")))),
        "nested": BoolQ(1.0, (
            (SHOULD, BoolQ(1.0, ((MUST, t("merge")), (MUST, t("window"))))),
            (SHOULD, BoolQ(1.0, ((MUST, t("scan")), (MUST, t("hash"))))),
            ("MUST_NOT", t("vector")))),
        "dismax": DisMaxQ(1.0, (
            t("merge"),
            BoolQ(1.0, ((SHOULD, t("window")), (SHOULD, t("scan")))),
        ), 0.3),
    }[shape]
    plan = disk_index.search(node, with_hit=False, strategy="dataframe")
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", s)) == 1, s
    assert len(re.findall(r"Exchange hashpartitioning", s)) == 1, s
