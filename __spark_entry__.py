"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the real engine (lucene_clj_spark): an inverted
index + BM25 search over the ``documents`` table, plus the
corpus-preparation operators (dedup/ANN/text-analysis). Each entry has a
DuckDB ``oracle_sql()`` twin computing the SAME arithmetic from the raw
parquet (tokenization on this corpus is whitespace-splitting, which the
engine's StandardAnalyzer-equivalent reproduces byte-identically —
pinned by tests/test_entry_contract.py).

Float columns are rounded to 6 decimals on BOTH sides after ordering/
top-k selection so value-hashes are stable across ulp-level libm
differences between the JVM and DuckDB.
"""

from __future__ import annotations

import math
import sys
from collections.abc import Callable

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_clj_spark import bm25, create_index
from lucene_clj_spark.functions import ann, dedup, text as textfn

K1, B = bm25.K1, bm25.B

DOC_FIELDS = {
    "text": "text",
    "lang": "keyword",
    "source": "keyword",
    "n_chars": "long",
}

EVENT_FIELDS = {
    "event_type": "keyword",
    "user_id": "long",
    "value": "double",
    "props": "text",
    "ts": "instant",
}

_INDEX_CACHE: dict[str, object] = {}


def _events_index(spark: SparkSession, sf_dir: str):
    key = f"{sf_dir}/events"
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = create_index(
            spark,
            spark.read.parquet(f"{sf_dir}/events.parquet"),
            EVENT_FIELDS,
            id_column="event_id",
            ignore_extra_columns=True,
        )
    return _INDEX_CACHE[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _index(spark: SparkSession, sf_dir: str):
    key = sf_dir
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = create_index(
            spark, _docs(spark, sf_dir), DOC_FIELDS, id_column="doc_id"
        )
    return _INDEX_CACHE[key]


def _round6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


def _floor6(df: DataFrame, *cols: str) -> DataFrame:
    """floor(x*1e6 + 0.5)/1e6 — the SAME IEEE ops the DuckDB twin
    runs, so the rounded double is bit-identical on both sides.
    F.round vs SQL round() disagree when x*1e6 lands exactly on .5
    (ratios of small integers do: sf1 surfaced 0.0646875 rounding to
    .064688 on Spark and .064687 on DuckDB). Use for ratio columns;
    BM25 scores keep _round6 (log-derived doubles don't hit decimal
    ties)."""
    for c in cols:
        df = df.withColumn(
            c, F.floor(F.col(c) * 1000000.0 + 0.5) / 1000000.0
        )
    return df


def _query_vec(sf_dir: str) -> list[float]:
    import duckdb

    return duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE vec_id = 0"
    ).fetchone()[0]


# --- oracle SQL building blocks ---------------------------------------

# Tokenization CTE: the synthetic corpus is single-spaced [a-z0-9 ] text,
# where StandardAnalyzer tokens == whitespace split (tested).
_BASE = """
WITH doc AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
dl AS (SELECT doc_id, len(ts) AS dl FROM doc),
tok AS (SELECT doc_id, unnest(ts) AS term FROM doc),
post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
tstat AS (SELECT term, count(*) AS df FROM post GROUP BY term),
stats AS (
  SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
)
"""

_SCORE = bm25.score_sql("p.tf", "d.dl", "t.df", "s.n", "s.avgdl")

_TERM_SCORES = (
    _BASE
    + """
, scores AS (
  SELECT p.doc_id, {score} AS score
  FROM post p
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
  WHERE p.term = '{{term}}'
)
""".format(score=_SCORE)
)


def _term_topk_sql(term: str, k: int = 10, offset: int = 0) -> str:
    q = _TERM_SCORES.replace("{term}", term)
    q += f"""
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k} OFFSET {offset}
)"""
    return q


def _multi_term_scores_sql(terms: list[str]) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    return (
        _BASE
        + f"""
, scores AS (
  SELECT p.doc_id, p.term, {_SCORE} AS score
  FROM post p
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
  WHERE p.term IN ({tlist})
)
"""
    )


# --- engine-side query implementations --------------------------------

def q_term_topk(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search("merge", field_name="text", results_per_page=10,
                     with_hit=False)
    return _round6(out, "score")


def q_term_topk_rare(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search("dup", field_name="text", results_per_page=25,
                     with_hit=False)
    return _round6(out, "score")


def q_term_page2(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search("window", field_name="text", results_per_page=10,
                     page=1, with_hit=False)
    return _round6(out, "score")


def q_bool_and_topk(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search(["merge", "window"], field_name="text",
                     results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_bool_or_topk(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search({"text": {"merge", "dup", "vector"}},
                     results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_phrase_topk(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search("the merge", field_name="text", results_per_page=10,
                     with_hit=False)
    return _round6(out, "score")


def q_fuzzy_topk(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search({"text": "merg"}, fuzzy=True, results_per_page=10,
                     with_hit=False)
    return _round6(out, "score")


def q_keyword_lang_topk(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search({"lang": "de"}, results_per_page=20, with_hit=False)
    return _round6(out, "score")


def q_typed_exact_nchars(spark, sf_dir):
    idx = _index(spark, sf_dir)
    out = idx.search({"n_chars": 128}, results_per_page=100, with_hit=False)
    return _round6(out, "score")


def q_corpus_stats(spark, sf_dir):
    idx = _index(spark, sf_dir)
    st = idx.stats["text"]
    n_terms = idx.terms.filter(F.col("field") == "text").count()
    # floor(x*1e6+0.5)/1e6 from the exact int counters: bit-identical to
    # the DuckDB oracle's identical IEEE ops (not Python round(), whose
    # half-even decimal rounding can differ from SQL round in tie cases).
    n = int(st["N"])
    avgdl = (
        math.floor(int(st["sum_dl"]) * 1000000.0 / n + 0.5) / 1000000.0
        if n
        else 0.0
    )
    return spark.createDataFrame(
        [(n, avgdl, int(st["sum_dl"]), n_terms)],
        "n_docs long, avgdl double, total_tokens long, n_terms long",
    )


def q_term_stats_top20(spark, sf_dir):
    idx = _index(spark, sf_dir)
    return (
        idx.terms.filter(F.col("field") == "text")
        .select("term", "df", "ctf")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


def q_suggest_prefix(spark, sf_dir):
    """Term-dictionary completion: prefix probe ordered by df-weight
    (the corpus-scale analogue of the suggest table; G1 semantics)."""
    idx = _index(spark, sf_dir)
    return (
        idx.terms.filter(
            (F.col("field") == "text") & F.col("term").startswith("s")
        )
        .select(F.col("term").alias("completion"),
                F.col("df").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("completion"))
        .limit(10)
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    out = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=5, threshold=0.5, max_shingle_df=10**9
    )
    return _round6(out, "jaccard")


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir), n=5, k=4)


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=32)


def q_ann_cosine_topk(spark, sf_dir):
    qv = _query_vec(sf_dir)
    out = ann.cosine_topk(
        _embeddings(spark, sf_dir), qv, k=10, exclude_vec_id=0
    )
    return _round6(out, "cos_sim")


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: 8 deterministic pivot cells (smallest
    vec_ids), probe the query's 2 nearest cells, exact cosine within
    (ann.ivf_topk; assignment is a literal-folded struct-max — one
    scan, no join)."""
    qv = _query_vec(sf_dir)
    out = ann.ivf_topk(
        _embeddings(spark, sf_dir), qv, k=10, n_cells=8, nprobe=2,
        exclude_vec_id=0,
    )
    return _round6(out, "cos_sim")


def q_token_stats(spark, sf_dir):
    out = textfn.token_stats(_docs(spark, sf_dir))
    return _floor6(out, "ttr", "stopword_ratio", "avg_token_len", "quality")


def q_fingerprint(spark, sf_dir):
    return textfn.fingerprint(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    """BPE-ish + whitespace token-count estimators per document
    (training-data budgeting; textfn.token_count_estimates — the
    GPT-2-family pre-tokenizer regex counted JVM-side, no Python)."""
    out = textfn.token_count_estimates(_docs(spark, sf_dir))
    return _floor6(out, "bytes_per_token")


def _derived_pages(spark, sf_dir):
    """documents -> a deterministic URL per doc (www-variant hosts,
    .com/.org/.co.uk TLD mix incl. a 2-label public suffix) so the
    URL operators have real variance; the oracle derives the SAME
    string in SQL."""
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 4 == 0, F.lit("www"))
        .otherwise(F.col("lang")),
        F.lit("."), F.col("source"), F.lit("-site"),
        F.when(d % 3 == 0, F.lit(".com"))
        .when(d % 3 == 1, F.lit(".org"))
        .otherwise(F.lit(".co.uk")),
        F.lit("/"), F.col("lang"), F.lit("/"), d.cast("string"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), "n_chars"
    )


def q_url_parts(spark, sf_dir):
    """URL parsing (sources.url_parts): scheme/host/path +
    registered-domain extraction with 2-label public suffixes — JVM
    regexp_extract over one projection."""
    from lucene_clj_spark.sources import url_parts

    out = url_parts(_derived_pages(spark, sf_dir))
    return out.select(
        "doc_id", "scheme", "host", "path", "registered_domain"
    )


def q_host_stats(spark, sf_dir):
    """Per-registered-domain aggregation (sources.host_stats): page
    count, distinct hosts, total size — the crawl-side per-domain-cap
    aggregate; only (domain, partials) shuffle."""
    from lucene_clj_spark.sources import host_stats

    return host_stats(
        _derived_pages(spark, sf_dir), size_col="n_chars"
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 keywords by tf-idf (textfn.top_tfidf_terms):
    one explode + two map-side-combined aggregates + a rank window
    with the k-bound pushed pre-shuffle."""
    out = textfn.top_tfidf_terms(_docs(spark, sf_dir), k=3)
    return _floor6(out, "tfidf")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.ngram_contamination, the
    GPT-3-style exact n-gram overlap rule at n=5): probes = every
    97th document; the probe shingle set broadcasts, the corpus never
    shuffles. Exact duplicates of a probe are flagged along with the
    probe itself."""
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    return dedup.ngram_contamination(docs, probes, n=5)


def q_quality_flags(spark, sf_dir):
    """Gopher-style quality-filter flags per document (word count,
    mean word length, alpha ratio, stopword presence, top-word
    repetition; textfn.quality_flags — JVM higher-order array
    functions over one split, no Python)."""
    out = textfn.quality_flags(_docs(spark, sf_dir))
    return _floor6(out, "mean_word_len", "top_word_ratio")


def q_search_after(spark, sf_dir):
    """Keyset continuation: page 0 of a term query, then the next 10
    strictly after the last (score, doc_id) key — S4 semantics."""
    idx = _index(spark, sf_dir)
    page0 = idx.search("scan", field_name="text", results_per_page=10,
                       with_hit=False).collect()
    out = idx.search("scan", field_name="text", results_per_page=10,
                     search_after=page0[-1], with_hit=False)
    return _round6(out, "score")


def q_wand_search_after(spark, sf_dir):
    """Keyset continuation ON THE SEGMENT KERNEL (S4 on the scale
    path): page 0 of a term query via strategy='wand', then the next
    10 strictly after its last (score, doc_id) key — same oracle as
    search_after (term scores are bit-identical across strategies)."""
    idx = _wand_index(spark, sf_dir)
    page0 = idx.search("scan", field_name="text", results_per_page=10,
                       with_hit=False, strategy="wand").collect()
    out = idx.search("scan", field_name="text", results_per_page=10,
                     search_after=page0[-1], with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_lsh_pairs(spark, sf_dir):
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir), n=5, k=8)
    return dedup.lsh_pairs(sigs, k=8, bands=4)


def q_simhash_near_pairs(spark, sf_dir):
    sim = dedup.simhash(_docs(spark, sf_dir), bits=32)
    return dedup.simhash_near_pairs(sim, max_hamming=2, block_bits=8)


def q_events_type_exact(spark, sf_dir):
    idx = _events_index(spark, sf_dir)
    out = idx.search({"event_type": "error"}, results_per_page=20,
                     with_hit=False)
    return _round6(out, "score")


def q_events_value_exact(spark, sf_dir):
    idx = _events_index(spark, sf_dir)
    out = idx.search({"value": 4.29}, results_per_page=100,
                     with_hit=False)
    return _round6(out, "score")


def q_ann_rp_lsh_topk(spark, sf_dir):
    """Approximate ANN: probe only the query's sign-LSH bucket."""
    qv = _query_vec(sf_dir)
    out = ann.rp_lsh_topk(
        _embeddings(spark, sf_dir), qv, k=10, n_planes=8, exclude_vec_id=0
    )
    return _round6(out, "cos_sim")


def q_knn_join(spark, sf_dir):
    out = ann.knn_join_bucketed(
        _embeddings(spark, sf_dir), k=3, n_planes=6, dim=64
    )
    return _round6(out, "cos_sim")


def q_lang_id(spark, sf_dir):
    """Heuristic language-ID — oracle-checked (stopword-profile argmax
    is 1:1 expressible in DuckDB) plus pytest goldens on constructed
    sentences."""
    out = textfn.lang_id(_docs(spark, sf_dir))
    return _round6(out, "lang_score")


def _suggest_index(spark: SparkSession, sf_dir: str):
    """Docs index with a suggest-enabled source field (contexts from
    lang) — exercises the suggest table build (G1/G3/G4)."""
    key = f"{sf_dir}/sugg"
    if key not in _INDEX_CACHE:
        fields = dict(DOC_FIELDS)
        fields["source"] = {
            "type": "keyword",
            "suggest": {"weight": 1, "contexts_from": "lang"},
        }
        _INDEX_CACHE[key] = create_index(
            spark, _docs(spark, sf_dir), fields, id_column="doc_id"
        )
    return _INDEX_CACHE[key]


def _wand_index(spark: SparkSession, sf_dir: str):
    """Disk index + compressed block-max segments for the WAND kernel."""
    key = f"{sf_dir}/wand"
    if key not in _INDEX_CACHE:
        import atexit
        import shutil
        import tempfile

        from lucene_clj_spark.segments import build_segments

        tmp = tempfile.mkdtemp(prefix="spark_graft_wand_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        path = tmp + "/idx"
        idx = create_index(
            spark, _docs(spark, sf_dir), DOC_FIELDS, id_column="doc_id",
            path=path, index_type="disk", re_create=True,
        )
        # chunk_span sized to the corpus: multi-chunk at the tiny
        # oracle gate (500 docs -> 2 chunks, the historical fixed 256)
        # but bounded chunk COUNT as the corpus grows — a fixed 256 at
        # sf1 (1.6M docs) meant ~6k chunk groups and the fixture build
        # dominated the first wand query's wall (BENCH/sf1.md).
        # Results are chunk-layout-independent (kernels accumulate in
        # canonical term order; tie sets pinned by
        # test_duplicated_corpus_tie_sets_are_canonical).
        n = int(idx.stats["text"]["N"])
        span = 256
        while n // span > 32:
            span <<= 1
        build_segments(idx, n_buckets=8, chunk_span=span, block_size=128)
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def q_dsl_boost_topk(spark, sf_dir):
    """Classic QueryParser DSL with a per-term boost (Q8):
    'merge^2 window' = OR with merge's score doubled."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("merge^2 window", "text", idx.specs, idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_incremental_add_topk(spark, sf_dir):
    """Repeated index! (L2): build over the first half of the corpus,
    add_documents the second half, then run the standard term query —
    must equal the one-shot build (same oracle as term_topk), proving
    term-dict/stats merge correctness under the driver's hash gate."""
    key = f"{sf_dir}/incremental"
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        mid_row = docs.approxQuantile("doc_id", [0.5], 0.0)
        mid = int(mid_row[0])
        idx = create_index(
            spark, docs.filter(F.col("doc_id") <= mid), DOC_FIELDS,
            id_column="doc_id",
        )
        idx.add_documents(docs.filter(F.col("doc_id") > mid))
        _INDEX_CACHE[key] = idx
    out = _INDEX_CACHE[key].search(
        "merge", field_name="text", results_per_page=10, with_hit=False
    )
    return _round6(out, "score")


def q_hit_fn_topk(spark, sf_dir):
    """Arbitrary hit->doc projection (S5 / §2.11 UDF surface): a Python
    callable derives columns from each stored top-k doc, Arrow-batched;
    oracle reproduces the derivation in SQL over the same top-k."""
    idx = _index(spark, sf_dir)
    out = idx.search(
        "merge", field_name="text", results_per_page=10,
        hit_fn=lambda d: {
            "text_len": len(d["text"]),
            "lang_src": f"{d['lang']}/{d['source']}",
        },
        hit_fn_schema="text_len long, lang_src string",
    )
    return _round6(out, "score")


def q_dsl_grouped_topk(spark, sf_dir):
    """Parenthesized QueryParser grouping (Q8): '(merge OR window) AND
    dup' = +(merge window) +dup — requires dup AND at least one of
    merge/window; score = sum of matching clause scores."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("(merge OR window) AND dup", "text", idx.specs,
                    idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_multi_field_and_topk(spark, sf_dir):
    """Map shape = AND across fields (Q4): text term + keyword exact,
    scores summed (text BM25 + keyword-field BM25 with tf=dl=avgdl=1)."""
    idx = _index(spark, sf_dir)
    out = idx.search({"text": "merge", "lang": "de"},
                     results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_phrase3_topk(spark, sf_dir):
    """Three-term exact-adjacency phrase (S6)."""
    idx = _index(spark, sf_dir)
    out = idx.search("row column sort", field_name="text",
                     results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_suggest_context(spark, sf_dir):
    """Context-filtered prefix completion (G1+G3): suggestions for
    source prefix 'src1' restricted to docs whose lang context is de."""
    idx = _suggest_index(spark, sf_dir)
    return idx.suggest_(
        "source", "src1", contexts=["de"], max_results=10, with_hit=False
    )


def q_suggest_fuzzy(spark, sf_dir):
    """Fuzzy completion (G2): typo'd prefix 'sre1' within edit
    distance 1 of completions' heads; closer matches rank first."""
    idx = _suggest_index(spark, sf_dir)
    return idx.suggest_(
        "source", "sre1", fuzzy=True, max_edits=1, max_results=10,
        with_hit=False,
    )


def q_events_ts_exact(spark, sf_dir):
    """Typed instant exact query (Q7) at epoch-millis resolution."""
    import duckdb

    t = duckdb.sql(
        f"SELECT min(ts) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    idx = _events_index(spark, sf_dir)
    out = idx.search({"ts": t}, results_per_page=100, with_hit=False)
    return out.select("doc_id", "score")


def q_wand_or_topk(spark, sf_dir):
    """Block-max WAND top-k over compressed segments (the north-star
    kernel) — must be rank- AND score-identical to the exhaustive
    DataFrame OR query (same oracle as bool_or_topk)."""
    from lucene_clj_spark.wand import wand_topk

    idx = _wand_index(spark, sf_dir)
    out = wand_topk(idx, "text", ["merge", "dup", "vector"], k=10,
                    mode="or")
    return _round6(out.select("doc_id", "score"), "score")


def q_wand_span_or_topk(spark, sf_dir):
    """SpanOrQuery on the segment kernels (wand.span_or_topk): pooled
    tfs saturated once with the summed idf, block-max skipping kept
    sound by folding the summed idf into every clause's block bound —
    same oracle as span_or_topk (bit-identical strategies)."""
    from lucene_clj_spark.wand import span_or_topk

    idx = _wand_index(spark, sf_dir)
    out = span_or_topk(idx, "text", ["merge", "window"], k=10)
    return _round6(out.select("doc_id", "score"), "score")


def q_wand_sloppy_phrase_topk(spark, sf_dir):
    """Sloppy phrase '"the merge"~2' on the segment kernel
    (wand.sloppy_phrase_topk, round 5): the SAME SloppyPhraseScorer
    greedy as the DataFrame path runs over lazily-decoded per-chunk
    position streams with subadditive block-max skipping — same
    oracle as dsl_sloppy_phrase_topk (bit-identical strategies)."""
    from lucene_clj_spark.wand import sloppy_phrase_topk

    idx = _wand_index(spark, sf_dir)
    out = sloppy_phrase_topk(idx, "text", ["the", "merge"], slop=2,
                             k=10)
    return _round6(out.select("doc_id", "score"), "score")


def q_wand_msm_topk(spark, sf_dir):
    """minimumNumberShouldMatch on the tree kernel: >=2 of
    {merge, dup, vector} via the flat root's matched-SHOULD count
    — same oracle as bool_msm_topk (bit-identical strategies)."""
    from lucene_clj_spark.wand import wand_pairs_topk

    idx = _wand_index(spark, sf_dir)
    out = wand_pairs_topk(
        idx,
        [("text", "merge"), ("text", "dup"), ("text", "vector")],
        k=10, mode="or", msm=2,
    )
    return _round6(out.select("doc_id", "score"), "score")


def q_wand_group_topk(spark, sf_dir):
    """Boolean GROUP TREE on the segment kernel: '(merge OR window)
    AND dup' parsed by the DSL, forced through strategy='wand' (raises
    if it fell off the kernel path) — same oracle as dsl_grouped_topk,
    proving the tree kernel's MUST-group accounting on a depth-1
    tree."""
    from lucene_clj_spark.query import parse_dsl

    idx = _wand_index(spark, sf_dir)
    ast = parse_dsl("(merge OR window) AND dup", "text", idx.specs,
                    idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_wand_group_not_topk(spark, sf_dir):
    """Group tree with MUST_NOT exclusion on the segment kernel:
    '(merge OR window) AND dup NOT scan' — NOT keys are exclusion-only
    (never scored, never bound-skipped) in the tree kernel."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, TermQ

    idx = _wand_index(spark, sf_dir)
    node = BoolQ(1.0, (
        (MUST, BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "merge")),
                           (SHOULD, TermQ(1.0, "text", "window"))))),
        (MUST, TermQ(1.0, "text", "dup")),
        ("MUST_NOT", TermQ(1.0, "text", "scan")),
    ))
    out = idx.search(node, results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_dsl_nested_topk(spark, sf_dir):
    """ARBITRARY-DEPTH boolean tree (Q8 nesting):
    '((merge AND window) OR (dup AND scan)) NOT compact' — inner MUST
    groups two levels down. Executes on the one-scan tree plan
    (_scored_tree on the DataFrame path, wand_tree_topk on segments):
    a doc matches if it holds both terms of either inner AND group and
    not 'compact'; score = sum of the matched groups' term scores."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl(
        "((merge AND window) OR (dup AND scan)) NOT compact",
        "text", idx.specs, idx.analyzers,
    )
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_wand_tree_topk(spark, sf_dir):
    """The same depth-2 tree forced through strategy='wand' (raises if
    it fell off the kernel path), proving the arbitrary-depth tree
    kernel: one streaming pruned segment scan evaluates the whole
    tree — chunk possibility, linear countable-leaf bounds, MUST_NOT
    exclusion inside subtrees — same oracle as dsl_nested_topk."""
    from lucene_clj_spark.query import parse_dsl

    idx = _wand_index(spark, sf_dir)
    ast = parse_dsl(
        "((merge AND window) OR (dup AND scan)) NOT compact",
        "text", idx.specs, idx.analyzers,
    )
    out = idx.search(ast, results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_wand_tree_phrase_topk(spark, sf_dir):
    """PHRASE leaf inside a depth-2 tree on the tree kernel:
    '("the merge" AND dup) OR (scan AND window)' forced through
    strategy='wand' — the phrase is scored in-scan from the positions
    streams inside the arbitrary-depth tree evaluator; a doc matches
    via either inner AND group, scores summed over matched groups."""
    from lucene_clj_spark.query import MUST, SHOULD, BoolQ, PhraseQ, TermQ

    idx = _wand_index(spark, sf_dir)
    node = BoolQ(1.0, (
        (SHOULD, BoolQ(1.0, (
            (MUST, PhraseQ(1.0, "text", ("the", "merge"))),
            (MUST, TermQ(1.0, "text", "dup"))))),
        (SHOULD, BoolQ(1.0, (
            (MUST, TermQ(1.0, "text", "scan")),
            (MUST, TermQ(1.0, "text", "window"))))),
    ))
    out = idx.search(node, results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_wand_phrase_bool_topk(spark, sf_dir):
    """Mixed phrase+term boolean '"the merge" AND window' forced
    through strategy='wand' (raises if it fell off the kernel path):
    the phrase member is scored IN-SCAN from the segments' positions
    streams by the tree kernel (a wand.PhraseTreeLeaf) instead of a
    position join — one pruned pass, no join per clause."""
    from lucene_clj_spark.query import parse_dsl

    idx = _wand_index(spark, sf_dir)
    ast = parse_dsl('"the merge" AND window', "text", idx.specs,
                    idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_fuzzy_bool_topk(spark, sf_dir):
    """Boolean with a fuzzy clause (merg~ AND window): the fuzzy
    expands driver-side into a weighted OR group, so the whole boolean
    takes the one-scan tree plan (search._expand_fuzzy_deep)."""
    from lucene_clj_spark.query import MUST, BoolQ, FuzzyQ, TermQ

    idx = _index(spark, sf_dir)
    node = BoolQ(1.0, (
        (MUST, FuzzyQ(1.0, "text", "merg")),
        (MUST, TermQ(1.0, "text", "window")),
    ))
    out = idx.search(node, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_wand_fuzzy_bool_topk(spark, sf_dir):
    """Same boolean-with-fuzzy query forced through strategy='wand':
    the expansion members run as a group on the segment kernel — same
    oracle as fuzzy_bool_topk, proving the kernel's weighted-group
    combine."""
    from lucene_clj_spark.query import MUST, BoolQ, FuzzyQ, TermQ

    idx = _wand_index(spark, sf_dir)
    node = BoolQ(1.0, (
        (MUST, FuzzyQ(1.0, "text", "merg")),
        (MUST, TermQ(1.0, "text", "window")),
    ))
    out = idx.search(node, results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def q_wand_multi_field_topk(spark, sf_dir):
    """Multi-field map query on the one-pass segment kernel:
    {text: merge, lang: de} forced through strategy='wand' — same
    oracle as multi_field_and_topk (DataFrame path), proving the
    field-keyed kernel combine."""
    idx = _wand_index(spark, sf_dir)
    out = idx.search({"text": "merge", "lang": "de"},
                     results_per_page=10, with_hit=False,
                     strategy="wand")
    return _round6(out, "score")


def _webpages_index(spark: SparkSession, sf_dir: str):
    """The north-rule input shape end-to-end: wrap documents into a
    Common-Crawl-style pages table (url, warc_ts, html, text, lang),
    extract text FROM THE HTML, and index the extracted text. The
    per-row invariant (byte-identical extracted text per url) is
    enforced in-plan; the oracle is then the plain term query over
    documents — proving the html path is result-identical."""
    key = f"{sf_dir}/webpages"
    if key not in _INDEX_CACHE:
        import datetime as dt

        from lucene_clj_spark.sources import extract_text_from_html

        pages = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.lit("http://example.com/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.lit(dt.datetime(2024, 1, 1)).cast("timestamp").alias("warc_ts"),
            F.encode(
                F.concat(F.lit("<html><body>"),
                         F.col("text"), F.lit("</body></html>")),
                "UTF-8",
            ).alias("html"),
            "text",
            "lang",
        )
        extracted = pages.withColumn(
            "etext", extract_text_from_html(F.col("html"))
        )
        mismatches = extracted.filter(
            F.col("etext") != F.col("text")
        ).count()
        if mismatches:
            raise AssertionError(
                f"html text extraction not byte-identical for "
                f"{mismatches} urls"
            )
        _INDEX_CACHE[key] = create_index(
            spark,
            extracted.select(
                "doc_id", "url", F.col("etext").alias("text"), "lang"
            ),
            {"text": "text", "lang": "keyword", "url": "keyword"},
            id_column="doc_id",
        )
    return _INDEX_CACHE[key]


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (LSH-bucketed candidates,
    exact cosine >= 0.35)."""
    out = ann.embedding_near_dup_pairs(
        _embeddings(spark, sf_dir), threshold=0.35, n_planes=4, dim=64
    )
    return _round6(out.orderBy("vec_a", "vec_b"), "cos_sim")


def q_blob_features(spark, sf_dir):
    """Multimodal plumbing: documents' text as opaque binary blobs ->
    Arrow-batched byte features (the triage stage that precedes any
    media decode). Oracle reproduces the byte arithmetic in SQL."""
    from lucene_clj_spark.functions import multimodal as mm

    blobs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("blob"),
    )
    return mm.blob_features(blobs)


def q_webpages_pipeline_topk(spark, sf_dir):
    """url/warc_ts/html/text/lang pages -> html text extraction ->
    index -> BM25 top-k; oracle = the same term query on documents."""
    idx = _webpages_index(spark, sf_dir)
    out = idx.search("merge", field_name="text", results_per_page=10,
                     with_hit=False)
    return _round6(out, "score")


def q_batch_topk(spark, sf_dir):
    """Batch multi-query search: FOUR query shapes (AND pair, OR
    triple, single term, OR-with-NOT DSL) scored in ONE Spark job on
    the segment index — every query on the kernel ``search`` routes it
    to (flat for the first three, the tree kernel for the NOT query),
    all in one kernel pass over one scan of the union of the batch's
    terms (batch.py). Oracle replays the same clause relation as a
    VALUES join."""
    return _batch_topk(_wand_index(spark, sf_dir))


def q_batch_memory_topk(spark, sf_dir):
    """The same four-query batch on the in-memory index: the batch's
    DataFrame plan (one broadcast clause relation against one postings
    scan, one ``(query_id, doc_id)`` aggregation), checked against the
    same oracle as ``q_batch_topk``."""
    return _batch_topk(_index(spark, sf_dir))


def _batch_topk(idx):
    from lucene_clj_spark.query import parse_dsl

    notq = parse_dsl("merge NOT compact", "text", idx.specs,
                     idx.analyzers)
    out = idx.search_batch(
        {
            "and2": ["merge", "window"],
            "or3": {"text": {"merge", "dup", "vector"}},
            "term": "scan",
            "notq": notq,
        },
        field_name="text",
        results_per_page=10,
    )
    return _round6(out, "score")


def q_batch_df_topk(spark, sf_dir):
    """Distributed batch search: the query log is a DataFrame
    (query_id, field, term, occ) — joins postings directly, no driver
    loop/broadcast requirement (batch.py:search_batch_df). The log
    exercises MUST+NOT together and a query whose second MUST term is
    absent from the vocabulary (must come back empty)."""
    idx = _index(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(q, "text", t, o) for q, t, o in _BATCH_DF_CLAUSES],
        "query_id string, field string, term string, occ string",
    ).replace("NOT", "MUST_NOT", subset=["occ"])
    out = idx.search_batch_df(qdf, results_per_page=10)
    return _round6(out, "score")


def q_mlt_topk(spark, sf_dir):
    """MoreLikeThis: per-doc top-5 BM25-similar docs, queries = each
    doc's 5 rarest terms (df asc, term asc), restricted to
    doc_id < 40 on the query side (batch.py:more_like_this)."""
    idx = _index(spark, sf_dir)
    out = idx.more_like_this(
        "text", doc_ids=range(40), top_terms=5, results_per_page=5
    )
    return _round6(out, "score")


def q_dsl_wildcard_topk(spark, sf_dir):
    """Wildcard multi-term query inside a boolean (QueryParser grammar
    reachable through the reference's parse-dsl, query.clj:115-124):
    's*a* OR dup' — the wildcard rewrites constant-score (every doc
    holding >=1 term matching the pattern scores 1.0, Lucene's
    MultiTermQuery CONSTANT_SCORE rewrite) and sums with the rare
    term's BM25 score. The pattern plans as ONE postings scan with the
    LIKE predicate pushed to parquet — no driver-side term expansion."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("s*a* OR dup", "text", idx.specs, idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_dsl_typed_range_topk(spark, sf_dir):
    """Typed point-range inside a boolean: 'merge AND
    n_chars:[100 TO 200]' — LongPoint.newRangeQuery semantics
    (constant-score 1.0) intersected with the term's BM25 score.
    The range filters the docs table directly (row-group min/max
    pruning), never touching postings."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("merge AND n_chars:[100 TO 200]", "text",
                    idx.specs, idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_dsl_term_range_topk(spark, sf_dir):
    """Lexicographic TermRangeQuery with EXCLUSIVE bounds:
    'dup OR text:{slow TO stream}' — docs holding >=1 term strictly
    between 'slow' and 'stream' score 1.0 (constant-score rewrite),
    summed with dup's BM25 score. One postings scan, range predicate
    pushed to the sorted term column."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("dup OR text:{slow TO stream}", "text",
                    idx.specs, idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_dsl_matchall_not_topk(spark, sf_dir):
    """'*:* NOT merge' — MatchAllDocsQuery (every doc scores 1.0) with
    a MUST_NOT exclusion; the complement-set query Lucene users write
    for 'docs lacking term X'."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("*:* NOT merge", "text", idx.specs, idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_dsl_regexp_topk(spark, sf_dir):
    """Regexp query inside a boolean: '/s(mall|low)/ OR dup' — the
    pattern matches whole terms (anchored) with a constant-score
    rewrite like Lucene's RegexpQuery, summed with dup's BM25 score.
    One postings scan, JVM-side regex, with the pattern's literal
    prefix ('s') bounding the scan as a sargable term range."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl("/s(mall|low)/ OR dup", "text", idx.specs,
                    idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_dsl_sloppy_phrase_topk(spark, sf_dir):
    """Sloppy phrase '"the merge"~2' — Lucene SloppyPhraseScorer
    phraseFreq: greedy minimal-match-length accumulation over
    offset-adjusted positions, each match weighted 1/(1+matchLength)
    (slop 2 admits the transposed 'merge the'), scored as BM25 over
    the float freq with summed per-term idfs. The DuckDB twin replays
    the same greedy in a recursive CTE."""
    from lucene_clj_spark.query import parse_dsl

    idx = _index(spark, sf_dir)
    ast = parse_dsl('"the merge"~2', "text", idx.specs, idx.analyzers)
    out = idx.search(ast, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_bool_msm_topk(spark, sf_dir):
    """BooleanQuery minimumNumberShouldMatch: OR of three terms with
    min_should_match=2 — docs matching >=2 of {merge, dup, vector},
    scored as the sum of their matched clauses (matched SHOULDs always
    score). Executes on the same one-scan term-group plan as the plain
    OR; the matched-clause tally rides in the existing aggregation."""
    idx = _index(spark, sf_dir)
    out = idx.search({"text": {"merge", "dup", "vector"}},
                     min_should_match=2, results_per_page=10,
                     with_hit=False)
    return _round6(out, "score")


def q_bool_filter_topk(spark, sf_dir):
    """BooleanClause.Occur.FILTER: 'merge' MUST + an n_chars range as
    a FILTER clause — the range restricts matches but contributes NO
    score (compare dsl_typed_range_topk, where the same range as a
    MUST adds its constant 1.0). The filter compiles to a semi join,
    never entering the score expression."""
    from lucene_clj_spark.query import FILTER, MUST, BoolQ, RangeQ, TermQ

    idx = _index(spark, sf_dir)
    node = BoolQ(1.0, (
        (MUST, TermQ(1.0, "text", "merge")),
        (FILTER, RangeQ(1.0, "n_chars", 100, 200, True, True, "long")),
    ))
    out = idx.search(node, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_count_hits_and(spark, sf_dir):
    """IndexSearcher.count / TotalHitCountCollector analogue: total
    docs matching merge AND window — a full-match-set aggregate, no
    per-hit scores materialized (collectors.py:count_hits)."""
    idx = _index(spark, sf_dir)
    return idx.count_hits(["merge", "window"], field_name="text")


def q_facet_lang_term(spark, sf_dir):
    """FacetsCollector analogue: lang value counts over the FULL
    'merge' match set (not the top-k page), count desc / value asc
    (collectors.py:facets)."""
    idx = _index(spark, sf_dir)
    return idx.facets("merge", "lang", field_name="text", max_values=10)


def q_sort_by_field_topk(spark, sf_dir):
    """search(query, n, Sort(SortField)) analogue: 'merge' matches
    ordered by the stored n_chars field desc (doc_id tie-break),
    relevance not computed — compiles to TakeOrderedAndProject
    (collectors.py:search_sorted)."""
    idx = _index(spark, sf_dir)
    return idx.search_sorted("merge", "n_chars", field_name="text",
                             results_per_page=10)


def q_explain_topdoc(spark, sf_dir):
    """IndexSearcher.explain analogue: the per-term BM25 decomposition
    (tf, dl, quantized dl, df, idf, contribution) for the top-1 doc of
    merge AND window — the same arithmetic search() sums, decomposed
    (collectors.py:explain_score)."""
    idx = _index(spark, sf_dir)
    top = idx.search(["merge", "window"], field_name="text",
                     with_hit=False, results_per_page=1).collect()
    return idx.explain_score(["merge", "window"], int(top[0]["doc_id"]),
                             field_name="text")


def q_highlight_topk(spark, sf_dir):
    """Deterministic single-passage highlighting: OR top-5 with the
    7-token window around the first matched token, matches wrapped in
    <em> tags, snippet sliced from the ORIGINAL stored text
    (highlight.py)."""
    idx = _index(spark, sf_dir)
    out = idx.highlight({"text": {"merge", "vector"}}, "text",
                        results_per_page=5, window=3)
    return _round6(out, "score")


def q_dismax_topk(spark, sf_dir):
    """DisjunctionMaxQuery: max over (term merge) and (dup OR vector)
    plus tie_breaker=0.3 times the other matching disjunct — the
    one-scan tree plan (search.py:_scored_tree over _dismax_tree)."""
    from lucene_clj_spark.query import SHOULD, BoolQ, DisMaxQ, TermQ

    idx = _index(spark, sf_dir)
    node = DisMaxQ(
        1.0,
        (TermQ(1.0, "text", "merge"),
         BoolQ(1.0, ((SHOULD, TermQ(1.0, "text", "dup")),
                     (SHOULD, TermQ(1.0, "text", "vector"))))),
        0.3,
    )
    out = idx.search(node, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_span_first_topk(spark, sf_dir):
    """SpanFirstQuery(SpanTermQuery('merge'), 5): docs whose first 5
    tokens contain 'merge', freq = qualifying positions, BM25 with the
    term's full df (search.py:_scored_span_first)."""
    from lucene_clj_spark.query import SpanFirstQ

    idx = _index(spark, sf_dir)
    node = SpanFirstQ(1.0, "text", "merge", 5)
    out = idx.search(node, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_collapse_lang_topk(spark, sf_dir):
    """Field collapse (Lucene grouping / CollapsingTopDocsCollector):
    top-10 for merge OR dup OR vector keeping at most 2 hits per lang
    (collectors.py:search_collapsed)."""
    idx = _index(spark, sf_dir)
    out = idx.search_collapsed(
        {"text": {"merge", "dup", "vector"}}, "lang",
        results_per_page=10, hits_per_group=2,
    )
    return _round6(out, "score")


def q_constant_score_topk(spark, sf_dir):
    """ConstantScoreQuery inside a boolean: BM25 on 'merge' plus a
    flat +2.0 bonus when the doc also contains 'dup' — the inner
    query's scores are never computed (search.py ConstantScoreQ)."""
    from lucene_clj_spark.query import (
        MUST, SHOULD, BoolQ, ConstantScoreQ, TermQ,
    )

    idx = _index(spark, sf_dir)
    node = BoolQ(1.0, ((MUST, TermQ(1.0, "text", "merge")),
                       (SHOULD, ConstantScoreQ(
                           2.0, TermQ(1.0, "text", "dup")))))
    out = idx.search(node, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_facet_ranges_nchars(spark, sf_dir):
    """LongRangeFacetCounts analogue: per-range doc counts of the
    stored n_chars field over the FULL 'merge' match set, one
    aggregation pass for all ranges (collectors.py:facet_ranges)."""
    idx = _index(spark, sf_dir)
    return idx.facet_ranges(
        "merge", "n_chars",
        [("short", None, 200), ("mid", 200, 500), ("long", 500, None)],
        field_name="text",
    )


def q_term_in_set_topk(spark, sf_dir):
    """TermInSetQuery (constant-score set membership) inside a
    boolean: BM25 on 'merge' plus a flat +2.0 when the doc contains
    ANY of {dup, vector, compact} — the whole set is ONE bucket-pruned
    postings scan, not one scan per term
    (search.py:_scored_term_in_set)."""
    from lucene_clj_spark.query import (
        MUST, SHOULD, BoolQ, TermInSetQ, TermQ,
    )

    idx = _index(spark, sf_dir)
    node = BoolQ(1.0, ((MUST, TermQ(1.0, "text", "merge")),
                       (SHOULD, TermInSetQ(
                           2.0, "text", ("dup", "vector", "compact")))))
    out = idx.search(node, results_per_page=10, with_hit=False)
    return _round6(out, "score")


def q_multi_phrase_topk(spark, sf_dir):
    """MultiPhraseQuery: synonym phrase "(merge|dup) window" — freq
    counts union-deduplicated adjacency occurrences, idf sums every
    present (slot, term) entry, BM25 over the quantized length norm
    (search.py:_scored_multi_phrase)."""
    from lucene_clj_spark.query import MultiPhraseQ

    idx = _index(spark, sf_dir)
    out = idx.search(
        MultiPhraseQ(1.0, "text", (("merge", "dup"), ("window",))),
        results_per_page=10, with_hit=False,
    )
    return _round6(out, "score")


def q_delete_search_topk(spark, sf_dir):
    """Tombstoned search (beyond-reference deletes): delete every doc
    with doc_id % 7 == 0, then BM25 top-10 for 'merge'. Deleted docs
    are masked on every query path while statistics stay STALE — the
    Lucene live-docs contract (docFreq/avgdl count deleted docs until
    merge) — so the oracle computes full-corpus stats and excludes the
    victims only from the final match set
    (indexer.delete_documents)."""
    key = f"{sf_dir}/deleted"
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        idx = create_index(spark, docs, DOC_FIELDS, id_column="doc_id")
        victims = [
            r[0]
            for r in docs.select("doc_id")
            .filter(F.col("doc_id") % 7 == 0)
            .collect()
        ]
        idx.delete_documents(victims)
        _INDEX_CACHE[key] = idx
    out = _INDEX_CACHE[key].search(
        "merge", field_name="text", results_per_page=10, with_hit=False
    )
    return _round6(out, "score")


def q_purge_search_topk(spark, sf_dir):
    """Physical purge (Lucene forceMergeDeletes): after
    purge_deletes() the same query scores as a from-scratch build over
    the live docs — the oracle recomputes stats over the filtered
    corpus (indexer.purge_deletes, marker-exact stats arithmetic)."""
    key = f"{sf_dir}/purged"
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        idx = create_index(spark, docs, DOC_FIELDS, id_column="doc_id")
        victims = [
            r[0]
            for r in docs.select("doc_id")
            .filter(F.col("doc_id") % 7 == 0)
            .collect()
        ]
        idx.delete_documents(victims)
        idx.purge_deletes()
        _INDEX_CACHE[key] = idx
    out = _INDEX_CACHE[key].search(
        "merge", field_name="text", results_per_page=10, with_hit=False
    )
    return _round6(out, "score")


def q_spell_suggest(spark, sf_dir):
    """DirectSpellChecker "did you mean": top-5 dictionary corrections
    for the typo 'sark' — Damerau candidates sharing the first char,
    similarity 1 - d/min(len) with the 0.5 accuracy floor, ranked
    (score desc, df desc, term asc); one pruned vocab scan, postings
    never touched (spell.py)."""
    idx = _index(spark, sf_dir)
    out = idx.spell_suggest("text", "sark", k=5)
    return _round6(out, "score")


def q_span_near_ordered_topk(spark, sf_dir):
    """SpanNearQuery(inOrder=true): 'merge' then 'window' within 3
    intervening gaps; freq accumulates 1/(1+matchSlop) per
    minimal-completion match, BM25 over the float freq with summed
    idfs (search._scored_span_near / _span_near_ordered_freq)."""
    from lucene_clj_spark.query import SpanNearQ

    idx = _index(spark, sf_dir)
    out = idx.search(
        SpanNearQ(1.0, "text", ("merge", "window"), 3, True),
        results_per_page=10, with_hit=False,
    )
    return _round6(out, "score")


def q_span_near_unordered_topk(spark, sf_dir):
    """SpanNearQuery(inOrder=false): same clauses either direction —
    the sloppy greedy over unshifted positions with the span bias
    (search._sloppy_freq_py(bias=k-1))."""
    from lucene_clj_spark.query import SpanNearQ

    idx = _index(spark, sf_dir)
    out = idx.search(
        SpanNearQ(1.0, "text", ("merge", "window"), 3, False),
        results_per_page=10, with_hit=False,
    )
    return _round6(out, "score")


def q_span_or_topk(spark, sf_dir):
    """SpanOrQuery('merge' | 'window'): the positional-union synonym
    primitive — freq POOLS the clause tfs before ONE BM25 saturation,
    idf sums the present clauses' idfs (search._scored_span_or; one
    IN-predicate postings scan + a single aggregate)."""
    from lucene_clj_spark.query import SpanOrQ

    idx = _index(spark, sf_dir)
    out = idx.search(
        SpanOrQ(1.0, "text", ("merge", "window")),
        results_per_page=10, with_hit=False,
    )
    return _round6(out, "score")


def q_span_not_topk(spark, sf_dir):
    """SpanNotQuery(include='merge', exclude='window', pre=2, post=2):
    include occurrences survive unless the exclude term lands within
    2 positions either side; freq = surviving count, BM25 on the
    include term's FULL df (search._scored_span_not; two single-term
    seeks + a LEFT join, JVM-side position filtering)."""
    from lucene_clj_spark.query import SpanNotQ

    idx = _index(spark, sf_dir)
    out = idx.search(
        SpanNotQ(1.0, "text", "merge", "window", 2, 2),
        results_per_page=10, with_hit=False,
    )
    return _round6(out, "score")


def q_function_score_topk(spark, sf_dir):
    """FunctionScoreQuery.boostByValue: BM25('merge') * n_chars — the
    stored-field DoubleValuesSource re-score (recency/authority boost
    pattern); the value join reads (doc_id, n_chars) only
    (search._scored_function_score)."""
    from lucene_clj_spark.query import FunctionScoreQ, TermQ

    idx = _index(spark, sf_dir)
    out = idx.search(
        FunctionScoreQ(
            1.0, TermQ(1.0, "text", "merge"), "n_chars", "multiply"
        ),
        results_per_page=10, with_hit=False,
    )
    return _round6(out, "score")


_MIX_FRACTIONS = {"en": 0.8, "de": 0.4, "fr": 1.0}


def q_sample_mix_stats(spark, sf_dir):
    """Deterministic stratified sampling (the training-mix builder):
    keep 80% of en, 40% of de, all of fr, drop the rest — decisions
    keyed on portable md5 bits so the SAME rows survive on every
    engine and partition layout (functions/sampling.py). Returns
    per-stratum doc counts + char mass."""
    from lucene_clj_spark.functions.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    out = (
        stratified_sample(docs, "lang", _MIX_FRACTIONS, seed=7)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    return out


def q_shuffle_head(spark, sf_dir):
    """Deterministic global shuffle (reproducible training order):
    shuffle_key = portable_hash(doc_id, seed); the 10 smallest keys
    are the same everywhere (functions/sampling.py:
    deterministic_shuffle)."""
    from lucene_clj_spark.functions.sampling import (
        deterministic_shuffle,
    )

    docs = _docs(spark, sf_dir)
    return (
        deterministic_shuffle(docs, seed=1)
        .select("doc_id", "shuffle_key")
        .orderBy("shuffle_key", "doc_id")
        .limit(10)
    )


def q_dup_components(spark, sf_dir):
    """Duplicate CLUSTERS, not just pairs: connected components over
    the n-gram-Jaccard pair graph by min-label propagation (edge-sized
    shuffles per round, localCheckpoint-truncated lineage;
    functions/dedup.py:duplicate_components). (doc_id, component)
    where component = the cluster's smallest doc_id — the canonical
    keeper of the dedup resolution."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=5, threshold=0.5,
        max_shingle_df=10**9,
    )
    return dedup.duplicate_components(pairs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for 'merge' with stored-field hits at
    sf0.001."""
    idx = _index(spark, "/root/testdata/sf0.001")
    out = idx.search("merge", field_name="text", results_per_page=10)
    return _round6(out, "score")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver's correctness gate samples the FIRST 50 entries of this
    # dict (insertion order).  The first 50 are therefore a stratified
    # cross-section of every operator family — core search, pagination /
    # keyset, suggest, DSL, WAND kernels, msm/filter booleans,
    # collectors, highlight, prebuilt queries (dismax / spans /
    # multi-phrase / function-score), deletes, spell, batch + MLT,
    # incremental add, hit-fn projection, typed instant exact, dedup
    # (exact / jaccard / LSH / components / decontamination), ANN
    # (brute + IVF), text analysis, URL parsing, sampling, multimodal —
    # so CORRECTNESS_r*.json exercises ≥1 query per family.  The
    # remaining entries are the rest of the 94-query superset, all
    # checked locally by tools/check_oracle.py.
    return {
        # -- core search (Q2/Q3/Q5/Q7, S1-S4) --
        "term_topk": q_term_topk,
        "term_page2": q_term_page2,
        "bool_and_topk": q_bool_and_topk,
        "bool_or_topk": q_bool_or_topk,
        "phrase_topk": q_phrase_topk,
        "fuzzy_topk": q_fuzzy_topk,
        "keyword_lang_topk": q_keyword_lang_topk,
        "typed_exact_nchars": q_typed_exact_nchars,
        "search_after": q_search_after,
        "corpus_stats": q_corpus_stats,
        # -- suggest (G1-G5) --
        "suggest_prefix": q_suggest_prefix,
        "suggest_fuzzy": q_suggest_fuzzy,
        # -- classic DSL (Q8) --
        "dsl_boost_topk": q_dsl_boost_topk,
        "dsl_wildcard_topk": q_dsl_wildcard_topk,
        "dsl_typed_range_topk": q_dsl_typed_range_topk,
        # -- block-max WAND segment kernels --
        "wand_or_topk": q_wand_or_topk,
        "wand_phrase_bool_topk": q_wand_phrase_bool_topk,
        "wand_multi_field_topk": q_wand_multi_field_topk,
        "wand_search_after": q_wand_search_after,
        # -- boolean extensions --
        "bool_msm_topk": q_bool_msm_topk,
        "bool_filter_topk": q_bool_filter_topk,
        # -- collectors + highlight --
        "count_hits_and": q_count_hits_and,
        "facet_lang_term": q_facet_lang_term,
        "collapse_lang_topk": q_collapse_lang_topk,
        "highlight_topk": q_highlight_topk,
        # -- prebuilt queries (dismax / spans / multi-phrase / fscore) --
        "dismax_topk": q_dismax_topk,
        "span_near_ordered_topk": q_span_near_ordered_topk,
        "span_not_topk": q_span_not_topk,
        "multi_phrase_topk": q_multi_phrase_topk,
        "function_score_topk": q_function_score_topk,
        # -- deletes / update (tombstone + purge) --
        "delete_search_topk": q_delete_search_topk,
        "purge_search_topk": q_purge_search_topk,
        # -- spell correction --
        "spell_suggest": q_spell_suggest,
        # -- batch multi-query + more-like-this --
        "batch_topk": q_batch_topk,
        "batch_memory_topk": q_batch_memory_topk,
        "mlt_topk": q_mlt_topk,
        # -- index lifecycle + hit projection --
        "incremental_add_topk": q_incremental_add_topk,
        "hit_fn_topk": q_hit_fn_topk,
        # -- typed instant exact (events table) --
        "events_ts_exact": q_events_ts_exact,
        # -- dedup family --
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "lsh_pairs": q_lsh_pairs,
        "dup_components": q_dup_components,
        "decontaminate": q_decontaminate,
        # -- ANN / similarity search --
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        # -- text analysis --
        "token_counts": q_token_counts,
        "quality_flags": q_quality_flags,
        "url_parts": q_url_parts,
        # -- sampling + multimodal --
        "sample_mix_stats": q_sample_mix_stats,
        "blob_features": q_blob_features,
        # ---- end of the driver's 50-entry window ----
        "term_topk_rare": q_term_topk_rare,
        "term_stats_top20": q_term_stats_top20,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "token_stats": q_token_stats,
        "host_stats": q_host_stats,
        "tfidf_top_terms": q_tfidf_top_terms,
        "fingerprint": q_fingerprint,
        "simhash_near_pairs": q_simhash_near_pairs,
        "events_type_exact": q_events_type_exact,
        "events_value_exact": q_events_value_exact,
        "ann_rp_lsh_topk": q_ann_rp_lsh_topk,
        "knn_join": q_knn_join,
        "lang_id": q_lang_id,
        "dsl_grouped_topk": q_dsl_grouped_topk,
        "dsl_nested_topk": q_dsl_nested_topk,
        "wand_tree_topk": q_wand_tree_topk,
        "multi_field_and_topk": q_multi_field_and_topk,
        "phrase3_topk": q_phrase3_topk,
        "suggest_context": q_suggest_context,
        "wand_group_topk": q_wand_group_topk,
        "wand_group_not_topk": q_wand_group_not_topk,
        "wand_tree_phrase_topk": q_wand_tree_phrase_topk,
        "fuzzy_bool_topk": q_fuzzy_bool_topk,
        "wand_fuzzy_bool_topk": q_wand_fuzzy_bool_topk,
        "webpages_pipeline_topk": q_webpages_pipeline_topk,
        "batch_df_topk": q_batch_df_topk,
        "embed_near_dup": q_embed_near_dup,
        "dsl_term_range_topk": q_dsl_term_range_topk,
        "dsl_matchall_not_topk": q_dsl_matchall_not_topk,
        "dsl_sloppy_phrase_topk": q_dsl_sloppy_phrase_topk,
        "dsl_regexp_topk": q_dsl_regexp_topk,
        "sort_by_field_topk": q_sort_by_field_topk,
        "span_first_topk": q_span_first_topk,
        "constant_score_topk": q_constant_score_topk,
        "facet_ranges_nchars": q_facet_ranges_nchars,
        "explain_topdoc": q_explain_topdoc,
        "term_in_set_topk": q_term_in_set_topk,
        "span_near_unordered_topk": q_span_near_unordered_topk,
        "span_or_topk": q_span_or_topk,
        "wand_span_or_topk": q_wand_span_or_topk,
        "shuffle_head": q_shuffle_head,
        "wand_sloppy_phrase_topk": q_wand_sloppy_phrase_topk,
        "wand_msm_topk": q_wand_msm_topk,
    }


# --- DuckDB oracles ----------------------------------------------------
#
# Every per-doc score sum uses an ORDERED aggregate
# (``sum(score ORDER BY term)``): plain sum() adds in DuckDB's
# nondeterministic hash-agg order, so two IDENTICAL docs can differ by
# 1 ulp and full-precision tie ordering becomes run-dependent — the sf1
# duplication run surfaced exactly that (320 copies of a doc selected
# as an arbitrary subset). Term-ascending addition matches the segment
# kernels' canonical fkey-sorted accumulation.

def _bool_and_sql() -> str:
    return (
        _multi_term_scores_sql(["merge", "window"])
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, sum(score ORDER BY term) AS score FROM scores
  GROUP BY doc_id HAVING count(DISTINCT term) = 2
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _bool_or_sql() -> str:
    return (
        _multi_term_scores_sql(["merge", "dup", "vector"])
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, sum(score ORDER BY term) AS score FROM scores
  GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dismax_sql() -> str:
    # DisjunctionMaxQuery twin: gid 0 = term 'merge', gid 1 = the
    # (dup OR vector) SHOULD-group; per-doc score = max(group scores)
    # + 0.3 * (sum - max) — DisjunctionMaxQuery's documented formula
    return (
        _multi_term_scores_sql(["merge", "dup", "vector"])
        + """
, g AS (
  SELECT doc_id,
         CASE WHEN term = 'merge' THEN 0 ELSE 1 END AS gid,
         sum(score ORDER BY term) AS g_score
  FROM scores
  GROUP BY doc_id, CASE WHEN term = 'merge' THEN 0 ELSE 1 END
),
agg AS (
  SELECT doc_id, max(g_score) AS mx, sum(g_score) AS sm
  FROM g GROUP BY doc_id
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, mx + 0.3 * (sm - mx) AS score FROM agg
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _span_first_sql(term: str, end: int, k: int = 10) -> str:
    # SpanFirstQuery twin: freq = occurrences of the term among the
    # first `end` tokens (DuckDB list indices are 1-based: i <= end
    # <=> 0-based position < end); BM25 uses the term's FULL df
    idf = bm25.idf_sql("t.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id,
         len(list_filter(range(1, len(ts) + 1),
             i -> ts[i] = '{term}' AND i <= {end})) AS freq
  FROM doc
),
scores AS (
  SELECT f.doc_id,
         {idf} * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{term}') t
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _collapse_lang_sql() -> str:
    # field-collapse twin: OR-sum scores, rank within each lang by
    # (score desc, doc_id asc), keep <= 2 per lang, then global top-10
    return (
        _multi_term_scores_sql(["merge", "dup", "vector"])
        + """
, agg AS (
  SELECT doc_id, sum(score ORDER BY term) AS score
  FROM scores GROUP BY doc_id
),
ranked AS (
  SELECT a.doc_id, d.lang, a.score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY a.score DESC, a.doc_id ASC) AS rn
  FROM agg a JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, round(score, 6) AS score FROM (
  SELECT doc_id, lang, score FROM ranked WHERE rn <= 2
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _constant_score_sql() -> str:
    # ConstantScoreQuery twin: BM25 on 'merge' + flat 2.0 when the doc
    # also contains 'dup' (the inner query never scores)
    return (
        _TERM_SCORES.replace("{term}", "merge")
        + """
, dup AS (SELECT DISTINCT doc_id FROM post WHERE term = 'dup')
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT s.doc_id,
         s.score + CASE WHEN d.doc_id IS NOT NULL THEN 2.0
                        ELSE 0.0 END AS score
  FROM scores s LEFT JOIN dup d USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _term_in_set_sql() -> str:
    # TermInSetQuery twin: BM25 on 'merge' + flat 2.0 when the doc
    # contains ANY of the set (constant-score — matching several set
    # terms is not worth more)
    return (
        _TERM_SCORES.replace("{term}", "merge")
        + """
, inset AS (SELECT DISTINCT doc_id FROM post
            WHERE term IN ('dup', 'vector', 'compact'))
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT s.doc_id,
         s.score + CASE WHEN i.doc_id IS NOT NULL THEN 2.0
                        ELSE 0.0 END AS score
  FROM scores s LEFT JOIN inset i USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _multi_phrase_sql() -> str:
    # MultiPhraseQuery twin: "(merge|dup) window" — a position matched
    # by either alternative counts once (the OR inside list_filter IS
    # the union-dedup); idf sums all three (slot, term) entries
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    idf3 = bm25.idf_sql("t3.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id,
         len(list_filter(range(1, len(ts)),
             i -> (ts[i] = 'merge' OR ts[i] = 'dup')
                  AND ts[i+1] = 'window')) AS freq
  FROM doc
),
scores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2} + {idf3}) * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = 'merge') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = 'dup') t2
  CROSS JOIN (SELECT df FROM tstat WHERE term = 'window') t3
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _delete_stale_sql() -> str:
    # tombstoned search twin: stats over the FULL corpus (stale until
    # purge, Lucene live-docs contract), victims excluded only from
    # the final match set
    return (
        _TERM_SCORES.replace("{term}", "merge")
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  WHERE doc_id % 7 <> 0
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _purge_sql() -> str:
    # post-purge twin: the corpus IS the live docs — stats, term
    # dictionary, and matching all computed over the filtered set
    return (
        _TERM_SCORES.replace(
            "FROM documents", "FROM documents WHERE doc_id % 7 <> 0"
        ).replace("{term}", "merge")
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _spell_sql() -> str:
    # DirectSpellChecker twin: pruned vocab scan, Damerau similarity,
    # accuracy floor, (score desc, df desc, term asc). 'sark' is
    # absent from the corpus vocabulary, so neither the common-term
    # gate nor the more-frequent-than-the-typo rule binds; it yields
    # spark (d=1) plus a scan/sort tie at d=2 broken by df.
    d = "damerau_levenshtein(term, 'sark')"
    sc = (f"1.0 - CAST({d} AS DOUBLE) / "
          "CAST(least(length(term), 4) AS DOUBLE)")
    return (
        _BASE
        + f"""
SELECT suggestion, df, round(score, 6) AS score FROM (
  SELECT term AS suggestion, df, {sc} AS score
  FROM tstat
  WHERE abs(length(term) - 4) <= 2
    AND term <> 'sark'
    AND substr(term, 1, 1) = 's'
    AND {d} <= 2
    AND {sc} >= 0.5
  ORDER BY score DESC, df DESC, suggestion ASC LIMIT 5
)"""
    )


def _span_near_score_tail(t1: str, t2: str) -> str:
    # shared BM25-over-float-freq tail for the span-near twins
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return f"""
, scores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2}) * f.freq /
         (f.freq + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t1}') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t2}') t2
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""


def _span_near_ordered_sql(t1: str, t2: str, slop: int) -> str:
    # NearSpansOrdered twin: per first-clause position, the minimal
    # completing second-clause position; ms = b - a - 1; weight
    # 1/(1+ms) = 1/(b-a)
    return (
        _BASE
        + f"""
, pos AS (
  SELECT doc_id,
    list_filter(range(1, len(ts)+1), i -> ts[i] = '{t1}') AS ap,
    list_filter(range(1, len(ts)+1), i -> ts[i] = '{t2}') AS bp
  FROM doc
),
freqs AS (
  SELECT doc_id,
    list_sum(list_transform(ap, a ->
      CASE WHEN len(list_filter(bp, b -> b > a)) > 0
           AND list_min(list_filter(bp, b -> b > a)) - a - 1 <= {slop}
        THEN 1.0 / (list_min(list_filter(bp, b -> b > a)) - a)
        ELSE 0.0 END)) AS freq
  FROM pos
)"""
        + _span_near_score_tail(t1, t2)
    )


def _span_near_unordered_sql(t1: str, t2: str, slop: int) -> str:
    # NearSpansUnordered twin (2 clauses): the greedy's matches are
    # exactly the consecutive CROSS-term pairs of the merged position
    # sequence; ms = gap - 1, weight 1/gap
    return (
        _BASE
        + f"""
, seq AS (
  SELECT doc_id, u.i AS pos, ts[u.i] AS term
  FROM doc, LATERAL unnest(list_filter(range(1, len(ts)+1),
        i -> ts[i] IN ('{t1}', '{t2}'))) AS u(i)
),
pairs AS (
  SELECT doc_id, pos, term,
         lead(pos) OVER w AS npos, lead(term) OVER w AS nterm
  FROM seq WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
freqs AS (
  SELECT doc_id, sum(CASE WHEN nterm IS NOT NULL AND term <> nterm
                          AND npos - pos - 1 <= {slop}
                     THEN 1.0/(npos - pos) ELSE 0 END) AS freq
  FROM pairs GROUP BY doc_id
)"""
        + _span_near_score_tail(t1, t2)
    )


def _span_or_sql(t1: str, t2: str, k: int = 10) -> str:
    # SpanOrQuery twin: freq = SUM of the clause tfs per doc (the
    # positional union of width-1 spans), idf = sum of the present
    # terms' idfs, ONE BM25 saturation over the pooled freq. The idf
    # sum is a chain of per-term COALESCE'd scalar subqueries (clause
    # order preserved) so a df=0 clause contributes 0 — matching the
    # engine's skip-absent-terms contract — instead of emptying the
    # result via a CROSS JOIN against an empty tstat selection.
    idf_terms = " + ".join(
        f"COALESCE((SELECT {bm25.idf_sql('t.df', 's.n')} "
        f"FROM tstat t CROSS JOIN stats s WHERE t.term = '{t}'), 0.0)"
        for t in (t1, t2)
    )
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id, sum(tf) AS freq
  FROM post WHERE term IN ('{t1}', '{t2}') GROUP BY doc_id
),
scores AS (
  SELECT f.doc_id,
         ({idf_terms}) * f.freq /
         (f.freq + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _span_not_sql(
    inc: str, exc: str, pre: int, post: int, k: int = 10
) -> str:
    # SpanNotQuery twin: include positions survive unless an exclude
    # position lands in [p - pre, p + post] (1-based list indices —
    # the window is shift-invariant); BM25 on the include term's FULL
    # df, freq = surviving count
    idf = bm25.idf_sql("t.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, pos AS (
  SELECT doc_id,
    list_filter(range(1, len(ts)+1), i -> ts[i] = '{inc}') AS ip,
    list_filter(range(1, len(ts)+1), i -> ts[i] = '{exc}') AS ep
  FROM doc
),
freqs AS (
  SELECT doc_id,
    len(list_filter(ip, p -> len(list_filter(ep,
        q -> q >= p - {pre} AND q <= p + {post})) = 0)) AS freq
  FROM pos
),
scores AS (
  SELECT f.doc_id,
         {idf} * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{inc}') t
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _function_score_sql(term: str, k: int = 10) -> str:
    # FunctionScoreQuery.boostByValue twin: BM25(term) * n_chars from
    # the stored documents row
    return (
        _TERM_SCORES.replace("{term}", term)
        + f"""
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT sc.doc_id, sc.score * CAST(dd.n_chars AS DOUBLE) AS score
  FROM scores sc JOIN documents dd USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _dup_components_sql(threshold: float = 0.5) -> str:
    # transitive-closure twin of the min-label propagation: component
    # = min over every doc reachable through the pair graph
    return (
        _shingle_cte(5).replace("WITH ", "WITH RECURSIVE ", 1)
        + f"""
, inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_shingles AS na, b.n_shingles AS nb, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
),
pr AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
           AS jaccard
    FROM inter
  ) WHERE jaccard >= {threshold!r}
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
          UNION ALL SELECT doc_b, doc_a FROM pr),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach AS (
  SELECT n AS src, n AS dst FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src"""
    )


def _sample_mix_sql() -> str:
    from lucene_clj_spark.functions.sampling import (
        sample_sql_predicate,
    )

    pred = sample_sql_predicate("lang", "doc_id", _MIX_FRACTIONS,
                                seed=7)
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE {pred} GROUP BY lang"""


def _shuffle_head_sql() -> str:
    from lucene_clj_spark.functions.text import portable_hash_sql

    h = portable_hash_sql(
        "concat_ws(chr(31), CAST(doc_id AS VARCHAR), '1')"
    )
    return f"""
SELECT doc_id, {h} AS shuffle_key FROM documents
ORDER BY shuffle_key ASC, doc_id ASC LIMIT 10"""


def _facet_ranges_sql() -> str:
    # LongRangeFacetCounts twin: lo inclusive, hi exclusive, every
    # requested range reported (0 when empty), caller's range order
    return (
        _BASE
        + """
, m AS (SELECT DISTINCT doc_id FROM post WHERE term = 'merge'),
j AS (SELECT d.n_chars FROM m JOIN documents d USING (doc_id))
SELECT 'short' AS facet_value,
       CAST(count(CASE WHEN n_chars < 200 THEN 1 END) AS BIGINT)
       AS n_docs FROM j
UNION ALL
SELECT 'mid',
       CAST(count(CASE WHEN n_chars >= 200 AND n_chars < 500 THEN 1
                  END) AS BIGINT) FROM j
UNION ALL
SELECT 'long',
       CAST(count(CASE WHEN n_chars >= 500 THEN 1 END) AS BIGINT)
FROM j"""
    )


_BATCH_CLAUSES = [
    ("and2", "merge", "MUST"),
    ("and2", "window", "MUST"),
    ("or3", "merge", "SHOULD"),
    ("or3", "dup", "SHOULD"),
    ("or3", "vector", "SHOULD"),
    ("term", "scan", "SHOULD"),
    ("notq", "merge", "SHOULD"),
    ("notq", "compact", "NOT"),
]

# the DF-variant log exercises MUST+NOT together and a dead query
# whose second MUST term is absent from the corpus vocabulary
_BATCH_DF_CLAUSES = [
    ("mn", "merge", "MUST"),
    ("mn", "window", "MUST"),
    ("mn", "compact", "NOT"),
    ("or2", "dup", "SHOULD"),
    ("or2", "scan", "SHOULD"),
    ("dead", "merge", "MUST"),
    ("dead", "zzqqnotaword", "MUST"),
    ("t", "vector", "SHOULD"),
]


def _batch_sql(clauses: list[tuple[str, str, str]]) -> str:
    # a batch clause relation replayed as a VALUES join: per
    # (query_id, doc_id), score = ordered sum of non-NOT clause
    # scores, matched MUST terms must cover the query's MUST count
    # (counted over the RAW spec, so a MUST term absent from the
    # vocabulary empties its query), and any matched NOT term vetoes;
    # top-10 per query_id.
    values = ",\n    ".join(
        f"('{q}', '{t}', '{o}')" for q, t, o in clauses
    )
    return (
        _BASE
        + f"""
, qspec AS (
  SELECT * FROM (VALUES
    {values}
  ) AS v(query_id, term, occ)
),
scores AS (
  SELECT q.query_id, p.doc_id, p.term, q.occ,
         CASE WHEN q.occ = 'NOT' THEN 0.0 ELSE {_SCORE} END AS score
  FROM post p
  JOIN qspec q USING (term)
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
),
agg AS (
  SELECT query_id, doc_id,
         sum(score ORDER BY term) AS score,
         count(DISTINCT CASE WHEN occ = 'MUST' THEN term END) AS musts,
         max(CASE WHEN occ = 'NOT' THEN 1 ELSE 0 END) AS vetoed
  FROM scores GROUP BY query_id, doc_id
),
need AS (
  SELECT query_id,
         count(DISTINCT CASE WHEN occ = 'MUST' THEN term END) AS n_musts
  FROM qspec GROUP BY query_id
)
SELECT query_id, doc_id, round(score, 6) AS score FROM (
  SELECT a.query_id, a.doc_id, a.score,
         row_number() OVER (PARTITION BY a.query_id
                            ORDER BY a.score DESC, a.doc_id ASC) AS rn
  FROM agg a JOIN need n USING (query_id)
  WHERE a.musts = n.n_musts AND a.vetoed = 0
) WHERE rn <= 10"""
    )


def _mlt_sql(max_query_doc: int = 40, n_terms: int = 5,
             k: int = 5) -> str:
    # MoreLikeThis replay: per query doc (doc_id < max_query_doc), its
    # n rarest terms (df asc, term asc) score the whole corpus; self
    # rows drop before the per-query top-k.
    return (
        _BASE
        + f"""
, qsel AS (
  SELECT query_doc_id, term FROM (
    SELECT p.doc_id AS query_doc_id, p.term,
           row_number() OVER (PARTITION BY p.doc_id
                              ORDER BY t.df ASC, p.term ASC) AS rn
    FROM post p JOIN tstat t USING (term)
    WHERE p.doc_id < {max_query_doc}
  ) WHERE rn <= {n_terms}
),
scores AS (
  SELECT q.query_doc_id, p.doc_id, p.term, {_SCORE} AS score
  FROM post p
  JOIN qsel q USING (term)
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
),
agg AS (
  SELECT query_doc_id, doc_id, sum(score ORDER BY term) AS score
  FROM scores
  WHERE doc_id <> query_doc_id
  GROUP BY query_doc_id, doc_id
)
SELECT query_doc_id, doc_id, round(score, 6) AS score FROM (
  SELECT query_doc_id, doc_id, score,
         row_number() OVER (PARTITION BY query_doc_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM agg
) WHERE rn <= {k}"""
    )


def _phrase_sql(t1: str, t2: str, k: int = 10) -> str:
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id,
         len(list_filter(range(1, len(ts)),
             i -> ts[i] = '{t1}' AND ts[i+1] = '{t2}')) AS freq
  FROM doc
),
scores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2}) * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t1}') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t2}') t2
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _phrase_bool_sql(t1: str, t2: str, term: str, k: int = 10) -> str:
    # '"t1 t2" AND term': doc must contain the exact-adjacency phrase
    # AND the term; score = phrase BM25 (summed idfs, phrase freq) +
    # the term's BM25 score — same association as the engine's group
    # kernel (phrase scored in-scan, term scored per posting)
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id,
         len(list_filter(range(1, len(ts)),
             i -> ts[i] = '{t1}' AND ts[i+1] = '{t2}')) AS freq
  FROM doc
),
pscores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2}) * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t1}') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t2}') t2
  WHERE f.freq > 0
),
tscores AS (
  SELECT p.doc_id, {_SCORE} AS score
  FROM post p
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
  WHERE p.term = '{term}'
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT ps.doc_id, ps.score + ts.score AS score
  FROM pscores ps JOIN tscores ts USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _tree_phrase_sql(t1: str, t2: str, a: str, b: str, c: str,
                     k: int = 10) -> str:
    # '("t1 t2" AND a) OR (b AND c)': a doc matches via either inner
    # AND group; score = sum over MATCHED groups of (phrase BM25 +
    # term BM25) / (term BM25 + term BM25)
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id,
         len(list_filter(range(1, len(ts)),
             i -> ts[i] = '{t1}' AND ts[i+1] = '{t2}')) AS freq
  FROM doc
),
pscores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2}) * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t1}') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t2}') t2
  WHERE f.freq > 0
),
tscores AS (
  SELECT p.doc_id, p.term, {_SCORE} AS score
  FROM post p
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
  WHERE p.term IN ('{a}', '{b}', '{c}')
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN term = '{a}' THEN score END) AS s_a,
         max(CASE WHEN term = '{b}' THEN score END) AS s_b,
         max(CASE WHEN term = '{c}' THEN score END) AS s_c
  FROM tscores GROUP BY doc_id
),
allids AS (
  SELECT doc_id FROM per_doc UNION SELECT doc_id FROM pscores
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT i.doc_id,
         (CASE WHEN p.score IS NOT NULL AND t.s_a IS NOT NULL
               THEN p.score + t.s_a ELSE 0 END)
         + (CASE WHEN t.s_b IS NOT NULL AND t.s_c IS NOT NULL
                 THEN t.s_b + t.s_c ELSE 0 END) AS score
  FROM allids i
  LEFT JOIN pscores p USING (doc_id)
  LEFT JOIN per_doc t USING (doc_id)
  WHERE (p.score IS NOT NULL AND t.s_a IS NOT NULL)
     OR (t.s_b IS NOT NULL AND t.s_c IS NOT NULL)
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _dsl_boost_sql() -> str:
    # 'merge^2 window' = OR, merge's score scaled by 2 before the sum
    return (
        _multi_term_scores_sql(["merge", "window"])
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id,
         sum(CASE WHEN term = 'merge' THEN 2.0 * score ELSE score END
             ORDER BY term) AS score
  FROM scores GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dsl_grouped_sql() -> str:
    # '(merge OR window) AND dup' = +(merge window) +dup:
    # doc must match dup and at least one of merge/window; score = sum
    # of the matching per-term BM25 scores
    return (
        _multi_term_scores_sql(["merge", "window", "dup"])
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, sum(score ORDER BY term) AS score
  FROM scores GROUP BY doc_id
  HAVING sum(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN term IN ('merge', 'window') THEN 1 ELSE 0 END) > 0
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dsl_grouped_not_sql() -> str:
    # '(merge OR window) AND dup NOT scan': the NOT term participates
    # only as an exclusion — it contributes no score
    return (
        _multi_term_scores_sql(["merge", "window", "dup", "scan"])
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id,
         sum(CASE WHEN term <> 'scan' THEN score ELSE 0 END
             ORDER BY term) AS score
  FROM scores GROUP BY doc_id
  HAVING sum(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN term IN ('merge', 'window') THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN term = 'scan' THEN 1 ELSE 0 END) = 0
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dsl_nested_sql() -> str:
    # '((merge AND window) OR (dup AND scan)) NOT compact': a doc
    # matches iff it holds BOTH terms of either inner AND group and
    # not 'compact'; score = sum over the MATCHED inner groups of
    # their term scores (an unmatched group contributes nothing even
    # when one of its terms is present)
    return (
        _multi_term_scores_sql(
            ["merge", "window", "dup", "scan", "compact"]
        )
        + """
, per_doc AS (
  SELECT doc_id,
         max(CASE WHEN term = 'merge' THEN score END)  AS s_merge,
         max(CASE WHEN term = 'window' THEN score END) AS s_window,
         max(CASE WHEN term = 'dup' THEN score END)    AS s_dup,
         max(CASE WHEN term = 'scan' THEN score END)   AS s_scan,
         max(CASE WHEN term = 'compact' THEN 1 ELSE 0 END) AS m_compact
  FROM scores GROUP BY doc_id
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id,
         (CASE WHEN s_merge IS NOT NULL AND s_window IS NOT NULL
               THEN s_merge + s_window ELSE 0 END)
         + (CASE WHEN s_dup IS NOT NULL AND s_scan IS NOT NULL
                 THEN s_dup + s_scan ELSE 0 END) AS score
  FROM per_doc
  WHERE ((s_merge IS NOT NULL AND s_window IS NOT NULL)
         OR (s_dup IS NOT NULL AND s_scan IS NOT NULL))
    AND m_compact = 0
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dsl_wildcard_sql() -> str:
    # 's*a* OR dup': wildcard rewrites constant-score (1.0 per doc
    # holding >=1 term LIKE 's%a%'), OR-summed with dup's BM25 score
    return (
        _TERM_SCORES.replace("{term}", "dup")
        + """
, wild AS (SELECT DISTINCT doc_id FROM post WHERE term LIKE 's%a%')
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT COALESCE(w.doc_id, sc.doc_id) AS doc_id,
         (CASE WHEN w.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END
          + COALESCE(sc.score, 0.0)) AS score
  FROM wild w FULL OUTER JOIN scores sc ON w.doc_id = sc.doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dsl_typed_range_sql() -> str:
    # 'merge AND n_chars:[100 TO 200]': point range is constant-score
    # 1.0, MUST-intersected with merge's BM25 score
    return (
        _TERM_SCORES.replace("{term}", "merge")
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT sc.doc_id AS doc_id, sc.score + 1.0 AS score
  FROM scores sc JOIN documents dd ON sc.doc_id = dd.doc_id
  WHERE dd.n_chars BETWEEN 100 AND 200
  ORDER BY score DESC, sc.doc_id ASC LIMIT 10
)"""
    )


def _dsl_term_range_sql() -> str:
    # 'dup OR text:{slow TO stream}': lexicographic term range with
    # EXCLUSIVE bounds, constant-score 1.0, OR-summed with dup
    return (
        _TERM_SCORES.replace("{term}", "dup")
        + """
, rng AS (
  SELECT DISTINCT doc_id FROM post
  WHERE term > 'slow' AND term < 'stream'
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT COALESCE(r.doc_id, sc.doc_id) AS doc_id,
         (CASE WHEN r.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END
          + COALESCE(sc.score, 0.0)) AS score
  FROM rng r FULL OUTER JOIN scores sc ON r.doc_id = sc.doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _bool_msm_sql() -> str:
    # OR of 3 terms with minimumNumberShouldMatch=2: docs matching
    # >=2 distinct clauses, score = ordered sum of matched clauses
    return (
        _multi_term_scores_sql(["merge", "dup", "vector"])
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, sum(score ORDER BY term) AS score FROM scores
  GROUP BY doc_id HAVING count(DISTINCT term) >= 2
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _bool_filter_sql() -> str:
    # 'merge' MUST + n_chars range FILTER: restricted doc set, score
    # UNCHANGED (no constant contribution — contrast the +1.0 in
    # _dsl_typed_range_sql where the range is a MUST)
    return (
        _TERM_SCORES.replace("{term}", "merge")
        + """
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT sc.doc_id AS doc_id, sc.score AS score
  FROM scores sc JOIN documents dd ON sc.doc_id = dd.doc_id
  WHERE dd.n_chars BETWEEN 100 AND 200
  ORDER BY score DESC, sc.doc_id ASC LIMIT 10
)"""
    )


def _dsl_regexp_sql() -> str:
    # '/s(mall|low)/ OR dup': anchored whole-term regexp, constant
    # score 1.0, OR-summed with dup's BM25 score
    return (
        _TERM_SCORES.replace("{term}", "dup")
        + """
, rex AS (
  SELECT DISTINCT doc_id FROM post
  WHERE regexp_full_match(term, 's(mall|low)')
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT COALESCE(r.doc_id, sc.doc_id) AS doc_id,
         (CASE WHEN r.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END
          + COALESCE(sc.score, 0.0)) AS score
  FROM rex r FULL OUTER JOIN scores sc ON r.doc_id = sc.doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _dsl_matchall_not_sql() -> str:
    # '*:* NOT merge': every doc scores 1.0, minus docs holding merge
    return (
        _BASE
        + """
SELECT doc_id, 1.0 AS score FROM (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM post WHERE term = 'merge')
  ORDER BY d.doc_id ASC LIMIT 10
)"""
    )


def _dsl_sloppy_sql(t1: str = "the", t2: str = "merge",
                    slop: int = 2, k: int = 10) -> str:
    # '"t1 t2"~slop' — replays Lucene's SloppyPhraseScorer greedy
    # (the same algorithm as search._sloppy_freq_py) in a recursive
    # CTE, one state row per doc per step: pop the min offset-adjusted
    # position (slot-0-first on ties, like heapq on (pos, slot)),
    # minimize the current match length while that slot stays minimal,
    # bank 1/(1+matchLength) when it overtakes the other slot (and
    # once more at exhaustion). Score = BM25 over the float freq with
    # summed idfs, exactly the engine's arithmetic order.
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    base = _BASE.replace("WITH doc", "WITH RECURSIVE doc", 1)
    return (
        base
        + f"""
, pls AS (
  SELECT doc_id,
         list_filter(range(1, len(ts) + 1),
                     i -> ts[i] = '{t1}') AS A,
         list_transform(
             list_filter(range(1, len(ts) + 1), i -> ts[i] = '{t2}'),
             x -> x - 1) AS B
  FROM doc
),
init AS (
  SELECT doc_id, A, B,
         CASE WHEN A[1] <= B[1] THEN 0 ELSE 1 END AS i,
         CAST(1 AS BIGINT) AS idx0, CAST(1 AS BIGINT) AS idx1,
         CASE WHEN A[1] <= B[1] THEN B[1] ELSE A[1] END AS other,
         greatest(A[1], B[1]) AS end_,
         greatest(A[1], B[1]) - least(A[1], B[1]) AS mlen,
         CAST(0.0 AS DOUBLE) AS freq, false AS done
  FROM pls WHERE len(A) > 0 AND len(B) > 0
),
steps AS (
  SELECT * FROM init
  UNION ALL
  SELECT doc_id, A, B,
         CASE WHEN NOT ex AND p > other THEN 1 - i ELSE i END AS i,
         CASE WHEN NOT ex AND i = 0 THEN n ELSE idx0 END AS idx0,
         CASE WHEN NOT ex AND i = 1 THEN n ELSE idx1 END AS idx1,
         CASE WHEN NOT ex AND p > other THEN p ELSE other END AS other,
         CASE WHEN ex THEN end_ ELSE greatest(end_, p) END AS end_,
         CASE WHEN ex THEN mlen
              WHEN p > other THEN greatest(end_, p) - other
              WHEN end_ - p < mlen THEN end_ - p
              ELSE mlen END AS mlen,
         freq + CASE WHEN (ex OR p > other) AND mlen <= {slop}
                     THEN 1.0 / (1.0 + mlen) ELSE 0.0 END AS freq,
         ex AS done
  FROM (
    SELECT *,
           (CASE WHEN i = 0 THEN idx0 ELSE idx1 END) + 1 AS n,
           ((CASE WHEN i = 0 THEN idx0 ELSE idx1 END) + 1
            > CASE WHEN i = 0 THEN len(A) ELSE len(B) END) AS ex,
           CASE WHEN i = 0
                THEN A[(CASE WHEN i = 0 THEN idx0 ELSE idx1 END) + 1]
                ELSE B[(CASE WHEN i = 0 THEN idx0 ELSE idx1 END) + 1]
           END AS p
    FROM steps WHERE NOT done
  )
),
sfreq AS (SELECT doc_id, freq FROM steps WHERE done),
scores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2}) * f.freq /
         (f.freq + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM sfreq f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t1}') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t2}') t2
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _multi_field_and_sql() -> str:
    # text:'merge' AND lang:'de'; score = text BM25 + keyword-field BM25
    # where the keyword posting has tf=1, dl=1, avgdl=1, df=|lang=de|
    kw_score = bm25.score_sql("1", "1", "kdf.df", "s.n", "1.0")
    return (
        _TERM_SCORES.replace("{term}", "merge")
        + f"""
, kw AS (
  SELECT doc_id, {kw_score} AS kscore
  FROM documents
  CROSS JOIN (SELECT count(*) AS df FROM documents WHERE lang = 'de') kdf
  CROSS JOIN stats s
  WHERE lang = 'de'
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT sc.doc_id, sc.score + k.kscore AS score
  FROM scores sc JOIN kw k USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT 10
)"""
    )


def _phrase3_sql(t1: str, t2: str, t3: str, k: int = 10) -> str:
    idf1 = bm25.idf_sql("t1.df", "s.n")
    idf2 = bm25.idf_sql("t2.df", "s.n")
    idf3 = bm25.idf_sql("t3.df", "s.n")
    qdl = bm25.quantized_dl_sql("d.dl")
    return (
        _BASE
        + f"""
, freqs AS (
  SELECT doc_id,
         len(list_filter(range(1, len(ts)),
             i -> ts[i] = '{t1}' AND ts[i+1] = '{t2}'
                  AND ts[i+2] = '{t3}')) AS freq
  FROM doc
),
scores AS (
  SELECT f.doc_id,
         ({idf1} + {idf2} + {idf3}) * CAST(f.freq AS DOUBLE) /
         (CAST(f.freq AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} *
          CAST({qdl} AS DOUBLE) / CAST(s.avgdl AS DOUBLE))) AS score
  FROM freqs f
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t1}') t1
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t2}') t2
  CROSS JOIN (SELECT df FROM tstat WHERE term = '{t3}') t3
  WHERE f.freq > 0
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _suggest_context_sql() -> str:
    # one suggestion row per (doc, source value); weight 1; ordering
    # (weight desc ≡ const, completion asc, doc_id asc) — suggest.py
    return """
SELECT doc_id, source AS completion, 1.0 AS score
FROM documents
WHERE lang = 'de' AND source LIKE 'src1%'
ORDER BY completion ASC, doc_id ASC LIMIT 10"""


def _suggest_fuzzy_sql(prefix: str = "sre1", max_edits: int = 1,
                       k: int = 10) -> str:
    n = len(prefix)
    return f"""
WITH s AS (
  SELECT doc_id, source AS completion,
         damerau_levenshtein(substring(source, 1, {n}), '{prefix}')
           AS edits
  FROM documents
)
SELECT doc_id, completion, 1.0 AS score FROM s
WHERE completion LIKE '{prefix}%'
   OR (substring(completion, 1, 1) = '{prefix[0]}' AND edits <= {max_edits})
ORDER BY edits ASC, completion ASC, doc_id ASC
LIMIT {k}"""


def _events_ts_sql() -> str:
    # epoch-millis resolution, matching the engine's instant semantics
    return """
SELECT event_id AS doc_id, 1.0 AS score FROM events
WHERE epoch_ms(ts) = (SELECT min(epoch_ms(ts)) FROM events)
ORDER BY doc_id ASC LIMIT 100"""


def _fuzzy_sql(q: str, k: int = 10) -> str:
    qlen = len(q)
    score = bm25.score_sql("p.tf", "d.dl", "c.df", "s.n", "s.avgdl")
    return (
        _BASE
        + f"""
, cand AS (
  SELECT term, df,
         CASE WHEN damerau_levenshtein(term, '{q}') = 0 THEN 1.0
              ELSE 1.0 - CAST(damerau_levenshtein(term, '{q}') AS DOUBLE) /
                   CAST(least(length(term), {qlen}) AS DOUBLE)
         END AS fboost
  FROM tstat
  WHERE abs(length(term) - {qlen}) <= 2
    AND damerau_levenshtein(term, '{q}') <= 2
  ORDER BY fboost DESC, df DESC, term ASC
  LIMIT 50
),
scores AS (
  SELECT p.doc_id, sum(c.fboost * {score}) AS score
  FROM post p
  JOIN cand c USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _fuzzy_bool_sql(q: str, term: str, k: int = 10) -> str:
    """merg~ AND term: per-doc score = sum over matched fuzzy
    expansions of (closeness * BM25) + the term's BM25; doc must match
    both clauses (MUST fuzzy = at least one expansion)."""
    qlen = len(q)
    fscore = bm25.score_sql("p.tf", "d.dl", "c.df", "s.n", "s.avgdl")
    tscore = bm25.score_sql("p.tf", "d.dl", "t.df", "s.n", "s.avgdl")
    return (
        _BASE
        + f"""
, cand AS (
  SELECT term, df,
         CASE WHEN damerau_levenshtein(term, '{q}') = 0 THEN 1.0
              ELSE 1.0 - CAST(damerau_levenshtein(term, '{q}') AS DOUBLE) /
                   CAST(least(length(term), {qlen}) AS DOUBLE)
         END AS fboost
  FROM tstat
  WHERE abs(length(term) - {qlen}) <= 2
    AND damerau_levenshtein(term, '{q}') <= 2
  ORDER BY fboost DESC, df DESC, term ASC
  LIMIT 50
),
fs AS (
  SELECT p.doc_id, sum(c.fboost * {fscore}) AS fscore
  FROM post p
  JOIN cand c USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
),
ts AS (
  SELECT p.doc_id, {tscore} AS tscore
  FROM post p
  JOIN dl d USING (doc_id)
  JOIN tstat t USING (term)
  CROSS JOIN stats s
  WHERE p.term = '{term}'
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT f.doc_id, f.fscore + t.tscore AS score
  FROM fs f JOIN ts t USING (doc_id)
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)"""
    )


def _keyword_lang_sql(lang: str, k: int) -> str:
    # keyword fields score as norm-less BM25: tf=1, dl=1, avgdl=1
    # -> idf * 1 / (1 + k1)
    idf = bm25.idf_sql("t.df", "s.n")
    return f"""
WITH s AS (SELECT count(*) AS n FROM documents),
t AS (SELECT count(*) AS df FROM documents WHERE lang = '{lang}'),
scores AS (
  SELECT d.doc_id, {idf} / (1.0 + {K1!r}) AS score
  FROM documents d CROSS JOIN s CROSS JOIN t
  WHERE d.lang = '{lang}'
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT {k}
)"""


def _simhash_sql(bits: int = 32) -> str:
    h = textfn.portable_hash_sql("term")
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h // {2**b}) % 2 = 1 THEN tf ELSE -tf END) AS s{b}"
        for b in range(bits)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH doc AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
tok AS (SELECT doc_id, unnest(ts) AS term FROM doc),
tf AS (
  SELECT doc_id, term, count(*) AS tf, {h} AS h
  FROM tok GROUP BY doc_id, term
),
agg AS (
  SELECT doc_id,
    {bit_sums}
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM agg"""


def _shingle_cte(n: int = 5) -> str:
    return f"""
WITH doc AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh0 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(ts) - {n - 2}),
             i -> array_to_string(ts[i:i+{n - 1}], ' '))) AS shs
  FROM doc
  WHERE len(ts) >= {n}
),
sh AS (
  SELECT doc_id, len(shs) AS n_shingles, unnest(shs) AS shingle FROM sh0
)"""


def _ngram_jaccard_sql(threshold: float = 0.5) -> str:
    return (
        _shingle_cte(5)
        + f"""
, inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_shingles AS na, b.n_shingles AS nb, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
  FROM inter
) WHERE jaccard >= {threshold!r}"""
    )


def _minhash_sql(k: int = 4) -> str:
    h = textfn.portable_hash_sql("shingle")
    mins = ",\n  ".join(
        f"min((({h}) * {a} + {b}) % {dedup.MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PARAMS[:k])
    )
    return (
        _shingle_cte(5)
        + f"""
SELECT doc_id,
  {mins}
FROM sh GROUP BY doc_id"""
    )


def _ann_sql(qv: list[float], k: int = 10) -> str:
    lit = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    n = len(qv)
    return f"""
WITH q AS (SELECT {lit} AS qv),
sims AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, {n + 1}),
        i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i])) /
    (sqrt(list_sum(list_transform(range(1, {n + 1}),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, {n + 1}),
        i -> q.qv[i] * q.qv[i])))) AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
)
SELECT vec_id, round(cos_sim, 6) AS cos_sim FROM (
  SELECT vec_id, cos_sim FROM sims
  ORDER BY cos_sim DESC, vec_id ASC LIMIT {k}
)"""


def _token_counts_sql() -> str:
    # token_count_estimates twin: the SAME BPE-ish pattern counts
    # identically under RE2 (see functions/text.py:BPE_ISH_PATTERN);
    # words = explicit-class whitespace split with empty fields
    # dropped (text.py:_ws_words — edge whitespace yields no phantom
    # words, and the explicit class sidesteps the Java-vs-RE2 \\s
    # divergence on vertical tab)
    pat = textfn.BPE_ISH_PATTERN.replace("'", "''")
    ws = textfn.WS_CLASS.replace("'", "''")
    return f"""
WITH base AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(text, '{ws}+'),
        t -> t <> '')) AS ws,
    len(regexp_extract_all(text, '{pat}')) AS bpe,
    octet_length(encode(text)) AS nb
  FROM documents
)
SELECT doc_id,
  CAST(ws AS BIGINT) AS ws_tokens,
  CAST(bpe AS BIGINT) AS bpe_ish_tokens,
  CAST(nb AS BIGINT) AS n_bytes,
  CASE WHEN bpe > 0 THEN
    floor(CAST(nb AS DOUBLE) / bpe * 1000000.0 + 0.5) / 1000000.0
  END AS bytes_per_token
FROM base"""


_DERIVED_URL_SQL = """
  'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www' ELSE lang END
  || '.' || source || '-site'
  || CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
     ELSE '.co.uk' END
  || '/' || lang || '/' || CAST(doc_id AS VARCHAR)
"""


def _url_parts_base_sql() -> str:
    # the same when-chain order as sources.url_parts: each 2-label
    # public suffix in PUBLIC_SUFFIXES_2 order, then last-2-labels,
    # then the bare host
    from lucene_clj_spark.sources import PUBLIC_SUFFIXES_2

    reg_chain = ", ".join(
        "NULLIF(regexp_extract(host, '([^.]+\\." +
        suf.replace(".", "\\.") + ")$', 1), '')"
        for suf in PUBLIC_SUFFIXES_2
    )
    return f"""
WITH pages AS (
  SELECT doc_id, {_DERIVED_URL_SQL} AS url, n_chars FROM documents
),
parsed0 AS (
  SELECT doc_id, n_chars,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      AS scheme,
    lower(regexp_extract(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
        '^(?:[^@]*@)?(\\[[^\\]]*\\]|[^:]+)', 1)) AS host,
    regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1) AS path
  FROM pages
),
parsed AS (
  SELECT doc_id, n_chars, scheme, host, path,
    COALESCE({reg_chain},
      NULLIF(regexp_extract(host, '([^.]+\\.[^.]+)$', 1), ''),
      host) AS registered_domain
  FROM parsed0
)"""


def _url_parts_sql() -> str:
    return (
        _url_parts_base_sql()
        + """
SELECT doc_id, scheme, host, path, registered_domain FROM parsed"""
    )


def _host_stats_sql() -> str:
    return (
        _url_parts_base_sql()
        + """
SELECT registered_domain,
  count(*) AS n_pages,
  count(DISTINCT host) AS n_hosts,
  CAST(sum(n_chars) AS BIGINT) AS total_size
FROM parsed GROUP BY registered_domain"""
    )


def _tfidf_top_terms_sql(k: int = 3) -> str:
    # top_tfidf_terms twin: tfidf = tf * ln(N/df); rank ties
    # (tfidf desc, term asc); N folded as a literal-free subquery
    return """
WITH doc AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
tok AS (SELECT doc_id, unnest(ts) AS term FROM doc),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM doc),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf AS DOUBLE) * ln(n.n / CAST(d.df AS DOUBLE))
           AS tfidf
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
  CAST(df AS BIGINT) AS df,
  floor(tfidf * 1000000.0 + 0.5) / 1000000.0 AS tfidf,
  CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= """ + str(k)


def _decontaminate_sql(n: int = 5, modulus: int = 97) -> str:
    # ngram_contamination twin: probe shingles = distinct n-grams of
    # every `modulus`-th doc; n_contaminated counts a doc's DISTINCT
    # shingles present in the probe set; short docs get zeros
    return (
        _shingle_cte(n)
        + f"""
, psh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {modulus} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit
  FROM sh s JOIN psh USING (shingle) GROUP BY s.doc_id
),
counts AS (SELECT DISTINCT doc_id, n_shingles FROM sh)
SELECT d.doc_id,
  CAST(COALESCE(c.n_shingles, 0) AS BIGINT) AS n_shingles,
  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
  (COALESCE(h.n_hit, 0) > 0) AS contaminated
FROM documents d
LEFT JOIN counts c USING (doc_id)
LEFT JOIN hits h ON h.doc_id = d.doc_id"""
    )


def _quality_flags_sql() -> str:
    # quality_flags twin: same whitespace words, same thresholds; flag
    # predicates use the UNROUNDED doubles on both engines (sequential
    # sums -> bit-identical), display columns floor-rounded to 6dp
    stop = ", ".join(f"'{s}'" for s in textfn.QUALITY_STOPWORDS)
    ws = textfn.WS_CLASS.replace("'", "''")
    return f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '{ws}+'), t -> t <> '')
      AS ts
  FROM documents
),
toptf AS (
  SELECT doc_id, max(cnt) AS top_tf FROM (
    SELECT doc_id, u.t, count(*) AS cnt
    FROM base, LATERAL unnest(ts) AS u(t)
    GROUP BY doc_id, u.t
  ) GROUP BY doc_id
),
m AS (
  SELECT b.doc_id, len(ts) AS n,
    list_sum(list_transform(ts, t -> length(t))) AS sum_len,
    len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]')))
      AS n_alpha,
    len(list_filter(list_distinct(list_transform(ts, t -> lower(t))),
                    t -> t IN ({stop})))
      AS n_stop,
    tt.top_tf
  FROM base b LEFT JOIN toptf tt USING (doc_id)
),
f AS (
  SELECT doc_id, n,
    CASE WHEN n > 0 THEN CAST(sum_len AS DOUBLE) / n END AS mean_len,
    CASE WHEN n > 0 THEN CAST(top_tf AS DOUBLE) / n END AS top_ratio,
    (n >= 50 AND n <= 100000) AS ok_wc,
    CASE WHEN n > 0 THEN CAST(sum_len AS DOUBLE) / n >= 3.0
         AND CAST(sum_len AS DOUBLE) / n <= 10.0
         ELSE FALSE END AS ok_mwl,
    CASE WHEN n > 0 THEN CAST(n_alpha AS DOUBLE) / n >= 0.8
         ELSE FALSE END AS ok_alpha,
    (n_stop >= 2) AS ok_stop,
    CASE WHEN n > 0 THEN CAST(top_tf AS DOUBLE) / n <= 0.2
         ELSE FALSE END AS ok_rep
  FROM m
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_words,
  CASE WHEN mean_len IS NOT NULL
       THEN floor(mean_len * 1000000.0 + 0.5) / 1000000.0
  END AS mean_word_len,
  CASE WHEN top_ratio IS NOT NULL
       THEN floor(top_ratio * 1000000.0 + 0.5) / 1000000.0
  END AS top_word_ratio,
  ok_wc AS ok_word_count,
  ok_mwl AS ok_mean_word_len,
  ok_alpha,
  ok_stop,
  ok_rep AS ok_repetition,
  (ok_wc AND ok_mwl AND ok_alpha AND ok_stop AND ok_rep) AS keep
FROM f"""


def _token_stats_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in textfn.QUALITY_STOPWORDS)
    return f"""
WITH doc AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
base AS (
  SELECT doc_id,
    len(ts) AS n_tokens,
    len(list_distinct(ts)) AS n_distinct,
    len(list_filter(ts, t -> t IN ({stop}))) AS n_stop,
    list_sum(list_transform(ts, t -> length(t))) AS sum_len
  FROM doc
)
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  floor(CAST(n_distinct AS DOUBLE) / n_tokens * 1000000.0 + 0.5)
    / 1000000.0 AS ttr,
  floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000.0 + 0.5)
    / 1000000.0 AS stopword_ratio,
  floor(CAST(sum_len AS DOUBLE) / n_tokens * 1000000.0 + 0.5)
    / 1000000.0 AS avg_token_len,
  floor((CAST(n_distinct AS DOUBLE) / n_tokens) *
        (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) *
        (CAST(least(n_tokens, 256) AS DOUBLE) / 256.0) * 1000000.0
        + 0.5) / 1000000.0 AS quality
FROM base"""


def _fingerprint_sql() -> str:
    h = textfn.portable_hash_sql("t")
    return f"""
WITH doc AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
hs AS (
  SELECT doc_id, len(ts) AS n_tokens,
         list_transform(ts, t -> {h}) AS hashes
  FROM doc
)
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  list_min(hashes) AS min_hash,
  list_max(hashes) AS max_hash,
  CAST(list_sum(hashes) % {2**31 - 1} AS BIGINT) AS sum_hash_mod
FROM hs"""


def _lang_id_sql() -> str:
    """DuckDB twin of functions.text.lang_id: per-profile stopword hit
    ratio, argmax with (score DESC, lang DESC) — the same tie-break as
    Spark's array_max over (score, lang) structs."""
    arms = " UNION ALL ".join(
        "SELECT doc_id, '{lang}' AS lang, "
        "len(list_filter(ts, t -> t IN ({words}))) AS hit, n FROM base"
        .format(
            lang=lang,
            words=", ".join(f"'{w}'" for w in sorted(words)),
        )
        for lang, words in sorted(textfn._LANG_PROFILES.items())
    )
    return f"""
WITH doc AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
base AS (SELECT doc_id, ts, greatest(len(ts), 1) AS n FROM doc),
scored AS (
  SELECT doc_id, lang, CAST(hit AS DOUBLE) / n AS score
  FROM ({arms})
),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS rn
  FROM scored
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
       round(score, 6) AS lang_score
FROM best WHERE rn = 1"""


def _lsh_pairs_sql(k: int = 8, bands: int = 4) -> str:
    h = textfn.portable_hash_sql("shingle")
    mins = ",\n  ".join(
        f"min((({h}) * {a} + {b}) % {dedup.MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PARAMS[:k])
    )
    rpb = k // bands
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, concat_ws('_', {cols}) AS band_key "
        "FROM sig".format(
            bi=bi,
            cols=", ".join(
                f"CAST(mh_{bi * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for bi in range(bands)
    )
    return (
        _shingle_cte(5)
        + f"""
, sig AS (
  SELECT doc_id,
  {mins}
  FROM sh GROUP BY doc_id
),
buckets AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
  AND a.doc_id < b.doc_id"""
    )


def _simhash_near_sql(max_hamming: int = 6, block_bits: int = 8) -> str:
    base = _simhash_sql(32)
    n_blocks = 32 // block_bits
    block_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {blk} AS blk, "
        f"(simhash // {2 ** (blk * block_bits)}) % {2**block_bits} AS key "
        "FROM sim"
        for blk in range(n_blocks)
    )
    return f"""
WITH sim AS ({base}),
buckets AS ({block_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM buckets a
  JOIN buckets b ON a.blk = b.blk AND a.key = b.key
    AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"""


def _events_type_sql(etype: str, k: int) -> str:
    idf = bm25.idf_sql("t.df", "s.n")
    return f"""
WITH s AS (SELECT count(*) AS n FROM events),
t AS (SELECT count(*) AS df FROM events WHERE event_type = '{etype}'),
scores AS (
  SELECT e.event_id AS doc_id, {idf} / (1.0 + {K1!r}) AS score
  FROM events e CROSS JOIN s CROSS JOIN t
  WHERE e.event_type = '{etype}'
)
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT {k}
)"""


def _plane_literals(n_planes: int, dim: int) -> list[list[float]]:
    """Same derivation as ann._plane_component / ann.rp_lsh_topk:
    md5('plane{j}_{i}') lowest bit -> ±1."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"plane{j}_{i}".encode()).hexdigest()[:8], 16)
            row.append(1.0 if h % 2 == 1 else -1.0)
        planes.append(row)
    return planes


def _dot_sql(vec_expr: str, lit: str, n: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {n + 1}), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * ({lit})[i]))"
    )


def _bucket_sql(vec_expr: str, planes: list[list[float]], n: int) -> str:
    parts = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        parts.append(
            f"(CASE WHEN {_dot_sql(vec_expr, lit, n)} > 0 "
            f"THEN {2**j} ELSE 0 END)"
        )
    return "(" + " + ".join(parts) + ")"


def _ann_rp_lsh_sql(qv: list[float], k: int = 10, n_planes: int = 8) -> str:
    import hashlib

    n = len(qv)
    planes = _plane_literals(n_planes, n)
    qb = 0
    for j, p in enumerate(planes):
        if sum(c * float(v) for c, v in zip(p, qv)) > 0:
            qb += 2**j
    lit = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    bucket = _bucket_sql("e.embedding", planes, n)
    return f"""
WITH q AS (SELECT {lit} AS qv),
inb AS (
  SELECT e.vec_id, e.embedding FROM embeddings e
  WHERE {bucket} = {qb} AND e.vec_id <> 0
),
sims AS (
  SELECT i.vec_id,
    {_dot_sql("i.embedding", "q.qv", n)} /
    (sqrt(list_sum(list_transform(range(1, {n + 1}),
        i -> CAST(i.embedding[i] AS DOUBLE) * CAST(i.embedding[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, {n + 1}), i -> q.qv[i] * q.qv[i]))))
    AS cos_sim
  FROM inb i CROSS JOIN q
)
SELECT vec_id, round(cos_sim, 6) AS cos_sim FROM (
  SELECT vec_id, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT {k}
)"""


def _ann_ivf_sql(
    qv: list[float], k: int = 10, n_cells: int = 8, nprobe: int = 2
) -> str:
    # IVF twin: pivots = the n_cells smallest vec_ids (cell = rank-1),
    # assignment = argmax cosine (ties -> smallest cell), probe the
    # query's nprobe nearest cells, exact cosine within. The cosine
    # arithmetic (sequential list_sum over per-element double products)
    # matches the engine's F.aggregate fold bit-for-bit.
    lit = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    n = len(qv)

    def cos(vec: str, other: str) -> str:
        return f"""
    list_sum(list_transform(range(1, {n + 1}),
        i -> CAST({vec}[i] AS DOUBLE) * CAST({other}[i] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(range(1, {n + 1}),
        i -> CAST({vec}[i] AS DOUBLE) * CAST({vec}[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, {n + 1}),
        i -> CAST({other}[i] AS DOUBLE) * CAST({other}[i] AS DOUBLE)))))"""

    return f"""
WITH q AS (SELECT {lit} AS qv),
pivots AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         embedding AS pv
  FROM embeddings ORDER BY vec_id LIMIT {n_cells}
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, p.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos("e.embedding", "p.pv")} DESC, p.cell ASC) AS rn
    FROM embeddings e CROSS JOIN pivots p
  ) WHERE rn = 1
),
probe AS (
  SELECT cell FROM (
    SELECT p.cell,
      row_number() OVER (
        ORDER BY {cos("q.qv", "p.pv")} DESC, p.cell ASC) AS rn
    FROM pivots p CROSS JOIN q
  ) WHERE rn <= {nprobe}
),
sims AS (
  SELECT a.vec_id, {cos("a.embedding", "q.qv")} AS cos_sim
  FROM assigned a CROSS JOIN q
  WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0
)
SELECT vec_id, round(cos_sim, 6) AS cos_sim FROM (
  SELECT vec_id, cos_sim FROM sims
  ORDER BY cos_sim DESC, vec_id LIMIT {k}
)"""


def _knn_join_sql(k: int = 3, n_planes: int = 6, dim: int = 64) -> str:
    planes = _plane_literals(n_planes, dim)
    bucket_a = _bucket_sql("a.embedding", planes, dim)
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    norm = (
        "sqrt(list_sum(list_transform(range(1, {d} + 1), "
        "i -> CAST({v}.embedding[i] AS DOUBLE) * "
        "CAST({v}.embedding[i] AS DOUBLE))))"
    )
    return f"""
WITH b0 AS (
  SELECT a.vec_id, a.embedding, {bucket_a} AS bucket FROM embeddings a
),
pairs AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         {dot} / ({norm.format(d=dim, v="a")} * {norm.format(d=dim, v="b")})
         AS cos_sim
  FROM b0 a JOIN b0 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""


def _embed_near_dup_sql(threshold: float = 0.35, n_planes: int = 4,
                        dim: int = 64) -> str:
    planes = _plane_literals(n_planes, dim)
    bucket_a = _bucket_sql("a.embedding", planes, dim)
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    norm = (
        "sqrt(list_sum(list_transform(range(1, {d} + 1), "
        "i -> CAST({v}.embedding[i] AS DOUBLE) * "
        "CAST({v}.embedding[i] AS DOUBLE))))"
    )
    return f"""
WITH b0 AS (
  SELECT a.vec_id, a.embedding, {bucket_a} AS bucket FROM embeddings a
)
SELECT vec_a, vec_b, round(cos_sim, 6) AS cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {dot} / ({norm.format(d=dim, v="a")} * {norm.format(d=dim, v="b")})
         AS cos_sim
  FROM b0 a JOIN b0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cos_sim >= {threshold!r}
ORDER BY vec_a, vec_b"""


def _explain_topdoc_sql() -> str:
    """Per-term BM25 decomposition of the top-1 doc of merge AND
    window — DuckDB twin of collectors.explain_score, selecting the
    doc with the engine's (score desc, doc_id asc) canon and the
    ordered score sum (see module NOTE on sum order)."""
    qdl = bm25.quantized_dl_sql("d.dl")
    idf = bm25.idf_sql("t.df", "s.n")
    return (
        _BASE
        + f"""
, top1 AS (
  SELECT doc_id FROM (
    SELECT p.doc_id, sum({_SCORE} ORDER BY p.term) AS score
    FROM post p
    JOIN dl d USING (doc_id)
    JOIN tstat t USING (term)
    CROSS JOIN stats s
    WHERE p.term IN ('merge', 'window')
    GROUP BY p.doc_id HAVING count(DISTINCT p.term) = 2
    ORDER BY score DESC, doc_id ASC LIMIT 1
  )
)
SELECT 'text' AS field, p.term,
  CAST(p.doc_id AS BIGINT) AS doc_id,
  CAST(p.tf AS BIGINT) AS tf,
  CAST(d.dl AS BIGINT) AS dl,
  CAST({qdl} AS BIGINT) AS qdl,
  CAST(t.df AS BIGINT) AS df,
  round({idf}, 6) AS idf,
  round({_SCORE}, 6) AS contribution
FROM post p
JOIN dl d USING (doc_id)
JOIN tstat t USING (term)
CROSS JOIN stats s
JOIN top1 USING (doc_id)
WHERE p.term IN ('merge', 'window')
ORDER BY field, term"""
    )


def _highlight_sql(terms: list[str], k: int, window: int) -> str:
    """DuckDB twin of highlight.py on the synthetic corpus: tokens ==
    whitespace split, so the original-text slice the engine returns ==
    the space-joined token window; p0 is the 1-based first matched
    position (list_position returns 0 for absent -> nullif)."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    p0 = " , ".join(
        f"coalesce(nullif(list_position(d.ts, '{t}'), 0), 1000000000)"
        for t in terms
    )
    return (
        _multi_term_scores_sql(terms)
        + f"""
, hits AS (
  SELECT doc_id, sum(score ORDER BY term) AS score FROM scores
  GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT doc_id, round(score, 6) AS score,
  array_to_string(list_transform(
    ts[greatest(p0 - {window}, 1):least(p0 + {window}, len(ts))],
    x -> CASE WHEN x IN ({tlist})
         THEN '<em>' || x || '</em>' ELSE x END), ' ') AS snippet
FROM (
  SELECT h.doc_id, h.score, d.ts, least({p0}) AS p0
  FROM hits h JOIN doc d USING (doc_id)
)
ORDER BY score DESC, doc_id ASC"""
    )


def oracle_sql() -> dict[str, str]:
    qv = _query_vec("/root/testdata/sf0.01")
    return {
        "term_topk": _term_topk_sql("merge", 10),
        "term_topk_rare": _term_topk_sql("dup", 25),
        "term_page2": _term_topk_sql("window", 10, offset=10),
        "bool_and_topk": _bool_and_sql(),
        "bool_or_topk": _bool_or_sql(),
        "phrase_topk": _phrase_sql("the", "merge"),
        "fuzzy_topk": _fuzzy_sql("merg"),
        "keyword_lang_topk": _keyword_lang_sql("de", 20),
        "typed_exact_nchars": (
            # ORDER + LIMIT must mirror the Spark side's page
            # (score desc, doc_id asc, results_per_page=100): without
            # them the oracle silently returns ALL matches once the
            # corpus has >100 (latent until the sf1 run surfaced it)
            "SELECT doc_id, 1.0 AS score FROM documents "
            "WHERE n_chars = 128 ORDER BY doc_id LIMIT 100"
        ),
        # NOTE: DuckDB sum()/list_sum() promote BIGINT -> HUGEINT, which
        # the driver's Arrow-side hasher renders differently than Spark's
        # long — every aggregate here is CAST back to BIGINT.  avgdl uses
        # floor(x*1e6+0.5)/1e6 with the identical IEEE ops as the Spark
        # side so the double is bit-identical, not merely "round(_, 6)".
        "corpus_stats": _BASE + """
, tot AS (SELECT CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl)
SELECT s.n AS n_docs,
       floor(tot.total_tokens * 1000000.0 / s.n + 0.5) / 1000000.0
         AS avgdl,
       tot.total_tokens,
       (SELECT count(*) FROM tstat) AS n_terms
FROM stats s CROSS JOIN tot""",
        "term_stats_top20": _BASE + """
, ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
          FROM post GROUP BY term)
SELECT t.term, t.df, c.ctf FROM tstat t JOIN ctf c USING (term)
ORDER BY t.df DESC, t.term ASC LIMIT 20""",
        "suggest_prefix": _BASE + """
SELECT term AS completion, df AS weight FROM tstat
WHERE term LIKE 's%'
ORDER BY weight DESC, completion ASC LIMIT 10""",
        "dedup_exact": (
            "SELECT min(doc_id) AS keep_id, count(*) AS n_copies "
            "FROM documents GROUP BY text"
        ),
        "dedup_ngram_jaccard": _ngram_jaccard_sql(0.5),
        "minhash_signatures": _minhash_sql(4),
        "simhash": _simhash_sql(32),
        "ann_cosine_topk": _ann_sql(qv, 10),
        "token_stats": _token_stats_sql(),
        "token_counts": _token_counts_sql(),
        "quality_flags": _quality_flags_sql(),
        "url_parts": _url_parts_sql(),
        "host_stats": _host_stats_sql(),
        "decontaminate": _decontaminate_sql(5, 97),
        "tfidf_top_terms": _tfidf_top_terms_sql(3),
        "fingerprint": _fingerprint_sql(),
        "search_after": _term_topk_sql("scan", 10, offset=10),
        "wand_search_after": _term_topk_sql("scan", 10, offset=10),
        "lsh_pairs": _lsh_pairs_sql(8, 4),
        "simhash_near_pairs": _simhash_near_sql(2, 8),
        "events_type_exact": _events_type_sql("error", 20),
        "events_value_exact": (
            "SELECT event_id AS doc_id, 1.0 AS score FROM events "
            "WHERE value = 4.29 ORDER BY event_id LIMIT 100"
        ),
        "ann_rp_lsh_topk": _ann_rp_lsh_sql(qv, 10, 8),
        "ann_ivf_topk": _ann_ivf_sql(qv, 10, 8, 2),
        "knn_join": _knn_join_sql(3, 6, 64),
        "dsl_boost_topk": _dsl_boost_sql(),
        "dsl_grouped_topk": _dsl_grouped_sql(),
        "dsl_nested_topk": _dsl_nested_sql(),
        "wand_tree_topk": _dsl_nested_sql(),
        # incremental add must equal the one-shot build -> same oracle
        "incremental_add_topk": _term_topk_sql("merge", 10),
        "hit_fn_topk": _TERM_SCORES.replace("{term}", "merge") + """
SELECT t.doc_id, round(t.score, 6) AS score,
       length(d.text) AS text_len,
       d.lang || '/' || d.source AS lang_src
FROM (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT 10
) t JOIN documents d USING (doc_id)""",
        "multi_field_and_topk": _multi_field_and_sql(),
        "phrase3_topk": _phrase3_sql("row", "column", "sort"),
        "suggest_context": _suggest_context_sql(),
        "suggest_fuzzy": _suggest_fuzzy_sql("sre1", 1, 10),
        "events_ts_exact": _events_ts_sql(),
        "wand_or_topk": _bool_or_sql(),
        "wand_group_topk": _dsl_grouped_sql(),
        "wand_group_not_topk": _dsl_grouped_not_sql(),
        "wand_phrase_bool_topk": _phrase_bool_sql("the", "merge", "window"),
        "wand_tree_phrase_topk": _tree_phrase_sql(
            "the", "merge", "dup", "scan", "window"),
        "wand_multi_field_topk": _multi_field_and_sql(),
        "fuzzy_bool_topk": _fuzzy_bool_sql("merg", "window"),
        "wand_fuzzy_bool_topk": _fuzzy_bool_sql("merg", "window"),
        "webpages_pipeline_topk": _term_topk_sql("merge", 10),
        "batch_topk": _batch_sql(_BATCH_CLAUSES),
        "batch_memory_topk": _batch_sql(_BATCH_CLAUSES),
        "batch_df_topk": _batch_sql(_BATCH_DF_CLAUSES),
        "mlt_topk": _mlt_sql(40, 5, 5),
        "embed_near_dup": _embed_near_dup_sql(0.35, 4, 64),
        # byte-accurate over the UTF-8 encoding (hex-pair extraction),
        # with the engine's -1/0 sentinels for empty text — robust to
        # multi-byte characters and empty strings (ADVICE r01)
        "blob_features": """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS nb
  FROM documents
)
SELECT doc_id AS media_id,
  CAST(nb AS INT) AS n_bytes,
  CAST(CASE WHEN nb = 0 THEN 0 ELSE
    list_sum(list_transform(range(1, nb + 1),
             i -> CAST('0x' || substr(h, 2*i-1, 2) AS INT)))
  END AS BIGINT) AS byte_sum,
  CASE WHEN nb = 0 THEN -1
       ELSE CAST('0x' || substr(h, 1, 2) AS INT) END AS head_byte,
  CASE WHEN nb = 0 THEN -1
       ELSE CAST('0x' || substr(h, 2*nb-1, 2) AS INT) END AS tail_byte
FROM b""",
        "lang_id": _lang_id_sql(),
        "dsl_wildcard_topk": _dsl_wildcard_sql(),
        "dsl_typed_range_topk": _dsl_typed_range_sql(),
        "dsl_term_range_topk": _dsl_term_range_sql(),
        "dsl_matchall_not_topk": _dsl_matchall_not_sql(),
        "dsl_sloppy_phrase_topk": _dsl_sloppy_sql("the", "merge", 2),
        "dsl_regexp_topk": _dsl_regexp_sql(),
        "bool_msm_topk": _bool_msm_sql(),
        "bool_filter_topk": _bool_filter_sql(),
        "count_hits_and": _multi_term_scores_sql(["merge", "window"])
        + """
SELECT CAST(count(*) AS BIGINT) AS n_hits FROM (
  SELECT doc_id FROM scores
  GROUP BY doc_id HAVING count(DISTINCT term) = 2
)""",
        "facet_lang_term": _BASE + """
, m AS (SELECT DISTINCT doc_id FROM post WHERE term = 'merge')
SELECT d.lang AS facet_value, CAST(count(*) AS BIGINT) AS n_docs
FROM m JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY n_docs DESC, facet_value ASC LIMIT 10""",
        "sort_by_field_topk": _BASE + """
, m AS (SELECT DISTINCT doc_id FROM post WHERE term = 'merge')
SELECT m.doc_id, d.n_chars
FROM m JOIN documents d USING (doc_id)
ORDER BY d.n_chars DESC, m.doc_id ASC LIMIT 10""",
        "explain_topdoc": _explain_topdoc_sql(),
        "highlight_topk": _highlight_sql(["merge", "vector"], k=5,
                                         window=3),
        "dismax_topk": _dismax_sql(),
        "span_first_topk": _span_first_sql("merge", 5),
        "collapse_lang_topk": _collapse_lang_sql(),
        "constant_score_topk": _constant_score_sql(),
        "facet_ranges_nchars": _facet_ranges_sql(),
        "term_in_set_topk": _term_in_set_sql(),
        "multi_phrase_topk": _multi_phrase_sql(),
        "delete_search_topk": _delete_stale_sql(),
        "purge_search_topk": _purge_sql(),
        "spell_suggest": _spell_sql(),
        "span_near_ordered_topk": _span_near_ordered_sql(
            "merge", "window", 3),
        "span_near_unordered_topk": _span_near_unordered_sql(
            "merge", "window", 3),
        "span_or_topk": _span_or_sql("merge", "window"),
        "wand_span_or_topk": _span_or_sql("merge", "window"),
        "wand_sloppy_phrase_topk": _dsl_sloppy_sql("the", "merge", 2),
        "wand_msm_topk": _bool_msm_sql(),
        "span_not_topk": _span_not_sql("merge", "window", 2, 2),
        "function_score_topk": _function_score_sql("merge"),
        "sample_mix_stats": _sample_mix_sql(),
        "shuffle_head": _shuffle_head_sql(),
        "dup_components": _dup_components_sql(0.5),
    }
