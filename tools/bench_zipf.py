"""Realistic-vocabulary benchmark — the term-dictionary stress harness
(VERDICT r04 next-round items 2 and 5).

The official bench corpus has ~31 distinct words; every dictionary
seek, fuzzy expansion, wildcard range and spell scan there is
degenerate. This harness synthesizes a Zipf web-shaped corpus
(tools/zipf_corpus.py: 50k-term Zipf(1) vocabulary, lognormal doc
lengths, deterministic) and measures the same pipeline surfaces
against a REAL dictionary:

- ``queries`` mode (default): build disk index + format-5 segments
  (timed; docs/sec + segment bytes), then the query battery — hot /
  mid / rare term via the WAND kernels, boolean AND/OR, exact phrase,
  span-near, fuzzy (Damerau expansion over the 50k-term dictionary),
  prefix wildcard, spell correction, 32-query batch — each
  best-of-N after warm-ups (the host has heavy CPU-steal variance;
  minima approximate true cost, same methodology as bench.py).
  Append + merge round out the segment lifecycle.

- ``dedup`` mode: the at-scale near-duplicate pipeline evidence the
  sf1 gate cannot give (verbatim x320 duplication is quadratic by
  construction): synthesize >= 1M docs with a 30% near-dup tail
  (5-gram shingle Jaccard ~0.77 vs sources), run
  minhash_signatures -> lsh_pairs -> resolve_duplicates, report
  per-stage wall + row counts, then spot-verify against DuckDB: the
  minhash oracle twin (__spark_entry__._minhash_sql) recomputes the
  signatures of a sampled doc set from raw text and must match
  Spark's bit-for-bit, and every sampled LSH pair must agree on all
  rows of at least one band.

Prints ONE JSON line per run. Env knobs: SPARK_GRAFT_CPUS,
SPARK_GRAFT_ZIPF_DOCS, SPARK_GRAFT_ZIPF_VOCAB.

Usage:
  python tools/bench_zipf.py                 # queries @ 160k docs
  SPARK_GRAFT_ZIPF_DOCS=1600000 python tools/bench_zipf.py   # sf1-scale
  python tools/bench_zipf.py dedup           # 1M-doc dedup pipeline
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_ZIPF_DOCS", "160000"))
VOCAB = int(os.environ.get("SPARK_GRAFT_ZIPF_VOCAB", "50000"))
WARM = int(os.environ.get("SPARK_GRAFT_ZIPF_WARM", "2"))
RUNS = int(os.environ.get("SPARK_GRAFT_ZIPF_RUNS", "5"))


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bench-zipf")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_MEM", "64g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def timed(fn, warm=WARM, runs=RUNS):
    for _ in range(warm):
        fn()
    samples = []
    for _ in range(runs):
        t = time.time()
        fn()
        samples.append(time.time() - t)
    return round(min(samples), 4)


def _dir_bytes(path):
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def bench_queries() -> dict:
    from pyspark.sql import functions as F

    from lucene_clj_spark import create_index
    from lucene_clj_spark.query import SpanNearQ, parse_dsl
    from lucene_clj_spark.segments import build_segments, merge_segments
    from tools.zipf_corpus import synthesize

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "metric": "zipf-corpus index build + query latency",
        "unit": "sec", "n_docs": N_DOCS, "vocab": VOCAB, "cpus": CPUS,
        "queries": {},
    }
    q = out["queries"]
    # materialize the corpus BEFORE timing (bench.py contract: a real
    # deployment reads from storage that scales with executors)
    n_parts = spark.sparkContext.defaultParallelism * 2
    corpus = (
        synthesize(spark, N_DOCS, vocab=VOCAB, dup_frac=0.1)
        .repartition(n_parts).cache()
    )
    corpus.count()
    root = tempfile.mkdtemp(prefix="zipfbench") + "/idx"

    t0 = time.time()
    idx = create_index(
        spark, corpus, {"text": "text", "lang": "keyword"},
        id_column="doc_id", index_type="disk", path=root,
        ignore_extra_columns=True,
    )
    q["build_index"] = round(time.time() - t0, 4)
    out["docs_per_sec"] = round(N_DOCS / q["build_index"], 1)
    out["n_terms"] = idx.terms.filter("field = 'text'").count()

    t0 = time.time()
    build_segments(idx)
    q["build_segments_disk"] = round(time.time() - t0, 4)
    out["segment_bytes"] = _dir_bytes(os.path.join(root, "segments"))

    def s(query, **kw):
        return lambda: idx.search(
            query, results_per_page=10, with_hit=False, **kw
        ).collect()

    # rank-anchored term probes: t2 ~ hot stop-word df, t500 mid,
    # t20000 deep tail (df a handful even at 1.6M docs)
    q["q_term_hot"] = timed(s("t2", field_name="text"))
    q["q_term_mid"] = timed(s("t500", field_name="text"))
    q["q_term_rare"] = timed(s("t20000", field_name="text"))
    q["q_bool_and"] = timed(s(["t50", "t80"], field_name="text"))
    q["q_bool_or"] = timed(
        s({"text": {"t100", "t200", "t300"}})
    )
    q["q_phrase"] = timed(s("t1 t2", field_name="text"))
    q["q_span_near"] = timed(
        s(SpanNearQ(1.0, "text", ("t10", "t20"), 5, False))
    )
    # the dictionary-stress family: these scan/expand the 50k-term
    # dictionary, which the 31-word official corpus cannot exercise
    q["q_fuzzy"] = timed(s({"text": "t500"}, fuzzy=True))
    q["q_wildcard_prefix"] = timed(s(
        parse_dsl("text:t4999*", "text", idx.specs, idx.analyzers)
    ))
    q["q_spell"] = timed(
        lambda: idx.spell_suggest("text", "t5000x").collect()
    )

    from lucene_clj_spark.batch import search_batch

    batch = {f"q{i}": {"text": {f"t{100 + 7 * i}", f"t{200 + 11 * i}"}}
             for i in range(32)}
    q["q_batch_32"] = timed(
        lambda: search_batch(idx, batch, results_per_page=10,
                             with_hit=False).collect()
    )

    # segment lifecycle: delta append + generational merge
    extra = (
        synthesize(spark, N_DOCS // 10, vocab=VOCAB, seed=7)
        .select(
            (F.col("doc_id") + F.lit(N_DOCS)).alias("doc_id"),
            "url", "text", "lang", "source", "n_chars",
        )
        .cache()
    )
    extra.count()
    t0 = time.time()
    idx.add_documents(extra, ignore_extra_columns=True)
    q["append_delta"] = round(time.time() - t0, 4)
    q["q_term_hot_post_append"] = timed(s("t2", field_name="text"))
    t0 = time.time()
    merge_segments(idx)
    q["merge_segments"] = round(time.time() - t0, 4)

    out["value"] = round(sum(q.values()), 3)
    return out


def bench_dedup() -> dict:
    import duckdb
    import pandas as pd

    from lucene_clj_spark.functions.dedup import (
        MINHASH_PARAMS,
        lsh_pairs,
        minhash_signatures,
        resolve_duplicates,
    )
    from tools.zipf_corpus import synthesize

    n_docs = int(os.environ.get("SPARK_GRAFT_ZIPF_DEDUP_DOCS",
                                "1000000"))
    # k=8/bands=4 is the committed round-5 default; k=16/bands=8
    # doubles the band count at the same rows-per-band (2) for the
    # higher-recall capture (threshold curve shifts left: by
    # 1-(1-J^2)^bands, recall at J~0.6 rises from ~82% -> ~97%)
    k = int(os.environ.get("SPARK_GRAFT_ZIPF_MINHASH_K", "8"))
    bands = int(os.environ.get("SPARK_GRAFT_ZIPF_MINHASH_BANDS", "4"))
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "metric": "zipf-corpus near-dup pipeline (minhash->lsh->"
                  "resolve) wall + rows",
        "unit": "sec", "n_docs": n_docs, "vocab": VOCAB, "cpus": CPUS,
        "dup_frac": 0.3, "mut_rate": 0.05, "stages": {},
    }
    st = out["stages"]
    corpus = (
        synthesize(spark, n_docs, vocab=VOCAB, dup_frac=0.3)
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .cache()
    )
    corpus.count()

    t0 = time.time()
    sigs = minhash_signatures(corpus, k=k).persist()
    out["n_signatures"] = sigs.count()
    st["minhash_signatures"] = round(time.time() - t0, 3)

    t0 = time.time()
    pairs = lsh_pairs(sigs, k=k, bands=bands).persist()
    out["n_pairs"] = pairs.count()
    st["lsh_pairs"] = round(time.time() - t0, 3)

    t0 = time.time()
    resolved = resolve_duplicates(pairs).persist()
    out["n_dropped"] = resolved.count()
    st["resolve_duplicates"] = round(time.time() - t0, 3)
    out["value"] = round(sum(st.values()), 3)

    # --- DuckDB spot-oracle on a sampled bucket ----------------------
    # (a) signatures: recompute a 200-doc sample's minhashes from raw
    #     text with the oracle twin SQL — must match bit-for-bit;
    # (b) pairs: every sampled LSH pair must agree on all rows of at
    #     least one band (the banding invariant the join implements).
    from __spark_entry__ import _minhash_sql

    sample_pairs = pairs.limit(100).collect()
    pair_ids = sorted({r["doc_a"] for r in sample_pairs}
                      | {r["doc_b"] for r in sample_pairs})
    lone_ids = [r["doc_id"] for r in
                corpus.select("doc_id").orderBy("doc_id")
                .limit(50).collect()]
    ids = sorted(set(pair_ids) | set(lone_ids))[:250]
    sample = corpus.filter(corpus.doc_id.isin(ids))
    spark_sigs = {
        r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(k))
        for r in sigs.filter(sigs.doc_id.isin(ids)).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        sample.select("doc_id", "text").toPandas(),
    )
    oracle = {
        int(r[0]): tuple(int(x) for x in r[1:])
        for r in con.execute(_minhash_sql(k)).fetchall()
    }
    mismatch = [d for d in oracle
                if spark_sigs.get(d) != oracle[d]]
    out["oracle_sample_docs"] = len(oracle)
    out["oracle_sig_mismatches"] = len(mismatch)
    rpb = k // bands
    bad_pairs = []
    for r in sample_pairs:
        a, b = spark_sigs[r["doc_a"]], spark_sigs[r["doc_b"]]
        if not any(
            a[bi * rpb:(bi + 1) * rpb] == b[bi * rpb:(bi + 1) * rpb]
            for bi in range(bands)
        ):
            bad_pairs.append((r["doc_a"], r["doc_b"]))
    out["oracle_sample_pairs"] = len(sample_pairs)
    out["oracle_band_violations"] = len(bad_pairs)
    out["oracle_green"] = not mismatch and not bad_pairs
    return out


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "dedup":
        print(json.dumps(bench_dedup()))
    else:
        print(json.dumps(bench_queries()))
