"""The driver-resident term dictionary: one per index generation.

Lucene holds its terms index in heap and never asks the cluster where a
term lives. This module does the same for the ``terms`` table: the
first lookup of an index generation loads every
``(field, term, df, idf, hash)`` row in ONE Spark action (job
description ``terms:dictionary``) into sorted per-field numpy arrays on
the driver. From then on, with no Spark job:

- the terms seek (``search._seek_terms``) reads df — which the
  DataFrame plans fold in as a literal — and idf, which the segment
  kernels score with;
- a scan's bucket filter (``search.bucket_filter``) is an integer
  ``bucket IN (...)`` over ``hash mod n_buckets``;
- fuzzy expansion and spell correction (``candidates``) are a prefix
  window and a length window over the sorted arrays, then one
  vectorized Damerau-Levenshtein (``fuzzy.damerau_levenshtein_many``).

Exactness: ``idf`` is computed JVM-side with ``bm25.idf_col``, as the
Spark seek computes it (libm and java.lang.Math.log differ by 1 ulp on
some inputs), so kernel scores stay bit-identical. ``hash`` is the
writer's ``xxhash64(term)``; ``hash mod n`` (floor mod) is Spark's
``pmod``, so one dictionary serves any bucket count (the postings
layout and the segments may differ). Terms sort in code-point order,
which is UTF-8 byte order: Spark's ``ORDER BY term`` and the Arrow sort
of the load agree with Python's ``str`` order.

Scale: a dictionary holding more than ``DICT_MAX_TERMS`` terms stays in
Spark. The load itself decides it: it collects at most one row over the
cap, so the decision costs at most one job per generation. Over the
cap, each seek is the Spark action ``search._seek_terms`` always ran
(its pairs are kept for the generation, so a repeated query seeks
nothing), scans filter buckets by the hash expression, and
``candidates`` runs the Spark scan with the Damerau pandas UDF.

Lifetime: the dictionary is cached on the Index and dropped by
``Index._drop_term_dict`` wherever the terms table or the corpus stats
change (``truncate``, ``purge_deletes``, ``add_documents``).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import functions as F

from lucene_clj_spark import bm25
from lucene_clj_spark.fuzzy import damerau_levenshtein_many

#: The largest dictionary held on the driver. The load moves ~34-44
#: bytes of Arrow per term (23,534 terms in 0.79 MB on the perfbench
#: corpus), and the resident arrays take ~100 bytes per term (~73 for
#: the Python str and its slot, measured with tracemalloc over 200k
#: terms, plus four 8-byte columns), so the cap costs at most ~44 MB
#: of transfer and ~100 MB of driver heap. The 500k-term Zipf index of
#: BENCH/zipf_r05.md loads under it.
DICT_MAX_TERMS = 1_000_000

#: The Spark job description of the one load job.
JOB_DESCRIPTION = "terms:dictionary"


class FieldTerms(NamedTuple):
    """One field's terms, sorted, with their columns aligned."""

    terms: np.ndarray  # object (str), code-point order
    df: np.ndarray  # int64
    idf: np.ndarray  # float64, JVM-computed
    hash: np.ndarray  # int64 xxhash64(term)
    length: np.ndarray  # int64 code points

    def find(self, terms) -> tuple[np.ndarray, np.ndarray]:
        """``(rows, found)`` of ``terms`` in this field."""
        q = np.array(list(terms), dtype=object)
        rows = np.searchsorted(self.terms, q)
        hit = rows < len(self.terms)
        hit[hit] = self.terms[rows[hit]] == q[hit]
        return rows, hit


class TermDict:
    """A loaded dictionary (``fields``), or, over the cap, the pairs the
    Spark seek has fetched so far (``sought``, absent pairs as None)."""

    def __init__(self, fields: dict[str, FieldTerms] | None):
        self.fields = fields
        self.sought: dict = {}

    def stats(self, pairs) -> dict:
        """``(df, idf)`` of each present (field, term) in ``pairs``."""
        by_field: dict[str, list[str]] = {}
        for f, t in pairs:
            by_field.setdefault(f, []).append(t)
        out = {}
        for f, ts in by_field.items():
            ft = self.fields.get(f)
            if ft is None:
                continue
            rows, hit = ft.find(ts)
            for t, r, h in zip(ts, rows.tolist(), hit.tolist()):
                if h:
                    out[(f, t)] = (int(ft.df[r]), float(ft.idf[r]))
        return out

    def buckets(self, terms, n_buckets: int) -> list[int]:
        """The sorted distinct buckets (``pmod(xxhash64(term), n)``) of
        the ``terms`` present in any field; an absent term has no
        postings, so it adds no bucket."""
        found = set()
        for ft in self.fields.values():
            rows, hit = ft.find(terms)
            found.update(np.mod(ft.hash[rows[hit]], n_buckets).tolist())
        return sorted(found)


def term_dict(index) -> TermDict:
    """The index generation's dictionary, loaded on first use."""
    td = index.__dict__.get("_term_dict")
    if td is None:
        td = index._term_dict = _load(index)
    return td


def _load(index) -> TermDict:
    """ONE Spark action: every terms row with its JVM idf and hash,
    at most one row over the cap, then sorted and split by field on
    the driver (no Spark sort, so no range-sampling job)."""
    import pyarrow.compute as pc

    n_docs = F.lit(0.0)  # a field without stats, as the Spark seek
    if index.stats:
        n_docs = F.coalesce(F.create_map(*[
            F.lit(x) for f in sorted(index.stats)
            for x in (f, float(int(index.stats[f]["N"])))
        ])[F.col("field")], n_docs)
    rows = index.terms.select(
        "field", "term", F.col("df").cast("long").alias("df"),
        bm25.idf_col(F.col("df"), n_docs).alias("idf"),
        F.xxhash64("term").alias("hash"),
    ).limit(DICT_MAX_TERMS + 1)
    sc = index.spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(JOB_DESCRIPTION)
    try:
        table = rows.toArrow()
    finally:
        sc.setLocalProperty("spark.job.description", caller)
    if table.num_rows > DICT_MAX_TERMS:
        return TermDict(None)
    table = table.sort_by([("field", "ascending"), ("term", "ascending")])
    field = table["field"].to_numpy(zero_copy_only=False)
    cuts = [0, *(np.flatnonzero(field[1:] != field[:-1]) + 1).tolist(),
            len(field)]
    cols = {
        "terms": table["term"].to_numpy(zero_copy_only=False),
        "df": table["df"].to_numpy(),
        "idf": table["idf"].to_numpy(),
        "hash": table["hash"].to_numpy(),
        "length": pc.utf8_length(table["term"]).to_numpy().astype(np.int64),
    }
    return TermDict({
        field[lo]: FieldTerms(**{c: a[lo:hi] for c, a in cols.items()})
        for lo, hi in zip(cuts, cuts[1:]) if hi > lo
    })


def _prefix_end(prefix: str) -> str | None:
    """A string above every string starting with ``prefix`` and not
    above any other string greater than ``prefix`` (None: there is no
    such string, the window runs to the end of the field)."""
    p = prefix.rstrip("\U0010ffff")
    return p[:-1] + chr(ord(p[-1]) + 1) if p else None


def candidates(index, field: str, term: str, max_edits: int,
               prefix_length: int, limit: int, *, skip_term: bool = False,
               df_above: int = 0, accuracy: float | None = None
               ) -> list[tuple[str, int, float]]:
    """The ONE candidate scan of fuzzy expansion and spell correction:
    the ``field`` terms within ``max_edits`` Damerau-Levenshtein edits
    of ``term`` (transpositions count 1) sharing its first
    ``prefix_length`` chars, scored ``1 - d / min(|term|, |t|)`` (1.0
    at d = 0), ranked (score desc, df desc, term asc), the first
    ``limit`` as ``[(term, df, score)]``. Spell correction also drops
    the term itself (``skip_term``), terms with df <= ``df_above``
    (when positive) and scores below ``accuracy``.

    The loaded dictionary answers on the driver with no job; over the
    cap the same scan runs in Spark (``_spark_candidates``)."""
    td = term_dict(index)
    if td.fields is None:
        return _spark_candidates(index, field, term, max_edits,
                                 prefix_length, limit, skip_term,
                                 df_above, accuracy)
    ft = td.fields.get(field)
    if ft is None:
        return []
    lo, hi = 0, len(ft.terms)
    if prefix_length > 0:
        p = term[:prefix_length]
        lo = int(np.searchsorted(ft.terms, p))
        end = _prefix_end(p)
        if end is not None:
            hi = int(np.searchsorted(ft.terms, end))
    qlen = len(term)
    keep = np.abs(ft.length[lo:hi] - qlen) <= max_edits
    if skip_term:
        keep &= ft.terms[lo:hi] != term
    if df_above:
        keep &= ft.df[lo:hi] > df_above
    rows = np.flatnonzero(keep) + lo
    edits = damerau_levenshtein_many(term, ft.terms[rows].tolist())
    within = edits <= max_edits
    rows, edits = rows[within], edits[within]
    with np.errstate(divide="ignore", invalid="ignore"):
        score = np.where(
            edits == 0, 1.0,
            1.0 - edits / np.minimum(ft.length[rows], qlen).astype(float))
    if accuracy is not None:
        ok = score >= accuracy
        rows, score = rows[ok], score[ok]
    # rows are in term order; a stable sort keeps it as the last key
    order = np.lexsort((-ft.df[rows], -score))[:limit]
    return [(ft.terms[r], int(ft.df[r]), float(s))
            for r, s in zip(rows[order].tolist(), score[order].tolist())]


def _spark_candidates(index, field, term, max_edits, prefix_length,
                      limit, skip_term, df_above, accuracy):
    """``candidates`` as a Spark scan of the field's terms with the
    Damerau pandas UDF: the path over ``DICT_MAX_TERMS`` and the
    reference the driver scan is tested against."""
    from lucene_clj_spark._udfs import edit_distance_udf

    qlen = len(term)
    cand = index.terms.filter(F.col("field") == field).filter(
        F.abs(F.length("term") - F.lit(qlen)) <= max_edits
    )
    if prefix_length > 0:
        cand = cand.filter(F.col("term").startswith(term[:prefix_length]))
    if skip_term:
        cand = cand.filter(F.col("term") != term)
    if df_above:
        cand = cand.filter(F.col("df") > df_above)
    cand = cand.withColumn(
        "__edits", edit_distance_udf(term, max_edits)(F.col("term"))
    ).filter(F.col("__edits") <= max_edits).withColumn(
        "score",
        F.when(F.col("__edits") == 0, F.lit(1.0)).otherwise(
            F.lit(1.0)
            - F.col("__edits").cast("double")
            / F.least(F.length("term"), F.lit(qlen)).cast("double")
        ),
    )
    if accuracy is not None:
        cand = cand.filter(F.col("score") >= accuracy)
    rows = (
        cand.orderBy(F.desc("score"), F.desc("df"), F.asc("term"))
        .limit(limit)
        .select("term", "df", "score")
        .collect()
    )
    return [(r["term"], int(r["df"]), float(r["score"])) for r in rows]
