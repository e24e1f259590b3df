"""Spell correction — Lucene ``DirectSpellChecker`` ("did you mean")
over the term dictionary.

The reference exposes fuzzy SEARCH (query.clj:126-147) but no
dictionary-level corrector; this is the companion surface every search
box needs, built on the same dictionary candidate scan as the fuzzy
path (``termdict.candidates``). Semantics follow Lucene's
DirectSpellChecker (public defaults):

- candidates come from the TERM DICTIONARY (vocab-sized — never the
  postings) within ``max_edits`` Damerau-Levenshtein edits
  (transposition = 1 edit, FuzzyTermsEnum's metric), sharing the
  query's first ``prefix_length`` characters (minPrefix=1);
- similarity = ``1 - d / min(|query|, |candidate|)`` (Lucene's
  internal string distance), candidates below ``accuracy`` (0.5) are
  dropped;
- the query term itself is never suggested, and when the query term
  EXISTS in the dictionary a candidate must be strictly MORE frequent
  than it (DirectSpellChecker skips docFreq <= queryTermFreq);
- no suggestions at all when the query term's docFreq / N exceeds
  ``max_query_frequency`` (0.01) — a common term is probably not a
  typo;
- ranking: similarity desc, docFreq desc, term asc (the
  SuggestWordQueue order, made fully deterministic).

Scale shape: the candidate scan is the term dictionary's
(``termdict.candidates``, shared with fuzzy expansion): the
generation's driver-resident dictionary answers with a prefix window
and a length window over its sorted arrays and one vectorized Damerau
DP, with no Spark job, and the ``k`` rows come back as a local
relation (collecting it runs no job). A dictionary larger than
``termdict.DICT_MAX_TERMS`` stays in Spark: the same windows and DP
run as one pruned scan of the field's terms with an Arrow-batched UDF.
Either way the postings are never touched.

Deletes: the term dictionary (and its docFreq weights) stays STALE
while tombstones are pending — corrections may rank by pre-delete
frequencies, or suggest a term whose only docs are deleted, until
``Index.purge_deletes`` recomputes the dictionary. Same staleness
window Lucene's DirectSpellChecker has over a reader with deletes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from lucene_clj_spark.errors import ValidationError


def spell_suggest(
    index,
    field: str,
    term: str,
    *,
    k: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    accuracy: float = 0.5,
    max_query_frequency: float = 0.01,
) -> DataFrame:
    """Top-``k`` dictionary corrections for ``term`` (verbatim — pass
    the analyzed form, same contract as TermInSetQ). Returns
    (suggestion, df, score) ordered by (score desc, df desc,
    suggestion asc)."""
    from lucene_clj_spark.search import _lookup_term_stats
    from lucene_clj_spark.termdict import candidates

    if not term:
        raise ValidationError("spell_suggest needs a non-empty term",
                              {"term": term})
    if max_edits < 1 or max_edits > 2:
        raise ValidationError(
            "max_edits must be 1 or 2 (LevenshteinAutomata bound)",
            {"max_edits": max_edits},
        )
    if not isinstance(k, int) or k <= 0:
        raise ValidationError("k must be a positive int", {"k": k})
    if prefix_length < 0:
        raise ValidationError("prefix_length must be >= 0",
                              {"prefix_length": prefix_length})
    n = int(index.field_stats(field)["N"])
    df_q = _lookup_term_stats(index, [(field, term)]).get((field, term), 0)
    rows = []
    if not (n and df_q / n > max_query_frequency):  # common: not a typo
        # an existing (just rare) query term only yields suggestions
        # that are strictly more frequent than it
        rows = candidates(index, field, term, max_edits, prefix_length, k,
                          skip_term=True, df_above=df_q, accuracy=accuracy)
    return index.spark.createDataFrame(
        pd.DataFrame(rows, columns=["suggestion", "df", "score"]),
        "suggestion string, df long, score double",
    )
