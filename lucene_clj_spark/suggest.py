"""Suggest (completion) subsystem — mirror of reference suggestions.clj.

The reference shadows each suggest-enabled field with a synthetic
``$suggest-<field>`` completion field (document.clj:8,14-21) written
with an FST-based completion postings format (indexer.clj:17-27). Our
analogue is the plain ``suggest`` table (field, completion,
completion_key, weight, contexts, doc_id) built at index time
(indexer._suggest_rows), sorted by (field, completion_key) on disk so a
prefix probe is a single pruned range scan — no shuffle (SURVEY.md
§3.3).

Operators mirrored:
- G1 prefix suggest: PrefixCompletionQuery — analyzed prefix, top
  ``max_results`` (default 10) by weight (suggestions.clj:13-52).
- G2 fuzzy suggest: FuzzyCompletionQuery — edit-tolerant prefix; closer
  matches score higher (suggestions.clj:22-24; README.org:771-800).
  Public Lucene defaults: max 1 edit, first char exact, fuzzy only for
  prefixes of length >= 3.
- G3 context filtering: suggestions restricted to docs whose context
  set intersects :contexts; all contexts clubbed together
  (suggestions.clj:25-30; lucene_test.clj:85-97).
- G4 weights: static per-field weight, descending (schema.clj:66-70).
- G5 max_results honored with no hidden cap (contract_test.clj:159-167).
- skip_duplicates: one hit per distinct completion.

Scale sizing note (fuzzy suggest): the fuzzy path prunes the scan to
completions sharing the prefix's FIRST character only (matching
Lucene's FuzzyCompletionQuery default: first char exact, 1 edit) —
a much weaker prune than the exact-prefix range scan. Size
expectations accordingly: the table scanned is the COMPLETION table
(one row per distinct (field, completion, doc) suggest entry — its
cardinality is per-field distinct completions, typically 10^6-10^8
even for web corpora whose postings run 10^11+), not the postings
table. A one-char partition of that is ~1/26th of the field's
completions; the Damerau filter then runs as a vectorized kernel over
only that slice. Since round 5 the layout makes this prune EXPLICIT:
``indexer._write_suggest`` directory-partitions the table by first
completion char (``ckey1=<a-z0-9|other>``), so the fuzzy probe's
first-char filter constant-folds into PartitionFilters and the scan
reads one directory — no reliance on row-group clustering. Exact
prefixes get the same partition prune plus (field, completion_key)
min/max file skipping within it.

Deletes: suggestions from tombstoned docs stay visible until
``Index.purge_deletes`` rebuilds the suggest table — the same
staleness Lucene's suggesters have (an AnalyzingInfixSuggester needs
an explicit rebuild after deletes). Completion rows are weight
aggregates, not per-doc rows, so there is nothing cheaper to mask at
query time (indexer.delete_documents docstring has the full
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.search import fetch_hits, sql_lit
from lucene_clj_spark.values import normalize_text

DEFAULT_MAX_RESULTS = 10  # reference suggestions.clj:44


def suggest(
    index,
    field: str,
    prefix: str,
    *,
    max_results: int = DEFAULT_MAX_RESULTS,
    contexts: list[str] | None = None,
    fuzzy: bool = False,
    max_edits: int = 1,
    skip_duplicates: bool = False,
    hit_columns: list[str] | None = None,
    with_hit: bool = True,
) -> DataFrame:
    """Prefix/fuzzy completion -> DataFrame ordered by
    (weight desc, completion asc, doc_id asc), limited to max_results."""
    if index.suggest is None:
        raise ValidationError(
            "index has no suggest-enabled fields "
            "(reference validation.clj:74-86)",
            {"field": field},
        )
    field = str(field)
    if field not in index.specs or index.specs[field].suggest is None:
        raise ValidationError(
            f"field {field!r} is not suggest-enabled", {"field": field}
        )
    if not isinstance(max_results, int) or max_results <= 0:
        raise ValidationError(
            "max_results must be a positive int", {"max_results": max_results}
        )
    p = normalize_text(prefix)
    an = index.analyzer_for(field)
    toks = an.tokens(p)
    key = " ".join(toks) if toks else p.lower()

    base = index.suggest.filter(F.col("field") == field)
    if key:
        # disk indexes carry the first-char partition column
        # (indexer._write_suggest): both probe shapes only ever match
        # completions sharing the prefix's first char, so the filter
        # constant-folds into PartitionFilters — the fuzzy scan reads
        # ONE directory instead of relying on row-group stats.
        # In-memory indexes (no ckey1 column) skip the prune.
        from lucene_clj_spark.indexer import (
            SUGGEST_PART_COL,
            suggest_part_value,
        )

        if SUGGEST_PART_COL in base.columns:
            base = base.filter(
                F.col(SUGGEST_PART_COL) == suggest_part_value(key[0])
            )
    if fuzzy and len(key) >= 3:
        # FuzzyCompletionQuery measures Damerau-Levenshtein (a
        # transposition is one edit), same metric as fuzzy search —
        # computed once over the first-char-pruned candidates via an
        # Arrow-batched UDF (fuzzy.py).
        from lucene_clj_spark._udfs import edit_distance_udf

        plen = len(key)
        head = F.substring(F.col("completion_key"), 1, plen)
        base = (
            base.filter(F.substring(F.col("completion_key"), 1, 1) == key[0])
            .withColumn("__edits", edit_distance_udf(key)(head))
            .filter(
                F.col("completion_key").startswith(key)
                | (F.col("__edits") <= max_edits)
            )
        )
    else:
        base = base.filter(F.col("completion_key").startswith(key)).withColumn(
            "__edits", F.lit(0)
        )
    if contexts:
        wanted = ", ".join(sql_lit(str(c), "string") for c in contexts)
        base = base.filter(f"arrays_overlap(contexts, array({wanted}))")
    if skip_duplicates:
        w = Window.partitionBy("completion").orderBy(
            F.asc("__edits"), F.desc("weight"), F.asc("doc_id")
        )
        base = (
            base.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    out = (
        base.orderBy(
            F.asc("__edits"),
            F.desc("weight"),
            F.asc("completion_key"),
            F.asc("doc_id"),
        )
        .limit(max_results)
        .select(
            "doc_id",
            "completion",
            F.col("weight").cast("double").alias("score"),
        )
    )
    if with_hit:
        # stored-field retrieval by SEEK (search.fetch_hits): the
        # suggestion set is bounded by max_results
        out = fetch_hits(
            index, out.collect(),
            [("doc_id", "long"), ("completion", "string"),
             ("score", "double")],
            [F.desc("score"), F.asc("completion"), F.asc("doc_id")],
            hit_columns,
        )
    return out
