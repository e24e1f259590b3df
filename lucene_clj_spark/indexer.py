"""Index build — the ``create-index!`` / ``index!`` path re-expressed as
a Spark DataFrame pipeline.

Reference surface mirrored (lucene.clj:16-24, indexer.clj:79-111):
``create_index(spark, docs_df, fields, ...)`` normalizes + validates the
schema once, compiles per-field analysis once (the reference's main
measured optimization — compile encoders once per batch, never per row:
README.org:103-110, document.clj:92-99), builds the index tables, and
optionally persists them. ``:memory`` indexes are cached DataFrames;
``:disk`` indexes are a parquet directory tree with the field specs
serialized alongside (``_field_specs.json`` — the "schema travels with
the index" contract, reference schema.clj:121-140).

Index tables (all ordinary DataFrames — SURVEY.md §1.4):

- ``docs``      doc_id:long + stored columns
- ``postings``  field, term, doc_id, tf:int, dl:int (denormalized,
                avoids a docs join per query), positions:array<int>
- ``terms``     field, term, df:long, ctf:long
- ``stats``     driver-side dict: per field N / sum_dl / avgdl
- ``suggest``   field, completion, completion_key, weight, contexts,
                doc_id  (reference's $suggest-* shadow fields,
                document.clj:8,14-21 — a plain table instead of a
                completion postings codec)

Scale notes (designed for 1000-executor / 10^12-doc deployments, tested
on local[32]):

- The postings aggregation keys on (field, term, doc_id) — doc_id in
  the key means hot terms ("the") are spread across ALL partitions; the
  classic hot-term shuffle skew appears only at segment-encode time and
  is handled there by bounded (term, doc_block) group keys
  (segments.py), not by fragile salting.
- On write, postings gain ``bucket = pmod(xxhash64(term), n_buckets)``
  and are directory-partitioned by it, sorted by (field, term, doc_id)
  within files → term lookups prune to one directory and row-group
  min/max statistics skip within it.
- Dense doc_ids are assigned WITHOUT a global single-task sort:
  range-repartition on the order key, count per partition (tiny
  driver-side offset map), then a partition-local row_number + offset —
  deterministic across parallelism levels (SURVEY.md §7 hard-part #4).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql import types as T

from lucene_clj_spark import bm25
from lucene_clj_spark.analysis import (
    Analyzer,
    DEFAULT_MAX_TOKEN_LENGTH,
    STANDARD,
    resolve_analyzer,
)
from lucene_clj_spark.errors import UnknownFieldError, ValidationError
from lucene_clj_spark.schema import (
    FieldSpec,
    normalize_field_specs,
    specs_from_json,
    specs_to_json,
)

DEFAULT_BUCKETS = 32

#: presence of this file under an index path means a disk append was
#: interrupted mid-way — the tables may be partially written
APPEND_PENDING = "_append_pending.json"

#: presence of this file means a purge_deletes table rewrite was
#: interrupted mid-swap — the tables may mix purged and unpurged state
PURGE_PENDING = "_purge_pending.json"

#: the persisted tombstone set (one ``doc_id: long`` column) — a
#: single parquet FILE (not a directory) so each delete_documents call
#: can replace it atomically with os.replace
TOMBSTONES_FILE = "tombstones.parquet"

#: below this many tombstones the live-view filter is a literal
#: NOT IN predicate (pushed into the parquet reader); above it, a
#: broadcast anti-join (a literal list that large bloats every plan)
TOMBSTONE_LITERAL_MAX = 4096


def _write_postings(postings: DataFrame, path: str, n_buckets: int,
                    mode: str) -> None:
    """The ONE place that defines the on-disk postings layout: bucket =
    pmod(xxhash64(term), n_buckets) directory partitioning, files
    sorted by (field, term, doc_id) for row-group min/max skipping.
    Used by both the full write and the incremental append so the two
    can never drift."""
    (
        postings.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
        )
        .repartition("bucket")
        .sortWithinPartitions("field", "term", "doc_id")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )


#: suggest-table partition column: the completion key's first char
#: ([a-z0-9] verbatim, everything else pooled under 'other') — fuzzy
#: suggest's Lucene-default "first char exact" prune becomes a REAL
#: directory-partition prune (PartitionFilters) instead of relying on
#: range-clustered row-group stats
SUGGEST_PART_COL = "ckey1"
_SUGGEST_PART_SAFE = "abcdefghijklmnopqrstuvwxyz0123456789"


def suggest_part_value(ch: str) -> str:
    """The partition-directory value for a completion first char —
    shared by the writer below and the suggest query paths so the
    prune can never drift from the layout."""
    return ch if ch in _SUGGEST_PART_SAFE else "other"


def _write_suggest(spark, sug: DataFrame, dest: str,
                   mode: str = "overwrite") -> None:
    """The ONE place that defines the on-disk suggest layout:
    directory-partitioned by first completion char (bounded 37-value
    domain — no unicode directory names), range-clustered + sorted on
    (field, completion_key) within each partition so exact-prefix
    probes still prune to few files via min/max stats. Fuzzy suggest
    filters on the partition column and scans exactly one directory.
    ``mode='append'`` against a pre-round-5 FLAT layout keeps
    appending flat (mixing layouts under one root would corrupt the
    read); rewrite via purge/write to migrate."""
    import os as _os

    if mode == "append" and _os.path.isdir(dest) and not any(
        d.startswith(f"{SUGGEST_PART_COL}=") for d in _os.listdir(dest)
    ):
        sug.write.mode("append").parquet(dest)
        return
    c1 = F.substring(F.col("completion_key"), 1, 1)
    part = F.when(
        c1.rlike(f"^[{_SUGGEST_PART_SAFE}]$"), c1
    ).otherwise(F.lit("other"))
    n_sug = max(2, spark.sparkContext.defaultParallelism // 2)
    (
        sug.drop(SUGGEST_PART_COL)
        .withColumn(SUGGEST_PART_COL, part)
        .repartitionByRange(n_sug, "field", "completion_key")
        .sortWithinPartitions("field", "completion_key")
        .write.mode(mode)
        .partitionBy(SUGGEST_PART_COL)
        .parquet(dest)
    )


def _tombstone_relation(spark, tomb: frozenset) -> DataFrame:
    """The tombstone ids as a one-column relation, built from a pandas
    frame (ONE Arrow batch) rather than a pickled row list — measured
    at sf0.1: the 100k-tombstone anti-join query drops 1.01s -> 0.80s
    (tools/measure_delete_overhead.py). The single constructor every
    tombstone join (view, purge, add-probe) shares."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"doc_id": sorted(tomb)}))


def _tombstone_view(df: DataFrame, tomb: frozenset,
                    rel: DataFrame | None = None) -> DataFrame:
    """A live-rows view of a doc_id-carrying table: small tombstone
    sets fold into a literal NOT-IN predicate (pushed into the parquet
    reader's row-group pruning); large sets use a broadcast anti-join
    so the plan stays bounded. Either way: no shuffle of the big
    side. ``rel`` is the Index's MEMOIZED persisted relation
    (Index._tombstone_rel) — passing it makes every query's
    BroadcastExchange read the cached blocks instead of
    re-materializing the 10^5-row local relation per job (measured at
    sf0.1 / 100k tombstones: query overhead +26% -> +10%). A literal
    NOT-IN above the threshold is NOT an alternative: 10^5 literals
    cost ~6s of analysis per query (measured)."""
    if not tomb:
        return df
    if len(tomb) <= TOMBSTONE_LITERAL_MAX:
        return df.filter(~F.col("doc_id").isin(sorted(tomb)))
    if rel is None:
        rel = _tombstone_relation(df.sparkSession, tomb)
    return df.join(F.broadcast(rel), "doc_id", "left_anti")


def _write_tombstones_file(path: str, tomb: frozenset) -> None:
    """Atomically replace the persisted tombstone set (single parquet
    file, driver-side pyarrow write + os.replace — no Spark job for a
    bounded id list)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = os.path.join(path, TOMBSTONES_FILE)
    tmp = target + ".tmp"
    pq.write_table(
        pa.table({"doc_id": pa.array(sorted(tomb), type=pa.int64())}),
        tmp,
    )
    os.replace(tmp, target)


def _read_tombstones_file(path: str) -> frozenset:
    import pyarrow.parquet as pq

    f = os.path.join(path, TOMBSTONES_FILE)
    if not os.path.isfile(f):
        return frozenset()
    return frozenset(
        pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
    )


def _check_extra_columns(docs_df: DataFrame, specs, id_column,
                         ignore: bool, keep_hint: str) -> set:
    extra = set(docs_df.columns) - set(specs) - {id_column}
    if extra and not ignore:
        raise UnknownFieldError(
            f"document columns not in schema: {sorted(extra)} "
            f"(reference document.clj:85-90; pass "
            f"ignore_extra_columns=True to {keep_hint})",
            {"columns": extra},
        )
    return extra


def _suggest_union(docs: DataFrame, specs, analyzers, default_an):
    """Union of suggest-table rows across all suggest-enabled fields
    (None when there are none)."""
    parts = [
        _suggest_rows(docs, n, fs, analyzers.get(n, default_an))
        for n, fs in specs.items()
        if fs.suggest is not None
    ]
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def assign_dense_ids(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based ids in global ``order_by`` order, without a
    single-task global sort: range-partition, per-partition counts to a
    broadcast offset map, partition-local row_number + offset.
    Deterministic for any parallelism level."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parts = df.repartitionByRange(n, *order_by).withColumn(
        "__pid", F.spark_partition_id()
    )
    counts = {r["__pid"]: r["cnt"] for r in
              parts.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offs = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ) if offsets else F.create_map()
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        parts.withColumn(
            id_col,
            (F.row_number().over(w) - 1 + F.element_at(offs, F.col("__pid"))).cast(
                "long"
            ),
        )
        .drop("__pid")
    )


@dataclass
class Index:
    """An opened index: the queryable table set + compiled analyzers."""

    spark: SparkSession
    specs: dict[str, FieldSpec]
    analyzers: dict[str, Analyzer]
    docs: DataFrame
    postings: DataFrame
    terms: DataFrame
    stats: dict[str, dict[str, float]]
    suggest: DataFrame | None = None
    path: str | None = None
    buckets: int | None = None
    #: doc_ids deleted but not yet physically purged (Lucene's live-docs
    #: bitset analogue). While non-empty: docs/postings are FILTERED
    #: views (every DataFrame query path inherits the exclusion), the
    #: segment kernels mask candidates pre-heap, and — exactly like
    #: Lucene — corpus/term statistics stay STALE until purge_deletes()
    #: (deleted docs keep counting in df/avgdl until merged away).
    tombstones: frozenset = frozenset()

    def n_buckets(self) -> int:
        return self.buckets or DEFAULT_BUCKETS

    # --- query entry points (implemented in search.py / suggest.py) ---
    def search(self, query: Any, **opts) -> DataFrame:
        from lucene_clj_spark.search import search

        return search(self, query, **opts)

    def search_batch(self, queries: dict, **opts) -> DataFrame:
        """M queries, ONE job: (query_id, doc_id, score) top-k per
        query, bit-identical to ``search`` per query. On ready segments
        every query runs on its segment kernel in one shared kernel
        pass; otherwise one DataFrame plan serves the batch (batch.py
        module docstring has both plans + the scale analysis)."""
        from lucene_clj_spark.batch import search_batch

        return search_batch(self, queries, **opts)

    def search_batch_df(self, queries_df: DataFrame, **opts) -> DataFrame:
        """Distributed batch search over a query-log DataFrame
        (query_id, field, term [, boost, occ]) — no driver loop, no
        broadcast requirement; see batch.py:search_batch_df."""
        from lucene_clj_spark.batch import search_batch_df

        return search_batch_df(self, queries_df, **opts)

    def more_like_this(self, field: str, **opts) -> DataFrame:
        """Per-document top-k BM25-similar documents (Lucene
        MoreLikeThis as one index-replay job); see
        batch.py:more_like_this."""
        from lucene_clj_spark.batch import more_like_this

        return more_like_this(self, field, **opts)

    def count_hits(self, query: Any, **opts) -> DataFrame:
        """Total matching docs — IndexSearcher.count(query); see
        collectors.py:count_hits."""
        from lucene_clj_spark.collectors import count_hits

        return count_hits(self, query, **opts)

    def facets(self, query: Any, facet_field: str, **opts) -> DataFrame:
        """Facet value counts over the FULL match set — Lucene
        FacetsCollector analogue; see collectors.py:facets."""
        from lucene_clj_spark.collectors import facets

        return facets(self, query, facet_field, **opts)

    def search_sorted(self, query: Any, sort_field: str, **opts
                      ) -> DataFrame:
        """Top-k by a stored field (Lucene Sort(SortField)); see
        collectors.py:search_sorted."""
        from lucene_clj_spark.collectors import search_sorted

        return search_sorted(self, query, sort_field, **opts)

    def facet_ranges(self, query: Any, facet_field: str, ranges, **opts
                     ) -> DataFrame:
        """Numeric range facet counts over the full match set (Lucene
        LongRangeFacetCounts); see collectors.py:facet_ranges."""
        from lucene_clj_spark.collectors import facet_ranges

        return facet_ranges(self, query, facet_field, ranges, **opts)

    def search_collapsed(self, query: Any, collapse_field: str, **opts
                         ) -> DataFrame:
        """Top-k keeping at most n hits per distinct stored-field
        value (Lucene grouping / CollapsingTopDocsCollector); see
        collectors.py:search_collapsed."""
        from lucene_clj_spark.collectors import search_collapsed

        return search_collapsed(self, query, collapse_field, **opts)

    def explain_score(self, query: Any, doc_id: int, **opts) -> DataFrame:
        """Per-term BM25 decomposition for one doc —
        IndexSearcher.explain; see collectors.py:explain_score."""
        from lucene_clj_spark.collectors import explain_score

        return explain_score(self, query, doc_id, **opts)

    def highlight(self, query: Any, field: str, **opts) -> DataFrame:
        """Top-k with a deterministic snippet per hit; see
        highlight.py."""
        from lucene_clj_spark.highlight import highlight

        return highlight(self, query, field, **opts)

    def suggest_(self, field: str, prefix: str, **opts) -> DataFrame:
        from lucene_clj_spark.suggest import suggest

        return suggest(self, field, prefix, **opts)

    def spell_suggest(self, field: str, term: str, **opts) -> DataFrame:
        """Dictionary spell correction ("did you mean") — Lucene
        DirectSpellChecker; see spell.py."""
        from lucene_clj_spark.spell import spell_suggest

        return spell_suggest(self, field, term, **opts)

    def analyzer_for(self, field: str) -> Analyzer:
        return self.analyzers.get(field, self.analyzers.get(None, STANDARD))

    def field_stats(self, field: str) -> dict[str, float]:
        try:
            return self.stats[field]
        except KeyError:
            raise ValidationError(
                f"field {field!r} has no indexed text statistics",
                {"field": field},
            ) from None

    # --- persistence (schema travels with the index) ------------------
    def write(self, path: str | None = None,
              n_buckets: int = DEFAULT_BUCKETS, *,
              table_format: str = "parquet",
              catalog_table: str | None = None) -> "Index":
        """Persist the index. ``table_format="parquet"`` (default)
        writes the directory layout at ``path`` with JSON sidecars.
        ``table_format="iceberg"`` writes every table through
        ``writeTo(...).using("iceberg")`` into ``catalog_table``-
        prefixed catalog tables with the sidecar content as table
        properties — the one-line swap a catalog deployment makes
        (iceberg.py; requires a configured Iceberg catalog + runtime
        jar, absent from this container)."""
        if table_format == "iceberg":
            from lucene_clj_spark.iceberg import write_iceberg

            if not catalog_table:
                raise ValidationError(
                    "table_format='iceberg' needs catalog_table="
                    "'catalog.db.myindex'", {},
                )
            write_iceberg(self, catalog_table, n_buckets)
            return self
        if table_format != "parquet":
            raise ValidationError(
                f"unknown table_format {table_format!r} "
                "(parquet or iceberg)", {"table_format": table_format},
            )
        if not path:
            raise ValidationError("parquet write needs a path", {})
        if self.path and os.path.realpath(path) == os.path.realpath(
                self.path):
            # self.postings/docs/terms are LAZY reads of these very
            # parquet dirs; mode("overwrite") deletes the inputs of
            # the job that is reading them — data loss, not a rewrite
            raise ValidationError(
                "Index.write cannot overwrite the directory this index "
                "is reading from; write to a new path (or rebuild with "
                "create_index(re_create=True))",
                {"path": path},
            )
        os.makedirs(path, exist_ok=True)
        # docs range-partitioned + sorted on doc_id: stored-field
        # retrieval (search with_hit) pushes a doc_id IN (...) filter
        # into this scan, and tight per-file/row-group min/max on a
        # sorted id column turn that into SEEKS instead of a table scan
        n_docs_files = max(
            2, self.spark.sparkContext.defaultParallelism
        )
        # persist the FULL tables: tombstoned rows travel with the
        # index (masked again by load()) and are only removed by
        # purge_deletes — writing the filtered view here would purge
        # rows while leaving statistics stale, a state no Lucene index
        # can be in
        (
            self.all_docs().repartitionByRange(n_docs_files, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(f"{path}/docs")
        )
        _write_postings(self.all_postings(), path, n_buckets,
                        "overwrite")
        self.terms.write.mode("overwrite").parquet(f"{path}/terms")
        if self.suggest is not None:
            # first-char directory partitioning + range clustering on
            # the lookup key: exact-prefix probes prune to few files
            # via min/max stats, fuzzy probes prune to ONE directory
            _write_suggest(self.spark, self.suggest, f"{path}/suggest")
        with open(f"{path}/_field_specs.json", "w") as f:
            f.write(specs_to_json(self.specs))
        with open(f"{path}/_stats.json", "w") as f:
            json.dump(
                {
                    "stats": self.stats,
                    "n_buckets": n_buckets,
                    "analyzers": {
                        # full analyzer config, not just the kind: a
                        # custom stop set / token-length cap must
                        # round-trip or a reopened index tokenizes
                        # queries differently than it indexed documents
                        # (silent result loss)
                        str(k): {
                            "kind": a.kind,
                            "stop_words": sorted(a.stop_words),
                            "max_token_length": a.max_token_length,
                        }
                        for k, a in self.analyzers.items()
                    },
                    # table schemas travel with the index: load() reads
                    # with explicit schemas, which (a) makes an EMPTY
                    # index reopenable (no parquet files to infer from
                    # — the create-empty-then-stream-into-it pattern)
                    # and (b) skips schema inference on every open
                    "schemas": {
                        "docs": self.docs.schema.json(),
                        "postings": self.postings.schema.json(),
                        "terms": self.terms.schema.json(),
                        **(
                            {"suggest": self.suggest.schema.json()}
                            if self.suggest is not None
                            else {}
                        ),
                    },
                },
                f,
                indent=1,
            )
        if self.tombstones:
            _write_tombstones_file(path, self.tombstones)
        # a completed full write is a CONSISTENT image of this index:
        # clear recovery journals and, when this index carries no
        # deletes, a tombstone sidecar left by a previous resident —
        # and drop any stale segment artifacts, which were encoded
        # from whatever tables lived here before this write (the
        # self-path guard above means these are never OUR live
        # segments)
        for marker in (APPEND_PENDING, PURGE_PENDING):
            f = os.path.join(path, marker)
            if os.path.isfile(f):
                os.remove(f)
        if not self.tombstones:
            f = os.path.join(path, TOMBSTONES_FILE)
            if os.path.isfile(f):
                os.remove(f)
        if os.path.isdir(os.path.join(path, "manifests")):
            import shutil

            from lucene_clj_spark.segments import _all_gen_dirs

            for d in _all_gen_dirs(path).values():
                shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(os.path.join(path, "manifests"),
                          ignore_errors=True)
        self.path = path
        # record the layout so a later add_documents on THIS object
        # appends under the same bucket count the directories were
        # written with (ADVICE r02: a default-bucket append onto a
        # custom-bucket layout would silently miss postings at query
        # time once _bucket_pruned filters on the wrong pmod)
        self.buckets = n_buckets
        return self

    @staticmethod
    def load(spark: SparkSession, path: str,
             contexts_fns: dict[str, Any] | None = None) -> "Index":
        """Reopen a persisted index; field specs come back from the
        sidecar (contract: typed queries work after reopen, reference
        contract_test.clj:90-119). Refuses an index left partial by an
        interrupted append (see add_documents crash-safety note).

        ``contexts_fns``: {field: callable} re-supplying CALLABLE
        ``contexts_from`` functions — a closure cannot round-trip
        through the JSON sidecar (it persists as the "<fn>" marker,
        schema.py), so an index that derives suggest contexts with a
        fn needs it passed again before ``add_documents`` can append
        suggest rows (queries never need it: contexts are
        materialized in the suggest table at index time)."""
        if os.path.exists(os.path.join(path, APPEND_PENDING)):
            raise ValidationError(
                f"index at {path} has an interrupted append "
                f"({APPEND_PENDING} present) — its tables may be "
                "partial; rebuild the index or restore from source",
                {"path": path},
            )
        if os.path.exists(os.path.join(path, PURGE_PENDING)):
            raise ValidationError(
                f"index at {path} has an interrupted purge "
                f"({PURGE_PENDING} present) — its tables may mix "
                "purged and unpurged state; rebuild the index or "
                "restore from source",
                {"path": path},
            )
        with open(f"{path}/_field_specs.json") as f:
            specs = specs_from_json(f.read())
        if contexts_fns:
            from dataclasses import replace

            unknown = set(contexts_fns) - {
                n for n, fs in specs.items()
                if fs.suggest is not None
                and fs.suggest.contexts_from == "<fn>"
            }
            if unknown:
                raise ValidationError(
                    "contexts_fns names fields that are not "
                    "suggest-enabled with a persisted callable "
                    f"contexts_from: {sorted(unknown)}",
                    {"fields": unknown},
                )
            for n, fn in contexts_fns.items():
                fs = specs[n]
                specs[n] = replace(
                    fs, suggest=replace(fs.suggest, contexts_from=fn)
                )
        with open(f"{path}/_stats.json") as f:
            meta = json.load(f)
        def _an(spec) -> Analyzer:
            if isinstance(spec, str):  # pre-round-3 sidecar: kind only
                return Analyzer(spec)
            # explicit None check: `or DEFAULT` would map a persisted 0
            # (or any falsy cap) to the default instead of
            # round-tripping it (ADVICE r03)
            cap = spec.get("max_token_length")
            return Analyzer(
                spec["kind"],
                stop_words=frozenset(spec.get("stop_words") or ()),
                max_token_length=(
                    int(cap) if cap is not None else DEFAULT_MAX_TOKEN_LENGTH
                ),
            )

        analyzers = {
            (None if k == "None" else k): _an(v)
            for k, v in meta["analyzers"].items()
        }
        sug_path = f"{path}/suggest"
        schemas = meta.get("schemas", {})

        def _read(sub: str):
            reader = spark.read
            sch = schemas.get(sub)
            if sch is not None:
                from pyspark.sql.types import StructType

                reader = reader.schema(
                    StructType.fromJson(json.loads(sch))
                )
            return reader.parquet(f"{path}/{sub}")

        idx = Index(
            spark=spark,
            specs=specs,
            analyzers=analyzers,
            docs=_read("docs"),
            postings=_read("postings"),
            terms=_read("terms"),
            stats=meta["stats"],
            suggest=_read("suggest") if os.path.isdir(sug_path) else None,
            path=path,
            buckets=meta.get("n_buckets"),
        )
        tomb = _read_tombstones_file(path)
        if tomb:
            idx._docs_all = idx.docs
            idx._post_all = idx.postings
            idx.tombstones = tomb
            rel = (idx._tombstone_rel()
                   if len(tomb) > TOMBSTONE_LITERAL_MAX else None)
            idx.docs = _tombstone_view(idx._docs_all, tomb, rel)
            idx.postings = _tombstone_view(idx._post_all, tomb, rel)
        return idx

    def truncate(self) -> None:
        """``clear!`` analogue (reference indexer.clj:68-77 —
        ``deleteAll`` + commit). For a persisted index this clears the
        DISK too: table directories are rewritten as empty relations
        (schema preserved), derived segment artifacts are deleted, and
        the stats sidecar is zeroed — so reopening the path yields an
        empty index rather than resurrecting the cleared one."""
        spark = self.docs.sparkSession
        empty_docs = spark.createDataFrame([], self.docs.schema)
        empty_post = spark.createDataFrame([], self.postings.schema)
        empty_terms = spark.createDataFrame([], self.terms.schema)
        empty_sug = (
            spark.createDataFrame([], self.suggest.schema)
            if self.suggest is not None
            else None
        )
        if self.path:
            import shutil

            # segment blocks/manifests are derived data — drop them
            from lucene_clj_spark.segments import _all_gen_dirs

            for d in _all_gen_dirs(self.path).values():
                shutil.rmtree(d, ignore_errors=True)
            for sub in ("manifests", "_segments_meta.json"):
                p = os.path.join(self.path, sub)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                elif os.path.isfile(p):
                    os.remove(p)
            empty_docs.write.mode("overwrite").parquet(f"{self.path}/docs")
            empty_post.write.mode("overwrite").parquet(
                f"{self.path}/postings"
            )
            empty_terms.write.mode("overwrite").parquet(f"{self.path}/terms")
            if empty_sug is not None:
                empty_sug.write.mode("overwrite").parquet(
                    f"{self.path}/suggest"
                )
            stats_file = os.path.join(self.path, "_stats.json")
            if os.path.isfile(stats_file):
                with open(stats_file) as f:
                    meta = json.load(f)
                meta["stats"] = {
                    k: {"N": 0, "sum_dl": 0, "avgdl": 0.0}
                    for k in meta.get("stats", {})
                }
                with open(stats_file, "w") as f:
                    json.dump(meta, f, indent=1)
            # re-point at the rewritten (empty) tables
            empty_docs = spark.read.parquet(f"{self.path}/docs")
            empty_post = spark.read.parquet(f"{self.path}/postings")
            empty_terms = spark.read.parquet(f"{self.path}/terms")
            if empty_sug is not None:
                empty_sug = spark.read.parquet(f"{self.path}/suggest")
        self.docs = empty_docs
        self.postings = empty_post
        self.terms = empty_terms
        if self.suggest is not None:
            self.suggest = empty_sug
        for s in self.stats.values():
            s.update(N=0, sum_dl=0, avgdl=0.0)
        if hasattr(self, "_term_stats_cache"):
            self._term_stats_cache.clear()
        if hasattr(self, "_fuzzy_exp_cache"):
            self._fuzzy_exp_cache.clear()
        if hasattr(self, "_seg_term_cache"):
            self._seg_term_cache.clear()
        # deleteAll clears pending deletes with everything else
        self.tombstones = frozenset()
        self._drop_tomb_rel()
        for attr in ("_docs_all", "_post_all"):
            if hasattr(self, attr):
                delattr(self, attr)
        if self.path:
            tf = os.path.join(self.path, TOMBSTONES_FILE)
            if os.path.isfile(tf):
                os.remove(tf)

    # --- deletes: Lucene's tombstone model on parquet ------------------
    #
    # ``delete_documents`` is cheap (a sidecar write — no table touch):
    # deleted docs are masked at query time everywhere, while corpus and
    # term statistics stay STALE until a physical purge — exactly
    # Lucene's live-docs contract (deleted docs keep counting in
    # docFreq/avgdl until their segments merge). ``purge_deletes`` is
    # the forceMergeDeletes analogue: a per-table staged rewrite (the
    # compaction-grade job), after which scores are bit-identical to a
    # from-scratch build over the live docs. Re-adding a tombstoned
    # doc_id is REFUSED until purge: doc_ids are user keys here, and
    # appending fresh postings under a tombstoned id would either
    # resurrect the old rows (unmask) or hide the new ones (keep mask).
    #
    # Scale contract: the tombstone set is bounded by the purge cadence,
    # exactly as Lucene's deleted-doc count is bounded by the merge
    # policy. The set lives driver-side and ships to kernels as an int64
    # array (10^7 tombstones = 80 MB — purge long before that); the
    # DataFrame mask is a literal NOT-IN below TOMBSTONE_LITERAL_MAX
    # ids (parquet reader pushdown) and a broadcast anti-join above it.

    def _tombstone_rel(self) -> DataFrame:
        """The current tombstone set as a PERSISTED one-column
        relation, memoized on the Index (the same pattern as the
        idf/bucket lookups): built + cached once per tombstone-set
        change, so every subsequent query's broadcast anti-join reads
        cached blocks instead of re-materializing the local relation
        per job. Invalidated by delete/purge/clear via the frozenset
        key; the stale relation unpersists eagerly."""
        cur = getattr(self, "_tomb_rel", None)
        if cur is not None and cur[0] == self.tombstones:
            return cur[1]
        if cur is not None:
            cur[1].unpersist()
        rel = _tombstone_relation(self.spark, self.tombstones).persist()
        rel.count()  # materialize now — queries must never pay it
        self._tomb_rel = (self.tombstones, rel)
        return rel

    def _drop_tomb_rel(self) -> None:
        cur = getattr(self, "_tomb_rel", None)
        if cur is not None:
            cur[1].unpersist()
            del self._tomb_rel

    def all_docs(self) -> DataFrame:
        """The docs table INCLUDING tombstoned rows (persistence and
        collision checks); ``self.docs`` is the live view."""
        return getattr(self, "_docs_all", self.docs)

    def all_postings(self) -> DataFrame:
        return getattr(self, "_post_all", self.postings)

    def delete_documents(self, doc_ids) -> "Index":
        """Tombstone documents by id (Lucene
        ``IndexWriter.deleteDocuments`` + live-docs masking). Takes
        effect immediately on every query path — DataFrame plans get a
        filtered view of docs/postings, segment kernels mask candidates
        pre-heap — without touching any table. BM25 statistics stay
        stale until :meth:`purge_deletes` (Lucene parity: deleted docs
        count in docFreq/avgdl until merged away). Ids absent from the
        index are accepted and ignored, like Lucene's
        delete-by-nonexistent-term."""
        ids = frozenset(int(d) for d in doc_ids)
        if not ids or ids <= self.tombstones:
            return self
        if self.path:
            self._check_no_pending_mutation()
        new_tomb = self.tombstones | ids
        if self.path:
            # persist FIRST (atomic file replace): a failed sidecar
            # write must not leave the in-memory view ahead of disk
            _write_tombstones_file(self.path, new_tomb)
        if not hasattr(self, "_docs_all"):
            self._docs_all = self.docs
            self._post_all = self.postings
        self.tombstones = new_tomb
        rel = (self._tombstone_rel()
               if len(new_tomb) > TOMBSTONE_LITERAL_MAX else None)
        self.docs = _tombstone_view(self._docs_all, new_tomb, rel)
        self.postings = _tombstone_view(self._post_all, new_tomb, rel)
        return self

    def delete_by_terms(self, field: str, *terms: str) -> "Index":
        """Lucene ``deleteDocuments(Term...)`` — tombstone every LIVE
        doc containing any of ``terms`` (verbatim) in ``field``. The
        recrawl update-key pattern: delete by url keyword before
        re-adding. One bucket-pruned postings scan; the collected id
        list is bounded by the terms' summed docFreq (a delete key is
        near-unique by design — do not use a stop-word-frequency
        term)."""
        if not terms:
            return self
        from lucene_clj_spark.search import _bucket_pruned

        tset = list(dict.fromkeys(terms))
        post = self.postings.filter(
            (F.col("field") == field) & F.col("term").isin(tset)
        )
        post = _bucket_pruned(self, post, tset)
        ids = [
            r["doc_id"]
            for r in post.select("doc_id").distinct().collect()
        ]
        return self.delete_documents(ids)

    def update_documents(
        self,
        docs_df: DataFrame,
        *,
        id_column: str = "doc_id",
        ignore_extra_columns: bool = False,
    ) -> "Index":
        """Lucene ``updateDocument``: replace documents by id (absent
        ids are plain adds). doc_ids are USER keys here, so replacing
        requires physically purging the old postings before the re-add
        — this is delete + :meth:`purge_deletes` + add in one call, a
        compaction-grade operation. Batch recrawl updates and call it
        once per cadence, not per document."""
        # only the OVERLAPPING ids ever reach the driver: semi-join
        # the stored ids against the batch instead of collecting every
        # batch id and re-shipping it as a pickled relation
        batch_ids = docs_df.select(
            F.col(id_column).cast("long").alias("doc_id")
        ).distinct()
        existing = {
            int(r[0])
            for r in self.all_docs()
            .select("doc_id")
            .join(batch_ids, "doc_id", "left_semi")
            .collect()
        }
        if existing:
            self.delete_documents(existing)
        if self.tombstones:
            self.purge_deletes()
        return self.add_documents(
            docs_df,
            id_column=id_column,
            ignore_extra_columns=ignore_extra_columns,
        )

    def _check_no_pending_mutation(self) -> None:
        for marker, what in (
            (APPEND_PENDING, "append"),
            (PURGE_PENDING, "purge"),
        ):
            if os.path.exists(os.path.join(self.path, marker)):
                raise ValidationError(
                    f"index at {self.path} has an interrupted {what} "
                    f"({marker} present) — its tables may be partial; "
                    "rebuild the index or restore from source",
                    {"path": self.path},
                )

    def purge_deletes(self, *, log=None) -> "Index":
        """Physically remove tombstoned documents — Lucene
        ``forceMergeDeletes``. Docs/postings are rewritten without the
        tombstoned rows, the term dictionary and corpus statistics are
        recomputed EXACTLY (marker-accurate N arithmetic, so scores
        after purge are identical to a from-scratch build over the
        live docs), the suggest table is rebuilt from the live stored
        docs, and existing segments are re-encoded. Disk rewrites are
        staged under ``__purge_stage`` and swapped per table, fenced by
        a ``_purge_pending.json`` journal that ``Index.load`` and every
        segment operation refuse to cross.

        Cost: one full rewrite of the index tables (+ a segment
        rebuild when segments exist) — the same bill Lucene pays to
        merge deletes away. Run it on a cadence, not per delete."""
        if not self.tombstones:
            return self
        spark = self.spark
        tomb = self.tombstones
        live_docs, live_post = self.docs, self.postings
        if len(tomb) <= TOMBSTONE_LITERAL_MAX:
            lit = sorted(tomb)
            rem_docs = self.all_docs().filter(F.col("doc_id").isin(lit))
            rem_post = self.all_postings().filter(
                F.col("doc_id").isin(lit)
            )
        else:
            tomb_df = self._tombstone_rel()  # memoized, persisted
            rem_docs = self.all_docs().join(
                F.broadcast(tomb_df), "doc_id", "left_semi"
            )
            rem_post = self.all_postings().join(
                F.broadcast(tomb_df), "doc_id", "left_semi"
            )
        default_an = self.analyzers.get(None, STANDARD)
        # build the suggest plan FIRST: a cold-loaded "<fn>"
        # contexts_from marker must raise BEFORE any journal/mutation
        sug_new = (
            _suggest_union(live_docs, self.specs, self.analyzers,
                           default_an)
            if self.suggest is not None
            else None
        )
        # exact stats arithmetic: every stored doc contributed one
        # marker row per text field at build time (zero-token fields
        # included), so N decrements by the count of removed DOCS; a
        # removed doc's per-field dl comes off its postings rows
        # (zero-token fields contributed dl=0 — nothing to remove)
        n_removed = rem_docs.count()
        rem_dl = {
            r["field"]: int(r["sdl"])
            for r in rem_post.select("field", "doc_id", "dl")
            .distinct()
            .groupBy("field")
            .agg(F.sum("dl").alias("sdl"))
            .collect()
        }
        new_stats: dict[str, dict[str, float]] = {}
        n_total_live = None
        for fname, st in self.stats.items():
            fs = self.specs.get(fname)
            if fs is not None and fs.type == "keyword":
                continue
            N = int(st["N"]) - n_removed
            sd = int(st["sum_dl"]) - rem_dl.get(fname, 0)
            new_stats[fname] = {
                "N": N, "sum_dl": sd, "avgdl": (sd / N) if N else 0.0,
            }
            n_total_live = N
        if n_total_live is None:
            n_total_live = live_docs.count()
        for fname, fs in self.specs.items():
            if fs.indexed and fs.type == "keyword":
                new_stats[fname] = {
                    "N": n_total_live,
                    "sum_dl": n_total_live,
                    "avgdl": 1.0,
                }
        term_cols = ["field", "term", "df", "ctf"]
        new_terms = live_post.groupBy("field", "term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("ctf")
        ).select(*term_cols)

        if not self.path:
            self.docs = live_docs
            self.postings = live_post
            self.terms = new_terms.persist(StorageLevel.MEMORY_AND_DISK)
            if sug_new is not None:
                self.suggest = sug_new
        else:
            import shutil

            self._check_no_pending_mutation()
            marker = os.path.join(self.path, PURGE_PENDING)
            with open(marker, "w") as f:
                json.dump({"n_tombstones": len(tomb)}, f)
            stage = os.path.join(self.path, "__purge_stage")
            shutil.rmtree(stage, ignore_errors=True)
            os.makedirs(stage)
            nb = self.n_buckets()
            n_docs_files = max(
                2, spark.sparkContext.defaultParallelism
            )
            (
                live_docs.repartitionByRange(n_docs_files, "doc_id")
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite")
                .parquet(f"{stage}/docs")
            )
            _write_postings(live_post, stage, nb, "overwrite")
            new_terms.write.mode("overwrite").parquet(f"{stage}/terms")
            subs = ["docs", "postings", "terms"]
            if sug_new is not None and os.path.isdir(
                    f"{self.path}/suggest"):
                _write_suggest(spark, sug_new, f"{stage}/suggest")
                subs.append("suggest")
            # all staged — swap each table (the journal fences a crash
            # that lands between two swaps)
            for sub in subs:
                old = os.path.join(self.path, sub)
                shutil.rmtree(old, ignore_errors=True)
                os.rename(os.path.join(stage, sub), old)
            shutil.rmtree(stage, ignore_errors=True)
            stats_file = os.path.join(self.path, "_stats.json")
            if os.path.isfile(stats_file):
                with open(stats_file) as f:
                    meta = json.load(f)
                meta["stats"] = new_stats
                with open(stats_file, "w") as f:
                    json.dump(meta, f, indent=1)
            # re-point at the rewritten tables
            self.docs = spark.read.parquet(f"{self.path}/docs")
            self.postings = spark.read.parquet(f"{self.path}/postings")
            self.terms = spark.read.parquet(f"{self.path}/terms")
            if sug_new is not None and "suggest" in subs:
                self.suggest = spark.read.parquet(
                    f"{self.path}/suggest"
                )
        self.stats = new_stats
        self.tombstones = frozenset()
        self._drop_tomb_rel()
        for attr in ("_docs_all", "_post_all"):
            if hasattr(self, attr):
                delattr(self, attr)
        for cache in ("_term_stats_cache", "_fuzzy_exp_cache",
                      "_seg_term_cache"):
            if hasattr(self, cache):
                getattr(self, cache).clear()
        if self.path:
            import shutil

            tf = os.path.join(self.path, TOMBSTONES_FILE)
            if os.path.isfile(tf):
                os.remove(tf)
            # the TABLES are consistent from here — clear the journal
            # BEFORE the segment rebuild: a crash during the rebuild
            # leaves a half-built segment set, which the manifest
            # machinery already fences (missing_buckets + resume;
            # add_documents refuses under a partial build), while the
            # journal staying up would wrongly condemn good tables
            smeta = None
            seg_meta_p = os.path.join(
                self.path, "manifests", "_segments_meta.json"
            )
            if os.path.isfile(seg_meta_p):
                from lucene_clj_spark.segments import (
                    _all_gen_dirs,
                    segments_meta,
                )

                smeta = segments_meta(self.path)
                # segments encode the PRE-purge postings — drop them
                # while the journal still fences readers
                for d in _all_gen_dirs(self.path).values():
                    shutil.rmtree(d, ignore_errors=True)
                shutil.rmtree(
                    os.path.join(self.path, "manifests"),
                    ignore_errors=True,
                )
            os.remove(os.path.join(self.path, PURGE_PENDING))
            if smeta is not None:
                from lucene_clj_spark.segments import build_segments

                build_segments(
                    self,
                    n_buckets=int(smeta.get("n_buckets", 16)),
                    chunk_span=int(smeta["chunk_span"]),
                    block_size=int(smeta["block_size"]),
                    resume=False,
                    log=log,
                )
        return self

    def add_documents(
        self,
        docs_df: DataFrame,
        *,
        id_column: str = "doc_id",
        ignore_extra_columns: bool = False,
    ) -> "Index":
        """Repeated ``index!`` on an existing index (reference
        indexer.clj:89-111 — ``addDocument`` on a writer over the same
        directory): append a batch of documents, merging the term
        dictionary and corpus stats so the result is IDENTICAL to one
        batch build over the union (scores included — BM25 stats are
        index-wide, pinned by test).

        Scale shape: the new batch runs the same one-pass flat
        inversion; the only merge shuffle is the vocab-sized term
        union-aggregate. On a disk index, postings/docs/suggest APPEND
        to the partitioned parquet (no rewrite of existing data), the
        terms table is swapped, and built segments take the batch as
        DELTA blocks (segments.append_segments — existing segment
        files are untouched; their impact metadata is
        stats-independent). Compact accumulated deltas on a cadence
        with segments.merge_segments, like Lucene's background merges.

        Crash safety (disk): the multi-step append is NOT atomic (that
        is precisely what an Iceberg-transactional catalog would give;
        this parquet layout journals instead): ``_append_pending.json``
        is written before the first table touch and removed after the
        last, and both ``add_documents`` and ``Index.load`` REFUSE an
        index whose pending marker survives — a killed append fails
        fast on reopen instead of silently double-counting postings.
        """
        spark = self.spark
        specs = self.specs
        extra = _check_extra_columns(
            docs_df, specs, id_column, ignore_extra_columns,
            keep_hint="ignore them (kept as stored-only ONLY if the "
                      "index already stores a column of that name)",
        )
        docs = docs_df.withColumn("doc_id", F.col(id_column).cast("long"))
        if id_column != "doc_id" and id_column not in specs:
            docs = docs.drop(id_column)
        missing_stored = set(self.docs.columns) - set(docs.columns)
        if missing_stored:
            raise ValidationError(
                "add_documents batch is missing stored columns of the "
                f"existing index: {sorted(missing_stored)}",
                {"columns": missing_stored},
            )
        # id-collision guard: one tiny semi-join action (Lucene would
        # happily create duplicate docs; this engine keys on doc_id).
        # Checked against ALL docs INCLUDING tombstoned ones — fresh
        # postings under a tombstoned id would either resurrect the old
        # rows or stay hidden behind the mask; purge first, then re-add
        # (update_documents does both).
        if self.tombstones:
            # a tombstoned id is refused even if the doc never existed
            # (delete-then-add of an unseen id): rows appended AFTER
            # the filtered views were built would leak past the mask,
            # and a tombstoned id needs purge_deletes before re-use
            # regardless
            ids_only = docs.select("doc_id")
            if len(self.tombstones) <= TOMBSTONE_LITERAL_MAX:
                probe = ids_only.filter(
                    F.col("doc_id").isin(sorted(self.tombstones))
                )
            else:
                probe = ids_only.join(
                    F.broadcast(self._tombstone_rel()),
                    "doc_id",
                    "left_semi",
                )
            tomb_hit = [int(r[0]) for r in probe.limit(5).collect()]
            if tomb_hit:
                raise ValidationError(
                    "add_documents: doc_id values collide with "
                    "TOMBSTONED ids — run purge_deletes() (or use "
                    "update_documents) before re-adding a deleted id",
                    {"doc_ids": tomb_hit},
                )
        if (
            docs.select("doc_id")
            .join(self.all_docs().select("doc_id"), "doc_id",
                  "left_semi")
            .limit(1)
            .count()
        ):
            raise ValidationError(
                "add_documents: doc_id values collide with existing "
                "documents",
                {},
            )
        if self.path:
            # refuse to append under a HALF-BUILT segment layout, and
            # do it BEFORE any table mutation: committed buckets were
            # encoded without this batch (the delta would have to carry
            # it) while a later resume re-encodes the missing buckets
            # from the live postings table WITH it — either silently
            # missing docs or double-counted postings on the kernel
            # path depending on ordering. Finish or drop the partial
            # build first; complete segment sets take deltas as usual.
            seg_meta_p = os.path.join(
                self.path, "manifests", "_segments_meta.json"
            )
            if os.path.isfile(seg_meta_p):
                from lucene_clj_spark.segments import (
                    SEGMENT_FORMAT as _FMT,
                    missing_buckets as _missing,
                    segments_meta as _smeta,
                )

                _m = _smeta(self.path)
                if _m.get("format") == _FMT:
                    mb = _missing(self.path, _m)
                    if mb:
                        raise ValidationError(
                            "add_documents: the segment build at "
                            f"{self.path} is incomplete (buckets "
                            f"{mb} have no committed manifest) — "
                            "finish it with build_segments(resume="
                            "True) or drop it with build_segments("
                            "resume=False) before appending",
                            {"missing_buckets": mb},
                        )
        default_an = self.analyzers.get(None, STANDARD)
        # build the suggest-rows plan FIRST: it validates contexts_from
        # (a cold-reopened "<fn>" marker raises here) and must do so
        # before the batch inversion below persists anything — a failed
        # append should leave no cached relation behind
        sug_new = _suggest_union(docs, specs, self.analyzers, default_an)
        # cache=True: the batch's inversion materializes ONCE and feeds
        # the stats collect + every downstream write/union (a memory
        # index keeps referencing the cached relation afterwards)
        raw, post_new, terms_new, terms_full_new, stats_new, n_new = (
            _build_tables(docs, specs, self.analyzers, default_an,
                          cache=True)
        )
        merged_terms = (
            self.terms.select("field", "term", "df", "ctf")
            .unionByName(terms_new)
            .groupBy("field", "term")
            .agg(F.sum("df").alias("df"), F.sum("ctf").alias("ctf"))
        )
        stored_cols = [c for c in self.docs.columns]
        docs_out = docs.select(*stored_cols)

        # merged corpus stats (index-wide, like Lucene's reopened reader)
        new_stats: dict[str, dict[str, float]] = {}
        n_total = None
        for fname, st_old in self.stats.items():
            st_n = stats_new.get(fname, {"N": 0, "sum_dl": 0})
            fs = specs.get(fname)
            if fs is not None and fs.type == "keyword":
                continue  # filled below once n_total is known
            N = int(st_old["N"]) + int(st_n["N"])
            sd = int(st_old["sum_dl"]) + int(st_n["sum_dl"])
            new_stats[fname] = {
                "N": N, "sum_dl": sd, "avgdl": (sd / N) if N else 0.0,
            }
            n_total = N
        if n_total is None:
            n_total = self.docs.count() + n_new
        for fname, fs in specs.items():
            if fs.indexed and fs.type == "keyword":
                new_stats[fname] = {
                    "N": n_total, "sum_dl": n_total, "avgdl": 1.0,
                }

        if self.path:
            import shutil

            pending = os.path.join(self.path, APPEND_PENDING)
            if os.path.exists(pending):
                raise ValidationError(
                    f"index at {self.path} has an interrupted append "
                    f"({APPEND_PENDING} present) — its tables may be "
                    "partial; rebuild the index (re_create=True) or "
                    "restore from source before appending again",
                    {"path": self.path},
                )
            if os.path.exists(os.path.join(self.path, PURGE_PENDING)):
                raise ValidationError(
                    f"index at {self.path} has an interrupted purge "
                    f"({PURGE_PENDING} present) — its tables may mix "
                    "purged and unpurged state; rebuild the index or "
                    "restore from source before appending",
                    {"path": self.path},
                )
            with open(pending, "w") as f:
                json.dump({"n_new_docs": n_new}, f)
            # the sidecar is the authority on the on-disk bucket layout
            # (ADVICE r02): an Index object whose ``buckets`` drifted
            # from the directories (e.g. constructed by hand) must not
            # append under a different pmod
            nb = self.n_buckets()
            if os.path.isfile(stats_file := os.path.join(
                    self.path, "_stats.json")):
                with open(stats_file) as f:
                    nb = int(json.load(f).get("n_buckets") or nb)
                self.buckets = nb
            post_dir = f"{self.path}/postings"
            if os.path.isdir(post_dir) and not any(
                d.startswith("bucket=") for d in os.listdir(post_dir)
            ):
                # post-truncate state: the dir holds only an empty flat
                # relation (no bucket= partitions). Appending partition
                # directories next to flat part files would produce a
                # layout Spark refuses to read (ADVICE r02) — replace
                # the empty relation with a fresh partitioned write.
                shutil.rmtree(post_dir)
                _write_postings(post_new, self.path, nb, "overwrite")
            else:
                _write_postings(post_new, self.path, nb, "append")
            docs_out.write.mode("append").parquet(f"{self.path}/docs")
            # terms: materialize the merge to a tmp dir FIRST (it reads
            # the live terms dir), then swap (rmtree+rename — a crash
            # between the two is caught by the pending marker)
            tmp = f"{self.path}/terms__new"
            merged_terms.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(f"{self.path}/terms")
            os.rename(tmp, f"{self.path}/terms")
            if sug_new is not None and os.path.isdir(f"{self.path}/suggest"):
                _write_suggest(self.spark, sug_new,
                               f"{self.path}/suggest", mode="append")
            stats_file = os.path.join(self.path, "_stats.json")
            if os.path.isfile(stats_file):
                with open(stats_file) as f:
                    meta = json.load(f)
                meta["stats"] = new_stats
                with open(stats_file, "w") as f:
                    json.dump(meta, f, indent=1)
            # compressed segments take the batch as DELTA blocks —
            # Lucene's writer-flushes-new-segments model. Existing
            # segment files stay valid because their impact metadata is
            # stats-independent (segments.py format 2); only an
            # unreadable older format forces a drop.
            seg_meta = os.path.join(
                self.path, "manifests", "_segments_meta.json"
            )
            if os.path.isfile(seg_meta):
                from lucene_clj_spark.segments import (
                    SEGMENT_FORMAT,
                    append_segments,
                    segments_meta,
                )

                if segments_meta(self.path).get("format") == SEGMENT_FORMAT:
                    append_segments(
                        self, post_new, self.path,
                        lineage={"append_n_docs": n_new},
                    )
                else:
                    from lucene_clj_spark.segments import _all_gen_dirs

                    for d in _all_gen_dirs(self.path).values():
                        shutil.rmtree(d, ignore_errors=True)
                    p = os.path.join(self.path, "manifests")
                    if os.path.isdir(p):
                        shutil.rmtree(p)
            os.remove(pending)  # commit point: append fully applied
            raw.unpersist()
            terms_full_new.unpersist()
            fresh = Index.load(spark, self.path)
            self.docs = fresh.docs
            self.postings = fresh.postings
            self.terms = fresh.terms
            self.suggest = fresh.suggest
            # load() already applied any persisted tombstone view —
            # carry its full-table stash over so all_docs()/write()
            # keep seeing the unfiltered tables
            self.tombstones = fresh.tombstones
            for attr in ("_docs_all", "_post_all"):
                if hasattr(fresh, attr):
                    setattr(self, attr, getattr(fresh, attr))
                elif hasattr(self, attr):
                    delattr(self, attr)
        else:
            self.postings = self.postings.unionByName(post_new)
            self.docs = self.docs.unionByName(docs_out)
            # the batch's ids were collision-checked against ALL docs,
            # so the live views above stay correct — but the stashed
            # full tables must grow with the batch too
            if hasattr(self, "_post_all"):
                self._post_all = self._post_all.unionByName(post_new)
                self._docs_all = self._docs_all.unionByName(docs_out)
            self.terms = merged_terms
            if self.suggest is not None and sug_new is not None:
                self.suggest = self.suggest.unionByName(sug_new)
        self.stats = new_stats
        if hasattr(self, "_term_stats_cache"):
            self._term_stats_cache.clear()
        if hasattr(self, "_fuzzy_exp_cache"):
            self._fuzzy_exp_cache.clear()
        if hasattr(self, "_seg_term_cache"):
            self._seg_term_cache.clear()
        return self


def _suggest_rows(
    docs: DataFrame, name: str, fs: FieldSpec, analyzer: Analyzer
) -> DataFrame:
    """Rows for the suggest table from one suggest-enabled field
    (reference document.clj:14-21, 53-75)."""
    sug = fs.suggest
    base_val = F.col(name)
    vals = base_val if fs.multi_valued else F.array(base_val)
    ctx = sug.contexts_from
    if ctx == "<fn>":
        # the persisted marker for a callable contexts_from (schema.py:
        # a closure cannot round-trip through the JSON sidecar, same
        # limit as the reference's edn schema) — appending through a
        # cold-reopened index needs the fn supplied again
        raise ValidationError(
            f"field {name!r} was indexed with a CALLABLE contexts_from, "
            "which cannot be persisted in the schema sidecar; to append "
            "documents through a reopened index, re-supply it: "
            "Index.load(spark, path, contexts_fns={" + repr(name)
            + ": <your fn>})",
            {"field": name},
        )
    if ctx is None:
        ctx_col = F.array().cast("array<string>")
    elif isinstance(ctx, str):
        c = F.col(ctx)
        ctx_col = (
            c.cast("array<string>")
            if isinstance(docs.schema[ctx].dataType, T.ArrayType)
            else F.array(c.cast("string"))
        )
    elif isinstance(ctx, (list, tuple)):
        cols = []
        for c in ctx:
            col = F.col(c)
            cols.append(
                col.cast("array<string>")
                if isinstance(docs.schema[c].dataType, T.ArrayType)
                else F.array(col.cast("string"))
            )
        ctx_col = F.concat(*cols)
    elif callable(ctx):
        # the reference's arbitrary-fn contexts surface
        # (document.clj:72-75) — Arrow-batched over a struct of the row
        from lucene_clj_spark._udfs import contexts_udf

        ctx_col = contexts_udf(ctx)(
            F.struct(*[F.col(c) for c in docs.columns if not c.startswith("__")])
        )
    else:
        raise ValidationError(
            "contexts_from must be a field name, list of names, or callable",
            {"contexts_from": ctx},
        )
    rows = docs.select(
        F.col("doc_id"),
        F.explode(vals).alias("completion"),
        ctx_col.alias("contexts"),
    )
    key = F.array_join(analyzer.column(F.col("completion")), " ")
    return rows.select(
        F.lit(name).alias("field"),
        F.col("completion").cast("string").alias("completion"),
        key.alias("completion_key"),
        F.lit(sug.weight).cast("long").alias("weight"),
        "contexts",
        "doc_id",
    )


def _build_tables(docs, specs, analyzers, default_an, cache,
                  persist_raw=False):
    """Analysis + per-doc LOCAL inversion -> FLAT postings + term
    dictionary + corpus stats for one batch of documents.

    ONE mapInPandas pass tokenizes AND inverts per document and emits
    the final flat postings schema (field, term, doc_id, tf, dl,
    positions) plus one stats-marker row (term=NULL) per (text field,
    doc). Partition-local: NO shuffle of token occurrences — the only
    shuffle left is the (tiny) term-stats aggregate. Emitting flat
    rows (instead of caching a nested term-vector struct and exploding
    it JVM-side) avoids Spark's slow generic columnar-cache path for
    array-of-array types: measured ~4x faster build at local[8]
    (tools/exp_cache.py). This is the Spark analogue of the
    reference's compile-encoders-once optimization (README.org:103-110)
    plus Lucene's doc-at-a-time inversion.

    Returns (raw, postings, terms, terms_full, stats, n_docs)."""
    from lucene_clj_spark._udfs import (
        POSTINGS_SCHEMA,
        flat_postings_arrow_generator,
    )

    text_fields = [
        n for n, fs in specs.items() if fs.indexed and fs.type == "text"
    ]
    kw_fields = [
        n for n, fs in specs.items() if fs.indexed and fs.type == "keyword"
    ]
    if not text_fields and not kw_fields:
        raise ValidationError("no indexed text/keyword fields in schema", {})
    emit = flat_postings_arrow_generator(
        [(n, specs[n].multi_valued) for n in text_fields],
        [(n, specs[n].multi_valued) for n in kw_fields],
        {n: a for n, a in analyzers.items() if n is not None},
        default_an,
    )
    # mapInArrow (not mapInPandas): the kernel builds its output
    # columns as arrow arrays directly (zero-copy list offsets for the
    # positions column), so round-tripping through a pandas block
    # manager would only add per-batch assembly cost
    raw = docs.select("doc_id", *text_fields, *kw_fields).mapInArrow(
        emit, POSTINGS_SCHEMA
    )
    if cache or persist_raw:
        # persist_raw: a DISK build reads this relation ~3x (stats
        # action, terms write, postings write) — without a transient
        # persist each pass re-runs the tokenizer even under
        # cache=False (the caller unpersists after the write)
        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    postings = raw.where(F.col("term").isNotNull())

    # One aggregation computes the term dictionary AND the corpus stats:
    # the per-doc marker rows (term=NULL) land in the (field, NULL)
    # group, whose count(*) = N and sum(dl) = sum_dl. Collecting stats
    # then reads the (tiny, cached) aggregate instead of re-scanning
    # postings — one big job per build, everything else is vocab-sized.
    terms_full = raw.groupBy("field", "term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("ctf"),
        F.sum("dl").alias("__sdl"),
    )
    if cache or persist_raw:
        terms_full = terms_full.cache()
    terms = terms_full.where(F.col("term").isNotNull()).select(
        "field", "term", "df", "ctf"
    )

    # pre-seed zeros so an EMPTY corpus still yields stats for every
    # text field (searches then return empty results instead of raising)
    stats: dict[str, dict[str, float]] = {
        n: {"N": 0, "sum_dl": 0, "avgdl": 0.0} for n in text_fields
    }
    n_docs = None
    if text_fields:
        for r in terms_full.where(F.col("term").isNull()).collect():
            n = int(r["df"])
            sum_dl = int(r["__sdl"] or 0)
            stats[r["field"]] = {
                "N": n,
                "sum_dl": sum_dl,
                "avgdl": (sum_dl / n) if n else 0.0,
            }
            n_docs = n
    if n_docs is None:
        n_docs = docs.count()
    for name in kw_fields:
        stats[name] = {"N": n_docs, "sum_dl": n_docs, "avgdl": 1.0}
    return raw, postings, terms, terms_full, stats, n_docs


def create_index(
    spark: SparkSession,
    docs_df: DataFrame,
    fields: dict[str, Any],
    *,
    id_column: str | None = None,
    order_by: list[str] | None = None,
    analyzer: Any = None,
    per_field_analyzers: dict[str, Any] | None = None,
    path: str | None = None,
    index_type: str = "memory",
    re_create: bool = False,
    ignore_extra_columns: bool = False,
    cache: bool = True,
) -> Index:
    """Build an index over ``docs_df`` per the field specs.

    Mirrors ``create-index!`` + ``index!`` (reference lucene.clj:16-24)
    collapsed into one batch build — the natural Spark shape. Options
    mirror the reference's: ``index_type`` in {memory, disk}
    (indexer.clj:79-87), ``re_create`` wipes an existing disk index
    (indexer.clj:64-66), ``analyzer`` is the default with
    ``per_field_analyzers`` overrides (analyzers.clj:22-26).
    """
    if index_type not in ("memory", "disk"):
        raise ValidationError(
            f"index_type must be 'memory' or 'disk', got {index_type!r}",
            {"index_type": index_type},
        )
    if index_type == "disk" and not path:
        raise ValidationError("disk index requires a path", {})
    if path and os.path.isdir(path) and os.listdir(path):
        if not re_create:
            raise ValidationError(
                f"index path {path} exists; pass re_create=True to wipe",
                {"path": path},
            )
        # the DOCUMENTED wipe (reference indexer.clj:64-66): remove
        # every prior resident of the directory — stale tombstone
        # sidecars would silently mask doc_ids of the NEW corpus,
        # stale append/purge journals would make the rebuilt index
        # refuse to load, and stale segment generations would serve
        # kernel queries from the OLD corpus
        import shutil

        shutil.rmtree(path)
    specs = normalize_field_specs(fields)

    extra = _check_extra_columns(
        docs_df, specs, id_column, ignore_extra_columns,
        keep_hint="keep them as stored-only",
    )

    default_an = resolve_analyzer(analyzer, STANDARD)
    analyzers: dict[str | None, Analyzer] = {None: default_an}
    for fname, fs in specs.items():
        if fs.analyzer:
            analyzers[fname] = resolve_analyzer(fs.analyzer)
        elif per_field_analyzers and fname in per_field_analyzers:
            analyzers[fname] = resolve_analyzer(per_field_analyzers[fname])

    # --- doc ids ------------------------------------------------------
    if id_column:
        docs = docs_df.withColumn("doc_id", F.col(id_column).cast("long"))
        if id_column != "doc_id":
            docs = docs.drop(id_column) if id_column not in specs else docs
    else:
        keys = order_by or [
            n for n, fs in specs.items() if fs.type in ("keyword", "text")
        ][:1]
        if not keys:
            raise ValidationError(
                "need id_column or order_by to assign deterministic doc ids", {}
            )
        docs = assign_dense_ids(docs_df, keys)

    raw, postings, terms, terms_full, stats, n_docs = _build_tables(
        docs, specs, analyzers, default_an, cache,
        persist_raw=(index_type == "disk"),
    )

    # --- suggest table ------------------------------------------------
    suggest_df = _suggest_union(docs, specs, analyzers, default_an)
    if suggest_df is not None and cache:
        suggest_df = suggest_df.cache()

    stored_cols = ["doc_id"] + [
        n for n, fs in specs.items() if fs.stored
    ] + (sorted(extra) if ignore_extra_columns else [])
    docs_out = docs.select(*stored_cols)
    if cache:
        docs_out = docs_out.cache()

    idx = Index(
        spark=spark,
        specs=specs,
        analyzers=analyzers,
        docs=docs_out,
        postings=postings,
        terms=terms,
        stats=stats,
        suggest=suggest_df,
    )
    if index_type == "disk":
        idx.write(path)
        loaded = Index.load(spark, path)
        # keep the LIVE specs/analyzers on the in-process object: the
        # sidecar round-trip degrades a callable contexts_from to the
        # "<fn>" marker (schema.py), which would break a same-session
        # add_documents; a cold Index.load in a NEW session still gets
        # the marker and the explicit re-supply error (_suggest_rows)
        loaded.specs = specs
        loaded.analyzers = analyzers
        # the build-time relations are transient for a disk index: the
        # loaded Index serves from its own (bucket-pruned) parquet
        raw.unpersist()
        terms_full.unpersist()
        if cache:
            docs_out.unpersist()
            if suggest_df is not None:
                suggest_df.unpersist()
        return loaded
    return idx
