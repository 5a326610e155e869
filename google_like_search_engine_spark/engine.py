"""SearchEngine facade: the end-to-end API a reference user would call.

Replaces the reference's job-submission + HTTP flow (FlameSubmit ->
Indexer/PageRank jobs; RankerStarter's /search route —
/root/reference src/cis5550/) with one object:

    eng = SearchEngine(spark)
    eng.build(pages_df)          # index + pagerank (or .build_from_parquet)
    eng.search("apples figs")    # reference-identical TF-IDF x PageRank
    eng.search_bm25("apples", k=10)   # BM25 top-k

State lives in persisted/cached DataFrames, not a KVS; ``save``/``load``
round-trip the built index through parquet (Iceberg on a real cluster).
"""

from __future__ import annotations

import json
import threading
import time
from collections import namedtuple
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .compression import BLOCK_BYTES, BLOCK_SPAN, assign_doc_indexes, block_postings
from .indexer import build_postings, docs_from_pages
from .pagerank import extract_edges, pagerank, vertices_from_pages
from . import sqltext as sql
from .ranker import expand_query, score_bm25, score_tfidf
from .wand import (
    _local_result_df,
    bm25_idf,
    bm25_sql,
    blocked_maxscore_threshold,
    blocked_maxscore_topk,
    blocked_phrase_topk,
    blocked_proximity_topk,
    entries_sql,
    topk_rows,
)

# cap on the term-bucket count save_blocked derives from a shard's bytes
TERM_BUCKETS = 64

# one opened blocked index: the lazy blocks scan, the cached doc-stats
# dimension, N, (avgdl, min_dl), the driver-side {term: (df, max_tf,
# bucket)} dictionary (None when it exceeds DICT_CAP) and the doc-index
# span per block its meta records
Shard = namedtuple("Shard", "blocks doc_stats_idx total stats term_stats block_span")
# what reading an absent sidecar raises: pyarrow locally, Spark elsewhere
_MISSING_SIDECAR = (FileNotFoundError, AnalysisException)


class Deployment:
    """A list of blocked indexes queried as one corpus; a single index
    is a one-shard deployment. Opened once per shard-path tuple
    (SearchEngine._deployment) and dropped with the blocked cache, it
    holds what every query kind shares:

    - global collection stats: N = sum of shard totals, avgdl = the
      doc-weighted mean, and (``lookup``) per-term df = the sum over
      shards. BM25 scores are comparable across shards only under these.
    - url masks: later shards take precedence per url (merge_pages /
      merge_blocked_shards semantics), so a url a later shard owns masks
      every earlier shard's copy, even when the newer version does not
      match the query. Masking happens after each shard's top-k, so a
      shard over-fetches by ``extra`` (its urls a later shard owns):
      at most that many of its rows are masked, so >= k live rows
      survive whenever it has them. The masks use the shards' driver-side
      forward indexes; beyond URL_DICT_CAP precedence degrades to
      keep-latest-on-collision. Global stats count superseded copies
      until a compaction (merge_blocked_shards) — the standard
      segment-store trade (Lucene's deleted docs inflate stats until
      merge); none of this affects disjoint shards.
    """

    def __init__(self, engine: "SearchEngine", paths: tuple):
        self.engine = engine
        self.paths = paths
        self.shards = [engine._blocked_handles(p) for p in paths]
        self.n = sum(s.total for s in self.shards)
        self.avgdl = (
            sum(s.total * s.stats[0] for s in self.shards) / self.n if self.n else 1.0
        )
        self.url_lookups = [engine._blocked_url_dict(p) for p in paths]
        self.masked, self.extra = [], []
        later: set = set()
        for lookup in reversed(self.url_lookups):
            urls = set(lookup.values()) if lookup is not None else set()
            self.masked.insert(0, frozenset(later))
            self.extra.insert(0, len(urls & later))
            later |= urls

    def lookup(self, terms) -> tuple:
        """([per-shard {term: (df, max_tf, bucket)} of ``terms`` present
        in that shard], global {term: df})."""
        terms = sorted(set(terms))
        infos = [
            self.engine._shard_terms(p, s, terms)
            for p, s in zip(self.paths, self.shards)
        ]
        df: dict = {}
        for info in infos:
            for t, (d, _mt, _bk) in info.items():
                df[t] = df.get(t, 0) + d
        return infos, df


class SearchEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.postings: DataFrame | None = None
        self.doc_stats: DataFrame | None = None
        self.term_df: DataFrame | None = None
        self.pageranks: DataFrame | None = None
        self.total_documents: int = 0
        self._avgdl: float | None = None
        self.build_metrics: dict = {}
        # opened blocked indexes: {path: Shard}, {path: {doc_index: url}
        # or None}, and {paths tuple: Deployment}. Server threads open
        # and invalidate them concurrently: the lock keeps a deployment
        # from holding handles the cache no longer owns.
        self._blocked_cache: dict = {}
        self._blocked_url_dicts: dict = {}
        self._deployments: dict = {}
        self._blocked_lock = threading.RLock()

    # -- build ------------------------------------------------------------

    def build(self, pages: DataFrame, run_pagerank: bool = True,
              pagerank_threshold: float = 0.001,
              collect_metrics: bool = False,
              postings_fn=None) -> "SearchEngine":
        """pages(url, text[, html, lang]) -> cached index + pageranks.

        ``collect_metrics``: record per-phase wall time and
        per-partition posting counts into ``self.build_metrics``
        (north-rule lineage+metrics; ``save`` persists them as a
        sidecar). Off by default — the extra count jobs are cheap over
        the persisted relations but not free.

        ``postings_fn``: pluggable analyzer (the Lucene-analyzer seam):
        docs(doc_id, url, text) -> postings with at least (term,
        doc_id, url, tf). Defaults to the reference-parity tokenizer
        (indexer.build_postings: tag strip, raw+stem dual entries,
        positions, L2). ``merge_pages`` re-uses whichever analyzer the
        index was built with; ``_with_dl`` adds ``dl`` when it omits it.
        """
        t0 = time.perf_counter()
        phases = {}
        self._postings_fn = postings_fn or build_postings
        self.postings = _with_dl(self._postings_fn(docs_from_pages(pages))).persist()
        self.doc_stats = (
            self.postings.groupBy("doc_id", "url")
            .agg(F.sum("tf").alias("n_term_entries"))
            .persist()
        )
        self.total_documents = self.doc_stats.count()
        phases["tokenize_and_doc_stats_sec"] = time.perf_counter() - t0
        self._avgdl = float(
            self.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
        )
        # dictionary table: per-term df precomputed once at build time
        # so BM25 queries skip the per-query df aggregation
        t1 = time.perf_counter()
        self.term_df = (
            self.postings.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .persist()
        )
        self.term_df.count()
        phases["term_dictionary_sec"] = time.perf_counter() - t1
        if run_pagerank:
            t2 = time.perf_counter()
            self.pageranks = pagerank(
                vertices_from_pages(pages),
                extract_edges(pages),
                threshold=pagerank_threshold,
            ).persist()
            phases["pagerank_sec"] = time.perf_counter() - t2
        if collect_metrics:
            per_part = (
                self.postings.groupBy(F.spark_partition_id().alias("partition"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            )
            self.build_metrics = {
                "n_docs": self.total_documents,
                "n_postings": sum(r["rows"] for r in per_part),
                "n_terms": self.term_df.count(),
                "avgdl": self._avgdl,
                "phases_sec": {k: round(v, 3) for k, v in phases.items()},
                "total_sec": round(time.perf_counter() - t0, 3),
                "partitions": sorted(
                    ({"partition": r["partition"], "rows": r["rows"]}
                     for r in per_part),
                    key=lambda d: d["partition"],
                ),
            }
        return self

    def merge_pages(self, pages_delta: DataFrame) -> "SearchEngine":
        """MERGE a delta of (re-)crawled pages into the built index —
        the batch form of the reference's read-modify-write index
        appends (Indexer.java:132-147; with Iceberg this is a literal
        MERGE INTO postings USING delta ON doc_id). Re-crawled docs
        REPLACE their old postings (anti-join on doc_id) rather than
        accumulating them, i.e. the compacted semantics the streaming
        twin's compact_index applies after append (streaming/
        index_stream.py). Derived state (doc_stats, term_df, avgdl) is
        recomputed; PageRank is NOT re-run (call build for that).
        """
        assert self.postings is not None, "build first"
        delta_docs = docs_from_pages(pages_delta)
        delta_postings = _with_dl(
            getattr(self, "_postings_fn", build_postings)(delta_docs)
        )
        # replaced ids come from the DOCS in the delta, not its postings:
        # a re-crawled page whose new text yields zero postings (emptied
        # page) must still purge its old postings + doc_stats entry
        delta_ids = delta_docs.select("doc_id").distinct()
        old = self.postings
        old_doc_stats = self.doc_stats
        merged = (
            old.join(delta_ids, "doc_id", "left_anti")
            .unionByName(delta_postings.select(*old.columns))
            .persist()
        )
        self.postings = merged
        self.doc_stats = (
            merged.groupBy("doc_id", "url")
            .agg(F.sum("tf").alias("n_term_entries"))
            .persist()
        )
        self.total_documents = self.doc_stats.count()
        self._avgdl = float(
            self.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
        )
        if self.term_df is not None:
            self.term_df.unpersist()
        self.term_df = (
            merged.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .persist()
        )
        self.term_df.count()
        old.unpersist()
        if old_doc_stats is not None:
            old_doc_stats.unpersist()
        if getattr(self, "_served", None) is not None:  # serving state is stale
            self._served.unpersist()
            self._served = None
            self._dict = None
        # any blocked index read earlier may be re-saved next; its cached
        # handles (persisted doc_stats_idx, stale file listings) must not
        # outlive the merge
        self._invalidate_blocked_cache()
        return self

    def save(self, path: str) -> None:
        assert self.postings is not None, "build first"
        self.postings.write.mode("overwrite").parquet(f"{path}/postings")
        self.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
        if self.term_df is not None:
            self.term_df.write.mode("overwrite").parquet(f"{path}/term_df")
        if self.pageranks is not None:
            self.pageranks.write.mode("overwrite").parquet(f"{path}/pageranks")
        # Hadoop FS stream so metrics land next to the parquet on
        # any scheme (local, HDFS, object store), not just file://
        jvm = self.spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/build_metrics.json")
        fs = jpath.getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )
        if self.build_metrics:
            out = fs.create(jpath, True)
            out.write(bytearray(json.dumps(self.build_metrics, indent=1), "utf-8"))
            out.close()
        elif fs.exists(jpath):
            # re-saving without metrics (rebuild, merge_pages) must not
            # leave a stale sidecar describing the previous index
            fs.delete(jpath, False)

    def save_versioned(self, path: str) -> int:
        """Persist the whole index (postings, doc_stats, dictionary,
        pageranks, metrics sidecar) as ONE committed snapshot of a
        VersionedTable (sources/versioned.py — the Iceberg-contract
        stand-in): rebuilds and merges append new snapshots atomically,
        ``load_versioned(path, version=...)`` time-travels to any
        retained one. The first thing a reference user migrating a
        production pt- table needs (SURVEY §1.4 row versioning,
        kvs/RowVersioning.java:4-12). Returns the snapshot id."""
        from .sources.versioned import VersionedTable

        return VersionedTable(self.spark, path).write_snapshot_with(self.save)

    def load_versioned(self, path: str, version: int | None = None,
                       with_pageranks: bool = True) -> "SearchEngine":
        """Load a committed index snapshot (default: current)."""
        from .sources.versioned import VersionedTable

        snap = VersionedTable(self.spark, path).snapshot_dir(version)
        return self.load(snap, with_pageranks=with_pageranks)

    def save_bucketed(self, name: str, path: str, buckets: int = 64) -> None:
        """Persist postings + doc_stats as BUCKETED tables hash-
        clustered on doc_id (``bucketBy`` -> Spark's bucketing catalog
        metadata; data files land under ``path``). Both sides carry the
        same bucket count on the same key, so doc-keyed joins between
        them — doc-stats enrichment, MERGE-style reconciliation — read
        bucket-to-bucket with NO shuffle exchange: at 10^12 docs the
        exchange this removes is the dominant cost of every doc-keyed
        operation. (The blocked layout
        stays the serving path; bucketing is the BUILD-side co-location
        story, exactly the "pre-partition the fact tables" discipline a
        warehouse uses.) Tables register as {name}_postings /
        {name}_doc_stats in the session catalog."""
        assert self.postings is not None, "build first"
        (
            self.postings.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .option("path", f"{path}/postings_bucketed")
            .saveAsTable(f"{name}_postings")
        )
        (
            self.doc_stats.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .option("path", f"{path}/doc_stats_bucketed")
            .saveAsTable(f"{name}_doc_stats")
        )

    def bucketed_scoring_relation(self, name: str) -> DataFrame:
        """(term, doc_id, url, tf, n_term_entries) joined bucket-to-
        bucket from the save_bucketed tables — the exchange-free join
        (tests assert the physical plan has no shuffle on doc_id)."""
        p = self.spark.table(f"{name}_postings")
        d = self.spark.table(f"{name}_doc_stats").select("doc_id", "n_term_entries")
        return p.join(d, "doc_id")

    # -- blocked (compressed, term-bucket-partitioned) layout ---------------

    def save_blocked(self, path: str) -> None:
        """Persist the compressed blocked index, hive-partitioned by a
        hash bucket of the term: a query's term filter becomes
        *partition pruning* at the scan, so only the query terms'
        buckets are read.

        The bucket count comes from the data: one bucket per input split
        (spark.sql.files.maxPartitionBytes, the size the reader packs
        files by) of block array bytes (BLOCK_BYTES), at least 1 and at
        most TERM_BUCKETS, and each bucket is written as one file. A small
        shard is one blocks file; a large one keeps TERM_BUCKETS-way
        pruning, and the reader splits an oversized bucket file by row
        group. ``meta`` records the count (``term_buckets``) and the
        doc-index span per block (``block_span``)."""
        assert self.postings is not None, "build first"
        # re-saving over a previously-queried path must drop its cached
        # handles, or later queries serve stale results / dead file lists
        self._invalidate_blocked_cache(path)
        # doc_index in URL order: score ties then break identically on
        # doc_index and url, so the join-free top-k (url looked up only
        # for the k winners) is exactly the url-tiebroken result
        idx = assign_doc_indexes(
            self.postings.select("doc_id", "url").distinct(), order_col="url"
        )
        blocks = block_postings(
            self.postings.join(F.broadcast(idx), "doc_id")
        ).persist()
        try:
            block_bytes = blocks.agg(F.sum(F.expr(BLOCK_BYTES))).collect()[0][0] or 0
            split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            term_buckets = max(1, min(-(-block_bytes // split), TERM_BUCKETS))
            bucket = F.pmod(F.xxhash64("term"), F.lit(term_buckets))
            (
                blocks.withColumn("term_bucket", bucket)
                .repartition(term_buckets, "term_bucket")
                .sortWithinPartitions("term_bucket", "term", "block_id")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(f"{path}/blocks")
            )
            # per-term dictionary (df + max_tf from block metadata):
            # queries resolve term stats driver-side instead of scanning
            # block metadata per query (RankerStarter.java:38-42 keeps
            # the same state in RAM)
            (
                blocks.groupBy("term")
                .agg(F.sum("n_docs").alias("df"), F.max("max_tf").alias("max_tf"))
                .withColumn("bucket", bucket)
                .repartition(1)
                .write.mode("overwrite")
                .parquet(f"{path}/term_stats")
            )
        finally:
            blocks.unpersist()
        # tiny meta sidecar: corpus stats precomputed at build time so a
        # cold query skips the count + agg jobs over doc_stats entirely
        stats = self.doc_stats.agg(
            F.count(F.lit(1)).alias("total_documents"),
            F.avg("n_term_entries").alias("avgdl"),
            F.min("n_term_entries").alias("min_dl"),
        )
        row = stats.collect()[0]
        (
            self.doc_stats.join(F.broadcast(idx.drop("url")), "doc_id")
            .select("doc_index", "url", "n_term_entries")
            .coalesce(_dimension_parts(row["total_documents"]))
            .write.mode("overwrite")
            .parquet(f"{path}/doc_stats_idx")
        )
        self.spark.createDataFrame(
            [(*row, term_buckets, BLOCK_SPAN)],
            StructType(stats.schema.fields + [
                StructField("term_buckets", IntegerType()),
                StructField("block_span", IntegerType()),
            ]),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    def _invalidate_blocked_cache(self, index_path: str | None = None) -> None:
        """Drop cached blocked-index handles and url dicts (one path, or
        all when ``index_path`` is None), unpersisting their doc_stats
        dimension, plus every deployment that includes them."""
        with self._blocked_lock:
            for key in [index_path] if index_path is not None else list(self._blocked_cache):
                shard = self._blocked_cache.pop(key, None)
                if shard is not None:
                    shard.doc_stats_idx.unpersist()
                self._blocked_url_dicts.pop(key, None)
            self._deployments = {
                paths: dep for paths, dep in self._deployments.items()
                if index_path is not None and index_path not in paths
            }

    def _blocked_handles(self, index_path: str) -> Shard:
        """Per-path blocked-index handles, opened once: the blocks scan
        (lazy; term_bucket pruning applies per query), the cached
        doc-stats dimension, its count and dl stats, and the dictionary.
        The old per-query re-read + count() cost two extra jobs per query
        and dominated cold CLI latency."""
        with self._blocked_lock:
            if index_path not in self._blocked_cache:
                self._blocked_cache[index_path] = self._open_blocked(index_path)
            return self._blocked_cache[index_path]

    def _open_blocked(self, index_path: str) -> Shard:
        blocks = self.spark.read.parquet(f"{index_path}/blocks")
        gaps = self._layout_gaps(index_path, blocks)
        if gaps:
            raise ValueError(
                f"{index_path} is not a blocked index of the current layout: "
                f"it lacks {', '.join(gaps)}. Rebuild it with "
                "SearchEngine.save_blocked."
            )
        total, stats, term_stats, block_span = self._read_sidecars(index_path)
        doc_stats_idx = (
            self.spark.read.parquet(f"{index_path}/doc_stats_idx")
            .coalesce(_dimension_parts(total))
            .persist()
        )
        return Shard(blocks, doc_stats_idx, total, stats, term_stats, block_span)

    def _layout_gaps(self, index_path: str, blocks: DataFrame) -> list:
        """What ``index_path`` lacks of the one blocked layout
        save_blocked writes: a block array (``pos`` included: an index
        of the old varint-blob layout lacks it), the meta or
        term_stats sidecar, meta's bucket count or block span, or
        term_stats' bucket column. Empty for a current index; the read
        path refuses any other and fsck reports it."""
        gaps = [
            f"blocks.{c}" for c in ("doc_offs", "tfs", "dls", "pos", "span")
            if c not in blocks.columns
        ]
        for name, needed in (
            ("meta", ("term_buckets", "block_span")), ("term_stats", ("bucket",))
        ):
            cols = self._sidecar_columns(index_path, name)
            if cols is None:
                gaps.append(name)
            else:
                gaps += [f"{name}.{c}" for c in needed if c not in cols]
        return gaps

    def _sidecar_columns(self, index_path: str, name: str) -> list | None:
        """Column names of a sidecar table (a footer read; no Spark job on
        local paths), or None when it is absent."""
        local = _local_path(index_path)
        try:
            if local is None:
                return self.spark.read.parquet(f"{index_path}/{name}").columns
            import pyarrow.dataset as ds

            return ds.dataset(f"{local}/{name}", format="parquet").schema.names
        except _MISSING_SIDECAR:
            return None

    def _sidecar_rows(self, index_path: str, name: str, terms=None, cap=None):
        """Rows (dicts) of a small sidecar table: pyarrow on local paths
        (zero Spark jobs on the query path), a Spark read on s3/hdfs.
        ``terms`` keeps only those terms' rows; with ``cap``, a table
        holding more rows returns None."""
        local = _local_path(index_path)
        if local is None:
            df = self.spark.read.parquet(f"{index_path}/{name}")
            if terms is not None:
                df = df.where(F.col("term").isin(list(terms)))
            rows = [r.asDict() for r in (df.take(cap + 1) if cap else df.collect())]
        else:
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                f"{local}/{name}",
                filters=[("term", "in", list(terms))] if terms is not None else None,
            )
            if cap and tbl.num_rows > cap:
                return None
            rows = tbl.to_pylist()
        return None if cap and len(rows) > cap else rows

    @staticmethod
    def _dictionary(rows) -> dict:
        """term_stats rows -> {term: (df, max_tf, bucket)}."""
        return {
            r["term"]: (int(r["df"]), int(r["max_tf"]), int(r["bucket"]))
            for r in rows
        }

    def _read_sidecars(self, index_path: str):
        """(total, (avgdl, min_dl), dictionary, block_span) from the tiny
        meta and term_stats sidecars; the dictionary is None over
        DICT_CAP (queries then read just their terms' rows,
        ``_shard_terms``)."""
        m = self._sidecar_rows(index_path, "meta")[0]
        rows = self._sidecar_rows(index_path, "term_stats", cap=self.DICT_CAP)
        return (
            int(m["total_documents"]),
            (float(m["avgdl"] or 1.0), float(m["min_dl"] or 1.0)),
            None if rows is None else self._dictionary(rows),
            int(m["block_span"]),
        )

    def _shard_terms(self, index_path: str, shard: Shard, terms: list) -> dict:
        """{term: (df, max_tf, bucket)} for the ``terms`` one index holds:
        from its driver-side dictionary, else (over DICT_CAP) from only
        those terms' rows of the term_stats sidecar."""
        if shard.term_stats is not None:
            return {t: shard.term_stats[t] for t in terms if t in shard.term_stats}
        if not terms:
            return {}
        return self._dictionary(
            self._sidecar_rows(index_path, "term_stats", terms=terms)
        )

    def _shard_scan(self, shard: Shard, info: dict) -> DataFrame:
        """The blocks of the terms in ``info`` (``_shard_terms`` output),
        pruned to their term_bucket partitions — the term filter becomes
        partition pruning before any decode. The predicate is a SQL
        string, one py4j call where the Column chain took ~40; the
        term_bucket column stays, as every reader selects its columns."""
        if not info:
            return shard.blocks.limit(0)
        buckets = ", ".join(str(b) for b in sorted({v[2] for v in info.values()}))
        return shard.blocks.where(f"term_bucket IN ({buckets})")

    def _exchange_parts(self, shard: Shard) -> int:
        """Partitions for a per-shard query's per-doc aggregation (BM25's
        and the positional text's): the number of block groups the shard
        can hold — its doc count over its recorded block span — capped
        at spark.sql.shuffle.partitions. One partition for a shard of
        one block group (the serving default of 8 would schedule 7 empty
        reduce tasks), which wand.exchange_hint turns into a coalesce,
        so the query runs in one stage."""
        cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return max(1, min(cap, -(-shard.total // shard.block_span)))

    URL_DICT_CAP = 250_000  # max forward-index entries held driver-side

    def _blocked_url_dict(self, index_path: str) -> dict | None:
        """Driver-side {doc_index: url} forward index for a blocked
        layout, built once per path from the cached doc-stats dimension
        when the corpus fits URL_DICT_CAP. This is the sandbox stand-in
        for the reference's post-ranking KVS doc-store lookup
        (Ranker.java resolves urls per ranked doc id): resolving the k
        winners' urls driver-side saves the broadcast-exchange +
        lookup-join jobs on the latency path. Beyond the cap the
        distributed join path runs unchanged."""
        with self._blocked_lock:
            dicts = self._blocked_url_dicts
            if index_path not in dicts:
                shard = self._blocked_handles(index_path)
                dicts[index_path] = (
                    {
                        r["doc_index"]: r["url"]
                        for r in shard.doc_stats_idx.select("doc_index", "url").collect()
                    }
                    if shard.total <= self.URL_DICT_CAP
                    else None
                )
            return dicts[index_path]

    def _deployment(self, index_paths) -> Deployment:
        key = tuple(index_paths)
        with self._blocked_lock:
            if key not in self._deployments:
                self._deployments[key] = Deployment(self, key)
            return self._deployments[key]

    def _scatter(self, fn, items) -> list:
        """[fn(item) for item in items], run concurrently — Spark schedules
        jobs from many threads, so fan-out latency is the slowest item,
        not the sum. Pool threads inherit the caller's JVM local
        properties (job group, description) and session tags, so
        job-group pins and cancellation cover every shard's jobs. Each
        item is wrapped on its own: a wrapper carries one copy of the
        properties, and threads sharing it would also share the SQL
        execution ids Spark writes there. One item runs inline."""
        items = list(items)
        if len(items) == 1:
            return [fn(items[0])]
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=min(8, len(items))) as ex:
            futures = [
                ex.submit(inheritable_thread_target(self.spark)(fn), item)
                for item in items
            ]
            return [f.result() for f in futures]

    def _merge(self, dep: Deployment, shard_rows, k: int | None = None) -> list:
        """Scatter ``shard_rows(i) -> [(url, value)]`` over the shards and
        merge: a url a later shard owns is masked, a later shard wins a
        url collision, rows order by (value desc, url) — the single-index
        tie-break — and the top ``k`` (all when None) return as a list."""
        per_url: dict = {}
        if dep.n:
            for i, rows in enumerate(self._scatter(shard_rows, range(len(dep.paths)))):
                for url, v in rows:
                    if url not in dep.masked[i]:
                        per_url[url] = v
        return sorted(per_url.items(), key=lambda x: (-x[1], x[0]))[:k]

    def _federate(self, dep: Deployment, shard_rows, k: int | None = None,
                  value_col: str = "score", value_type: str = "double") -> DataFrame:
        """``_merge``'s rows as a VALUES relation whose collect is zero
        jobs: the public entry points' result."""
        return _local_result_df(
            self.spark, self._merge(dep, shard_rows, k),
            f"url string, {value_col} {value_type}",
        )

    def search_bm25_blocked(
        self,
        index_path: str,
        query: str,
        k: int = 10,
        required: list | None = None,
        excluded: list | None = None,
    ) -> DataFrame:
        """BM25 top-k off one blocked index (a one-shard deployment)."""
        return self.search_bm25_sharded(
            [index_path], query, k=k, required=required, excluded=excluded
        )

    def search_bm25_threshold_blocked(
        self, index_path: str, query: str, threshold: float
    ) -> DataFrame:
        """Every document of one blocked index scoring >= ``threshold``."""
        return self.search_bm25_threshold_sharded([index_path], query, threshold)

    def search_hybrid_rrf(
        self,
        index_path: str,
        query: str,
        emb: DataFrame,
        query_vec,
        k: int = 10,
        pool: int = 50,
        rrf_k: int = 60,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Hybrid lexical+vector retrieval via reciprocal-rank fusion
        (catalog_text.hybrid_search_rrf is the oracle-checked
        relational twin): the blocked-index BM25 top-``pool`` and the
        brute-cosine top-``pool`` over ``emb`` (ids must share the url
        namespace) are fused driver-side with
        rrf = sum 1/(rrf_k + rank), ties broken by url.

        Serving shape: two independent retriever jobs, each one SQL text
        and one collect — the lexical side's per-shard BM25 text
        (wand.bm25_sql), the vector side's cosine text
        (simsearch.cosine_topk; the ANN index at scale) — then a
        2*pool-row Python merge returning a VALUES LocalTableScan (zero
        extra jobs). The fusion cost is O(pool), independent of corpus
        size.

        ``index_path`` may be a LIST of blocked shard dirs: the lexical
        retriever then federates through ``_bm25_rows`` (the merged
        shard rows search_bm25_sharded wraps, fused as they are) and
        fusion is unchanged — hybrid search over a sharded deployment.
        The two retrievers run concurrently (``_scatter``), so request
        latency is the slower retriever, not the sum."""
        from .analytics.simsearch import cosine_topk

        paths = list(index_path) if isinstance(index_path, (list, tuple)) else [index_path]

        def _lexical():
            return self._bm25_rows(paths, query, pool)

        def _vector():
            return cosine_topk(
                emb, query_vec, k=pool, id_col=id_col, vec_col=vec_col
            ).collect()

        bm_rows, cs_rows = self._scatter(lambda retrieve: retrieve(), [_lexical, _vector])
        ranks: dict = {}
        for i, (url, _score) in enumerate(bm_rows):
            ranks[url] = [i + 1, 0]
        for i, r in enumerate(cs_rows):
            ranks.setdefault(str(r[id_col]), [0, 0])[1] = i + 1
        fused = []
        for url, (br, cr) in ranks.items():
            rrf = (1.0 / (rrf_k + br) if br else 0.0) + (
                1.0 / (rrf_k + cr) if cr else 0.0
            )
            fused.append((url, br, cr, rrf))
        fused.sort(key=lambda t: (-t[3], t[0]))
        return _local_result_df(
            self.spark, fused[:k], "url string, bm25_rnk int, cos_rnk int, rrf double"
        )

    def search_bm25_sharded(
        self,
        index_paths: list,
        query: str,
        k: int = 10,
        required: list | None = None,
        excluded: list | None = None,
    ) -> DataFrame:
        """BM25 top-k over a deployment of blocked indexes (one path is a
        single index). Each shard runs wand.blocked_maxscore_topk under
        the deployment's global N/avgdl/df, and the shard winners merge
        by (score desc, url), row-identical to one index over the union
        corpus (pinned by test). Cost: one scoring job per shard,
        concurrently, plus a k*shards driver merge. Each shard job is
        one SQL text (wand.bm25_sql over wand.entries_sql) whose
        aggregation is sized to the shard (``_exchange_parts``), and its
        rows reach the merge as tuples straight from that job's collect.

        ``required``/``excluded``: `+term -term` filters. Doc membership
        is shard-local, so applying them per shard is exact: a required
        term absent from a shard empties it, an absent excluded term is
        dropped (as on the served path)."""
        return _local_result_df(
            self.spark, self._bm25_rows(index_paths, query, k, required, excluded)
        )

    def _bm25_rows(self, index_paths: list, query: str, k: int,
                   required: list | None = None, excluded: list | None = None) -> list:
        """search_bm25_sharded's merged top-k as (url, score) tuples."""
        words = sorted({w.lower() for w in expand_query(query)})
        req = [w.lower() for w in (required or [])]
        exc = [w.lower() for w in (excluded or [])]
        dep = self._deployment(index_paths)
        infos, df = dep.lookup(words + req + exc)

        def shard(i):
            info, s, lookup = infos[i], dep.shards[i], dep.url_lookups[i]
            gts = {w: (df[w],) + info[w][1:] for w in words if w in info}
            if not gts or any(w not in info for w in req):
                return []
            part = blocked_maxscore_topk(
                self.spark, query, self._shard_scan(s, info), s.doc_stats_idx,
                dep.n, k=k + dep.extra[i], doc_stats_agg=(dep.avgdl, s.stats[1]),
                term_stats=gts, url_lookup=lookup, required=req,
                excluded=[w for w in exc if w in info],
                partitions=self._exchange_parts(s),
            )
            return topk_rows(part.collect(), lookup)

        return self._merge(dep, shard, k)

    def promote_stream_index(self, store_dir: str, out_path: str) -> None:
        """Promote a Structured-Streaming incremental index store
        (streaming/index_stream.incremental_index appends, newest per
        (term, doc_id) wins) to a full blocked SERVING index — the
        hand-off that closes the continuous-ingestion loop: stream WARC
        batches in all day, compact-and-promote on a schedule, swap the
        serving path to the new directory (or commit it as a
        versioned-table snapshot). The store's postings already carry
        url/tf/positions/dl from the micro-batch tokenize, so promotion
        is exactly the batch pipeline minus tokenize: latest-wins
        compaction, global doc renumbering, re-block, sidecars. Every
        query path (BM25/phrase/proximity/threshold/sharded) serves the
        result."""
        from .streaming.index_stream import compact_index

        postings = compact_index(self.spark, store_dir)
        promoted = SearchEngine(self.spark)
        promoted.postings = _with_dl(postings)
        promoted.doc_stats = postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        promoted.save_blocked(out_path)
        self._invalidate_blocked_cache(out_path)

    def merge_blocked_shards(self, shard_paths: list, out_path: str) -> None:
        """Segment merge: combine independently built blocked indexes
        into one, WITHOUT re-tokenizing — the Lucene-style background
        compaction a sharded 100 TB deployment runs to keep shard
        counts bounded (tokenize/stem is the expensive pass; a merge
        is explode -> renumber -> re-block). Later shards take
        precedence per url (merge_pages semantics), so merging a base
        shard with a fresher delta shard is an index update.

        Plan shape: each shard's blocks explode back to postings
        (compression.unblock_postings, in codegen), re-keyed to urls
        through the shard's doc-stats dimension (broadcastable), the
        union renumbers doc_indexes globally (the two-phase numbering,
        url order) and re-blocks — every step is the build pipeline
        minus tokenize. The merged index is
        byte-compatible with save_blocked output (same sidecars), so
        every query path including search_bm25_sharded serves it."""
        from .compression import unblock_postings

        parts = []
        for p in shard_paths:
            shard = self._blocked_handles(p)
            dsi = shard.doc_stats_idx
            post = (
                unblock_postings(shard.blocks.drop("term_bucket"))
                .join(dsi, "doc_index")
                .select(
                    F.col("url").alias("doc_id"),
                    "url",
                    "term",
                    "tf",
                    "positions",
                    F.col("n_term_entries").alias("dl"),
                )
            )
            parts.append((post, dsi.select("url", "n_term_entries")))
        combined, docs = parts[0]
        for post, d in parts[1:]:
            newer = d.select("url")
            combined = combined.join(newer, "url", "left_anti").unionByName(post)
            docs = docs.join(newer, "url", "left_anti").unionByName(d)
        merged = SearchEngine(self.spark)
        merged.postings = combined
        merged.doc_stats = docs.select(
            F.col("url").alias("doc_id"), "url", "n_term_entries"
        )
        merged.save_blocked(out_path)
        self._invalidate_blocked_cache(out_path)

    def search_phrase_sharded(
        self, index_paths: list, phrase: str, k: int = 10
    ) -> DataFrame:
        """Exact positional phrase counts (wand.blocked_phrase_topk) over
        a deployment, ranked by (n_occurrences desc, url)."""
        words = [w.lower() for w in phrase.split() if w]
        return self._positional(
            index_paths, words, k, "n_occurrences",
            lambda blocks, dsi, kk, lookup, parts: blocked_phrase_topk(
                self.spark, phrase, blocks, dsi, k=kk, url_lookup=lookup,
                partitions=parts,
            ),
        )

    def search_proximity_sharded(
        self, index_paths: list, terms: list, window: int = 5, k: int = 10
    ) -> DataFrame:
        """Proximity query (all ``terms`` within ``window`` tokens of each
        anchor occurrence of ``terms[0]``, wand.blocked_proximity_topk)
        over a deployment, ranked by (n_matches desc, url)."""
        words = [w.lower() for w in terms if w]
        return self._positional(
            index_paths, words, k, "n_matches",
            lambda blocks, dsi, kk, lookup, parts: blocked_proximity_topk(
                self.spark, words, window, blocks, dsi, k=kk, url_lookup=lookup,
                partitions=parts,
            ),
        )

    def _positional(self, index_paths, words, k, value_col, topk) -> DataFrame:
        """Positional counts need no collection stats, so federation is a
        plain scatter-gather of ``topk(blocks, doc_stats_idx, k, url
        lookup, partitions)`` per shard: one job each (one SQL text,
        wand.positional_sql), its aggregation sized to the shard. A
        shard missing any query word contributes nothing, with zero
        jobs."""
        dep = self._deployment(index_paths)
        infos, _df = dep.lookup(words)

        def shard(i):
            if not words or len(infos[i]) < len(set(words)):
                return []
            s, lookup = dep.shards[i], dep.url_lookups[i]
            part = topk(
                self._shard_scan(s, infos[i]), s.doc_stats_idx, k + dep.extra[i],
                lookup, self._exchange_parts(s),
            )
            return topk_rows(part.collect(), lookup)

        return self._federate(dep, shard, k, value_col, "bigint")

    def search_bm25_threshold_sharded(
        self, index_paths: list, query: str, threshold: float
    ) -> DataFrame:
        """Every document scoring >= ``threshold`` (rounded BM25) over a
        deployment — the alerting form of search: per shard,
        wand.blocked_maxscore_threshold (the top-k's one SQL text cut by
        rounded score, one job) with the global df/N/avgdl injected from
        the deployment's dictionary (no per-query metadata job), then the
        union (no k to merge)."""
        words = sorted({w.lower() for w in expand_query(query)})
        dep = self._deployment(index_paths)
        infos, df = dep.lookup(words)

        def shard(i):
            info = infos[i]
            if not info:
                return []
            part = blocked_maxscore_threshold(
                self.spark, query, self._shard_scan(dep.shards[i], info),
                dep.shards[i].doc_stats_idx, dep.n, threshold=threshold,
                doc_stats_agg=(dep.avgdl, dep.shards[i].stats[1]),
                term_stats={t: (df[t],) + v[1:] for t, v in info.items()},
            )
            return [(r["url"], float(r["score"])) for r in part.collect()]

        return self._federate(dep, shard)

    def search_phrase_blocked(self, index_path: str, phrase: str, k: int = 10) -> DataFrame:
        """Exact phrase counts off one blocked index (a one-shard deployment)."""
        return self.search_phrase_sharded([index_path], phrase, k=k)

    def search_proximity_blocked(
        self, index_path: str, terms: list, window: int = 5, k: int = 10
    ) -> DataFrame:
        """Proximity query off one blocked index (a one-shard deployment)."""
        return self.search_proximity_sharded([index_path], terms, window=window, k=k)

    def index_stats(self, index_path: str) -> dict:
        """Observability over a blocked index: size/shape numbers from
        block metadata and array sizes (``compressed_bytes`` is the
        blocks' BLOCK_BYTES, the measure save_blocked sizes its buckets
        by) — one aggregation over the pruned columns plus the
        driver-side sidecars. Reports per-term-bucket posting
        distribution so skew is visible."""
        shard = self._blocked_handles(index_path)
        blocks, total, term_stats = shard.blocks, shard.total, shard.term_stats
        agg = blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("n_docs").alias("n_postings"),
            F.sum(F.expr(BLOCK_BYTES)).alias("compressed_bytes"),
            F.max("n_docs").alias("max_block_docs"),
        ).collect()[0]
        per_bucket = (
            blocks.groupBy("term_bucket")
            .agg(F.sum("n_docs").alias("postings"))
            .collect()
        )
        buckets = sorted(int(r["postings"]) for r in per_bucket)
        n_post = int(agg["n_postings"] or 0)
        return {
            "total_documents": total,
            "n_terms": int(agg["n_terms"] or 0),
            "n_blocks": int(agg["n_blocks"] or 0),
            "n_postings": n_post,
            "compressed_bytes": int(agg["compressed_bytes"] or 0),
            "bytes_per_posting": round(
                (agg["compressed_bytes"] or 0) / n_post, 3
            ) if n_post else None,
            "dictionary_terms": len(term_stats) if term_stats else None,
            "buckets": {
                "count": len(buckets),
                "min_postings": buckets[0] if buckets else 0,
                "max_postings": buckets[-1] if buckets else 0,
                "skew_ratio": round(
                    buckets[-1] / max(buckets[0], 1), 2
                ) if buckets else None,
            },
        }

    def fsck_blocked(self, index_path: str, deep: bool = False) -> dict:
        """Integrity check (fsck) over a blocked index: every invariant
        the serving path relies on, verified DISTRIBUTED (violation
        counts via aggregations — no driver-side row loops, so the
        check scales with the index like any other job):

        - block shape: n_docs == len(doc_offs) == len(tfs), offsets
          strictly increasing and < span, span == meta.block_span,
          max_tf == max(tfs);
        - partition layout: term_bucket matches pmod(xxhash64(term),
          meta.term_buckets);
        - term_stats sidecar agrees with block metadata (df, max_tf)
          and its bucket with meta.term_buckets (the partition a query
          reads for the term);
        - doc_stats_idx doc_index is dense 0..N-1 and every doc a block
          references exists;
        - meta sidecar totals match doc_stats_idx;
        - with ``deep=True``, ``bad_positions``: blocks whose ``pos``
          does not hold one list per doc, or holds a list that is not
          strictly ascending, or a non-empty list whose length is not
          the doc's tf (positionless builds write empty lists).

        An index of another layout (``_layout_gaps``) reports only
        ``bad_layout`` (the count of missing parts, named in
        ``missing``): the other checks read those parts.

        Returns {"ok": bool, "checks": {name: violation_count}, ...}.
        """
        spark = self.spark
        blocks = spark.read.parquet(f"{index_path}/blocks")
        gaps = self._layout_gaps(index_path, blocks)
        if gaps:
            return {
                "ok": False, "n_blocks": None, "total_documents": None,
                "deep": deep, "checks": {"bad_layout": len(gaps)}, "missing": gaps,
            }
        dsi = spark.read.parquet(f"{index_path}/doc_stats_idx")
        meta = spark.read.parquet(f"{index_path}/meta").collect()[0]

        offs_ok = F.expr(
            "size(doc_offs) = n_docs AND size(tfs) = n_docs "
            "AND array_max(tfs) = max_tf "
            "AND array_max(doc_offs) < span AND array_min(doc_offs) >= 0"
        )
        sorted_ok = F.expr(
            "doc_offs = array_sort(doc_offs) "
            "AND size(array_distinct(doc_offs)) = n_docs"
        )
        span_ok = F.col("span") == int(meta["block_span"])
        term_bucket = F.pmod(F.xxhash64("term"), F.lit(int(meta["term_buckets"])))
        bucket_ok = F.col("term_bucket") == term_bucket
        positions_ok = F.expr(
            "coalesce(size(pos) = n_docs AND forall(arrays_zip(pos, tfs), z -> "
            "z.pos = array_sort(array_distinct(z.pos)) "
            "AND (size(z.pos) = 0 OR size(z.pos) = z.tfs)), false)"
        )
        counted = {
            "bad_block_shape": ~(offs_ok & span_ok),
            "bad_doc_order": ~sorted_ok,
            "bad_term_bucket": ~bucket_ok,
            **({"bad_positions": ~positions_ok} if deep else {}),
        }
        bad = blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            *[F.sum(c.cast("int")).alias(name) for name, c in counted.items()],
        ).collect()[0]
        checks = {"bad_layout": 0, **{name: int(bad[name] or 0) for name in counted}}

        ts = spark.read.parquet(f"{index_path}/term_stats")
        from_blocks = blocks.groupBy("term").agg(
            F.sum("n_docs").alias("b_df"), F.max("max_tf").alias("b_max_tf")
        )
        checks["bad_term_stats"] = (
            ts.join(from_blocks, "term", "full_outer")
            .where(
                F.col("b_df").isNull() | F.col("df").isNull()
                | (F.col("df") != F.col("b_df"))
                | (F.col("max_tf") != F.col("b_max_tf"))
                | (F.col("bucket") != term_bucket)
            )
            .count()
        )

        d = dsi.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_index").alias("n_distinct"),
            F.min("doc_index").alias("lo"),
            F.max("doc_index").alias("hi"),
            F.avg("n_term_entries").alias("avgdl"),
        ).collect()[0]
        n = int(d["n"] or 0)
        checks["bad_doc_index_density"] = int(
            not (
                n == int(d["n_distinct"] or 0)
                and (n == 0 or (int(d["lo"]) == 0 and int(d["hi"]) == n - 1))
            )
        )
        checks["bad_meta_totals"] = int(
            int(meta["total_documents"]) != n
            or (n > 0 and abs(float(meta["avgdl"]) - float(d["avgdl"])) > 1e-9)
        )
        referenced = blocks.select(
            F.explode(F.expr("transform(doc_offs, o -> base + o)")).alias(
                "doc_index"
            )
        ).distinct()
        checks["dangling_doc_refs"] = referenced.join(
            dsi.select("doc_index"), "doc_index", "left_anti"
        ).count()

        return {
            "ok": all(v == 0 for v in checks.values()),
            "n_blocks": int(bad["n_blocks"] or 0),
            "total_documents": n,
            "deep": deep,
            "checks": checks,
        }

    def load(self, path: str, with_pageranks: bool = True) -> "SearchEngine":
        postings = self.spark.read.parquet(f"{path}/postings")
        if "dl" not in postings.columns:
            raise ValueError(
                f"{path}/postings lacks the per-doc length column dl; "
                "rebuild the index with SearchEngine.build and save"
            )
        self._loaded_path = path
        self.postings = postings.persist()
        self.doc_stats = self.spark.read.parquet(f"{path}/doc_stats").persist()
        self.total_documents = self.doc_stats.count()
        self._avgdl = float(
            self.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
        )
        try:
            self.term_df = self.spark.read.parquet(f"{path}/term_df").persist()
        except _MISSING_SIDECAR:
            self.term_df = None
        if with_pageranks:
            try:
                self.pageranks = self.spark.read.parquet(f"{path}/pageranks").persist()
            except _MISSING_SIDECAR:
                self.pageranks = None
        return self

    # -- query ------------------------------------------------------------

    def search(self, query: str, k: int | None = None) -> DataFrame:
        """Reference-identical TF-IDF x PageRank ranking (full list, or
        top-k when ``k`` is given — the reference returns the full list,
        RankerStarter.java:87-94)."""
        assert self.postings is not None, "build or load first"
        res = score_tfidf(
            self.spark, query, self.postings, self.pageranks, self.total_documents
        )
        return res.limit(k) if k else res

    def search_bm25(
        self,
        query: str,
        k: int = 10,
        analyzer=None,
    ) -> DataFrame:
        """BM25 top-k: ranker.score_bm25 with the build-time dictionary,
        one SQL text (wand.bm25_sql, the served and blocked paths'
        kernel) after one df lookup job. Every path, flat or blocked,
        aggregates every posting of the query terms.

        ``analyzer``: query-side half of the pluggable-analyzer seam —
        a ``str -> list[str]`` callable producing the same terms the
        index's postings_fn emits (e.g. functions.cjk_query_terms for
        an index built with cjk_aware_postings)."""
        assert self.postings is not None, "build or load first"
        return score_bm25(
            self.spark, query, self.postings, self.doc_stats,
            self.total_documents, avgdl=self._avgdl, term_df=self.term_df,
            terms=analyzer(query) if analyzer is not None else None,
        ).limit(k)

    def autocomplete(self, prefix: str, k: int = 10) -> DataFrame:
        """Prefix completion over the build-time term dictionary,
        ranked by document frequency — the reference loads every
        pt-index key into RAM for this (RankerStarter.java:38-42); here
        the dictionary is a persisted relation and the StartsWith
        filter pushes down to its scan."""
        assert self.term_df is not None, "build or load first"
        return (
            self.term_df.where(F.col("term").startswith(prefix.lower()))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def search_boolean(
        self, query: str, k: int = 100, ranked: bool = False
    ) -> DataFrame:
        """Boolean retrieval over the index with the full query
        language — ``a AND (b OR c) AND NOT d`` — evaluated as one
        term-filtered aggregation producing per-doc presence flags and
        one compiled filter (``_boolean_matches``). Returns (url)
        ordered by url, capped; ``ranked=True`` instead orders the
        matches by BM25 over the query's POSITIVE terms (purely negated
        terms only filter) and returns (url, score)."""
        from .functions.library import parse_boolean_query, positive_terms

        assert self.postings is not None, "build or load first"
        ast = parse_boolean_query(query)
        matched = _boolean_matches(self.postings, self.doc_stats.select("url"), "url", ast)
        pos = [
            t for t in (positive_terms(ast) if ranked else [])
            if not t.endswith("*")  # prefixes filter; BM25 ranks exact terms
        ]
        if not pos:  # unranked, or nothing rankable (pure negation)
            return matched.orderBy("url").limit(k)
        scored = score_bm25(
            self.spark, " ".join(pos), self.postings, self.doc_stats,
            self.total_documents, avgdl=self._avgdl, term_df=self.term_df,
        )
        return (
            scored.join(matched, "url", "left_semi")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def search_boolean_blocked(
        self, index_path: str, query: str, k: int = 100, ranked: bool = False
    ) -> DataFrame:
        """Boolean retrieval off one blocked index (a one-shard deployment)."""
        return self.search_boolean_sharded([index_path], query, k=k, ranked=ranked)

    def search_boolean_sharded(
        self, index_paths: list, query: str, k: int = 100,
        ranked: bool = False,
    ) -> DataFrame:
        """search_boolean's query language over a deployment of blocked
        indexes. Presence flags are shard-local, so the match set is the
        union of per-shard matches, merged by url. ``ranked=True``
        scores each shard's matches by BM25 over the positive exact
        terms under the deployment's global stats and merges by (score
        desc, url); with no positive term indexed it falls back to the
        unranked match set, like the flat path. Wildcard prefixes expand
        against each shard's driver-side dictionary, and term buckets
        prune the scan when every expansion's bucket is known.
        Row-identical to the flat path by test."""
        from .functions.library import parse_boolean_query, positive_terms

        ast = parse_boolean_query(query)
        dep = self._deployment(index_paths)
        pos = [t for t in positive_terms(ast) if not t.endswith("*")] if ranked else []
        _infos, df = dep.lookup(pos)
        if not df:
            def shard(i):
                part = self._boolean_blocked(dep, i, ast, k + dep.extra[i])
                return [(r["url"], 1) for r in part.collect()]

            return self._federate(dep, shard, k, "_one", "bigint").select("url")

        def shard_ranked(i):
            part = self._boolean_blocked(dep, i, ast, k + dep.extra[i], df=df)
            return [(r["url"], float(r["score"])) for r in part.collect()]

        return self._federate(dep, shard_ranked, k)

    def _boolean_blocked(self, dep: Deployment, i: int, ast, k: int,
                         df: dict | None = None) -> DataFrame:
        """Shard ``i``'s boolean matches: (url) ordered by url, or with
        global ``df`` supplied, (url, score) BM25-ranked over those terms
        with the deployment's N and avgdl."""
        from .compression import scoring_entries

        shard = dep.shards[i]
        terms = ast.terms()
        prefixes = [t[:-1] for t in terms if t.endswith("*")]
        if prefixes and shard.term_stats is None:
            blocks = shard.blocks.drop("term_bucket")  # expansion needs the dictionary
        else:
            words = {t for t in terms if not t.endswith("*")} | {
                w for p in prefixes for w in shard.term_stats if w.startswith(p)
            }
            blocks = self._shard_scan(
                shard, self._shard_terms(dep.paths[i], shard, sorted(words))
            )
        entries = scoring_entries(blocks)
        matched = _boolean_matches(
            entries, shard.doc_stats_idx.select("doc_index", "url"), "doc_index", ast
        )
        if df is None:
            return matched.select("url").orderBy("url").limit(k)
        scored = sql.over(blocks, lambda v: bm25_sql(
            entries_sql(v, sorted(df)), "doc_index", sorted(df),
            {t: bm25_idf(float(dep.n), d) for t, d in df.items()}, dep.avgdl,
        ))
        return (
            scored.join(matched, "doc_index")
            .select("url", "score")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def suggest(self, term: str, k: int = 3, max_dist: int = 2) -> DataFrame:
        """Did-you-mean over the build-time term dictionary: the top-k
        terms within Levenshtein ``max_dist`` of ``term``, ranked by
        (distance, df desc, term). A cheap length band prunes the
        dictionary scan before the JVM-side levenshtein; the scan is
        embarrassingly parallel, so the plan holds at a 10M-term
        vocabulary where a driver-side dictionary loop would not."""
        assert self.term_df is not None, "build or load first"
        t = term.lower()
        return (
            self.term_df.where(
                F.abs(F.length("term") - F.lit(len(t))) <= max_dist
            )
            .withColumn("dist", F.levenshtein(F.lit(t), F.col("term")))
            .where(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    # -- low-latency serving path ------------------------------------------

    DICT_CAP = 2_000_000  # max dictionary entries held driver-side

    SERVE_ROWS_PER_PARTITION = 250_000

    def enable_serving(self) -> bool:
        """Pin the serving state the reference ranker keeps in RAM
        (RankerStarter.java:29-60 loads all index keys + pageranks into
        memory): a driver-side {term: df} dictionary plus a pre-joined
        cached (term, url, tf, dl) relation. A BM25 query then compiles
        to ONE Spark job — an IN-list term filter (no join), literal
        idf map, one groupBy + partial top-k. Returns False (and stays
        on the join path) when the vocabulary exceeds DICT_CAP — at
        web scale the dictionary is sharded on the cluster instead.

        The cached relation is laid out for the query path: hash-
        clustered on term and sorted by term within partitions, so each
        in-memory columnar batch covers a narrow term range and the
        per-query IN-list filter skips whole cached batches on their
        min/max stats (spark.sql.inMemoryColumnarStorage.partitionPruning)
        instead of scanning the full corpus cache; the partition count
        is sized to ~SERVE_ROWS_PER_PARTITION rows so a small corpus
        doesn't pay 32 scheduled tasks per query for no parallelism."""
        assert self.postings is not None and self.term_df is not None
        if self.term_df.count() > self.DICT_CAP:
            return False
        self._dict = {r["term"]: int(r["df"]) for r in self.term_df.collect()}
        served = self.postings.select(
            "term", "url", "tf", F.col("dl").alias("n_term_entries")
        )
        n_rows = sum(self._dict.values())
        nparts = max(1, -(-n_rows // self.SERVE_ROWS_PER_PARTITION))
        self._served = (
            served.repartition(nparts, "term")
            .sortWithinPartitions("term")
            .persist()
        )
        self._served.count()
        return True

    def search_bm25_served(
        self,
        query: str,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        required: list | None = None,
        excluded: list | None = None,
    ) -> DataFrame:
        """Single-job BM25 top-k off the pinned serving state (score
        identical to search_bm25; property-tested).

        Serving shape: the query is ONE literal-substituted SQL text over
        the cached relation (wand.bm25_sql, the blocked path's kernel:
        idf as a literal map, every number a DOUBLE literal), so building
        it is one ``spark.sql`` call and the returned DataFrame's collect
        is the one Spark job. Its exchange keeps the session's partition
        count: a forced one-partition exchange allocated more per request
        here.

        ``required``/``excluded``: boolean filters (the `+term -term`
        syntax) — results must contain every required term and no
        excluded term. A filtered query scans the cached serving
        relation once for query ∪ required ∪ excluded terms and
        aggregates per url into the score plus presence flags (the
        blocked path's shape), so it stays one job. A required term
        absent from the dictionary short-circuits empty; an absent
        excluded term is a no-op."""
        assert getattr(self, "_served", None) is not None, "enable_serving first"
        words = sorted({w.lower() for w in expand_query(query)})
        hit = [w for w in words if w in self._dict]
        required = [w.lower() for w in (required or [])]
        excluded = [w.lower() for w in (excluded or [])]
        if any(w not in self._dict for w in required) or not hit:
            return _local_result_df(self.spark, [])
        excluded = [w for w in excluded if w in self._dict]
        n = float(self.total_documents)
        scanned = sql.quotes(sorted({*hit, *required, *excluded}))
        return sql.over(self._served, lambda v: bm25_sql(
            f"(SELECT url, term, tf, n_term_entries AS dl FROM {v} "
            f"WHERE term IN ({scanned}))",
            "url", hit, {w: bm25_idf(n, self._dict[w]) for w in hit},
            self._avgdl, k1, b, required, excluded, k=k,
        ))

    def serving_clone(self) -> "SearchEngine":
        """A SearchEngine bound to a DEDICATED serving SparkSession —
        ``spark.newSession()`` shares the SparkContext and the cache
        manager but owns its SQL conf — with the low-latency conf
        (AQE off, shuffle.partitions=8) applied once at construction.
        Request handlers use the clone directly, so nothing mutates
        session conf at query time, concurrent requests need no lock,
        and the parent session keeps its batch conf for index builds.

        State is re-bound under the serving session without caching
        anything twice: path-loaded relations are re-read (identical
        plans resolve to the parent's persisted data via the shared
        CacheManager), in-memory relations of a built-not-saved engine
        are re-bound through global temp views (the view body is the
        parent's plan; reading it from the serving session yields a
        DataFrame that EXECUTES under serving conf), and plain-Python
        sidecars (term dictionary, doc_index->url dicts) are shared by
        reference. Blocked-index handles are prewarmed for every path
        the parent had open.

        The clone is a point-in-time binding: after merge_pages /
        save_blocked on the parent, build a fresh clone."""
        serving = self.spark.newSession()
        serving.conf.set("spark.sql.adaptive.enabled", "false")
        serving.conf.set("spark.sql.shuffle.partitions", "8")
        clone = SearchEngine(serving)

        def rebind(df: DataFrame | None, name: str) -> DataFrame | None:
            if df is None:
                return None
            view = f"sg_serving_{id(self)}_{name}"
            df.createOrReplaceGlobalTempView(view)
            return serving.table(f"global_temp.{view}")

        if getattr(self, "_loaded_path", None):
            clone.load(self._loaded_path, with_pageranks=self.pageranks is not None)
        elif self.postings is not None:
            clone.postings = rebind(self.postings, "postings")
            clone.doc_stats = rebind(self.doc_stats, "doc_stats")
            clone.term_df = rebind(self.term_df, "term_df")
            clone.pageranks = rebind(self.pageranks, "pageranks")
            clone.total_documents = self.total_documents
            clone._avgdl = self._avgdl
        if getattr(self, "_served", None) is not None:
            clone._served = rebind(self._served, "served")
            clone._dict = self._dict
        for path in tuple(self._blocked_cache):
            clone._blocked_handles(path)
        clone._blocked_url_dicts = self._blocked_url_dicts
        return clone

    def low_latency(self):
        """Conf scope for interactive serving queries: disables AQE
        while the block is active (and restores the previous setting
        after). AQE re-optimizes at every shuffle boundary, which turns
        a one-shuffle top-k into multiple driver-scheduled jobs — right
        for a 100 TB batch plan, pure overhead for a sub-second query
        over a pruned candidate set (results are identical; AQE only
        changes plans). The toggle is session-scoped, so don't run
        batch builds concurrently inside the block — a production
        deployment gives the serving path its own SparkSession (conf is
        per-session, the SparkContext is shared) instead."""
        return low_latency(self.spark, shuffle_partitions=8)

    def unpersist(self) -> None:
        for df in (
            self.postings,
            self.doc_stats,
            self.term_df,
            self.pageranks,
            getattr(self, "_served", None),
        ):
            if df is not None:
                df.unpersist()
        self._invalidate_blocked_cache()


def _with_dl(postings: DataFrame) -> DataFrame:
    """``postings`` with the per-doc length ``dl``: an analyzer that
    omits it gets the doc's sum(tf), the n_term_entries doc_stats
    holds."""
    if "dl" not in postings.columns:
        postings = postings.withColumn(
            "dl", F.sum("tf").over(Window.partitionBy("doc_id")).cast("int")
        )
    return postings


def _dimension_parts(total: int) -> int:
    """Partitions for a blocked index's doc-stats dimension (~250k rows
    each): the per-query url lookup probes every cached partition, so a
    small corpus cached across 32 file-splits pays 32 scheduled tasks per
    query for no parallelism gain. save_blocked writes that many files
    and _open_blocked coalesces to it, a no-op at 10^12 docs, where the
    dimension stays fully distributed."""
    return max(1, -(-total // 250_000))


def _local_path(index_path: str) -> str | None:
    """The local filesystem path of ``index_path``, or None on s3/hdfs."""
    if "://" in index_path and not index_path.startswith("file://"):
        return None
    return index_path.removeprefix("file://")


def _boolean_matches(entries: DataFrame, docs: DataFrame, key: str, ast) -> DataFrame:
    """Rows of ``docs`` (keyed by ``key``) satisfying the boolean query
    ``ast``: one term-filtered aggregation of the (term, ``key``)
    ``entries`` into per-doc presence flags, then ONE compiled filter
    (functions.library.boolean_expr) — no per-operator set joins
    regardless of clause count. Docs matching no query term still
    evaluate, so pure negation is correct; ``foo*`` matches a prefix."""
    from .functions.library import boolean_expr

    terms = ast.terms()

    def flag(t):  # wildcard-safe flag column name
        return "has_" + t.replace("*", "_pre")

    def match(t):
        if t.endswith("*"):
            return F.col("term").startswith(t[:-1])
        return F.col("term") == t

    prefilter = match(terms[0])
    for t in terms[1:]:
        prefilter = prefilter | match(t)
    flags = entries.where(prefilter).groupBy(key).agg(
        *[F.max(match(t).cast("int")).alias(f"_m_{flag(t)}") for t in terms]
    )
    return (
        docs.join(flags, key, "left")
        .select(
            *docs.columns,
            *[
                F.coalesce(F.col(f"_m_{flag(t)}") == 1, F.lit(False)).alias(flag(t))
                for t in terms
            ],
        )
        .where(boolean_expr(ast, lambda t: F.col(flag(t))))
        .select(*docs.columns)
    )


@contextmanager
def low_latency(spark: SparkSession, shuffle_partitions: int | None = None):
    """See SearchEngine.low_latency — usable standalone around any
    interactive query's action. ``shuffle_partitions`` optionally
    right-sizes the reduce side for sub-second queries (a pruned
    candidate aggregation does not need the batch-build's partition
    count; without AQE coalescing, every empty reduce task is a
    scheduled no-op on the latency path)."""
    overrides = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    old = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
