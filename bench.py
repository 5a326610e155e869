#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "index_docs_per_sec": ..., "bm25_p50_ms": ..., "bm25_p95_ms": ...}

Headliners: the inverted-index build (docs/sec — the north-star
throughput metric), BM25/TF-IDF query latency over the built index,
and the analytics suite (TPC-H joins/aggs, dedup, cosine similarity).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from google_like_search_engine_spark.session import get_spark
from google_like_search_engine_spark import catalog as c
from google_like_search_engine_spark import catalog_text as t
from google_like_search_engine_spark.compression import (
    assign_doc_indexes,
    block_postings,
)
from google_like_search_engine_spark.indexer import build_postings
from google_like_search_engine_spark.ranker import score_bm25

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = {
    "tpch_q1": c.tpch_q1,
    "tpch_q3": c.tpch_q3,
    "tpch_q5": c.tpch_q5,
    "events_sessions": c.events_sessions,
    "wordcount": t.wordcount,
    "tfidf_search": t.tfidf_search,
    "bm25_search": t.bm25_search,
    "dedup_minhash": t.dedup_minhash,
    "cosine_scores": t.cosine_scores,
}


def timed(fn):
    start = time.perf_counter()
    out = fn()
    return time.perf_counter() - start, out


def _collect_low_latency(eng, build_df):
    with eng.low_latency():
        return build_df().collect()


def main():
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    results = {}
    for name, fn in BENCH_QUERIES.items():
        # best of 2: the first run pays page-cache/parquet-footer warmup,
        # which otherwise dominates small-SF timings
        dts = [timed(lambda: fn(spark, SF_DIR).collect())[0] for _ in range(2)]
        results[name] = round(min(dts), 3)

    # --- index build throughput (docs/sec) over the documents table ---
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("doc_id").cast("string").alias("url"),
            "text",
        )
    )
    n_docs = docs.count()

    def _build():
        # single-pass production pipeline: tokenize -> doc-index join ->
        # (term, doc-range-block) exchange -> columnar posting blocks
        d = docs.repartition(CPUS * 2)
        flat = build_postings(d)
        idx = assign_doc_indexes(d)
        block_postings(flat.join(F.broadcast(idx), "doc_id")).write.mode(
            "overwrite"
        ).parquet("/tmp/bench_blocks")

    dt_build = min(timed(_build)[0] for _ in range(2))
    results["index_build"] = round(dt_build, 3)
    docs_per_sec = n_docs / dt_build if dt_build else 0.0

    # --- WARC ingestion throughput (Common-Crawl-style source) ---
    # fixed-size deterministic archive corpus, generated once and
    # reused across runs; measures read->parse->extract->postings
    from google_like_search_engine_spark.corpus import (
        fixture_dictionary,
        generate_pages,
    )
    from google_like_search_engine_spark.indexer import docs_from_pages
    from google_like_search_engine_spark.sources.warc import (
        warc_to_pages,
        write_warc,
    )

    n_warc = 2000
    warc_dir = f"/tmp/bench_warc_{n_warc}"
    if not os.path.isdir(warc_dir):
        write_warc(generate_pages(spark, n_warc, partitions=CPUS), warc_dir)

    def _ingest():
        pages = warc_to_pages(spark, warc_dir, fixture_dictionary())
        return build_postings(docs_from_pages(pages)).count()

    dt_warc = min(timed(_ingest)[0] for _ in range(2))
    warc_docs_per_sec = n_warc / dt_warc if dt_warc else 0.0

    # --- BM25 query latency over the built flat postings ---
    postings = build_postings(docs).cache()
    postings.count()
    doc_stats = (
        postings.groupBy("doc_id", "url")
        .agg(F.sum("tf").alias("n_term_entries"))
        .cache()
    )
    doc_stats.count()
    avgdl = float(
        doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
    )
    term_df = (
        postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df")).cache()
    )
    term_df.count()
    qset = [
        "spark shuffle", "index merge", "window stream", "table scan",
        "hash join", "sort order", "query batch", "row value part",
        "fast slow", "key agg",
    ]
    # one untimed warm-up (python-worker spin-up, broadcast machinery)
    score_bm25(
        spark, "warm up", postings, doc_stats, n_docs, avgdl=avgdl, term_df=term_df
    ).limit(10).collect()
    lat = []
    for q in qset:
        dt, _ = timed(
            lambda q=q: score_bm25(
                spark, q, postings, doc_stats, n_docs, avgdl=avgdl, term_df=term_df
            ).limit(10).collect()
        )
        lat.append(dt * 1000)

    # serving path: driver-resident dictionary -> single-job queries
    from google_like_search_engine_spark.engine import SearchEngine

    eng = SearchEngine(spark)
    eng.postings, eng.doc_stats, eng.term_df = postings, doc_stats, term_df
    eng.total_documents, eng._avgdl = n_docs, avgdl
    lat_served = []
    if eng.enable_serving():
        eng.search_bm25_served("warm up").collect()
        for q in qset:
            dt, _ = timed(lambda q=q: eng.search_bm25_served(q, k=10).collect())
            lat_served.append(dt * 1000)
    # concurrent serving throughput: requests overlap on a dedicated
    # serving session (no shared-conf lock), the way the HTTP server
    # runs them — sequential p50/p95 above, aggregate qps here
    served_concurrent_qps = None
    if lat_served:
        from concurrent.futures import ThreadPoolExecutor

        clone = eng.serving_clone()
        clone.search_bm25_served("warm up").collect()
        reqs = [q for q in qset for _ in range(4)]
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=4) as ex:
            list(
                ex.map(
                    lambda q: clone.search_bm25_served(q, k=10).collect(), reqs
                )
            )
        served_concurrent_qps = round(len(reqs) / (time.perf_counter() - t0), 1)

    # blocked on-disk serving layout: build once, then query latency
    # through the sidecar-dictionary single-job path
    eng.save_blocked("/tmp/bench_blocked")
    eng.search_bm25_blocked("/tmp/bench_blocked", "warm up", k=10).collect()
    eng.search_bm25_blocked("/tmp/bench_blocked", qset[0], k=10).collect()
    lat_blocked = []
    for q in qset:
        # the serving conf scope (AQE off, right-sized reduces): what an
        # interactive deployment runs; results are plan-identical
        dt, _ = timed(
            lambda q=q: _collect_low_latency(
                eng, lambda: eng.search_bm25_blocked("/tmp/bench_blocked", q, k=10)
            )
        )
        lat_blocked.append(dt * 1000)

    # hybrid RRF serving: blocked BM25 pool + brute-cosine pool over the
    # testdata embeddings (vec_id shares the doc_id/url namespace) +
    # driver-side fusion — the two-retriever request shape
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).cache()
    emb.count()
    qv = emb.where(F.col("vec_id") == 100).select("embedding").collect()[0][0]
    eng.search_hybrid_rrf(
        "/tmp/bench_blocked", "warm up", emb, qv, k=10
    ).collect()
    lat_hybrid = []
    for q in qset:
        dt, _ = timed(
            lambda q=q: _collect_low_latency(
                eng,
                lambda: eng.search_hybrid_rrf(
                    "/tmp/bench_blocked", q, emb, qv, k=10
                ),
            )
        )
        lat_hybrid.append(dt * 1000)
    emb.unpersist()

    postings.unpersist()
    doc_stats.unpersist()
    term_df.unpersist()
    eng.unpersist()

    total = round(sum(results.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": results,
                "sf": sf,
                "cpus": CPUS,
                "n_docs": n_docs,
                "index_docs_per_sec": round(docs_per_sec, 1),
                "warc_ingest_docs_per_sec": round(warc_docs_per_sec, 1),
                "bm25_p50_ms": round(statistics.median(lat), 1),
                "bm25_p95_ms": round(
                    sorted(lat)[max(0, int(len(lat) * 0.95) - 1)], 1
                ),
                "bm25_served_p50_ms": round(statistics.median(lat_served), 1)
                if lat_served else None,
                "bm25_served_p95_ms": round(
                    sorted(lat_served)[max(0, int(len(lat_served) * 0.95) - 1)], 1
                )
                if lat_served else None,
                "served_concurrent_qps": served_concurrent_qps,
                "hybrid_p50_ms": round(statistics.median(lat_hybrid), 1),
                "hybrid_p95_ms": round(
                    sorted(lat_hybrid)[max(0, int(len(lat_hybrid) * 0.95) - 1)], 1
                ),
                "bm25_blocked_p50_ms": round(statistics.median(lat_blocked), 1),
                "bm25_blocked_p95_ms": round(
                    sorted(lat_blocked)[max(0, int(len(lat_blocked) * 0.95) - 1)], 1
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
