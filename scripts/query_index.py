#!/usr/bin/env python
"""spark-submit entry point: query a built index.

  python scripts/query_index.py --index /path/to/index \
      --query "apples figs" [--scorer tfidf|bm25|bm25-blocked|
                             bm25-threshold|phrase|proximity|hybrid]
      [-k 10] [--threshold 1.5] [--window 5]

phrase / proximity / bm25-threshold run against the blocked layout
(<index>/blocked); proximity takes the query words as anchor+partners.
bm25-sharded scatter-gathers over --shards (comma-separated blocked
dirs) with global df/N/avgdl recombined from the shards' sidecars.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BLOCKED_SCORERS = {"bm25-blocked", "bm25-threshold", "phrase", "proximity",
                   "bm25-sharded", "boolean", "hybrid"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--scorer", default="tfidf",
                    choices=["tfidf", "bm25", "bm25-blocked",
                             "bm25-threshold", "phrase", "proximity",
                             "bm25-sharded", "boolean", "hybrid"])
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--threshold", type=float, default=1.0,
                    help="score cutoff for bm25-threshold (all docs >= it)")
    ap.add_argument("--window", type=int, default=5,
                    help="token window for proximity")
    ap.add_argument("--required", default="",
                    help="comma-separated +terms (bm25-blocked scorer)")
    ap.add_argument("--excluded", default="",
                    help="comma-separated -terms (bm25-blocked scorer)")
    ap.add_argument("--ranked", action="store_true",
                    help="boolean scorer: BM25-rank matches by the "
                         "query's positive terms")
    ap.add_argument("--embeddings", default="",
                    help="embeddings parquet (url, embedding) for the "
                         "hybrid scorer")
    ap.add_argument("--qurl", default="",
                    help="hybrid scorer: url whose embedding is the "
                         "query vector (more-like-this)")
    ap.add_argument("--shards", default="",
                    help="comma-separated blocked index dirs "
                         "(bm25-sharded scorer; overrides --index)")
    args = ap.parse_args()

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("query_index")
    eng = SearchEngine(spark)
    if args.scorer not in BLOCKED_SCORERS:
        # the blocked scorers read only the self-contained blocked
        # layout; loading the flat postings for them would add ~30 s of
        # needless cold I/O
        eng.load(args.index)
    blocked = os.path.join(args.index, "blocked")
    t0 = time.perf_counter()
    with eng.low_latency():  # interactive query: serving conf scope
        res, rows = _run_query(eng, args, blocked)
    dt = (time.perf_counter() - t0) * 1000
    val_col = next((c for c in res.columns if c != "url"), None)
    for r in rows:
        if val_col is None:  # unranked boolean: url-only rows
            print(r["url"])
            continue
        v = r[val_col]
        print(f"{v:.6f}  {r['url']}" if isinstance(v, float) else f"{v}  {r['url']}")
    print(f"[{len(rows)} results in {dt:.0f} ms]")
    spark.stop()


def _run_query(eng, args, blocked):
    if args.scorer == "tfidf":
        res = eng.search(args.query, k=args.k)
    elif args.scorer == "bm25":
        res = eng.search_bm25(args.query, k=args.k)
    elif args.scorer == "bm25-blocked":
        res = eng.search_bm25_blocked(
            blocked, args.query, k=args.k,
            required=[t for t in args.required.split(",") if t],
            excluded=[t for t in args.excluded.split(",") if t],
        )
    elif args.scorer == "boolean":
        res = eng.search_boolean_blocked(
            blocked, args.query, k=args.k, ranked=args.ranked
        )
    elif args.scorer == "hybrid":
        if not args.embeddings or not args.qurl:
            raise SystemExit("hybrid scorer needs --embeddings and --qurl")
        from pyspark.sql import functions as F

        emb = eng.spark.read.parquet(args.embeddings)
        row = emb.where(F.col("url") == args.qurl).select("embedding").take(1)
        if not row:
            raise SystemExit(f"no embedding for url {args.qurl!r}")
        paths = [p for p in args.shards.split(",") if p]
        res = eng.search_hybrid_rrf(
            paths or blocked, args.query, emb, row[0][0],
            k=args.k, id_col="url",
        ).select("url", "rrf", "bm25_rnk", "cos_rnk")
    elif args.scorer == "bm25-sharded":
        paths = [p for p in args.shards.split(",") if p] or [blocked]
        res = eng.search_bm25_sharded(paths, args.query, k=args.k)
    elif args.scorer == "bm25-threshold":
        res = eng.search_bm25_threshold_blocked(
            blocked, args.query, threshold=args.threshold
        )
    elif args.scorer == "phrase":
        res = eng.search_phrase_blocked(blocked, args.query, k=args.k)
    else:  # proximity
        res = eng.search_proximity_blocked(
            blocked, args.query.split(), window=args.window, k=args.k
        )
    return res, res.collect()


if __name__ == "__main__":
    main()
