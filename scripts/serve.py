#!/usr/bin/env python
"""spark-submit entry point: serve a built index over HTTP.

  python scripts/serve.py --index /path/to/index [--port 8080] [--host 0.0.0.0]

Routes: /search?query=...  /autocomplete?prefix=...  /health
(the reference's RankerStarter webserver, Spark-backed).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument(
        "--blocked",
        help="blocked index dir, served as a one-shard deployment, for "
        "the /phrase /proximity /threshold /hybrid routes (defaults to "
        "<index>/blocked when present)",
    )
    ap.add_argument(
        "--cache", type=int, default=0, metavar="N",
        help="LRU-cache up to N responses on the deterministic query "
        "routes (the index is immutable while serving)",
    )
    ap.add_argument(
        "--shards", default="",
        help="comma-separated blocked shard dirs served as one "
        "deployment: /search and the blocked routes scatter-gather over "
        "them with global stats (no flat index needed; --index may "
        "point anywhere when set)",
    )
    ap.add_argument(
        "--embeddings",
        help="embeddings parquet (url, embedding) over the corpus "
        "urls: opens the /hybrid?query=&qurl= RRF more-like-this "
        "route (needs a blocked index)",
    )
    ap.add_argument(
        "--percolate",
        help="JSON file of {query_id: boolean query} standing queries: "
        "opens GET /percolate?text= (per-document stored-query "
        "matching, no Spark job)",
    )
    ap.add_argument(
        "--version", type=int, default=None,
        help="serve a SNAPSHOT of a versioned index (save_versioned "
        "layout): --version N time-travels, omitting it serves the "
        "current snapshot; plain save() layouts ignore this flag",
    )
    args = ap.parse_args()

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.server import make_server
    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("serve")
    percolator = None
    if args.percolate:
        import json as _json

        with open(args.percolate) as f:
            percolator = _json.load(f)
    eng = SearchEngine(spark)
    shard_paths = [p for p in args.shards.split(",") if p]
    if shard_paths:
        # --embeddings / --percolate apply to sharded deployments too
        # (search_hybrid_rrf federates its lexical side over
        # shard_paths; percolation is index-independent) — dropping
        # them here silently lost /hybrid and /percolate
        srv = make_server(
            eng, args.host, args.port, cache_size=args.cache,
            shard_paths=shard_paths, embeddings_path=args.embeddings,
            percolator=percolator,
        )
        print(f"sharded serving over {len(shard_paths)} shards on "
              f"http://{args.host}:{args.port}  (/search?query=)")
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            srv.shutdown()
            spark.stop()
        return
    versioned_root = None
    import glob as _glob

    root = args.index.removeprefix("file://")
    has_manifest = os.path.exists(
        os.path.join(root, "_manifest.json")  # legacy single-name layout
    ) or _glob.glob(os.path.join(root, "_manifest-*.json"))
    if has_manifest:
        from google_like_search_engine_spark.sources.versioned import (
            VersionedTable,
        )

        vt = VersionedTable(spark, args.index)
        snap = vt.snapshot_dir(args.version)
        print(f"versioned index: serving snapshot dir {snap} "
              f"(history {vt.history()}); /admin/reload hot-swaps to "
              f"new snapshots")
        versioned_root = args.index
        args.index = snap
        eng.load(args.index)
    else:
        eng.load(args.index)
    served = eng.enable_serving()
    print(f"index loaded: {eng.total_documents} docs; "
          f"served path {'ON (single-job BM25)' if served else 'off (dictionary over cap)'}")
    blocked = args.blocked or os.path.join(args.index, "blocked")
    if not os.path.isdir(blocked.removeprefix("file://")):
        blocked = None
    srv = make_server(
        eng, args.host, args.port, blocked_path=blocked,
        cache_size=args.cache, embeddings_path=args.embeddings,
        versioned_root=versioned_root,
        initial_snapshot=args.index if versioned_root else None,
        blocked_external=bool(args.blocked),
        percolator=percolator,
    )
    routes = "/search?query=  /autocomplete?prefix=  /health"
    if blocked:
        routes += "  /phrase?query=  /proximity?terms="
    if blocked and args.embeddings:
        routes += "  /hybrid?query=&qurl="
    print(f"serving on http://{args.host}:{args.port}  ({routes})")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.shutdown()
        spark.stop()


if __name__ == "__main__":
    main()
