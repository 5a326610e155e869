#!/usr/bin/env python
"""spark-submit entry point: integrity-check (fsck) a blocked index.

  python scripts/fsck_index.py --index <save_blocked dir> [--deep]

Verifies every invariant the serving path relies on — block shapes,
doc ordering, partition-bucket layout, sidecar agreement, doc-index
density, dangling references — as distributed aggregations; --deep
additionally checks every block's position lists (one per doc,
strictly ascending, tf long unless empty). Prints one JSON report;
exit code 1 when any check finds violations.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="save_blocked dir")
    ap.add_argument("--deep", action="store_true",
                    help="also check every block's position lists")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("fsck_index", cores=args.cores)
    report = SearchEngine(spark).fsck_blocked(args.index, deep=args.deep)
    print(json.dumps(report))
    spark.stop()
    sys.exit(0 if report["ok"] else 1)


if __name__ == "__main__":
    main()
