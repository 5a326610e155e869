#!/usr/bin/env python
"""Storage-codec comparison for the blocked index layout.

At 100 TB the parquet compression codec is a first-order storage and
scan-throughput decision. This writes the same blocked-index relation
(columnar doc/tf/dl/position block arrays over the sf corpus) under
snappy / zstd / gzip / uncompressed and records the on-disk bytes per
codec — sizes are deterministic (unlike wall-clock on this host), so
the artifact is reproducible at any epoch. Wall-clock per write is
recorded too but labeled advisory.

Writes BENCH/codec_sizes.json and prints it.

Usage: python scripts/codec_bench.py [sf_dir=/root/testdata/sf0.01]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CODECS = ["snappy", "zstd", "gzip", "none"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.compression import (
        assign_doc_indexes,
        block_postings,
    )
    from google_like_search_engine_spark.indexer import build_postings
    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("codec_bench", cores=8, shuffle_partitions=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("url"),
        "text",
    )
    postings = build_postings(docs)
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(F.broadcast(idx), "doc_id")).persist()
    n_rows = blocks.count()

    out = {"sf_dir": sf_dir, "block_rows": n_rows, "codecs": {}}
    base = "/tmp/codec_bench"
    shutil.rmtree(base, ignore_errors=True)
    for codec in CODECS:
        path = f"{base}/{codec}"
        t0 = time.perf_counter()
        (
            blocks.write.mode("overwrite")
            .option("compression", codec)
            .parquet(path)
        )
        dt = time.perf_counter() - t0
        out["codecs"][codec] = {
            "bytes": dir_bytes(path),
            "write_sec_advisory": round(dt, 2),
        }
    blocks.unpersist()
    snappy = out["codecs"]["snappy"]["bytes"]
    for codec, rec in out["codecs"].items():
        rec["vs_snappy"] = round(rec["bytes"] / snappy, 3)

    dest = os.path.join(REPO, "BENCH", "codec_sizes.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
