#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny corpus, in one Spark JVM.

    python3 perfbench/smoke.py

Checks that
- BENCHMARK.json names exactly the metrics the harness prints;
- every workload prints every end-to-end metric with its unit, with all
  answers correct;
- a traced run prints every per-layer metric with its unit;
- the reference BM25 agrees with ``ranker.score_bm25``;
- a deliberately wrong expected answer makes the run fail (failed > 0).
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, spark_run  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")
    print(f"smoke: ok: {what}", flush=True)


def check_metrics(result: dict, units: dict, what: str) -> None:
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    check(got == units, f"{what}: every metric printed with its unit")
    check(all(isinstance(m["value"], float) for m in result["metrics"].values()),
          f"{what}: every value is a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with spark_run() as (spark, workdir):
        from perfbench import harness
        from perfbench.oracle import Reference, isclose

        check({m["name"] for m in bench["end_to_end"]} == set(harness.END_TO_END)
              and {m["name"] for m in bench["per_layer"]} == set(harness.PER_LAYER)
              and {w["name"] for w in bench["workloads"]} == set(harness.WORKLOADS),
              "BENCHMARK.json matches the harness")

        def run(i, workload, trace=False, corrupt=False):
            return harness.run_workload(
                spark, workload, 3, 2, trace, os.path.join(workdir, f"w{i}"),
                time.perf_counter(), tiny=True, corrupt=corrupt,
            )[0]

        for i, w in enumerate(harness.WORKLOADS):
            res = run(i, w)
            check(res["correct"] and res["attempted"] > 0, f"{w}: all answers correct")
            check_metrics(res, harness.END_TO_END, w)

        res = run(2, "query_sharded", trace=True)
        check(res["correct"], "traced query_sharded: all answers correct")
        check_metrics(res, harness.PER_LAYER, "traced query_sharded")

        res = run(3, "query_served", corrupt=True)
        check(res["failed"] > 0 and not res["correct"],
              f"wrong expected answers are caught ({res['failed']}/{res['attempted']} failed)")

        from google_like_search_engine_spark.engine import SearchEngine
        from google_like_search_engine_spark.ranker import score_bm25
        from google_like_search_engine_spark.sources.warc import warc_to_pages
        from google_like_search_engine_spark.corpus import fixture_dictionary

        pages = warc_to_pages(spark, os.path.join(workdir, "w3", "warc"), fixture_dictionary())
        eng = SearchEngine(spark).build(pages, run_pagerank=False)
        ref = Reference(eng.postings.select("term", "url", "tf", "dl", "positions").collect())
        for q in ("search engine", "apples figs rank", "word5"):
            got = [(r["url"], r["score"]) for r in score_bm25(
                spark, q, eng.postings, eng.doc_stats, eng.total_documents).collect()]
            want = ref.bm25(q)
            check(len(got) == len(want) and all(isclose(a[1], b[1]) for a, b in zip(got, want)),
                  f"reference BM25 == ranker.score_bm25 for {q!r}")
        eng.unpersist()
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
