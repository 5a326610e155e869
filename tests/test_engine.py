"""End-to-end SearchEngine facade: build -> save -> load -> query."""

import glob
import os
import re

import pytest

from google_like_search_engine_spark.corpus import generate_pages
from google_like_search_engine_spark.engine import SearchEngine


def test_engine_end_to_end(spark, tmp_path):
    pages = generate_pages(spark, 150, partitions=4).where("lang = 'en'")
    eng = SearchEngine(spark).build(pages, pagerank_threshold=0.01)

    res = eng.search("search engine index", k=10).collect()
    assert res
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    assert all(r["pagerank"] != 0 for r in res)

    bm_df = eng.search_bm25("search engine", k=5)
    assert bm_df.collect()
    # BM25 reads dl off the postings: no join on doc_id, no doc_stats
    plan = bm_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "n_term_entries" not in plan, plan

    # save / load round-trip preserves results
    path = str(tmp_path / "engine_idx")
    eng.save(path)
    eng2 = SearchEngine(spark).load(path)
    res2 = eng2.search("search engine index", k=10).collect()
    assert [(r["url"], r["score"]) for r in res2] == [
        (r["url"], r["score"]) for r in res
    ]
    eng.unpersist()
    eng2.unpersist()


def test_engine_served_bm25_identical(spark):
    pages = generate_pages(spark, 100, partitions=4).where("lang = 'en'")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    assert eng.enable_serving()
    for q in ["search engine", "apples", "index merge rank", "nosuchterm"]:
        naive = eng.search_bm25(q, k=8).collect()
        served = eng.search_bm25_served(q, k=8).collect()
        assert [r["url"] for r in served] == [r["url"] for r in naive], q
        for a, b in zip(served, naive):
            assert a["score"] == pytest.approx(b["score"], rel=1e-12)
    eng.unpersist()


def test_warm_flat_bm25_query_is_one_sql_text(spark):
    """A warm flat search_bm25 is built as ONE spark.sql text (after its
    dictionary lookup) and runs with at most 40 py4j commands in all,
    construction and collect; the Column chain it replaces sent ~350."""
    from tests.conftest import py4j_calls

    pages = generate_pages(spark, 60, partitions=2).where("lang = 'en'")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    try:
        want = eng.search_bm25("search engine", k=10).collect()
        with py4j_calls(spark.sparkContext) as calls:
            rows = eng.search_bm25("search engine", k=10).collect()
        assert calls("sql") == 1 and calls() <= 40, calls()
        assert rows == want and rows
    finally:
        eng.unpersist()


def test_load_missing_and_corrupt_sidecars(spark, tmp_path):
    """An index saved without a dictionary or pageranks loads with both
    None; a corrupt dictionary file raises instead of being dropped."""
    from py4j.protocol import Py4JJavaError

    pages = generate_pages(spark, 40, partitions=2).where("lang = 'en'")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    eng.term_df.unpersist()
    eng.term_df = None
    path = str(tmp_path / "idx")
    eng.save(path)
    eng.unpersist()
    loaded = SearchEngine(spark).load(path)
    assert loaded.term_df is None and loaded.pageranks is None
    assert loaded.search_bm25("search engine", k=5).collect()
    loaded.unpersist()
    os.makedirs(f"{path}/term_df")
    with open(f"{path}/term_df/part-0.parquet", "wb") as f:
        f.write(b"not a parquet file" * 8)
    bad = SearchEngine(spark)
    with pytest.raises(Py4JJavaError, match="term_df/part-0.parquet"):
        bad.load(path)
    bad.unpersist()


def _parquet_files(path):
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def test_engine_blocked_index_path(spark, tmp_path):
    """The blocked layout is sized to the shard: under the default split
    size a small shard is one blocks file in one term bucket; with the
    split lowered below the shard's block bytes it derives several
    buckets, still one file each, and a query's scan prunes to its
    terms' buckets. Both layouts serve the flat path's results and pass
    fsck."""
    pages = generate_pages(spark, 120, partitions=4).where("lang = 'en'")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    query = "search engine index"
    naive = eng.search_bm25(query, k=8).collect()

    def check(path):
        blocked = eng.search_bm25_blocked(path, query, k=8).collect()
        assert [r["url"] for r in blocked] == [r["url"] for r in naive]
        for a, b in zip(blocked, naive):
            assert a["score"] == pytest.approx(b["score"], rel=1e-9)
        assert eng.fsck_blocked(path)["ok"]
        return spark.read.parquet(f"{path}/meta").collect()[0]["term_buckets"]

    path = str(tmp_path / "blocked_idx")
    eng.save_blocked(path)
    assert len(_parquet_files(f"{path}/blocks")) == 1
    assert len(_parquet_files(f"{path}/doc_stats_idx")) == 1
    assert check(path) == 1

    split = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(split)
    small = str(tmp_path / "blocked_small_split")
    try:
        spark.conf.set(split, "4k")
        eng.save_blocked(small)
        files = _parquet_files(f"{small}/blocks")
        dirs = [os.path.basename(os.path.dirname(f)) for f in files]
        assert len(dirs) > 1 and len(set(dirs)) == len(dirs), dirs
        assert all(d.startswith("term_bucket=") for d in dirs)
        assert check(small) == len(dirs)
        dep = eng._deployment([small])
        infos, _df = dep.lookup(["search"])
        scan = eng._shard_scan(dep.shards[0], infos[0])
        assert scan.count() > 0
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", plan), plan
    finally:
        spark.conf.set(split, old)
        eng.unpersist()


def test_merge_pages_replaces_and_appends(spark):
    """MERGE semantics: a delta of re-crawled + new pages yields exactly
    the index a from-scratch build over the merged corpus produces."""
    from google_like_search_engine_spark.corpus import generate_pages
    from pyspark.sql import functions as F

    base = generate_pages(spark, 60).where(F.col("lang") == "en")
    # delta: 10 re-crawled pages with changed text + 20 brand-new pages
    recrawled = (
        generate_pages(spark, 10)
        .where(F.col("lang") == "en")
        .withColumn("text", F.concat(F.col("text"), F.lit(" freshly recrawled words")))
    )
    new = generate_pages(spark, 80).where(
        (F.col("lang") == "en") & (F.col("url").rlike("page(6[0-9]|7[0-9])\\.html$"))
    )
    delta = recrawled.unionByName(new)

    eng = SearchEngine(spark).build(base, run_pagerank=False).merge_pages(delta)

    full_corpus = (
        base.join(recrawled.select("url"), "url", "left_anti")
        .unionByName(recrawled)
        .unionByName(new)
    )
    ref = SearchEngine(spark).build(full_corpus, run_pagerank=False)

    got = {
        (r["term"], r["doc_id"]): (r["tf"], tuple(r["positions"]))
        for r in eng.postings.collect()
    }
    want = {
        (r["term"], r["doc_id"]): (r["tf"], tuple(r["positions"]))
        for r in ref.postings.collect()
    }
    assert got == want
    assert eng.total_documents == ref.total_documents

    q = "search engine index"
    assert [
        (r["url"], round(r["score"], 6)) for r in eng.search_bm25(q, k=10).collect()
    ] == [
        (r["url"], round(r["score"], 6)) for r in ref.search_bm25(q, k=10).collect()
    ]
    eng.unpersist()
    ref.unpersist()


def test_merge_pages_purges_emptied_page(spark):
    """A re-crawled page whose new text yields zero postings must purge
    its old postings + doc_stats entry (documented REPLACE semantics)."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [
            ("http://a.example:80/x.html", "apples figs pears"),
            ("http://a.example:80/y.html", "grapes melons"),
        ],
        "url string, text string",
    )
    eng = SearchEngine(spark).build(base, run_pagerank=False)
    assert eng.total_documents == 2
    # re-crawl x.html: now blank (tag-stripped to no tokens)
    delta = spark.createDataFrame(
        [("http://a.example:80/x.html", "<html></html>")],
        "url string, text string",
    )
    eng.merge_pages(delta)
    urls = {r["url"] for r in eng.postings.select("url").distinct().collect()}
    assert urls == {"http://a.example:80/y.html"}
    assert eng.total_documents == 1
    eng.unpersist()


def test_save_blocked_invalidates_stale_handles(spark, tmp_path):
    """Re-saving a blocked index over a previously-queried path must not
    serve results from the old index's cached handles."""
    from google_like_search_engine_spark.corpus import generate_pages
    from pyspark.sql import functions as F

    path = str(tmp_path / "blk")
    eng = SearchEngine(spark).build(
        generate_pages(spark, 40).where(F.col("lang") == "en"), run_pagerank=False
    )
    eng.save_blocked(path)
    before = eng.search_bm25_blocked(path, "search engine", k=5).collect()
    assert before
    # rebuild over a bigger corpus and re-save to the SAME path
    eng2 = SearchEngine(spark).build(
        generate_pages(spark, 90).where(F.col("lang") == "en"), run_pagerank=False
    )
    eng2._blocked_cache = eng._blocked_cache  # simulate same session handles
    eng2.save_blocked(path)
    after = eng2.search_bm25_blocked(path, "search engine", k=5)
    expect = eng2.search_bm25("search engine", k=5).collect()
    got = after.collect()
    assert [r["url"] for r in got] == [r["url"] for r in expect]
    eng.unpersist()
    eng2.unpersist()


def test_build_metrics_sidecar(spark, tmp_path):
    eng = SearchEngine(spark).build(
        generate_pages(spark, 30), run_pagerank=False, collect_metrics=True
    )
    m = eng.build_metrics
    assert m["n_docs"] == eng.total_documents > 0
    assert m["n_terms"] > 0 and m["n_postings"] > 0
    # per-partition rows must account for every posting
    assert sum(p["rows"] for p in m["partitions"]) == m["n_postings"]
    assert set(m["phases_sec"]) == {"tokenize_and_doc_stats_sec",
                                    "term_dictionary_sec"}
    out = str(tmp_path / "idx")
    eng.save(out)
    import json as _json

    with open(out + "/build_metrics.json") as f:
        assert _json.load(f)["n_postings"] == m["n_postings"]
    eng.unpersist()


def test_build_without_metrics_is_default(spark):
    eng = SearchEngine(spark).build(generate_pages(spark, 10), run_pagerank=False)
    assert eng.build_metrics == {}
    eng.unpersist()


def test_index_stats(spark, tmp_path):
    eng = SearchEngine(spark).build(generate_pages(spark, 40), run_pagerank=False)
    out = str(tmp_path / "blocked")
    eng.save_blocked(out)
    s = eng.index_stats(out)
    assert s["total_documents"] == eng.total_documents
    assert s["n_postings"] > 0 and s["n_blocks"] > 0
    assert s["n_terms"] == s["dictionary_terms"]
    assert s["compressed_bytes"] > 0 and s["bytes_per_posting"] > 0
    assert s["buckets"]["count"] >= 1
    assert s["buckets"]["max_postings"] >= s["buckets"]["min_postings"]
    eng.unpersist()


def test_served_boolean_filters(spark):
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 100).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    assert eng.enable_serving()
    base = eng.search_bm25_served("search engine index", k=1000).collect()
    req = "search"
    filt = eng.search_bm25_served(
        "search engine index", k=1000, required=[req]
    ).collect()
    # filtered is a subset with identical scores
    base_scores = {r["url"]: r["score"] for r in base}
    with_req = {
        r["doc_id"]
        for r in eng.postings.where(F.col("term") == req)
        .select(F.col("url").alias("doc_id"))
        .collect()
    }
    assert {r["url"] for r in filt} == set(base_scores) & with_req
    for r in filt:
        assert r["score"] == base_scores[r["url"]]
    # excluded removes exactly those docs
    excl = eng.search_bm25_served(
        "search engine index", k=1000, excluded=[req]
    ).collect()
    assert {r["url"] for r in excl} == set(base_scores) - with_req
    # unknown required term -> empty; unknown excluded -> no-op
    assert eng.search_bm25_served("search", required=["zzzznope"]).collect() == []
    assert {
        r["url"] for r in eng.search_bm25_served(
            "search engine index", k=1000, excluded=["zzzznope"]
        ).collect()
    } == set(base_scores)
    eng.unpersist()


def test_save_deletes_stale_metrics_sidecar(spark, tmp_path):
    """Re-saving to a path that previously held build_metrics.json,
    after a rebuild WITHOUT collect_metrics, must not leave the stale
    sidecar describing the old index."""
    import os

    pages = generate_pages(spark, 60, partitions=2).where("lang = 'en'")
    out = str(tmp_path / "idx")
    eng = SearchEngine(spark).build(pages, run_pagerank=False, collect_metrics=True)
    eng.save(out)
    assert os.path.exists(out + "/build_metrics.json")
    eng.unpersist()

    eng2 = SearchEngine(spark).build(pages, run_pagerank=False)
    eng2.save(out)
    assert not os.path.exists(out + "/build_metrics.json")
    eng2.unpersist()


def test_pluggable_analyzer_build_and_merge(spark):
    """The postings_fn seam: build with a plain-dialect analyzer, then
    merge_pages re-uses the SAME analyzer for the delta (the merged
    relation equals a one-shot plain build over the final corpus)."""
    from pyspark.sql import functions as F

    rows = [
        ("http://a.com:80/p0.html", "alpha beta alpha"),
        ("http://a.com:80/p1.html", "beta gamma"),
        ("http://a.com:80/p2.html", "delta"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")

    def plain_fn(d):
        toks = (
            d.select("doc_id", "url", F.explode(F.split("text", " ")).alias("term"))
            .where(F.col("term") != "")
        )
        return toks.groupBy("doc_id", "url", "term").agg(
            F.count(F.lit(1)).cast("int").alias("tf")
        )

    eng = SearchEngine(spark).build(pages, run_pagerank=False, postings_fn=plain_fn)
    # plain analyzer: no stem rows, tf is the raw token count
    got = {
        (r["url"], r["term"]): r["tf"] for r in eng.postings.collect()
    }
    assert got[("http://a.com:80/p0.html", "alpha")] == 2
    assert len(got) == 5  # (p0:alpha,beta) (p1:beta,gamma) (p2:delta)

    delta = spark.createDataFrame(
        [("http://a.com:80/p0.html", "alpha epsilon"),
         ("http://a.com:80/p3.html", "zeta")],
        "url string, text string",
    )
    eng.merge_pages(delta)
    merged = {
        (r["url"], r["term"]): r["tf"] for r in eng.postings.collect()
    }
    assert merged[("http://a.com:80/p0.html", "alpha")] == 1  # replaced
    assert ("http://a.com:80/p0.html", "beta") not in merged
    assert merged[("http://a.com:80/p3.html", "zeta")] == 1  # appended
    assert merged[("http://a.com:80/p1.html", "gamma")] == 1  # untouched
    assert eng.total_documents == 4
    eng.unpersist()


def test_bucketed_layout_join_is_exchange_free(spark, tmp_path):
    """save_bucketed co-clusters postings and doc_stats on doc_id with
    the same bucket count, so the doc-keyed join reads bucket-to-bucket
    with NO shuffle exchange — the physical plan proof of the 100 TB
    co-location story. Results equal the cached-relation join."""
    import contextlib
    import io

    pages = generate_pages(spark, 80, partitions=2).where("lang = 'en'")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    eng.save_bucketed("bt_test", str(tmp_path / "bucketed"), buckets=8)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = eng.bucketed_scoring_relation("bt_test")
        rows = j.collect()  # finalize the adaptive plan before reading it
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SelectedBucketsCount" in plan  # both scans are bucketed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    expected = (
        eng.postings.join(
            eng.doc_stats.select("doc_id", "n_term_entries"), "doc_id"
        ).collect()
    )
    key = lambda r: (r["doc_id"], r["term"], r["tf"])  # noqa: E731
    assert sorted((key(r) for r in rows)) == sorted(key(r) for r in expected)
    eng.unpersist()


def test_versioned_index_save_load_time_travel(spark, tmp_path):
    """save_versioned commits the whole index atomically; a merge
    produces a new snapshot and load_versioned time-travels between
    the pre- and post-merge indexes."""
    from pyspark.sql import functions as F

    base = generate_pages(spark, 50, partitions=2).where("lang = 'en'")
    delta = (
        generate_pages(spark, 8, partitions=1)
        .where(F.col("lang") == "en")
        .withColumn("text", F.concat("text", F.lit(" zephyrwordx")))
    )
    path = str(tmp_path / "vidx")
    eng = SearchEngine(spark).build(base, run_pagerank=False)
    v0 = eng.save_versioned(path)
    eng.merge_pages(delta)
    v1 = eng.save_versioned(path)
    assert (v0, v1) == (0, 1)

    old = SearchEngine(spark).load_versioned(path, version=0)
    new = SearchEngine(spark).load_versioned(path)
    old_terms = {r["term"] for r in old.postings.select("term").distinct().collect()}
    new_terms = {r["term"] for r in new.postings.select("term").distinct().collect()}
    assert "zephyrwordx" in new_terms and "zephyrwordx" not in old_terms
    eng.unpersist()
    old.unpersist()
    new.unpersist()


def test_fsck_blocked_clean_and_corrupted(spark, tmp_path):
    """A freshly-saved blocked index passes every check incl. the deep
    position-list check; corrupting the term_stats sidecar is
    caught with an exact violation count and flips ok to False."""
    from pyspark.sql import functions as F

    from google_like_search_engine_spark.corpus import generate_pages
    from google_like_search_engine_spark.engine import SearchEngine

    pages = generate_pages(spark, 60).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    out = str(tmp_path / "blocked")
    eng.save_blocked(out)

    report = eng.fsck_blocked(out, deep=True)
    assert report["ok"], report
    assert report["checks"]["bad_positions"] == 0
    assert report["n_blocks"] > 0 and report["total_documents"] > 0

    # corrupt: bump df for one term in the sidecar
    ts = spark.read.parquet(f"{out}/term_stats")
    bad = ts.withColumn(
        "df",
        F.when(F.col("term") == ts.limit(1).collect()[0]["term"],
               F.col("df") + 1).otherwise(F.col("df")),
    )
    bad.write.mode("overwrite").parquet(str(tmp_path / "ts2"))
    spark.read.parquet(str(tmp_path / "ts2")).write.mode("overwrite").parquet(
        f"{out}/term_stats"
    )
    report2 = eng.fsck_blocked(out)
    assert not report2["ok"]
    assert report2["checks"]["bad_term_stats"] == 1
    assert sum(v for k, v in report2["checks"].items()
               if k != "bad_term_stats") == 0
    eng.unpersist()


def test_fsck_deep_flags_descending_positions(spark, tmp_path):
    """A copy of a clean index with one blocks row rewritten so that its
    first doc's positions descend: the deep fsck counts exactly that
    block as bad_positions and nothing else; the shallow fsck, which
    reads no positions, still passes."""
    import shutil

    from pyspark.sql import functions as F

    pages = generate_pages(spark, 40).where(F.col("lang") == "en")
    eng = SearchEngine(spark).build(pages, run_pagerank=False)
    out, bad = str(tmp_path / "blocked"), str(tmp_path / "bad")
    eng.save_blocked(out)
    blocks = spark.read.parquet(f"{out}/blocks")
    victim = blocks.where("size(pos[0]) >= 2").select("term", "block_id").first()
    hit = (F.col("term") == victim["term"]) & (F.col("block_id") == victim["block_id"])
    descending = F.expr("concat(array(reverse(pos[0])), slice(pos, 2, n_docs))")
    (
        blocks.withColumn("pos", F.when(hit, descending).otherwise(F.col("pos")))
        .write.partitionBy("term_bucket").parquet(f"{bad}/blocks")
    )
    for part in ("doc_stats_idx", "meta", "term_stats"):
        shutil.copytree(f"{out}/{part}", f"{bad}/{part}")
    try:
        report = eng.fsck_blocked(bad, deep=True)
        assert not report["ok"] and report["checks"]["bad_positions"] == 1, report
        assert sum(v for k, v in report["checks"].items() if k != "bad_positions") == 0
        assert eng.fsck_blocked(bad)["ok"]
    finally:
        eng.unpersist()
