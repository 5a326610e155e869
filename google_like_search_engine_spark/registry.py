"""Registry wiring query names -> (spark callable, oracle SQL).

Consumed by __spark_entry__.py (the driver contract) and bench.py.
Entries without an oracle (iterative / non-SQL-expressible ops) are in
NO_ORACLE_QUERIES and get the driver's weaker rows-only check.

The driver gate records at most 50 queries (observed in round 2:
CORRECTNESS_r02 held exactly the first 50 keys of ``queries()`` and the
tail fell off). The surface is therefore EXACTLY 50 entries, ordered
deliberately in QUERY_ORDER: headline search/index entries and the
rows-only ops first (they must never fall out of the window), the
trivially-cheap flame operator inventory last. Demoted-but-kept
queries live in EXTRA_QUERIES (pytest-covered, not driver-gated).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import catalog as c
from . import catalog_text as t

QUERIES = {
    # text / search
    "wordcount": (t.wordcount, t.WORDCOUNT_SQL),
    "token_stats": (t.token_stats, t.TOKEN_STATS_SQL),
    "term_stats": (t.term_stats, t.TERM_STATS_SQL),
    "tfidf_search": (t.tfidf_search, t.TFIDF_SEARCH_SQL),
    "bm25_search": (t.bm25_search, t.BM25_SEARCH_SQL),
    "phrase_search": (t.phrase_search, t.PHRASE_SEARCH_SQL),
    "term_autocomplete": (t.term_autocomplete, t.TERM_AUTOCOMPLETE_SQL),
    # dedup
    "dedup_exact": (t.dedup_exact, t.DEDUP_EXACT_SQL),
    "dedup_minhash": (t.dedup_minhash, t.DEDUP_MINHASH_SQL),
    "minhash_verified_pairs": (t.minhash_verified_pairs, t.MINHASH_VERIFIED_PAIRS_SQL),
    "simhash_pairs": (t.simhash_pairs, t.SIMHASH_PAIRS_SQL),
    # LLM-training-pipeline dedup/quality operators promoted into the
    # gate in round 5 (ngram_jaccard + four flame-tail rows demoted to
    # EXTRA_ORACLE_QUERIES to fit; all stay parity-tested there)
    "dedup_keep_list": (t.dedup_keep_list, t.DEDUP_KEEP_LIST_SQL),
    "partial_dup_pairs": (t.partial_dup_pairs, t.PARTIAL_DUP_PAIRS_SQL),
    "quality_filter": (t.quality_filter, t.QUALITY_FILTER_SQL),
    "embedding_near_dup": (t.embedding_near_dup, t.EMBEDDING_NEAR_DUP_SQL),
    "lang_id_accuracy": (t.lang_id_accuracy, t.LANG_ID_ACCURACY_SQL),
    # text analysis
    "quality_scores": (t.quality_scores, t.QUALITY_SCORES_SQL),
    "lang_id": (t.lang_id, t.LANG_ID_SQL),
    "fingerprints": (t.fingerprints, t.FINGERPRINTS_SQL),
    # embeddings
    "cosine_scores": (t.cosine_scores, t.COSINE_SCORES_SQL),
    "bpe_tokens": (t.bpe_tokens, t.BPE_TOKENS_SQL),
    # the blocked BM25 path, oracle-checked via a literal score
    # threshold (exact; no float-ordered LIMIT)
    "bm25_maxscore_threshold": (
        t.bm25_maxscore_threshold,
        t.BM25_MAXSCORE_THRESHOLD_SQL,
    ),
    # events
    "events_hourly": (c.events_hourly, c.EVENTS_HOURLY_SQL),
    "events_sessions": (c.events_sessions, c.EVENTS_SESSIONS_SQL),
    # TPC-H-style analytics
    "tpch_q1": (c.tpch_q1, c.TPCH_Q1_SQL),
    "tpch_q3": (c.tpch_q3, c.TPCH_Q3_SQL),
    "tpch_q5": (c.tpch_q5, c.TPCH_Q5_SQL),
    "tpch_q6": (c.tpch_q6, c.TPCH_Q6_SQL),
    "tpch_q9": (c.tpch_q9, c.TPCH_Q9_SQL),
    "tpch_q18": (c.tpch_q18, c.TPCH_Q18_SQL),
    "tpch_q2_style": (c.tpch_q2_style, c.TPCH_Q2_STYLE_SQL),
    # set ops / rollup / pivot / window (union+except and semi+anti are
    # combined tagged relations so both sides are non-empty and the
    # four ops fit the 50-entry gate in two rows)
    "setop_union_except": (c.setop_union_except, c.SETOP_UNION_EXCEPT_SQL),
    "rollup_revenue": (c.rollup_revenue, c.ROLLUP_REVENUE_SQL),
    "pivot_status": (c.pivot_status, c.PIVOT_STATUS_SQL),
    "window_top_order": (c.window_top_order, c.WINDOW_TOP_ORDER_SQL),
    "join_semi_anti": (c.join_semi_anti, c.JOIN_SEMI_ANTI_SQL),
    # Flame operator inventory (SURVEY.md section 2.1). Rounds 4-5
    # demoted the redundant tail (count/take, then distinct/fold_sum/
    # sample/groupby/intersection/flatmaptopair) to EXTRA_ORACLE_QUERIES
    # — still parity-tested — keeping the distinctive-semantics ops
    # (filter, foldByKey, the vA,vB cross-product join) in the gate
    # alongside wordcount (flatMap) and token_stats (mapPartitions).
    "flame_filter": (c.flame_filter, c.FLAME_FILTER_SQL),
    "flame_foldbykey": (c.flame_foldbykey, c.FLAME_FOLDBYKEY_SQL),
    # hybrid retrieval (RRF fusion of the BM25 and embedding-cosine
    # rankings) takes flame_join's gate slot in round 5 — the join
    # semantics stay parity-tested in EXTRA_ORACLE_QUERIES like
    # cogroup/count/take before it
    "hybrid_search_rrf": (t.hybrid_search_rrf, t.HYBRID_SEARCH_RRF_SQL),
    # the 4-gate curation composite (quality AND lang AND dedup AND
    # perplexity) replaces flame_cogroup in the gate tail — cogroup
    # stays parity-tested in EXTRA_ORACLE_QUERIES like count/take
    "curate_corpus": (t.curate_corpus, t.CURATE_CORPUS_SQL),
}


def _phrase_search_blocked(spark, sf_dir):
    """The same positional phrase query as phrase_search, but answered
    from the blocked index's position lists (one SQL text: explode
    the words' blocks, one {term: positions} map per doc holding every
    word, count the anchor positions the later words continue),
    checked against the identical relational oracle. The documents
    table has no blank/punct tokens, so the index's blank-counting
    1-based positions coincide with the oracle's non-empty renumbering."""
    from .compression import assign_doc_indexes, block_postings
    from .indexer import build_postings
    from .wand import blocked_phrase_topk

    docs = c.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("url"),
        "text",
    )
    postings = build_postings(docs)
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(F.broadcast(idx), "doc_id"))
    dsi = (
        postings.groupBy("doc_id", "url")
        .agg(F.sum("tf").alias("n_term_entries"))
        .join(F.broadcast(idx), "doc_id")
        .select("doc_index", "url", "n_term_entries")
    )
    out = blocked_phrase_topk(
        spark, " ".join(t.PHRASE), blocks, dsi, k=1_000_000
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"), "n_occurrences"
    )


QUERIES["phrase_search_blocked"] = (_phrase_search_blocked, t.PHRASE_SEARCH_SQL)


def _streaming_compaction(spark, sf_dir):
    """Structured-Streaming incremental index build + compaction,
    SQL-oracle-checkable: batch 1 streams in a third of the corpus,
    batch 2 a full re-crawl (same text). Appended postings duplicate
    the batch-1 docs across _batch_id 0 and 1; compact_index keeps the
    newest per (term, doc_id), so the compacted index must equal the
    one-shot tf relation over the documents table — which is exactly
    the oracle. Uses the plain space-token dialect (the reference
    kernels' streamed build is pinned by tests/test_index_stream.py)."""
    import os
    import shutil

    from .streaming.index_stream import (
        compact_index,
        incremental_index,
        stream_pages,
    )

    base = f"/tmp/spark_graft_stream_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    docs = c.load(spark, sf_dir, "documents").select("doc_id", "text")

    def plain_postings(batch_df):
        return (
            batch_df.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .where(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    schema = "doc_id long, text string"
    docs.where(F.col("doc_id") % 3 == 0).write.mode("append").parquet(in_dir)
    incremental_index(
        stream_pages(spark, in_dir, schema), out_dir, ckpt,
        postings_fn=plain_postings,
    ).awaitTermination()
    docs.write.mode("append").parquet(in_dir)
    incremental_index(
        stream_pages(spark, in_dir, schema), out_dir, ckpt,
        postings_fn=plain_postings,
    ).awaitTermination()
    return compact_index(spark, out_dir).select(
        "doc_id", F.col("term").alias("w"), F.col("tf").cast("long").alias("tf")
    )


STREAMING_COMPACTION_SQL = f"""
WITH {t._TOKENS_CTE}
SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w
"""

QUERIES["streaming_compaction"] = (_streaming_compaction, STREAMING_COMPACTION_SQL)


def _merge_pages_composite(spark, sf_dir):
    """Composite MERGE INTO analog, SQL-oracle-checkable: build the
    engine over an initial corpus where a third of the docs are MISSING
    (doc_id % 7 == 0) and some others are STALE (doc_id % 5 == 0 hold a
    truncated text), then engine.merge_pages a delta holding the true
    text of exactly those docs. merge_pages replaces re-crawled docs'
    postings (anti-join) and appends the new ones (engine.py:109), so
    the merged posting relation must equal a one-shot build over the
    full documents table — which is the oracle (same relation as the
    streaming twin's compacted index, checked the same way). Uses the
    pluggable plain-dialect analyzer so the relation is SQL-expressible;
    the reference-parity analyzer path is pinned by tests/test_engine.py.
    """
    from .engine import SearchEngine

    docs = c.load(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").cast("string").alias("url"), "text"
    )
    stale_text = F.when(
        F.col("doc_id") % 5 == 0, F.substring("text", 1, 40)
    ).otherwise(F.col("text"))
    initial = docs.where(F.col("doc_id") % 7 != 0).select(
        "url", stale_text.alias("text")
    )
    delta = docs.where(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 5 == 0)
    ).select("url", "text")

    def plain_postings_fn(d):
        toks = (
            d.select("doc_id", "url", F.explode(F.split("text", " ")).alias("term"))
            .where(F.col("term") != "")
        )
        return toks.groupBy("doc_id", "url", "term").agg(
            F.count(F.lit(1)).cast("int").alias("tf")
        )

    eng = SearchEngine(spark).build(
        initial, run_pagerank=False, postings_fn=plain_postings_fn
    )
    eng.merge_pages(delta)
    out = eng.postings.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("term").alias("w"),
        F.col("tf").cast("long").alias("tf"),
    ).localCheckpoint(eager=True)
    eng.unpersist()
    return out


# merged index == one-shot tf relation over the full corpus — the same
# ground truth the streaming compaction entry checks against
MERGE_PAGES_SQL = STREAMING_COMPACTION_SQL

QUERIES["merge_pages_composite"] = (_merge_pages_composite, MERGE_PAGES_SQL)


def _versioned_time_travel(spark, sf_dir):
    """Composite snapshot-isolation proof for the versioned-table layer
    (sources/versioned.py, the Iceberg stand-in): commit snapshot v0
    over a partial corpus, MERGE INTO a delta whose rows are
    deliberately corrupted (n_chars = -1) producing v1, then time-travel
    read v0. The oracle is the initial relation's SQL — any leakage of
    v1 rows into the v0 read poisons the value hash via the -1s, so the
    green row proves isolation, not just that reads work."""
    import os
    import shutil

    from .sources.versioned import VersionedTable

    base = f"/tmp/spark_graft_versioned_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    rel = c.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("content_hash"),
        F.length("text").cast("long").alias("n_chars"),
    )
    vt = VersionedTable(spark, base)
    v0 = vt.write_snapshot(rel.where(F.col("doc_id") % 7 != 0))
    delta = rel.where(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 5 == 0)
    ).withColumn("n_chars", F.lit(-1).cast("long"))
    v1 = vt.merge_into(delta, "doc_id")
    if v1 == v0:
        raise RuntimeError("merge_into did not produce a new snapshot")
    return vt.read(version=v0)


VERSIONED_TIME_TRAVEL_SQL = """
SELECT doc_id, md5(text) AS content_hash,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 7 != 0
"""

QUERIES["versioned_time_travel"] = (
    _versioned_time_travel,
    VERSIONED_TIME_TRAVEL_SQL,
)


def _stream_dedup_gate(spark, sf_dir):
    """Streaming exact-dedup in the gate: the corpus streams in twice
    (a full byte-identical re-crawl in a SECOND availableNow drain, so
    the dedup state must survive a checkpoint restart), and
    stream_dedup's dropDuplicatesWithinWatermark must emit each
    distinct content exactly once. The output projects only columns
    functionally dependent on the dedup key (content hash + length),
    so whichever copy wins is value-identical — deterministic under
    any parallelism. Oracle: DISTINCT over the batch table."""
    import os
    import shutil

    from .streaming.events import stream_dedup

    base = f"/tmp/spark_graft_sdedup_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    docs = c.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.to_timestamp(F.lit("2026-01-01 12:00:00")).alias("ts"),
        "text",
    )
    schema = "doc_id long, ts timestamp, text string"

    def drain():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            stream_dedup(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    docs.write.mode("append").parquet(in_dir)
    drain()
    docs.write.mode("append").parquet(in_dir)  # byte-identical re-crawl
    drain()
    return spark.read.parquet(out_dir).select(
        "content_hash", F.length("text").cast("long").alias("n_chars")
    )


STREAM_DEDUP_SQL = """
SELECT DISTINCT md5(text) AS content_hash,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""

QUERIES["stream_dedup"] = (_stream_dedup_gate, STREAM_DEDUP_SQL)


def _pagerank_docs(spark, sf_dir):
    """Iterative PageRank over a deterministic synthetic doc graph
    (edges i -> (2i+7) mod N and i -> (3i+11) mod N). Non-SQL-expressible
    (driver loop); correctness is pinned by the HW9 golden test instead."""
    from .pagerank import pagerank

    docs = c.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    n = docs.count()
    ids = c.load(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    edges = ids.select(
        F.col("i").cast("string").alias("src"),
        ((F.col("i") * 2 + 7) % n).cast("string").alias("dst"),
    ).unionAll(
        ids.select(
            F.col("i").cast("string").alias("src"),
            ((F.col("i") * 3 + 11) % n).cast("string").alias("dst"),
        )
    ).where(F.col("src") != F.col("dst")).distinct()
    ranks = pagerank(docs, edges, threshold=1e-4, max_iterations=50)
    return ranks.select("doc_id", F.round("rank", 4).alias("rank"))


def _lsh_cosine_topk(spark, sf_dir):
    """ANN top-k via random-hyperplane LSH buckets + exact rescoring.
    Approximate by design -> rows-only check; recall is pinned by
    tests/test_analytics.py against brute force."""
    from .analytics.simsearch import add_lsh_key, hyperplanes, lsh_topk

    emb = c.load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    planes = hyperplanes(len(qv), bits=12, seed=42)
    keyed = add_lsh_key(emb, planes)
    out = lsh_topk(keyed, qv, planes, k=10, probe_bits=4)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


def _multimodal_image_features(spark, sf_dir):
    """Binary-column media pipeline, REAL strict-mode decode: the
    fixture payloads are genuine BMP / PNG / baseline-JPEG bytes
    (pure-Python encoders) and the Arrow UDF parses them with the
    pure-Python decoders (incl. the full JPEG Huffman+IDCT pipeline,
    analytics/jpeg.py) — no image library involved, no fake path."""
    from .analytics.multimodal import image_features, synth_media_assets

    feats = image_features(synth_media_assets(spark, n=60), fake=False)
    # Stringify the array<float> column: the driver's canonicalizer
    # sorts/hashes pandas values and dies on unhashable lists.
    return feats.select(
        "asset_id",
        "width",
        "height",
        "channels",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_number(x, 6))
        ).alias("features"),
    )


def _bm25_maxscore_topk(spark, sf_dir):
    """Exact BM25 top-k over the stemmed flat posting index. The flat
    index has one plan, ranker.score_bm25; the blocked path has its
    own oracle row (bm25_maxscore_threshold), and the SQL-oracle
    variant is bm25_search."""
    from .indexer import build_postings
    from .ranker import score_bm25

    docs = c.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("url"),
        "text",
    )
    postings = build_postings(docs)
    doc_stats = postings.groupBy("doc_id", "url").agg(
        F.sum("tf").alias("n_term_entries")
    )
    n = docs.count()
    out = score_bm25(spark, "spark shuffle join window", postings, doc_stats, n).limit(20)
    return out.select("url", F.round("score", 4).alias("score"))


def _crawl_bfs(spark, sf_dir):
    """Frontier-BFS crawl of the deterministic synthetic link graph
    (crawler.crawl: fetch-join + link-extraction kernels + per-round
    delta checkpoints). Iterative with filesystem state -> rows-only
    check; convergence, resume, robots and redirect gate semantics are
    pinned by tests/test_crawler.py. The state dir is fixed (and wiped
    per invocation) instead of a leaked mkdtemp per call."""
    import shutil

    from .corpus import generate_pages, url_for
    from .crawler import crawl

    pages = generate_pages(spark, 200)
    state = "/tmp/spark_graft_crawl_state"
    shutil.rmtree(state, ignore_errors=True)
    return crawl(spark, pages, [url_for(0)], state, max_rounds=100)


def _bpe_merge_encode(spark, sf_dir):
    """The REAL merge-based BPE (analytics/text.py bpe_train driver
    merge loop over the distributed word histogram + rank-order
    bpe_encode) exercised in the driver gate. Encoding N merges deep is
    not SQL-expressible, so the entry is rows-only — but it carries a
    hard internal oracle: BPE encoding is lossless, so the concatenated
    pieces of every doc must reconstruct word</w> exactly; any mismatch
    raises and reddens the gate row. The merge table itself is pinned
    by the hand-computed golden test (tests/test_analytics.py)."""
    from .analytics.text import END_OF_WORD, bpe_encode, bpe_train

    docs = c.load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    merges = bpe_train(docs, num_merges=64)
    if not merges:
        raise RuntimeError("bpe_train produced no merges on the corpus")
    enc = bpe_encode(docs, merges)
    toks = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    expected = F.concat_ws(
        "", F.transform(toks, lambda w: F.concat(w, F.lit(END_OF_WORD)))
    )
    joined = (
        docs.select("id", expected.alias("expected"))
        .join(
            enc.select("id", F.array_join("tokens", "").alias("joined"), "n_tokens"),
            "id",
        )
        .persist()
    )
    bad = joined.where(F.col("joined") != F.col("expected")).count()
    if bad:
        joined.unpersist()
        raise RuntimeError(f"BPE round-trip violated for {bad} docs")
    out = joined.select(
        F.col("id").alias("doc_id"), F.col("n_tokens").alias("n_bpe_pieces")
    ).localCheckpoint(eager=True)
    joined.unpersist()
    return out


NO_ORACLE_QUERIES = {
    "bpe_merge_encode": _bpe_merge_encode,
    "multimodal_image_features": _multimodal_image_features,
    "crawl_bfs": _crawl_bfs,
    "pagerank_docs": _pagerank_docs,
    "lsh_cosine_topk": _lsh_cosine_topk,
}


def _search_pipeline(spark, sf_dir):
    """Flagship composite: generate pages, build the inverted index,
    run PageRank over the extracted link graph, score a query TF-IDF x
    PageRank. Demoted from the driver gate (its constituents each have
    gated entries: term_stats/tfidf_search cover the indexer+ranker,
    pagerank_docs covers PageRank); kept pytest-covered."""
    from .corpus import generate_pages
    from .indexer import build_index
    from .pagerank import pagerank_from_pages
    from .ranker import score_tfidf

    pages = generate_pages(spark, 300).where(F.col("lang") == "en").cache()
    postings, _ = build_index(pages)
    total = pages.count()
    ranks = pagerank_from_pages(pages, threshold=0.01, max_iterations=20)
    res = score_tfidf(spark, "search engine index", postings, ranks, total)
    return res.select("url", F.round("score", 6).alias("score")).limit(20)


def _rolling_fingerprints(spark, sf_dir):
    """Winnowing-style rolling-hash fingerprints (partial-dup
    detection). Rolling Karp-Rabin is not SQL-expressible; pinned by
    tests/test_analytics.py. Demoted from the driver gate to fit the
    50-entry window."""
    from .analytics.text import rolling_fingerprints

    docs = c.load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    return rolling_fingerprints(docs).select(
        "id", F.concat_ws(",", F.col("fingerprint").cast("array<string>")).alias("fp")
    )


# Implemented and tested, but NOT in the driver gate (50-entry cap).
# bm25_maxscore_topk (flat-index BM25 top-k) is demoted now that the
# blocked path has a full oracle row (bm25_maxscore_threshold); the
# blocked top-k's exactness stays property-tested against the naive
# scorer in tests/test_wand_and_lineage.py.
EXTRA_QUERIES = {
    "search_pipeline": _search_pipeline,
    "rolling_fingerprints": _rolling_fingerprints,
    "bm25_maxscore_topk": _bm25_maxscore_topk,
}

# Oracle-checked like QUERIES (tests/test_oracle_parity.py runs the
# same row/schema/value comparison) but outside the 50-entry driver
# gate: extended TPC-H coverage over the simplified testdata schema.
EXTRA_ORACLE_QUERIES = {
    "tpch_q4_style": (c.tpch_q4_style, c.TPCH_Q4_STYLE_SQL),
    "tpch_q7": (c.tpch_q7, c.TPCH_Q7_SQL),
    "tpch_q8_style": (c.tpch_q8_style, c.TPCH_Q8_STYLE_SQL),
    "tpch_q10": (c.tpch_q10, c.TPCH_Q10_SQL),
    "tpch_q12_style": (c.tpch_q12_style, c.TPCH_Q12_STYLE_SQL),
    "tpch_q13": (c.tpch_q13, c.TPCH_Q13_SQL),
    "tpch_q14": (c.tpch_q14, c.TPCH_Q14_SQL),
    "tpch_q15_style": (c.tpch_q15_style, c.TPCH_Q15_STYLE_SQL),
    "tpch_q19_style": (c.tpch_q19_style, c.TPCH_Q19_STYLE_SQL),
    "tpch_q17_style": (c.tpch_q17_style, c.TPCH_Q17_STYLE_SQL),
    "tpch_q22_style": (c.tpch_q22_style, c.TPCH_Q22_STYLE_SQL),
}


def _proximity_search_blocked(spark, sf_dir):
    """Window-proximity query off the blocked index positions store
    (anchor occurrences of PROXIMITY[0] with PROXIMITY[1] within
    PROXIMITY_WINDOW tokens), checked against a relational EXISTS
    oracle over renumbered token positions — valid for the same reason
    as phrase_search_blocked (no blank tokens in the documents table).
    """
    from .compression import assign_doc_indexes, block_postings
    from .indexer import build_postings
    from .wand import blocked_proximity_topk

    docs = c.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("url"),
        "text",
    )
    postings = build_postings(docs)
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(F.broadcast(idx), "doc_id"))
    dsi = (
        postings.groupBy("doc_id", "url")
        .agg(F.sum("tf").alias("n_term_entries"))
        .join(F.broadcast(idx), "doc_id")
        .select("doc_index", "url", "n_term_entries")
    )
    out = blocked_proximity_topk(
        spark, list(t.PROXIMITY), t.PROXIMITY_WINDOW, blocks, dsi, k=1_000_000
    )
    return out.select(F.col("url").cast("long").alias("doc_id"), "n_matches")


EXTRA_ORACLE_QUERIES["proximity_search_blocked"] = (
    _proximity_search_blocked,
    t.PROXIMITY_SEARCH_SQL,
)
EXTRA_ORACLE_QUERIES["bm25_filtered_search"] = (
    t.bm25_filtered_search,
    t.BM25_FILTERED_SEARCH_SQL,
)
# demoted from the 50-entry gate across rounds 4-5 to admit the
# composite + LLM-pipeline entries; parity-tested here exactly like
# the gate (tests/test_oracle_parity.py)
EXTRA_ORACLE_QUERIES["bm25_filtered_blocked"] = (
    t.bm25_filtered_blocked,
    t.BM25_FILTERED_SEARCH_SQL,
)
EXTRA_ORACLE_QUERIES["streaming_events_hourly"] = (
    c.streaming_events_hourly,
    c.EVENTS_HOURLY_SQL,
)
EXTRA_ORACLE_QUERIES["streaming_events_sessions"] = (
    c.streaming_events_sessions,
    c.EVENTS_SESSIONS_SQL,
)
EXTRA_ORACLE_QUERIES["search_snippets"] = (
    t.search_snippets,
    t.SEARCH_SNIPPETS_SQL,
)
PAGERANK_FIXED_ITERS = 5

# shared synthetic link-graph fixture (i -> (2i+7) mod N, i -> (3i+11)
# mod N over the documents ids): ONE Python builder + ONE SQL CTE so
# the five graph entries (pagerank/bfs/hits/triangles/clustering)
# cannot drift from their oracles independently
_EDGES_CTE = """ids AS (SELECT doc_id AS i FROM documents),
n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT i AS src, (2 * i + 7) % n.n AS dst FROM ids, n
    UNION ALL
    SELECT i AS src, (3 * i + 11) % n.n AS dst FROM ids, n
  ) WHERE src <> dst
)"""


def _synthetic_link_edges(spark, sf_dir):
    """(docs, edges) of the shared fixture graph — the Spark twin of
    _EDGES_CTE."""
    docs = c.load(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    ids = docs.select(F.col("doc_id").alias("i"))
    edges = (
        ids.select(
            F.col("i").alias("src"), ((F.col("i") * 2 + 7) % n).alias("dst")
        )
        .unionAll(
            ids.select(
                F.col("i").alias("src"),
                ((F.col("i") * 3 + 11) % n).alias("dst"),
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return docs, edges



def _pagerank_fixed_iters(spark, sf_dir):
    """The ITERATIVE PageRank job itself, oracle-checked: exactly
    PAGERANK_FIXED_ITERS power iterations (threshold=-1 disables both
    convergence exits) over the same deterministic synthetic graph as
    pagerank_docs (i -> (2i+7) mod N, i -> (3i+11) mod N). DuckDB
    replays the loop as a recursive CTE over an expand relation:
    one keep-alive row per vertex (NULL weight, so sum() ignores it
    and an inbound-less vertex lands on 0.15 — the source term) plus
    one weighted row per edge (1/outdeg). On this graph every dst is
    a vertex, so the reference's dangling-target drop is trivially
    satisfied on both sides.

    Determinism: scripts-side margin scan puts the closest 5-iteration
    rank to a round-4 boundary at 2.15e-7, and the worst cross-engine
    association difference (damping inside vs outside the sum) at
    6.7e-16 — eight orders of magnitude of headroom."""
    from .pagerank import pagerank

    docs, edges = _synthetic_link_edges(spark, sf_dir)
    ranks = pagerank(
        docs, edges, threshold=-1.0, max_iterations=PAGERANK_FIXED_ITERS
    )
    return ranks.select("doc_id", F.round("rank", 4).alias("rank"))


PAGERANK_FIXED_ITERS_SQL = f"""
WITH RECURSIVE
{_EDGES_CTE},
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
expand AS (
  SELECT i AS src, i AS tgt, CAST(NULL AS DOUBLE) AS w FROM ids
  UNION ALL
  SELECT e.src, e.dst, 1.0 / o.outdeg FROM edges e JOIN outdeg o USING (src)
),
pr AS (
  SELECT 0 AS iter, i AS doc_id, CAST(1.0 AS DOUBLE) AS rank FROM ids
  UNION ALL
  SELECT p.iter + 1, x.tgt, 0.15 + 0.85 * coalesce(sum(p.rank * x.w), 0.0)
  FROM pr p JOIN expand x ON x.src = p.doc_id
  WHERE p.iter < {PAGERANK_FIXED_ITERS}
  GROUP BY p.iter + 1, x.tgt
)
SELECT doc_id, round(rank, 4) AS rank FROM pr
WHERE iter = {PAGERANK_FIXED_ITERS}
"""


EXTRA_ORACLE_QUERIES["pagerank_fixed_iters"] = (
    _pagerank_fixed_iters,
    PAGERANK_FIXED_ITERS_SQL,
)

BFS_MAX_DEPTH = 8


def _crawl_frontier_bfs(spark, sf_dir):
    """The crawler's frontier-expansion traversal, oracle-checked in
    pure-graph form (the crawl_bfs gate entry keeps the full
    fetch/robots/redirect semantics and stays rows-only): shortest hop
    count from seed doc 0 over the synthetic link graph, depth-bounded.
    All-integer output, so there is no float determinism question; the
    oracle enumerates paths recursively (511 rows at depth 8, outdeg
    <= 2) and takes min(depth) per vertex == first-visit BFS depth."""
    from .pagerank import bfs_depths

    docs, edges = _synthetic_link_edges(spark, sf_dir)
    seeds = docs.where(F.col("doc_id") == 0)
    return bfs_depths(seeds, edges, max_depth=BFS_MAX_DEPTH)


CRAWL_FRONTIER_BFS_SQL = f"""
WITH RECURSIVE
{_EDGES_CTE},
walk AS (
  SELECT CAST(0 AS BIGINT) AS doc_id, 0 AS depth
  UNION ALL
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.doc_id
  WHERE w.depth < {BFS_MAX_DEPTH}
)
SELECT doc_id, CAST(min(depth) AS INT) AS depth FROM walk GROUP BY doc_id
"""


EXTRA_ORACLE_QUERIES["crawl_frontier_bfs"] = (
    _crawl_frontier_bfs,
    CRAWL_FRONTIER_BFS_SQL,
)
HITS_ITERS = 3


def _hits_scores(spark, sf_dir):
    """HITS hubs & authorities over the same synthetic link graph as
    pagerank_fixed_iters, in the exact integer (unnormalized)
    formulation — see pagerank.hits_fixed_iters. Every score is an
    int64 path count, so cross-engine agreement is exact by
    construction (no rounding policy needed at all). The oracle
    unrolls the HITS_ITERS iterations as a generated CTE chain: with
    a fixed iteration count, recursion adds nothing over chaining."""
    from .pagerank import hits_fixed_iters

    docs, edges = _synthetic_link_edges(spark, sf_dir)
    out = hits_fixed_iters(
        docs.select(F.col("doc_id").alias("id")), edges, iters=HITS_ITERS
    )
    return out.select(F.col("id").alias("doc_id"), "auth", "hub")


def _hits_sql(iters: int) -> str:
    ctes = ["h0 AS (SELECT i AS id, CAST(1 AS BIGINT) AS hub FROM ids)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"a{k}r AS (SELECT e.dst AS id, sum(h.hub) AS v"
            f" FROM edges e JOIN h{k - 1} h ON h.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"a{k} AS (SELECT i AS id, CAST(coalesce(v, 0) AS BIGINT) AS auth"
            f" FROM ids LEFT JOIN a{k}r ON a{k}r.id = i)"
        )
        ctes.append(
            f"h{k}r AS (SELECT e.src AS id, sum(a.auth) AS v"
            f" FROM edges e JOIN a{k} a ON a.id = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"h{k} AS (SELECT i AS id, CAST(coalesce(v, 0) AS BIGINT) AS hub"
            f" FROM ids LEFT JOIN h{k}r ON h{k}r.id = i)"
        )
    chain = ",\n".join(ctes)
    return f"""
WITH
{_EDGES_CTE},
{chain}
SELECT a.id AS doc_id, a.auth, h.hub
FROM a{iters} a JOIN h{iters} h ON h.id = a.id
"""


HITS_SCORES_SQL = _hits_sql(HITS_ITERS)


EXTRA_ORACLE_QUERIES["hits_scores"] = (_hits_scores, HITS_SCORES_SQL)


def _triangle_counts(spark, sf_dir):
    """Per-vertex triangle counts over the same synthetic link graph
    (undirected view) — see pagerank.triangle_counts. Integer-exact;
    the oracle enumerates a<b<c triangles with three equi-joins."""
    from .pagerank import triangle_counts

    docs, edges = _synthetic_link_edges(spark, sf_dir)
    out = triangle_counts(docs.select(F.col("doc_id").alias("id")), edges)
    return out.select(F.col("id").alias("doc_id"), "n_triangles")


TRIANGLE_COUNTS_SQL = f"""
WITH
{_EDGES_CTE},
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM edges
),
tri AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM und ab
  JOIN und bc ON bc.lo = ab.hi
  JOIN und ac ON ac.lo = ab.lo AND ac.hi = bc.hi
),
corners AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
per AS (SELECT id, count(*) AS n_triangles FROM corners GROUP BY id)
SELECT i AS doc_id, CAST(coalesce(per.n_triangles, 0) AS BIGINT) AS n_triangles
FROM ids LEFT JOIN per ON per.id = i
"""


EXTRA_ORACLE_QUERIES["triangle_counts"] = (_triangle_counts, TRIANGLE_COUNTS_SQL)


def _clustering_coeffs(spark, sf_dir):
    """Local clustering coefficients over the same synthetic graph —
    see pagerank.clustering_coefficients (integer degree/triangles,
    one rounded ratio)."""
    from .pagerank import clustering_coefficients

    docs, edges = _synthetic_link_edges(spark, sf_dir)
    out = clustering_coefficients(docs.select(F.col("doc_id").alias("id")), edges)
    return out.select(
        F.col("id").alias("doc_id"), "degree", "n_triangles", "cc"
    )


CLUSTERING_COEFFS_SQL = f"""
WITH
{_EDGES_CTE},
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM edges
),
deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT lo AS id FROM und UNION ALL SELECT hi FROM und
  ) GROUP BY id
),
tri AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM und ab
  JOIN und bc ON bc.lo = ab.hi
  JOIN und ac ON ac.lo = ab.lo AND ac.hi = bc.hi
),
corners AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
per AS (SELECT id, count(*) AS n_triangles FROM corners GROUP BY id)
SELECT i AS doc_id,
       CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
       CAST(coalesce(per.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN coalesce(deg.degree, 0) >= 2
            THEN round(2.0 * coalesce(per.n_triangles, 0)
                       / (deg.degree * (deg.degree - 1)), 4)
            ELSE 0.0 END AS cc
FROM ids
LEFT JOIN deg ON deg.id = i
LEFT JOIN per ON per.id = i
"""


EXTRA_ORACLE_QUERIES["clustering_coeffs"] = (
    _clustering_coeffs,
    CLUSTERING_COEFFS_SQL,
)


LPA_ITERS = 3


def _label_propagation(spark, sf_dir):
    """Synchronous fixed-iteration label-propagation communities over
    the shared synthetic link graph (pagerank.label_propagation) —
    integer labels, smallest-label tie-break, so the oracle's unrolled
    CTE chain must agree exactly (the HITS pattern: with a fixed
    iteration count, recursion adds nothing over chaining)."""
    from .pagerank import label_propagation

    docs, edges = _synthetic_link_edges(spark, sf_dir)
    out = label_propagation(
        docs.select(F.col("doc_id").alias("id")), edges, iters=LPA_ITERS
    )
    return out.select(F.col("id").alias("doc_id"), "community")


def _lpa_sql(iters: int) -> str:
    ctes = [
        """und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM edges
)""",
        """adj AS (
  SELECT lo, hi FROM und UNION ALL SELECT hi, lo FROM und
)""",
        "l0 AS (SELECT i AS id, i AS lbl FROM ids)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"c{k} AS (SELECT a.lo AS id, l.lbl, count(*) AS c"
            f" FROM adj a JOIN l{k - 1} l ON l.id = a.hi GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{k} AS (SELECT id, lbl FROM c{k}"
            f" QUALIFY row_number() OVER (PARTITION BY id"
            f" ORDER BY c DESC, lbl) = 1)"
        )
        ctes.append(
            f"l{k} AS (SELECT i AS id, coalesce(t.lbl, p.lbl) AS lbl"
            f" FROM ids LEFT JOIN t{k} t ON t.id = i"
            f" JOIN l{k - 1} p ON p.id = i)"
        )
    chain = ",\n".join(ctes)
    return f"""
WITH
{_EDGES_CTE},
{chain}
SELECT id AS doc_id, lbl AS community FROM l{iters}
"""


LABEL_PROPAGATION_SQL = _lpa_sql(LPA_ITERS)


EXTRA_ORACLE_QUERIES["label_propagation"] = (
    _label_propagation,
    LABEL_PROPAGATION_SQL,
)
EXTRA_ORACLE_QUERIES["ivf_ann_topk"] = (t.ivf_ann_topk, t.IVF_ANN_TOPK_SQL)
EXTRA_ORACLE_QUERIES["dataset_split"] = (t.dataset_split, t.DATASET_SPLIT_SQL)
EXTRA_ORACLE_QUERIES["ngram_jaccard"] = (t.ngram_jaccard, t.NGRAM_JACCARD_SQL)
EXTRA_ORACLE_QUERIES["bigram_lm_scores"] = (
    t.bigram_lm_scores,
    t.BIGRAM_LM_SCORES_SQL,
)
EXTRA_ORACLE_QUERIES["spell_suggest"] = (t.spell_suggest, t.SPELL_SUGGEST_SQL)
EXTRA_ORACLE_QUERIES["flame_cogroup"] = (c.flame_cogroup, c.FLAME_COGROUP_SQL)
EXTRA_ORACLE_QUERIES["flame_join"] = (c.flame_join, c.FLAME_JOIN_SQL)
EXTRA_ORACLE_QUERIES["search_eval_ndcg"] = (
    t.search_eval_ndcg,
    t.SEARCH_EVAL_NDCG_SQL,
)
EXTRA_ORACLE_QUERIES["streaming_quality_filter"] = (
    t.streaming_quality_filter,
    t.QUALITY_FILTER_SQL,
)
EXTRA_ORACLE_QUERIES["boolean_search"] = (
    t.boolean_search,
    t.BOOLEAN_SEARCH_SQL,
)
EXTRA_ORACLE_QUERIES["source_collapse"] = (
    t.source_collapse,
    t.SOURCE_COLLAPSE_SQL,
)
EXTRA_ORACLE_QUERIES["boolean_wildcard_search"] = (
    t.boolean_wildcard_search,
    t.BOOLEAN_WILDCARD_SQL,
)
EXTRA_ORACLE_QUERIES["events_quantiles"] = (
    c.events_quantiles,
    c.EVENTS_QUANTILES_SQL,
)
EXTRA_ORACLE_QUERIES["search_eval_mrr"] = (
    t.search_eval_mrr,
    t.SEARCH_EVAL_MRR_SQL,
)
EXTRA_ORACLE_QUERIES["funnel_events"] = (
    c.funnel_events,
    c.FUNNEL_EVENTS_SQL,
)
EXTRA_ORACLE_QUERIES["events_retention"] = (
    c.events_retention,
    c.EVENTS_RETENTION_SQL,
)
EXTRA_ORACLE_QUERIES["events_transitions"] = (
    c.events_transitions,
    c.EVENTS_TRANSITIONS_SQL,
)
EXTRA_ORACLE_QUERIES["term_pmi"] = (t.term_pmi, t.TERM_PMI_SQL)
EXTRA_ORACLE_QUERIES["doc_keywords"] = (t.doc_keywords, t.DOC_KEYWORDS_SQL)
EXTRA_ORACLE_QUERIES["contamination_check"] = (
    t.contamination_check,
    t.CONTAMINATION_CHECK_SQL,
)
EXTRA_ORACLE_QUERIES["pack_chunks"] = (t.pack_chunks_query, t.PACK_CHUNKS_SQL)
EXTRA_ORACLE_QUERIES["epoch_shuffle"] = (t.epoch_shuffle, t.EPOCH_SHUFFLE_SQL)
EXTRA_ORACLE_QUERIES["pii_redact"] = (t.pii_redact, t.PII_REDACT_SQL)
EXTRA_ORACLE_QUERIES["source_mix_plan"] = (
    t.source_mix_plan,
    t.SOURCE_MIX_PLAN_SQL,
)
EXTRA_ORACLE_QUERIES["kmv_distinct"] = (t.kmv_distinct, t.KMV_DISTINCT_SQL)
EXTRA_ORACLE_QUERIES["stratified_fixed_sample"] = (
    t.stratified_fixed_sample,
    t.STRATIFIED_FIXED_SAMPLE_SQL,
)
EXTRA_ORACLE_QUERIES["lexical_diversity"] = (
    t.lexical_diversity,
    t.LEXICAL_DIVERSITY_SQL,
)
EXTRA_ORACLE_QUERIES["corpus_drift"] = (t.corpus_drift, t.CORPUS_DRIFT_SQL)
EXTRA_ORACLE_QUERIES["substring_dup_spans"] = (
    t.substring_dup_spans,
    t.SUBSTRING_DUP_SPANS_SQL,
)
EXTRA_ORACLE_QUERIES["repetition_filter"] = (
    t.repetition_filter,
    t.REPETITION_FILTER_SQL,
)
EXTRA_ORACLE_QUERIES["dsir_importance"] = (
    t.dsir_importance,
    t.DSIR_IMPORTANCE_SQL,
)
EXTRA_ORACLE_QUERIES["sq8_ann_topk"] = (t.sq8_ann_topk, t.SQ8_ANN_TOPK_SQL)
EXTRA_ORACLE_QUERIES["bm25f_search"] = (t.bm25f_search, t.BM25F_SEARCH_SQL)
EXTRA_ORACLE_QUERIES["ltr_features"] = (t.ltr_features, t.LTR_FEATURES_SQL)
EXTRA_ORACLE_QUERIES["reverse_search"] = (
    t.reverse_search,
    t.REVERSE_SEARCH_SQL,
)
EXTRA_ORACLE_QUERIES["minhash_eval"] = (t.minhash_eval, t.MINHASH_EVAL_SQL)
EXTRA_ORACLE_QUERIES["events_doc_ctr"] = (
    t.events_doc_ctr,
    t.EVENTS_DOC_CTR_SQL,
)
EXTRA_ORACLE_QUERIES["streaming_reverse_search"] = (
    t.streaming_reverse_search,
    t.REVERSE_SEARCH_SQL,
)
EXTRA_ORACLE_QUERIES["dedup_cluster_sizes"] = (
    t.dedup_cluster_sizes,
    t.DEDUP_CLUSTER_SIZES_SQL,
)
EXTRA_ORACLE_QUERIES["events_hourly_anomaly"] = (
    t.events_hourly_anomaly,
    t.EVENTS_HOURLY_ANOMALY_SQL,
)
EXTRA_ORACLE_QUERIES["events_partitioned_day"] = (
    t.events_partitioned_day,
    t.EVENTS_PARTITIONED_DAY_SQL,
)
EXTRA_ORACLE_QUERIES["hybrid_eval_ndcg"] = (
    t.hybrid_eval_ndcg,
    t.HYBRID_EVAL_NDCG_SQL,
)
EXTRA_ORACLE_QUERIES["jsonl_roundtrip"] = (
    t.jsonl_roundtrip,
    t.JSONL_ROUNDTRIP_SQL,
)
EXTRA_ORACLE_QUERIES["count_min_terms"] = (
    t.count_min_terms,
    t.COUNT_MIN_TERMS_SQL,
)
EXTRA_ORACLE_QUERIES["bloom_filter_terms"] = (
    t.bloom_filter_terms,
    t.BLOOM_FILTER_TERMS_SQL,
)
EXTRA_ORACLE_QUERIES["source_quality_report"] = (
    t.source_quality_report,
    t.SOURCE_QUALITY_REPORT_SQL,
)
EXTRA_ORACLE_QUERIES["flame_count"] = (c.flame_count, c.FLAME_COUNT_SQL)
EXTRA_ORACLE_QUERIES["flame_take"] = (c.flame_take, c.FLAME_TAKE_SQL)
EXTRA_ORACLE_QUERIES["flame_distinct"] = (c.flame_distinct, c.FLAME_DISTINCT_SQL)
EXTRA_ORACLE_QUERIES["flame_fold_sum"] = (c.flame_fold_sum, c.FLAME_FOLD_SUM_SQL)
EXTRA_ORACLE_QUERIES["flame_sample"] = (c.flame_sample, c.FLAME_SAMPLE_SQL)
EXTRA_ORACLE_QUERIES["flame_groupby"] = (c.flame_groupby, c.FLAME_GROUPBY_SQL)
EXTRA_ORACLE_QUERIES["flame_intersection"] = (
    c.flame_intersection,
    c.FLAME_INTERSECTION_SQL,
)
EXTRA_ORACLE_QUERIES["flame_flatmaptopair"] = (
    c.flame_flatmaptopair,
    c.FLAME_FLATMAPTOPAIR_SQL,
)

# The exact driver-gate surface and order: 45 oracle + 5 rows-only = 50.
# Headline text/search/dedup/analytics entries and every rows-only entry
# sit in the first ~27 slots; the cheap flame inventory fills the tail.
# The tuple is EXPLICIT (not a positional slice of dict order): adding
# or removing a QUERIES key can never silently reshuffle the gate or
# push a rows-only entry past the driver's 50-row window.
QUERY_ORDER = [
    # headline text / search / dedup / analytics (oracle)
    "wordcount",
    "token_stats",
    "term_stats",
    "tfidf_search",
    "bm25_search",
    "phrase_search",
    "term_autocomplete",
    "dedup_exact",
    "dedup_minhash",
    "minhash_verified_pairs",
    "simhash_pairs",
    "quality_scores",
    "lang_id",
    "fingerprints",
    "cosine_scores",
    "bpe_tokens",
    "phrase_search_blocked",
    "streaming_compaction",
    "bm25_maxscore_threshold",
    "merge_pages_composite",
    # round-5 promotions: LLM-pipeline dedup/quality + composites
    "dedup_keep_list",
    "partial_dup_pairs",
    "quality_filter",
    "embedding_near_dup",
    "lang_id_accuracy",
    "versioned_time_travel",
    "stream_dedup",
    # rows-only (iterative / non-SQL-expressible)
    "bpe_merge_encode",
    "multimodal_image_features",
    "crawl_bfs",
    "pagerank_docs",
    "lsh_cosine_topk",
    # events + TPC-H + relational operator inventory (oracle)
    "events_hourly",
    "events_sessions",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q18",
    "tpch_q2_style",
    "setop_union_except",
    "rollup_revenue",
    "pivot_status",
    "window_top_order",
    "join_semi_anti",
    # Flame operator inventory tail (distinctive-semantics ops only;
    # the rest are parity-tested in EXTRA_ORACLE_QUERIES)
    "flame_filter",
    "flame_foldbykey",
    "hybrid_search_rrf",
    "curate_corpus",
]
assert len(QUERY_ORDER) == 50, f"driver gate must hold exactly 50, got {len(QUERY_ORDER)}"
_missing = [
    n for n in QUERY_ORDER if n not in QUERIES and n not in NO_ORACLE_QUERIES
]
assert not _missing, f"gate names without an implementation: {_missing}"
assert set(QUERY_ORDER) >= set(NO_ORACLE_QUERIES), "rows-only entry fell out of the gate"
