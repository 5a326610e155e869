"""Round-trip and invariant tests for the posting blocks and the
doc numbering."""

import pytest
from pyspark.sql import functions as F

from google_like_search_engine_spark.compression import (
    assign_doc_indexes,
    block_postings,
    unblock_postings,
)
from google_like_search_engine_spark.indexer import build_postings


def test_block_postings_spark_roundtrip(spark):
    docs = spark.createDataFrame(
        [
            (f"doc{i}", f"http://x.com/{i}.html", "apples bananas " * (1 + i % 5))
            for i in range(40)
        ],
        "doc_id string, url string, text string",
    )
    postings = build_postings(docs)
    idx = assign_doc_indexes(postings)
    pidx = postings.join(idx, "doc_id")
    blocks = block_postings(pidx, block_span=16)
    back = unblock_postings(blocks)

    orig = {
        (r["term"], r["doc_index"]): (r["tf"], list(r["positions"]))
        for r in pidx.select("term", "doc_index", "tf", "positions").collect()
    }
    got = {
        (r["term"], r["doc_index"]): (r["tf"], list(r["positions"]))
        for r in back.collect()
    }
    assert got == orig

    # block invariants: doc-range alignment, bounded entries, metadata
    for b in blocks.collect():
        assert b["n_docs"] <= 16  # <= span entries per block per term
        assert b["base"] == b["block_id"] * 16
        assert b["base"] <= b["max_doc_index"] < b["base"] + 16


def test_block_postings_one_row_per_key_across_arrow_batches(spark):
    """A (term, block_id) group larger than the Arrow batch size
    (spark.sql.execution.arrow.maxRecordsPerBatch = 10000) must still
    build exactly ONE block row, its entries in doc order — regression
    for the old streaming encoder emitting duplicate rows when a group
    straddled a batch boundary."""
    n = 12001
    pidx = spark.range(n).select(
        F.lit("hot").alias("term"),
        F.col("id").alias("doc_index"),
        F.lit(1).alias("tf"),
        F.array(F.lit(1)).alias("positions"),
        F.lit(1).alias("dl"),
    )
    blocks = block_postings(pidx, block_span=16384).collect()
    assert len(blocks) == 1
    b = blocks[0]
    assert b["n_docs"] == n and b["span"] == 16384 and b["block_id"] == 0
    assert b["doc_offs"] == list(range(n)) and b["tfs"] == [1] * n
    assert b["pos"] == [[1]] * n


def test_assign_doc_indexes_dense_and_deterministic(spark):
    """Arrow two-phase numbering: dense 0..N-1 in doc_id sort order,
    stable across repeated runs, duplicates collapsed."""
    ids = [f"doc{i:05d}" for i in range(3000)]
    import random as _r

    shuffled = ids[:]
    _r.Random(3).shuffle(shuffled)
    docs = spark.createDataFrame(
        [(d,) for d in shuffled + shuffled[:100]], "doc_id string"
    )
    got = {r["doc_id"]: r["doc_index"] for r in assign_doc_indexes(docs).collect()}
    assert got == {d: i for i, d in enumerate(ids)}
    got2 = {r["doc_id"]: r["doc_index"] for r in assign_doc_indexes(docs).collect()}
    assert got2 == got


def test_assign_doc_indexes_url_order_with_duplicates(spark):
    """order_col="url" (the save_blocked layout): numbering follows url
    order with doc_id tiebreak, duplicates (including cross-batch
    adjacent ones) collapse to a single dense index — pins the
    partition-local dedup that replaced the global distinct."""
    rows = [(f"d{i:04d}", f"u{(997 * i) % 500:04d}") for i in range(500)]
    docs = spark.createDataFrame(
        rows * 3, "doc_id string, url string"  # every row duplicated 3x
    )
    got = sorted(
        (r["doc_id"], r["doc_index"])
        for r in assign_doc_indexes(docs, order_col="url").collect()
    )
    want_order = [d for d, _u in sorted(rows, key=lambda t: (t[1], t[0]))]
    assert got == sorted((d, i) for i, d in enumerate(want_order))


def test_assign_doc_indexes_refuses_float_order_col(spark):
    """Duplicate NaN keys count once in the Spark counts job but twice
    in the pandas numbering pass, which would number more rows than it
    counted: a floating-point order_col is refused up front."""
    docs = spark.createDataFrame(
        [("a", float("nan")), ("a", float("nan")), ("b", 1.0)],
        "doc_id string, score double",
    )
    with pytest.raises(ValueError, match="score"):
        assign_doc_indexes(docs, order_col="score")


def test_build_postings_sizes_python_stage_from_input(spark):
    """The tokenize stage's partition count is derived from estimated
    input bytes: a droplet input fanned out far beyond the core count
    is shrunk back below it (and never above defaultParallelism), while
    the emitted rows are unchanged."""
    spark.createDataFrame(
        [(f"d{i}", f"u{i}", "alpha beta gamma " * 5) for i in range(200)],
        "doc_id string, url string, text string",
    ).coalesce(1).write.mode("overwrite").parquet("/tmp/test_bp_sizing")
    docs = spark.read.parquet("/tmp/test_bp_sizing")
    par = spark.sparkContext.defaultParallelism
    wide = build_postings(docs.repartition(4 * par))
    assert wide.rdd.getNumPartitions() <= par
    narrow = build_postings(docs)
    assert sorted(map(tuple, narrow.collect())) == sorted(
        map(tuple, wide.collect())
    )
