"""Doc-range posting blocks for the blocked index.

The scale path for the 10^12-doc tier (north-star): posting lists are
stored as blocks aligned to doc-index ranges, one row per (term,
block) with per-block skip metadata (max doc index, max tf), so a
query reads only its terms' blocks and a merge streams bounded rows.
Every block column is a plain parquet column (parquet's own dictionary,
bit-packing and page compression do the byte work), and the block
build, the scoring path and the positional path are all SQL: no Python
worker touches a block.

Doc IDs in this engine are 40-char hash strings (reference row keys);
compression operates on a dense int64 *doc index* assigned per build
(``assign_doc_indexes``), with the (doc_index -> doc_id/url) mapping
kept as a dimension table.

Layout per block row (``block_postings``):
  term, block_id, base = block_id * span, max_doc_index, n_docs,
  max_tf, span;
  doc_offs, tfs, dls: one int per doc (doc_index - base, tf, doc
  length), ascending by doc_offs;
  pos: one ascending position list per doc, aligned with doc_offs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# doc-id bytes per range partition when numbering a small id set (see
# assign_doc_indexes); at real corpus sizes the shuffle.partitions cap
# governs instead.
RANGE_SPLIT_BYTES = 4 * 1024 * 1024


def assign_doc_indexes(docs: DataFrame, order_col: str = "doc_id") -> DataFrame:
    """Dense int64 doc_index per doc_id, deterministic (``order_col``
    order — doc_id by default; the blocked serving index orders by url
    so that doc_index ties break identically to url ties).

    Distributed two-phase numbering, all Arrow-batched (no per-row
    Python, no RDD): range-partition + sort doc_id, cache that exact
    partitioning, count rows per partition (one cheap job), broadcast
    the cumulative offsets, then a mapInPandas adds offset +
    partition-local sequence. A window row_number with no partition key
    would funnel everything through a single reducer instead.

    The (doc_id -> doc_index) map is broadcast-joinable at test scale;
    at 10^12 docs persist it bucketed by doc_id and bucket-join instead.

    A floating-point ``order_col`` (or doc_id) raises ValueError: the
    counts job compares rows with Spark's struct equality, where NaN
    equals NaN, but the numbering pass compares pandas tuples, where it
    does not, so duplicate NaN rows would be numbered more often than
    counted and collide with the next partition's indexes.
    """
    spark = docs.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = ["doc_id"] if order_col == "doc_id" else [order_col, "doc_id"]
    sel = docs.select(*cols)
    floats = [c for c, t in sel.dtypes if t in ("float", "double")]
    if floats:
        raise ValueError(
            f"assign_doc_indexes orders by {', '.join(floats)}: floating-point "
            "keys are not supported (NaN breaks the duplicate collapse)"
        )
    # size-derived range-partition count (guide §2): a small id set in
    # shuffle.partitions range buckets pays 30+ scheduled tasks in each
    # of the three numbering jobs for droplets of data. Estimated plan
    # bytes at RANGE_SPLIT_BYTES per partition, capped at the configured
    # shuffle.partitions (unknown stats estimate as huge -> cap, i.e.
    # the old behavior at scale).
    est = int(sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    nparts = max(1, min(nparts, -(-est // RANGE_SPLIT_BYTES)))
    # Two structural cuts vs the original three-pass shape (guide §1.2
    # / §2.4 — remove shuffles and passes first):
    # 1. NO global .distinct(): range partitioning by order_col already
    #    co-locates equal rows (equal keys land in one range), so dedup
    #    is partition-local — the counts job counts distinct rows per
    #    partition and the numbering pass drops sorted-adjacent
    #    duplicates. That deletes a full shuffle that used to run twice
    #    (once inside the range sampler, once in the materialization).
    # 2. ONE localCheckpoint (not persist+count+second checkpoint):
    #    it pins partitioning and row order, the counts job reads the
    #    checkpointed blocks, and the numbering pass stays lazy —
    #    deterministic over pinned input.
    # sortWithinPartitions uses ALL cols so duplicates are adjacent and
    # order_col ties break deterministically on doc_id.
    ids = (
        sel.repartitionByRange(nparts, order_col)
        .sortWithinPartitions(*cols)
        .localCheckpoint(eager=True)
    )
    counts = (
        ids.groupBy(F.spark_partition_id().alias("pid"))
        # distinct STRUCT, not countDistinct(cols): the struct form
        # counts rows with null fields the way .distinct() kept them
        .agg(F.count_distinct(F.struct(*cols)).alias("n"))
        .collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["n"]
    boff = spark.sparkContext.broadcast(offsets)
    _miss = ()  # never equals a row tuple (rows have >= 1 column)

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        nxt = boff.value.get(TaskContext.get().partitionId(), 0)
        prev = _miss
        for pdf in batches:
            keep = []
            for i, tup in enumerate(zip(*[pdf[c] for c in cols])):
                if tup != prev:
                    keep.append(i)
                    prev = tup
            kept = pdf["doc_id"].iloc[keep].reset_index(drop=True)
            idx = pd.RangeIndex(nxt, nxt + len(kept))
            nxt += len(kept)
            yield pd.DataFrame({"doc_id": kept, "doc_index": idx.to_numpy()})

    # the numbering is LAZY over the checkpointed ids: partition ids,
    # row order and counts are pinned by the checkpoint above, so every
    # evaluation yields the identical (doc_id -> doc_index) assignment
    # without a second eager materialization job.
    return ids.mapInPandas(number, schema="doc_id string, doc_index long")


# doc-index span per block: a head term contributes <= span entries per
# block; a block's doc range is [block_id*span, (block_id+1)*span).
BLOCK_SPAN = 8192

# the in-memory bytes of one block row's int arrays (4 per doc offset,
# tf, doc length and position): the one size measure save_blocked sizes
# its term buckets by and index_stats reports
BLOCK_BYTES = "4 * (3 * n_docs + aggregate(pos, 0L, (acc, p) -> acc + size(p)))"


def block_postings(
    postings_idx: DataFrame,
    block_span: int = BLOCK_SPAN,
    num_partitions: int | None = None,
) -> DataFrame:
    """(term, doc_index, tf, positions, dl) -> posting blocks, lazily.

    Blocks are aligned to *doc-index ranges* (block_id = doc_index //
    block_span), not fixed entry counts: block assignment is a pure
    projection (no per-term window/sort — the thing that made a
    collect_list merge anti-scale on head terms), the shuffle key
    (term, block_id) spreads a stopword-like term across
    ceil(N/span) reducers, and doc-aligned blocks are exactly the
    skip-list structure block-max WAND wants (all terms' blocks for a
    doc range co-locate). ``max_tf`` per block is the block-max bound;
    ``span`` is persisted per row (constant per build, RLE-free in
    parquet) so readers never have to infer it.

    One columnar representation per block: ``doc_offs``/``tfs``/``dls``
    int arrays (offset = doc_index - base, always < span so int32 is
    safe at any corpus size; ``dls`` the per-doc lengths from the
    input's ``dl``) and ``pos``, each doc's position list. The scoring
    path explodes ``arrays_zip(doc_offs, tfs, dls)`` and the phrase and
    proximity paths ``arrays_zip(doc_offs, pos)``, both inside
    whole-stage codegen (``scoring_entries``, wand.blocked_phrase_topk).
    With ``dls`` denormalized into the block, BM25 scoring needs NO
    join at all until the final top-k url lookup — the
    self-contained-postings serving layout.

    The build is ONE aggregation per (term, block_id): each entry
    becomes a struct keyed by its doc offset, and ``array_sort`` over
    the collected structs orders a block's entries by doc offset
    whatever order the exchange delivered them in, so the output is
    deterministic and holds exactly one row per (term, block_id).
    ``num_partitions`` pins the exchange's partition count; without it
    spark.sql.shuffle.partitions applies (AQE may coalesce it).
    """
    entries = postings_idx.selectExpr(
        "term",
        f"doc_index DIV {int(block_span)} AS block_id",
        f"struct(CAST(doc_index % {int(block_span)} AS INT) AS doc_offs,"
        " CAST(tf AS INT) AS tfs, CAST(dl AS INT) AS dls,"
        " CAST(positions AS ARRAY<INT>) AS pos) AS e",
    )
    if num_partitions:
        entries = entries.repartition(int(num_partitions), "term", "block_id")
    return entries.groupBy("term", "block_id").agg(
        F.expr("array_sort(collect_list(e))").alias("e")
    ).selectExpr(
        "term",
        "block_id",
        f"block_id * {int(block_span)} AS base",
        f"block_id * {int(block_span)} + element_at(e, -1).doc_offs AS max_doc_index",
        "size(e) AS n_docs",
        "array_max(e.tfs) AS max_tf",
        f"{int(block_span)} AS span",
        "e.doc_offs AS doc_offs",
        "e.tfs AS tfs",
        "e.dls AS dls",
        "e.pos AS pos",
    )


# The one decode of the columnar block arrays into scoring entries, as
# SQL expressions: ``scoring_entries`` applies them to a DataFrame and
# wand.entries_sql embeds them in the serving text.
ENTRY_EXPLODE = "explode(arrays_zip(doc_offs, tfs, dls)) AS e"
ENTRY_COLUMNS = ("term", "base + e.doc_offs AS doc_index", "e.tfs AS tf", "e.dls AS dl")


def scoring_entries(blocks: DataFrame) -> DataFrame:
    """(term, doc_index, tf, dl) from the columnar arrays — pure
    arrays_zip + explode, stays in whole-stage codegen (the BM25 hot
    path never touches a Python worker), and ``dl`` rides along, so
    scoring needs no doc-length join."""
    return blocks.selectExpr("term", "base", ENTRY_EXPLODE).selectExpr(*ENTRY_COLUMNS)


def unblock_postings(blocks: DataFrame) -> DataFrame:
    """Inverse of block_postings -> (term, doc_index, tf, positions):
    one explode of the aligned arrays, in codegen."""
    return blocks.selectExpr(
        "term", "base", "explode(arrays_zip(doc_offs, tfs, pos)) AS e"
    ).selectExpr(
        "term", "base + e.doc_offs AS doc_index", "e.tfs AS tf", "e.pos AS positions"
    )
