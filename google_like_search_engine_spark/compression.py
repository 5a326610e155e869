"""Delta-gap + varint block compression for posting lists.

The scale path for the 10^12-doc tier (north-star): posting lists are
stored as fixed-size blocks of delta-gapped, varint-encoded doc indexes
with per-block skip metadata (max doc index), enabling block-max WAND
pruning and bounded-memory merges. Logical arrays stay queryable; the
binary codec runs in Arrow-batched pandas UDFs.

Doc IDs in this engine are 40-char hash strings (reference row keys);
compression operates on a dense int64 *doc index* assigned per build
(``assign_doc_indexes``), with the (doc_index -> doc_id/url) mapping
kept as a dimension table.

Wire format per block (little-endian):
  varint(n_docs)
  varint gaps of doc indexes (first = delta from block base, then gaps)
  varint tfs
  varint(len positions_i) + varint position gaps, per doc
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# doc-id bytes per range partition when numbering a small id set (see
# assign_doc_indexes); at real corpus sizes the shuffle.partitions cap
# governs instead.
RANGE_SPLIT_BYTES = 4 * 1024 * 1024


def varint_encode(values, out: bytearray) -> None:
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break


def varint_decode(buf: bytes, pos: int, count: int):
    vals = []
    for _ in range(count):
        shift = 0
        v = 0
        while True:
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        vals.append(v)
    return vals, pos


def encode_block(doc_idxs, tfs, positions_lists, base: int = 0) -> bytes:
    """Encode one posting block (doc_idxs ascending)."""
    out = bytearray()
    varint_encode([len(doc_idxs)], out)
    gaps = []
    prev = base
    for d in doc_idxs:
        gaps.append(d - prev)
        prev = d
    varint_encode(gaps, out)
    varint_encode(tfs, out)
    for plist in positions_lists:
        varint_encode([len(plist)], out)
        pgaps = []
        prev = 0
        for p in plist:
            pgaps.append(p - prev)
            prev = p
        varint_encode(pgaps, out)
    return bytes(out)


def decode_block(buf: bytes, base: int = 0):
    """-> (doc_idxs, tfs, positions_lists)."""
    (n,), pos = varint_decode(buf, 0, 1)
    gaps, pos = varint_decode(buf, pos, n)
    doc_idxs = []
    acc = base
    for g in gaps:
        acc += g
        doc_idxs.append(acc)
    tfs, pos = varint_decode(buf, pos, n)
    positions_lists = []
    for _ in range(n):
        (ln,), pos = varint_decode(buf, pos, 1)
        pgaps, pos = varint_decode(buf, pos, ln)
        plist = []
        p = 0
        for g in pgaps:
            p += g
            plist.append(p)
        positions_lists.append(plist)
    return doc_idxs, tfs, positions_lists


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
    """
    spark = docs.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = ["doc_id"] if order_col == "doc_id" else [order_col, "doc_id"]
    sel = docs.select(*cols)
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


BLOCKS_SCHEMA = (
    "term string, block_id long, base long, max_doc_index long, "
    "n_docs int, max_tf int, span int, doc_offs array<int>, "
    "tfs array<int>, dls array<int>, block binary"
)

# doc-index span per block: a head term contributes <= span entries per
# block; a block's doc range is [block_id*span, (block_id+1)*span).
BLOCK_SPAN = 8192


def block_postings(
    postings_idx: DataFrame,
    block_span: int = BLOCK_SPAN,
    num_partitions: int | None = None,
) -> DataFrame:
    """(term, doc_index, tf, positions, dl) -> compressed posting blocks.

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

    Two physical representations per block:
    - ``doc_offs``/``tfs``/``dls``: columnar int arrays (offset =
      doc_index - base, always < span so int32 is safe at any corpus
      size; ``dls`` the per-doc lengths from the input's ``dl``) — the
      SCORING path reads these via arrays_zip + explode, fully inside
      whole-stage codegen, no Python workers in the query hot path
      (``scoring_entries``). With ``dls`` denormalized into the block,
      BM25 scoring needs NO join at all until the final top-k url
      lookup — the self-contained-postings serving layout.
    - ``block``: the delta-gap varint blob holding the full posting
      incl. positions — the PHRASE/positions path decodes it in an
      Arrow-batched pass (``unblock_postings``).

    Invariant: exactly ONE output row per (term, block_id). The
    exchange co-locates each block's entries on one reducer and
    sortWithinPartitions makes each group contiguous; the encoder
    streams Arrow batches, carrying the open group across batch
    boundaries so a group straddling a batch still emits one block.
    """
    with_block = postings_idx.select(
        "term", "doc_index", "tf", "positions", "dl"
    ).withColumn("block_id", (F.col("doc_index") / block_span).cast("long"))

    cols = [
        "term", "block_id", "base", "max_doc_index", "n_docs", "max_tf",
        "span", "doc_offs", "tfs", "dls", "block",
    ]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None  # open (term, block_id) group

        def emit(g: pd.DataFrame):
            term = g["term"].iloc[0]
            block_id = int(g["block_id"].iloc[0])
            g = g.sort_values("doc_index")
            idxs = g["doc_index"].tolist()
            tfs = [int(x) for x in g["tf"]]
            base = block_id * block_span
            blob = encode_block(idxs, tfs, g["positions"].tolist(), base)
            return (
                term, block_id, base, idxs[-1], len(idxs),
                int(g["tf"].max()), block_span,
                [int(d - base) for d in idxs], tfs, [int(x) for x in g["dl"]],
                blob,
            )

        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if pdf.empty:
                continue
            last_key = (pdf["term"].iloc[-1], pdf["block_id"].iloc[-1])
            tail = pdf[(pdf["term"] == last_key[0]) & (pdf["block_id"] == last_key[1])]
            head = pdf.drop(tail.index)
            pending = tail
            if not head.empty:
                rows = [
                    emit(g) for _, g in head.groupby(["term", "block_id"], sort=False)
                ]
                yield pd.DataFrame(rows, columns=cols)
        if pending is not None and not pending.empty:
            yield pd.DataFrame([emit(pending)], columns=cols)

    # exchange on (term, block_id), then sort within partitions so each
    # group is contiguous for the streaming encoder above. The partition
    # count is pinned EXPLICITLY: a bare repartition(cols) is
    # AQE-coalescible, and the 64 MB advisory target collapses the
    # encode stage to a handful of Python workers regardless of core
    # count — the encoder is CPU-bound (varint loops), not bytes-bound,
    # so parallelism must track cores, not shuffle bytes. (A
    # size-derived count like build_postings' was measured and
    # reverted: the typical input here is a join of two python-stage
    # outputs, whose size ESTIMATE explodes multiplicatively — 79 GB
    # estimated for a 1.6 MB index — so the derivation never fires and
    # only adds a ~100 ms stats analysis per build.)
    spark = postings_idx.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        with_block.repartition(n, "term", "block_id")
        .sortWithinPartitions("term", "block_id")
        .mapInPandas(encode, schema=BLOCKS_SCHEMA)
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
    """Inverse of block_postings -> (term, doc_index, tf, positions)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms, idxs_out, tfs_out, pos_out = [], [], [], []
            for term, base, blob in zip(pdf["term"], pdf["base"], pdf["block"]):
                idxs, tfs, plists = decode_block(bytes(blob), base=int(base))
                terms.extend([term] * len(idxs))
                idxs_out.extend(idxs)
                tfs_out.extend(tfs)
                pos_out.extend(plists)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_index": idxs_out,
                    "tf": tfs_out,
                    "positions": pos_out,
                }
            )

    return blocks.mapInPandas(
        decode, schema="term string, doc_index long, tf int, positions array<int>"
    )
