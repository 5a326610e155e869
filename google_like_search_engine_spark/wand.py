"""Exact top-k pruning for BM25: relational MaxScore (WAND family).

The naive path scores every document containing any query term. At
10^12 docs a stopword-like query term makes that a full-corpus scan.
MaxScore/WAND prune exactly: a document that appears ONLY in
low-upper-bound ("non-essential") terms can never beat the running
threshold, so those terms' posting lists are only consulted for
candidate documents, never scanned in full.

This implementation is a DataFrame-level MaxScore, provably
score-identical to ranker.score_bm25 (property-tested in
tests/test_wand_and_lineage.py and tests/test_blocked_search.py):

1. per-term upper bound: ub_t = bm25_partial at the term's global
   max_tf and the corpus min dl (the term contribution is monotone in
   tf and antitone in dl).
2. threshold theta = exact k-th best score using only the
   highest-ub term's postings (a valid lower bound on the final k-th
   score; 0 when that list has < k entries).
3. essential terms = smallest suffix of terms (sorted by ub) whose
   ub-sum >= theta. Documents absent from all essential lists are
   provably below theta -> pruned.
4. full scoring runs only on candidates (left-semi join), reading
   non-essential lists through the candidate semi-join instead of a
   full scan; Catalyst turns the term filter into partition pruning
   when postings are stored partitioned/bucketed by term.

It runs on blocked postings (compression.block_postings), where step
4's semi-join additionally skips whole blocks via (base,
max_doc_index, max_tf) metadata — the block-max part. The flat
posting index has one plan, ranker.score_bm25: its per-query work is
one aggregation over the query terms' postings either way.

Every path scores through one kernel: ``bm25_idf`` for idf and
``bm25_partial`` for a term's contribution (a Column in plans, a float
for upper bounds), whose SQL-text form ``bm25_sql`` is the serving
paths' per-doc top-k.
"""

from __future__ import annotations

import bisect
import functools
import math

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import sqltext as sql
from .ranker import expand_query

_SCORED = "url string, score double"


def bm25_idf(n, df):
    """Robertson/Sparck-Jones idf ln((N - df + 0.5) / (df + 0.5) + 1),
    the one idf source. A Column ``df`` gives the JVM expression (the
    flat path counts df in-plan); a number gives the driver-side float
    that literal idf maps carry. The JVM log (StrictMath) and Python's
    libm log differ by one ulp on a few percent of (N, df) pairs —
    pinned by tests/test_wand_and_lineage.py — so scores agree across
    paths to ~1e-16 relative, not bit for bit."""
    if isinstance(df, Column):
        return F.log((F.lit(n) - df + 0.5) / (df + 0.5) + 1.0)
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def bm25_partial(tf, dl, idf, avgdl: float, k1: float = 1.2, b: float = 0.75):
    """One term's BM25 contribution, the one scoring kernel. With a
    Column ``tf`` it builds the plan expression; with plain numbers it
    is the Python twin MaxScore uses for upper bounds (tf = max_tf,
    dl = min_dl)."""
    if isinstance(tf, Column):
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / F.lit(avgdl)))
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


def idf_map(idf: dict) -> Column:
    """{term: idf} as a literal map looked up by the ``term`` column:
    idf enters the plan as literals (no df join, no per-query
    createDataFrame)."""
    return F.create_map(*[x for t in idf for x in (F.lit(t), F.lit(idf[t]))])[
        F.col("term")
    ]


def entry_partials(entries, idf: dict, avgdl, k1=1.2, b=0.75):
    """(doc_index, term, partial) for decoded (term, doc_index, tf, dl)
    entries (compression.scoring_entries): dl rides the blocks, so
    scoring joins nothing."""
    return entries.select(
        "doc_index", "term",
        bm25_partial(F.col("tf"), F.col("dl"), idf_map(idf), avgdl, k1, b).alias("partial"),
    )


def bm25_sql(rows: str, key: str, words, idf: dict, avgdl: float, k1: float = 1.2,
             b: float = 0.75, required=(), excluded=(), k: int | None = None,
             partitions: int | None = None) -> str:
    """The per-doc BM25 top-k as ONE SQL text, the shared kernel of the
    served and blocked paths: building it is one ``spark.sql`` call
    instead of a py4j round trip per Column. ``rows`` is a FROM item of
    (``key``, term, tf, dl) rows already filtered to the scanned terms.

    Every constant is a literal: idf a ``map(...)[term]`` and each
    number a DOUBLE, so the partial is ``bm25_partial``'s Column
    expression operand for operand and scores match it bit for bit.
    Unfiltered, a doc's score is the sum of its partials. With
    ``required``/``excluded`` (`+term -term`, rows scanned for words ∪
    required ∪ excluded) it is ONE aggregation into score = the sum of
    the ``words``' partials, one max(term = r) flag per required term
    and one max(term IN excluded) flag; a doc survives with every
    required flag, no excluded flag and a score (it holds a query
    word) — no per-filter semi/anti join. With ``k`` the text ends in
    ORDER BY (score DESC, ``key`` ASC) LIMIT k; ``partitions`` sizes
    the aggregation's exchange (a REPARTITION hint on ``key``) instead
    of spark.sql.shuffle.partitions."""
    idf_sql = "map(" + ", ".join(
        f"{sql.quote(t)}, {sql.dbl(v)}" for t, v in idf.items()
    ) + ")[term]"
    partial = (
        f"{idf_sql} * (tf * {sql.dbl(k1 + 1)}) / "
        f"(tf + (dl * {sql.dbl(b)} / {sql.dbl(avgdl)} + {sql.dbl(1 - b)}) * {sql.dbl(k1)})"
    )
    hint = f"/*+ REPARTITION({int(partitions)}, {key}) */ " if partitions else ""
    scored = f"SELECT {hint}{key}, term, {partial} AS partial FROM {rows}"
    if required or excluded:
        req = sorted(set(required))
        flags = [f"MAX(term = {sql.quote(w)}) AS _req{i}" for i, w in enumerate(req)]
        keep = ["score IS NOT NULL"] + [f"_req{i}" for i in range(len(req))]
        if excluded:
            flags.append(f"MAX(term IN ({sql.quotes(sorted(set(excluded)))})) AS _exc")
            keep.append("NOT _exc")
        per_doc = (
            f"SELECT {key}, score FROM (SELECT {key}, SUM(CASE WHEN term IN "
            f"({sql.quotes(words)}) THEN partial END) AS score, {', '.join(flags)} "
            f"FROM ({scored}) GROUP BY {key}) WHERE {' AND '.join(keep)}"
        )
    else:
        per_doc = f"SELECT {key}, SUM(partial) AS score FROM ({scored}) GROUP BY {key}"
    if k is None:
        return per_doc
    return f"{per_doc} ORDER BY score DESC, {key} ASC LIMIT {int(k)}"


def entries_sql(view: str, terms) -> str:
    """(term, doc_index, tf, dl) rows of ``terms`` from a blocks relation
    bound to ``view``: compression.scoring_entries as SQL text (its
    ENTRY_EXPLODE and ENTRY_COLUMNS; the columnar arrays exploded in
    codegen, no Python worker)."""
    from .compression import ENTRY_COLUMNS, ENTRY_EXPLODE

    return (
        f"(SELECT {', '.join(ENTRY_COLUMNS)} FROM (SELECT term, base, {ENTRY_EXPLODE} "
        f"FROM {view} WHERE term IN ({sql.quotes(terms)})))"
    )


def essential_terms(ub: dict, theta: float) -> set:
    """MaxScore split: drop the longest ub-ascending prefix whose ub sum
    stays below ``theta`` (a doc holding only those terms scores below
    theta) and return the remaining, essential, terms."""
    cum, essential = 0.0, set(ub)
    for t, u in sorted(ub.items(), key=lambda kv: kv[1]):
        if cum + u >= theta:
            break
        cum += u
        essential.discard(t)
    return essential


def _local_result_df(spark: SparkSession, rows: list, schema: str = _SCORED) -> DataFrame:
    """Rows already resolved driver-side (columns and SQL types given by
    the DDL ``schema``) -> a DataFrame whose collect() is a
    LocalTableScan (zero Spark jobs). A plain createDataFrame would
    round-trip the rows through parallelize and cost one more scheduled
    job on the latency path — even with no rows, so an empty result is
    a ``WHERE false`` select of typed NULLs."""
    cols = [c.split() for c in schema.split(",")]
    if not rows:
        nulls = ", ".join(f"CAST(NULL AS {t.upper()}) AS {n}" for n, t in cols)
        return spark.sql(f"SELECT {nulls} WHERE false")

    def lit(v, t: str) -> str:
        return sql.quote(v) if t == "string" else f"CAST({v!r} AS {t.upper()})"

    names = ", ".join(n for n, _t in cols)
    vals = ", ".join(
        "(" + ", ".join(lit(v, t) for v, (_n, t) in zip(row, cols)) + ")"
        for row in rows
    )
    return spark.sql(f"SELECT {names} FROM (VALUES {vals}) AS t({names})")


def _no_rows(spark, url_lookup, value_col="score", value_type="double") -> DataFrame:
    """The empty top-k in the schema of a non-empty one: keyed by
    doc_index with a ``url_lookup`` (see ``_topk``), else by url."""
    key = "url string" if url_lookup is None else "doc_index bigint"
    return _local_result_df(spark, [], f"{key}, {value_col} {value_type}")


def _query_words(query: str, use_stems: bool) -> list:
    return sorted({w.lower() for w in (expand_query(query) if use_stems else query.split())})


def _dl_stats(doc_stats_idx: DataFrame, doc_stats_agg: tuple | None) -> tuple:
    """(avgdl, min_dl): the build-time sidecar pair, else one aggregation."""
    if doc_stats_agg is not None:
        return float(doc_stats_agg[0]), float(doc_stats_agg[1])
    r = doc_stats_idx.agg(F.avg("n_term_entries"), F.min("n_term_entries")).collect()[0]
    return float(r[0] or 1.0), float(r[1] or 1.0)


def _term_stats(qblocks: DataFrame, words: list, term_stats: dict | None) -> dict:
    """{term: (df, max_tf)} for the query words present in the index:
    from the build-time dictionary (zero jobs), else one metadata-only
    aggregation over the pruned block scan."""
    if term_stats is not None:
        return {w: (int(term_stats[w][0]), int(term_stats[w][1]))
                for w in words if w in term_stats}
    return {
        r["term"]: (int(r["df"]), int(r["max_tf"]))
        for r in qblocks.groupBy("term")
        .agg(F.sum("n_docs").alias("df"), F.max("max_tf").alias("max_tf"))
        .collect()
    }


def topk_rows(rows, url_lookup: dict | None) -> list:
    """(url, value) pairs of a collected top-k: a result keyed by
    doc_index (a ``url_lookup`` was passed) resolves its k winners'
    urls through the lookup."""
    if url_lookup is None:
        return [tuple(r) for r in rows]
    return [(url_lookup[d], v) for d, v in rows]


def _topk(spark, by_doc, doc_stats_idx, k, url_lookup, cached=(),
          value_col="score", value_type="double") -> DataFrame:
    """Top ``k`` of (doc_index, value) by (value desc, url), then
    unpersist the per-query ``cached`` inputs.

    With ``url_lookup`` (the driver-side {doc_index: url} forward
    index — the in-process stand-in for the reference's KVS doc-store
    lookup after ranking) the result stays keyed by doc_index, and its
    collect is ONE Spark job: TakeOrdered collects the k winners and the
    caller resolves their urls driver-side (``topk_rows``). Engine
    layouts assign doc_index in url order, so the doc_index tiebreak IS
    the url tiebreak. A result that still reads ``cached`` inputs is
    collected here, before they are unpersisted. Without a lookup the
    url join runs distributed, and such a result is materialized
    executor-side first (k rows, no driver round-trip)."""
    if url_lookup is not None:
        out = by_doc.orderBy(F.desc(value_col), F.asc("doc_index")).limit(k)
        if cached:
            out = _local_result_df(
                spark, [tuple(r) for r in out.collect()],
                f"doc_index bigint, {value_col} {value_type}",
            )
    else:
        out = (
            by_doc.join(doc_stats_idx.select("doc_index", "url"), "doc_index")
            .select("url", value_col)
            .orderBy(F.desc(value_col), F.asc("url"))
            .limit(k)
        )
        if cached:
            out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def blocked_maxscore_topk(
    spark: SparkSession,
    query: str,
    blocks: DataFrame,
    doc_stats_idx: DataFrame,
    total_documents: int,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    use_stems: bool = True,
    doc_stats_agg: tuple | None = None,
    term_stats: dict | None = None,
    small_query_entries: int = 100_000,
    url_lookup: dict | None = None,
    required: list | None = None,
    excluded: list | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Exact BM25 top-k over the compressed blocked index
    (compression.block_postings output) with block-level skipping.

    Serving shape: a small or filtered query (every query of a
    benchmark-sized shard) is ONE literal-substituted SQL text
    (``bm25_sql`` over ``entries_sql``, the served path's kernel), and
    the returned DataFrame is lazy: its collect is the query's one
    Spark job. ``partitions`` sizes that aggregation's exchange (the
    engine passes one partition per block group of the shard).

    ``required``/``excluded``: boolean doc filters (`+term -term`
    syntax) — results must contain every required term and no excluded
    term (raw lowercased terms, matching the served path's semantics).
    A filtered query scans the blocks of words ∪ required ∪ excluded
    ONCE and aggregates per doc into its score (the query words'
    partials) plus one presence flag per required term and one for the
    excluded set, so it stays one job. It always scores every matched
    block: MaxScore's unfiltered upper bounds cannot order a FILTERED
    top-k. A required term absent from the index leaves its flag false
    everywhere, hence an empty result, with no dictionary lookup needed.

    ``doc_stats_idx``: (doc_index, url, n_term_entries). Score-identical
    to the naive scorer (property-tested).

    The block-max mechanics the doc-range-aligned layout enables:
    1. term stats come from block METADATA only (sum n_docs = df,
       max max_tf) — no decoding;
    2. theta is seeded by decoding only the highest-ub term's blocks;
    3. candidate doc_indexes come from decoding essential terms'
       blocks; non-essential terms then decode ONLY blocks whose
       doc-range intersects a candidate block (semi-join on block_id —
       whole blocks skip without touching their bytes).

    ``doc_stats_agg``: optional precomputed (avgdl, min_dl) and
    ``term_stats``: optional driver-side {term: (df, max_tf, ...)}
    dictionary — both written by the build as sidecars — together they
    remove every per-query metadata job. When the matched posting
    volume (sum of term dfs) is below ``small_query_entries``, the
    theta-seeding and essential-term machinery is skipped and all
    matched blocks score in ONE job — pruning can't save more than the
    extra driver round-trips cost on a small candidate set, and the
    result is identical either way (MaxScore is exact).

    ``url_lookup``: optional driver-side {doc_index: url} forward
    index. With it the result is keyed by doc_index — (doc_index,
    score) — and the caller resolves the k winners' urls
    (``topk_rows``); see ``_topk``.
    """
    from .compression import scoring_entries

    words = _query_words(query, use_stems)
    if not words:
        return _no_rows(spark, url_lookup)
    req = sorted({w.lower() for w in (required or [])})
    exc = sorted({w.lower() for w in (excluded or [])})
    n = float(total_documents)
    avgdl, min_dl = _dl_stats(doc_stats_idx, doc_stats_agg)

    # isin (not a broadcast-join with a literal DF): reaches the parquet
    # scan as PushedFilters In(term, ...) and costs no driver round-trip
    qblocks = None
    if term_stats is None:
        qblocks = blocks.where(F.col("term").isin(words)).persist()
    tstats = _term_stats(qblocks, words, term_stats)
    idf = {t: bm25_idf(n, df) for t, (df, _mt) in tstats.items()}
    # a filtered query, or a small one: total matched entries below the
    # threshold -> pruning saves less than its driver round-trips cost;
    # score all matched blocks in ONE job, built as one SQL text
    if not tstats or req or exc or sum(df for df, _mt in tstats.values()) <= small_query_entries:
        if qblocks is not None:
            qblocks.unpersist()
        if not tstats:
            return _no_rows(spark, url_lookup)
        # only dictionary words are scored: a word without postings
        # adds no rows, and one without an idf would score NULL
        hit = sorted(idf)
        scanned = sorted({*hit, *req, *exc})
        by_doc = sql.over(blocks, lambda v: bm25_sql(
            entries_sql(v, scanned), "doc_index", hit, idf, avgdl, k1, b, req, exc,
            k=None if url_lookup is None else k, partitions=partitions,
        ))
        if url_lookup is not None:
            return by_doc
        return _topk(spark, by_doc, doc_stats_idx, k, None)
    # big query: the MaxScore path reads qblocks several times
    if qblocks is None:
        qblocks = blocks.where(F.col("term").isin(words)).persist()
    ub = {t: bm25_partial(float(mt), min_dl, idf[t], avgdl, k1, b)
          for t, (_df, mt) in tstats.items()}
    # theta from the best term only
    best = max(ub, key=ub.get)
    seed = (
        entry_partials(
            scoring_entries(qblocks.where(F.col("term") == best)),
            idf, avgdl, k1, b,
        )
        .orderBy(F.desc("partial"))
        .limit(k)
        .collect()
    )
    theta = float(seed[-1]["partial"]) if len(seed) >= k else 0.0
    # essential is never empty here: theta <= ub[best]
    entries, ess = _candidate_entries(qblocks, ub, idf, theta, k1, b, min_dl, avgdl)
    cached = [qblocks, ess]
    by_doc = (
        entry_partials(entries, idf, avgdl, k1, b)
        .groupBy("doc_index")
        .agg(F.sum("partial").alias("score"))
    )
    return _topk(spark, by_doc, doc_stats_idx, k, url_lookup, cached)


def _candidate_entries(qblocks, ub, idf, theta, k1, b, min_dl, avgdl):
    """MaxScore + block-max candidate generation, shared by the top-k
    and threshold plans. Returns (entries of every doc that can reach
    ``theta``, the persisted live essential-term blocks the caller must
    unpersist), or (None, None) when no doc can.

    1. essential terms: a doc holding only non-essential terms scores
       below theta;
    2. TRUE block-max: a block whose metadata upper bound is below theta
       holds no qualifying doc, so it drops before any byte is decoded —
       essential-term blocks too, the part plain MaxScore can't skip;
    3. candidates decode from the essential terms' live blocks;
       non-essential terms decode only the blocks of those block_ids,
       read off the live blocks' metadata: the encoder emits no empty
       block, so every live essential-term block holds a candidate, and
       blocks are doc-range aligned, so no other block does.
    """
    from .compression import scoring_entries

    essential = essential_terms(ub, theta)
    if not essential:
        return None, None
    live = qblocks
    if theta > 0.0:
        live = qblocks.join(
            _live_block_ids(qblocks, idf, theta, k1, b, min_dl, avgdl),
            "block_id", "left_semi",
        )
    live_ess = (
        live.where(F.col("term").isin(sorted(essential)))
        .select("term", "block_id", "base", "doc_offs", "tfs", "dls")
        .persist()
    )
    ess = scoring_entries(live_ess)
    candidates = ess.select("doc_index").distinct()
    decoded = ess
    non_ess = sorted(set(ub) - essential)
    if non_ess:
        cand_blocks = live_ess.select("block_id").distinct()
        ne_blocks = qblocks.where(F.col("term").isin(non_ess)).join(
            F.broadcast(cand_blocks), "block_id", "left_semi"
        )
        decoded = ess.unionByName(scoring_entries(ne_blocks))
    return decoded.join(candidates, "doc_index", "left_semi"), live_ess


def _live_block_ids(
    qblocks: DataFrame,
    idf_by_term: dict,
    theta: float,
    k1: float,
    b: float,
    min_dl: float,
    avgdl: float,
) -> DataFrame:
    """block_ids whose metadata-level BM25 upper bound can reach
    ``theta``: sum over the query terms present in the block of the
    term's contribution at the block's max_tf and the global min_dl.
    Pure aggregation over (term, block_id, max_tf) metadata — no block
    bytes are touched. Blocks below theta are provably top-k-free.

    The comparison carries a relative epsilon slack. Theta is a doc's
    score summed JVM-side in aggregation order, the bound a per-block
    sum in another order (and the threshold plan's theta comes from a
    rounded cut), so at an exact boundary — the k-th doc has tf ==
    block max_tf and dl == min_dl — one ulp of summation-order or
    log-library difference (see bm25_idf) could otherwise prune the
    block holding a true top-k doc."""
    block_ub = bm25_partial(F.col("max_tf"), min_dl, idf_map(idf_by_term), avgdl, k1, b)
    return (
        qblocks.groupBy("block_id")
        .agg(F.sum(block_ub).alias("_ub"))
        .where(F.col("_ub") >= theta * (1.0 - 1e-12) - 1e-300)
        .select("block_id")
    )


def blocked_maxscore_threshold(
    spark: SparkSession,
    query: str,
    blocks: DataFrame,
    doc_stats_idx: DataFrame,
    total_documents: int,
    threshold: float,
    k1: float = 1.2,
    b: float = 0.75,
    use_stems: bool = True,
    doc_stats_agg: tuple | None = None,
    round_to: int = 4,
    term_stats: dict | None = None,
) -> DataFrame:
    """ALL documents whose BM25 score rounds to >= ``threshold`` —
    the score-threshold form of the MaxScore/block-max pruned path
    (reference capability: Ranker.java:64-118's scoring, pruned).

    This exists so the pruning machinery itself is ORACLE-CHECKABLE:
    MaxScore is exact, and unlike a top-k LIMIT over float-ordered rows
    (banned — boundary ties pick different rows per engine) a literal
    threshold with a wide score gap around it selects the same set in
    any engine. The oracle is plain relational BM25 + HAVING.

    The same pruning as blocked_maxscore_topk's big-query path runs
    (``_candidate_entries``), with theta := threshold - 0.5*10^-round_to
    - 1e-9: the final filter compares round(score, round_to) >=
    threshold, so any doc with true score >= threshold -
    0.5*10^-round_to can round up into the result set and must survive
    pruning; the extra 1e-9 absorbs ulp-level float discrepancies.
    Returns (url, score) with score rounded to ``round_to``.

    ``term_stats``: optional driver-side {term: (df, max_tf, ...)}
    dictionary, as in blocked_maxscore_topk; without it one
    block-metadata aggregation supplies them. The sharded path passes
    GLOBAL document frequencies here while max_tf/min_dl stay
    shard-local (valid: they only bound this shard's scores).
    """
    words = _query_words(query, use_stems)
    if not words:
        return _local_result_df(spark, [])
    n = float(total_documents)
    theta = threshold - 0.5 * 10.0 ** (-round_to) - 1e-9
    avgdl, min_dl = _dl_stats(doc_stats_idx, doc_stats_agg)

    qblocks = blocks.where(F.col("term").isin(words)).persist()
    tstats = _term_stats(qblocks, words, term_stats)
    idf = {t: bm25_idf(n, df) for t, (df, _mt) in tstats.items()}
    ub = {t: bm25_partial(float(mt), min_dl, idf[t], avgdl, k1, b)
          for t, (_df, mt) in tstats.items()}
    # no term indexed, or the sum of ALL ubs < theta: provably empty
    entries, ess = _candidate_entries(qblocks, ub, idf, theta, k1, b, min_dl, avgdl)
    if entries is None:
        qblocks.unpersist()
        return _local_result_df(spark, [])
    survivors = (
        entry_partials(entries, idf, avgdl, k1, b)
        .groupBy("doc_index")
        .agg(F.round(F.sum("partial"), round_to).alias("score"))
        .where(F.col("score") >= F.lit(threshold))
    )
    out = (
        survivors.join(doc_stats_idx.select("doc_index", "url"), "doc_index")
        .select("url", "score")
        .localCheckpoint(eager=True)
    )
    qblocks.unpersist()
    ess.unpersist()
    return out


def blocked_phrase_topk(
    spark: SparkSession,
    phrase: str,
    blocks: DataFrame,
    doc_stats_idx: DataFrame,
    k: int = 10,
    url_lookup: dict | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Positional phrase query straight off the compressed blocked index
    — the query the positions varint store exists for (the reference's
    index keeps per-doc position lists, Indexer.java:64-82; its ranker
    never used them for phrases, so this is the capability completed).

    The fold is adjacency (``_adjacent``): the positions x + 1 of the
    words so far that the next word holds, left to right over the
    phrase; a doc counts its surviving phrase ends. ``_positional_topk``
    runs it in one grouped pass with the block skipping and ranking.
    Returns (url, n_occurrences) by descending count, keyed by
    doc_index instead with a ``url_lookup`` (see ``_topk``).
    """
    words = [w.lower() for w in phrase.split() if w]
    return _positional_topk(
        spark, words, words[1:], _adjacent, blocks, doc_stats_idx, k,
        url_lookup, "n_occurrences", partitions,
    )


def blocked_proximity_topk(
    spark: SparkSession,
    terms: list,
    window: int,
    blocks: DataFrame,
    doc_stats_idx: DataFrame,
    k: int = 10,
    url_lookup: dict | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Proximity query over the compressed blocked index: rank docs by
    the number of anchor positions of ``terms[0]`` that have EVERY
    other term within ``window`` tokens (either side).

    The fold (``_near``) keeps the anchor positions with a position of
    the next distinct non-anchor term within the window;
    ``_positional_topk`` runs it in one grouped pass with the block
    skipping and ranking. Returns (url, n_matches) desc, keyed by
    doc_index instead with a ``url_lookup`` (see ``_topk``).
    """
    words = [w.lower() for w in terms if w]
    return _positional_topk(
        spark, words, list(dict.fromkeys(words[1:])),
        functools.partial(_near, window=int(window)), blocks, doc_stats_idx,
        k, url_lookup, "n_matches", partitions,
    )


def _adjacent(p: list, nxt: list) -> list:
    """Phrase fold: the positions x + 1 (x in ``p``) that ``nxt`` holds."""
    held = set(nxt)
    return [x + 1 for x in p if x + 1 in held]


def _near(p: list, other: list, window: int) -> list:
    """Proximity fold: the positions of ``p`` with a position of
    ``other`` at most ``window`` tokens away (``other`` is ascending, as
    decoded, so one bisect per position finds its nearest candidate)."""
    out = []
    for x in p:
        i = bisect.bisect_left(other, x - window)
        if i < len(other) and other[i] <= x + window:
            out.append(x)
    return out


def _positional_topk(spark, words, partners, fold, blocks, doc_stats_idx, k,
                     url_lookup, value_col, partitions=None) -> DataFrame:
    """Shared positional core: ONE grouped Arrow pass keyed by
    ``block_id``, so a query is one Spark job. Blocks are doc-range
    aligned, so a block group holds every posting of its docs. A group
    lacking any query term holds no qualifying doc and is skipped
    without decoding (the block skipping); otherwise each term's varint
    blob decodes once (compression.decode_block) and, per doc holding
    every term, the anchor ``words[0]``'s positions fold against each
    partner's positions in turn (``fold(p, positions) -> p``). A doc
    whose positions fold to nothing drops; the rest rank by how many
    survive. Positions are the index's own 1-based blank-counting token
    positions, so results agree with the index by construction.

    ``partitions`` sizes the exchange (the engine passes one partition
    per block group of the shard); without it
    spark.sql.shuffle.partitions applies."""
    from .compression import decode_block

    if not words:
        return _no_rows(spark, url_lookup, value_col, "bigint")
    uniq = sorted(set(words))
    anchor = words[0]

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"doc_index": [], value_col: []}
        if pdf["term"].nunique() == len(uniq):
            pos = {}
            for term, base, blob in zip(pdf["term"], pdf["base"], pdf["block"]):
                idxs, _tfs, plists = decode_block(bytes(blob), base=int(base))
                pos[term] = dict(zip(idxs, plists))
            for d in set.intersection(*(set(m) for m in pos.values())):
                p = pos[anchor][d]
                for w in partners:
                    p = fold(p, pos[w][d])
                    if not p:
                        break
                else:
                    out["doc_index"].append(d)
                    out[value_col].append(len(p))
        return pd.DataFrame(out, dtype="int64")

    nparts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    counts = (
        blocks.where(F.col("term").isin(uniq))
        .select("term", "block_id", "base", "block")
        .repartition(nparts, "block_id")
        .groupBy("block_id")
        .applyInPandas(per_block, f"doc_index long, {value_col} long")
    )
    return _topk(spark, counts, doc_stats_idx, k, url_lookup,
                 value_col=value_col, value_type="bigint")
