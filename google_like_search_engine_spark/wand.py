"""BM25 and positional top-k over the blocked index, and the one BM25
kernel.

Every BM25 query over blocks — the top-k, the score threshold and the
ranked boolean match — is ONE SQL text: ``bm25_sql`` over
``entries_sql``, the query terms' blocks exploded to (doc_index, term,
tf, dl) entries in codegen and summed per doc. A shard query is one
Spark job and one collect. Like the reference ranker
(Ranker.java:64-118) it scores every posting of the query terms. There
is no MaxScore or block-max pruning: on a 95k-doc shard of 12 block
groups (4 vCPU, warm) its extra jobs (5 per query against 1), persist
and driver round trips made queries of 161k-541k postings 2-3.5x
slower than scoring every posting. The blocks still record each
block's ``max_tf`` and the dictionary each term's; fsck and
index_stats read them.

Every BM25 query path — flat (ranker.score_bm25), served, blocked
and sharded — is the one SQL text ``bm25_sql`` with idf from
``bm25_idf``. ``bm25_partial`` is the same partial as a Column, for the
catalog's relational BM25 queries.

Phrase and proximity queries are one SQL text each too
(``positional_sql``): the query terms' ``arrays_zip(doc_offs, pos)``
exploded to (doc_index, term, positions), one map {term: positions}
per doc holding every term, and a ``filter`` over the anchor's
positions counting its matches — a phrase as a per-doc intersection of
shifted position sets, no Python worker.

A shard of one block group runs its text in ONE stage: the hint
(``exchange_hint``) coalesces its scan to one partition, which already
satisfies the per-doc aggregation, instead of shuffling into one.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import sqltext as sql
from .ranker import expand_query

_SCORED = "url string, score double"


def bm25_idf(n, df):
    """Robertson/Sparck-Jones idf ln((N - df + 0.5) / (df + 0.5) + 1),
    the one idf source. A number gives the driver-side float that every
    query path's literal idf map carries; a Column ``df`` gives the JVM
    expression, used only by the catalog's relational BM25 queries
    (catalog_text), which count df in-plan. The JVM log (StrictMath)
    and Python's libm log differ by one ulp on a few percent of (N, df)
    pairs — pinned by tests/test_wand_and_lineage.py — so the catalog's
    scores agree with the query paths' to ~1e-16 relative, not bit for
    bit."""
    if isinstance(df, Column):
        return F.log((F.lit(n) - df + 0.5) / (df + 0.5) + 1.0)
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def bm25_partial(tf: Column, dl, idf, avgdl, k1: float = 1.2, b: float = 0.75) -> Column:
    """One term's BM25 contribution as a plan expression: the Column
    form of ``bm25_sql``'s partial, operand for operand. Its callers are
    the catalog's relational BM25 queries (catalog_text); every query
    path renders ``bm25_sql``."""
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / F.lit(avgdl)))


def bm25_sql(rows: str, key: str, words, idf: dict, avgdl: float, k1: float = 1.2,
             b: float = 0.75, required=(), excluded=(), k: int | None = None,
             partitions: int | None = None) -> str:
    """The per-doc BM25 top-k as ONE SQL text, the shared kernel of the
    flat, served and blocked paths: building it is one ``spark.sql`` call
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
    the aggregation's input (``exchange_hint``) instead of
    spark.sql.shuffle.partitions."""
    idf_sql = "map(" + ", ".join(
        f"{sql.quote(t)}, {sql.dbl(v)}" for t, v in idf.items()
    ) + ")[term]"
    partial = (
        f"{idf_sql} * (tf * {sql.dbl(k1 + 1)}) / "
        f"(tf + (dl * {sql.dbl(b)} / {sql.dbl(avgdl)} + {sql.dbl(1 - b)}) * {sql.dbl(k1)})"
    )
    hint = exchange_hint(partitions, key)
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


def exchange_hint(partitions: int | None, key: str) -> str:
    """The hint that sizes a shard text's per-``key`` aggregation input:
    none without ``partitions`` (spark.sql.shuffle.partitions applies),
    ``COALESCE(1)`` for one partition — the scan's tasks fold into one
    partition, which satisfies the aggregation with no exchange, so the
    query is one stage — and ``REPARTITION(n, key)`` above one."""
    if not partitions:
        return ""
    if int(partitions) == 1:
        return "/*+ COALESCE(1) */ "
    return f"/*+ REPARTITION({int(partitions)}, {key}) */ "


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


def _idf_avgdl(blocks, words, total_documents, doc_stats_idx, doc_stats_agg,
               term_stats) -> tuple:
    """({term: idf} for the query ``words`` the index holds, avgdl).

    df comes from the build-time dictionary ``term_stats`` ({term: (df,
    ...)}, zero jobs), else from one metadata-only aggregation over the
    words' blocks; avgdl from the sidecar pair ``doc_stats_agg``
    ((avgdl, min_dl)), else from one aggregation. Only indexed words get
    an idf: a word without postings adds no rows, and one without an
    idf would score NULL."""
    if term_stats is not None:
        dfs = {w: term_stats[w][0] for w in words if w in term_stats}
    else:
        dfs = {
            r["term"]: r["df"]
            for r in blocks.where(F.col("term").isin(words))
            .groupBy("term").agg(F.sum("n_docs").alias("df")).collect()
        }
    if doc_stats_agg is not None:
        avgdl = float(doc_stats_agg[0])
    else:
        avgdl = float(doc_stats_idx.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0)
    n = float(total_documents)
    return {t: bm25_idf(n, int(df)) for t, df in dfs.items()}, avgdl


def topk_rows(rows, url_lookup: dict | None) -> list:
    """(url, value) pairs of a collected top-k: a result keyed by
    doc_index (a ``url_lookup`` was passed) resolves its k winners'
    urls through the lookup."""
    if url_lookup is None:
        return [tuple(r) for r in rows]
    return [(url_lookup[d], v) for d, v in rows]


def _topk(by_doc, doc_stats_idx, k, value_col="score") -> DataFrame:
    """Top ``k`` of (doc_index, value) by (value desc, url), the url
    joined distributed: the form a query without a driver-side url
    lookup returns. With a lookup (the in-process stand-in for the
    reference's KVS doc-store lookup after ranking) the query's text
    carries its own ORDER BY (value desc, doc_index) LIMIT k instead
    and stays keyed by doc_index, so its collect is ONE Spark job and
    the caller resolves the k winners' urls driver-side
    (``topk_rows``). Engine layouts assign doc_index in url order, so
    the doc_index tiebreak IS the url tiebreak."""
    return (
        by_doc.join(doc_stats_idx.select("doc_index", "url"), "doc_index")
        .select("url", value_col)
        .orderBy(F.desc(value_col), F.asc("url"))
        .limit(k)
    )


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
    url_lookup: dict | None = None,
    required: list | None = None,
    excluded: list | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Exact BM25 top-k over the compressed blocked index
    (compression.block_postings output), score-identical to the naive
    scorer (property-tested).

    The query is ONE literal-substituted SQL text (``bm25_sql`` over
    ``entries_sql``, the served path's kernel) over the blocks of the
    query's words, and the returned DataFrame is lazy: its collect is
    the query's one Spark job. ``partitions`` sizes that aggregation's
    exchange (the engine passes one partition per block group of the
    shard). The name is kept for its callers; no MaxScore pruning runs
    (see the module docstring).

    ``required``/``excluded``: boolean doc filters (`+term -term`
    syntax) — results must contain every required term and no excluded
    term (raw lowercased terms, matching the served path's semantics).
    A filtered query scans the blocks of words ∪ required ∪ excluded
    ONCE and aggregates per doc into its score (the query words'
    partials) plus one presence flag per required term and one for the
    excluded set, so it stays one job. A required term absent from the
    index leaves its flag false everywhere, hence an empty result, with
    no dictionary lookup needed.

    ``doc_stats_idx``: (doc_index, url, n_term_entries).
    ``doc_stats_agg``: optional precomputed (avgdl, min_dl) and
    ``term_stats``: optional driver-side {term: (df, ...)} dictionary —
    both written by the build as sidecars; together they remove every
    per-query metadata job (see ``_idf_avgdl``).

    ``url_lookup``: optional driver-side {doc_index: url} forward
    index. With it the result is keyed by doc_index — (doc_index,
    score) — and the caller resolves the k winners' urls
    (``topk_rows``); see ``_topk``.
    """
    words = _query_words(query, use_stems)
    if not words:
        return _no_rows(spark, url_lookup)
    idf, avgdl = _idf_avgdl(
        blocks, words, total_documents, doc_stats_idx, doc_stats_agg, term_stats
    )
    if not idf:
        return _no_rows(spark, url_lookup)
    req = sorted({w.lower() for w in (required or [])})
    exc = sorted({w.lower() for w in (excluded or [])})
    hit = sorted(idf)
    by_doc = sql.over(blocks, lambda v: bm25_sql(
        entries_sql(v, sorted({*hit, *req, *exc})), "doc_index", hit, idf, avgdl,
        k1, b, req, exc, k=None if url_lookup is None else k, partitions=partitions,
    ))
    if url_lookup is not None:
        return by_doc
    return _topk(by_doc, doc_stats_idx, k)


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
    """ALL documents whose BM25 score rounds to >= ``threshold``
    (reference capability: Ranker.java:64-118's scoring, cut by score).
    Returns (url, score) with score rounded to ``round_to``.

    The top-k's SQL text (``bm25_sql`` over ``entries_sql``) wrapped in
    one ROUND/WHERE select, then joined to ``doc_stats_idx`` for the
    urls: lazy, and ONE Spark job when collected. Unlike a top-k LIMIT
    over float-ordered rows (banned for oracle outputs — boundary ties
    pick different rows per engine), a literal threshold with a wide
    score gap around it selects the same set in any engine, so this is
    the blocked path's oracle-checked form (catalog_text
    .bm25_maxscore_threshold; its oracle is plain relational BM25 +
    HAVING).

    ``term_stats`` and ``doc_stats_agg`` as in blocked_maxscore_topk.
    The sharded path passes GLOBAL document frequencies and avgdl here.
    """
    words = _query_words(query, use_stems)
    if not words:
        return _local_result_df(spark, [])
    idf, avgdl = _idf_avgdl(
        blocks, words, total_documents, doc_stats_idx, doc_stats_agg, term_stats
    )
    if not idf:
        return _local_result_df(spark, [])
    hit = sorted(idf)
    rounded = f"ROUND(score, {int(round_to)})"
    survivors = sql.over(blocks, lambda v: (
        f"SELECT doc_index, {rounded} AS score FROM "
        f"({bm25_sql(entries_sql(v, hit), 'doc_index', hit, idf, avgdl, k1, b)}) "
        f"WHERE {rounded} >= {sql.dbl(threshold)}"
    ))
    # a shuffle-hash join built on the survivors: the aggregation's
    # exchange already partitions them by doc_index, and a broadcast of
    # the doc-stats dimension would be a second job per query
    return (
        survivors.hint("shuffle_hash")
        .join(doc_stats_idx.select("doc_index", "url"), "doc_index")
        .select("url", "score")
    )


def blocked_phrase_topk(
    spark: SparkSession,
    phrase: str,
    blocks: DataFrame,
    doc_stats_idx: DataFrame,
    k: int = 10,
    url_lookup: dict | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Positional phrase query straight off the blocked index's ``pos``
    arrays (the reference's index keeps per-doc position lists,
    Indexer.java:64-82; its ranker never used them for phrases, so this
    is the capability completed).

    A doc's count is the number of positions x of the first word such
    that the i-th word holds x + i for every later word — the phrase
    occurrences, repeated words included. Returns (url, n_occurrences)
    by descending count, keyed by doc_index instead with a
    ``url_lookup`` (see ``_topk``).
    """
    words = [w.lower() for w in phrase.split() if w]
    matches = [f"array_contains(m[{sql.quote(w)}], x + {i})"
               for i, w in enumerate(words[1:], 1)]
    return _positional_topk(spark, words, matches, blocks, doc_stats_idx, k,
                            url_lookup, "n_occurrences", partitions)


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
    """Proximity query over the blocked index: rank docs by the number
    of anchor positions of ``terms[0]`` that have EVERY other term
    within ``window`` tokens (either side). Positions are int32, so a
    window past 2**31 - 1 is clamped to it (it already means anywhere
    in the doc), and a negative one matches nothing. Returns (url,
    n_matches) desc, keyed by doc_index instead with a ``url_lookup``
    (see ``_topk``).
    """
    words = [w.lower() for w in terms if w]
    window = max(-1, min(int(window), 2**31 - 1))
    matches = [f"exists(m[{sql.quote(w)}], y -> abs(y - x) <= {window})"
               for w in dict.fromkeys(words[1:])]
    return _positional_topk(spark, words, matches, blocks, doc_stats_idx, k,
                            url_lookup, "n_matches", partitions)


def positional_sql(view: str, words, matches, value_col: str,
                   k: int | None = None, partitions: int | None = None) -> str:
    """The per-doc positional count as ONE SQL text over a blocks
    relation bound to ``view``. The blocks of the distinct ``words``
    explode to (doc_index, term, positions) in codegen; per doc one
    ``map_from_entries`` {term: positions}, kept only when it holds
    every word (a block group lacking a word holds no qualifying doc);
    then ``value_col`` = how many positions x of the anchor
    ``words[0]`` satisfy every predicate in ``matches`` (SQL over ``m``
    and ``x``). A doc with no match drops. With ``k`` the text ends in
    ORDER BY (value desc, doc_index) LIMIT k; ``partitions`` sizes the
    aggregation's input (``exchange_hint``)."""
    uniq = sorted(set(words))
    match = " AND ".join(matches) or "true"
    per_doc = (
        f"SELECT doc_index, CAST(size(filter(m[{sql.quote(words[0])}], x -> {match})) "
        f"AS BIGINT) AS {value_col} FROM (SELECT doc_index, "
        "map_from_entries(collect_list(struct(term, p))) AS m FROM (SELECT "
        f"{exchange_hint(partitions, 'doc_index')}term, base + e.doc_offs AS doc_index, "
        "e.pos AS p FROM (SELECT term, base, explode(arrays_zip(doc_offs, pos)) AS e "
        f"FROM {view} WHERE term IN ({sql.quotes(uniq)}))) GROUP BY doc_index "
        f"HAVING count(1) = {len(uniq)})"
    )
    text = f"SELECT * FROM ({per_doc}) WHERE {value_col} > 0"
    if k is None:
        return text
    return f"{text} ORDER BY {value_col} DESC, doc_index ASC LIMIT {int(k)}"


def _positional_topk(spark, words, matches, blocks, doc_stats_idx, k, url_lookup,
                     value_col, partitions=None) -> DataFrame:
    """Shared positional core: ``positional_sql`` over ``blocks``, one
    Spark job. Positions are the index's own 1-based blank-counting
    token positions, so results agree with the index by construction.
    With a ``url_lookup`` the text carries the top-k; without one the
    url join runs distributed (``_topk``)."""
    if not words:
        return _no_rows(spark, url_lookup, value_col, "bigint")
    counts = sql.over(blocks, lambda v: positional_sql(
        v, words, matches, value_col, k if url_lookup is not None else None,
        partitions,
    ))
    if url_lookup is not None:
        return counts
    return _topk(counts, doc_stats_idx, k, value_col)
