"""Query-time scoring: TF-IDF x PageRank (reference-identical) and BM25.

Replaces the reference ranker (/root/reference
src/cis5550/ranker/Ranker.java, RankerStarter.java) with one declarative
DataFrame plan per query: broadcast the (tiny) query-term side into the
postings join, aggregate per url, left-join pageranks, sort.

Reference semantics pinned (rank-identity invariants):
- query expansion (Ranker.java:140-159): whitespace tokenize; for each
  token, append the Porter stem *plus* the raw token unless the stem
  equals the token case-insensitively; distinct on the *raw* strings;
  lookups lowercase (Ranker.java:45). Case-distinct raw forms that
  lowercase to the same term each score separately (reproduced: we keep
  one term row per distinct raw form).
- per-term scoring (Ranker.java:78-112): tf = positions/l2Norm, dedupe
  distinct (url, tf) pairs, df = count of those, IDF = ln(N/df),
  tfidf = tf*IDF summed per url across terms; pagerank defaults to 0.15
  for unranked docs; final score = sum(tfidf) * pagerank.
- the reference returns the full ranked list (no k cutoff); ties are
  ordered arbitrarily there — we fix (score desc, url asc), which is
  rank-compatible.

BM25 is the scale-path scorer the rebuild adds (north-star): standard
Robertson/Sparck-Jones idf = ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75,
dl = per-doc term-entry count, carried by every posting. Over the flat
postings it is one SQL text, the ``wand.bm25_sql`` kernel every BM25
path renders, with idf resolved driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sqltext as sql
from .kernels.porter import porter_stem


def expand_query(query: str) -> list:
    """Raw-distinct expanded terms (stem + raw), per Ranker.java:140-159."""
    out: dict = {}
    for token in query.split():
        stem = porter_stem(token)
        if stem.lower() != token.lower():
            out.setdefault(stem, True)
        out.setdefault(token, True)
    return list(out)


def score_tfidf(
    spark: SparkSession,
    query: str,
    postings: DataFrame,
    pageranks: DataFrame | None,
    total_documents: int,
) -> DataFrame:
    """Reference-identical TF-IDF x PageRank ranking for ``query``.

    ``postings``: flat POSTINGS_SCHEMA table. ``pageranks``:
    (doc_id, rank) or None. Returns (url, tfidf, pagerank, score)
    ordered by (score desc, url asc) — the full list, as the reference
    serializes every url (RankerStarter.java:87-94).
    """
    words = expand_query(query)
    if not words:
        return spark.createDataFrame(
            [], "url string, tfidf double, pagerank double, score double"
        )
    # one row per distinct RAW form; lookup key is the lowercase term.
    terms = spark.createDataFrame(
        [(i, w.lower()) for i, w in enumerate(words)], "term_idx int, term string"
    )

    matched = postings.join(F.broadcast(terms), "term").select(
        "term_idx",
        "doc_id",
        "url",
        (F.col("tf") / F.col("l2_norm")).alias("tf_norm"),
    )
    # distinct (url, tf) per term instance (Ranker.java:91 .distinct()).
    d = matched.distinct()
    dfc = d.groupBy("term_idx").agg(F.count(F.lit(1)).alias("df"))
    scored = d.join(F.broadcast(dfc), "term_idx").select(
        "doc_id",
        "url",
        (
            F.col("tf_norm")
            * F.log(F.lit(float(total_documents)) / F.col("df"))
        ).alias("tfidf"),
    )
    per_url = scored.groupBy("doc_id", "url").agg(F.sum("tfidf").alias("tfidf"))
    if pageranks is not None:
        per_url = per_url.join(pageranks, "doc_id", "left")
    else:
        per_url = per_url.withColumn("rank", F.lit(None).cast("double"))
    return (
        per_url.select(
            "url",
            "tfidf",
            F.coalesce(F.col("rank"), F.lit(0.15)).alias("pagerank"),
        )
        .withColumn("score", F.col("tfidf") * F.col("pagerank"))
        .orderBy(F.desc("score"), F.asc("url"))
    )


def score_bm25(
    spark: SparkSession,
    query: str,
    postings: DataFrame,
    doc_stats: DataFrame,
    total_documents: int,
    k1: float = 1.2,
    b: float = 0.75,
    use_stems: bool = True,
    avgdl: float | None = None,
    term_df: DataFrame | None = None,
    terms: list | None = None,
) -> DataFrame:
    """BM25 scoring over the flat postings; returns every matching url
    as (url, score) ordered by (score desc, url asc).

    ``terms``: pre-analyzed query terms — the query-side half of the
    pluggable-analyzer seam (an index built with a custom postings_fn
    must analyze queries the same way, e.g. CJK bigrams); bypasses the
    default expand_query/split tokenization. Query expansion mirrors
    expand_query but dedupes on the lowercase form (BM25 is our own
    scorer; no reference quirk to preserve).

    The plan is ONE literal-substituted SQL text, ``wand.bm25_sql``
    keyed by url, the served and blocked paths' kernel: the postings'
    rows of the query words (their ``dl`` column is the per-document
    term-entry count, so scoring joins nothing), summed per url. df is
    resolved driver-side by one collect over the words: from
    ``term_df``, the build-time dictionary (term, df), when given, else
    from distinct docs per term counted over ``postings``. A word
    without a df gets no idf, as on the served path.

    ``avgdl``: precomputed at build time; when None, one aggregation
    over ``doc_stats`` supplies it.
    """
    from .wand import _local_result_df, bm25_idf, bm25_sql

    if terms is not None:
        words = sorted({w.lower() for w in terms})
    else:
        words = sorted(
            {w.lower() for w in (expand_query(query) if use_stems else query.split())}
        )
    if not words:
        return _local_result_df(spark, [])

    if avgdl is None:
        avgdl = float(doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0)
    if term_df is None:
        term_df = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    dfs = {
        r["term"]: int(r["df"])
        for r in term_df.where(f"term IN ({sql.quotes(words)})").collect()
    }
    hit = [w for w in words if w in dfs]
    if not hit:
        return _local_result_df(spark, [])
    n = float(total_documents)
    return sql.over(postings, lambda v: bm25_sql(
        f"(SELECT url, term, tf, dl FROM {v} WHERE term IN ({sql.quotes(hit)}))",
        "url", hit, {w: bm25_idf(n, dfs[w]) for w in hit}, avgdl, k1, b,
    ) + " ORDER BY score DESC, url ASC")
