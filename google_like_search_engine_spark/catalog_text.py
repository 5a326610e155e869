"""Text / search / dedup / similarity queries over documents + embeddings.

These are the training-data-pipeline operators (dedup, ANN, quality,
language-ID) plus SQL-expressible versions of the search-engine scoring
(TF-IDF, BM25) so the driver's DuckDB oracle can verify the relational
scoring logic end-to-end. (Stemming/hashing/positions semantics are
verified separately by the golden pipeline tests — SQL can't stem.)

Tokenization here is the plain shared dialect both engines express
identically: split on single space, drop empty tokens.

Oracle-checked outputs never use LIMIT on float-ordered rows (boundary
ties could select different rows per engine) — they return the full
scored set with rounded values; top-k trimming is a bench-side concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load
from .wand import bm25_idf, bm25_partial

QUERY_TERMS = ["spark", "shuffle", "join", "window", "stream"]
STOP_TERMS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, w) exploded non-empty tokens.

    Measured (guide §1): the explode+partial-agg is cheap enough that a
    pre-explode repartition (extra exchange + AQE round) LOSES ~0.3 s
    per query at bench scale — the _parallel guard is deliberately not
    applied here; the md5-heavy shingle path is the one that needs it."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )


_TOKENS_CTE = """
tokens AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)
"""


def wordcount(spark, sf_dir):
    """The canonical Flame wordcount (reference FlameWordCount.java:15-28):
    flatMap -> mapToPair -> foldByKey == explode + groupBy count."""
    docs = load(spark, sf_dir, "documents")
    return _tokens(docs).groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))


WORDCOUNT_SQL = f"WITH {_TOKENS_CTE} SELECT w, count(*) AS cnt FROM tokens GROUP BY w"


def token_stats(spark, sf_dir):
    """Per-doc token count via mapInPandas (the FlameRDD.mapPartitions
    path, flame/Worker.java:669-708) — checks the Arrow-batch transform
    against a pure-SQL oracle."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def count_tokens(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["text"].map(lambda t: len(t.split(" "))),
                }
            )

    return docs.mapInPandas(count_tokens, schema="doc_id long, n_tokens long")


TOKEN_STATS_SQL = (
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents"
)


def term_stats(spark, sf_dir):
    """Per-term document frequency + idf over the corpus. N rides the
    lazy plan as a broadcast 1-row relation (no eager count() job per
    call); identical double arithmetic."""
    docs = load(spark, sf_dir, "documents")
    nrel = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        _tokens(docs)
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(nrel))
        .select(
            "w",
            "df",
            F.round(F.log(F.col("n") / F.col("df")), 4).alias("idf"),
        )
    )


TERM_STATS_SQL = f"""
WITH {_TOKENS_CTE}
SELECT w, count(DISTINCT doc_id) AS df,
       round(ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / count(DISTINCT doc_id)), 4) AS idf
FROM tokens GROUP BY w
"""


def _terms_lit():
    return ", ".join(f"'{t}'" for t in QUERY_TERMS)


def tfidf_search(spark, sf_dir):
    """Reference scoring shape (Ranker.java:78-112) in pure relational
    form: tf_norm = tf / doc L2 norm, idf = ln(N/df), score = sum per doc.
    Full scored set, no limit (rank-stability across engines).

    Plan shape (optimization guide §2.3/§2.4): ONE scan+explode pass.
    The old form re-scanned + re-exploded documents three times (tf, l2
    and df branches) and paid an eager count() job for N per call. Here
    the per-doc aggregation computes the L2 norm AND collects the
    query-term (w, tf) pairs in the same pass (collect_list skips the
    non-matching nulls), N rides the lazy plan as a broadcast 1-row
    relation, and the final per-doc sum reuses the doc_id partitioning.
    Arithmetic is unchanged: tf/tf^2/df/N are exact integers, floats
    enter only at the final sum exactly as before."""
    docs = load(spark, sf_dir, "documents")
    nrel = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tf = _tokens(docs).groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    qmatch = F.when(F.col("w").isin(QUERY_TERMS), F.struct("w", "tf"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("l2"),
        F.collect_list(qmatch).alias("mtf"),
    )
    m = per_doc.select("doc_id", "l2", F.explode("mtf").alias("e")).select(
        "doc_id", "l2", F.col("e.w").alias("w"), F.col("e.tf").alias("tf")
    )
    dfc = m.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    return (
        m.join(F.broadcast(dfc), "w")
        .join(F.broadcast(nrel))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum((F.col("tf") / F.col("l2")) * F.log(F.col("n") / F.col("df"))), 4
            ).alias("score")
        )
    )


TFIDF_SEARCH_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
l2 AS (SELECT doc_id, sqrt(sum(CAST(tf AS DOUBLE) * tf)) AS l2 FROM tf GROUP BY doc_id),
dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf WHERE w IN ({_terms_lit()}) GROUP BY w)
SELECT tf.doc_id,
       round(sum((tf / l2.l2) * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / dfc.df)), 4) AS score
FROM tf JOIN dfc USING (w) JOIN l2 ON tf.doc_id = l2.doc_id
GROUP BY tf.doc_id
"""


def bm25_search(spark, sf_dir, k1: float = 1.2, b: float = 0.75):
    """BM25 with Robertson idf over the documents table; full scored set.

    Plan shape (optimization guide §2.3/§2.4): ONE scan+explode pass —
    dl is derived as sum(tf) per doc (identical integer: both count the
    doc's non-empty tokens) in the same per-doc aggregation that
    collects the query-term (w, tf) pairs, and N / avgdl ride the lazy
    plan as broadcast 1-row relations instead of an eager count() +
    collect() job pair per call. avgdl = avg over exact integer dl sums,
    so its double value is identical to the old collected literal."""
    docs = load(spark, sf_dir, "documents")
    nrel = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tf = _tokens(docs).groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    qmatch = F.when(F.col("w").isin(QUERY_TERMS), F.struct("w", "tf"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("dl"),
        F.collect_list(qmatch).alias("mtf"),
    )
    stats = per_doc.agg(F.avg("dl").alias("avgdl"))
    m = per_doc.select("doc_id", "dl", F.explode("mtf").alias("e")).select(
        "doc_id", "dl", F.col("e.w").alias("w"), F.col("e.tf").alias("tf")
    )
    dfc = m.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    return (
        m.join(F.broadcast(dfc), "w")
        .join(F.broadcast(nrel))
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(bm25_partial(
                    F.col("tf"), F.col("dl"), bm25_idf(F.col("n"), F.col("df")),
                    F.col("avgdl"), k1, b,
                )),
                4,
            ).alias("score")
        )
    )


BM25_SEARCH_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf WHERE w IN ({_terms_lit()}) GROUP BY w)
SELECT tf.doc_id,
       round(sum(
         ln((n.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
         * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       ), 4) AS score
FROM tf JOIN dfc USING (w) JOIN dl ON tf.doc_id = dl.doc_id, stats, n
GROUP BY tf.doc_id
"""


# Literal score threshold for the oracle-checked MaxScore pruned path:
# chosen (scripts-side scan over both test SFs) so the nearest BM25
# score is >2.6e-3 away at sf0.001 AND sf0.01 — a top-k LIMIT over
# float-ordered rows is banned for oracle outputs, but a threshold in a
# wide score gap selects the identical set in any engine.
MAXSCORE_THRESHOLD = 1.4565


def bm25_maxscore_threshold(spark, sf_dir):
    """The blocked BM25 threshold path (wand.blocked_maxscore_threshold),
    oracle-checked end-to-end: build a plain-dialect compressed blocked
    index over the documents table (columnar block arrays with
    denormalized dls), then return every doc whose BM25 score rounds to
    >= MAXSCORE_THRESHOLD through the blocked query's one SQL text —
    the blocks decoded in codegen, join-free dl scoring, the rounded
    score cut outside the kernel. The oracle recomputes relational BM25
    with the same HAVING threshold."""
    from .compression import assign_doc_indexes, block_postings
    from .wand import blocked_maxscore_threshold

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("url"),
        "text",
    )
    n = docs.count()
    toks = (
        docs.select("doc_id", "url", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "url", "term").agg(
        F.count(F.lit(1)).cast("int").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("dl"))
    postings = tf.join(dl, "doc_id").withColumn(
        "positions", F.array().cast("array<int>")
    )
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(F.broadcast(idx), "doc_id"))
    dsi = (
        dl.join(F.broadcast(idx), "doc_id")
        .select("doc_index", F.col("doc_id").alias("url"), F.col("dl").alias("n_term_entries"))
    )
    out = blocked_maxscore_threshold(
        spark,
        " ".join(QUERY_TERMS),
        blocks,
        dsi,
        n,
        threshold=MAXSCORE_THRESHOLD,
        use_stems=False,
    )
    return out.select(F.col("url").cast("long").alias("doc_id"), "score")


_BM25_SUM = """sum(
         ln((n.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
         * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       )"""

BM25_MAXSCORE_THRESHOLD_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf WHERE w IN ({_terms_lit()}) GROUP BY w)
SELECT tf.doc_id, round({_BM25_SUM}, 4) AS score
FROM tf JOIN dfc USING (w) JOIN dl ON tf.doc_id = dl.doc_id, stats, n
GROUP BY tf.doc_id
HAVING round({_BM25_SUM}, 4) >= {MAXSCORE_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Deduplication suite
# --------------------------------------------------------------------------

def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy full text; emit duplicate groups."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.encode("text", "utf-8")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical"))
        .where(F.col("n_dups") > 1)
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS canonical
FROM documents GROUP BY 1 HAVING count(*) > 1
"""

_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
  WHERE w <> ''
),
shingles AS (
  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sh
  FROM toks t1
  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
  JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
)
"""


def _shingles(spark, sf_dir) -> DataFrame:
    """Distinct 3-word shingles per doc: (doc_id, sh), over non-empty
    tokens (same semantics as the oracle CTE's position self-joins).

    Shingling is a sliding window over adjacent tokens — partition-local
    by construction — so one JVM-side pass (filter -> slide -> explode)
    beats the relational formulation's window + two self-joins (three
    shuffles) that the SQL oracle uses. transform over an index sequence
    keeps it in whole-stage codegen."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    window = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    # guard: sequence(0, negative) would run descending and element_at
    # would hit invalid indexes under ANSI mode
    shingles = F.when(F.size(toks) >= 3, window).otherwise(F.array().cast("array<string>"))
    # no .distinct() after the explode: array_distinct already dedupes
    # within a doc and doc_id is unique per input row, so (doc_id, sh)
    # is unique by construction — the old cross-row distinct was a
    # full no-op shuffle of every shingle string (guide §2.4: a
    # `distinct` on data that is already unique).
    return docs.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("sh")
    )


LSH_BUCKET_CAP = 1000


def dedup_minhash(spark, sf_dir):
    """MinHash + LSH banding: 8 md5-seeded min-hashes over 3-word
    shingles, 4 bands x 2 rows; candidate pairs = docs sharing a band.
    Deterministic (md5), so the oracle selects identical candidates.

    Band buckets larger than LSH_BUCKET_CAP are skipped before the
    self-join (a bucket of c docs emits c^2/2 pairs — a near-identical
    cluster would otherwise go quadratic at scale); the cap is mirrored
    in the oracle SQL so outputs stay identical."""
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.encode(F.concat(F.lit(f"{i}:"), F.col("sh")), "utf-8"))).alias(f"m{i}")
        for i in range(8)
    ]
    # the signature aggregation (8 md5 min-hashes over every shingle) is
    # the expensive pass and feeds the band filter AND both self-join
    # sides — persist it, and derive the 4 band rows with one explode
    # instead of a 4-branch union (each branch would re-run the plan).
    # (Measured alternatives, guide §1: a collect_list-per-bucket pair
    # expansion replaced the self-join with 2 fewer exchanges but ran
    # 6x SLOWER — near-identical docs make a few giant buckets, and a
    # single task then allocates the whole n^2/2 pair array where the
    # streamed self-join spreads the cross product across reducers.)
    sig = sh.groupBy("doc_id").agg(*aggs).persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.col(f"m{2*b}"), F.col(f"m{2*b+1}")).alias("bkey"),
            )
            for b in range(4)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    bucket_ok = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= LSH_BUCKET_CAP)
        .select("band", "bkey")
    )
    bands = bands.join(bucket_ok, ["band", "bkey"], "left_semi")
    a, bb = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         min(md5('0:' || sh)) AS m0, min(md5('1:' || sh)) AS m1,
         min(md5('2:' || sh)) AS m2, min(md5('3:' || sh)) AS m3,
         min(md5('4:' || sh)) AS m4, min(md5('5:' || sh)) AS m5,
         min(md5('6:' || sh)) AS m6, min(md5('7:' || sh)) AS m7
  FROM shingles GROUP BY doc_id
),
bands_all AS (
  SELECT doc_id, 0 AS band, m0 || m1 AS bkey FROM sig UNION ALL
  SELECT doc_id, 1, m2 || m3 FROM sig UNION ALL
  SELECT doc_id, 2, m4 || m5 FROM sig UNION ALL
  SELECT doc_id, 3, m6 || m7 FROM sig
),
bands AS (
  SELECT ba.* FROM bands_all ba
  JOIN (SELECT band, bkey FROM bands_all GROUP BY band, bkey
        HAVING count(*) <= {LSH_BUCKET_CAP}) ok USING (band, bkey)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


SHINGLE_DF_CAP = 128


def ngram_jaccard(spark, sf_dir, min_shared: int = 2):
    """n-gram Jaccard near-dup: doc pairs sharing >= min_shared 3-word
    shingles, with exact Jaccard similarity.

    Shingles present in more than SHINGLE_DF_CAP documents are excluded
    from the pair-generating join (but still count toward each doc's
    shingle-set size): a corpus-common shingle — boilerplate footers,
    licence headers — would otherwise emit df^2/2 pairs and go
    quadratic at scale. The cap is mirrored in the oracle SQL."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .where(F.col("sdf") <= SHINGLE_DF_CAP)
        .select("sh")
    )
    sh_rare = sh.join(rare, "sh", "left_semi")
    a, b = sh_rare.alias("a"), sh_rare.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared") / (F.col("sza") + F.col("szb") - F.col("shared")), 4
            ).alias("jaccard"),
        )
    )


NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
rare AS (
  SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= {SHINGLE_DF_CAP}
),
sh_rare AS (SELECT s.* FROM shingles s JOIN rare USING (sh)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh_rare a JOIN sh_rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


def simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs through the library path (Arrow-batched
    signature UDF + 4x16-bit band buckets + popcount verify,
    analytics/dedup.py). The oracle recomputes the identical tf-weighted
    64-bit signature relationally (md5_number_upper == little-endian
    first 8 md5 bytes == the library's _md5_64)."""
    from .analytics.dedup import simhash_near_pairs, simhash_signatures

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    return (
        simhash_near_pairs(simhash_signatures(docs), max_hamming=3)
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
    )


SIMHASH_PAIRS_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
th AS (SELECT doc_id, md5_number_upper(w) AS h, tf FROM tf),
bits AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN tf ELSE -tf END) AS acc
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN acc > 0 THEN (1::UBIGINT << bit) ELSE 0::UBIGINT END) AS UBIGINT) AS sh
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sh, b.band, (sh >> (16 * b.band)) & 65535 AS bkey
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


def minhash_verified_pairs(spark, sf_dir):
    """Library MinHash+LSH (16 hashes, 4 bands) with exact-Jaccard
    verification (analytics/dedup.py:minhash_dedup). The oracle
    reproduces the signature math (md5_number_upper masked to 63 bits),
    the banded candidate join, and the exact shingle-set Jaccard —
    including the library's short-document fallback (docs with < 3
    tokens shingle to the whole text)."""
    from .analytics.dedup import minhash_dedup

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    out = minhash_dedup(docs, jaccard_threshold=0.5)
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    )


_LIB_SHINGLES_CTE = """
toksarr AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
lib_shingles AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS sh
    FROM toksarr CROSS JOIN unnest(generate_series(1, len(toks) - 2)) AS g(i)
    WHERE len(toks) >= 3
    UNION ALL
    SELECT doc_id, array_to_string(toks, ' ') AS sh
    FROM toksarr WHERE len(toks) BETWEEN 1 AND 2
  )
)
"""

MINHASH_VERIFIED_PAIRS_SQL = f"""
WITH {_LIB_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {", ".join(
             f"CAST(min(md5_number_upper('{i}:' || sh) & 9223372036854775807) AS BIGINT) AS m{i}"
             for i in range(16)
         )}
  FROM lib_shingles GROUP BY doc_id
  UNION ALL
  SELECT doc_id, {", ".join("0" for _ in range(16))}
  FROM toksarr WHERE len(toks) = 0
),
bands_all AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, "
      f"md5(m{4*b}::VARCHAR || ',' || m{4*b+1} || ',' || m{4*b+2} || ',' || m{4*b+3}) AS bkey FROM sig"
      for b in range(4)
  )}
),
bands AS (
  SELECT ba.* FROM bands_all ba
  JOIN (SELECT band, bkey FROM bands_all GROUP BY band, bkey
        HAVING count(*) <= 1000) ok USING (band, bkey)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM lib_shingles GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
  FROM cands c
  JOIN lib_shingles sa ON sa.doc_id = c.doc_a
  JOIN lib_shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY 1, 2
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CASE WHEN coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(s.n_shared, 0) = 0
              THEN 1.0
              ELSE CAST(coalesce(s.n_shared, 0) AS DOUBLE)
                   / (coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(s.n_shared, 0))
         END AS jaccard
  FROM cands c
  LEFT JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
  LEFT JOIN sizes sa ON sa.doc_id = c.doc_a
  LEFT JOIN sizes sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
FROM scored WHERE jaccard >= 0.5
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

def quality_scores(spark, sf_dir):
    """Per-doc quality facets: token counts, type-token ratio, stopword
    ratio (ratios of identical ints -> identical doubles both engines)."""
    docs = load(spark, sf_dir, "documents")
    stop = ", ".join(f"'{t}'" for t in STOP_TERMS)
    toks = _tokens(docs)
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
        F.sum(F.expr(f"CAST(w IN ({stop}) AS INT)")).cast("long").alias("n_stop"),
        F.round(F.countDistinct("w") / F.count(F.lit(1)), 4).alias("ttr"),
        F.round(
            F.sum(F.expr(f"CAST(w IN ({stop}) AS INT)")) / F.count(F.lit(1)), 4
        ).alias("stop_ratio"),
    )


QUALITY_SCORES_SQL = f"""
WITH {_TOKENS_CTE}
SELECT doc_id,
       count(*) AS n_tokens,
       count(DISTINCT w) AS n_distinct,
       CAST(sum(CASE WHEN w IN ({", ".join(f"'{t}'" for t in STOP_TERMS)}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       round(CAST(count(DISTINCT w) AS DOUBLE) / count(*), 4) AS ttr,
       round(CAST(sum(CASE WHEN w IN ({", ".join(f"'{t}'" for t in STOP_TERMS)}) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS stop_ratio
FROM tokens GROUP BY doc_id
"""


def lang_id(spark, sf_dir):
    """Heuristic language ID: English function-word hit ratio vs the
    labeled lang column (accuracy check is downstream; here we emit the
    prediction features deterministically)."""
    docs = load(spark, sf_dir, "documents")
    stop = ", ".join(f"'{t}'" for t in STOP_TERMS)
    toks = _tokens(docs)
    feats = toks.groupBy("doc_id").agg(
        F.round(
            F.sum(F.expr(f"CAST(w IN ({stop}) AS INT)")) / F.count(F.lit(1)), 4
        ).alias("en_ratio")
    )
    return feats.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "en_ratio", (F.col("en_ratio") > 0.05).alias("pred_en")
    )


LANG_ID_SQL = f"""
WITH {_TOKENS_CTE},
feats AS (
  SELECT doc_id,
         round(CAST(sum(CASE WHEN w IN ({", ".join(f"'{t}'" for t in STOP_TERMS)}) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS en_ratio
  FROM tokens GROUP BY doc_id
)
SELECT d.doc_id, d.lang, f.en_ratio, f.en_ratio > 0.05 AS pred_en
FROM feats f JOIN documents d ON d.doc_id = f.doc_id
"""


def fingerprints(spark, sf_dir):
    """Deterministic document fingerprint: md5 of the first 64 chars."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.encode(F.substring("text", 1, 64), "utf-8")).alias("fp"),
    )


FINGERPRINTS_SQL = "SELECT doc_id, md5(substr(text, 1, 64)) AS fp FROM documents"


def bpe_tokens(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per doc (Arrow-batched
    pandas UDF; oracle = equivalent RE2 extraction in DuckDB)."""
    from .analytics.text import bpe_token_counts

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    return bpe_token_counts(docs).withColumnRenamed("id", "doc_id")


BPE_TOKENS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+')) AS BIGINT) AS bpe_tokens
FROM documents
"""

PHRASE = ("table", "scan")


def phrase_search(spark, sf_dir):
    """Positional phrase query: docs containing the exact bigram
    PHRASE, with occurrence counts — the positions-list capability the
    reference's index stores (Indexer.java:96-98) exercised as a query.
    Implemented as position-adjacency (pos2 = pos1 + 1) on the token
    stream; the blocked index serves the same plan from its positions
    arrays."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w"))
        .where(F.col("w") != "")
    )
    toks = toks.withColumn(
        "pos", F.row_number().over(W.partitionBy("doc_id").orderBy("pos0"))
    ).select("doc_id", "pos", "w")
    t1 = toks.where(F.col("w") == PHRASE[0]).alias("t1")
    t2 = toks.where(F.col("w") == PHRASE[1]).alias("t2")
    return (
        t1.join(
            t2,
            (F.col("t2.doc_id") == F.col("t1.doc_id"))
            & (F.col("t2.pos") == F.col("t1.pos") + 1),
        )
        .groupBy(F.col("t1.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


PHRASE_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
  WHERE w <> ''
)
SELECT t1.doc_id, count(*) AS n_occurrences
FROM toks t1 JOIN toks t2
  ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
WHERE t1.w = '{PHRASE[0]}' AND t2.w = '{PHRASE[1]}'
GROUP BY t1.doc_id
"""


def term_autocomplete(spark, sf_dir, prefix: str = "s"):
    """Prefix term lookup with document frequency — the reference
    ranker's autocomplete surface (RankerStarter.java:38-42 loads all
    index keys; we keep it a pushed-down prefix scan)."""
    docs = load(spark, sf_dir, "documents")
    return (
        _tokens(docs)
        .where(F.col("w").startswith(prefix))
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )


TERM_AUTOCOMPLETE_SQL = f"""
WITH {_TOKENS_CTE}
SELECT w, count(DISTINCT doc_id) AS df
FROM tokens WHERE w LIKE 's%' GROUP BY w
"""


# --------------------------------------------------------------------------
# Embedding similarity search
# --------------------------------------------------------------------------

def cosine_scores(spark, sf_dir):
    """Brute-force cosine of every vector vs the vec_id=0 query vector
    (JVM-side: zip_with + aggregate; no Python in the hot path).
    Full scored set, rounded — the ANN top-k trim happens benchside."""
    emb = load(spark, sf_dir, "embeddings")
    # the query vector rides the lazy plan as a broadcast 1-row relation
    # (cross join) instead of an eager collect() job per call; the
    # fold arithmetic below is element-for-element identical to the old
    # literal-array form (same casts, same left-fold order), so scores
    # are bit-identical. limit(1): a duplicated vec_id = 0 row must not
    # multiply every score row through the cross join.
    qrel = emb.where(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qe")
    ).limit(1)
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("qe"), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    qn = F.sqrt(
        F.aggregate(
            F.col("qe"), F.lit(0.0), lambda acc, v: acc + v * v
        )
    )
    return emb.join(F.broadcast(qrel)).select(
        "vec_id", F.round(dot / (nrm * qn), 4).alias("cos_sim")
    )


COSINE_SCORES_SQL = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings),
uq AS (SELECT CAST(unnest(qe) AS DOUBLE) AS qx,
              generate_subscripts(qe, 1) AS pos FROM q)
SELECT u.vec_id,
       round(sum(x * qx) / (sqrt(sum(x * x)) * sqrt(sum(qx * qx))), 4) AS cos_sim
FROM u JOIN uq USING (pos)
GROUP BY u.vec_id
"""


SAMPLE_RATES = {"en": 500}
SAMPLE_DEFAULT_RATE = 1000


def dataset_split(spark, sf_dir):
    """Reproducible train/val/test assignment + stratified downsample
    over the documents table (analytics/curation.py): hash-bucket
    splits (80/10/10) and a per-language keep decision (thin 'en', the
    head language, to 50%; keep the rest) — the split/sample step of a
    training-data pipeline, as a pure function of doc_id so engines
    and re-runs agree row-by-row with no coordination."""
    from .analytics.curation import split_assign, stratified_keep

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    docs = split_assign(docs, "doc_id")
    return stratified_keep(
        docs, "doc_id", "lang", SAMPLE_RATES, SAMPLE_DEFAULT_RATE
    )


DATASET_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15))
           ::BIGINT % 1000 AS sb,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 15))
           ::BIGINT % 1000 AS kb
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN sb < 800 THEN 'train'
            WHEN sb < 900 THEN 'val'
            ELSE 'test' END AS split,
       kb < (CASE WHEN lang = 'en' THEN 500 ELSE 1000 END) AS keep
FROM b
"""


IVF_N_CENTROIDS = 8
IVF_QUERY_ID = 100
IVF_NPROBE = 2
IVF_TOPK_K = 10


def ivf_ann_topk(spark, sf_dir):
    """IVF approximate-nearest-neighbor top-k — the similarity-search
    SCALE path (vs cosine_scores' brute force): a coarse quantizer
    assigns every vector to its nearest centroid list, the query probes
    only the nprobe nearest lists, and exact cosine runs inside those
    lists. At 100 TB the lists are the partitioning key, so a probe is
    a partition-pruned scan of nprobe/K of the corpus.

    Oracle-checkable determinism: centroids are the IVF_N_CENTROIDS
    lowest-vec_id embeddings (no RNG, no k-means iterations — DuckDB
    replays them as `WHERE vec_id < K`), assignment uses round(d2, 6)
    with lowest-centroid tiebreak, and ranking is (round(cos, 4) DESC,
    vec_id ASC) — no float-ordered LIMIT. Scripts-side margin scan:
    the closest any squared distance sits to a round-6 boundary is
    4.9e-11 and any candidate cosine to a round-4 boundary is 5.6e-8
    at both test SFs, orders of magnitude above cross-engine summation
    error, so the assignment/probe/rank decisions are engine-stable."""
    from .analytics import simsearch

    emb = load(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.where(F.col("vec_id") < IVF_N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = [[float(x) for x in r[1]] for r in rows]
    qv = emb.where(F.col("vec_id") == IVF_QUERY_ID).select("embedding").collect()[0][0]
    keyed = simsearch.add_ivf_key(emb, cents, round_to=6)
    return simsearch.ivf_topk_ranked(
        keyed, qv, cents, k=IVF_TOPK_K, nprobe=IVF_NPROBE
    )


IVF_ANN_TOPK_SQL = f"""
WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                  generate_subscripts(embedding, 1) AS pos
           FROM embeddings),
cent AS (SELECT vec_id AS c, pos, x FROM u WHERE vec_id < {IVF_N_CENTROIDS}),
d2 AS (SELECT u.vec_id, cent.c,
              round(sum((u.x - cent.x) * (u.x - cent.x)), 6) AS d2
       FROM u JOIN cent ON u.pos = cent.pos
       GROUP BY u.vec_id, cent.c),
assign AS (SELECT vec_id, c AS cell FROM d2
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) = 1),
probe AS (SELECT c FROM d2 WHERE vec_id = {IVF_QUERY_ID}
          QUALIFY row_number() OVER (ORDER BY d2, c) <= {IVF_NPROBE}),
qv AS (SELECT pos, x AS qx FROM u WHERE vec_id = {IVF_QUERY_ID}),
qn AS (SELECT sqrt(sum(qx * qx)) AS qn FROM qv),
cand AS (SELECT a.vec_id, a.cell FROM assign a JOIN probe p ON a.cell = p.c),
cos AS (SELECT cand.vec_id, CAST(cand.cell AS INT) AS cell,
               round(sum(u.x * qv.qx) / (sqrt(sum(u.x * u.x)) * qn.qn), 4)
                 AS cos_sim
        FROM cand JOIN u ON u.vec_id = cand.vec_id
        JOIN qv ON qv.pos = u.pos, qn
        GROUP BY cand.vec_id, cand.cell, qn.qn)
SELECT vec_id, cell, cos_sim, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rnk FROM cos)
WHERE rnk <= {IVF_TOPK_K}
"""


PROXIMITY = ("table", "scan")
PROXIMITY_WINDOW = 5

PROXIMITY_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
  WHERE w <> ''
)
SELECT t1.doc_id, count(*) AS n_matches
FROM toks t1
WHERE t1.w = '{PROXIMITY[0]}'
  AND EXISTS (SELECT 1 FROM toks t2
              WHERE t2.doc_id = t1.doc_id AND t2.w = '{PROXIMITY[1]}'
                AND abs(t2.pos - t1.pos) <= {PROXIMITY_WINDOW})
GROUP BY t1.doc_id
"""


REQUIRED_TERM = "join"
EXCLUDED_TERM = "window"


def bm25_filtered_search(spark, sf_dir, k1: float = 1.2, b: float = 0.75):
    """Boolean-filtered BM25: the bm25_search scored set restricted to
    documents that CONTAIN the required term (left-semi join on the
    posting relation) and DON'T contain the excluded term (left-anti) —
    the `+term -term` query-syntax capability, expressed as pure
    relational algebra so the whole filter chain stays JVM-side and the
    semi/anti joins broadcast their tiny term-filtered build sides."""
    docs = load(spark, sf_dir, "documents")
    # N and avgdl ride the lazy plan as broadcast 1-row relations (no
    # eager count/collect jobs per call; same pattern as bm25_search —
    # exact integer sums, identical double arithmetic)
    nrel = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    toks = _tokens(docs)
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"))
    terms = spark.createDataFrame([(t,) for t in QUERY_TERMS], "w string")
    dfc = (
        tf.join(F.broadcast(terms), "w")
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    required = tf.where(F.col("w") == REQUIRED_TERM).select("doc_id")
    excluded = tf.where(F.col("w") == EXCLUDED_TERM).select("doc_id")
    return (
        tf.join(F.broadcast(terms), "w")
        .join(F.broadcast(dfc), "w")
        .join(dl, "doc_id")
        .join(required, "doc_id", "left_semi")
        .join(excluded, "doc_id", "left_anti")
        .join(F.broadcast(nrel))
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(bm25_partial(
                    F.col("tf"), F.col("dl"), bm25_idf(F.col("n"), F.col("df")),
                    F.col("avgdl"), k1, b,
                )),
                4,
            ).alias("score")
        )
    )


BM25_FILTERED_SEARCH_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf WHERE w IN ({_terms_lit()}) GROUP BY w)
SELECT tf.doc_id,
       round(sum(
         ln((n.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
         * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       ), 4) AS score
FROM tf JOIN dfc USING (w) JOIN dl ON tf.doc_id = dl.doc_id, stats, n
WHERE EXISTS (SELECT 1 FROM tf r WHERE r.doc_id = tf.doc_id
              AND r.w = '{REQUIRED_TERM}')
  AND NOT EXISTS (SELECT 1 FROM tf x WHERE x.doc_id = tf.doc_id
                  AND x.w = '{EXCLUDED_TERM}')
GROUP BY tf.doc_id
"""


EMBED_NEARDUP_THRESHOLD = 0.4


def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs over the embeddings table
    (analytics/dedup.embedding_near_pairs): deterministic sign-band
    candidate buckets + exact cosine verify. The oracle reproduces the
    identical sign-band candidates relationally and the same cosine;
    the 0.4 threshold sits >5e-4 from every candidate cosine at both
    test SFs (scripts-side scan), so the selected set is engine-stable.
    """
    from .analytics.dedup import embedding_near_pairs

    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_pairs(
        emb, dim=64, threshold=EMBED_NEARDUP_THRESHOLD
    ).withColumnsRenamed({"id_a": "vec_a", "id_b": "vec_b"})


EMBEDDING_NEAR_DUP_SQL = f"""
WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                  generate_subscripts(embedding, 1) AS pos
           FROM embeddings),
bands AS (
  SELECT vec_id, CAST((pos-1)//8 AS INT) AS band,
         CAST(sum(CASE WHEN x > 0 THEN 1 << CAST((pos-1)%8 AS INT)
                       ELSE 0 END) AS INT) AS bkey
  FROM u GROUP BY 1, 2),
ok AS (SELECT band, bkey FROM bands GROUP BY band, bkey
       HAVING count(*) <= 1000),
keyed AS (SELECT b.* FROM bands b JOIN ok USING (band, bkey)),
cands AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM keyed a JOIN keyed b
          ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM u GROUP BY 1),
dots AS (SELECT c.vec_a, c.vec_b, sum(ua.x * ub.x) AS dot
         FROM cands c JOIN u ua ON ua.vec_id = c.vec_a
         JOIN u ub ON ub.vec_id = c.vec_b AND ub.pos = ua.pos
         GROUP BY 1, 2)
SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
FROM dots JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
WHERE dot / (na.nrm * nb.nrm) >= {EMBED_NEARDUP_THRESHOLD}
"""


# Gopher-style document quality rules (public heuristics: word count
# bounds, mean word length band, stopword floor, type-token floor) —
# thresholds tuned to the synthetic corpus so both pass and fail sides
# are non-empty at the test SFs.
QUALITY_RULES = {
    "min_tokens": 40,
    "max_tokens": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_stop_ratio": 0.015,
    "min_ttr": 0.30,
}


def _quality_checks():
    """The Gopher-rule verdict columns over (n_tokens, mwl, sr, ttr)
    feature columns — ONE definition shared by the batch filter and
    its streaming twin (they share one oracle, so the rules must not
    drift). Returns (checks dict, conjunction)."""
    r = QUALITY_RULES
    checks = {
        "ok_len": (F.col("n_tokens") >= r["min_tokens"])
        & (F.col("n_tokens") <= r["max_tokens"]),
        "ok_mwl": (F.col("mwl") >= r["min_mean_word_len"])
        & (F.col("mwl") <= r["max_mean_word_len"]),
        "ok_stop": F.col("sr") >= r["min_stop_ratio"],
        "ok_ttr": F.col("ttr") >= r["min_ttr"],
    }
    passed = (
        checks["ok_len"] & checks["ok_mwl"] & checks["ok_stop"] & checks["ok_ttr"]
    )
    return checks, passed


def _pred_en_agg():
    """The stop-ratio English predictor as an aggregation column —
    shared by lang_id_accuracy and the curation composite."""
    stop = ", ".join(f"'{t}'" for t in STOP_TERMS)
    return (
        F.sum(F.expr(f"CAST(w IN ({stop}) AS INT)")) / F.count(F.lit(1)) > 0.05
    )


def quality_filter(spark, sf_dir):
    """Rule-based quality FILTER over the quality facets (the
    keep/drop decision a training-data pipeline applies after scoring):
    every doc returns with its pass/fail verdict per rule and overall —
    returning both sides keeps the oracle comparison total and lets the
    pipeline audit why a doc was dropped."""
    docs = load(spark, sf_dir, "documents")
    stop = ", ".join(f"'{t}'" for t in STOP_TERMS)
    toks = _tokens(docs)
    feats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum(F.length("w")) / F.count(F.lit(1))).alias("mwl"),
        (F.sum(F.expr(f"CAST(w IN ({stop}) AS INT)")) / F.count(F.lit(1))).alias("sr"),
        (F.countDistinct("w") / F.count(F.lit(1))).alias("ttr"),
    )
    checks, passed = _quality_checks()
    return feats.select(
        "doc_id",
        "n_tokens",
        *[c.alias(n) for n, c in checks.items()],
        passed.alias("keep"),
    )


QUALITY_FILTER_SQL = f"""
WITH {_TOKENS_CTE},
feats AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         CAST(sum(len(w)) AS DOUBLE) / count(*) AS mwl,
         CAST(sum(CASE WHEN w IN ({", ".join(f"'{t}'" for t in STOP_TERMS)}) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS sr,
         CAST(count(DISTINCT w) AS DOUBLE) / count(*) AS ttr
  FROM tokens GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       n_tokens >= {QUALITY_RULES["min_tokens"]} AND n_tokens <= {QUALITY_RULES["max_tokens"]} AS ok_len,
       mwl >= {QUALITY_RULES["min_mean_word_len"]} AND mwl <= {QUALITY_RULES["max_mean_word_len"]} AS ok_mwl,
       sr >= {QUALITY_RULES["min_stop_ratio"]} AS ok_stop,
       ttr >= {QUALITY_RULES["min_ttr"]} AS ok_ttr,
       (n_tokens >= {QUALITY_RULES["min_tokens"]} AND n_tokens <= {QUALITY_RULES["max_tokens"]})
       AND (mwl >= {QUALITY_RULES["min_mean_word_len"]} AND mwl <= {QUALITY_RULES["max_mean_word_len"]})
       AND sr >= {QUALITY_RULES["min_stop_ratio"]}
       AND ttr >= {QUALITY_RULES["min_ttr"]} AS keep
FROM feats
"""


def lang_id_accuracy(spark, sf_dir):
    """Evaluation composite for the language-ID heuristic: confusion
    counts of the en_ratio predictor against the labeled lang column —
    the accuracy readout a pipeline tracks when it gates training data
    on predicted language."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    feats = toks.groupBy("doc_id").agg(_pred_en_agg().alias("pred_en"))
    joined = feats.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        joined.groupBy("lang", "pred_en")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("actual_en", F.col("lang") == "en")
        .withColumn("correct", F.col("pred_en") == F.col("actual_en"))
    )


LANG_ID_ACCURACY_SQL = f"""
WITH {_TOKENS_CTE},
feats AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN w IN ({", ".join(f"'{t}'" for t in STOP_TERMS)}) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) > 0.05 AS pred_en
  FROM tokens GROUP BY doc_id
)
SELECT d.lang, f.pred_en, count(*) AS n,
       d.lang = 'en' AS actual_en,
       f.pred_en = (d.lang = 'en') AS correct
FROM feats f JOIN documents d ON d.doc_id = f.doc_id
GROUP BY d.lang, f.pred_en
"""


# --------------------------------------------------------------------------
# Dedup cluster resolution (pairs -> connected components -> keep list)
# --------------------------------------------------------------------------

def dedup_keep_list(spark, sf_dir):
    """Pairwise near-dup results resolved into an actionable keep/drop
    list: MinHash+LSH verified pairs (the same relation as
    minhash_verified_pairs) -> connected components by min-label
    propagation (analytics/dedup.connected_components) -> one row per
    document with its cluster's canonical id and whether it survives.
    The oracle recomputes the pair relation in SQL and closes it
    transitively with WITH RECURSIVE — the iterative Spark loop and the
    recursive CTE must agree exactly."""
    from .analytics.dedup import dedup_keep_list as _dkl, minhash_dedup

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    pairs = minhash_dedup(docs, jaccard_threshold=0.5)
    out = _dkl(docs.select("id"), pairs)
    return out.select(
        F.col("id").alias("doc_id"), "component_id", "keep"
    )


DEDUP_KEEP_LIST_SQL = f"""
WITH RECURSIVE pairs AS (
{MINHASH_VERIFIED_PAIRS_SQL}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
)
SELECT id AS doc_id, min(lbl) AS component_id, (id = min(lbl)) AS keep
FROM reach GROUP BY id
"""


# --------------------------------------------------------------------------
# Partial-duplicate pairs (winnowing fingerprints), SQL-mirrored
# --------------------------------------------------------------------------

_KR_B, _KR_M = 131, (1 << 61) - 1
_KR_WINDOW, _KR_KEEP, _KR_MIN_SHARED = 32, 8, 2


def partial_dup_pairs(spark, sf_dir):
    """Partial-dup doc pairs sharing >= 2 winnowing fingerprints
    (analytics/text.partial_dup_pairs: Karp-Rabin rolling hash over
    32-char windows, keep the 8 smallest per doc, boilerplate
    fingerprints in > 128 docs excluded). The oracle replays the exact
    polynomial-hash arithmetic in SQL — per-window sums of
    ord(char) * B^(31-j) mod (2^61 - 1) in HUGEINT — so the Arrow UDF's
    rolling recurrence is checked value-for-value, not just shape."""
    from .analytics.text import partial_dup_pairs as _pdp

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    out = _pdp(docs, window=_KR_WINDOW, keep=_KR_KEEP, min_shared=_KR_MIN_SHARED)
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
    )


PARTIAL_DUP_PAIRS_SQL = f"""
WITH powers(j, p) AS (
  VALUES {", ".join(f"({j}, {pow(_KR_B, _KR_WINDOW - 1 - j, _KR_M)})" for j in range(_KR_WINDOW))}
),
lens AS (SELECT doc_id, length(text) AS len FROM documents),
chars AS (
  SELECT doc_id, i, ord(substr(text, i, 1)) AS c
  FROM documents CROSS JOIN unnest(generate_series(1, length(text))) AS g(i)
),
long_h AS (
  SELECT s.doc_id,
         CAST(sum(CAST(ch.c AS HUGEINT) * pw.p) % {_KR_M} AS BIGINT) AS h
  FROM (
    SELECT c2.doc_id, c2.i AS start
    FROM chars c2 JOIN lens l ON l.doc_id = c2.doc_id
    WHERE l.len >= {_KR_WINDOW} AND c2.i <= l.len - {_KR_WINDOW - 1}
  ) s
  JOIN chars ch ON ch.doc_id = s.doc_id
             AND ch.i BETWEEN s.start AND s.start + {_KR_WINDOW - 1}
  JOIN powers pw ON pw.j = ch.i - s.start
  GROUP BY s.doc_id, s.start
),
short_h AS (
  SELECT ch.doc_id,
         CAST(sum(CAST(ch.c AS HUGEINT) * pw.p) % {_KR_M} AS BIGINT) AS h
  FROM chars ch
  JOIN lens l ON l.doc_id = ch.doc_id
  JOIN powers pw ON pw.j = {_KR_WINDOW - 1} - (l.len - ch.i)
  WHERE l.len BETWEEN 1 AND {_KR_WINDOW - 1}
  GROUP BY ch.doc_id
),
empty_h AS (SELECT doc_id, 0 AS h FROM lens WHERE len = 0),
allh AS (
  SELECT * FROM long_h UNION ALL SELECT * FROM short_h UNION ALL SELECT * FROM empty_h
),
top_k AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
    FROM allh
  ) WHERE rn <= {_KR_KEEP}
),
rare AS (SELECT h FROM top_k GROUP BY h HAVING count(*) <= 128),
tf AS (SELECT t.doc_id, t.h FROM top_k t JOIN rare r ON r.h = t.h)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM tf a JOIN tf b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_KR_MIN_SHARED}
"""


# --------------------------------------------------------------------------
# Search-result snippets (best query-term window), SQL-mirrored
# --------------------------------------------------------------------------

_SNIPPET_WIDTH = 10


def search_snippets(spark, sf_dir):
    """Result snippets for the standard query terms: per matching doc,
    the 10-token window with the most query-term hits (earliest on
    ties) — analytics/text.best_snippet_window, all JVM array algebra.
    The oracle replays the sliding-window hit counts with DuckDB list
    functions and picks the same argmax window."""
    from .analytics.text import best_snippet_window

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    out = best_snippet_window(docs, QUERY_TERMS, width=_SNIPPET_WIDTH)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
        "snippet",
    )


SEARCH_SNIPPETS_SQL = f"""
WITH toksarr AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
hits AS (
  SELECT doc_id, toks,
         list_transform(
           toks,
           t -> CASE WHEN t IN ({", ".join(f"'{t}'" for t in QUERY_TERMS)})
                THEN 1 ELSE 0 END
         ) AS h
  FROM toksarr
),
wins AS (
  SELECT doc_id, toks, g.i AS i,
         CAST(list_sum(h[g.i : g.i + {_SNIPPET_WIDTH - 1}]) AS BIGINT) AS s
  FROM hits
  CROSS JOIN unnest(generate_series(1, len(toks))) AS g(i)
),
best AS (
  SELECT doc_id,
         s AS n_hits,
         array_to_string(toks[i : i + {_SNIPPET_WIDTH - 1}], ' ') AS snippet
  FROM wins
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, i ASC) = 1
)
SELECT doc_id, n_hits, snippet FROM best WHERE n_hits > 0
"""


def bm25_filtered_blocked(spark, sf_dir):
    """The `+term -term` boolean-filtered BM25 answered from the
    COMPRESSED BLOCKED index (wand.blocked_maxscore_topk: one scan of
    query + filter terms aggregated per doc into a score plus
    required/excluded presence flags), checked
    against the same relational EXISTS/NOT-EXISTS oracle as the flat
    bm25_filtered_search — the filter capability proven on the serving
    layout, not just the posting relation."""
    from .compression import assign_doc_indexes, block_postings
    from .wand import blocked_maxscore_topk

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("url"),
        "text",
    )
    n = docs.count()
    toks = (
        docs.select("doc_id", "url", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "url", "term").agg(
        F.count(F.lit(1)).cast("int").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("dl"))
    postings = tf.join(dl, "doc_id").withColumn(
        "positions", F.array().cast("array<int>")
    )
    idx = assign_doc_indexes(docs)
    blocks = block_postings(postings.join(F.broadcast(idx), "doc_id"))
    dsi = (
        dl.join(F.broadcast(idx), "doc_id")
        .select(
            "doc_index",
            F.col("doc_id").alias("url"),
            F.col("dl").alias("n_term_entries"),
        )
    )
    out = blocked_maxscore_topk(
        spark,
        " ".join(QUERY_TERMS),
        blocks,
        dsi,
        n,
        k=1_000_000,
        use_stems=False,
        required=[REQUIRED_TERM],
        excluded=[EXCLUDED_TERM],
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def bigram_lm_scores(spark, sf_dir):
    """CCNet-style perplexity filter input: add-one bigram LM trained
    on the corpus scores every document's negative log likelihood and
    perplexity (analytics/curation.bigram_lm_nll). High-ppl docs are
    the incoherent/boilerplate tail a training-data pipeline drops."""
    from .analytics.curation import bigram_lm_nll

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_nll(docs)


BIGRAM_LM_SCORES_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
  FROM documents
),
allw AS (SELECT unnest(a) AS w FROM toks),
big AS (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
  FROM toks CROSS JOIN unnest(generate_series(1, len(a) - 1)) AS g(i)
  WHERE len(a) >= 2
),
bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
cc AS (SELECT w1, count(*) AS n_ctx FROM big GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM allw),
scored AS (
  SELECT big.doc_id,
         round(-ln((bc.c + 1.0) / (cc.n_ctx + v.v)), 4) AS nll_r
  FROM big JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(nll_r), 4) AS nll,
       round(exp(sum(nll_r) / count(*)), 2) AS ppl
FROM scored GROUP BY doc_id
"""


SPELL_QUERIES = ("tabel", "joni", "sparc", "windoww", "grup", "vallue")
SPELL_MAX_DIST = 2
SPELL_TOPK = 3


def spell_suggest(spark, sf_dir, queries=SPELL_QUERIES):
    """Did-you-mean suggestions: for each (misspelled) query term, the
    top-3 corpus-dictionary terms within Levenshtein distance 2,
    ranked by (distance, df desc, term). The dictionary is the
    term_stats relation; candidate generation is a broadcast of the
    handful of query terms against the vocabulary with a cheap length
    band before the JVM-side levenshtein — the scan-the-dictionary
    plan that holds at a 10M-term vocabulary (the dictionary scan is
    embarrassingly parallel and the window is per-query-term tiny)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    dict_df = (
        _tokens(docs).groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    )
    qdf = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in queries])).alias("qterm")
    )
    cand = (
        dict_df.crossJoin(F.broadcast(qdf))
        .where(
            F.abs(F.length("w") - F.length("qterm")) <= SPELL_MAX_DIST
        )
        .withColumn("dist", F.levenshtein("qterm", "w"))
        .where(F.col("dist") <= SPELL_MAX_DIST)
    )
    win = Window.partitionBy("qterm").orderBy(
        F.col("dist"), F.col("df").desc(), F.col("w")
    )
    return (
        cand.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= SPELL_TOPK)
        .select("qterm", F.col("w").alias("suggestion"), "dist", "df", "rank")
    )


SPELL_SUGGEST_SQL = f"""
WITH {_TOKENS_CTE},
dict AS (SELECT w, count(DISTINCT doc_id) AS df FROM tokens GROUP BY w),
q AS (SELECT unnest([{", ".join(f"'{q}'" for q in SPELL_QUERIES)}]) AS qterm),
cand AS (
  SELECT qterm, w, CAST(levenshtein(qterm, w) AS INT) AS dist, df
  FROM q CROSS JOIN dict
  WHERE abs(len(w) - len(qterm)) <= {SPELL_MAX_DIST}
    AND levenshtein(qterm, w) <= {SPELL_MAX_DIST}
)
SELECT qterm, w AS suggestion, dist, df,
       CAST(row_number() OVER (PARTITION BY qterm ORDER BY dist, df DESC, w) AS INT) AS rank
FROM cand
QUALIFY rank <= {SPELL_TOPK}
"""


CURATE_PPL_MAX = 29.505  # off the 0.01 ppl grid: no boundary-equality rows


def curate_corpus(spark, sf_dir):
    """The full training-data curation pipeline as one relation —
    the composition a corpus user actually runs before training:
    Gopher-style quality rules (quality_filter) AND declared-vs-
    detected language agreement (the CCNet drop-on-mismatch gate) AND
    near-dup cluster survivorship (dedup_keep_list) AND bigram-LM
    perplexity below CURATE_PPL_MAX (bigram_lm_scores). One row per
    doc with each gate's verdict and the conjunction, so a drop is
    auditable to the rule that caused it. Each stage is an existing
    oracle-green operator; the oracle here recomposes their SQL as
    nested CTEs, so the composite must agree gate-by-gate.

    Scale: four independent aggregations over the same columnar scan
    joined back on doc_id — each is the operator's own 100 TB-safe
    plan, and the joins are co-partitioned on the doc key."""
    docs = load(spark, sf_dir, "documents")
    q = quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ok_quality")
    )
    pred = (
        _tokens(docs).groupBy("doc_id").agg(_pred_en_agg().alias("pred_en"))
    )
    dk = dedup_keep_list(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ok_dedup")
    )
    p = bigram_lm_scores(spark, sf_dir).select("doc_id", "ppl")
    joined = (
        docs.select("doc_id", "lang")
        .join(q, "doc_id")
        .join(pred, "doc_id")
        .join(dk, "doc_id")
        .join(p, "doc_id")
    )
    ok_lang = F.col("pred_en") == (F.col("lang") == "en")
    ok_ppl = F.col("ppl") <= CURATE_PPL_MAX
    # every verdict AND the conjunction in ONE select: the ok_* columns
    # this select defines are not referenceable within it
    return joined.select(
        "doc_id",
        F.col("ok_quality"),
        ok_lang.alias("ok_lang"),
        F.col("ok_dedup"),
        ok_ppl.alias("ok_ppl"),
        (F.col("ok_quality") & ok_lang & F.col("ok_dedup") & ok_ppl).alias(
            "keep"
        ),
    )


CURATE_CORPUS_SQL = f"""
WITH RECURSIVE
q AS ({QUALITY_FILTER_SQL}),
l AS (
  WITH {_TOKENS_CTE}
  SELECT doc_id,
         CAST(sum(CASE WHEN w IN ({", ".join(f"'{t}'" for t in STOP_TERMS)}) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) > 0.05 AS pred_en
  FROM tokens GROUP BY doc_id
),
pairs AS (
{MINHASH_VERIFIED_PAIRS_SQL}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
),
dk AS (
  SELECT id AS doc_id, (id = min(lbl)) AS ok_dedup FROM reach GROUP BY id
),
p AS ({BIGRAM_LM_SCORES_SQL})
SELECT d.doc_id,
       q.keep AS ok_quality,
       (l.pred_en = (d.lang = 'en')) AS ok_lang,
       dk.ok_dedup,
       p.ppl <= {CURATE_PPL_MAX} AS ok_ppl,
       q.keep AND (l.pred_en = (d.lang = 'en')) AND dk.ok_dedup
         AND p.ppl <= {CURATE_PPL_MAX} AS keep
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
JOIN dk ON dk.doc_id = d.doc_id
JOIN p ON p.doc_id = d.doc_id
"""


EVAL_QUERIES = {
    1: ("spark", "join"),
    2: ("window", "order", "data"),
    3: ("hash", "table", "scan"),
}
EVAL_K = 10


def search_eval_ndcg(spark, sf_dir, k1: float = 1.2, b: float = 0.75):
    """Ranking-quality evaluation (nDCG@10) for the BM25 ranker over a
    fixed query set with synthetic relevance judgments — the eval
    harness a search team runs on every ranker change. rel=2 when a
    doc matches every query term AND is labeled English — relevance
    deliberately encodes a dimension (the lang label) the ranker does
    not model, so nDCG measurably penalizes it instead of degenerating
    to 1.0; rel=1 for any other match (only matching docs are
    candidates, exactly the engine's semantics). The ranked list
    orders by (rounded score desc, doc_id) and the ideal list by
    (rel desc, doc_id), so both are engine-deterministic; per-position
    gains rel/log2(pos+1) are rounded onto a 1e-4 grid before summing
    (the bigram-LM trick) so DCG/IDCG are order-independent.

    Scale: one scored relation per (query, doc), two window ranks
    partitioned by query (each partition is a candidate set, not the
    corpus), one final agg — query count is the fan-out knob, not
    corpus size."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    n = float(docs.count())
    toks = _tokens(docs)
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).collect()[0][0])
    q_rows = [
        (qid, w, len(ws)) for qid, ws in EVAL_QUERIES.items() for w in ws
    ]
    qdf = spark.createDataFrame(q_rows, "qid int, w string, n_q int")
    dfc = (
        tf.join(F.broadcast(qdf.select("w").distinct()), "w")
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(qdf), "w")
        .join(F.broadcast(dfc), "w")
        .join(dl, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("qid", "n_q", "doc_id", "lang")
        .agg(
            F.round(
                F.sum(bm25_partial(
                    F.col("tf"), F.col("dl"), bm25_idf(n, F.col("df")), avgdl, k1, b
                )),
                4,
            ).alias("score"),
            F.countDistinct("w").alias("n_matched"),
        )
        .withColumn(
            "rel",
            F.when(
                (F.col("n_matched") == F.col("n_q")) & (F.col("lang") == "en"),
                F.lit(2),
            ).otherwise(F.lit(1)),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_ideal = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("doc_id"))
    ranked = scored.withColumn(
        "pos", F.row_number().over(w_rank)
    ).withColumn("ipos", F.row_number().over(w_ideal))
    gains = ranked.select(
        "qid",
        F.when(
            F.col("pos") <= EVAL_K,
            F.round(F.col("rel") / F.log2(F.col("pos") + 1), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("g"),
        F.when(
            F.col("ipos") <= EVAL_K,
            F.round(F.col("rel") / F.log2(F.col("ipos") + 1), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("ig"),
    )
    agg = gains.groupBy("qid").agg(
        F.round(F.sum("g"), 4).alias("dcg"),
        F.round(F.sum("ig"), 4).alias("idcg"),
    )
    return agg.select(
        "qid", "dcg", "idcg",
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg"),
    )


_EVAL_Q_VALUES = ", ".join(
    f"({qid}, '{w}', {len(ws)})"
    for qid, ws in EVAL_QUERIES.items()
    for w in ws
)

SEARCH_EVAL_NDCG_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
q(qid, w, n_q) AS (VALUES {_EVAL_Q_VALUES}),
dfc AS (
  SELECT w, count(DISTINCT doc_id) AS df FROM tf
  WHERE w IN (SELECT w FROM q) GROUP BY w
),
scored AS (
  SELECT q.qid, tf.doc_id,
         round(sum(
           ln((n.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
           * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         ), 4) AS score,
         CASE WHEN count(DISTINCT tf.w) = q.n_q AND d.lang = 'en'
              THEN 2 ELSE 1 END AS rel
  FROM tf JOIN q USING (w) JOIN dfc USING (w)
       JOIN dl ON tf.doc_id = dl.doc_id
       JOIN documents d ON d.doc_id = tf.doc_id, stats, n
  GROUP BY q.qid, q.n_q, tf.doc_id, d.lang
),
ranked AS (
  SELECT qid, rel,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS pos,
         row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS ipos
  FROM scored
),
g AS (
  SELECT qid,
         CASE WHEN pos <= {EVAL_K} THEN round(rel / log2(pos + 1), 4) ELSE 0 END AS g,
         CASE WHEN ipos <= {EVAL_K} THEN round(rel / log2(ipos + 1), 4) ELSE 0 END AS ig
  FROM ranked
),
agg AS (
  SELECT qid, round(sum(g), 4) AS dcg, round(sum(ig), 4) AS idcg FROM g GROUP BY qid
)
SELECT CAST(qid AS INT) AS qid, dcg, idcg, round(dcg / idcg, 4) AS ndcg FROM agg
"""


def streaming_quality_filter(spark, sf_dir):
    """Structured-Streaming twin of quality_filter: the documents
    table replayed through readStream with the quality features
    computed as STATELESS per-row array expressions (filter/aggregate/
    array_distinct over the token array — no explode, no groupBy, no
    state store), drained with availableNow into an append-mode memory
    sink. The stateless form is the shape quality gating takes on a
    100 TB ingest stream — every row is independent, so it scales with
    input partitions and needs no watermark at all. Values must equal
    the batch explode+groupBy relation exactly: the oracle is shared
    with quality_filter."""
    import os
    import shutil

    base = f"/tmp/spark_graft_sqf_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").parquet(f"{base}/in")
    src = spark.readStream.schema(docs.schema).parquet(f"{base}/in")
    stop = ", ".join(f"'{t}'" for t in STOP_TERMS)
    feats = src.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("a"),
    ).where(F.size("a") >= 1).select(
        "doc_id",
        F.size("a").cast("long").alias("n_tokens"),
        (
            F.expr("aggregate(a, 0L, (acc, x) -> acc + length(x))")
            / F.size("a")
        ).alias("mwl"),
        (
            F.expr(f"size(filter(a, x -> x IN ({stop})))") / F.size("a")
        ).alias("sr"),
        (F.size(F.array_distinct("a")) / F.size("a")).alias("ttr"),
    )
    checks, passed = _quality_checks()
    out = feats.select(
        "doc_id",
        "n_tokens",
        *[c.alias(n) for n, c in checks.items()],
        passed.alias("keep"),
    )
    name = "stream_quality_filter_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


BOOLEAN_QUERY = "(spark OR vector) AND scan AND NOT dup"


def _flag_name(t: str) -> str:
    """Column name for a term's presence flag; wildcard prefixes
    ("quer*") get a _pre suffix so the name stays an identifier."""
    return "has_" + t.replace("*", "_pre")


def _bool_sql_expr(node) -> str:
    """Compile the boolean AST to the oracle's SQL predicate over the
    same has_<term> flags — one compiler per target, one AST, so the
    Spark filter and the oracle can't drift."""
    if node.op == "term":
        return _flag_name(node.args)
    if node.op == "not":
        return f"(NOT {_bool_sql_expr(node.args)})"
    j = " AND " if node.op == "and" else " OR "
    return "(" + j.join(_bool_sql_expr(a) for a in node.args) + ")"


def _term_match_col(t: str):
    """Presence predicate for one query term over the token column w
    (exact term, or dictionary prefix for "foo*")."""
    if t.endswith("*"):
        return F.col("w").startswith(t[:-1])
    return F.col("w") == t


def _term_flags(docs, toks, terms):
    """(doc_id, has_<term>...) presence flags for every document — ONE
    term-prefiltered aggregation however many terms. Docs with no query
    term still appear (left join, absent => false) so pure-negation
    predicates evaluate correctly. The single flags builder shared by
    boolean_search and reverse_search: fix token/wildcard semantics
    here once, and every boolean consumer (and its SQL twin through
    _flags_cte_sql) moves together."""
    prefilter = _term_match_col(terms[0])
    for t_ in terms[1:]:
        prefilter = prefilter | _term_match_col(t_)
    flags = (
        toks.where(prefilter)
        .groupBy("doc_id")
        .agg(
            *[
                F.max(_term_match_col(t_).cast("int")).alias(
                    f"_m_{_flag_name(t_)}"
                )
                for t_ in terms
            ]
        )
    )
    return docs.select("doc_id").join(flags, "doc_id", "left").select(
        "doc_id",
        *[
            F.coalesce(
                F.col(f"_m_{_flag_name(t_)}") == 1, F.lit(False)
            ).alias(_flag_name(t_))
            for t_ in terms
        ],
    )


def _term_cond_sql(t: str) -> str:
    if t.endswith("*"):
        return f"w LIKE '{t[:-1]}%'"
    return f"w = '{t}'"


def _flags_cte_sql(terms) -> str:
    """The flags relation as a SQL CTE body — _term_flags' oracle twin
    (one builder per engine, shared by every boolean consumer)."""
    flag_cols = ",\n         ".join(
        f"coalesce(max(CASE WHEN {_term_cond_sql(t)} THEN 1 END) = 1, FALSE)"
        f" AS {_flag_name(t)}"
        for t in terms
    )
    prefilter = " OR ".join(f"t.{_term_cond_sql(t)}" for t in terms)
    return f"""flags AS (
  SELECT d.doc_id,
         {flag_cols}
  FROM documents d
  LEFT JOIN tokens t ON t.doc_id = d.doc_id AND ({prefilter})
  GROUP BY d.doc_id
)"""



def boolean_search(spark, sf_dir, query: str = BOOLEAN_QUERY):
    """Boolean retrieval with a real query language — AND/OR/NOT and
    parentheses (functions.library.parse_boolean_query) — evaluated as
    ONE aggregation producing per-document term-presence flags plus a
    single compiled filter Column. No per-operator set joins: the plan
    is a term-filtered scan, one groupBy(doc), one filter, whatever
    the clause count — the shape that survives 10^12 docs and 20-term
    queries. Docs with no query term still evaluate (left join,
    absent => false), so pure-negation branches are correct."""
    from .functions.library import boolean_expr, parse_boolean_query

    ast = parse_boolean_query(query)
    terms = ast.terms()
    docs = load(spark, sf_dir, "documents")
    full = _term_flags(docs, _tokens(docs), terms)
    pred = boolean_expr(ast, lambda t: F.col(_flag_name(t)))
    return full.where(pred)


def _boolean_search_sql(query: str = BOOLEAN_QUERY) -> str:
    from .functions.library import parse_boolean_query

    ast = parse_boolean_query(query)
    terms = ast.terms()
    return f"""
WITH {_TOKENS_CTE},
{_flags_cte_sql(terms)}
SELECT doc_id, {", ".join(_flag_name(t) for t in terms)}
FROM flags WHERE {_bool_sql_expr(ast)}
"""


BOOLEAN_SEARCH_SQL = _boolean_search_sql()

# wildcard variant: "s*" expands against whatever the corpus holds —
# the dictionary-prefix disjunction a search box's trailing-star means
BOOLEAN_WILDCARD_QUERY = "s* AND dup AND NOT window"
BOOLEAN_WILDCARD_SQL = _boolean_search_sql(BOOLEAN_WILDCARD_QUERY)


def boolean_wildcard_search(spark, sf_dir):
    """boolean_search with a trailing-star prefix term (see
    BOOLEAN_WILDCARD_QUERY): the flag aggregation evaluates the prefix
    as startswith/LIKE, so expansion needs no dictionary round-trip
    and the same single-aggregation plan holds."""
    return boolean_search(spark, sf_dir, query=BOOLEAN_WILDCARD_QUERY)


def source_collapse(spark, sf_dir):
    """Result diversification by source (the SERP host-collapse rule:
    at most one result per site): for the fixed query, each source's
    single best-scoring document. Winner selection is deterministic —
    rounded BM25 descending with doc_id tiebreak — and the output is
    the full per-source winner set (no float-ordered LIMIT), so the
    oracle replays it with one window function. At scale this is one
    window over the scored relation partitioned by source — the
    partition count is the site count, not the corpus."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    scored = bm25_search(spark, sf_dir).join(docs, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "doc_id", "score")
    )


SOURCE_COLLAPSE_SQL = f"""
WITH scored AS ({BM25_SEARCH_SQL})
SELECT d.source, s.doc_id, s.score
FROM scored s JOIN documents d USING (doc_id)
QUALIFY row_number() OVER (
  PARTITION BY d.source ORDER BY s.score DESC, s.doc_id
) = 1
"""


def search_eval_mrr(spark, sf_dir, k1: float = 1.2, b: float = 0.75):
    """Reciprocal-rank companion to search_eval_ndcg over the same
    queries/judgments: each query's first fully-relevant (rel=2)
    position in the BM25 ranking and its reciprocal rank — the other
    metric a ranking dashboard tracks. Emitting per-query rows (not
    the mean) keeps the output exact: rank is an integer and
    rr = round(1/rank, 4)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    n = float(docs.count())
    toks = _tokens(docs)
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = float(dl.agg(F.avg("dl")).collect()[0][0])
    q_rows = [
        (qid, w, len(ws)) for qid, ws in EVAL_QUERIES.items() for w in ws
    ]
    qdf = spark.createDataFrame(q_rows, "qid int, w string, n_q int")
    dfc = (
        tf.join(F.broadcast(qdf.select("w").distinct()), "w")
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(qdf), "w")
        .join(F.broadcast(dfc), "w")
        .join(dl, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("qid", "n_q", "doc_id", "lang")
        .agg(
            F.round(
                F.sum(bm25_partial(
                    F.col("tf"), F.col("dl"), bm25_idf(n, F.col("df")), avgdl, k1, b
                )),
                4,
            ).alias("score"),
            F.countDistinct("w").alias("n_matched"),
        )
        .withColumn(
            "rel2",
            (F.col("n_matched") == F.col("n_q")) & (F.col("lang") == "en"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = scored.withColumn("pos", F.row_number().over(w_rank))
    return (
        ranked.where("rel2")
        .groupBy("qid")
        .agg(F.min("pos").cast("long").alias("first_rel_pos"))
        .select(
            "qid",
            "first_rel_pos",
            F.round(1.0 / F.col("first_rel_pos"), 4).alias("rr"),
        )
    )


SEARCH_EVAL_MRR_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
q(qid, w, n_q) AS (VALUES {_EVAL_Q_VALUES}),
dfc AS (
  SELECT w, count(DISTINCT doc_id) AS df FROM tf
  WHERE w IN (SELECT w FROM q) GROUP BY w
),
scored AS (
  SELECT q.qid, tf.doc_id,
         round(sum(
           ln((n.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
           * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         ), 4) AS score,
         (count(DISTINCT tf.w) = q.n_q AND d.lang = 'en') AS rel2
  FROM tf JOIN q USING (w) JOIN dfc USING (w)
       JOIN dl ON tf.doc_id = dl.doc_id
       JOIN documents d ON d.doc_id = tf.doc_id, stats, n
  GROUP BY q.qid, q.n_q, tf.doc_id, d.lang
),
ranked AS (
  SELECT qid, rel2,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS pos
  FROM scored
)
SELECT qid, CAST(min(pos) AS BIGINT) AS first_rel_pos,
       round(1.0 / min(pos), 4) AS rr
FROM ranked WHERE rel2 GROUP BY qid
"""


PMI_MIN_SUPPORT = 2


def term_pmi(spark, sf_dir):
    """Pointwise mutual information over term co-occurrence: for every
    term pair (a < b) co-occurring in >= PMI_MIN_SUPPORT documents,
    pmi = ln(N * c_ab / (c_a * c_b)) — the association score behind
    collocation discovery and query-expansion candidates. Every count
    is an integer, so the ratio is exact and one round-4 ln is the
    only float. The pair relation is a distinct (doc, term) self-join;
    at web scale the same plan needs the corpus's per-doc distinct-term
    cap and a df ceiling on the join's hot side (the shingle/bucket
    caps dedup already uses) — quadratic blowup lives in the data, not
    the operator."""
    docs = load(spark, sf_dir, "documents")
    n = float(docs.count())
    dt = _tokens(docs).distinct()
    dfc = dt.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    pairs = (
        dt.alias("a")
        .join(dt.alias("b"), "doc_id")
        .where(F.col("a.w") < F.col("b.w"))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_SUPPORT)
    )
    return (
        pairs.join(dfc.select(F.col("w").alias("w1"), F.col("df").alias("c_a")), "w1")
        .join(dfc.select(F.col("w").alias("w2"), F.col("df").alias("c_b")), "w2")
        .select(
            "w1", "w2", "c_ab",
            F.round(
                F.log(F.lit(n) * F.col("c_ab") / (F.col("c_a") * F.col("c_b"))),
                4,
            ).alias("pmi"),
        )
    )


TERM_PMI_SQL = f"""
WITH {_TOKENS_CTE},
dt AS (SELECT DISTINCT doc_id, w FROM tokens),
dfc AS (SELECT w, count(*) AS df FROM dt GROUP BY w),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_SUPPORT}
)
SELECT p.w1, p.w2, p.c_ab,
       round(ln(n.n * p.c_ab / (fa.df * fb.df)), 4) AS pmi
FROM pairs p
JOIN dfc fa ON fa.w = p.w1
JOIN dfc fb ON fb.w = p.w2, n
"""


DOC_KEYWORDS_K = 3


def doc_keywords(spark, sf_dir):
    """Top-K keyword extraction per document: the K terms with the
    highest in-doc frequency, rarest-first then alphabetical on ties —
    the per-doc keyword step behind tagging, snippet highlighting and
    query expansion. The TF-IDF score is carried as an output column
    but the RANKING keys are all integers/strings (tf desc, df asc,
    term asc) so both engines pick identical rows — never rank on a
    float across engines. The window partitions by doc_id (millions of
    small partitions, no global funnel); tf/df are two hash aggs off
    the same scan and N arrives as a broadcast 1-row relation."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfc = toks.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    ndf = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("w").asc()
    )
    return (
        tf.join(dfc, "w")
        .withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= DOC_KEYWORDS_K)
        .crossJoin(F.broadcast(ndf))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 4).alias("tfidf"),
            "rank",
        )
    )


DOC_KEYWORDS_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY 1, 2),
dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
ranked AS (
  SELECT tf.doc_id, tf.w, tf.tf, dfc.df,
         row_number() OVER (
           PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfc.df ASC, tf.w ASC
         ) AS rn
  FROM tf JOIN dfc ON dfc.w = tf.w)
SELECT r.doc_id, r.w AS term, r.tf, r.df,
       round(r.tf * ln(n.n / r.df), 4) AS tfidf,
       CAST(r.rn AS INTEGER) AS rank
FROM ranked r, n WHERE r.rn <= {DOC_KEYWORDS_K}
"""


CONTAM_MIN_SHARED = 2


def contamination_check(spark, sf_dir):
    """Train/test decontamination: which held-out (test-split) documents
    leak into the training split, measured as pairs sharing >=
    CONTAM_MIN_SHARED distinct 3-word shingles — the overlap audit an
    LLM-data pipeline runs before training so eval sets aren't
    memorized. Splits come from the same deterministic hash buckets as
    dataset_split (pure function of doc_id, no coordination).

    Same quadratic-blowup guard as ngram_jaccard: shingles in more than
    SHINGLE_DF_CAP docs (boilerplate) are excluded from the
    pair-generating join, mirrored in the oracle. At 100 TB the join
    shuffles on the shingle key with bounded per-key fan-out
    (<= cap^2 pairs per shingle), never on doc pairs."""
    from .analytics.curation import hash_bucket

    sh = _shingles(spark, sf_dir)
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .where(F.col("sdf") <= SHINGLE_DF_CAP)
        .select("sh")
    )
    sided = sh.join(rare, "sh", "left_semi").withColumn(
        "sb", hash_bucket(F.col("doc_id"), 1000, ":split")
    )
    test = sided.where(F.col("sb") >= 900).select(
        F.col("doc_id").alias("test_doc"), "sh"
    )
    train = sided.where(F.col("sb") < 800).select(
        F.col("doc_id").alias("train_doc"), "sh"
    )
    return (
        test.join(train, "sh")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .where(F.col("shared_shingles") >= CONTAM_MIN_SHARED)
    )


CONTAMINATION_CHECK_SQL = f"""
WITH {_SHINGLES_CTE},
rare AS (SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= {SHINGLE_DF_CAP}),
sided AS (
  SELECT s.doc_id, s.sh,
         ('0x' || substring(md5(CAST(s.doc_id AS VARCHAR) || ':split'), 1, 15))
           ::BIGINT % 1000 AS sb
  FROM shingles s JOIN rare USING (sh))
SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
       count(*) AS shared_shingles
FROM sided te JOIN sided tr ON te.sh = tr.sh
WHERE te.sb >= 900 AND tr.sb < 800
GROUP BY 1, 2 HAVING count(*) >= {CONTAM_MIN_SHARED}
"""


CHUNK_BUDGET = 256


def pack_chunks_query(spark, sf_dir):
    """Sequence packing (concat-and-chunk) over the documents table —
    see analytics.curation.pack_chunks for the two-phase distributed
    prefix sum (the oracle's ordered window is the SEMANTIC spec; the
    Spark plan never runs a global single-reducer window)."""
    from .analytics.curation import pack_chunks

    docs = load(spark, sf_dir, "documents")
    return pack_chunks(docs, "doc_id", "text", CHUNK_BUDGET)


PACK_CHUNKS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM t)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {CHUNK_BUDGET} AS chunk_id,
       CASE WHEN n_tokens = 0 THEN 1
            ELSE (start_offset + n_tokens - 1) // {CHUNK_BUDGET}
                 - start_offset // {CHUNK_BUDGET} + 1 END AS n_chunks
FROM c
"""


SHUFFLE_EPOCHS = 2


def epoch_shuffle(spark, sf_dir):
    """Reproducible per-epoch corpus shuffling: for each training epoch,
    every document's position in that epoch's shuffled order, as the
    rank of md5(doc_id || ':epoch<e>') — the deterministic reshuffle an
    LLM training pipeline needs so every re-run, resume and backfill
    reads the same order with zero coordination (seeded random()
    changes with partitioning). Ranking a hash is safe cross-engine:
    md5 strings are unique, no float ordering.

    The numbering reuses compression.assign_doc_indexes' two-phase
    range-partition + per-partition-count + Arrow numbering — a window
    row_number over a whole epoch would funnel the corpus through one
    reducer."""
    from .compression import assign_doc_indexes

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    parts = []
    for ep in range(SHUFFLE_EPOCHS):
        keyed = docs.withColumn(
            "h", F.md5(F.concat(F.col("doc_id"), F.lit(f":epoch{ep}")))
        )
        numbered = assign_doc_indexes(keyed, order_col="h")
        parts.append(
            numbered.select(
                F.lit(ep).alias("epoch"),
                F.col("doc_id").cast("long").alias("doc_id"),
                (F.col("doc_index") + 1).alias("pos"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


EPOCH_SHUFFLE_SQL = f"""
WITH e AS (SELECT unnest(generate_series(0, {SHUFFLE_EPOCHS - 1})) AS epoch),
h AS (
  SELECT e.epoch, d.doc_id,
         md5(CAST(d.doc_id AS VARCHAR) || ':epoch' || CAST(e.epoch AS VARCHAR)) AS hh
  FROM documents d CROSS JOIN e)
SELECT CAST(epoch AS INTEGER) AS epoch, doc_id,
       row_number() OVER (PARTITION BY epoch ORDER BY hh) AS pos
FROM h
"""


# Java regex (Spark) and RE2 (DuckDB) agree on this conservative
# subset: character classes, bounded quantifiers, \d, \b — no
# backrefs/lookaround (RE2 has neither)
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE_RE = r"\b555-\d{4}\b"


def pii_redact(spark, sf_dir):
    """PII scrubbing: redact emails, IPv4 addresses and (555-prefixed
    fixture) phone numbers from document text and count each class —
    the privacy-cleaning pass every web-scale training corpus gets
    before training. The testdata text is synthetic and PII-free, so
    the entry first derives a text with deterministic doc_id-seeded
    PII planted (both engines derive the identical string); the
    operator itself is three chained regexp_replace's + counts, all
    JVM-side whole-stage codegen — at 100 TB this is a pure map stage
    with zero shuffle. Patterns stay inside the Java-regex/RE2 common
    subset so the oracle replays them byte-for-byte."""
    docs = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = docs.select("doc_id", planted.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        redacted.alias("redacted"),
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
    )


PII_REDACT_SQL = (
    """
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id % 100 AS VARCHAR)
              || ' or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS t
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         t, '__EMAIL__', '<EMAIL>', 'g'),
         '__IP__', '<IP>', 'g'),
         '__PHONE__', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(t, '__EMAIL__')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '__IP__')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '__PHONE__')) AS BIGINT) AS n_phones
FROM t
"""
    .replace("__EMAIL__", PII_EMAIL_RE)
    .replace("__IP__", PII_IPV4_RE)
    .replace("__PHONE__", PII_PHONE_RE)
)


# per-mille target mixture over the lang strata + a corpus token
# budget: integer arithmetic end to end, so the plan is exact in any
# engine (weights as per-mille avoid float weights entirely)
MIX_WEIGHTS_PM = {"en": 500, "de": 150, "fr": 150, "es": 100, "zh": 100}
MIX_TOKEN_BUDGET = 20_000


def source_mix_plan(spark, sf_dir):
    """Data-mixture planning: given per-language target weights and a
    total token budget, report per stratum the corpus inventory
    (docs, tokens) and the sampling plan — target token count,
    per-mille keep rate when downsampling, and the repeat factor
    (epochs) when the stratum must be upsampled. This is the step
    that turns 'train on 50% en / 15% de / ...' into concrete
    per-stratum rates (the Pile/CCNet-style mixture table). All
    integer division, so the plan is bit-identical across engines;
    one hash aggregation over a map-side token count at any scale."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    w = F.lit(None).cast("long")
    for k, v in sorted(MIX_WEIGHTS_PM.items()):
        w = F.when(F.col("lang") == k, F.lit(v).cast("long")).otherwise(w)
    agg = (
        docs.select("lang", ntok.alias("nt"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
        .withColumn("weight_pm", w)
        .where(F.col("weight_pm").isNotNull())
    )
    # genuinely integer division end to end (Spark DIV == DuckDB //):
    # double '/'-then-cast would truncate DOWN from a rounded-UP
    # quotient near 2^52-scale token counts and diverge from the oracle
    tgt = f"(weight_pm * {MIX_TOKEN_BUDGET} DIV 1000)"
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "weight_pm",
        F.expr(tgt).alias("target_tokens"),
        F.expr(
            f"least(CAST(1000 AS BIGINT), {tgt} * 1000 DIV n_tokens)"
        ).alias("keep_rate_pm"),
        F.expr(
            f"greatest(CAST(1 AS BIGINT), ({tgt} + n_tokens - 1) DIV n_tokens)"
        ).alias("epochs"),
    )


SOURCE_MIX_PLAN_SQL = f"""
WITH inv AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
wts AS (
  SELECT lang, n_docs, n_tokens,
         CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 150 WHEN 'fr' THEN 150
                   WHEN 'es' THEN 100 WHEN 'zh' THEN 100 END AS weight_pm
  FROM inv),
plan AS (
  SELECT *, CAST(weight_pm * {MIX_TOKEN_BUDGET} // 1000 AS BIGINT) AS target_tokens
  FROM wts WHERE weight_pm IS NOT NULL)
SELECT lang, n_docs, n_tokens, CAST(weight_pm AS BIGINT) AS weight_pm,
       target_tokens,
       CAST(least(1000, target_tokens * 1000 // n_tokens) AS BIGINT) AS keep_rate_pm,
       CAST(greatest(1, (target_tokens + n_tokens - 1) // n_tokens) AS BIGINT) AS epochs
FROM plan
"""


KMV_K = 32


def kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct-count sketch, oracle-checkable: hash
    every document text to a 60-bit integer (md5 prefix), keep the K
    smallest distinct hashes, and estimate the distinct-text count as
    (K-1) / normalized_kth_min — the classic KMV/bottom-k estimator
    behind approx-distinct in every engine. Unlike HyperLogLog the
    whole sketch state is deterministic (hashes are md5, the K minima
    are unique integers, LIMIT over them cannot tie), so the ESTIMATE
    itself is oracle-checkable to the last rounded digit — a sketch
    with an exactness proof. Output carries the estimate next to the
    exact distinct count so the error is visible in the row.

    Scale shape: bottom-K of a hashed column is TakeOrdered (per-
    partition heaps + driver merge of K values, no global sort), and
    the sketch merges by unioning bottom-K sets — the standard
    mergeable-sketch contract. K=32 keeps the driver state trivial."""
    docs = load(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.encode(F.col("text"), "utf-8")), 1, 15), 16, 10).cast(
        "long"
    )
    mins = docs.select(h.alias("h")).distinct().orderBy("h").limit(KMV_K)
    exact = docs.agg(F.countDistinct("text").alias("exact_distinct"))
    sk = mins.agg(
        F.count(F.lit(1)).alias("k"), F.max("h").alias("hk")
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "k",
        "hk",
        F.round(
            (F.col("k") - 1) * F.lit(float(1 << 60)) / F.col("hk"), 2
        ).alias("estimate"),
        "exact_distinct",
    )


KMV_DISTINCT_SQL = f"""
WITH mins AS (
  SELECT DISTINCT ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
  FROM documents ORDER BY h LIMIT {KMV_K}),
sk AS (SELECT count(*) AS k, max(h) AS hk FROM mins),
ex AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct FROM documents)
SELECT sk.k, sk.hk,
       round((sk.k - 1) * 1152921504606846976.0 / sk.hk, 2) AS estimate,
       ex.exact_distinct
FROM sk, ex
"""


FIXED_SAMPLE_PER_STRATUM = 3


def stratified_fixed_sample(spark, sf_dir):
    """Fixed-SIZE stratified sampling: exactly N documents per
    language, chosen as the N smallest md5(doc_id || ':fix') hashes —
    the deterministic complement to stratified_keep's fixed-RATE
    sampling (eval sets and human-review batches need exact counts).
    Hash-ordering makes the choice a pure function of the keys:
    partitioning-invariant, reproducible, and tie-free (hashes of
    distinct ids are distinct). The window partitions by stratum;
    strata are bounded (languages), and rank-N-per-group stays a
    per-partition top-N heap under Spark's WindowGroupLimit
    optimization, never a full sort of the stratum."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fix")))
    win = Window.partitionBy("lang").orderBy("h")
    return (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= FIXED_SAMPLE_PER_STRATUM)
        .select("lang", "doc_id", F.col("rn").cast("int").alias("rn"))
    )


STRATIFIED_FIXED_SAMPLE_SQL = f"""
WITH h AS (
  SELECT lang, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':fix') AS h
  FROM documents),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM h)
SELECT lang, doc_id, CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= {FIXED_SAMPLE_PER_STRATUM}
"""


def lexical_diversity(spark, sf_dir):
    """Per-document lexical-diversity features: token count, distinct
    token count, type-token ratio, in-doc hapax count (terms used
    exactly once) and hapax ratio — the diversity half of quality
    filtering (boilerplate and keyword-stuffed pages have pathological
    TTR/hapax profiles; Gopher's repetition rules are the inverse of
    this signal). One (doc, term) aggregation then one per-doc
    aggregation; ratios are int/int rounded on both engines."""
    docs = load(spark, sf_dir, "documents")
    tf = _tokens(docs).groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("tf"), 4).alias("ttr"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        F.round(
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)) / F.sum("tf"), 4
        ).alias("hapax_ratio"),
    )


LEXICAL_DIVERSITY_SQL = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, w, count(*) AS tf FROM tokens GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       round(CAST(count(*) AS DOUBLE) / sum(tf), 4) AS ttr,
       CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / sum(tf), 4)
         AS hapax_ratio
FROM tf GROUP BY doc_id
"""


SUBSTR_DUP_WIDTH = 10


def substring_dup_spans(spark, sf_dir):
    """Exact-substring dedup spans over the documents table — see
    analytics.dedup.substring_dup_spans (Lee et al. 2022 semantics:
    every 10-token run occurring more than once in the corpus, merged
    into maximal per-doc removal intervals)."""
    from .analytics.dedup import substring_dup_spans as _spans

    docs = load(spark, sf_dir, "documents")
    return _spans(docs, "doc_id", "text", SUBSTR_DUP_WIDTH)


SUBSTRING_DUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
  WHERE w <> ''),
arr AS (SELECT doc_id, list(w ORDER BY pos) AS a FROM toks GROUP BY doc_id),
sh AS (
  SELECT doc_id, i AS pos,
         list_aggregate(a[i:i + {SUBSTR_DUP_WIDTH - 1}], 'string_agg', ' ') AS h
  FROM arr CROSS JOIN unnest(generate_series(1, len(a) - {SUBSTR_DUP_WIDTH - 1}))
       AS g(i)),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
hits AS (
  SELECT s.doc_id, s.pos, s.pos + {SUBSTR_DUP_WIDTH - 1} AS e
  FROM sh s JOIN dup USING (h)),
flagged AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR pos > max(e) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits),
islands AS (
  SELECT doc_id, pos, e,
         sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM flagged)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       count(*) AS n_grams
FROM islands GROUP BY doc_id, island
"""


def corpus_drift(spark, sf_dir):
    """Corpus drift report: per-term log-ratio of smoothed relative
    frequencies between two deterministic halves of the corpus (hash
    bucket ':drift' < 500 = 'old', rest = 'new') — the
    distribution-shift monitor a training-data pipeline runs between
    crawl snapshots (a term whose frequency doubles between snapshots
    flags topic drift, spam floods, or extraction regressions).

    log_ratio = ln((c_new+1) * (N_old+V) / ((c_old+1) * (N_new+V)))
    (add-one smoothing; N = side token count, V = union vocabulary).
    Every factor is an exact integer, so the single rounded ln is the
    only float — the bigram-LM rounding pattern. Two hash
    aggregations and a full-outer term join; scales as wordcount."""
    from .analytics.curation import hash_bucket

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        (hash_bucket(F.col("doc_id"), 1000, ":drift") < 500).alias("is_old"),
        F.explode(F.split("text", " ")).alias("w"),
    ).where(F.col("w") != "")
    counts = toks.groupBy("w").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("long").alias("c_old"),
        F.sum(F.when(F.col("is_old"), 0).otherwise(1)).cast("long").alias("c_new"),
    )
    totals = toks.agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("long").alias("n_old"),
        F.sum(F.when(F.col("is_old"), 0).otherwise(1)).cast("long").alias("n_new"),
        F.countDistinct("w").alias("v"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        F.col("w").alias("term"),
        "c_old",
        "c_new",
        F.round(
            F.log(
                (F.col("c_new") + 1)
                * (F.col("n_old") + F.col("v"))
                / ((F.col("c_old") + 1) * (F.col("n_new") + F.col("v")))
            ),
            4,
        ).alias("log_ratio"),
    )


CORPUS_DRIFT_SQL = f"""
WITH toks AS (
  SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':drift'), 1, 15))
           ::BIGINT % 1000 < 500 AS is_old,
         w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''),
counts AS (
  SELECT w,
         CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
         CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS c_new
  FROM toks GROUP BY w),
totals AS (
  SELECT CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
         count(DISTINCT w) AS v
  FROM toks)
SELECT w AS term, c_old, c_new,
       round(ln(CAST((c_new + 1) * (n_old + v) AS DOUBLE)
                / ((c_old + 1) * (n_new + v))), 4) AS log_ratio
FROM counts, totals
"""


# ---------------------------------------------------------------------------
# round-5 batch: hybrid retrieval, repetition filter, DSIR weights, SQ8 ANN


RRF_K = 60
RRF_POOL = 50


def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    ranking and the embedding-cosine ranking (vec_id == doc_id in the
    testdata) are each cut to a RRF_POOL candidate pool and fused with
    rrf = sum 1/(RRF_K + rank) — the standard hybrid-search scorer
    (Cormack et al. 2009), and the shape a modern engine serves when it
    has both an inverted index and a vector index.

    Determinism: each pool is ranked by (rounded score DESC, id ASC) —
    a total order, so the rank column and the pool cut are
    engine-stable without any float-LIMIT hazard; the fused score is a
    fixed-order sum of two divisions of integer ranks, bit-identical
    across engines before its round(6). Scale: the rank window runs
    over the retriever's candidate set (df-bounded for BM25, pool-k for
    ANN), not the corpus — in the engine path the inputs are already
    top-k lists from the blocked BM25 text / IVF, and the fusion is a
    k-row join."""
    from pyspark.sql import Window

    bm = bm25_search(spark, sf_dir)
    cs = cosine_scores(spark, sf_dir)
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    bmr = (
        bm.select("doc_id", F.row_number().over(wb).cast("int").alias("bm25_rnk"))
        .where(F.col("bm25_rnk") <= RRF_POOL)
    )
    wc = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    csr = (
        cs.select(
            F.col("vec_id").alias("doc_id"),
            F.row_number().over(wc).cast("int").alias("cos_rnk"),
        )
        .where(F.col("cos_rnk") <= RRF_POOL)
    )
    fused = bmr.join(csr, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rnk")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("cos_rnk")), F.lit(0.0)),
        6,
    )
    return fused.select(
        "doc_id",
        F.coalesce(F.col("bm25_rnk"), F.lit(0)).cast("int").alias("bm25_rnk"),
        F.coalesce(F.col("cos_rnk"), F.lit(0)).cast("int").alias("cos_rnk"),
        rrf.alias("rrf"),
    )


HYBRID_SEARCH_RRF_SQL = f"""
WITH bm AS ({BM25_SEARCH_SQL}),
cs AS ({COSINE_SCORES_SQL}),
bmr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS bm25_rnk
  FROM bm QUALIFY bm25_rnk <= {RRF_POOL}),
csr AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INT) AS cos_rnk
  FROM cs QUALIFY cos_rnk <= {RRF_POOL})
SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
       CAST(coalesce(b.bm25_rnk, 0) AS INT) AS bm25_rnk,
       CAST(coalesce(c.cos_rnk, 0) AS INT) AS cos_rnk,
       round(coalesce(1.0 / ({RRF_K} + b.bm25_rnk), 0.0)
             + coalesce(1.0 / ({RRF_K} + c.cos_rnk), 0.0), 6) AS rrf
FROM bmr b FULL JOIN csr c ON b.doc_id = c.doc_id
"""


# off the round-4 grid (5th decimal ...5): a rounded fraction can never
# equal the threshold, so the keep cut is engine-stable by construction
REP_TOP2_MAX = 0.20005
REP_DUP3_MAX = 0.10005


def repetition_filter(spark, sf_dir):
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): per
    document, the character fraction covered by the heaviest duplicated
    2-gram (count x chars, the 'top n-gram' rule) and the fraction of
    characters inside duplicated 3-grams (count > 1, overlap not
    deduped — the standard implementation shortcut), plus the keep
    decision against off-grid thresholds. Boilerplate / template spam
    scores high on both and gets dropped before training.

    Everything is integer counting until the two final int/int
    divisions, so both engines compute bit-identical doubles; n-grams
    are built JVM-side with transform over the token array (no window,
    no Python), and the per-(doc, gram) groupBy is the only shuffle —
    the wordcount shape that scales linearly."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("t")
    )
    tot = base.select(
        "doc_id",
        F.expr(
            "CAST(coalesce(aggregate(t, 0L, (acc, x) -> acc + length(x)), 0L)"
            " AS BIGINT)"
        ).alias("total_chars"),
    )
    big = base.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
        ).alias("g"),
    )
    bc = big.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    top2 = bc.groupBy("doc_id").agg(
        F.max(F.col("c") * (F.length("g") - 1)).alias("ch")
    )
    tri = base.where(F.size("t") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("g"),
    )
    tc = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    dup3 = tc.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * (F.length("g") - 2)).otherwise(0)
        ).cast("long").alias("ch")
    )
    scored = (
        tot.join(top2, "doc_id", "left")
        .join(dup3.withColumnRenamed("ch", "ch3"), "doc_id", "left")
        .select(
            "doc_id",
            "total_chars",
            F.coalesce(F.col("ch"), F.lit(0)).cast("long").alias("top2_chars"),
            F.coalesce(F.col("ch3"), F.lit(0)).cast("long").alias("dup3_chars"),
            F.round(
                F.coalesce(F.col("ch"), F.lit(0))
                / F.col("total_chars").cast("double"),
                4,
            ).alias("top2_frac"),
            F.round(
                F.coalesce(F.col("ch3"), F.lit(0))
                / F.col("total_chars").cast("double"),
                4,
            ).alias("dup3_frac"),
        )
    )
    return scored.withColumn(
        "keep",
        (F.col("top2_frac") <= REP_TOP2_MAX) & (F.col("dup3_frac") <= REP_DUP3_MAX),
    )


REPETITION_FILTER_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
tot AS (SELECT doc_id,
               CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0)
                    AS BIGINT) AS total_chars
        FROM toks),
big AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
        FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS gs(i)
        WHERE len(t) >= 2),
bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
top2 AS (SELECT doc_id, max(c * (len(g) - 1)) AS ch FROM bc GROUP BY doc_id),
tri AS (SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
        FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 2)) AS gs(i)
        WHERE len(t) >= 3),
tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
dup3 AS (SELECT doc_id,
                CAST(sum(CASE WHEN c > 1 THEN c * (len(g) - 2) ELSE 0 END)
                     AS BIGINT) AS ch
         FROM tc GROUP BY doc_id),
scored AS (
  SELECT tot.doc_id, total_chars,
         CAST(coalesce(top2.ch, 0) AS BIGINT) AS top2_chars,
         CAST(coalesce(dup3.ch, 0) AS BIGINT) AS dup3_chars,
         round(coalesce(top2.ch, 0) / CAST(total_chars AS DOUBLE), 4) AS top2_frac,
         round(coalesce(dup3.ch, 0) / CAST(total_chars AS DOUBLE), 4) AS dup3_frac
  FROM tot LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id))
SELECT *, top2_frac <= {REP_TOP2_MAX} AND dup3_frac <= {REP_DUP3_MAX} AS keep
FROM scored
"""


DSIR_BUCKETS = 1024
DSIR_KEEP_MIN = -1.00005  # off the round-4 grid


def dsir_importance(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023): hashed unigram
    features (md5 bucket, DSIR_BUCKETS), add-one-smoothed bucket
    distributions for the target corpus (lang='en') vs the rest, and a
    per-document importance weight = sum over token occurrences of the
    bucket's log probability ratio. High-weight docs 'look like' the
    target distribution and are kept for training.

    Rounding policy: every count is an exact integer; the per-bucket
    log-ratio is the single transcendental, rounded to the 1e-4 grid
    BEFORE the per-doc sum (the bigram-LM pattern — grid addends keep
    the rounded sum order-independent). The keep threshold sits off the
    grid. Scale: two hash aggregations (bucket stats are DSIR_BUCKETS
    rows, broadcast back), then one per-doc agg — the wordcount shape;
    at 100 TB the bucket relation is KBs regardless of corpus size."""
    from .analytics.curation import hash_bucket

    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            (F.col("lang") == "en").alias("is_t"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .where(F.col("w") != "")
        .withColumn("b", hash_bucket(F.col("w"), DSIR_BUCKETS, ":dsir"))
    )
    bcounts = toks.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("c_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).cast("long").alias("c_r"),
    )
    totals = toks.agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).cast("long").alias("n_r"),
    )
    lr = bcounts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log(
                ((F.col("c_t") + 1) * (F.col("n_r") + DSIR_BUCKETS)).cast("double")
                / ((F.col("c_r") + 1) * (F.col("n_t") + DSIR_BUCKETS))
            ),
            4,
        ).alias("lr"),
    )
    per_doc = (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr"), 4).alias("weight"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "weight",
        (F.col("weight") >= DSIR_KEEP_MIN).alias("keep"),
    )


DSIR_IMPORTANCE_SQL = f"""
WITH toks AS (
  SELECT d.doc_id, d.lang = 'en' AS is_t, w,
         ('0x' || substring(md5(w || ':dsir'), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents) d
  WHERE w <> ''),
bcounts AS (
  SELECT b,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS c_r
  FROM toks GROUP BY b),
totals AS (
  SELECT CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS n_r
  FROM toks),
lr AS (SELECT b, round(ln(CAST((c_t + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                          / ((c_r + 1) * (n_t + {DSIR_BUCKETS}))), 4) AS lr
       FROM bcounts, totals),
per_doc AS (
  SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(lr.lr), 4) AS weight
  FROM toks JOIN lr USING (b) GROUP BY toks.doc_id)
SELECT doc_id, n_tokens, weight, weight >= {DSIR_KEEP_MIN} AS keep
FROM per_doc
"""


SQ8_QUERY_ID = 100
SQ8_TOPK_K = 10


def sq8_ann_topk(spark, sf_dir):
    """Scalar-quantized (SQ8) vector search — the memory-scale path for
    similarity search (faiss ScalarQuantizer QT_8bit): every embedding
    is quantized to per-dimension 8-bit codes against the corpus
    [min, max] grid (4x smaller than float32 — the difference between
    an in-RAM and an on-disk index at 100 TB), reconstructed on scan,
    and ranked by cosine against the reconstructed query. Top-k by
    (round(cos, 4) DESC, vec_id ASC) — the ivf_ann_topk rank
    discipline, no float-ordered LIMIT.

    Determinism: quantize/reconstruct is a fixed-order scalar
    expression (bit-identical across engines); the only cross-engine
    float freedom is dot-product summation order, and the scripts-side
    margin scan puts the closest raw cosine 4.3e-9 from a round-4
    boundary at sf0.01 (~5 orders above summation error). The dim
    stats collect is #dims rows regardless of corpus size."""
    from pyspark.sql import Window

    from .analytics import simsearch

    emb = load(spark, sf_dir, "embeddings")
    mins, maxs = simsearch.sq8_dim_stats(emb)
    rec = simsearch.sq8_reconstruct(emb, mins, maxs)
    qv = (
        emb.where(F.col("vec_id") == SQ8_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    )
    qxq = simsearch.sq8_reconstruct_py(qv, mins, maxs)
    q = F.array(*[F.lit(v) for v in qxq])
    qn = sum(v * v for v in qxq) ** 0.5
    dot = F.aggregate(
        F.zip_with(F.col("xq"), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = F.sqrt(
        F.aggregate(F.col("xq"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    scored = rec.select(
        "vec_id", F.round(dot / (nrm * F.lit(qn)), 4).alias("cos_sq8")
    )
    w = Window.orderBy(F.desc("cos_sq8"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= SQ8_TOPK_K)
    )


SQ8_ANN_TOPK_SQL = f"""
WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                  generate_subscripts(embedding, 1) AS pos
           FROM embeddings),
dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM u GROUP BY pos),
q AS (SELECT u.vec_id, u.pos,
             CAST(CASE WHEN d.mx = d.mn THEN 0.0
                       ELSE least(floor((u.x - d.mn) * 255.0 / (d.mx - d.mn)),
                                  255.0) END AS BIGINT) AS code,
             d.mn, d.mx
      FROM u JOIN dims d USING (pos)),
r AS (SELECT vec_id, pos, mn + (code + 0.5) * (mx - mn) / 255.0 AS xq FROM q),
qv AS (SELECT pos, xq AS qx FROM r WHERE vec_id = {SQ8_QUERY_ID}),
cos AS (SELECT r.vec_id,
               round(sum(r.xq * qv.qx)
                     / (sqrt(sum(r.xq * r.xq)) * sqrt(sum(qv.qx * qv.qx))),
                     4) AS cos_sq8
        FROM r JOIN qv USING (pos)
        GROUP BY r.vec_id)
SELECT vec_id, cos_sq8, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (ORDER BY cos_sq8 DESC, vec_id) AS rnk FROM cos)
WHERE rnk <= {SQ8_TOPK_K}
"""


BM25F_TITLE_LEN = 8
BM25F_TITLE_W = 2.0
BM25F_BODY_W = 1.0


def bm25f_search(spark, sf_dir, k1: float = 1.2, b: float = 0.75):
    """Field-weighted BM25F (Robertson/Zaragoza 2009 simple variant):
    the document is split into a title field (first BM25F_TITLE_LEN
    tokens) and a body field, per-field tf is length-normalized against
    the field's own average length and weighted (title 2x), and the
    combined pseudo-tf feeds a single saturation — the scoring a real
    engine uses once documents have structure (title/anchor/body).

    Determinism: field average length is exact-integer sum/count (never
    avg()), so the only cross-engine float freedom is the two
    aggregation sums; the per-(doc,term) field sum has at most 2
    addends (IEEE addition is commutative, so 2-element sums are
    order-exact) and the per-doc term sum's closest raw score sits
    3.9e-8 from a round-4 boundary at both test SFs (scripts-side
    scan) — 8 orders above summation error. Scale: the field explode
    doubles the token relation; everything else is the bm25_search
    shape (broadcast terms/df/avg, one shuffle per agg)."""
    docs = load(spark, sf_dir, "documents")
    n = float(docs.count())
    base = docs.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("t")
    )
    title = base.select(
        "doc_id",
        F.lit("title").alias("fld"),
        F.explode(F.slice("t", 1, BM25F_TITLE_LEN)).alias("w"),
    )
    body = base.select(
        "doc_id",
        F.lit("body").alias("fld"),
        F.explode(
            F.expr(
                f"slice(t, {BM25F_TITLE_LEN + 1},"
                f" greatest(size(t) - {BM25F_TITLE_LEN}, 0))"
            )
        ).alias("w"),
    )
    fields = title.unionAll(body)
    flen = fields.groupBy("doc_id", "fld").agg(
        F.count(F.lit(1)).cast("long").alias("flen")
    )
    favg = flen.groupBy("fld").agg(
        F.sum("flen").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    terms = spark.createDataFrame([(t,) for t in QUERY_TERMS], "w string")
    tf = (
        fields.join(F.broadcast(terms), "w")
        .groupBy("doc_id", "fld", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    wtf = (
        tf.join(flen, ["doc_id", "fld"])
        .join(F.broadcast(favg), "fld")
        .groupBy("doc_id", "w")
        .agg(
            F.sum(
                F.when(F.col("fld") == "title", BM25F_TITLE_W)
                .otherwise(BM25F_BODY_W)
                * F.col("tf")
                / (
                    F.lit(1.0)
                    - b
                    + b
                    * (
                        F.col("flen").cast("double")
                        * F.col("c")
                        / F.col("s")
                    )
                )
            ).alias("tfw")
        )
    )
    return (
        wtf.join(F.broadcast(dfc), "w")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                    )
                    * F.col("tfw")
                    / (F.lit(k1) + F.col("tfw"))
                ),
                4,
            ).alias("score")
        )
    )


BM25F_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
fields AS (
  SELECT doc_id, 'title' AS fld, unnest(t[1:{BM25F_TITLE_LEN}]) AS w FROM toks
  UNION ALL
  SELECT doc_id, 'body' AS fld, unnest(t[{BM25F_TITLE_LEN + 1}:]) AS w FROM toks),
flen AS (SELECT doc_id, fld, CAST(count(*) AS BIGINT) AS flen
         FROM fields GROUP BY 1, 2),
favg AS (SELECT fld, CAST(sum(flen) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS c
         FROM flen GROUP BY fld),
tf AS (SELECT doc_id, fld, w, count(*) AS tf FROM fields
       WHERE w IN ({_terms_lit()})
       GROUP BY 1, 2, 3),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
wtf AS (
  SELECT tf.doc_id, tf.w,
         sum((CASE WHEN tf.fld = 'title' THEN {BM25F_TITLE_W} ELSE {BM25F_BODY_W} END)
             * tf.tf
             / (1.0 - 0.75 + 0.75 * (CAST(flen.flen AS DOUBLE) * favg.c / favg.s)))
           AS tfw
  FROM tf JOIN flen USING (doc_id, fld) JOIN favg USING (fld)
  GROUP BY 1, 2)
SELECT wtf.doc_id,
       round(sum(ln((n.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                 * wtf.tfw / (1.2 + wtf.tfw)), 4) AS score
FROM wtf JOIN dfc USING (w), n
GROUP BY wtf.doc_id
"""


def _n_matched_agg():
    """Distinct QUERY_TERMS matched per doc — the shared relevance-
    model expression for ltr_features and hybrid_eval_ndcg (aggregates
    at most len(QUERY_TERMS) distinct values per doc). One Spark
    expression + one SQL twin so the evals move together."""
    return F.countDistinct(F.when(F.col("w").isin(QUERY_TERMS), F.col("w")))


def _n_matched_sql_expr() -> str:
    return f"count(DISTINCT CASE WHEN w IN ({_terms_lit()}) THEN w END)"


def ltr_features(spark, sf_dir):
    """Learning-to-rank feature export: for every document matching any
    query term, the per-(query, doc) feature row an LTR trainer
    consumes — match counts (integer-exact), document length, and the
    two classic relevance scores (BM25, TF-IDF) reusing the
    oracle-green scorers verbatim. This is the offline feature-
    generation job of a ranking pipeline; at scale it's three hash
    aggregations over the token relation plus two broadcast-term
    scorers, all shuffling on doc_id."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl"),
        F.sum(F.when(F.col("w").isin(QUERY_TERMS), 1).otherwise(0))
        .cast("long")
        .alias("tf_total"),
        _n_matched_agg().cast("int").alias("n_matched"),
    )
    bm = bm25_search(spark, sf_dir).withColumnRenamed("score", "bm25")
    ti = tfidf_search(spark, sf_dir).withColumnRenamed("score", "tfidf")
    return (
        bm.join(ti, "doc_id")
        .join(per_doc, "doc_id")
        .select("doc_id", "n_matched", "tf_total", "dl", "bm25", "tfidf")
    )


LTR_FEATURES_SQL = f"""
WITH b AS ({BM25_SEARCH_SQL}),
ti AS ({TFIDF_SEARCH_SQL}),
{_TOKENS_CTE.strip().rstrip()},
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
         CAST(sum(CASE WHEN w IN ({_terms_lit()}) THEN 1 ELSE 0 END)
              AS BIGINT) AS tf_total,
         CAST({_n_matched_sql_expr()}
              AS INT) AS n_matched
  FROM tokens GROUP BY doc_id)
SELECT b.doc_id, n_matched, tf_total, dl,
       b.score AS bm25, ti.score AS tfidf
FROM b JOIN ti USING (doc_id) JOIN per_doc USING (doc_id)
"""


# stored standing queries for percolator-style reverse search: the
# alerting/routing shape (match each incoming document against every
# registered query, not each query against the corpus)
PERCOLATOR_QUERIES = {
    "alert0": "spark AND NOT window",
    "alert1": "(join OR shuffle) AND scan",
    "alert2": "stream AND batch",
    "alert3": "vector OR quant*",
    "alert4": "table AND NOT (agg OR merge)",
}


def reverse_search(spark, sf_dir):
    """Percolator-style reverse search (Elasticsearch percolate, Lucene
    Monitor): N stored boolean queries are evaluated against every
    document in ONE pass — a single term-presence aggregation over the
    union of all stored queries' terms, then every query's compiled
    predicate as a column of the same select, stacked and filtered to
    (doc_id, query_id) matches. The alerting/content-routing operator
    of an ingest pipeline: cost is one token-relation agg regardless of
    the number of stored queries (columns, not joins, per query).

    Reuses the boolean query language's two compilers (one AST ->
    Spark Column AND SQL predicate, functions.library +
    _bool_sql_expr), so the stored-query semantics can't drift from
    the oracle."""
    from .functions.library import boolean_expr, parse_boolean_query

    asts = {
        qid: parse_boolean_query(q)
        for qid, q in sorted(PERCOLATOR_QUERIES.items())
    }
    terms = sorted({t for ast in asts.values() for t in ast.terms()})
    docs = load(spark, sf_dir, "documents")
    full = _term_flags(docs, _tokens(docs), terms)
    stacked = full.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        boolean_expr(ast, lambda t: F.col(_flag_name(t))).alias(
                            "m"
                        ),
                    )
                    for qid, ast in asts.items()
                ]
            )
        ).alias("x"),
    )
    return (
        stacked.where(F.col("x.m"))
        .select("doc_id", F.col("x.query_id").alias("query_id"))
    )


def _reverse_search_sql() -> str:
    from .functions.library import parse_boolean_query

    asts = {
        qid: parse_boolean_query(q)
        for qid, q in sorted(PERCOLATOR_QUERIES.items())
    }
    terms = sorted({t for ast in asts.values() for t in ast.terms()})
    matches = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{qid}' AS query_id FROM flags"
        f" WHERE {_bool_sql_expr(ast)}"
        for qid, ast in asts.items()
    )
    return f"""
WITH {_TOKENS_CTE},
{_flags_cte_sql(terms)}
{matches}
"""


REVERSE_SEARCH_SQL = _reverse_search_sql()


# integer-rational truth threshold (x100000): shared/union > 0.35005,
# evaluated as shared*100000 > 35005*union — ALL integer, no float
MINHASH_EVAL_JT = 35005


def minhash_eval(spark, sf_dir):
    """Dedup-candidate quality evaluation: precision/recall of the
    banded MinHash-LSH candidate stage (dedup_minhash: 8 hashes, 4
    bands x 2 rows) against ground-truth near-dup pairs (exact shingle
    Jaccard over the capped-df shingle relation, threshold 0.35005 as
    a pure INTEGER rational — shared*100000 > 35005*union — so truth
    membership involves no float at all). The search_eval_ndcg analog
    for the dedup subsystem: one confusion-count row (tp/fp/fn) plus
    int-ratio precision/recall.

    On this corpus recall measures 1.0 (the banding catches every
    >=0.35 pair — similarity here is bimodal); the fn path is
    structurally exercised and would report misses on a corpus with
    borderline pairs. Truth shares the SHINGLE_DF_CAP pair-generation
    cap (a >=0.35 pair always shares a rare shingle unless it is
    boilerplate-only, which the cap excludes on both sides
    identically). Scale: both relations are the capped near-dup shapes
    already audited; the eval join is pair-keyed."""
    pred = dedup_minhash(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_pred")
    )
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .where(F.col("sdf") <= SHINGLE_DF_CAP)
        .select("sh")
    )
    sh_rare = sh.join(rare, "sh", "left_semi")
    a, b = sh_rare.alias("a"), sh_rare.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    truth = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("shared") * 100000
            > MINHASH_EVAL_JT * (F.col("sza") + F.col("szb") - F.col("shared"))
        )
        .select("doc_a", "doc_b", F.lit(True).alias("in_truth"))
    )
    j = pred.join(truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_pred", F.lit(False)).alias("p"),
        F.coalesce("in_truth", F.lit(False)).alias("t"),
    )
    agg = j.agg(
        F.sum(F.when(F.col("p") & F.col("t"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("t"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("t") & ~F.col("p"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 4).alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 4).alias("recall"),
    )


MINHASH_EVAL_SQL = f"""
WITH pred AS ({DEDUP_MINHASH_SQL}),
{_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
rare AS (SELECT sh FROM shingles GROUP BY sh
         HAVING count(*) <= {SHINGLE_DF_CAP}),
sh_rare AS (SELECT s.* FROM shingles s JOIN rare USING (sh)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh_rare a JOIN sh_rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT s.doc_a, s.doc_b
  FROM shared s JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE s.shared * 100000 > {MINHASH_EVAL_JT} * (sa.sz + sb.sz - s.shared)),
j AS (
  SELECT p.doc_a IS NOT NULL AS p, t.doc_a IS NOT NULL AS t
  FROM pred p FULL JOIN truth t
    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
agg AS (
  SELECT CAST(sum(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM j)
SELECT tp, fp, fn,
       round(CAST(tp AS DOUBLE) / (tp + fp), 4) AS precision,
       round(CAST(tp AS DOUBLE) / (tp + fn), 4) AS recall
FROM agg
"""


def events_doc_ctr(spark, sf_dir):
    """Semi-structured + cross-table analytics: the events table's JSON
    ``props`` column carries a document key (``$.k``); extract it
    JVM-side (get_json_object — whole-stage codegen, no Python), join
    the documents dimension, and report per-document engagement —
    view/click counts, CTR, purchase revenue. The
    clickstream-attribution query every content platform runs; JSON
    extraction is the semi-structured capability the rest of the
    catalog didn't yet exercise.

    Determinism: counts are exact ints, CTR is an int ratio, and
    purchase revenue is a sum of 2-decimal inputs rounded to 3 (the
    standing policy). Scale: documents broadcasts (events >> docs);
    the one shuffle is the groupBy(doc_id)."""
    ev = load(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        "event_type",
        "value",
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    agg = (
        ev.join(F.broadcast(docs), ev.k == docs.doc_id)
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_view"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("n_click"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                ),
                3,
            ).alias("purchase_value"),
        )
    )
    return agg.select(
        "doc_id",
        "lang",
        "n_view",
        "n_click",
        "purchase_value",
        F.when(
            F.col("n_view") > 0,
            F.round(F.col("n_click") / F.col("n_view"), 4),
        )
        .otherwise(0.0)
        .alias("ctr"),
    )


EVENTS_DOC_CTR_SQL = """
WITH e AS (
  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, event_type, value
  FROM events),
agg AS (
  SELECT d.doc_id, d.lang,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_view,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_click,
         round(sum(CASE WHEN event_type = 'purchase' THEN value
                        ELSE 0.0 END), 3) AS purchase_value
  FROM e JOIN documents d ON d.doc_id = e.k
  GROUP BY 1, 2)
SELECT doc_id, lang, n_view, n_click, purchase_value,
       CASE WHEN n_view > 0
            THEN round(CAST(n_click AS DOUBLE) / n_view, 4)
            ELSE 0.0 END AS ctr
FROM agg
"""


def streaming_reverse_search(spark, sf_dir):
    """Structured-Streaming twin of reverse_search — percolation in its
    natural habitat: documents arrive on a stream and every stored
    standing query is evaluated per row as STATELESS array expressions
    (exists/array_contains over the token array — no agg, no state
    store, no watermark), emitting (doc_id, query_id) alert rows to an
    append sink. Each row is independent, so the operator scales with
    input partitions at ingest rate; adding a stored query adds a
    column, not a pass. Shares reverse_search's oracle: the drained
    sink must equal the batch relation exactly."""
    import os
    import shutil

    from .functions.library import boolean_expr, parse_boolean_query

    base = f"/tmp/spark_graft_srs_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").parquet(f"{base}/in")
    src = spark.readStream.schema(docs.schema).parquet(f"{base}/in")

    asts = {
        qid: parse_boolean_query(q)
        for qid, q in sorted(PERCOLATOR_QUERIES.items())
    }
    terms = sorted({t for ast in asts.values() for t in ast.terms()})

    def flag(t):
        if t.endswith("*"):
            return F.expr(f"exists(a, x -> startswith(x, '{t[:-1]}'))")
        return F.array_contains(F.col("a"), t)

    flagged = src.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("a"),
    ).select(
        "doc_id", *[flag(t).alias(_flag_name(t)) for t in terms]
    )
    stacked = flagged.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        boolean_expr(ast, lambda t: F.col(_flag_name(t))).alias(
                            "m"
                        ),
                    )
                    for qid, ast in asts.items()
                ]
            )
        ).alias("x"),
    )
    out = stacked.where(F.col("x.m")).select(
        "doc_id", F.col("x.query_id").alias("query_id")
    )
    name = "stream_reverse_search_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster size histogram: the dedup_keep_list connected
    components aggregated to (cluster_size, n_clusters) — the shape a
    data-quality report shows ("how big are my duplicate families?")
    and the quantity that decides whether the pair stage needs caps
    (one 10k-doc cluster means quadratic pair blowup upstream).
    All-integer output over the already-oracle-checked CC relation."""
    from .analytics.dedup import dedup_keep_list as _dkl, minhash_dedup

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    pairs = minhash_dedup(docs, jaccard_threshold=0.5)
    comps = (
        _dkl(docs.select("id"), pairs)
        .groupBy("component_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return comps.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


DEDUP_CLUSTER_SIZES_SQL = f"""
WITH kl AS (
{DEDUP_KEEP_LIST_SQL}
),
comps AS (
  SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM kl GROUP BY component_id)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
FROM comps GROUP BY cluster_size
"""


def events_hourly_anomaly(spark, sf_dir):
    """Hourly traffic anomaly flags: per-hour event counts compared to
    the corpus's median hourly count (exact rank-selected median — the
    events_quantiles discipline, no interpolation), flagging hours
    above 1.5x or below 0.5x the median with pure INTEGER comparisons
    (cnt*2 > median*3, cnt*2 < median) — the monitoring query an ingest
    pipeline alerts on, with zero float anywhere. Scale: one hourly
    agg, one tiny ranked relation (hours, not events), broadcast
    median."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        )
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy(F.asc("cnt"), F.asc("hour"))
    ranked = hourly.withColumn("rn", F.row_number().over(w)).crossJoin(
        F.broadcast(hourly.agg(F.count(F.lit(1)).alias("n")))
    )
    med = ranked.where(
        F.col("rn") == F.ceil(F.lit(0.5) * F.col("n"))
    ).select(F.col("cnt").alias("median"))
    return hourly.crossJoin(F.broadcast(med)).select(
        "hour",
        "cnt",
        "median",
        (F.col("cnt") * 2 > F.col("median") * 3).alias("is_high"),
        (F.col("cnt") * 2 < F.col("median")).alias("is_low"),
    )


EVENTS_HOURLY_ANOMALY_SQL = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt, hour) AS rn,
         count(*) OVER () AS n
  FROM hourly),
med AS (SELECT cnt AS median FROM ranked
        WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
SELECT hour, cnt, median,
       cnt * 2 > median * 3 AS is_high,
       cnt * 2 < median AS is_low
FROM hourly, med
"""


EVENTS_PART_DAY = "2024-01-03"


def events_partitioned_day(spark, sf_dir):
    """Hive-style time partitioning + partition pruning, demonstrated
    end-to-end: the events table is staged partitioned by event_date
    (what a 100 TB event lake actually looks like on disk), then a
    single-day query reads back through the partitioned layout — the
    day filter resolves at PLANNING time to exactly one directory
    (PartitionFilters in the scan, asserted by plan_audit), so the job
    reads 1/Nth of the lake no matter how big N gets. The oracle runs
    the same day filter over the raw table; output is counts + the
    2-decimal-sum rounding policy."""
    import os

    # pid-scoped path (concurrent runs can't race each other's
    # overwrite) and ALWAYS rewritten: a cached copy keyed on the dir
    # basename silently diverges when the testdata is regenerated
    base = (
        f"/tmp/spark_graft_evpart_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}"
    )
    ev = load(spark, sf_dir, "events")
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(base)
    )
    part = spark.read.parquet(base).where(
        F.col("event_date") == F.lit(EVENTS_PART_DAY).cast("date")
    )
    return part.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    )


EVENTS_PARTITIONED_DAY_SQL = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 3) AS sum_value
FROM events
WHERE date_trunc('day', ts) = DATE '{EVENTS_PART_DAY}'
GROUP BY event_type
"""


def hybrid_eval_ndcg(spark, sf_dir):
    """nDCG@10 for the HYBRID (RRF-fused) ranking — the eval a search
    team runs before flipping hybrid on: same relevance model as
    search_eval_ndcg (rel=2 all-query-terms AND lang='en', rel=1 any
    term match, rel=0 vector-only candidates), ranked by the fused
    (rrf desc, doc_id) order. Gains are grid-rounded before summing
    (the bigram-LM trick); nDCG is the ratio of two grid sums, so the
    final round(4) is engine-stable. One row out: candidate count,
    DCG, IDCG, nDCG."""
    from pyspark.sql import Window

    fused = hybrid_search_rrf(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    stats = toks.groupBy("doc_id").agg(
        _n_matched_agg().alias("n_matched")
    )
    cand = (
        fused.join(stats, "doc_id", "left")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "rrf",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            "lang",
        )
        .withColumn(
            "rel",
            F.when(
                (F.col("n_matched") == len(QUERY_TERMS))
                & (F.col("lang") == "en"),
                F.lit(2),
            )
            .when(F.col("n_matched") > 0, F.lit(1))
            .otherwise(F.lit(0)),
        )
    )
    w_rank = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    w_ideal = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    ranked = cand.withColumn("pos", F.row_number().over(w_rank)).withColumn(
        "ipos", F.row_number().over(w_ideal)
    )
    gains = ranked.select(
        F.when(
            F.col("pos") <= EVAL_K,
            F.round(F.col("rel") / F.log2(F.col("pos") + 1), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("g"),
        F.when(
            F.col("ipos") <= EVAL_K,
            F.round(F.col("rel") / F.log2(F.col("ipos") + 1), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("ig"),
    )
    return gains.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.round(F.sum("g"), 4).alias("dcg"),
        F.round(F.sum("ig"), 4).alias("idcg"),
        F.round(F.round(F.sum("g"), 4) / F.round(F.sum("ig"), 4), 4).alias(
            "ndcg"
        ),
    )


HYBRID_EVAL_NDCG_SQL = f"""
WITH h AS ({HYBRID_SEARCH_RRF_SQL}),
{_TOKENS_CTE.strip()},
stats AS (
  SELECT doc_id,
         {_n_matched_sql_expr()}
           AS n_matched
  FROM tokens GROUP BY doc_id),
cand AS (
  SELECT h.doc_id, h.rrf, coalesce(stats.n_matched, 0) AS n_matched, d.lang,
         CASE WHEN coalesce(stats.n_matched, 0) = {len(QUERY_TERMS)}
                   AND d.lang = 'en' THEN 2
              WHEN coalesce(stats.n_matched, 0) > 0 THEN 1
              ELSE 0 END AS rel
  FROM h LEFT JOIN stats USING (doc_id)
  JOIN documents d USING (doc_id)),
ranked AS (
  SELECT rel,
         row_number() OVER (ORDER BY rrf DESC, doc_id) AS pos,
         row_number() OVER (ORDER BY rel DESC, doc_id) AS ipos
  FROM cand),
gains AS (
  SELECT CASE WHEN pos <= {EVAL_K}
              THEN round(rel / log2(pos + 1), 4) ELSE 0.0 END AS g,
         CASE WHEN ipos <= {EVAL_K}
              THEN round(rel / log2(ipos + 1), 4) ELSE 0.0 END AS ig
  FROM ranked)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       round(sum(g), 4) AS dcg,
       round(sum(ig), 4) AS idcg,
       round(round(sum(g), 4) / round(sum(ig), 4), 4) AS ndcg
FROM gains
"""


def jsonl_roundtrip(spark, sf_dir):
    """JSONL interchange round-trip: the documents table exported as
    newline-delimited JSON (THE LLM training-data interchange format)
    and read back with an explicit schema must reproduce the original
    relation byte-for-byte — the oracle reads the ORIGINAL table, so
    any escaping/encoding loss in the export or parse shows up as a
    value mismatch (md5 over the text). Scale: both directions are
    embarrassingly parallel file jobs; the explicit read schema avoids
    the full inference pass a schemaless read would pay."""
    import os

    base = (
        f"/tmp/spark_graft_jsonl_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}"
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").json(base)
    back = spark.read.schema(docs.schema).json(base)
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
    )


JSONL_ROUNDTRIP_SQL = """
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
FROM documents
"""


CMS_DEPTH = 4
CMS_WIDTH = 256


def count_min_terms(spark, sf_dir):
    """Count-Min sketch over corpus term frequencies (Cormode &
    Muthukrishnan 2005) — the fixed-memory frequency estimator a
    streaming/scale pipeline keeps when the vocabulary doesn't fit
    anywhere: CMS_DEPTH md5-salted hash rows x CMS_WIDTH counters
    (4x256 cells here), estimate = min over rows of the term's cell.
    Reported per query term against the true count, with the
    guaranteed-nonnegative overestimate. Everything is integer
    counting on deterministic md5 buckets, so the sketch build, the
    probe, and the error are all exactly reproducible in SQL.

    Scale: the sketch relation is DEPTH*WIDTH rows regardless of
    corpus size (one hash agg); the probe is a broadcast join of
    query-term cells."""
    from .analytics.curation import hash_bucket

    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    # ONE pass over the token relation: the depth dimension is an
    # explode over an array of (row, bucket) structs, not a
    # CMS_DEPTH-branch union that would re-tokenize the corpus per
    # branch (the round-2 dedup lesson)
    cells_src = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        hash_bucket(F.col("w"), CMS_WIDTH, f":cms{i}").alias(
                            "b"
                        ),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("x")
    ).select(F.col("x.r").alias("r"), F.col("x.b").alias("b"))
    sketch = cells_src.groupBy("r", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    qdf = spark.createDataFrame([(t,) for t in QUERY_TERMS], "w string")
    probes = qdf.select(
        "w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        hash_bucket(F.col("w"), CMS_WIDTH, f":cms{i}").alias(
                            "b"
                        ),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("x"),
    ).select("w", F.col("x.r").alias("r"), F.col("x.b").alias("b"))
    est = (
        probes.join(sketch, ["r", "b"], "left")
        .groupBy("w")
        .agg(F.min(F.coalesce("c", F.lit(0))).cast("long").alias("est_count"))
    )
    true_c = (
        toks.where(F.col("w").isin(QUERY_TERMS))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    return (
        est.join(true_c, "w", "left")
        .select(
            "w",
            F.coalesce("true_count", F.lit(0)).cast("long").alias("true_count"),
            "est_count",
            (F.col("est_count") - F.coalesce("true_count", F.lit(0)))
            .cast("long")
            .alias("overestimate"),
        )
    )


def _cms_bucket_sql(expr: str, i: int) -> str:
    return (
        f"('0x' || substring(md5({expr} || ':cms{i}'), 1, 15))::BIGINT"
        f" % {CMS_WIDTH}"
    )


COUNT_MIN_TERMS_SQL = f"""
WITH {_TOKENS_CTE},
cells AS (
  {" UNION ALL ".join(
      f"SELECT {i} AS r, {_cms_bucket_sql('w', i)} AS b FROM tokens"
      for i in range(CMS_DEPTH)
  )}),
sketch AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
           FROM cells GROUP BY r, b),
q AS (SELECT unnest([{_terms_lit()}]) AS w),
probes AS (
  {" UNION ALL ".join(
      f"SELECT w, {i} AS r, {_cms_bucket_sql('w', i)} AS b FROM q"
      for i in range(CMS_DEPTH)
  )}),
est AS (
  SELECT w, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_count
  FROM probes LEFT JOIN sketch USING (r, b) GROUP BY w),
true_c AS (
  SELECT w, CAST(count(*) AS BIGINT) AS true_count FROM tokens
  WHERE w IN ({_terms_lit()}) GROUP BY w)
SELECT w, CAST(coalesce(true_count, 0) AS BIGINT) AS true_count, est_count,
       CAST(est_count - coalesce(true_count, 0) AS BIGINT) AS overestimate
FROM est LEFT JOIN true_c USING (w)
"""


BLOOM_BITS = 64
BLOOM_HASHES = 2


def bloom_filter_terms(spark, sf_dir):
    """Bloom-filter membership, exactly reproducible: build a
    BLOOM_BITS-bit filter (BLOOM_HASHES md5-salted hash functions) over
    the corpus vocabulary, then probe one guaranteed-absent derived
    term per vocabulary word (w || '_absent' — never a corpus token,
    the tokenizer splits on spaces only) and report each probe's bloom
    verdict; every hit is by construction a false positive, so the
    relation IS the measured FP behavior. The filter is deliberately
    small (64 bits for a ~31-term vocabulary) so the classic
    (1-e^{-kn/m})^k FP regime is actually exercised rather than
    vacuously zero. The bit set is a deterministic function of md5
    buckets — filter, probes and verdicts replay exactly in SQL.

    This is the runtime-filter / semi-join-pushdown primitive (Spark's
    InBloomFilter) in auditable form; at scale the filter relation is
    <= BLOOM_BITS rows regardless of vocabulary size and probes
    broadcast against it."""
    from .analytics.curation import hash_bucket

    docs = load(spark, sf_dir, "documents")
    # materialized once: bits and probes both consume the full
    # tokenize+distinct — without the checkpoint the corpus would be
    # scanned twice inside one returned plan
    vocab = _tokens(docs).select("w").distinct().localCheckpoint(eager=True)
    bits = (
        vocab.select(
            F.explode(
                F.array(
                    *[
                        hash_bucket(F.col("w"), BLOOM_BITS, f":bf{i}")
                        for i in range(BLOOM_HASHES)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    probes = vocab.select(
        F.concat(F.col("w"), F.lit("_absent")).alias("w")
    ).select(
        "w",
        F.explode(
            F.array(
                *[
                    hash_bucket(F.col("w"), BLOOM_BITS, f":bf{i}")
                    for i in range(BLOOM_HASHES)
                ]
            )
        ).alias("bit"),
    )
    return (
        probes.join(bits.withColumn("set", F.lit(1)), "bit", "left")
        .groupBy("w")
        .agg(
            (F.sum(F.coalesce("set", F.lit(0))) == BLOOM_HASHES).alias(
                "is_false_positive"
            )
        )
    )


def _bloom_bits_sql(expr: str, i: int) -> str:
    return (
        f"('0x' || substring(md5({expr} || ':bf{i}'), 1, 15))::BIGINT"
        f" % {BLOOM_BITS}"
    )


BLOOM_FILTER_TERMS_SQL = f"""
WITH {_TOKENS_CTE},
vocab AS (SELECT DISTINCT w FROM tokens),
bits AS (
  SELECT DISTINCT bit FROM (
    {" UNION ALL ".join(
        f"SELECT {_bloom_bits_sql('w', i)} AS bit FROM vocab"
        for i in range(BLOOM_HASHES)
    )})),
probes AS (
  {" UNION ALL ".join(
      "SELECT w || '_absent' AS w, "
      + _bloom_bits_sql("(w || '_absent')", i)
      + " AS bit FROM vocab"
      for i in range(BLOOM_HASHES)
  )})
SELECT p.w,
       sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = {BLOOM_HASHES}
         AS is_false_positive
FROM probes p LEFT JOIN bits b ON b.bit = p.bit
GROUP BY p.w
"""


SOURCE_FLAG_MAX_KEEP = 0.60005  # off the round-4 grid


def source_quality_report(spark, sf_dir):
    """Per-source (per-domain) quality report: the decision input for
    domain-level blocklisting (CCNet/RefinedWeb-style pipelines drop
    whole sources whose documents chronically fail the quality gates,
    which is cheaper and safer than re-judging every future page from
    a spam domain). Aggregates the oracle-green quality_filter
    verdicts per source: doc count, quality-keep count, keep rate
    (int ratio, round 4) and the blocklist flag against an off-grid
    threshold. Scale: one per-doc gate relation (already audited) and
    one tiny per-source agg — sources are the group key, so the report
    is domain-cardinality rows."""
    qf = quality_filter(spark, sf_dir).select("doc_id", "keep")
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    agg = (
        docs.join(qf, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_keep",
        F.round(F.col("n_keep") / F.col("n_docs"), 4).alias("keep_rate"),
        (
            F.round(F.col("n_keep") / F.col("n_docs"), 4)
            < SOURCE_FLAG_MAX_KEEP
        ).alias("flagged"),
    )


SOURCE_QUALITY_REPORT_SQL = f"""
WITH qf AS ({QUALITY_FILTER_SQL}),
agg AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN qf.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
  FROM documents d LEFT JOIN qf USING (doc_id)
  GROUP BY d.source)
SELECT source, n_docs, n_keep,
       round(CAST(n_keep AS DOUBLE) / n_docs, 4) AS keep_rate,
       round(CAST(n_keep AS DOUBLE) / n_docs, 4) < {SOURCE_FLAG_MAX_KEEP}
         AS flagged
FROM agg
"""
