"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  JVM-side math (zip_with + aggregate), no Python in the hot path.
- ``lsh_topk``: random-hyperplane LSH bucketing as the scale path —
  probes only matching buckets (with multi-probe via reduced-bit keys),
  then exact rescoring inside buckets. Deterministic hyperplanes
  (seeded), so builds are reproducible/resumable.
- ``ivf_topk``: IVF-style coarse quantizer — k-means-lite centroids
  (seeded sample, one Lloyd step in the driver over a small sample),
  assignment via broadcast centroid join, probe nearest ``nprobe``
  lists. Exact math inside probed lists.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, functions as F

from .. import sqltext as sql


def _dot(col, lit_arr):
    return F.aggregate(
        F.zip_with(col, lit_arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(col):
    return F.sqrt(
        F.aggregate(
            col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _lit_vec(vec) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    emb: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (id, cos_sim) desc, ties by id.

    Serving shape: ONE literal-substituted SQL text — the query vector an
    array of DOUBLE literals, its norm a DOUBLE literal — so building
    it is one ``spark.sql`` call (a Column chain pays a py4j round trip
    per dimension), and the returned DataFrame's collect is the one
    Spark job. The score is ``_dot`` / (``_norm`` * |q|) in the same
    JVM-side expression (zip_with + aggregate over doubles), so it
    gives the same floats."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    q = "array(" + ", ".join(sql.dbl(x) for x in query_vec) + ")"
    i, v = f"`{id_col}`", f"`{vec_col}`"
    dot = (
        f"aggregate(zip_with({v}, {q}, (x, y) -> CAST(x AS DOUBLE) * y), "
        "0.0D, (acc, p) -> acc + p)"
    )
    norm = (
        f"sqrt(aggregate({v}, 0.0D, "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    return sql.over(emb, lambda t: (
        f"SELECT {i}, {dot} / ({norm} * {sql.dbl(qn)}) AS cos_sim FROM {t} "
        f"ORDER BY cos_sim DESC, {i} ASC LIMIT {int(k)}"
    ))


def hyperplanes(dim: int, bits: int = 16, seed: int = 42) -> list:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def add_lsh_key(
    emb: DataFrame,
    planes: list,
    vec_col: str = "embedding",
    out_col: str = "lsh_key",
) -> DataFrame:
    """Random-hyperplane signature as an int key (sign bit per plane).
    At scale, write the table bucketed by this key so probes are
    partition-pruned scans."""
    key = F.lit(0)
    for i, p in enumerate(planes):
        bit = (_dot(F.col(vec_col), _lit_vec(p)) > 0).cast("int")
        key = key + F.shiftleft(bit, i)
    return emb.withColumn(out_col, key.cast("long"))


def lsh_topk(
    emb_with_key: DataFrame,
    query_vec,
    planes: list,
    k: int = 10,
    probe_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: scan only buckets agreeing with the query on the low
    ``probe_bits`` bits (multi-probe recall knob), exact cosine inside.

    Recall/efficiency tradeoff is explicit: probe_bits=0 degenerates to
    brute force; probe_bits=len(planes) probes a single bucket."""
    qkey = 0
    for i, p in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query_vec, p))
        if dot > 0:
            qkey |= 1 << i
    mask = (1 << probe_bits) - 1
    cand = emb_with_key.where(
        (F.col("lsh_key").bitwiseAND(F.lit(mask))) == (qkey & mask)
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    sample_fraction: float = 0.1,
    seed: int = 42,
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
) -> list:
    """Tiny driver-side k-means over a seeded sample (IVF coarse
    quantizer). The sample is bounded; assignment of the full table is
    distributed (see add_ivf_key)."""
    sample = [
        [float(x) for x in r[0]]
        for r in emb.select(vec_col).sample(fraction=sample_fraction, seed=seed).collect()
    ]
    if not sample:
        return []
    rng = random.Random(seed)
    cents = [list(v) for v in rng.sample(sample, min(n_centroids, len(sample)))]
    for _ in range(lloyd_iters):
        sums = [[0.0] * len(cents[0]) for _ in cents]
        counts = [0] * len(cents)
        for v in sample:
            best, bd = 0, float("inf")
            for ci, c in enumerate(cents):
                d = sum((a - b) ** 2 for a, b in zip(v, c))
                if d < bd:
                    best, bd = ci, d
            counts[best] += 1
            s = sums[best]
            for j, a in enumerate(v):
                s[j] += a
        cents = [
            [s / c for s in sums[i]] if (c := counts[i]) else cents[i]
            for i in range(len(cents))
        ]
    return cents


def _sq_dist(col, lit_arr):
    return F.aggregate(
        F.zip_with(
            col,
            lit_arr,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def add_ivf_key(
    emb: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast centroid
    literals, JVM-side distance): adds ``ivf_key`` int.

    argmin is expressed as array_min over (dist, index) structs —
    lexicographic struct ordering gives lowest-index tiebreak and keeps
    the expression tree linear in the centroid count (a when-chain
    doubles per centroid). ``round_to`` rounds each squared distance
    before the argmin so the assignment can be replayed bit-stably by
    an external SQL engine (oracle checking); None keeps full floats."""
    entries = []
    for ci, c in enumerate(centroids):
        dist = _sq_dist(F.col(vec_col), _lit_vec(c))
        if round_to is not None:
            dist = F.round(dist, round_to)
        entries.append(F.struct(dist.alias("d"), F.lit(ci).alias("c")))
    best = F.array_min(F.array(*entries))
    return emb.withColumn("ivf_key", best["c"].cast("int"))


def ivf_topk(
    emb_with_ivf: DataFrame,
    query_vec,
    centroids: list,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest centroid lists, exact cosine inside."""
    dists = sorted(
        range(len(centroids)),
        key=lambda ci: sum(
            (float(a) - float(b)) ** 2 for a, b in zip(query_vec, centroids[ci])
        ),
    )
    probe = dists[:nprobe]
    cand = emb_with_ivf.where(F.col("ivf_key").isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def probe_cells(query_vec, centroids: list, nprobe: int, round_to: int | None = None):
    """The nprobe nearest centroid indexes for a query (driver-side —
    the centroid table is tiny by construction). ``round_to`` mirrors
    add_ivf_key's rounding; ties break to the lowest centroid index."""
    qd = []
    for ci, c in enumerate(centroids):
        d = sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c))
        qd.append(((round(d, round_to) if round_to is not None else d), ci))
    return [ci for _, ci in sorted(qd)[:nprobe]]


def ivf_topk_ranked(
    emb_with_ivf: DataFrame,
    query_vec,
    centroids: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    dist_round: int = 6,
) -> DataFrame:
    """IVF ANN top-k in deterministic, oracle-checkable form: probe the
    ``nprobe`` nearest centroid lists (rounded distance, lowest-index
    tiebreak), exact cosine inside the probed lists, then rank by
    (round(cos, round_to) DESC, id ASC) and keep rank <= k.

    Unlike ivf_topk's orderBy+limit this never orders a LIMIT by raw
    floats — the rounded score + total id tiebreak make the selected
    set and the rank column reproducible across engines. Output:
    (id, cell, cos_sim, rnk)."""
    from pyspark.sql import Window

    probe = probe_cells(query_vec, centroids, nprobe, round_to=dist_round)
    cand = emb_with_ivf.where(F.col("ivf_key").isin(probe))
    q = _lit_vec(query_vec)
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    scored = cand.select(
        F.col(id_col),
        F.col("ivf_key").alias("cell"),
        F.round(
            _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn)), round_to
        ).alias("cos_sim"),
    )
    w = Window.orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def sq8_dim_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus for scalar (SQ8)
    quantization, collected driver-side — one posexplode + groupBy(pos)
    agg, so the collect is #dims rows regardless of corpus size (the
    faiss ScalarQuantizer 'train' step). Returns (mins, maxs) as exact
    Python doubles."""
    rows = sorted(
        emb.select(F.posexplode(vec_col).alias("pos", "x"))
        .select("pos", F.col("x").cast("double").alias("x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    return [r.mn for r in rows], [r.mx for r in rows]


def sq8_reconstruct(
    emb: DataFrame,
    mins: list,
    maxs: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "xq",
) -> DataFrame:
    """Quantize every vector to 8-bit codes against the per-dimension
    [min, max] grid and reconstruct the dequantized double vector —
    code_i = min(floor((x-mn)*255/(mx-mn)), 255), x~_i = mn +
    (code+0.5)*(mx-mn)/255, exactly the faiss SQ8 formulation. All
    JVM-side zip_with/transform (no Python, no shuffle: a pure
    projection that scales as a map). A constant dimension (mx == mn)
    quantizes to code 0 and reconstructs to mn. At serving scale the
    codes column is what you'd persist (4x smaller than float32);
    reconstruction happens on scan."""
    mn_arr = F.array(*[F.lit(float(v)) for v in mins])
    rng_arr = F.array(
        *[F.lit(float(hi) - float(lo)) for lo, hi in zip(mins, maxs)]
    )
    diff = F.zip_with(F.col(vec_col), mn_arr, lambda x, m: x.cast("double") - m)
    code = F.zip_with(
        diff,
        rng_arr,
        lambda d, r: (
            F.when(r == F.lit(0.0), F.lit(0.0))
            .otherwise(F.least(F.floor(d * F.lit(255.0) / r), F.lit(255.0)))
            .cast("long")
        ),
    )
    part = F.zip_with(code, rng_arr, lambda c, r: (c + F.lit(0.5)) * r / F.lit(255.0))
    xq = F.zip_with(part, mn_arr, lambda v, m: m + v)
    return emb.select(F.col(id_col), xq.alias(out))


def sq8_reconstruct_py(vec, mins: list, maxs: list) -> list:
    """The driver-side twin of sq8_reconstruct for a single (query)
    vector — Python floats are IEEE doubles and the op order matches
    the column expression, so the reconstruction is bit-identical."""
    out = []
    for x, lo, hi in zip(vec, mins, maxs):
        rng = float(hi) - float(lo)
        if rng == 0.0:
            code = 0.0
        else:
            code = min((float(x) - float(lo)) * 255.0 / rng // 1, 255.0)
        out.append(float(lo) + (code + 0.5) * rng / 255.0)
    return out
