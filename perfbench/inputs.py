"""Seeded benchmark inputs: the WARC corpus, one vector per url, and the
request mix.

Everything here is a pure function of ``seed`` (and the corpus the
program built from the seeded pages), so the same seed always yields the
same requests in the same per-client order.
"""

from __future__ import annotations

import itertools
import math
import os
import random
from urllib.parse import quote

EMB_DIM = 16
SEARCH_POOL = 48  # distinct /search requests; Zipf draws repeat them
PHRASE_POOL = 8
HYBRID_POOL = 8
NO_HIT_SLOTS = (5, 29)  # /search slots whose only term is absent from the index
# 70% /search, 20% /hybrid, 10% /phrase
SHARDED_CYCLE = ("search", "hybrid", "search", "search", "phrase",
                 "search", "search", "hybrid", "search", "search")


def write_corpus(spark, n_pages: int, seed: int, warc_dir: str, parts: int) -> int:
    """Generate ``n_pages`` pages for ``seed`` and write them as WARC."""
    from google_like_search_engine_spark.corpus import generate_pages
    from google_like_search_engine_spark.sources.warc import write_warc

    return write_warc(generate_pages(spark, n_pages, seed=seed, partitions=parts), warc_dir)


def url_vector(seed: int, url: str) -> list:
    rng = random.Random(f"{seed}:{url}")
    return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]


def write_embeddings(urls: list, seed: int, path: str) -> dict:
    """One seeded vector per corpus url, as the (url, embedding) parquet
    the server's /hybrid route reads. Returns {url: vector}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = {u: url_vector(seed, u) for u in sorted(urls)}
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "url": list(vecs),
        "embedding": pa.array(list(vecs.values()), type=pa.list_(pa.float64())),
    })
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return vecs


class Request:
    """One request of the mix: its route, the URL path sent, and the
    parameters the oracle needs to compute the expected answer."""

    __slots__ = ("route", "path", "params")

    def __init__(self, route: str, params: dict):
        self.route = route
        self.params = params
        self.path = "/" + route + "?" + "&".join(
            f"{k}={quote(str(v), safe='')}" for k, v in params.items() if v not in ("", None)
        )


def _zipf_weights(n: int, s: float = 1.1) -> list:
    return [1.0 / math.pow(r + 1, s) for r in range(n)]


def build_mix(seed: int, ref, k: int, sharded: bool) -> list:
    """The distinct requests of the workload, most popular first.

    The seed picks the terms, urls and phrases; the shape of each pool
    slot is fixed, so runs with different seeds send requests of the
    same kind and cost. /search slot ``i`` holds ``1 + i % 4`` terms,
    alternating between the high-df head of the dictionary (long posting
    lists) and its low-df tail; every fifth slot carries a required or
    an excluded filter, every tenth adds a term the index lacks, and
    ``NO_HIT_SLOTS`` hold only such terms. The sharded mix adds /hybrid
    (qurl drawn from the corpus) and /phrase (adjacent terms of a real
    document)."""
    rng = random.Random(seed)
    by_df = sorted(ref.df, key=lambda t: (-ref.df[t], t))
    head = by_df[: max(8, len(by_df) // 20)]
    tail = [t for t in by_df if ref.df[t] <= 3] or by_df[-len(head):]

    def absent():
        return "zq" + "".join(rng.choice("jkvwxz") for _ in range(5))

    searches = []
    for i in range(SEARCH_POOL):
        if i in NO_HIT_SLOTS:
            terms = [absent()]
        else:
            terms = [rng.choice(head if (i + j) % 2 == 0 else tail) for j in range(1 + i % 4)]
            if i % 10 == 7:
                terms.append(absent())
        params = {"query": " ".join(terms), "k": k}
        if i % 10 == 3:
            params["required"] = terms[-1]
        elif i % 10 == 8:
            params["excluded"] = rng.choice([t for t in head if t not in terms])
        searches.append(Request("search", params))
    if not sharded:
        return searches
    hybrids = [
        Request("hybrid", {"query": f"{rng.choice(head)} {rng.choice(tail)}",
                           "qurl": rng.choice(ref.urls), "k": k})
        for _ in range(HYBRID_POOL)
    ]
    phrases = [Request("phrase", {"query": ref.sample_phrase(rng), "k": k})
               for _ in range(PHRASE_POOL)]
    return searches + hybrids + phrases


def request_stream(client: int, mix: list, sharded: bool):
    """Endless per-client request sequence. Routes follow a fixed cycle
    in the mix shares (each client starts at its own offset); within a
    route, pool slots are drawn Zipf-style, so popular requests repeat.
    The slot sequence depends only on the client, not on the seed."""
    rng = random.Random(client)
    pools: dict = {}
    for r in mix:
        pools.setdefault(r.route, []).append(r)
    weights = {route: _zipf_weights(len(p)) for route, p in pools.items()}
    cycle = SHARDED_CYCLE if sharded else ("search",)
    for i in itertools.count(client * 3):
        route = cycle[i % len(cycle)]
        yield rng.choices(pools[route], weights[route])[0]
