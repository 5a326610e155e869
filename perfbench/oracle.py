"""Expected answers, computed once in set-up by a path independent of the
serving paths under test.

The reference is plain Python over the flat postings the build wrote
(term, url, tf, dl, positions), collected into this process once:

- /search: BM25 (k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1)) with
  the (score desc, url) tie-break and the +required/-excluded filters;
- /phrase: occurrence counts folded over the flat positions;
- /hybrid: reciprocal-rank fusion of the BM25 top-50 and a cosine top-50
  over the generated vectors.

The smoke test checks the BM25 reference against ``ranker.score_bm25``.
"""

from __future__ import annotations

import math

K1, B = 1.2, 0.75
HYBRID_POOL, RRF_K = 50, 60
REL_TOL = 1e-9


class Reference:
    def __init__(self, rows):
        """``rows``: iterable of (term, url, tf, dl, positions). Set
        ``vectors`` ({url: embedding}) before asking for /hybrid answers."""
        self.postings: dict = {}
        self.positions: dict = {}
        dl: dict = {}
        for term, url, tf, d, pos in rows:
            self.postings.setdefault(term, []).append((url, int(tf), int(d)))
            self.positions[(term, url)] = [int(p) for p in pos]
            dl[url] = int(d)
        self.df = {t: len(p) for t, p in self.postings.items()}
        self.urls = sorted(dl)
        self.n_docs = len(dl)
        self.avgdl = sum(dl.values()) / self.n_docs
        self.vectors: dict = {}
        self._by_url: dict = {}
        for (term, url), pos in self.positions.items():
            self._by_url.setdefault(url, []).extend((p, term) for p in pos)

    def n_postings(self) -> int:
        return sum(self.df.values())

    def sample_phrase(self, rng) -> str:
        """Two adjacent indexed terms of a random document."""
        while True:
            at = dict(sorted(self._by_url[rng.choice(self.urls)]))
            starts = [p for p in at if p + 1 in at]
            if starts:
                p = rng.choice(starts)
                return f"{at[p]} {at[p + 1]}"

    # -- /search -------------------------------------------------------

    def bm25(self, query: str, required=(), excluded=()) -> list:
        """Every matching doc as (url, score), best first."""
        from google_like_search_engine_spark.ranker import expand_query

        words = sorted({w.lower() for w in expand_query(query)})
        req = [w.lower() for w in required]
        if any(w not in self.df for w in req):
            return []
        n = float(self.n_docs)
        scores: dict = {}
        for w in words:
            if w not in self.df:
                continue
            idf = math.log((n - self.df[w] + 0.5) / (self.df[w] + 0.5) + 1.0)
            for url, tf, dl in self.postings[w]:
                part = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / self.avgdl))
                scores[url] = scores.get(url, 0.0) + part
        for w in req:
            keep = {u for u, _tf, _dl in self.postings[w]}
            scores = {u: s for u, s in scores.items() if u in keep}
        for w in excluded:
            for u, _tf, _dl in self.postings.get(w.lower(), ()):
                scores.pop(u, None)
        return sorted(scores.items(), key=lambda x: (-x[1], x[0]))

    # -- /phrase -------------------------------------------------------

    def phrase(self, phrase: str) -> list:
        words = [w.lower() for w in phrase.split() if w]
        if not words or any(w not in self.df for w in words):
            return []
        out = []
        for url in {u for u, _tf, _dl in self.postings[words[0]]}:
            cur = set(self.positions[(words[0], url)])
            for w in words[1:]:
                nxt = self.positions.get((w, url))
                cur = {p + 1 for p in cur} & set(nxt or ())
                if not cur:
                    break
            if cur:
                out.append((url, len(cur)))
        return sorted(out, key=lambda x: (-x[1], x[0]))

    # -- /hybrid -------------------------------------------------------

    def cosine(self, qvec) -> list:
        qn = math.sqrt(sum(x * x for x in qvec)) or 1.0
        out = []
        for url, v in self.vectors.items():
            dot = 0.0
            for x, y in zip(v, qvec):
                dot += x * y
            norm = 0.0
            for x in v:
                norm += x * x
            out.append((url, dot / (math.sqrt(norm) * qn)))
        return sorted(out, key=lambda x: (-x[1], x[0]))

    def hybrid(self, query: str, qurl: str, k: int) -> list:
        """(url, bm25_rnk, cos_rnk, rrf) best first, top ``k``."""
        ranks: dict = {}
        for i, (url, _s) in enumerate(self.bm25(query)[:HYBRID_POOL]):
            ranks[url] = [i + 1, 0]
        for i, (url, _s) in enumerate(self.cosine(self.vectors[qurl])[:HYBRID_POOL]):
            ranks.setdefault(url, [0, 0])[1] = i + 1
        fused = [
            (u, br, cr, (1.0 / (RRF_K + br) if br else 0.0) + (1.0 / (RRF_K + cr) if cr else 0.0))
            for u, (br, cr) in ranks.items()
        ]
        fused.sort(key=lambda t: (-t[3], t[0]))
        return fused[:k]

    # -- expected answers ----------------------------------------------

    def expected(self, req):
        p = req.params
        k = int(p["k"])
        if req.route == "search":
            req_terms = [t for t in p.get("required", "").split(",") if t]
            exc_terms = [t for t in p.get("excluded", "").split(",") if t]
            return self.bm25(p["query"], req_terms, exc_terms)
        if req.route == "phrase":
            return self.phrase(p["query"])[:k]
        return self.hybrid(p["query"], p["qurl"], k)


def isclose(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check(req, expected, body: dict) -> bool:
    """True when the response body matches the expected answer."""
    rows = body.get("results")
    if not isinstance(rows, list):
        return False
    k = int(req.params["k"])
    if req.route == "search":
        # scores must match position by position; a url may differ from
        # the reference only inside a group of tied scores
        if len(rows) != min(k, len(expected)):
            return False
        seen = set()
        for i, r in enumerate(rows):
            if not isclose(r["score"], expected[i][1]) or r["url"] in seen:
                return False
            seen.add(r["url"])
            tied = {u for u, s in expected if isclose(s, r["score"])}
            if r["url"] not in tied:
                return False
        return True
    if req.route == "phrase":
        return [(r["url"], r["n_occurrences"]) for r in rows] == [tuple(e) for e in expected]
    if len(rows) != len(expected):
        return False
    return all(
        r["url"] == u and r["bm25_rnk"] == br and r["cos_rnk"] == cr and isclose(r["rrf"], rrf)
        for r, (u, br, cr, rrf) in zip(rows, expected)
    )


def corrupt(expected):
    """A deliberately wrong expected answer (for the self-test)."""
    if not expected:
        return [("no-such-url", 1.0)]
    first = expected[0]
    return [(first[0] + "#wrong",) + tuple(first[1:])] + list(expected[1:])
