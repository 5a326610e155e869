"""Span tracing from outside the program.

``Tracer`` keeps spans (name, start, end, parent, request id) in memory;
``Probes`` wraps each layer's public entry points by replacing module and
class attributes, and puts every original back on ``remove()``. The
program's own code is not changed: each wrapper times the call it
forwards and, on the request path, tags the Spark jobs it starts with a
per-request job group.
"""

from __future__ import annotations

import contextvars
import itertools
import json
import threading
import time

_SPAN = contextvars.ContextVar("perfbench_span", default=None)
_REQ = contextvars.ContextVar("perfbench_req", default=None)
REQ_HEADER = "X-Perfbench-Req"


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "req", "attrs")

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def open(self, name: str, **attrs) -> Span:
        s = Span()
        s.id, s.name, s.attrs = next(self._ids), name, attrs
        parent = _SPAN.get()
        s.parent = parent.id if parent else None
        s.req = _REQ.get()
        s.start, s.end = time.perf_counter(), None
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        with self._lock:
            self.spans.append(s)

    def call(self, name: str, fn, *args, **kw):
        """Run ``fn`` inside a span that is current for its callees."""
        s = self.open(name)
        token = _SPAN.set(s)
        try:
            return fn(*args, **kw)
        finally:
            _SPAN.reset(token)
            self.close(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def _patch(undo: list, owner, attr: str, wrapper_factory) -> None:
    orig = getattr(owner, attr)
    undo.append((owner, attr, orig))
    setattr(owner, attr, wrapper_factory(orig))


class Probes:
    """Installs wrappers; ``remove()`` restores the originals."""

    def __init__(self, tracer: Tracer, spark):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self._undo: list = []
        self._block_start = threading.local()

    def remove(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- build side --------------------------------------------------------

    def install_build(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from google_like_search_engine_spark import engine

        t, sc = self.tracer, self.sc

        def grouped(name, group):
            def factory(orig):
                def wrapper(*a, **kw):
                    sc.setJobGroup(group, name)
                    try:
                        return t.call(name, orig, *a, **kw)
                    finally:
                        sc.setJobGroup("perfbench-setup", "setup")
                return wrapper
            return factory

        def spanned(name):
            return lambda orig: (lambda *a, **kw: t.call(name, orig, *a, **kw))

        _patch(self._undo, engine.SearchEngine, "build", grouped("engine.build", "perfbench-build"))
        _patch(self._undo, engine.SearchEngine, "save", spanned("engine.save"))
        _patch(self._undo, engine.SearchEngine, "save_blocked", spanned("engine.save_blocked"))
        _patch(self._undo, engine, "assign_doc_indexes", spanned("compression.doc_numbering"))

        local = self._block_start

        def block_factory(orig):
            def wrapper(*a, **kw):
                local.t0 = time.perf_counter()
                return orig(*a, **kw)
            return wrapper

        def parquet_factory(orig):
            def wrapper(writer, path, *a, **kw):
                t0 = getattr(local, "t0", None)
                if t0 is None or not str(path).endswith("/blocks"):
                    return orig(writer, path, *a, **kw)
                # block_postings is lazy: its encode runs inside this write
                s = t.open("compression.encode_write")
                s.start, local.t0 = t0, None
                try:
                    return orig(writer, path, *a, **kw)
                finally:
                    t.close(s)
            return wrapper

        _patch(self._undo, engine, "block_postings", block_factory)
        _patch(self._undo, DataFrameWriter, "parquet", parquet_factory)

    # -- request side ------------------------------------------------------

    def install_requests(self, server) -> None:
        import concurrent.futures.thread as cft

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.util import inheritable_thread_target

        from google_like_search_engine_spark import engine
        from google_like_search_engine_spark.analytics import simsearch

        t, sc = self.tracer, self.sc

        def handler_factory(orig):
            def do_get(handler):
                rid = handler.headers.get(REQ_HEADER)
                tok = _REQ.set(rid)
                try:
                    sc.setJobGroup(f"perfbench-{rid}-x", "request")
                    route = handler.path.split("?", 1)[0]
                    s = t.open("server.request", route=route)
                    stok = _SPAN.set(s)
                    try:
                        return orig(handler)
                    finally:
                        _SPAN.reset(stok)
                        t.close(s)
                finally:
                    _REQ.reset(tok)
            return do_get

        def entry_factory(name):
            def factory(orig):
                def wrapper(*a, **kw):
                    parent = _SPAN.get()
                    top = parent is not None and parent.name == "server.request"
                    rid = _REQ.get()
                    if top:
                        sc.setJobGroup(f"perfbench-{rid}-c", "construct")
                    try:
                        df = t.call(name, orig, *a, **kw)
                    finally:
                        if top:
                            sc.setJobGroup(f"perfbench-{rid}-x", "request")
                    if top:
                        # plan now, so the handler's collect is execution only
                        t.call("catalyst.plan", lambda: df._jdf.queryExecution().executedPlan())
                    return df
                return wrapper
            return factory

        for name in ("search_bm25_served", "search_bm25_sharded",
                     "search_hybrid_rrf", "search_phrase_sharded"):
            _patch(self._undo, engine.SearchEngine, name, entry_factory(f"engine.{name}"))

        def lazy_factory(name):
            # the layer returns a lazy DataFrame; its span ends when that
            # DataFrame's collect returns
            def factory(orig):
                def wrapper(*a, **kw):
                    s = t.open(name)
                    df = orig(*a, **kw)
                    df._perfbench_open = s
                    return df
                return wrapper
            return factory

        _patch(self._undo, engine, "blocked_maxscore_topk", lazy_factory("wand.topk"))
        _patch(self._undo, simsearch, "cosine_topk", lazy_factory("simsearch.cosine_topk"))

        def collect_factory(orig):
            def collect(df):
                if _REQ.get() is None:
                    return orig(df)
                s = t.open("spark.exec")
                tok = _SPAN.set(s)
                try:
                    rows = orig(df)
                finally:
                    _SPAN.reset(tok)
                    t.close(s)
                s.attrs["scan_rows"] = scan_rows(df)
                s.attrs["rows"] = len(rows)
                pending = getattr(df, "_perfbench_open", None)
                if pending is not None:
                    df._perfbench_open = None
                    t.close(pending)
                return rows
            return collect

        def submit_factory(orig):
            # carry the span context and the Spark job group into pool threads
            def submit(pool, fn, /, *a, **kw):
                ctx = contextvars.copy_context()
                return orig(pool, inheritable_thread_target(lambda: ctx.run(fn, *a, **kw)))
            return submit

        _patch(self._undo, DataFrame, "collect", collect_factory)
        _patch(self._undo, cft.ThreadPoolExecutor, "submit", submit_factory)
        _patch(self._undo, server.RequestHandlerClass, "do_GET", handler_factory)


def scan_rows(df) -> int:
    """Rows the plan's leaf scans produced (their numOutputRows)."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics().get("numOutputRows")
        if m.isDefined():
            total += int(m.get().value())
    return total


def job_counts(sc, group: str) -> tuple:
    """(jobs, tasks) Spark ran under ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def self_time(span: Span, children: list) -> float:
    """Span duration minus the part of it its children cover."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered
