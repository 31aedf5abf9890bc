"""Traced-run tooling: spans around calls into each layer, per-request
Spark job attribution, streaming progress, span dump and self-time table.

The wrappers are installed from the benchmark's own files by replacing
the public entry points named in :func:`install` on their modules or
classes; nothing in the package is edited.  Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@contextmanager
def _null():
    yield None


@dataclass
class Span:
    id: int
    parent: int | None
    req: int | None
    name: str
    thread: int
    t0: float
    t1: float = 0.0
    tag: object = None


@dataclass
class RequestRecord:
    """One user request: its Spark job group and what ran under it."""
    id: int
    kind: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    fetch_s: float = 0.0
    spans: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.requests: list[RequestRecord] = []
        self.batches: list[dict] = []          # streaming progress events
        self.stream_runs: list[str] = []       # streaming run ids, in order
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        self._listener = None

    # -- spans and requests ------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        req = getattr(self._tls, "req", None)
        sp = Span(next(self._ids), st[-1].id if st else None,
                  req.id if req else None, name, threading.get_ident(),
                  time.perf_counter())
        st.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)
                if req is not None:
                    req.spans.append(sp)

    @contextmanager
    def request(self, kind: str):
        """Scope of one user request in the current thread: a fresh id,
        and a thread-local Spark job group that ``statusTracker`` counts
        when the request ends.  Nested scopes join the outer request."""
        outer = getattr(self._tls, "req", None)
        if outer is not None:
            yield outer
            return
        rec = RequestRecord(next(self._ids), kind, time.perf_counter())
        group = f"perfbench-{rec.id}"
        self._tls.req = rec
        self.sc.setJobGroup(group, kind, interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec.t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._tls.req = None
            self._count_jobs(rec, group)
            with self._lock:
                self.requests.append(rec)

    def _count_jobs(self, rec: RequestRecord, group: str) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            rec.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                rec.stages += 1
                st = tracker.getStageInfo(sid)
                rec.tasks += st.numTasks if st else 0

    def attribute_streams(self, kind: str) -> None:
        """Add the jobs of streaming queries to the requests of ``kind``
        that ran them.  A micro-batch runs on the stream's own thread
        under the stream's run id as job group, so the request's group
        misses it; a workload whose requests of ``kind`` each drain one
        stream, one at a time, pairs them in order."""
        reqs = sorted((r for r in self.requests if r.kind == kind),
                      key=lambda r: r.t0)
        for rec, run_id in zip(reqs, self.stream_runs):
            self._count_jobs(rec, run_id)

    def add_fetch(self, seconds: float) -> None:
        req = getattr(self._tls, "req", None)
        if req is not None:
            req.fetch_s += seconds

    # -- wrapping --------------------------------------------------------

    def spanning(self, fn, name: str, request: str | None = None,
                 generator: bool = False, after=None, tag=None):
        """A spanning wrapper of ``fn``.  ``request`` opens a request
        scope of that kind around the call; ``generator`` spans the whole
        iteration; ``after(result)`` may post-process the result inside
        the span; ``tag(*args)`` labels the span."""
        tracer = self

        if generator:
            def wrapper(*a, **kw):
                with tracer.span(name):
                    yield from fn(*a, **kw)
        else:
            def wrapper(*a, **kw):
                with tracer.request(request) if request else _null(), \
                        tracer.span(name) as sp:
                    if tag is not None:
                        sp.tag = tag(*a, **kw)
                    out = fn(*a, **kw)
                    return after(out) if after else out
        wrapper.__wrapped__ = fn
        return wrapper

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        """Replace ``owner.attr`` with :meth:`spanning` of it."""
        orig = getattr(owner, attr)
        setattr(owner, attr, self.spanning(orig, name, **kw))
        self._undo.append(lambda: setattr(owner, attr, orig))

    def wrap_fetch(self) -> None:
        """Time the row fetch of ``DataFrame.toLocalIterator`` (the jobs
        of a lazily executed result run while rows are pulled)."""
        try:    # the classic (non-Connect) implementation class
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame
        orig = DataFrame.toLocalIterator
        tracer = self

        def to_local_iterator(df, *a, **kw):
            t0 = time.perf_counter()
            it = orig(df, *a, **kw)
            tracer.add_fetch(time.perf_counter() - t0)
            while True:
                t0 = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    tracer.add_fetch(time.perf_counter() - t0)
                    return
                tracer.add_fetch(time.perf_counter() - t0)
                yield row
        DataFrame.toLocalIterator = to_local_iterator
        self._undo.append(lambda: setattr(DataFrame, "toLocalIterator", orig))

    def listen_streaming(self, spark) -> None:
        """Record every micro-batch progress event of Structured
        Streaming queries."""
        from pyspark.sql.streaming import StreamingQueryListener
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                with tracer._lock:
                    tracer.batches.append({
                        "batch": p.batchId, "rows": p.numInputRows,
                        "trigger_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                        "wal_commit_ms": d.get("walCommit", 0)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def close(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    # -- reporting -------------------------------------------------------

    def ms(self, name: str, not_under: str | None = None) -> list[float]:
        """Durations (ms) of spans called ``name``; ``not_under`` drops
        spans nested (at any depth) inside a span of that name prefix."""
        by_id = {s.id: s for s in self.spans}

        def under(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.name.startswith(not_under):
                    return True
                p = by_id.get(p.parent)
            return False
        return [1000.0 * (s.t1 - s.t0) for s in self.spans
                if s.name == name and not (not_under and under(s))]

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """{layer: (calls, inclusive ms, self ms)}: self time is a span's
        duration minus what its child spans cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + (s.t1 - s.t0)
        out: dict[str, list] = {}
        for s in self.spans:
            d = s.t1 - s.t0
            row = out.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += 1000.0 * d
            row[2] += 1000.0 * max(0.0, d - kids.get(s.id, 0.0))
        return {k: (v[0], round(v[1], 1), round(v[2], 1))
                for k, v in sorted(out.items())}

    def self_time_table(self) -> str:
        rows = [f"{'layer':<36}{'calls':>7}{'incl_ms':>12}{'self_ms':>12}"]
        for name, (n, incl, self_ms) in self.self_times().items():
            rows.append(f"{name:<36}{n:>7}{incl:>12.1f}{self_ms:>12.1f}")
        return "\n".join(rows)

    def dump(self, path: str) -> None:
        """Write every span and request record as JSON lines."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"type": "span", **s.__dict__}) + "\n")
            for r in self.requests:
                d = {k: v for k, v in r.__dict__.items() if k != "spans"}
                fh.write(json.dumps({"type": "request", **d}) + "\n")
            for b in self.batches:
                fh.write(json.dumps({"type": "batch", **b}) + "\n")


def install(tracer: Tracer, spark) -> None:
    """Wrap the public entry points of every layer (see README)."""
    from graphdb_free_mocha_sa_spark import dictionary, engine, server, update
    from graphdb_free_mocha_sa_spark import store as store_mod
    from graphdb_free_mocha_sa_spark.operators import inference, paths
    from graphdb_free_mocha_sa_spark.sources import rdf
    from graphdb_free_mocha_sa_spark.sparql import results, translator

    w = tracer.wrap
    w(server, "handle_request_stream", "server.handle", request="http",
      tag=lambda engine, body, *a, **kw: hash(body))
    w(engine.Engine, "query", "engine.query")
    w(engine.Engine, "_encoded_state", "dictionary.encoded_state",
      tag=lambda eng: id(eng.store.snapshot()[0]))
    w(engine, "parse_query", "sparql.parser")
    w(update, "parse_update", "sparql.parser")
    for m in ("translate_select", "ask", "construct"):
        w(translator.Translator, m, "sparql.translator")
    formats = dict(results.RESULT_FORMATS)
    for fmt, (it, ask, sentinel) in formats.items():
        results.RESULT_FORMATS[fmt] = (
            tracer.spanning(it, "sparql.results", generator=True), ask,
            sentinel)
    tracer._undo.append(lambda: results.RESULT_FORMATS.update(formats))
    # the buffered writer (Engine.query_json) reaches the JSON iterator
    # through the module global
    w(results, "iter_select_json", "sparql.results", generator=True)
    w(update.UpdateExecutor, "execute", "update")
    for m in ("add_quads", "delete_quads", "load_version",
              "materialize_inference"):
        w(store_mod.QuadStore, m, "store")
    w(inference, "owl_horst_closure", "operators.inference.closure")
    w(inference, "owl_horst_increment", "operators.inference.increment")
    w(inference, "owl_horst_decrement", "operators.inference.decrement")
    w(paths, "transitive_closure", "operators.paths.closure")
    w(dictionary, "build_term_dict_full", "dictionary.build")
    w(dictionary, "encode_quads", "dictionary.encode")
    # readers return lazy frames: pin the parse inside the span so its
    # cost lands in the sources layer rather than in the first consumer
    w(rdf, "read_ntriples", "sources.parse",
      after=lambda df: df.localCheckpoint())
    tracer.wrap_fetch()
    tracer.listen_streaming(spark)
