"""``versioned_inference``: versioned loads and streamed change-sets under
OWL-Horst inference, read back through ``Engine(use_inference=True)`` by
one in-process client, as the adapter does.

A seeded TBox and ABox are bulk-loaded as version graphs (N-Triples
through the ``sources`` reader, ``load_version``) and the closure is
materialized.  Then, until the window ends, seeded change-sets arrive as
update message files drained by ``stream_inserts_from_files``
(increments; DRed decrements and TBox edits further down the sequence),
each followed by a GRAPH-pinned version query, an inferred rdf:type query
and a transitive ``+`` path query, all checked against an independent
chaining of the generated data.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import uuid
from contextlib import nullcontext

import gen
from checks import BadAnswer, HorstModel, parse_answer
from client import Op, timed
from common import Outcome, dir_bytes, log

#: 2 000 instances x 5 triples = 10 000 ABox quads, under the closure's
#: 50 k driver bound: at 60 k quads one closure took 31 s, one increment
#: 10-17 s and one DRed decrement 29 s on 4 cores, which no run length
#: the benchmark can afford would sample
N_INST = 2_000
VERSIONS = 3


def _write_nt(path: str, triples) -> int:
    with open(path, "w") as fh:
        for s, p, o in triples:
            fh.write(f"{gen.term(s)} {gen.term(p)} {gen.term(o)} .\n")
    return os.path.getsize(path)


def run(ctx) -> Outcome:
    from graphdb_free_mocha_sa_spark import DurableQuadStore, Engine
    from graphdb_free_mocha_sa_spark.sources.rdf import read_ntriples
    from graphdb_free_mocha_sa_spark.streaming.ingest import (
        stream_inserts_from_files)
    spark, out, tr = ctx.spark, Outcome(), ctx.tracer
    scratch = os.path.join(ctx.work, "tmp", f"infer-{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch)
    # the runner reads the store directory for write amplification first
    out.cleanup = lambda: shutil.rmtree(scratch, ignore_errors=True)

    for _ in range(3):
        t0 = time.perf_counter()
        store = DurableQuadStore(spark, os.path.join(
            scratch, f"store-{len(out.setups)}"))
        eng = Engine(spark, store, use_inference=True)
        out.setups.append(time.perf_counter() - t0)
    out.store = store

    model = HorstModel()
    tbox = gen.tbox(ctx.seed)
    abox = gen.abox(ctx.seed, N_INST, VERSIONS)
    load_s = 0.0
    for v in range(VERSIONS):
        g = f"http://graph.version.{v}"
        triples = (tbox if v == 0 else []) + abox[v]
        path = os.path.join(scratch, f"v{v}.nt")
        out.ingested_nt_bytes += _write_nt(path, triples)
        t0 = time.perf_counter()
        store.load_version(read_ntriples(spark, path, g), g)
        load_s += time.perf_counter() - t0
        for t in triples:
            model.add(g, *t)
    out.report["bulk_load_quads_per_s"] = (
        len(model.triples) / load_s, "1/s", VERSIONS)

    t0 = time.perf_counter()
    store.materialize_inference()
    store.df_with_inference().count()
    out.report["closure_s"] = (time.perf_counter() - t0, "s", 1)
    n_closures = 1
    log(f"loaded {len(model.triples)} quads, closure "
        f"{out.report['closure_s'][0]:.1f}s")

    changes = gen.change_sets(ctx.seed, 400, N_INST, VERSIONS, abox)
    rnd = random.Random(ctx.seed * 977 + 5)
    updates: list[Op] = []
    queries: list[Op] = []
    streamed = 0
    t_start = time.perf_counter()
    for k, cs in enumerate(changes):
        if time.perf_counter() - t_start >= ctx.seconds:
            break
        d = os.path.join(scratch, f"change-{k:04d}")
        out.ingested_nt_bytes += gen.write_messages(
            d, gen.change_messages(cs))
        with tr.request("update") if tr else nullcontext():
            op, _ = timed("change_set", stream_inserts_from_files, spark,
                          store, d)
        updates.append(op)
        streamed += len(cs.add) + len(cs.remove)
        for t in cs.add:
            model.add(cs.graph, *t)
        for t in cs.remove:
            model.remove(cs.graph, *t)
        touched = sorted({s for s, _, _ in cs.add + cs.remove
                          if s.startswith(gen.INF + "i/")})
        for q in _queries(rnd, touched, cs.graph):
            with tr.request("query") if tr else nullcontext():
                qop, body = timed("query", eng.query_json, q[1])
            if qop.ok:
                _check(qop, body, q, model)
            queries.append(qop)
    out.ops = updates + queries
    out.report["update_ms"] = [op.ms for op in updates]
    out.report["query_ms"] = [op.ms for op in queries]
    out.report["ingest_quads_per_s"] = (
        streamed / sum(op.t1 - op.t0 for op in updates), "1/s", len(updates))
    live = store.df.count()
    out.checks.append((f"live base quads {live} == loaded + inserted - "
                       f"deleted {len(model.triples)}",
                       live == len(model.triples)))
    out.report["store_bytes_per_quad"] = (
        dir_bytes(store.path) / max(1, live), "B", 1)
    if tr is not None:
        tr.attribute_streams("update")
        jobs = [r.jobs for r in tr.requests if r.kind == "update"]
        inf = "operators.inference."
        out.layers[inf + "rematerializations"] = sum(
            1 for s in tr.spans if s.name == inf + "closure") - n_closures
        out.layers[inf + "jobs_per_change"] = sorted(jobs)[len(jobs) // 2] \
            if jobs else 0
        out.layers[inf + "inferred_quads"] = (
            store.df_with_inference().count() - live)
        if tr.batches:
            out.layers["streaming.ingest.quads_per_batch"] = \
                streamed / len(tr.batches)
    log(f"inference: {len(updates)} change-sets, {len(queries)} queries")
    return out


def _queries(rnd: random.Random, touched: list[str], graph: str):
    """(kind, text, arg) of the three checked reads after a change-set."""
    subs = touched[:3] + [f"{gen.INF}i/{rnd.randrange(N_INST)}"
                          for _ in range(2)]
    subs.append(f"{gen.INF}org/{rnd.randrange(10)}")
    flt = " || ".join(f"?s = <{s}>" for s in subs)
    yield ("version", f"SELECT ?s ?o WHERE {{ GRAPH <{graph}> {{ ?s "
           f"<{gen.INF}p/worksFor> ?o }} FILTER({flt}) }}", (graph, subs))
    yield ("types", f"SELECT ?s ?t WHERE {{ ?s a ?t FILTER({flt}) "
           f"FILTER(STRSTARTS(STR(?t), \"{gen.INF}\")) }}", subs)
    start = f"{gen.INF}i/{rnd.randrange(N_INST)}"
    yield ("path", f"SELECT ?y WHERE {{ <{start}> <{gen.INF}p/partOf>+ ?y }}",
           start)


def _check(op: Op, body: str, q, model: HorstModel) -> None:
    """Decide ``op.ok`` against the independent chaining."""
    kind, _, arg = q
    try:
        _, rows = parse_answer(body.encode("utf-8"), "json")
    except (BadAnswer, ValueError, KeyError) as e:
        op.ok, op.note = False, f"{kind}: {e}"[:200]
        return
    op.rows, op.nbytes = len(rows), len(body)
    if kind == "version":
        graph, subs = arg
        want = {(s, o) for s in subs for (g, _, p, o) in model.by_s.get(s, ())
                if g == graph and p == gen.INF + "p/worksFor"}
    elif kind == "types":
        want = {(s, t) for s in arg for t in model.types(s)
                if t.startswith(gen.INF)}
    else:
        want = {(y,) for y in model.reach(arg, gen.INF + "p/partOf")}
    if set(rows) != want:
        op.ok = False
        op.note = (f"{kind}: {len(set(rows) - want)} unexpected, "
                   f"{len(want - set(rows))} missing")
