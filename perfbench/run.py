"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Runs one seeded workload through the user-facing surfaces of
``graphdb_free_mocha_sa_spark`` from the root of a source checkout,
checks every answer, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it is a report with every figure by name, unit and sample count.
Scratch state lives under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import log, median, tail, throughput  # noqa: E402

WORKLOADS = ("query_mix", "versioned_inference")

#: end-to-end metrics, reported on every workload (name -> unit)
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
              "ops_per_s": "1/s"}
#: end-to-end figure printed in the report line only: its run-to-run
#: spread follows the JVM's heap growth, too wide to gate on
REPORTED = {"peak_rss_mb": "MB"}

#: per-layer metrics (name -> unit); bypassed layers report 0
PER_LAYER = {
    "session.start_ms": "ms", "store.open_ms": "ms",
    "dictionary.load_ms": "ms",
    "server.requests": "count", "server.handle_ms": "ms",
    "server.wait_ms": "ms",
    "engine.query_ms": "ms", "engine.plan_cache_hit_ratio": "ratio",
    "sparql.parser.parse_ms": "ms", "sparql.translator.translate_ms": "ms",
    "dictionary.rebuilds": "count", "dictionary.rebuild_ms": "ms",
    "dictionary.rebuilds_per_snapshot": "ratio",
    "spark.jobs_per_request": "count", "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count", "spark.fetch_ms": "ms",
    "sparql.results.serialize_ms": "ms",
    "sparql.results.rows_per_request": "count",
    "sparql.results.bytes_per_request": "B",
    "update.execute_ms": "ms",
    "store.commit_ms": "ms", "store.commits": "count",
    "store.segments": "count", "store.write_amp": "ratio",
    "streaming.ingest.batches": "count", "streaming.ingest.batch_ms": "ms",
    "streaming.ingest.add_batch_ms": "ms",
    "streaming.ingest.wal_commit_ms": "ms",
    "streaming.ingest.quads_per_batch": "count",
    "sources.parse_ms": "ms",
    "operators.inference.closure_ms": "ms",
    "operators.inference.increment_ms": "ms",
    "operators.inference.decrement_ms": "ms",
    "operators.inference.rematerializations": "count",
    "operators.inference.jobs_per_change": "count",
    "operators.inference.inferred_quads": "count",
    "operators.paths.closure_ms": "ms",
}


class Ctx:
    def __init__(self, spark, seed: int, seconds: float, work: str, tracer):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.tracer = work, tracer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    common.prepare_env(work)
    sys.path.insert(0, root)
    try:
        import graphdb_free_mocha_sa_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {root}: {e}")
        return 2

    spark, session_s = common.start_session(work)
    log(f"session started in {session_s:.1f}s")
    try:
        return _run(args, spark, session_s, work)
    finally:
        common.stop_session(spark)


def _run(args, spark, session_s: float, work: str) -> int:
    import importlib
    cal_first = common.calibrate(spark)
    log(f"calibration(first) {cal_first}s")
    tracer = None
    if args.trace:
        from tracing import Tracer, install
        tracer = Tracer(spark)
        install(tracer, spark)
    mod = importlib.import_module(
        {"query_mix": "w_query",
         "versioned_inference": "w_inference"}[args.workload])
    ctx = Ctx(spark, args.seed, args.seconds, work, tracer)
    log(f"{args.workload}: seed {args.seed}, {args.seconds}s window")
    try:
        out = mod.run(ctx)
    finally:
        if tracer is not None:
            tracer.close()
    cal_last = common.calibrate(spark)
    log(f"calibration(last) {cal_last}s")

    ops = out.ops
    failed = sum(1 for op in ops if not op.ok)
    for op in ops:
        if not op.ok:
            log(f"FAILED {op.kind}: {op.note}")
    for name, ok in out.checks:
        failed += not ok
        if not ok:
            log(f"FAILED check: {name}")
    attempted = len(ops) + len(out.checks)
    lat = [op.ms for op in ops]
    tail_v, tail_p = tail(lat)
    e2e = {
        "setup_s": session_s + median(out.setups),
        "peak_rss_mb": common.peak_rss_mb(spark),
        "op_p50_ms": median(lat),
        "op_tail_ms": tail_v,
        "ops_per_s": throughput(ops),
    }
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "samples": len(ops),
              "tail_percentile": tail_p,
              "error_rate": failed / attempted if ops else 1.0,
              "calibration_s": {"first": cal_first, "last": cal_last},
              "end_to_end": {k: [round(v, 4), {**END_TO_END, **REPORTED}[k]]
                             for k, v in e2e.items()},
              "workload_metrics": _named(out.report)}
    if tracer is not None:
        layers = per_layer(tracer, out, session_s)
        report["per_layer"] = layers
        _overhead(work, args, e2e, report)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces",
                            f"spans_{args.workload}_{args.seed}.jsonl")
        tracer.dump(path)
        log(f"spans written to {path}")
        log("self time per layer:\n" + tracer.self_time_table())
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        _overhead(work, args, e2e, report)
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    if out.cleanup is not None:
        out.cleanup()
    log("done")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and bool(ops),
                      "attempted": max(1, attempted),
                      "failed": failed if ops else max(1, failed),
                      "metrics": metrics}))
    return 0


def _named(report: dict) -> dict:
    """Named workload figures: latency lists become p50 and tail
    with their sample count; scalars keep (value, unit, samples)."""
    out = {}
    for name, v in report.items():
        if isinstance(v, list):
            t, p = tail(v)
            base = name[:-3]
            out[f"{base}_p50_ms"] = [round(median(v), 3), "ms", len(v)]
            out[f"{base}_tail_ms"] = [round(t, 3), "ms", len(v), f"p{p}"]
        else:
            value, unit, n = v
            out[name] = [round(value, 4), unit, n]
    return out


def _overhead(work: str, args, e2e: dict, report: dict) -> None:
    """Tracing overhead: this run's end-to-end figures against the last
    run of the other mode on the same workload and seed."""
    d = os.path.join(work, "results")
    os.makedirs(d, exist_ok=True)
    mine = os.path.join(d, f"{args.workload}_{args.seed}_t{args.trace}.json")
    other = os.path.join(d,
                         f"{args.workload}_{args.seed}_t{1 - args.trace}.json")
    with open(mine, "w") as fh:
        json.dump(e2e, fh)
    if not os.path.exists(other):
        return
    with open(other) as fh:
        theirs = json.load(fh)
    traced, plain = (e2e, theirs) if args.trace else (theirs, e2e)
    report["tracing_overhead"] = {
        k: round(traced[k] / plain[k] - 1.0, 4)
        for k in ("op_p50_ms", "op_tail_ms", "ops_per_s") if plain.get(k)}
    log(f"tracing overhead (traced/untraced - 1): "
        f"{report['tracing_overhead']}")


def per_layer(tr, out, session_s: float) -> dict:
    """Every PER_LAYER metric from the spans, request records and the
    workload's own counters.  ``*_ms`` are medians per call."""
    L = {k: 0.0 for k in PER_LAYER}
    L["session.start_ms"] = 1000 * session_s
    for k in ("store.open_ms", "dictionary.load_ms"):
        L[k] = out.layers.get(k, 0.0)

    handles = [s for s in tr.spans if s.name == "server.handle"]
    L["server.requests"] = len(handles)
    L["server.handle_ms"] = median(tr.ms("server.handle"))
    L["server.wait_ms"] = median(_wait_ms(out.ops, handles))

    queries = [s for s in tr.spans if s.name == "engine.query"]
    L["engine.query_ms"] = median(tr.ms("engine.query"))
    parsed = {s.parent for s in tr.spans if s.name == "sparql.parser"}
    hits = sum(1 for s in queries if s.id not in parsed)
    L["engine.plan_cache_hit_ratio"] = hits / len(queries) if queries else 0.0
    L["sparql.parser.parse_ms"] = median(tr.ms("sparql.parser"))
    L["sparql.translator.translate_ms"] = median(tr.ms("sparql.translator"))

    builds = {s.parent for s in tr.spans if s.name == "dictionary.build"}
    rebuilt = [s for s in tr.spans
               if s.name == "dictionary.encoded_state" and s.id in builds]
    L["dictionary.rebuilds"] = len(rebuilt)
    L["dictionary.rebuild_ms"] = median([1000 * (s.t1 - s.t0)
                                         for s in rebuilt])
    snaps = {s.tag for s in rebuilt}
    L["dictionary.rebuilds_per_snapshot"] = \
        len(rebuilt) / len(snaps) if snaps else 0.0

    reqs = [r for r in tr.requests if r.kind in ("http", "query", "update")]
    L["spark.jobs_per_request"] = median([r.jobs for r in reqs])
    L["spark.stages_per_request"] = median([r.stages for r in reqs])
    L["spark.tasks_per_request"] = median([r.tasks for r in reqs])
    L["spark.fetch_ms"] = median([1000 * r.fetch_s for r in reqs
                                  if r.fetch_s])
    ser = []
    for r in reqs:
        w = sum(s.t1 - s.t0 for s in r.spans if s.name == "sparql.results")
        if w:
            ser.append(1000 * max(0.0, w - r.fetch_s))
    L["sparql.results.serialize_ms"] = median(ser)
    reads = [op for op in out.ops if op.nbytes]
    L["sparql.results.rows_per_request"] = median([op.rows for op in reads])
    L["sparql.results.bytes_per_request"] = median([op.nbytes
                                                    for op in reads])
    L["update.execute_ms"] = median(tr.ms("update"))

    L["store.commit_ms"] = median(tr.ms("store"))
    if out.store is not None:
        # the durable store's transaction log (DurableQuadStore layout):
        # one JSON entry per commit, the last naming the live segments
        log_dir = os.path.join(out.store.path, "_log")
        entries = sorted(n for n in os.listdir(log_dir)
                         if n.endswith(".json"))
        L["store.commits"] = len(entries)
        if entries:
            with open(os.path.join(log_dir, entries[-1])) as fh:
                L["store.segments"] = len(json.load(fh)["segments"])
        if out.ingested_nt_bytes:
            L["store.write_amp"] = (common.dir_bytes(out.store.path)
                                    / out.ingested_nt_bytes)

    b = tr.batches
    L["streaming.ingest.batches"] = len(b)
    L["streaming.ingest.batch_ms"] = median([x["trigger_ms"] for x in b])
    L["streaming.ingest.add_batch_ms"] = median([x["add_batch_ms"]
                                                 for x in b])
    L["streaming.ingest.wal_commit_ms"] = median([x["wal_commit_ms"]
                                                  for x in b])
    L["streaming.ingest.quads_per_batch"] = out.layers.get(
        "streaming.ingest.quads_per_batch", 0.0)
    L["sources.parse_ms"] = median(tr.ms("sources.parse"))

    inf = "operators.inference."
    L[inf + "closure_ms"] = median(tr.ms(inf + "closure"))
    L[inf + "increment_ms"] = median(tr.ms(inf + "increment"))
    L[inf + "decrement_ms"] = median(tr.ms(inf + "decrement"))
    for k in ("rematerializations", "jobs_per_change", "inferred_quads"):
        L[inf + k] = out.layers.get(inf + k, 0.0)
    L["operators.paths.closure_ms"] = median(
        tr.ms("operators.paths.closure", not_under="operators.inference"))
    return {k: round(float(v), 4) for k, v in L.items()}


def _wait_ms(ops, handles) -> list[float]:
    """Client latency minus server handle time, pairing each HTTP op with
    the handle span that ran inside its interval."""
    by_key: dict = {}
    for s in handles:
        by_key.setdefault(s.tag, []).append(s)
    out = []
    for op in ops:
        inside = [s for s in by_key.get(op.key, ())
                  if s.t0 >= op.t0 and s.t1 <= op.t1]
        if inside:
            s = inside[0]
            out.append(op.ms - 1000 * (s.t1 - s.t0))
    return out


if __name__ == "__main__":
    sys.exit(main())
