"""``query_mix``: two closed-loop HTTP clients (the reference adapter's
2-thread task pool) sending seeded SPB-style read templates to the warm,
read-only fixture store."""

from __future__ import annotations

import os
import threading
import time

import gen
from checks import BadAnswer, RelationalOracle, parse_answer, same_answer
from client import HttpClient, Op, timed
from common import Outcome, log, median, throughput

CLIENTS = 2
SETUP_ROUNDS = 3


def fixture_dir(work: str) -> str:
    return os.path.join(work, "fixture", "perfbench_sf0.01")


def open_engine(spark, sf_dir: str, layers: dict | None = None):
    """Warm open of the fixture store and its encoded state, as a fresh
    process pays it; ``layers`` collects the split."""
    from graphdb_free_mocha_sa_spark import Engine, open_fixture_store
    from graphdb_free_mocha_sa_spark import cache as C
    t0 = time.perf_counter()
    store = open_fixture_store(spark, sf_dir)
    t1 = time.perf_counter()
    eng = Engine(spark, store, warm_dir=C.artifact_dir(sf_dir))
    eng._encoded_state()
    t2 = time.perf_counter()
    if layers is not None:
        layers.setdefault("store.open_ms", []).append(1000 * (t1 - t0))
        layers.setdefault("dictionary.load_ms", []).append(1000 * (t2 - t1))
    return eng


def drop_warm_tables(spark) -> None:
    """Forget the catalog registrations a warm open creates (the files
    stay): the next open pays the registration a fresh process pays."""
    for t in spark.catalog.listTables():
        if t.name.startswith(("quads_base_", "enc_warm_")):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def run_clients(n: int, body, seconds: float) -> float:
    """Run ``body(k, deadline)`` on ``n`` threads; returns the wall time
    from start until the last client finished its in-flight operation."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    errors: list = []

    def guard(k):
        try:
            body(k, deadline)
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
    threads = [threading.Thread(target=guard, args=(k,)) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 170)
    if any(t.is_alive() for t in threads):
        raise RuntimeError("a client did not finish")
    if errors:
        raise errors[0]
    return time.perf_counter() - t0


def run(ctx) -> Outcome:
    from graphdb_free_mocha_sa_spark.server import serve
    spark, out = ctx.spark, Outcome()
    sf_dir = fixture_dir(ctx.work)
    gen.write_fixture(sf_dir)
    built = os.path.join(sf_dir, "_STORE_BUILT")
    if not os.path.exists(built):
        # one-time cold build of the store and its encoded state, untimed
        t0 = time.perf_counter()
        open_engine(spark, sf_dir)
        open(built, "w").close()
        log(f"fixture store built in {time.perf_counter() - t0:.1f}s")

    split: dict = {}
    for _ in range(SETUP_ROUNDS):
        drop_warm_tables(spark)
        t0 = time.perf_counter()
        eng = open_engine(spark, sf_dir, split)
        out.setups.append(time.perf_counter() - t0)
    out.layers.update({k: median(v) for k, v in split.items()})

    log(f"set-up rounds: {[round(s, 2) for s in out.setups]}")
    srv = serve(eng, port=0)
    port = srv.server_address[1]
    loop = threading.Thread(target=srv.serve_forever, daemon=True)
    loop.start()
    try:
        warm = HttpClient(port)
        for tpl, params in (("star", (1,)), ("hop1", (2,))):
            warm.query(gen.render(tpl, params))
        warm.close()

        streams = [gen.query_stream(ctx.seed, k, 2000) for k in range(CLIENTS)]
        done: list[list] = [[] for _ in range(CLIENTS)]

        def client(k, deadline):
            http = HttpClient(port)
            try:
                for req in streams[k]:
                    if time.perf_counter() >= deadline:
                        break
                    op, res = timed("query", http.query, req.text, req.fmt)
                    op.answer, op.client = (req, res), k
                    op.key = hash(http.last_body)
                    done[k].append(op)
            finally:
                http.close()
        window_s = run_clients(CLIENTS, client, ctx.seconds)
    finally:
        srv.shutdown()
        srv.server_close()
        loop.join(timeout=30)

    log(f"window {window_s:.1f}s, checking answers")
    oracle = RelationalOracle(sf_dir)
    by_template: dict[str, list] = {}
    for k in range(CLIENTS):
        for op in done[k]:
            by_template.setdefault(op.answer[0].template, []).append(op.ms)
            check(op, oracle)
            out.ops.append(op)
    log("median ms per template: " + ", ".join(
        f"{t} {median(v):.0f} (n={len(v)})"
        for t, v in sorted(by_template.items())))
    lat = [op.ms for op in out.ops]
    out.report["query_qps"] = (throughput(out.ops), "1/s", len(out.ops))
    out.report["query_ms"] = lat
    return out


def check(op: Op, oracle: RelationalOracle) -> None:
    """Decide ``op.ok``: HTTP 200, no sentinel, same answer as DuckDB."""
    req, res = op.answer
    op.answer = None
    if not op.ok:
        return
    status, body = res
    op.nbytes = len(body)
    if status != 200:
        op.ok, op.note = False, f"HTTP {status}"
        return
    try:
        got = parse_answer(body, req.fmt)
    except (BadAnswer, ValueError, KeyError) as e:
        op.ok, op.note = False, f"{req.template}: {e}"[:200]
        return
    op.rows = 1 if isinstance(got, bool) else len(got[1])
    if not same_answer(got, oracle.expected(req.template, req.params)):
        op.ok, op.note = False, f"wrong answer: {req.template} {req.params}"
