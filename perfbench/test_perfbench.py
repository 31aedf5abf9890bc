"""Tiny tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from client import Op  # noqa: E402
from common import tail  # noqa: E402


def _digest_inputs(seed: int, tmp: str) -> str:
    """Hash of every input one seed generates."""
    h = hashlib.sha256()
    for k in range(2):
        for r in gen.query_stream(seed, k, 60):
            h.update(f"{r.template}|{r.text}|{r.fmt}\n".encode())
    h.update(repr(gen.tbox(seed)).encode())
    ab = gen.abox(seed, 400, 3)
    h.update(repr(ab).encode())
    for k, cs in enumerate(gen.change_sets(seed, 20, 400, 3, ab)):
        d = os.path.join(tmp, f"s{seed}-c{k}")
        gen.write_messages(d, gen.change_messages(cs))
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic(tmp_path):
    a = _digest_inputs(7, str(tmp_path / "a"))
    b = _digest_inputs(7, str(tmp_path / "b"))
    c = _digest_inputs(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_fixture_is_byte_identical(tmp_path):
    for d in ("a", "b"):
        gen.write_fixture(str(tmp_path / d))
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes(), name


def test_query_stream_shape_is_seed_independent():
    """Seeds change parameters and hot picks, never the template order."""
    t1 = [r.template for r in gen.query_stream(1, 0, 40)]
    t2 = [r.template for r in gen.query_stream(2, 0, 40)]
    assert t1 == t2
    texts = [r.text for r in gen.query_stream(1, 0, 400)]
    assert len(set(texts)) < len(texts)          # the hot set repeats


def _json_body(vs, rows) -> bytes:
    return json.dumps({"head": {"vars": vs}, "results": {"bindings": [
        {v: {"type": "literal", "value": c} for v, c in zip(vs, r)}
        for r in rows]}}).encode()


def test_corrupted_answer_counts_as_failed(tmp_path):
    from w_query import check
    sf = str(tmp_path / "sf")
    gen.write_fixture(sf)
    oracle = checks.RelationalOracle(sf)
    req = gen.Request("path", gen.render("path", (5,)), (5,))
    _, rows = oracle.expected("path", (5,))
    good = Op("query", 0.0, 1.0, answer=(req, (200, _json_body(["n"], rows))))
    check(good, oracle)
    assert good.ok
    bad_rows = [("NATION_X",)]
    bad = Op("query", 0.0, 1.0,
             answer=(req, (200, _json_body(["n"], bad_rows))))
    check(bad, oracle)
    assert not bad.ok
    sentinel = Op("query", 0.0, 1.0, answer=(req, (200, _json_body(
        ["xxx"], [("XXX",)]))))
    check(sentinel, oracle)
    assert not sentinel.ok
    refused = Op("query", 0.0, 1.0, answer=(req, (500, b"")))
    check(refused, oracle)
    assert not refused.ok


def test_result_formats_parse_alike():
    body = {
        "json": _json_body(["a", "b"], [("urn:x:1", "2.5")]),
        "csv": b"a,b\r\nurn:x:1,2.5\r\n",
        "tsv": b'?a\t?b\n<urn:x:1>\t"2.5"^^<http://www.w3.org/2001/'
               b'XMLSchema#double>\n',
        "xml": b'<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/'
               b'sparql-results#"><head><variable name="a"/><variable '
               b'name="b"/></head><results><result><binding name="a"><uri>'
               b'urn:x:1</uri></binding><binding name="b"><literal>2.5'
               b'</literal></binding></result></results></sparql>'}
    parsed = {f: checks.parse_answer(b, f) for f, b in body.items()}
    assert len({repr(p) for p in parsed.values()}) == 1


def test_horst_model_chains_the_generated_constructs():
    m = checks.HorstModel()
    g = "urn:g"
    sc = gen.RDFS + "subClassOf"
    for t in [("urn:inf:C0", sc, "urn:inf:C1"),
              ("urn:inf:C1", sc, "urn:inf:C2"),
              ("urn:inf:p/w", gen.RDFS + "subPropertyOf", "urn:inf:p/m"),
              ("urn:inf:p/m", gen.RDFS + "domain", "urn:inf:D"),
              ("urn:inf:p/w", gen.RDFS + "range", "urn:inf:R"),
              ("urn:inf:p/part", gen.RDF_TYPE,
               gen.OWL + "TransitiveProperty"),
              ("urn:inf:i/a", gen.RDF_TYPE, "urn:inf:C0"),
              ("urn:inf:i/a", "urn:inf:p/w", "urn:inf:o"),
              ("urn:inf:i/a", "urn:inf:p/part", "urn:inf:i/b"),
              ("urn:inf:i/b", "urn:inf:p/part", "urn:inf:i/c")]:
        m.add(g, *t)
    assert m.types("urn:inf:i/a") == {"urn:inf:C0", "urn:inf:C1",
                                      "urn:inf:C2", "urn:inf:D"}
    assert m.types("urn:inf:o") == {"urn:inf:R"}
    assert m.reach("urn:inf:i/a", "urn:inf:p/part") == {"urn:inf:i/b",
                                                        "urn:inf:i/c"}
    m.remove(g, "urn:inf:i/a", gen.RDF_TYPE, "urn:inf:C0")
    assert m.types("urn:inf:i/a") == {"urn:inf:D"}


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 41))                     # 40 samples
    v, p = tail(xs)
    assert sum(1 for x in xs if x > v) == 10
    assert p == round(100 * 29 / 39, 1)


def test_benchmark_json_names_every_metric():
    import run
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
