"""Pins for the three r9 ADVICE fixes.

* CONSTRUCT dedup regression (ADVICE high, translator.py construct): the
  r8 ``len(pieces) <= 4`` early return skipped ``dropDuplicates()``, so a
  small template (the common case) emitted one copy of a ground triple per
  matching solution — an RDF graph is a SET of triples.
* xsd:date timezone-suffixed lexicals parsed inconsistently across ingest
  paths (ADVICE low, sources/rdf.py): the whole-file Python readers used
  ``datetime.fromisoformat(lex)``, which on Python 3.11+ reads
  "2002-10-10+13:00" as 13:00 local time, while the line readers and the
  constant paths truncate to midnight. One shared convention now lives in
  ``model.date_shadow_py`` / ``model.date_shadow_col``.
* Negative-year / out-of-window xsd:date lexicals (ADVICE low,
  functions.py): ``lex[:10]`` truncated "-0005-01-01" to "-0005-01-0";
  now every path consistently assigns NO temporal shadow to dates outside
  Python datetime's representable window (years 0001-9999), instead of
  truncated garbage on some paths and a parsed value on others.
"""

from __future__ import annotations

import datetime
import io
import json

import pytest

from graphdb_free_mocha_sa_spark.model import QUAD_SCHEMA

XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.fixture()
def eng(spark):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    g = DEFAULT_GRAPH
    rows = [
        (g, "urn:a1", "urn:p", "urn:b1", None, None, None, None),
        (g, "urn:a1", "urn:p", "urn:b2", None, None, None, None),
        (g, "urn:a2", "urn:p", "urn:b3", None, None, None, None),
    ]
    return Engine(spark, QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)))


def _construct_ntriples(eng, q: str) -> list[str]:
    buf = io.StringIO()
    eng.construct_to(q, buf.write)
    return sorted(line for line in buf.getvalue().splitlines() if line.strip())


# ------------------------------------------------------- CONSTRUCT is a set


def test_construct_small_template_dedups(eng):
    # ADVICE high repro: ?s=urn:a1 matches TWO solutions (?o=b1, b2) but
    # the template projects only ?s — the graph must contain ONE triple
    # per distinct (s, q, c), not one per solution.
    lines = _construct_ntriples(
        eng, "CONSTRUCT { ?s <urn:q> <urn:c> } WHERE { ?s <urn:p> ?o }")
    assert lines == [
        "<urn:a1> <urn:q> <urn:c> .",
        "<urn:a2> <urn:q> <urn:c> .",
    ]


def test_construct_dedup_through_query_json(eng):
    # same through the JSON surface (flattened bindings path)
    out = json.loads(eng.query_json(
        "CONSTRUCT { ?s <urn:q> <urn:c> } WHERE { ?s <urn:p> ?o }"))
    trips = {(b["s"]["value"], b["p"]["value"], b["o"]["value"])
             for b in out["results"]["bindings"]}
    assert len(out["results"]["bindings"]) == len(trips) == 2


def test_construct_multi_solution_template_keeps_distinct(eng):
    # control: a template that DOES project ?o keeps all distinct triples
    lines = _construct_ntriples(
        eng, "CONSTRUCT { ?s <urn:q> ?o } WHERE { ?s <urn:p> ?o }")
    assert len(lines) == 3


# ------------------------------------------- xsd:date shadow: one convention


def _ts_via_turtle(spark, tmp_path, lex: str):
    from graphdb_free_mocha_sa_spark.sources.rdf import read_turtle
    p = tmp_path / "d.ttl"
    p.write_text(
        f'<urn:x> <urn:d> "{lex}"^^<{XSD}date> .\n', encoding="utf-8")
    return read_turtle(spark, str(p), "urn:g").collect()[0]["o_ts"]


def _ts_via_ntriples(spark, tmp_path, lex: str):
    from graphdb_free_mocha_sa_spark.sources.rdf import read_ntriples
    p = tmp_path / "d.nt"
    p.write_text(
        f'<urn:x> <urn:d> "{lex}"^^<{XSD}date> .\n', encoding="utf-8")
    return read_ntriples(spark, str(p), "urn:g").collect()[0]["o_ts"]


def test_tz_suffixed_date_is_midnight_on_every_path(spark, tmp_path):
    # ADVICE repro: fromisoformat("2002-10-10+13:00") is 13:00 on Python
    # 3.11+; the engine convention is the LOCAL date at midnight, tz
    # dropped, on every ingest path and the constant path alike.
    from graphdb_free_mocha_sa_spark.model import date_shadow_py
    want = datetime.datetime(2002, 10, 10, 0, 0)
    assert date_shadow_py("2002-10-10+13:00") == want
    assert _ts_via_turtle(spark, tmp_path, "2002-10-10+13:00") == want
    assert _ts_via_ntriples(spark, tmp_path, "2002-10-10+13:00") == want


def test_tz_suffixed_date_constant_matches_loaded_value(spark, tmp_path):
    # FILTER equality between a loaded tz-suffixed date and a plain query
    # constant now agrees (the old turtle path parsed 13:00 != midnight)
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.sources.rdf import read_turtle
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    p = tmp_path / "d.ttl"
    p.write_text(
        f'<urn:x> <urn:d> "2002-10-10+13:00"^^<{XSD}date> .\n',
        encoding="utf-8")
    quads = read_turtle(spark, str(p), DEFAULT_GRAPH)
    eng = Engine(spark, QuadStore(spark, quads))
    out = json.loads(eng.query_json(
        'SELECT ?s WHERE { ?s <urn:d> ?v . '
        f'FILTER(?v = "2002-10-10"^^<{XSD}date>) }}'))
    assert [b["s"]["value"] for b in out["results"]["bindings"]] == ["urn:x"]


@pytest.mark.parametrize("lex", [
    "-0005-01-01",        # negative year: outside datetime's window
    "-0005-01-01+13:00",  # ... with timezone
    "0000-06-01",         # proleptic year zero
    "13527-01-01",        # 5-digit year (valid XSD, unrepresentable here)
    "2002-13-40",         # lexically shaped but not a real date
])
def test_out_of_window_dates_have_no_shadow_anywhere(spark, tmp_path, lex):
    from graphdb_free_mocha_sa_spark.model import date_shadow_py
    assert date_shadow_py(lex) is None
    assert _ts_via_turtle(spark, tmp_path, lex) is None
    assert _ts_via_ntriples(spark, tmp_path, lex) is None
    # constant path (translator.term_parts_py)
    from graphdb_free_mocha_sa_spark.sparql import algebra as A
    from graphdb_free_mocha_sa_spark.sparql.translator import term_parts_py
    parts = term_parts_py(A.Literal(lex, dt=XSD + "date"))
    assert parts[-1] is None


def test_in_window_dates_still_ordered(spark):
    # ordering between plain and tz-suffixed dates uses the shared shadow
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    g = DEFAULT_GRAPH
    rows = [
        (g, "urn:x1", "urn:d", "2002-10-10+13:00", XSD + "date", None, None,
         datetime.datetime(2002, 10, 10)),
        (g, "urn:x2", "urn:d", "2002-10-11", XSD + "date", None, None,
         datetime.datetime(2002, 10, 11)),
    ]
    eng = Engine(spark, QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)))
    out = json.loads(eng.query_json(
        'SELECT ?s WHERE { ?s <urn:d> ?v . '
        f'FILTER(?v < "2002-10-11"^^<{XSD}date>) }}'))
    assert [b["s"]["value"] for b in out["results"]["bindings"]] == ["urn:x1"]


# ------------------------------------------ multi-valued restriction nodes


@pytest.mark.parametrize("distributed", [False, True])
def test_multivalued_hasvalue_fires_all_rule_instances(spark, request,
                                                       distributed):
    # r9 fuzzer find (test_inference_fuzz seed 103): a restriction node
    # with TWO owl:hasValue triples is one rule instance per
    # (onProperty x value) combination — the dict-based Schema fired only
    # one, chosen nondeterministically by collect order.
    import graphdb_free_mocha_sa_spark.operators.inference as inf
    if distributed:
        request.getfixturevalue("force_distributed")
    g = "urn:g"
    rows = [
        (g, "urn:R", inf.ON_PROPERTY, "urn:q", None, None, None, None),
        (g, "urn:R", inf.HAS_VALUE, "urn:i2", None, None, None, None),
        (g, "urn:R", inf.HAS_VALUE, "urn:i6", None, None, None, None),
        (g, "urn:x", inf.RDF_TYPE, "urn:R", None, None, None, None),
        (g, "urn:y", "urn:q", "urn:i6", None, None, None, None),
    ]
    out = inf.owl_horst_closure(
        spark, spark.createDataFrame(rows, QUAD_SCHEMA))
    got = {(r["s"], r["p"], r["o_lex"]) for r in out.collect()}
    # rdfp14b fires for BOTH values; rdfp14a classifies y via i6
    assert {("urn:x", "urn:q", "urn:i2"),
            ("urn:x", "urn:q", "urn:i6"),
            ("urn:y", inf.RDF_TYPE, "urn:R")} <= got


def test_cast_to_date_accepts_tz_suffixed_string(spark):
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    g = DEFAULT_GRAPH
    rows = [(g, "urn:x", "urn:p", "urn:y", None, None, None, None)]
    eng = Engine(spark, QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)))
    out = json.loads(eng.query_json(
        f'SELECT ?d WHERE {{ ?s <urn:p> ?o . '
        f'BIND(<{XSD}date>("2002-10-10+13:00") AS ?d) }}'))
    b = out["results"]["bindings"]
    assert b and b[0]["d"]["value"] == "2002-10-10"


# ------------------------------------------- ANSI-safe temporal value space


def test_malformed_datetime_cast_is_row_error_not_crash(spark):
    # Spark 4 runs ANSI mode by default: to_timestamp THROWS on malformed
    # input, so xsd:dateTime("garbage") used to kill the whole job instead
    # of being a per-row dynamic error (SPARQL 17.5) -> unbound (r9 audit)
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    g = DEFAULT_GRAPH
    rows = [(g, "urn:a", "urn:p", "1", XSD + "integer", None, 1.0, None)]
    eng = Engine(spark, QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)))
    out = json.loads(eng.query_json(
        f'SELECT ?d WHERE {{ ?s <urn:p> ?o . '
        f'BIND(<{XSD}dateTime>(STR(?o)) AS ?d) }}'))
    assert out["head"]["vars"] != ["xxx"], "error sentinel: job crashed"
    assert out["results"]["bindings"] == [{}]


def test_invalid_datetime_constant_has_no_value(spark):
    # an invalid constant must mean NO temporal value (comparison is a
    # type error -> row dropped), not an ANSI constant-folding crash
    from graphdb_free_mocha_sa_spark.engine import Engine
    from graphdb_free_mocha_sa_spark.store import DEFAULT_GRAPH, QuadStore
    g = DEFAULT_GRAPH
    rows = [(g, "urn:a", "urn:d", "2002-10-10T00:00:00", XSD + "dateTime",
             None, None, datetime.datetime(2002, 10, 10))]
    eng = Engine(spark, QuadStore(spark, spark.createDataFrame(rows, QUAD_SCHEMA)))
    out = json.loads(eng.query_json(
        f'SELECT ?s WHERE {{ ?s <urn:d> ?v . '
        f'FILTER(?v > "not-a-datetime"^^<{XSD}dateTime>) }}'))
    assert out["head"]["vars"] != ["xxx"], "error sentinel: plan crashed"
    assert out["results"]["bindings"] == []


def test_malformed_datetime_literal_loads_without_crash(spark, tmp_path):
    # a single bad literal in a loaded file must not kill the read job;
    # it simply has no ts shadow (drops out of temporal comparisons)
    from graphdb_free_mocha_sa_spark.sources.rdf import read_ntriples
    p = tmp_path / "bad.nt"
    p.write_text(
        f'<urn:x> <urn:d> "junk-value"^^<{XSD}dateTime> .\n'
        f'<urn:y> <urn:d> "2002-10-10T05:00:00"^^<{XSD}dateTime> .\n',
        encoding="utf-8")
    rows = {r["s"]: r["o_ts"] for r in read_ntriples(spark, str(p), "urn:g").collect()}
    assert rows["urn:x"] is None
    assert rows["urn:y"] == datetime.datetime(2002, 10, 10, 5, 0)
