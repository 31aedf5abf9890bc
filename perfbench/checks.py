"""Answer checkers.  Every answer is checked; a mismatch counts as a failed
operation and is never dropped.

* result parsing for the four SPARQL result formats the endpoint serves;
* ``query_mix``: expected answers from DuckDB over the relational parquet,
  mapped through the FIXTURES.md §2 quad encoding;
* ``versioned_inference``: an independent pure-Python OWL-Horst chaining
  of the generated TBox and ABox.
"""

from __future__ import annotations

import csv
import io
import json
import math
import xml.etree.ElementTree as ET

from gen import OWL, RDF_TYPE, RDFS

SENTINEL_VALUE = "XXX"


class BadAnswer(ValueError):
    """The endpoint answered with the error sentinel or an unreadable
    document."""


# ------------------------------------------------------------ parsing


def _cell(v):
    """Canonical cell: numbers as floats, other terms as their lexical
    value, unbound as ''."""
    if v is None or v == "":
        return ""
    try:
        return float(v)
    except ValueError:
        return v


def parse_answer(body: bytes, fmt: str):
    """(variables, rows) for a SELECT answer or a bool for ASK; raises
    :class:`BadAnswer` on the error sentinel."""
    text = body.decode("utf-8")
    if fmt == "json":
        doc = json.loads(text)
        if "boolean" in doc:
            return bool(doc["boolean"])
        vs = doc["head"]["vars"]
        rows = [tuple(_cell(b.get(v, {}).get("value")) for v in vs)
                for b in doc["results"]["bindings"]]
    elif fmt == "xml":
        ns = "{http://www.w3.org/2005/sparql-results#}"
        root = ET.fromstring(text)
        b = root.find(f"{ns}boolean")
        if b is not None:
            return b.text.strip() == "true"
        vs = [v.get("name") for v in root.iter(f"{ns}variable")]
        rows = []
        for res in root.iter(f"{ns}result"):
            got = {bd.get("name"): (list(bd)[0].text or "")
                   for bd in res.findall(f"{ns}binding")}
            rows.append(tuple(_cell(got.get(v)) for v in vs))
    elif fmt == "csv":
        recs = list(csv.reader(io.StringIO(text, newline="")))
        if recs and recs[0] == ["_askResult"]:
            return recs[1][0] == "true"
        vs = recs[0]
        rows = [tuple(_cell(c) for c in r) for r in recs[1:]]
    elif fmt == "tsv":
        lines = text.split("\n")
        if lines[0] == "?_askResult":
            return lines[1] == "true"
        vs = [v[1:] for v in lines[0].split("\t")]
        rows = [tuple(_cell(_tsv_value(c)) for c in ln.split("\t"))
                for ln in lines[1:] if ln]
    else:
        raise ValueError(fmt)
    if vs == ["xxx"] and rows == [(SENTINEL_VALUE,)]:
        raise BadAnswer("error sentinel")
    return vs, rows


def _tsv_value(c: str) -> str:
    if c.startswith("<") and c.endswith(">"):
        return c[1:-1]
    if c.startswith('"'):
        return c[1:c.rindex('"')].replace('\\"', '"').replace("\\\\", "\\")
    return c


# ------------------------------------------------------------ query_mix


def _iri(table: str, col: str) -> str:
    return f"'urn:x:{table}/' || CAST({col} AS VARCHAR)"


class RelationalOracle:
    """Expected ``query_mix`` answers from DuckDB over the fixture parquet."""

    def __init__(self, sf_dir: str):
        import duckdb
        self.con = duckdb.connect()
        for t in ("nation", "customer", "part", "orders", "lineitem"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{sf_dir}/{t}.parquet')")
        self._memo: dict = {}

    def expected(self, template: str, params: tuple):
        """(ordered, rows) for SELECT templates, a bool for ASK."""
        key = (template, params)
        if key not in self._memo:
            self._memo[key] = self._expected(template, params)
        return self._memo[key]

    def _rows(self, sql: str) -> list[tuple]:
        return [tuple(_cell(None if v is None else str(v)) for v in r)
                for r in self.con.execute(sql).fetchall()]

    def _expected(self, template: str, params: tuple):
        if template == "star":
            (c,) = params
            return False, self._rows(
                f"SELECT c_name, c_acctbal, c_mktsegment, "
                f"{_iri('nation', 'c_nationkey')} FROM customer "
                f"WHERE c_custkey = {c}")
        if template == "hop1":
            (c,) = params
            return False, self._rows(
                f"SELECT {_iri('orders', 'o_orderkey')}, o_totalprice "
                f"FROM orders WHERE o_custkey = {c}")
        if template == "hop2":
            n, lo = params
            return True, self._rows(
                f"SELECT {_iri('orders', 'o_orderkey')} AS o, o_totalprice "
                f"FROM orders JOIN customer ON o_custkey = c_custkey "
                f"WHERE c_nationkey = {n} AND o_totalprice > {lo} "
                f"ORDER BY o_totalprice DESC, o LIMIT 10")
        if template == "range":
            lo, hi = params
            return False, self._rows(
                f"SELECT {_iri('part', 'p_partkey')}, p_retailprice FROM part "
                f"WHERE p_retailprice >= {lo} AND p_retailprice < {hi}")
        if template == "group":
            (n,) = params
            return False, self._rows(
                f"SELECT c_mktsegment, COUNT(*), SUM(c_acctbal) FROM customer "
                f"WHERE c_nationkey = {n} GROUP BY c_mktsegment")
        if template == "path":
            (o,) = params
            return False, self._rows(
                f"SELECT n_name FROM orders JOIN customer ON o_custkey = "
                f"c_custkey JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE o_orderkey = {o}")
        if template == "optional":
            (o,) = params
            return False, self._rows(
                f"SELECT 'urn:x:lineitem/' || l_orderkey || '-' || "
                f"l_linenumber, l_quantity, CASE WHEN l_discount > 0.05 "
                f"THEN l_discount END FROM lineitem WHERE l_orderkey = {o}")
        if template == "ask":
            c, n = params
            return bool(self.con.execute(
                f"SELECT COUNT(*) FROM customer WHERE c_custkey = {c} "
                f"AND c_nationkey = {n}").fetchone()[0])
        if template == "describe":
            (p,) = params
            s = f"'urn:x:part/{p}'"
            cols = ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                    "p_retailprice"]
            parts = [f"SELECT {s}, 'urn:x:p/{c}', CAST({c} AS VARCHAR) "
                     f"FROM part WHERE p_partkey = {p}" for c in cols]
            parts.append(f"SELECT {s}, '{RDF_TYPE}', 'urn:x:t/part'")
            parts.append(
                f"SELECT 'urn:x:lineitem/' || l_orderkey || '-' || "
                f"l_linenumber, 'urn:x:p/l_partkey', {s} FROM lineitem "
                f"WHERE l_partkey = {p}")
            return False, self._rows(" UNION ALL ".join(parts))
        if template == "scan":
            (st,) = params
            return False, self._rows(
                f"SELECT {_iri('orders', 'o_orderkey')}, o_orderpriority "
                f"FROM orders WHERE o_orderstatus = '{st}'")
        raise ValueError(template)


def _sort_key(row: tuple) -> tuple:
    return tuple((0, round(c, 3), "") if isinstance(c, float) else (1, 0, c)
                 for c in row)


def _same_cell(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got: list, want: list, ordered: bool) -> bool:
    """Row lists equal up to order (unless ``ordered``), numbers compared
    to a relative 1e-9: sums may add in another order."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(len(g) == len(w) and all(map(_same_cell, g, w))
               for g, w in zip(got, want))


def same_answer(got, want) -> bool:
    """Compare a parsed answer with an oracle answer."""
    if isinstance(want, bool):
        return got is want
    ordered, rows = want
    if isinstance(got, bool):
        return False
    return same_rows(got[1], rows, ordered)


# ------------------------------------------------------------ inference


class HorstModel:
    """Independent OWL-Horst chaining over the generated TBox + current
    ABox, for the constructs the generator emits: subClassOf,
    equivalentClass, subPropertyOf, domain, range, TransitiveProperty,
    inverseOf and SymmetricProperty.  The schema closure is computed
    eagerly; instance answers are derived only for the subjects a query
    asks about, by following the instance rules back to the indexed base
    triples."""

    def __init__(self):
        self.triples: set = set()          # (g, s, p, o) base quads
        self.by_s: dict = {}
        self.by_o: dict = {}
        self._schema = None

    def add(self, g, s, p, o) -> None:
        q = (g, s, p, o)
        if q in self.triples:
            return
        self.triples.add(q)
        self.by_s.setdefault(s, set()).add(q)
        self.by_o.setdefault(o, set()).add(q)
        if _is_schema(p, o):
            self._schema = None

    def remove(self, g, s, p, o) -> None:
        q = (g, s, p, o)
        if q in self.triples:
            self.triples.discard(q)
            self.by_s[s].discard(q)
            self.by_o[o].discard(q)
            if _is_schema(p, o):
                self._schema = None

    # schema closure
    def schema(self):
        if self._schema is not None:
            return self._schema
        sc, sp, dom, rng = {}, {}, {}, {}
        trans, sym, inv = set(), set(), {}
        for (_, s, p, o) in self.triples:
            if p == RDFS + "subClassOf":
                sc.setdefault(s, set()).add(o)
            elif p == OWL + "equivalentClass":
                sc.setdefault(s, set()).add(o)
                sc.setdefault(o, set()).add(s)
            elif p == RDFS + "subPropertyOf":
                sp.setdefault(s, set()).add(o)
            elif p == RDFS + "domain":
                dom.setdefault(s, set()).add(o)
            elif p == RDFS + "range":
                rng.setdefault(s, set()).add(o)
            elif p == RDF_TYPE and o == OWL + "TransitiveProperty":
                trans.add(s)
            elif p == RDF_TYPE and o == OWL + "SymmetricProperty":
                sym.add(s)
            elif p == OWL + "inverseOf":
                inv.setdefault(s, set()).add(o)
                inv.setdefault(o, set()).add(s)
        self._schema = (_reach(sc), _reach(sp), dom, rng, trans, sym, inv)
        return self._schema

    def _props_of(self, p: str) -> set:
        """p and every super-property of p."""
        return {p} | self.schema()[1].get(p, set())

    def _edges(self, node: str, forward: bool) -> set:
        """(p, other) for every entailed property edge out of (forward)
        or into ``node``: sub-property lifting, symmetric and inverse
        edges, then the transitive closure of transitive properties."""
        trans = self.schema()[4]
        out = set(self._direct_edges(node, forward))
        for p in trans:
            stack = [o for (q, o) in out if q == p]
            while stack:
                x = stack.pop()
                for q, y in self._direct_edges(x, forward):
                    if q == p and (p, y) not in out:
                        out.add((p, y))
                        stack.append(y)
        return out

    def _direct_edges(self, node: str, forward: bool) -> set:
        _, _, _, _, _, sym, inv = self.schema()
        out = set()
        own = self.by_s.get(node, ()) if forward else self.by_o.get(node, ())
        other = self.by_o.get(node, ()) if forward else self.by_s.get(node, ())
        for (_, s, p, o) in own:
            if p == RDF_TYPE:
                continue
            for q in self._props_of(p):
                out.add((q, o if forward else s))
        for (_, s, p, o) in other:
            if p == RDF_TYPE:
                continue
            for q in self._props_of(p):
                if q in sym:
                    out.add((q, s if forward else o))
                for r in inv.get(q, ()):
                    for r2 in self._props_of(r):
                        out.add((r2, s if forward else o))
        return out

    def types(self, node: str) -> set:
        """Entailed rdf:type objects of ``node``."""
        sc, _, dom, rng, _, _, _ = self.schema()
        base = {o for (_, s, p, o) in self.by_s.get(node, ()) if p == RDF_TYPE}
        for p, _ in self._edges(node, True):
            base |= dom.get(p, set())
        for p, _ in self._edges(node, False):
            base |= rng.get(p, set())
        out = set(base)
        for c in base:
            out |= sc.get(c, set())
        return out

    def reach(self, node: str, p: str) -> set:
        """Objects of the path ``p+`` from ``node`` in the entailed graph."""
        out, stack = set(), [node]
        while stack:
            x = stack.pop()
            for q, y in self._direct_edges(x, True):
                if q == p and y not in out:
                    out.add(y)
                    stack.append(y)
        return out


_SCHEMA_PREDS = {RDFS + "subClassOf", RDFS + "subPropertyOf", RDFS + "domain",
                 RDFS + "range", OWL + "equivalentClass", OWL + "inverseOf"}


def _is_schema(p: str, o: str) -> bool:
    return p in _SCHEMA_PREDS or (p == RDF_TYPE and o in (
        OWL + "TransitiveProperty", OWL + "SymmetricProperty"))


def _reach(edges: dict) -> dict:
    """Transitive closure of a {x: {y}} relation."""
    out = {}
    for x in edges:
        seen, stack = set(), list(edges[x])
        while stack:
            y = stack.pop()
            if y not in seen:
                seen.add(y)
                stack.extend(edges.get(y, ()))
        out[x] = seen
    return out
