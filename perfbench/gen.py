"""Seeded input generators for every workload.

One ``--seed`` drives every generated input: query parameters and the
hot/fresh split, the TBox, the ABox's N-Triples version files and the
change-sets' INSERT/DELETE message files.  The relational fixture the read path serves is
generated once from :data:`FIXTURE_SEED` (it plays the part of the cached
sf fixture store, whose cold build happens before any timing); everything a
run sends to the program comes from the run's own seed.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files and texts (``tests`` in this directory pin that).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

#: seed of the read-only relational fixture (never the run seed: the store
#: built from it is cached across runs, like the sf fixtures)
FIXTURE_SEED = 20181

#: row counts of the fixture: the sf0.01 shape of the repo's TPC-H-ish
#: star schema (lineitem 60 000 rows, ~0.9 M quads once encoded)
FIXTURE_ROWS = {"region": 5, "nation": 25, "customer": 1500,
                "supplier": 100, "part": 2000, "orders": 15000}
LINES_PER_ORDER = 4
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

PREFIX = "PREFIX x: <urn:x:p/> "


# ------------------------------------------------------------ fixture


def fixture_tables(seed: int = FIXTURE_SEED) -> dict:
    """Relational fixture as {table: {column: list}} (FIXTURES.md §1
    schemas).  Prices are distinct per row so ORDER BY answers are total
    and the checker can compare them as ordered lists."""
    rnd = random.Random(seed)
    n = FIXTURE_ROWS
    t: dict[str, dict[str, list]] = {}
    t["region"] = {"r_regionkey": list(range(n["region"])),
                   "r_name": [f"REGION_{i}" for i in range(n["region"])]}
    t["nation"] = {"n_nationkey": list(range(n["nation"])),
                   "n_name": [f"NATION_{i}" for i in range(n["nation"])],
                   "n_regionkey": [i % n["region"] for i in range(n["nation"])]}
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": list(range(nc)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": [rnd.randrange(n["nation"]) for _ in range(nc)],
        "c_acctbal": [round(rnd.uniform(-999, 9999), 2) + i * 1e-6
                      for i in range(nc)],
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(nc)]}
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": list(range(ns)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": [rnd.randrange(n["nation"]) for _ in range(ns)],
        "s_acctbal": [round(rnd.uniform(-999, 9999), 2) for _ in range(ns)]}
    npart = n["part"]
    t["part"] = {
        "p_partkey": list(range(npart)),
        "p_name": [f"{rnd.choice(['cold', 'small', 'shiny', 'dark'])} "
                   f"{rnd.choice(['widget', 'gadget', 'bolt', 'gear'])}"
                   for _ in range(npart)],
        "p_brand": [f"Brand#{rnd.randrange(1, 26)}" for _ in range(npart)],
        "p_type": [rnd.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"])
                   for _ in range(npart)],
        "p_size": [rnd.randrange(1, 51) for _ in range(npart)],
        "p_retailprice": [900.0 + i * 0.5 for i in range(npart)]}
    no = n["orders"]
    import datetime as dt
    day0 = dt.datetime(1995, 1, 1)
    t["orders"] = {
        "o_orderkey": list(range(no)),
        "o_custkey": [rnd.randrange(nc) for _ in range(no)],
        "o_orderstatus": [rnd.choice(STATUSES) for _ in range(no)],
        "o_totalprice": [round(rnd.uniform(1000, 400000), 2) + i * 1e-6
                         for i in range(no)],
        "o_orderdate": [day0 + dt.timedelta(days=rnd.randrange(2500))
                        for _ in range(no)],
        "o_orderpriority": [rnd.choice(PRIORITIES) for _ in range(no)]}
    li: dict[str, list] = {c: [] for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for o in range(no):
        for ln in range(1, LINES_PER_ORDER + 1):
            q = float(rnd.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rnd.randrange(npart))
            li["l_suppkey"].append(rnd.randrange(ns))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rnd.uniform(900, 2000), 2))
            li["l_discount"].append(rnd.randrange(0, 11) / 100)
            li["l_tax"].append(rnd.randrange(0, 9) / 100)
            li["l_returnflag"].append(rnd.choice("ANR"))
            li["l_linestatus"].append(rnd.choice("FO"))
            li["l_shipdate"].append(t["orders"]["o_orderdate"][o]
                                    + dt.timedelta(days=rnd.randrange(1, 120)))
    t["lineitem"] = li
    return t


#: parquet column types (FIXTURES.md §1): INT keys of the small tables,
#: BIGINT elsewhere
_INT32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
          "s_nationkey", "p_size", "l_linenumber"}


def write_fixture(sf_dir: str, seed: int = FIXTURE_SEED) -> None:
    """Write the fixture parquet files once; a ``_DONE`` marker makes the
    write idempotent across runs (the store cache keys on file content)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    if os.path.exists(os.path.join(sf_dir, "_DONE")):
        return
    os.makedirs(sf_dir, exist_ok=True)
    for name, cols in fixture_tables(seed).items():
        arrays, fields = [], []
        for c, vals in cols.items():
            v0 = vals[0]
            if isinstance(v0, bool):
                typ = pa.bool_()
            elif isinstance(v0, int):
                typ = pa.int32() if c in _INT32 else pa.int64()
            elif isinstance(v0, float):
                typ = pa.float64()
            elif isinstance(v0, str):
                typ = pa.string()
            else:
                typ = pa.timestamp("us")
            arrays.append(pa.array(vals, type=typ))
            fields.append(pa.field(c, typ))
        pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                       os.path.join(sf_dir, f"{name}.parquet"))
    open(os.path.join(sf_dir, "_DONE"), "w").close()


# ------------------------------------------------------------ query_mix


@dataclass(frozen=True)
class Request:
    """One generated read request: SPARQL text, template name and the
    result format the client asks for."""
    template: str
    text: str
    params: tuple
    fmt: str = "json"


#: one schedule cycle: (template, slot kind).  "hot" slots (6 of 20,
#: 30 %) repeat the template's hot-set text so the plan cache can answer
#: them; "xml"/"csv"/"tsv" slots ask for that result format; "fresh" slots
#: draw new parameters.  Cache hits and the cheap key lookups together
#: stay near a third of the requests, so the median lands inside the
#: execution-bound templates' latencies rather than on the edge between
#: the two groups, where one request more or less would move it.  The
#: cycle is the same for every seed: seeds change parameters, never the
#: kind of work.
SCHEDULE = [("star", "fresh"), ("hop1", "hot"), ("hop2", "fresh"),
            ("range", "xml"), ("group", "hot"), ("optional", "fresh"),
            ("path", "hot"), ("hop1", "fresh"), ("describe", "fresh"),
            ("ask", "hot"), ("group", "fresh"), ("scan", "fresh"),
            ("star", "hot"), ("optional", "csv"), ("hop2", "fresh"),
            ("range", "hot"), ("hop1", "tsv"), ("path", "fresh"),
            ("group", "fresh"), ("range", "fresh")]


def render(template: str, params: tuple) -> str:
    """SPARQL text of one template instance."""
    if template == "star":
        (c,) = params
        return (PREFIX + f"SELECT ?name ?bal ?seg ?nat WHERE {{ "
                f"<urn:x:customer/{c}> x:c_name ?name ; x:c_acctbal ?bal ; "
                f"x:c_mktsegment ?seg ; x:c_nationkey ?nat }}")
    if template == "hop1":
        (c,) = params
        return (PREFIX + f"SELECT ?o ?price WHERE {{ ?o x:o_custkey "
                f"<urn:x:customer/{c}> ; x:o_totalprice ?price }}")
    if template == "hop2":
        n, lo = params
        return (PREFIX + f"SELECT ?o ?price WHERE {{ ?o x:o_custkey ?c . "
                f"?c x:c_nationkey <urn:x:nation/{n}> . "
                f"?o x:o_totalprice ?price FILTER(?price > {lo}) }} "
                f"ORDER BY DESC(?price) ?o LIMIT 10")
    if template == "range":
        lo, hi = params
        return (PREFIX + f"SELECT ?p ?price WHERE {{ ?p x:p_retailprice ?price "
                f"FILTER(?price >= {lo} && ?price < {hi}) }}")
    if template == "group":
        (n,) = params
        return (PREFIX + f"SELECT ?seg (COUNT(?c) AS ?n) (SUM(?bal) AS ?total) "
                f"WHERE {{ ?c x:c_nationkey <urn:x:nation/{n}> ; "
                f"x:c_mktsegment ?seg ; x:c_acctbal ?bal }} GROUP BY ?seg")
    if template == "path":
        (o,) = params
        return (PREFIX + f"SELECT ?n WHERE {{ <urn:x:orders/{o}> "
                f"x:o_custkey/x:c_nationkey/x:n_name ?n }}")
    if template == "optional":
        (o,) = params
        return (PREFIX + f"SELECT ?l ?q ?d WHERE {{ ?l x:l_orderkey "
                f"<urn:x:orders/{o}> ; x:l_quantity ?q OPTIONAL {{ "
                f"?l x:l_discount ?d FILTER(?d > 0.05) }} }}")
    if template == "ask":
        c, n = params
        return (PREFIX + f"ASK {{ <urn:x:customer/{c}> x:c_nationkey "
                f"<urn:x:nation/{n}> }}")
    if template == "describe":
        (p,) = params
        return f"DESCRIBE <urn:x:part/{p}>"
    if template == "scan":
        (st,) = params
        return (PREFIX + f"SELECT ?o ?d WHERE {{ ?o x:o_orderstatus "
                f"\"{st}\" ; x:o_orderpriority ?d }}")
    raise ValueError(template)


def _params(template: str, rnd: random.Random) -> tuple:
    n = FIXTURE_ROWS
    if template in ("star", "hop1"):
        return (rnd.randrange(n["customer"]),)
    if template == "hop2":
        return (rnd.randrange(n["nation"]), rnd.randrange(300000, 390000))
    if template == "range":
        lo = 900 + rnd.randrange(0, 900)
        return (lo, lo + 20)
    if template == "group":
        return (rnd.randrange(n["nation"]),)
    if template in ("path", "optional"):
        return (rnd.randrange(n["orders"]),)
    if template == "ask":
        return (rnd.randrange(n["customer"]), rnd.randrange(n["nation"]))
    if template == "describe":
        return (rnd.randrange(n["part"]),)
    if template == "scan":
        return (rnd.choice(STATUSES),)
    raise ValueError(template)


def query_stream(seed: int, client: int, count: int) -> list[Request]:
    """The request sequence of one ``query_mix`` client: it walks
    :data:`SCHEDULE` from slot ``client * 7`` (so the two clients never
    run the same template in lock-step).  Hot slots send the template's
    one hot-set text, shared by both clients; the hot set holds at most
    one text per template, well within the engine's 64-entry plan LRU."""
    rnd = random.Random(seed)
    hot = {tpl: _params(tpl, rnd)
           for tpl in sorted({t for t, kind in SCHEDULE if kind == "hot"})}
    rnd = random.Random(seed * 1009 + client)
    out = []
    for i in range(count):
        tpl, kind = SCHEDULE[(i + client * 7) % len(SCHEDULE)]
        params = hot[tpl] if kind == "hot" else _params(tpl, rnd)
        fmt = kind if kind in ("xml", "csv", "tsv") else "json"
        out.append(Request(tpl, render(tpl, params), params, fmt))
    return out


# ------------------------------------------------------------ versioned_inference


INF = "urn:inf:"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
N_CLASSES = 12


def tbox(seed: int) -> list[tuple[str, str, str]]:
    """Seeded OWL-Horst TBox: two subClassOf chains with a seeded branch
    point, an equivalentClass pair, a subPropertyOf chain with domain and
    range, a transitive part-of with its inverse, and a symmetric link."""
    rnd = random.Random(seed * 31 + 1)
    C = [f"{INF}C{i}" for i in range(N_CLASSES)]
    sc = RDFS + "subClassOf"
    t = [(C[i], sc, C[i + 1]) for i in range(0, 5)]          # C0 ⊂ … ⊂ C5
    t += [(C[i], sc, C[i + 1]) for i in range(6, 9)]         # C6 ⊂ … ⊂ C9
    t.append((C[rnd.randrange(6, 9)], sc, C[rnd.randrange(2, 5)]))
    t.append((C[10], OWL + "equivalentClass", C[rnd.randrange(0, 4)]))
    t += [(f"{INF}p/worksFor", RDFS + "subPropertyOf", f"{INF}p/memberOf"),
          (f"{INF}p/memberOf", RDFS + "subPropertyOf", f"{INF}p/relatedTo"),
          (f"{INF}p/memberOf", RDFS + "domain", C[11]),
          (f"{INF}p/worksFor", RDFS + "range", C[rnd.randrange(6, 10)]),
          (f"{INF}p/partOf", RDF_TYPE, OWL + "TransitiveProperty"),
          (f"{INF}p/hasPart", OWL + "inverseOf", f"{INF}p/partOf"),
          (f"{INF}p/knows", RDF_TYPE, OWL + "SymmetricProperty")]
    return t


def abox(seed: int, n_inst: int, versions: int) -> list[list[tuple]]:
    """Seeded ABox split into ``versions`` graphs (returned as one triple
    list per version): typed instances, worksFor edges into a pool of
    organisations, a part-of forest, symmetric knows links and labels —
    five triples per instance."""
    rnd = random.Random(seed * 131 + 7)
    out: list[list[tuple]] = [[] for _ in range(versions)]
    n_org = max(10, n_inst // 50)
    for i in range(n_inst):
        v = i % versions
        s = f"{INF}i/{i}"
        out[v].append((s, RDF_TYPE, f"{INF}C{rnd.choice([0, 1, 6, 7, 10])}"))
        out[v].append((s, f"{INF}p/worksFor", f"{INF}org/{rnd.randrange(n_org)}"))
        # part-of forest: node i hangs under node (i - 1) // 4
        if i:
            out[v].append((s, f"{INF}p/partOf", f"{INF}i/{(i - 1) // 4}"))
        else:
            out[v].append((s, f"{INF}p/partOf", f"{INF}root"))
        out[v].append((s, f"{INF}p/knows", f"{INF}i/{rnd.randrange(n_inst)}"))
        out[v].append((s, RDFS + "label", f'"inst {i}"'))
    return out


@dataclass(frozen=True)
class ChangeSet:
    """One versioned change: ``kind`` in {insert, delete, tbox}; triples
    added to / removed from graph ``graph``."""
    kind: str
    graph: str
    add: tuple = ()
    remove: tuple = ()


def change_sets(seed: int, count: int, n_inst: int, versions: int,
                base: list[list[tuple]]) -> list[ChangeSet]:
    """Seeded change-set sequence with a seed-independent shape: every
    fourth step is a DRed decrement (retract two base type triples), every
    tenth a TBox edit (a new subclass under the chain, with an instance)
    that forces a re-materialization, the rest are increments (two new
    typed, employed instances).  The first three steps are increments, so
    runs that reach one to three change-sets do the same kind of work."""
    rnd = random.Random(seed * 17 + 3)
    out = []
    removed: set = set()
    next_inst = n_inst
    for k in range(count):
        g = f"http://graph.version.{rnd.randrange(versions)}"
        if k % 10 == 9:
            sub = f"{INF}X{k}"
            out.append(ChangeSet("tbox", g, add=(
                (sub, RDFS + "subClassOf", f"{INF}C{rnd.randrange(0, 5)}"),
                (f"{INF}i/x{k}", RDF_TYPE, sub))))
        elif k % 4 != 3:
            adds = []
            for _ in range(2):
                s = f"{INF}i/{next_inst}"
                adds += [(s, RDF_TYPE, f"{INF}C{rnd.choice([0, 6, 7])}"),
                         (s, f"{INF}p/worksFor", f"{INF}org/{rnd.randrange(10)}")]
                next_inst += 1
            out.append(ChangeSet("insert", g, add=tuple(adds)))
        else:
            v = int(g.rsplit(".", 1)[1])
            pool = [t for t in base[v] if t[1] == RDF_TYPE and t not in removed]
            victims = tuple(rnd.sample(pool, 2))
            removed.update(victims)
            out.append(ChangeSet("delete", g, remove=victims))
    return out


def term(x: str) -> str:
    """SPARQL/N-Triples form of a generated term (literals are pre-quoted)."""
    return x if x.startswith('"') else f"<{x}>"


def triples_text(triples) -> str:
    return " . ".join(f"{term(s)} {term(p)} {term(o)}" for s, p, o in triples)


def change_messages(cs: ChangeSet) -> list[str]:
    """The update messages a change-set arrives as: one INSERT DATA per
    new subject (a TBox edit is one message), one DELETE DATA per
    retracted triple."""
    if cs.remove:
        return [f"DELETE DATA {{ GRAPH <{cs.graph}> {{ {triples_text([t])} }} }}"
                for t in cs.remove]
    if cs.kind == "tbox":
        groups = [cs.add]
    else:
        by_s: dict[str, list] = {}
        for t in cs.add:
            by_s.setdefault(t[0], []).append(t)
        groups = list(by_s.values())
    return [f"INSERT DATA {{ GRAPH <{cs.graph}> {{ {triples_text(g)} }} }}"
            for g in groups]


def write_messages(directory: str, messages: list[str]) -> int:
    """Write update messages one per file (the adapter's message
    granularity), one line each; returns the bytes written."""
    os.makedirs(directory, exist_ok=True)
    for i, text in enumerate(messages):
        with open(os.path.join(directory, f"u{i:05d}.ru"), "w") as fh:
            fh.write(text + "\n")
    return sum(len(m) + 1 for m in messages)
