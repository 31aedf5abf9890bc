"""OWL-Horst(-optimized) subset forward-chaining materialization (SURVEY B40/B41).

The reference engine materializes inference on write with ruleset
``owl-horst-optimized`` (repo-config.ttl:26) and sameAs expansion
(repo-config.ttl:45). Spark-first re-expression, one mechanism per concern:

* **Schema** — the TBox (subClassOf / subPropertyOf / domain / range /
  inverseOf / property characteristics / restrictions) is tiny even at
  100 TB ABox scale, so :class:`Schema` collects it once and closes it on
  the driver; every rule joins the ABox against broadcast TBox tables.
* **One Spark step** — :func:`_stepper` builds ``step(delta, known)``: the
  delta-only rules as broadcast joins of ``delta``, plus the delta×known
  rules (transitive chaining, functional sameAs, someValuesFrom /
  allValuesFrom) joined semi-naively — only pairs involving a delta fact.
* **One semi-naive loop** — :func:`_semi_naive`: each round anti-joins the
  step's output against ``known`` (newness key ``(s, p, o_lex)``), pins it,
  stops when it is empty, and unions it lazily into ``known``. The closure
  runs its own first round (the rules over the base, the path engine's
  transitive closures, the one-shot break) and then this loop; the
  increment is this loop seeded with the inserted delta. DRed's
  over-delete runs the same step plus a both-sides transitive extension;
  its re-derive pass runs the step once and hands restored facts to the
  increment.
* **One driver worklist** — :func:`_worklist` evaluates the same rules in
  the same semi-naive rounds over Python indexes, with zero Spark jobs. It
  closes ABoxes under SMALL_ABOX_QUADS and computes DRed's over-delete cone
  for deletions under DRED_TERMS_BOUND (there keyed on the whole term
  variant, so the cone follows every derivation out of the deleted facts).
* **owl:sameAs as connected components** — iterative min-label
  propagation, or a driver union-find (:func:`_union_find`) below
  SMALL_CC_EDGES, producing a canonical-id dictionary (B41).

No session configuration is changed at runtime: every pinned frame gets
fresh expression ids (:func:`pin_inference`), and the bounded driver probes
take in one job through the plan itself (:func:`_take_wide`).

Implemented rule subset (declared scope in SURVEY §2.2.5): rdfs2 (domain),
rdfs3 (range), rdfs5/7 (subPropertyOf), rdfs9/11 (subClassOf), rdfp3
(SymmetricProperty), rdfp4 (TransitiveProperty), rdfp8 (inverseOf),
rdfp12a/b (equivalentClass, as mutual subClassOf), rdfp13a/b
(equivalentProperty, as mutual subPropertyOf), rdfp1 (FunctionalProperty →
sameAs), rdfp2 (InverseFunctionalProperty → sameAs; both IRI-valued only —
literal identity is value equality, not sameAs), and the restriction rules
of ``owl-horst-optimized`` (round-5): rdfp14a/b (owl:hasValue, literal and
IRI values), rdfp15 (owl:someValuesFrom), rdfp16 (owl:allValuesFrom).
Derived sameAs integrates through the B41 query-time expansion
(symmetry/transitivity via connected components).
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.model import (OWL, QUAD_COLS, QUAD_SCHEMA,
                                               RDF_TYPE, RDFS)

SUBCLASS = RDFS + "subClassOf"
SUBPROP = RDFS + "subPropertyOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"
TRANSITIVE = OWL + "TransitiveProperty"
SYMMETRIC = OWL + "SymmetricProperty"
INVERSE = OWL + "inverseOf"
EQ_CLASS = OWL + "equivalentClass"
EQ_PROP = OWL + "equivalentProperty"
FUNCTIONAL = OWL + "FunctionalProperty"
INV_FUNCTIONAL = OWL + "InverseFunctionalProperty"
SAMEAS = OWL + "sameAs"
ON_PROPERTY = OWL + "onProperty"
HAS_VALUE = OWL + "hasValue"
SOME_VALUES = OWL + "someValuesFrom"
ALL_VALUES = OWL + "allValuesFrom"

TBOX_PREDS = (SUBCLASS, SUBPROP, DOMAIN, RANGE, INVERSE, EQ_CLASS, EQ_PROP,
              ON_PROPERTY, HAS_VALUE, SOME_VALUES, ALL_VALUES)

MAX_ITERS = 50


def _take_wide(df: DataFrame, n: int):
    """``df.limit(n).collect()`` as ONE job. executeTake's incremental
    partition scan (1, then 4x, ...) costs 3-4 jobs to drain a small
    frame spread over many partitions — the common case for the bounded
    driver probes here, which read already-checkpointed blocks (r12 opt,
    guide §1.2). Collected through the RDD, the limit runs as every
    partition's local limit plus one single-partition shuffle: one job,
    with no session conf touched."""
    return df.limit(n).rdd.collect()


def _is_tbox(p: str, o_lex) -> bool:
    """True for a fact that changes the :class:`Schema`."""
    return p in TBOX_PREDS or (p == RDF_TYPE and o_lex in (
        TRANSITIVE, SYMMETRIC, FUNCTIONAL, INV_FUNCTIONAL))


def _tbox_facts(df: DataFrame) -> DataFrame:
    """The rows of ``df`` that change the :class:`Schema` (:func:`_is_tbox`
    as a filter)."""
    return df.filter(F.col("p").isin(*TBOX_PREDS)
                     | ((F.col("p") == RDF_TYPE)
                        & F.col("o_lex").isin(TRANSITIVE, SYMMETRIC,
                                              FUNCTIONAL, INV_FUNCTIONAL)))

#: owl:AllDifferent list-walk driver probe bound: at most this many
#: distinctMembers heads (and 8x as many list-cell triples) are walked
#: driver-side; beyond it the distributed per-hop join walk runs instead.
#: Module-level so tests can force the distributed path on tiny data.
AD_LIST_BOUND = 500
#: DRed driver bound: deletions, over-delete cones and removed-term
#: vocabularies up to this size are held on the driver — the TBox probe
#: and the cone run on the worklist, and the re-derive candidate scan is
#: one InSet-predicate pass over the world (r11/r12 opt). Above it the
#: distributed key-frame and broadcast semi-join shapes run instead.
DRED_TERMS_BOUND = 20_000
INFERRED_GRAPH = "http://graph.inferred"


def _closure(pairs: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Reflexive-free transitive closure of a small driver-side relation."""
    out = set(pairs)
    changed = True
    while changed:
        changed = False
        for (a, b) in list(out):
            for (c, d) in list(out):
                if b == c and (a, d) not in out:
                    out.add((a, d))
                    changed = True
    return out


class Schema:
    """Driver-side TBox extracted from the quads table (or pre-collected
    rows — the small-ABox path collects once and reuses)."""

    def __init__(self, quads: DataFrame = None, tbox_rows=None):
        if tbox_rows is None:
            # The rdf:type leg is bounded to the four OWL property-class
            # objects the parse loop consumes — rdf:type is typically the
            # largest predicate in a real store, so collecting it
            # unrestricted would be a driver OOM at scale. This keeps the
            # collect O(TBox), independent of ABox type cardinality.
            tbox_rows = (_tbox_facts(quads)
                         .filter(F.col("o_dt").isNull()
                                 | (F.col("p") == HAS_VALUE))
                         .select("p", "s", "o_lex", "o_dt", "o_lang",
                                 "o_num", "o_ts").collect())
        tbox = tbox_rows
        # Observable for tests: how many rows the extractor actually pulled
        # to the driver (must be O(TBox), never O(ABox)).
        self.collected_rows = len(tbox)
        sc, sp, dom, rng, inv, trans, sym = set(), set(), set(), set(), set(), set(), set()
        func, invfunc = set(), set()
        # MULTI-valued restriction components (r9 fuzzer find): the rules
        # are instantiated per TRIPLE match, so a node with two hasValue
        # (or onProperty / someValuesFrom / allValuesFrom) triples yields
        # one rule instance per (onProperty x value) combination — a
        # last-row-wins dict silently dropped all but one, and WHICH one
        # depended on collect order (nondeterministic closure).
        on_prop: dict = {}            # restriction node -> {property}
        hv_raw: dict = {}             # restriction node -> {value tuple}
        sv_raw: dict = {}             # restriction node -> {class (IRI)}
        av_raw: dict = {}
        for row in tbox:
            p, s, o = row["p"], row["s"], row["o_lex"]
            if p == ON_PROPERTY:
                on_prop.setdefault(s, set()).add(o)
                continue
            if p == HAS_VALUE:
                hv_raw.setdefault(s, set()).add(
                    (row["o_lex"], row["o_dt"], row["o_lang"],
                     row["o_num"], row["o_ts"]))
                continue
            if p == SOME_VALUES:
                sv_raw.setdefault(s, set()).add(o)
                continue
            if p == ALL_VALUES:
                av_raw.setdefault(s, set()).add(o)
                continue
            if p == SUBCLASS and s != o:
                sc.add((s, o))
            elif p == SUBPROP and s != o:
                sp.add((s, o))
            elif p == EQ_CLASS and s != o:
                # rdfp12a/b: equivalentClass ⇒ subClassOf both ways — the
                # instance-level consequences (types propagate in both
                # directions) materialize through the subclass machinery
                sc.add((s, o))
                sc.add((o, s))
            elif p == EQ_PROP and s != o:
                # rdfp13a/b: equivalentProperty ⇒ subPropertyOf both ways
                sp.add((s, o))
                sp.add((o, s))
            elif p == DOMAIN:
                dom.add((s, o))
            elif p == RANGE:
                rng.add((s, o))
            elif p == INVERSE:
                inv.add((s, o))
                inv.add((o, s))
            elif p == RDF_TYPE and o == TRANSITIVE:
                trans.add(s)
            elif p == RDF_TYPE and o == SYMMETRIC:
                sym.add(s)
            elif p == RDF_TYPE and o == FUNCTIONAL:
                func.add(s)
            elif p == RDF_TYPE and o == INV_FUNCTIONAL:
                invfunc.add(s)
        self.subclass = _closure(sc)
        self.subprop = _closure(sp)
        self.domain = dom
        self.range = rng
        self.inverse = inv
        self.transitive = trans
        self.symmetric = sym
        self.functional = func
        self.inv_functional = invfunc
        # OWL restriction classes (rdfp14a/b, rdfp15, rdfp16): a restriction
        # node only acts once it has BOTH owl:onProperty and its value/class
        # side. The restriction class itself is a first-class class (it can
        # appear in subClassOf chains — composition happens through rdfs9).
        def _vkey(t):
            return tuple("" if x is None else str(x) for x in t)

        self.has_value = [(v, p, val)
                          for v, vals in sorted(hv_raw.items())
                          for p in sorted(on_prop.get(v, ()))
                          for val in sorted(vals, key=_vkey)]
        self.some_values = [(v, p, w)
                            for v, ws in sorted(sv_raw.items())
                            for p in sorted(on_prop.get(v, ()))
                            for w in sorted(ws)]
        self.all_values = [(v, p, w)
                           for v, ws in sorted(av_raw.items())
                           for p in sorted(on_prop.get(v, ()))
                           for w in sorted(ws)]



def _nulls():
    """The literal-shadow columns of an IRI-object quad."""
    return [F.lit(None).cast("string").alias("o_dt"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("double").alias("o_num"),
            F.lit(None).cast("timestamp").alias("o_ts")]


def _stepper(spark: SparkSession, schema: Schema, graph: str):
    """The one Spark rule step for a fixed (driver-closed) TBox.

    ``step(delta, known)`` returns every fact one rule application derives
    with at least one premise in ``delta`` (duplicates and known facts
    included — the caller subtracts them):

    * delta-only rules, broadcast joins of ``delta`` against TBox tables:
      rdfs9, rdfs7 (keeps literal shadows), rdfs2, rdfs3, rdfp8, rdfp3 and
      rdfp14a/b;
    * delta×known rules, joined in both directions: rdfp4 (skipped with
      ``chain=False`` — the closure's first round takes whole transitive
      closures from the path engine), rdfp1/2 and rdfp15/16.

    Empty rule tables are SKIPPED, not joined-with-empty: every emitted
    piece adds a stage to every downstream materialization of the union,
    and the loops re-materialize it per round (r9 DRed profile).
    """
    g = F.lit(graph)
    table = spark.createDataFrame
    sc_df = table(sorted(schema.subclass), "c1 string, c2 string")
    sp_df = table(sorted(schema.subprop), "p1 string, p2 string")
    dom_df = table(sorted(schema.domain), "dp string, dc string")
    rng_df = table(sorted(schema.range), "rp string, rc string")
    inv_df = table(sorted(schema.inverse), "ip1 string, ip2 string")
    hv_df = table([(v, p) + val for (v, p, val) in schema.has_value],
                  "hv string, hp string, w_lex string, w_dt string, "
                  "w_lang string, w_num double, w_ts timestamp")
    sv_df = table(schema.some_values, "v string, vp string, w string")
    av_df = table(schema.all_values, "v string, vp string, w string")
    # rdfp15: u p x & x type w => u type v  (joins on x, w; emits u, v)
    # rdfp16: u p x & u type v => x type w  (joins on u, v; emits x, w)
    restrictions = ([(sv_df, "x", "w", "u", "v")] if schema.some_values
                    else []) + ([(av_df, "u", "v", "x", "w")]
                                if schema.all_values else [])
    # rdfp1 joins functional facts on the subject, rdfp2 on the object
    same_as = ([(p, "s", "o_lex") for p in sorted(schema.functional)]
               + [(p, "o_lex", "s") for p in sorted(schema.inv_functional)])

    def iri_quad(df, s, p, o):
        return df.select(g.alias("g"), s.alias("s"), p.alias("p"),
                         o.alias("o_lex"), *_nulls())

    def edges(df, p, a, b, src="s", dst="o_lex"):
        return (df.filter((F.col("p") == p) & F.col("o_dt").isNull())
                .select(F.col(src).alias(a), F.col(dst).alias(b)))

    def rels(df):
        return df.filter(F.col("o_dt").isNull()).select(
            F.col("s").alias("u"), F.col("p").alias("rp"),
            F.col("o_lex").alias("x"))

    def typed(df):
        return df.filter(F.col("p") == RDF_TYPE).select(
            F.col("s").alias("i"), F.col("o_lex").alias("c"))

    def step(delta: DataFrame, known: DataFrame,
             chain: bool = True) -> DataFrame:
        pieces: list[DataFrame] = []
        iri_delta = delta.filter(F.col("o_dt").isNull())
        types = delta.filter(F.col("p") == RDF_TYPE)
        if schema.subclass:          # rdfs9: type(x,c1) & sc(c1,c2)
            pieces.append(iri_quad(
                types.join(F.broadcast(sc_df), types["o_lex"] == sc_df["c1"]),
                F.col("s"), F.lit(RDF_TYPE), F.col("c2")))
        if schema.subprop:           # rdfs7: rel(s,p1,o) & sp(p1,p2)
            pieces.append(
                delta.join(F.broadcast(sp_df), delta["p"] == sp_df["p1"])
                .select(g.alias("g"), "s", F.col("p2").alias("p"), "o_lex",
                        "o_dt", "o_lang", "o_num", "o_ts"))
        if schema.domain:            # rdfs2: rel(s,p,o) & dom(p,c)
            pieces.append(iri_quad(
                delta.join(F.broadcast(dom_df), delta["p"] == dom_df["dp"]),
                F.col("s"), F.lit(RDF_TYPE), F.col("dc")))
        if schema.range:             # rdfs3: IRI objects only
            pieces.append(iri_quad(
                iri_delta.join(F.broadcast(rng_df),
                               iri_delta["p"] == rng_df["rp"]),
                F.col("o_lex"), F.lit(RDF_TYPE), F.col("rc")))
        if schema.inverse:           # rdfp8: rel(s,p1,o) => rel(o,p2,s)
            pieces.append(iri_quad(
                iri_delta.join(F.broadcast(inv_df),
                               iri_delta["p"] == inv_df["ip1"]),
                F.col("o_lex"), F.col("ip2"), F.col("s")))
        if schema.symmetric:         # rdfp3
            pieces.append(iri_quad(
                iri_delta.filter(F.col("p").isin(*schema.symmetric)),
                F.col("o_lex"), F.col("p"), F.col("s")))
        if schema.has_value:
            # rdfp14a: u p w (value matches, literal or IRI) => type(u, v)
            hits = delta.join(
                F.broadcast(hv_df),
                (delta["p"] == hv_df["hp"])
                & (delta["o_lex"] == hv_df["w_lex"])
                & delta["o_dt"].eqNullSafe(hv_df["w_dt"])
                & delta["o_lang"].eqNullSafe(hv_df["w_lang"]))
            pieces.append(iri_quad(hits, F.col("s"), F.lit(RDF_TYPE),
                                   F.col("hv")))
            # rdfp14b: type(u, v) => u p w (carries the value's shadows)
            pieces.append(
                types.join(F.broadcast(hv_df), types["o_lex"] == hv_df["hv"])
                .select(g.alias("g"), "s", F.col("hp").alias("p"),
                        F.col("w_lex").alias("o_lex"),
                        F.col("w_dt").alias("o_dt"),
                        F.col("w_lang").alias("o_lang"),
                        F.col("w_num").alias("o_num"),
                        F.col("w_ts").alias("o_ts")))
        for p in sorted(schema.transitive) if chain else ():
            # rdfp4: delta edges extend known chains on both sides
            d, k = edges(delta, p, "ds", "do"), edges(known, p, "ks", "ko")
            fwd = d.join(k, F.col("do") == F.col("ks")).select(
                F.col("ds").alias("s"), F.col("ko").alias("o_lex"))
            bwd = k.join(d, F.col("ko") == F.col("ds")).select(
                F.col("ks").alias("s"), F.col("do").alias("o_lex"))
            pieces.append(iri_quad(fwd.unionByName(bwd).dropDuplicates(),
                                   F.col("s"), F.lit(p), F.col("o_lex")))
        for p, key, val in same_as:
            # rdfp1/rdfp2: colliding values are sameAs, both directions
            d = edges(delta, p, "dk", "dv", key, val)
            k = edges(known, p, "kk", "kv", key, val)
            hit = (d.join(k, F.col("dk") == F.col("kk"))
                   .filter(F.col("dv") != F.col("kv"))
                   .select(F.col("dv").alias("s"), F.col("kv").alias("o_lex")))
            both = hit.unionByName(hit.select(F.col("o_lex").alias("s"),
                                              F.col("s").alias("o_lex")))
            pieces.append(iri_quad(both.dropDuplicates(), F.col("s"),
                                   F.lit(SAMEAS), F.col("o_lex")))
        for tbl, node, cls, s, o in restrictions:
            # rdfp15/16: delta rels × known types + known rels × delta types
            for rel_side, type_side in ((rels(delta), typed(known)),
                                        (rels(known), typed(delta))):
                cand = rel_side.join(F.broadcast(tbl),
                                     rel_side["rp"] == tbl["vp"])
                hit = cand.join(type_side, (cand[node] == type_side["i"])
                                & (cand[cls] == type_side["c"]))
                pieces.append(iri_quad(hit, F.col(s), F.lit(RDF_TYPE),
                                       F.col(o)))
        if not pieces:
            # FRESH LocalRelation, not delta.filter(False): reusing delta's
            # attribute ids trips Spark 4.1's Union constraint rewrite
            # ("key not found: p#N") once the caller unions and pins it
            return spark.createDataFrame([], QUAD_SCHEMA)
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        return out.select(*QUAD_COLS)

    return step


def _anti_known(new: DataFrame, known: DataFrame) -> DataFrame:
    return (new.dropDuplicates(["s", "p", "o_lex", "o_dt", "o_lang"])
            .join(known.select("s", "p", "o_lex").withColumnRenamed("s", "__ks")
                  .withColumnRenamed("p", "__kp").withColumnRenamed("o_lex", "__ko"),
                  (F.col("s") == F.col("__ks")) & (F.col("p") == F.col("__kp"))
                  & (F.col("o_lex") == F.col("__ko")), "left_anti"))


def pin_inference(spark: SparkSession, df: DataFrame) -> DataFrame:
    """localCheckpoint an inference frame behind a renaming projection.

    A checkpointed relation carries the constraints Spark inferred for its
    source plan. Under a Union of rule pieces those can name an attribute
    that differs from the output column only in nullability (a literal
    ``p`` beside nullable ones); the relation's id rewrites match
    attributes exactly, so once the optimizer renumbers the output or the
    relation is re-instantiated (the same frame twice in one plan), the
    constraint keeps an id the relation no longer outputs, and Spark
    4.1's Union constraint rewrite throws "key not found". Checkpointing
    under temporary names and renaming back puts a projection the
    optimizer cannot drop over the relation, and a projection passes on
    only constraints over its own output — a fix inside the plan, so no
    session conf is switched off around it."""
    cols = df.columns
    return (df.select([F.col(c).alias("__pin_" + c) for c in cols])
            .localCheckpoint()
            .select([F.col("__pin_" + c).alias(c) for c in cols]))


def _round(spark: SparkSession, new: DataFrame,
           known: DataFrame) -> DataFrame | None:
    """One semi-naive round's bookkeeping: the candidates whose
    ``(s, p, o_lex)`` is not yet known, pinned; ``None`` when none is."""
    new = pin_inference(spark, _anti_known(new, known))
    return None if new.isEmpty() else new


def _semi_naive(spark: SparkSession, step, delta: DataFrame,
                known: DataFrame) -> DataFrame | None:
    """The one semi-naive fixpoint: apply ``step`` to the last round's new
    facts until a round derives nothing. ``known`` grows as a LAZY union
    of pinned pieces (r11 opt, guide §2.4): re-checkpointing known ∪ new
    copied the whole closure every round, and each piece is pinned, so
    scanning the union reads blocks without recomputation. Returns the
    lazy union of every new fact, or ``None`` when there is none."""
    inferred = None
    for _ in range(MAX_ITERS):
        new = _round(spark, step(delta, known), known)
        if new is None:
            return inferred
        inferred = new if inferred is None else inferred.unionByName(new)
        known = known.unionByName(new)
        delta = new
    raise RuntimeError(f"inference did not converge in {MAX_ITERS} iterations")


#: below this quad count the whole forward-chaining fixpoint runs on the
#: driver worklist. A Spark fixpoint over a few thousand rows is pure
#: job-scheduling overhead (the same adaptive philosophy as
#: paths.SMALL_GRAPH_EDGES and the engine's ENCODE_MIN_QUADS); the
#: distributed path is for ABoxes that need it.
SMALL_ABOX_QUADS = 50_000
#: safety valve: if the driver-side closure blows past this many inferred
#: facts (pathological transitive chains), abandon it and run distributed.
SMALL_ABOX_MAX_INFERRED = 2_000_000


def _delta_only_rules(schema: Schema) -> bool:
    """True when every rule the schema can fire is a pure delta×TBox rule
    (rdfs2/3/7/9, rdfp3/8/14a/14b) — computable from a fact and the
    driver-closed schema alone. The transitive / functional / restriction
    (rdfp15/16) rules join against the KNOWN world."""
    return not (schema.transitive or schema.functional
                or schema.inv_functional or schema.some_values
                or schema.all_values)


def _worklist(schema: Schema, seed_rows, bound: int,
              exact: bool = False) -> list | None:
    """The one driver-side Horst evaluator: the rules of :func:`_stepper`
    in the rounds of :func:`_semi_naive`, over Python indexes — zero Spark
    jobs. Because ``schema.subclass`` / ``subprop`` are transitively
    closed, the round count is the rule INTERACTION depth, not the
    hierarchy depth.

    ``seed_rows`` are ``(s, p, o_lex, o_dt, o_lang, o_num, o_ts)`` facts.
    Every distinct one is known and fires its rules: two seeds that differ
    only in o_dt/o_lang match different rules. A derived fact is new when
    its ``(s, p, o_lex)`` key is — the newness key of :func:`_anti_known`
    — and every variant of a key first derived in one round is kept, as
    the distributed anti-join keeps them. With ``exact`` the newness key
    is the whole ``(s, p, o_lex, o_dt, o_lang)`` variant instead. Returns
    the derived facts, or ``None`` once more than ``bound`` are derived
    (the caller falls back to Spark).

    Serves the small-ABox closure (seeds: the whole base) and DRed's
    over-delete cone (seeds: the deleted facts; only when
    :func:`_delta_only_rules`, since the delta×known rules need the
    whole world in the indexes). The cone runs ``exact``: it must follow
    every derivation chain out of the seeds, and a seed or earlier cone
    fact that merely shares a derived fact's key (an IRI vs a literal
    object, or two literal tags) does not make that fact's own rules
    fire. It is a sound over-approximation: anything over-deleted beyond
    the true cone is restored by re-derive.
    """
    def index(pairs):
        out: dict = {}
        for a, b in pairs:
            out.setdefault(a, []).append(b)
        return out

    sc, sp = index(schema.subclass), index(schema.subprop)
    dom, rng, inv = (index(schema.domain), index(schema.range),
                     index(schema.inverse))
    hv_by_val = index(((p,) + val[:3], v) for v, p, val in schema.has_value)
    hv_by_class = index((v, (p, val)) for v, p, val in schema.has_value)
    sv_by_prop = index((p, (v, w)) for v, p, w in schema.some_values)
    sv_by_class = index((w, (v, p)) for v, p, w in schema.some_values)
    av_by_prop = index((p, (v, w)) for v, p, w in schema.all_values)
    av_by_class = index((v, (p, w)) for v, p, w in schema.all_values)
    joined = (schema.transitive | schema.functional | schema.inv_functional
              | set(sv_by_prop) | set(av_by_prop))
    fwd: dict = {p: {} for p in joined}     # p -> s -> {o}  (IRI objects)
    bwd: dict = {p: {} for p in joined}     # p -> o -> {s}
    types_of: dict = {}                     # node -> {class}
    width = 5 if exact else 3               # the newness key
    known: set = set()                      # f[:width] of every known f
    fresh: dict = {}                        # this round's new facts
    nulls = (None, None, None, None)

    def learn(f):
        s, p, o, dt = f[:4]
        known.add(f[:width])
        if dt is None and p in fwd:
            fwd[p].setdefault(s, set()).add(o)
            bwd[p].setdefault(o, set()).add(s)
        if dt is None and p == RDF_TYPE:
            types_of.setdefault(s, set()).add(o)

    def emit(s, p, o, shadow=nulls):
        f = (s, p, o) + shadow
        if f[:width] not in known:
            fresh[f] = None

    def fire(f):
        s, p, o, dt, lang = f[:5]
        for v in hv_by_val.get((p, o, dt, lang), ()):       # rdfp14a
            emit(s, RDF_TYPE, v)
        if p == RDF_TYPE:
            for c in sc.get(o, ()):                         # rdfs9
                emit(s, RDF_TYPE, c)
            for hp, val in hv_by_class.get(o, ()):          # rdfp14b
                emit(s, hp, val[0], val[1:])
            for v, rp in sv_by_class.get(o, ()):            # rdfp15 (type)
                for u in bwd[rp].get(s, ()):
                    emit(u, RDF_TYPE, v)
            for rp, w in av_by_class.get(o, ()):            # rdfp16 (type)
                for x in fwd[rp].get(s, ()):
                    emit(x, RDF_TYPE, w)
        for p2 in sp.get(p, ()):                            # rdfs7
            emit(s, p2, o, f[3:])
        for c in dom.get(p, ()):                            # rdfs2
            emit(s, RDF_TYPE, c)
        if dt is not None:
            return
        for c in rng.get(p, ()):                            # rdfs3
            emit(o, RDF_TYPE, c)
        for p2 in inv.get(p, ()):                           # rdfp8
            emit(o, p2, s)
        if p in schema.symmetric:                           # rdfp3
            emit(o, p, s)
        if p in schema.transitive:                          # rdfp4
            for x in fwd[p].get(o, ()):
                emit(s, p, x)
            for y in bwd[p].get(s, ()):
                emit(y, p, o)
        if p in schema.functional:                          # rdfp1
            for other in fwd[p].get(s, ()):
                if other != o:
                    emit(o, SAMEAS, other)
                    emit(other, SAMEAS, o)
        if p in schema.inv_functional:                      # rdfp2
            for other in bwd[p].get(o, ()):
                if other != s:
                    emit(s, SAMEAS, other)
                    emit(other, SAMEAS, s)
        for v, w in sv_by_prop.get(p, ()):                  # rdfp15 (rel)
            if w in types_of.get(o, ()):
                emit(s, RDF_TYPE, v)
        for v, w in av_by_prop.get(p, ()):                  # rdfp16 (rel)
            if v in types_of.get(s, ()):
                emit(o, RDF_TYPE, w)

    frontier = list(dict.fromkeys(seed_rows))
    derived: list = []
    while frontier:
        for f in frontier:
            learn(f)
        for f in frontier:
            fire(f)
            if len(derived) + len(fresh) > bound:
                return None
        frontier = list(fresh)
        fresh.clear()
        derived += frontier
    return derived


def owl_horst_closure(spark: SparkSession, quads: DataFrame,
                      graph: str = INFERRED_GRAPH) -> DataFrame:
    """Materialize the OWL-Horst-subset closure; returns ONLY inferred quads.

    Queries then read ``quads ∪ inferred`` (SURVEY §1.4 'quads_inferred').
    """
    # bounded COUNT first (r11 opt): it moves no rows, and it is probed up
    # to the repartition threshold so the distributed path reuses the
    # number instead of re-counting the pinned base (r12 opt)
    n_probe = quads.limit(_CLOSURE_SMALL_PARTS_ROWS + 1).count()
    if n_probe <= SMALL_ABOX_QUADS:
        head = quads.select(*QUAD_COLS[1:]).collect()    # all but g
        schema = Schema(tbox_rows=[
            r for r in head if _is_tbox(r["p"], r["o_lex"])
            and (r["o_dt"] is None or r["p"] == HAS_VALUE)])
        got = _worklist(schema, [tuple(r) for r in head],
                        SMALL_ABOX_MAX_INFERRED)
        if got is not None:
            return spark.createDataFrame([(graph,) + f for f in got],
                                         QUAD_SCHEMA)
    schema = Schema(quads)
    # One-shot closure (r12 opt): when the only rules are rdfs2/3/7/9 over
    # the driver-CLOSED subclass/subprop relations, and rdf:type is neither
    # a subproperty endpoint nor a domain/range key (either would re-fire
    # rules on the types they emit), every derivation normal-forms to
    # base →(sp*) rel →(dom/rng) type →(sc*) type. Pre-composing
    # domain/range across sp* and sc* on the driver makes ONE rule
    # application complete, so the confirm round (a full re-derivation
    # that learns "nothing new") is skipped.
    one_shot = (_delta_only_rules(schema) and not schema.inverse
                and not schema.symmetric and not schema.has_value
                and RDF_TYPE not in {x for pair in schema.subprop
                                     for x in pair}
                and RDF_TYPE not in {p for p, _ in
                                     schema.domain | schema.range})
    if one_shot and (schema.domain or schema.range):
        def _compose(tbl):
            # p1 ⊑* p2 fires p2's domain/range on p1-facts …
            eff = set(tbl)
            eff |= {(p1, c) for (p1, p2) in schema.subprop
                    for (p, c) in tbl if p == p2}
            # … and an emitted type(x, c) implies every sc*-supertype
            eff |= {(p, c2) for (p, c) in eff
                    for (c1, c2) in schema.subclass if c1 == c}
            return eff
        schema = copy.copy(schema)
        schema.domain = _compose(schema.domain)
        schema.range = _compose(schema.range)
    step = _stepper(spark, schema, graph)

    # small ABoxes don't amortize wide shuffles per round (cf. paths.py)
    known = quads.select(*QUAD_COLS)
    if n_probe < _CLOSURE_SMALL_PARTS_ROWS:
        known = known.repartition(4)
    known = known.localCheckpoint()
    # first round: the rules over the base, with rdfp4 taken as whole
    # per-property closures of the IRI-object edges from the path engine
    # (a p+ path would also end at literals, which rdfp4 never chains to)
    first = step(known, known, chain=False)
    if schema.transitive:
        from graphdb_free_mocha_sa_spark.operators.paths import (
            _link, transitive_closure)
        iri_edges = quads.filter(F.col("o_dt").isNull())
        for p in sorted(schema.transitive):
            closed = transitive_closure(_link(iri_edges, p, None))
            first = first.unionByName(closed.select(
                F.lit(graph).alias("g"), F.col("s"), F.lit(p).alias("p"),
                F.col("o__lex").alias("o_lex"), F.col("o__dt").alias("o_dt"),
                F.col("o__lang").alias("o_lang"),
                F.col("o__num").alias("o_num"), F.col("o__ts").alias("o_ts")))
    inferred = _round(spark, first, known)
    if inferred is None:
        return spark.createDataFrame([], QUAD_SCHEMA)
    if not one_shot:
        # later rounds chain transitive edges DERIVED by the fixpoint
        # (via subPropertyOf / inverseOf / symmetry) through step's rdfp4
        more = _semi_naive(spark, step, inferred,
                           known.unionByName(inferred))
        if more is not None:
            inferred = inferred.unionByName(more)
    # Pin the final closure (r11 opt, guide §5): every later reader (each
    # query over df_with_inference, every DRed scan of `inferred`) would
    # otherwise re-run this dedup shuffle.
    return pin_inference(spark, inferred.dropDuplicates(
        ["s", "p", "o_lex", "o_dt", "o_lang"]))


#: below this base size the fixpoint narrows to 4 partitions (wide shuffles
#: don't amortize); also the bound of the closure entry probe, so the body
#: can reuse the probed count instead of re-counting
_CLOSURE_SMALL_PARTS_ROWS = 100_000


def owl_horst_increment(spark: SparkSession, base: DataFrame,
                        inferred: DataFrame, delta: DataFrame,
                        graph: str = INFERRED_GRAPH) -> DataFrame | None:
    """Incremental closure maintenance for a streaming ABox delta (EP2
    parity: the reference appends statements + incremental inference,
    SURVEY §3 EP2 step 3).

    Returns the NEW inferred quads derivable from ``delta`` against the
    existing ``base ∪ inferred`` closure (an empty frame when there are
    none), or ``None`` when the delta touches the TBox (schema change ⇒
    caller re-materializes from scratch — the standard practical
    compromise; rules may invalidate, not just extend). Work per
    micro-batch is proportional to the delta's consequences, never to the
    full ABox.
    """
    if not _tbox_facts(delta).isEmpty():
        return None
    known = base.select(*QUAD_COLS)
    if inferred is not None:
        known = known.unionByName(inferred.select(*QUAD_COLS))
    step = _stepper(spark, Schema(known), graph)
    # the delta facts are part of the known world (delta×delta chains must
    # resolve, and delta facts themselves are base data, not inferences)
    d = delta.select(*QUAD_COLS).localCheckpoint()
    new = _semi_naive(spark, step, d, known.unionByName(d))
    return new if new is not None else spark.createDataFrame([], QUAD_SCHEMA)


def _anti_known_bigside(new: DataFrame, known: DataFrame) -> DataFrame:
    """`new` is SMALL, `known` is BIG: plain left_anti would sort-merge
    the big side — probe `known` with the broadcast keys instead, then
    broadcast-anti the (small) present set. Two scans of `known`'s plan,
    zero shuffles of it."""
    new = new.dropDuplicates(["s", "p", "o_lex", "o_dt", "o_lang"]) \
             .localCheckpoint()
    keys = new.select("s", "p", "o_lex").dropDuplicates()
    # pres has exactly ONE consumer (the broadcast build of the anti join
    # below) — no checkpoint needed; it computes inline as that join's
    # build stage (r12 opt: the eager pin here cost ~4 jobs per decrement)
    pres = (known.select("s", "p", "o_lex")
            .join(F.broadcast(keys), ["s", "p", "o_lex"], "left_semi")
            .dropDuplicates()
            .select(F.col("s").alias("__ks"), F.col("p").alias("__kp"),
                    F.col("o_lex").alias("__ko")))
    return new.join(
        F.broadcast(pres),
        (F.col("s") == F.col("__ks")) & (F.col("p") == F.col("__kp"))
        & (F.col("o_lex") == F.col("__ko")), "left_anti")


def owl_horst_decrement(spark: SparkSession, base_after: DataFrame,
                        inferred: DataFrame, deleted: DataFrame,
                        graph: str = INFERRED_GRAPH,
                        deleted_pinned: bool = False) -> DataFrame | None:
    """DRed (delete/re-derive) maintenance of the closure after an ABox
    deletion (r8, VERDICT item 3: full re-materialization is the dominant
    update cost at 100× ABox).

    1. **Over-delete**: the semi-naive fixpoint of "consequences with at
       least one premise in the deleted set" against the OLD world —
       work proportional to the deleted facts' consequence cone, never
       the full ABox.
    2. **Re-derive**: over-deleted facts still derivable from the
       surviving world come back. One bounded step (every Horst premise
       shares a term with its conclusion, so candidate premises are the
       semi-join of the surviving world against the over-deleted terms),
       then the existing :func:`owl_horst_increment` propagates chains.

    Returns the new inferred frame, or ``None`` when the deletion touches
    the TBox (schema shrink can invalidate rule instances globally — the
    caller re-materializes, the same compromise as the insert path).
    GraphDB-parity note: a deleted EXPLICIT statement that is still
    derivable from the surviving facts re-appears as inferred (smooth
    delete), which this reproduces because re-derivation is checked
    against the post-delete world, not restricted to old inferences.
    """
    # Pin the deleted set ONCE up front (r11 opt): callers pass a lazy
    # anti-join ("triples whose last copy went away") that every phase
    # scans. Callers that already pinned it (the store's delete path) say
    # so and skip the re-checkpoint.
    if not deleted_pinned:
        deleted = deleted.select(*QUAD_COLS).localCheckpoint()
    # Bounded driver view of the deleted facts (r12 opt): while it fits
    # DRED_TERMS_BOUND, the TBox probe is a Python check (no isEmpty job)
    # and the rows seed the driver cone below.
    d_rows = [tuple(r) for r in _take_wide(deleted.select(*QUAD_COLS[1:]),
                                           DRED_TERMS_BOUND + 1)]
    if len(d_rows) > DRED_TERMS_BOUND:
        d_rows = None
        if not _tbox_facts(deleted).isEmpty():
            return None
    elif any(_is_tbox(f[1], f[2]) for f in d_rows):
        return None
    inferred = (inferred.select(*QUAD_COLS) if inferred is not None
                else spark.createDataFrame([], QUAD_SCHEMA))
    base_after = base_after.select(*QUAD_COLS)
    d = deleted.select(*QUAD_COLS)
    old_known = base_after.unionByName(inferred).unionByName(d)
    schema = Schema(old_known)          # TBox unchanged by this delete
    step = _stepper(spark, schema, graph)

    # ---- 1. over-delete: only INFERRED facts can be over-deleted. The
    # cone is small and the closure is big, so the closure is probed with
    # broadcast cone keys (a small-left left_semi against a big right
    # would sort-merge the whole closure — measured 3x the wall).
    terms = None
    cone = None
    if d_rows is not None and _delta_only_rules(schema):
        # driver cone (r12 opt): the fixpoint runs on the worklist and
        # the closure is probed ONCE with the final key set
        cone = _worklist(schema, d_rows, DRED_TERMS_BOUND, exact=True)
    if cone is not None:
        over = None
        keys = sorted({f[:3] for f in cone})
        if keys:
            ck = spark.createDataFrame(keys,
                                       "s string, p string, o_lex string")
            cons = inferred.join(F.broadcast(ck), ["s", "p", "o_lex"],
                                 "left_semi").localCheckpoint()
            if not cons.isEmpty():
                over = cons
        # the removed vocabulary is already in memory: `over` rows are
        # cone-keyed, so the cone and seed terms cover them (a superset
        # only widens the re-derive candidates) — zero jobs
        rows = cone + d_rows
        terms = (sorted({t for f in rows for t in (f[0], f[2])}),
                 sorted({f[0] for f in rows}))
    else:
        over = _over_delete(spark, schema, step, d, old_known, inferred,
                            graph)

    if over is None:
        remaining = inferred
    else:
        # LAZY on purpose: `over` is a pinned handful of rows, so the
        # anti-join is a broadcast filter each reader pays in microseconds
        # — re-materializing the full closure here made DRed cost as much
        # as re-materialization (measured r8). The store bounds lineage
        # depth by re-pinning after a few decrements (pin_inference).
        remaining = _anti_known(inferred, over)
    new_known = base_after.unionByName(remaining)

    # ---- 2. re-derive: candidate premises share a term with a removed
    # fact (true for every Horst rule), so the step is bounded by the
    # removed facts' neighborhood, not the ABox. The removed set includes
    # the DELETED base facts — a deleted explicit statement still
    # derivable from the survivors re-appears as inferred (smooth delete).
    # An object-side match is only ever needed against a removed fact's
    # SUBJECT (rdfs3 range, functional sameAs), never its object: matching
    # objects on every removed term would pull in every instance of a
    # removed TYPE's class — the whole ABox for high-degree classes.
    # Subject-side matches may need any removed term (symmetric/inverse
    # conclusions flip s and o).
    if terms is None:
        removed = d if over is None else over.unionByName(d)
        # Bounded driver fast path (r11 opt, guide §6 predicate pushdown):
        # ONE pass over the world with two InSet predicates instead of two
        # semi-join scans plus a dedup shuffle. The subject-term flag rides
        # on the same collect (r12 opt).
        t_rows = _take_wide(
            removed.select(F.col("s").alias("t"), F.lit(1).alias("is_s"))
            .unionByName(removed.filter(F.col("o_dt").isNull())
                         .select(F.col("o_lex").alias("t"),
                                 F.lit(0).alias("is_s")))
            .groupBy("t").agg(F.max("is_s").alias("is_s")),
            DRED_TERMS_BOUND + 1)
        if len(t_rows) <= DRED_TERMS_BOUND:
            terms = ([r["t"] for r in t_rows],
                     [r["t"] for r in t_rows if r["is_s"] == 1])
        else:
            # over the bound: broadcast semi-joins, never a sort-merge
            # (r9 profile: 7.0 s -> sub-second)
            all_t = (removed.select(F.col("s").alias("t"))
                     .unionByName(removed.filter(F.col("o_dt").isNull())
                                  .select(F.col("o_lex").alias("t")))
                     .dropDuplicates())
            subj_t = removed.select(F.col("s").alias("t")).dropDuplicates()
            cand = (new_known.join(F.broadcast(all_t),
                                   F.col("s") == F.col("t"), "left_semi")
                    .unionByName(new_known.join(F.broadcast(subj_t),
                                                F.col("o_lex") == F.col("t"),
                                                "left_semi"))
                    .dropDuplicates(["g", "s", "p", "o_lex", "o_dt",
                                     "o_lang"]))
    if terms is not None:
        all_terms, s_terms = terms
        cand = new_known.filter(
            F.col("s").isin(all_terms)
            | (F.col("o_lex").isin(s_terms) if s_terms else F.lit(False)))
    # PIN the candidates before fanning them into the rule union: every
    # rule branch references `cand`, and unpinned it re-computes its scan
    # of the FULL new_known per branch (r9 profile: 15.2 s of a 19.5 s
    # decrement; 2.6 s after the pin)
    cand = pin_inference(spark, cand)
    restored = pin_inference(spark, _anti_known_bigside(
        step(cand, new_known), new_known))
    if restored.isEmpty():
        return remaining
    out = remaining.unionByName(restored)
    # restored facts may support further restorations — standard increment
    more = owl_horst_increment(spark, base_after, out, restored, graph)
    if more is not None:
        out = out.unionByName(_anti_known(more, base_after.unionByName(out)))
    return pin_inference(spark, out.dropDuplicates(
        ["s", "p", "o_lex", "o_dt", "o_lang"]))


def _over_delete(spark: SparkSession, schema: Schema, step, d: DataFrame,
                 old_known: DataFrame, inferred: DataFrame,
                 graph: str) -> DataFrame | None:
    """DRed's distributed over-delete fixpoint: the inferred facts with a
    premise in the deleted set ``d``, or ``None``. ``over`` accumulates
    as a LAZY union of pinned pieces (r11 opt, guide §2.4). The
    per-round cone KEYS are held as a DRIVER set while they fit
    DRED_TERMS_BOUND (r11 opt): the convergence subtraction and emptiness
    test become Python set ops, and the closure probe gets its broadcast
    keys from a LocalRelation. Overflow degrades to the distributed
    key-frame shape (checkpoint + anti-join), the right plan for a
    genuinely huge cone."""
    g = F.lit(graph)

    def cone_step(delta: DataFrame, known: DataFrame) -> DataFrame:
        new = step(delta, known)
        for p in sorted(schema.transitive):
            # a deleted transitive edge's cone is known* ⋈ d ⋈ known* —
            # the BOTH-side extension in one pass collapses the loop from
            # O(chain) to 2 rounds (the closure contains every sub-chain,
            # so one hop each side over it reaches every crossing pair)
            dd = delta.filter((F.col("p") == p) & F.col("o_dt").isNull()) \
                .select(F.col("s").alias("ds"), F.col("o_lex").alias("do"))
            k = known.filter((F.col("p") == p) & F.col("o_dt").isNull()) \
                .select(F.col("s").alias("ks"), F.col("o_lex").alias("ko"))
            k2 = k.select(F.col("ks").alias("ks2"), F.col("ko").alias("ko2"))
            new = new.unionByName(
                k.join(dd, F.col("ko") == F.col("ds"))
                .join(k2, F.col("do") == F.col("ks2"))
                .select(g.alias("g"), F.col("ks").alias("s"),
                        F.lit(p).alias("p"), F.col("ko2").alias("o_lex"),
                        *_nulls()))
        return new

    over = None
    over_keys: set | None = set()
    for _ in range(MAX_ITERS):
        ck = cone_step(d, old_known).select("s", "p", "o_lex").dropDuplicates()
        if over_keys is not None:
            head = _take_wide(ck, DRED_TERMS_BOUND + 1)
            if len(head) <= DRED_TERMS_BOUND:
                fresh = sorted({(r["s"], r["p"], r["o_lex"])
                                for r in head} - over_keys)
                if not fresh:
                    break
                over_keys.update(fresh)
                ck = spark.createDataFrame(
                    fresh, "s string, p string, o_lex string")
            else:
                over_keys = None        # cone outgrew the driver bound
        if over_keys is None:
            if over is not None:
                # subtract already-over-deleted keys BEFORE the closure
                # probe, so the convergence round terminates on the tiny
                # pinned key set (r9 profile: the confirm round cost a
                # 540k-row semi scan + checkpoint to learn "nothing new")
                ck = _anti_known(
                    ck.withColumns({"o_dt": F.lit(None).cast("string"),
                                    "o_lang": F.lit(None).cast("string")}),
                    over).select("s", "p", "o_lex")
            ck = ck.localCheckpoint()
            if ck.isEmpty():
                break
        cons = inferred.join(F.broadcast(ck), ["s", "p", "o_lex"],
                             "left_semi").localCheckpoint()
        if cons.isEmpty():
            break
        over = cons if over is None else over.unionByName(cons)
        d = cons
    else:
        raise RuntimeError(
            f"DRed over-delete did not converge in {MAX_ITERS} iterations")
    return over


def expand_sameas(quads: DataFrame, comp: DataFrame) -> DataFrame:
    """owl:sameAs expansion on read (B41 → query answering; reference:
    ``owlim:disable-sameAs "false"``, repo-config.ttl:45 — GraphDB answers
    queries over the sameAs-merged graph, enumerating every equivalent IRI).

    ``comp`` is the (term, canon) equivalence dictionary from
    :func:`sameas_components`. Every quad becomes visible with its subject /
    IRI-object replaced by EACH member of the respective equivalence class
    (identity included); terms outside any class pass through untouched.
    Output is deduplicated (RDF set semantics — two members may assert the
    same triple).

    Scale shape: two equi-joins against the class dictionary per position
    (broadcast when cliques are small — the usual case) + one dedup shuffle;
    expansion factor is bounded by clique size, never all-pairs.
    """
    mem = comp.select(F.col("canon").alias("__c"), F.col("term").alias("__m"))

    s_map = comp.select(F.col("term").alias("s"), F.col("canon").alias("__c"))
    touched = (quads.join(s_map, "s").join(mem, "__c")
               .withColumn("s", F.col("__m")).drop("__c", "__m"))
    untouched = quads.join(s_map.select("s"), "s", "left_anti")
    q2 = touched.select(*QUAD_COLS).unionByName(untouched.select(*QUAD_COLS))

    o_map = comp.select(F.col("term").alias("o_lex"), F.col("canon").alias("__c"))
    iris = q2.filter(F.col("o_dt").isNull())
    lits = q2.filter(F.col("o_dt").isNotNull())
    o_touched = (iris.join(o_map, "o_lex").join(mem, "__c")
                 .withColumn("o_lex", F.col("__m")).drop("__c", "__m"))
    o_untouched = iris.join(o_map.select("o_lex"), "o_lex", "left_anti")
    out = (o_touched.select(*QUAD_COLS)
           .unionByName(o_untouched.select(*QUAD_COLS))
           .unionByName(lits.select(*QUAD_COLS)))
    return out.dropDuplicates(["g", "s", "p", "o_lex", "o_dt", "o_lang"])


#: iteration count of the last sameas_components run (observability for
#: the bounded-latency incremental-maintenance tests)
LAST_CC_ITERS = 0


#: driver fast-path bound for sameAs connected components: below this many
#: (symmetrized) edges a union-find on the driver replaces the Pregel
#: fixpoint — same dictionary, ~20 Spark jobs fewer. Same pattern and
#: justification as paths.SMALL_GRAPH_EDGES: the collect is bounded by the
#: probe, and the distributed fixpoint remains the ONLY path above the
#: bound (100 TB sameAs sets never hit the driver). Added r10: the B42
#: commit gate runs consistency_violations per checked update, and the
#: fixpoint dominated its latency on small stores (~20 s -> ~5 s).
SMALL_CC_EDGES = 2000


def _union_find(edges) -> dict:
    """Driver connected components of an undirected edge list:
    ``{term: canon}`` with the canon the min member of its class — the
    same dictionary as the distributed min-label propagation."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    return {m: c for members in comp.values()
            for c in (min(members),) for m in members}


def sameas_components(spark: SparkSession, quads: DataFrame,
                      seed: DataFrame | None = None,
                      small_path: bool = True) -> DataFrame:
    """owl:sameAs equivalence classes via iterative min-label propagation.

    Returns ``(term STRING, canon STRING)`` — the canonical-id dictionary
    (B41); expand-on-read joins against it. Classic Pregel connected
    components: each node adopts the min canonical id among itself and its
    neighbours until fixpoint.

    ``seed`` (incremental maintenance, VERDICT r4 item 7): the previous
    (term, canon) dictionary. Its classes are injected as STAR edges
    (member ↔ old canon) and its labels seed the propagation, so an
    append-only delta that merges existing classes converges in O(1)
    iterations (≈3: bridge endpoint → old canon → rest of the class via
    the star) instead of re-walking the component diameter per micro-batch.
    Only valid for append-only transitions — a sameAs DELETE can split a
    class, which seeding would keep merged (callers rebuild from scratch
    after destructive ops)."""
    global LAST_CC_ITERS
    edges = (quads.filter((F.col("p") == SAMEAS) & F.col("o_dt").isNull())
             .select(F.col("s").alias("a"), F.col("o_lex").alias("b")))
    if seed is not None:
        star = seed.filter(F.col("term") != F.col("canon")) \
                   .select(F.col("term").alias("a"), F.col("canon").alias("b"))
        edges = edges.unionByName(star)
    edges = edges.unionByName(edges.select(F.col("b").alias("a"),
                                           F.col("a").alias("b"))) \
                 .dropDuplicates()
    if small_path:
        # probe + fetch in ONE bounded job: len(rows) > bound means the
        # graph is big — fall through to the checkpointed fixpoint
        rows = _take_wide(edges, SMALL_CC_EDGES + 1)
        if len(rows) <= SMALL_CC_EDGES:
            canon = _union_find((r["a"], r["b"]) for r in rows)
            LAST_CC_ITERS = 0
            return spark.createDataFrame(list(canon.items()),
                                         "term string, canon string")
    edges = edges.localCheckpoint()   # pin: re-read every fixpoint iter
    labels = (edges.select(F.col("a").alias("term"))
              .dropDuplicates()
              .withColumn("canon", F.col("term")))
    if seed is not None:
        labels = (labels.drop("canon")
                  .join(seed.withColumnRenamed("canon", "__seed"),
                        "term", "left_outer")
                  .select("term", F.coalesce(F.col("__seed"), F.col("term"))
                          .alias("canon")))
    for i in range(MAX_ITERS):
        neigh = (edges.join(labels, edges["b"] == labels["term"])
                 .groupBy(F.col("a").alias("term"))
                 .agg(F.min("canon").alias("ncanon")))
        merged = (labels.join(neigh, "term", "left_outer")
                  .select("term", F.least(F.col("canon"), F.coalesce(F.col("ncanon"), F.col("canon")))
                          .alias("canon")))
        merged = merged.localCheckpoint()
        changed = (merged.alias("m").join(labels.alias("l"), "term")
                   .filter(F.col("m.canon") != F.col("l.canon")))
        if changed.isEmpty():
            LAST_CC_ITERS = i + 1
            return merged
        labels = merged
    raise RuntimeError("sameAs components did not converge")


# --------------------------------------------------------------------------
# B42 — consistency checking
# --------------------------------------------------------------------------

DIFFERENT = OWL + "differentFrom"
DISJOINT = OWL + "disjointWith"
COMPLEMENT = OWL + "complementOf"
NOTHING = OWL + "Nothing"
DISTINCT_MEMBERS = OWL + "distinctMembers"
_RDF = RDF_TYPE.rsplit("#", 1)[0] + "#"
RDF_FIRST = _RDF + "first"
RDF_REST = _RDF + "rest"
RDF_NIL = _RDF + "nil"


def _canon_fn(spark: SparkSession, quads: DataFrame):
    """sameAs canon dictionary + a column canonizer over it (shared by the
    full and delta consistency checks). The dictionary is pinned and, when
    bounded, BROADCAST into every canonize join — the frames being
    canonized (the full type slice) are the scale-bearing side; shuffling
    them to meet a dictionary of a few thousand sameAs members would
    invert the join. An over-bound dictionary falls back to a shuffle
    join, which is then the right plan."""
    canon = sameas_components(spark, quads)
    if LAST_CC_ITERS == 0:
        # driver union-find path: the dictionary is a LocalRelation —
        # provably bounded (SMALL_CC_EDGES), broadcastable, and pinning
        # it would only ADD a checkpoint job (r11 opt)
        small_dict = True
    else:
        canon = canon.localCheckpoint()
        small_dict = len(_take_wide(canon, 100_001)) <= 100_000

    def canonize(df: DataFrame, col: str) -> DataFrame:
        tag = "__c_" + col
        d = canon.select(F.col("term").alias(col),
                         F.col("canon").alias(tag))
        if small_dict:
            d = F.broadcast(d)
        return (df.join(d, col, "left")
                .withColumn(col, F.coalesce(F.col(tag), F.col(col)))
                .drop(tag))

    return canonize


#: inserted predicates that force the commit gate onto the FULL check:
#: sameAs rewrites the canon dictionary (OLD triples can newly clash),
#: a new disjointWith/complementOf pair can clash two OLD type
#: assertions (no delta leg at all), and the rdf:list predicates change
#: the AllDifferent expansion. Schema changes are rare commit traffic;
#: keeping them on the full path keeps the delta path trivially sound.
GATE_SCHEMA_PREDS = frozenset({SAMEAS, DISJOINT, COMPLEMENT,
                               DISTINCT_MEMBERS, RDF_FIRST, RDF_REST})

#: bounded-collect limits for the driver-evaluated delta gate (r11 opt):
#: the sameAs/disjointWith/complementOf state and the inserted
#: individuals' type probe must fit these row counts or the check falls
#: back to the distributed delta plan. Sized like the other driver fast
#: paths (rows are 2-3 short strings; ~10 MB at the bound).
GATE_STATE_BOUND = 50_000
GATE_TYPE_PROBE_BOUND = 50_000


def collect_gate_state(spark: SparkSession, quads: DataFrame):
    """ONE bounded scan collecting the commit gate's TBox-ish state: the
    owl:sameAs canon dictionary (union-find, min-label — identical to
    sameas_components' small path) plus the normalized disjointWith /
    complementOf pair sets (r11 opt, guide §1.2: the distributed delta
    check re-derived all three from full-store scans on EVERY checked
    commit). Returns ``None`` when the state overflows GATE_STATE_BOUND
    — the caller falls back to the distributed check.

    The state is a pure function of the store's sameAs/disjointWith/
    complementOf triples, so the engine may cache it across insert-only
    delta-branch commits (those insert none of GATE_SCHEMA_PREDS)."""
    rows = _take_wide(
        quads.filter(F.col("p").isin(SAMEAS, DISJOINT, COMPLEMENT)
                     & F.col("o_dt").isNull())
        .select("p", "s", "o_lex"), GATE_STATE_BOUND + 1)
    if len(rows) > GATE_STATE_BOUND:
        return None
    pairs = {DISJOINT: set(), COMPLEMENT: set()}
    for r in rows:
        if r["p"] != SAMEAS:
            a, b = r["s"], r["o_lex"]
            pairs[r["p"]].add((a, b) if a <= b else (b, a))
    canon = _union_find((r["s"], r["o_lex"]) for r in rows
                        if r["p"] == SAMEAS)
    members: dict = {}
    for m, c in canon.items():
        members.setdefault(c, []).append(m)
    return {"canon": canon, "members": members, "pairs": pairs}


def consistency_violations_delta_local(spark: SparkSession, quads: DataFrame,
                                       inserted_rows: list, state: dict):
    """Driver-evaluated equivalent of :func:`consistency_violations_delta`
    (r11 opt): same soundness precondition (consistent pre-state, no
    closure, no GATE_SCHEMA_PREDS in the delta, ``quads`` = post-update
    store), same rules, same canonization — but the only Spark job is ONE
    type probe restricted to the inserted individuals' sameAs classes
    (an InSet predicate next to the scan, O(delta) at any store size)
    instead of the multi-scan distributed plan. Returns a deduplicated
    ``[{"rule","x","y"}, ...]`` list, or ``None`` when the type probe
    overflows GATE_TYPE_PROBE_BOUND (caller falls back)."""
    canon = state["canon"]
    members = state["members"]
    pairs = state["pairs"]

    def cz(t):
        return canon.get(t, t)

    new_types = [(r[1], r[3]) for r in inserted_rows
                 if r[2] == RDF_TYPE and r[4] is None]
    new_difs = [(r[1], r[3]) for r in inserted_rows
                if r[2] == DIFFERENT and r[4] is None]
    out: list = []
    for (x, y) in new_difs:
        if cz(x) == cz(y):
            out.append(("owl-dif", x, y))
    if new_types:
        for (i, c) in new_types:
            if c == NOTHING:
                out.append(("owl-nothing", cz(i), NOTHING))
        if pairs[DISJOINT] or pairs[COMPLEMENT]:
            probe = sorted({m for (i, _c) in new_types
                            for m in members.get(cz(i), (i,))}
                           | {i for (i, _c) in new_types})
            trows = _take_wide(
                quads.filter((F.col("p") == RDF_TYPE)
                             & F.col("o_dt").isNull()
                             & F.col("s").isin(probe))
                .select("s", "o_lex"), GATE_TYPE_PROBE_BOUND + 1)
            if len(trows) > GATE_TYPE_PROBE_BOUND:
                return None
            types_by_canon: dict = {}
            for r in trows:
                types_by_canon.setdefault(cz(r["s"]), set()).add(r["o_lex"])
            for (i, c) in new_types:
                for c2 in types_by_canon.get(cz(i), ()):
                    key = (c, c2) if c <= c2 else (c2, c)
                    if key in pairs[DISJOINT]:
                        out.append(("cax-dw", cz(i),
                                    f"{key[0]} | {key[1]}"))
                    if key in pairs[COMPLEMENT]:
                        out.append(("owl-comp", cz(i),
                                    f"{key[0]} | {key[1]}"))
    seen = set()
    dedup = []
    for v in out:
        if v not in seen:
            seen.add(v)
            dedup.append({"rule": v[0], "x": v[1], "y": v[2]})
    return dedup


def consistency_violations_delta(spark: SparkSession, quads: DataFrame,
                                 inserted_rows: list) -> DataFrame:
    """Delta-restricted consistency conditions for the commit gate (r10).

    SOUNDNESS. Violations are MONOTONE in the triple set (no negated
    premises), so a violation NEW to this commit must use at least one
    inserted triple in a premise slot — classic semi-naive restriction.
    With no materialized closure, the conditions consume only
    {rdf:type, sameAs, differentFrom, disjointWith, complementOf,
    distinctMembers/first/rest}. The caller guarantees (a) inference is
    OFF for this store (a closure could derive type/sameAs premises from
    arbitrary facts) and (b) the delta contains none of
    GATE_SCHEMA_PREDS (those rewrite the canon dictionary / pair tables
    / list expansion and fall back to the full check). That leaves two
    delta-able premise slots — rdf:type legs and differentFrom pairs —
    and every other inserted triple cannot feed any premise at all.

    Each rule evaluates with one leg restricted to the (broadcast-small)
    delta and the other over the full post-update store, BOTH
    orientations, so the per-commit cost is O(delta x join partners) —
    never the full type-slice self-join. At 100 TB that is the
    difference between a commit gate and a nightly batch job. ``quads``
    must be the POST-update store (the delta's own rows included), so
    Δ x Δ clashes fall out of the Δ x full joins.
    """
    new_types = [(r[1], r[3]) for r in inserted_rows
                 if r[2] == RDF_TYPE and r[4] is None]
    new_difs = [(r[1], r[3]) for r in inserted_rows
                if r[2] == DIFFERENT and r[4] is None]
    empty = spark.createDataFrame([], "rule string, x string, y string")
    if not new_types and not new_difs:
        # plain facts: no premise slot can consume them (no closure)
        return empty
    iris = quads.filter(F.col("o_dt").isNull())
    canonize = _canon_fn(spark, quads)
    parts = [empty]

    if new_difs:
        ddif = spark.createDataFrame(new_difs, "x string, y string")
        parts.append(
            canonize(canonize(ddif.withColumn("x0", F.col("x"))
                              .withColumn("y0", F.col("y")), "x"), "y")
            .filter(F.col("x") == F.col("y"))
            .select(F.lit("owl-dif").alias("rule"),
                    F.col("x0").alias("x"), F.col("y0").alias("y")))

    if new_types:
        dtypes = canonize(
            spark.createDataFrame(new_types, "i string, c string"), "i")
        types_all = canonize(
            iris.filter(F.col("p") == RDF_TYPE)
            .select(F.col("s").alias("i"), F.col("o_lex").alias("c")), "i")

        def clash(pred: str, rule: str) -> DataFrame:
            pairs = iris.filter(F.col("p") == pred).select(
                F.col("s").alias("c1"), F.col("o_lex").alias("c2"))
            pairs = (pairs.unionByName(
                pairs.select(F.col("c2").alias("c1"),
                             F.col("c1").alias("c2")))
                .filter(F.col("c1") <= F.col("c2")).dropDuplicates())

            def leg(t1: DataFrame, t2: DataFrame,
                    delta_side: str) -> DataFrame:
                # the delta side of the i-join is broadcast EXPLICITLY so
                # the full type slice is only ever scanned map-side —
                # never shuffled — independent of the broadcast threshold
                t2r = t2.select(F.col("i").alias("i2"),
                                F.col("c").alias("cc2"))
                if delta_side == "right":
                    t2r = F.broadcast(t2r)
                left = t1.join(F.broadcast(pairs), t1["c"] == pairs["c1"])
                if delta_side == "left":
                    left = F.broadcast(left)
                return (left.join(t2r, (F.col("i") == F.col("i2"))
                                  & (F.col("cc2") == F.col("c2")))
                        .select(F.lit(rule).alias("rule"),
                                F.col("i").alias("x"),
                                F.concat(F.col("c1"), F.lit(" | "),
                                         F.col("c2")).alias("y")))

            # Δ as the c1-leg against the full store, and the full store
            # as the c1-leg against broadcast Δ — covers both pair
            # orientations without a types x types self-join
            return (leg(dtypes, types_all, "left")
                    .unionByName(leg(types_all, dtypes, "right"))
                    .dropDuplicates())

        parts.append(clash(DISJOINT, "cax-dw"))
        parts.append(clash(COMPLEMENT, "owl-comp"))
        parts.append(dtypes.filter(F.col("c") == NOTHING)
                     .select(F.lit("owl-nothing").alias("rule"),
                             F.col("i").alias("x"),
                             F.lit(NOTHING).alias("y"))
                     .dropDuplicates())

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def consistency_violations(spark: SparkSession, quads: DataFrame) -> DataFrame:
    """pD*/OWL-Horst consistency conditions over the materialized closure
    (B42 — the reference ships this off by default,
    ``owlim:check-for-inconsistencies "false"``, repo-config.ttl:44; GraphDB
    runs the ruleset's consistency rules at commit and aborts the
    transaction when one fires).

    Returns ``(rule STRING, x STRING, y STRING)``, one row per violating
    instance pair, covering the pD* inconsistency conditions expressible in
    the engine's rule subset:

    * ``owl-dif``    — x owl:sameAs* y ∧ x owl:differentFrom y (sameAs taken
      through the B41 connected components, so this also catches
      FunctionalProperty-derived sameAs clashing with an explicit
      differentFrom — rdfp1/2 derive the sameAs, this rule detects it);
      owl:AllDifferent/owl:distinctMembers lists are expanded to pairwise
      differentFrom first (bounded rdf:rest frontier walk).
    * ``cax-dw``     — x type c1 ∧ x type c2 ∧ c1 owl:disjointWith c2
      (type membership canonicalized through sameAs).
    * ``owl-comp``   — as cax-dw for c1 owl:complementOf c2.
    * ``owl-nothing``— x type owl:Nothing.

    Scale shape: the only big-side operations are hash equi-joins of the
    type slice against itself keyed on the individual, with the (tiny)
    schema pair tables broadcast; differentFrom pairs flow through two
    broadcast-able canon joins. No cartesian, no row-wise Python.
    """
    iris = quads.filter(F.col("o_dt").isNull())
    canonize = _canon_fn(spark, quads)

    # -- differentFrom pairs (explicit + AllDifferent lists) -------------
    diff = iris.filter(F.col("p") == DIFFERENT).select(
        F.col("s").alias("x"), F.col("o_lex").alias("y"))
    heads = iris.filter(F.col("p") == DISTINCT_MEMBERS).select(
        F.col("o_lex").alias("cell"), F.col("s").alias("grp"))
    # bounded driver probe replaces isEmpty + (for small stores) the whole
    # per-hop join/checkpoint walk — the common case is FEW AllDifferent
    # lists; the distributed walk remains the only path when the probe
    # overflows (r10: the B42 commit gate runs this per checked update)
    heads_rows = _take_wide(heads, AD_LIST_BOUND + 1)
    pairs_local = None
    if heads_rows and len(heads_rows) <= AD_LIST_BOUND:
        fr = _take_wide(iris.filter(F.col("p").isin(RDF_FIRST, RDF_REST))
                        .select("s", "p", "o_lex"), AD_LIST_BOUND * 8 + 1)
        if len(fr) <= AD_LIST_BOUND * 8:
            firsts: dict = {}
            nexts: dict = {}
            for r in fr:
                # dedupe per cell: the same logical triple asserted in two
                # graphs is one list edge, not a convergent DAG
                lst = (firsts if r["p"] == RDF_FIRST else nexts) \
                    .setdefault(r["s"], [])
                if r["o_lex"] not in lst:
                    lst.append(r["o_lex"])
            pairs_local = []
            for h in heads_rows:
                walk = [(h["cell"], m) for m in firsts.get(h["cell"], [])]
                frontier_cells = [h["cell"]]
                # each cell visits ONCE per list (r11 advisor fix: a
                # convergent rdf:rest DAG multiplied duplicate paths every
                # hop — walk grew exponentially inside the probe bound,
                # exhausting driver memory before the iteration guard).
                # Same-HOP convergence (equal-length branches sharing a
                # tail) merges to one list position; a cross-hop revisit
                # is a cycle or skewed convergence — malformed, raise
                # rather than pick a semantics. The distributed walk
                # below implements the identical rule (dropDuplicates per
                # hop + visited-set guard).
                seen_cells = {h["cell"]}
                for _ in range(MAX_ITERS * 20):
                    nxt_cells: list = []
                    for c in frontier_cells:
                        for n in nexts.get(c, []):
                            if n == RDF_NIL or n in nxt_cells:
                                continue
                            if n in seen_cells:
                                raise RuntimeError(
                                    "owl:distinctMembers rdf:rest revisits "
                                    f"cell {n!r} (cyclic or convergent "
                                    "list structure)")
                            nxt_cells.append(n)
                    seen_cells.update(nxt_cells)
                    if not nxt_cells:
                        break
                    walk += [(c, m) for c in nxt_cells
                             for m in firsts.get(c, [])]
                    frontier_cells = nxt_cells
                else:
                    raise RuntimeError(
                        "owl:distinctMembers list walk did not terminate "
                        "(cyclic rdf:rest?)")
                # pairs on CELL position (duplicate members must pair too)
                for i, (c1, m1) in enumerate(walk):
                    for c2, m2 in walk[i + 1:]:
                        if c1 < c2:
                            pairs_local.append((m1, m2))
                        elif c2 < c1:
                            pairs_local.append((m2, m1))
            if pairs_local:
                diff = diff.unionByName(spark.createDataFrame(
                    pairs_local, "x string, y string"))
            heads_rows = []            # handled; skip the distributed walk
    if heads_rows:
        first = iris.filter(F.col("p") == RDF_FIRST).select(
            F.col("s").alias("cell"), F.col("o_lex").alias("member")) \
            .dropDuplicates()
        rest = iris.filter(F.col("p") == RDF_REST).select(
            F.col("s").alias("cell"), F.col("o_lex").alias("nxt")) \
            .dropDuplicates()
        members = None
        frontier = heads.dropDuplicates().localCheckpoint()
        visited = frontier.select("grp", "cell")
        for _ in range(MAX_ITERS * 20):   # bound = longest list length
            # keep the CELL (unique per list position): pairs are formed
            # on position, not member value, so a list naming the same
            # individual twice still yields its (a, a) pair — owl:
            # AllDifferent (a a) asserts a != a, which is inconsistent
            # (r10 fuzzer find: the old member<member2 value join
            # silently dropped duplicate members)
            got = frontier.join(first, "cell").select("grp", "cell",
                                                      "member")
            members = got if members is None else members.unionByName(got)
            # per-hop dedup + revisit guard (r11 advisor fix, mirroring
            # the local walk): a convergent rdf:rest DAG would otherwise
            # multiply duplicate frontier paths every hop — exponential
            # frontier growth; a revisited (grp, cell) is a cyclic or
            # convergent (malformed) list, raise rather than guess
            frontier = (frontier.join(rest, "cell")
                        .filter(F.col("nxt") != RDF_NIL)
                        .select(F.col("nxt").alias("cell"), "grp")
                        .dropDuplicates()
                        .localCheckpoint())
            if frontier.isEmpty():
                break
            if not frontier.join(visited, ["grp", "cell"]).isEmpty():
                raise RuntimeError(
                    "owl:distinctMembers rdf:rest revisits a cell "
                    "(cyclic or convergent list structure)")
            visited = visited.unionByName(frontier)
        else:
            raise RuntimeError("owl:distinctMembers list walk did not "
                               "terminate (cyclic rdf:rest?)")
        if members is not None:
            m2 = members.select(F.col("grp").alias("g2"),
                                F.col("cell").alias("cell2"),
                                F.col("member").alias("member2"))
            pairs = (members.join(m2, (F.col("grp") == F.col("g2"))
                                  & (F.col("cell") < F.col("cell2")))
                     .select(F.col("member").alias("x"),
                             F.col("member2").alias("y")))
            diff = diff.unionByName(pairs)
    dif_v = (canonize(canonize(diff.withColumn("x0", F.col("x"))
                               .withColumn("y0", F.col("y")), "x"), "y")
             .filter(F.col("x") == F.col("y"))
             .select(F.lit("owl-dif").alias("rule"),
                     F.col("x0").alias("x"), F.col("y0").alias("y")))

    # -- disjointWith / complementOf type clashes -------------------------
    types = canonize(
        iris.filter(F.col("p") == RDF_TYPE)
        .select(F.col("s").alias("i"), F.col("o_lex").alias("c")), "i")

    # ONE aggregation of the type slice shared by both clash rules (r11):
    # per-individual type sets replace the former type-slice SELF-JOIN —
    # one shuffle with map-side partial collect_set instead of shuffling
    # the slice on both join sides (the self-join was also AQE-bimodal at
    # 10x: broadcast 2.4 s vs SMJ 16 s run-to-run; the aggregate plan has
    # no join to mis-plan). Per-individual sets are bounded by the class
    # vocabulary, so no skew hazard.
    type_sets = (types.groupBy("i").agg(F.collect_set("c").alias("ts"))
                 .localCheckpoint(eager=False))

    def class_clash(pred: str, rule: str) -> DataFrame:
        pairs = iris.filter(F.col("p") == pred).select(
            F.col("s").alias("c1"), F.col("o_lex").alias("c2"))
        # symmetric predicates: normalize so each clash reports once.
        # <= keeps the diagonal: a SELF-disjoint class (C disjointWith C)
        # makes every member inconsistent in pD*, so (C, C) must survive
        # (r10 advisor fix: < silently dropped it)
        pairs = (pairs.unionByName(pairs.select(F.col("c2").alias("c1"),
                                                F.col("c1").alias("c2")))
                 .filter(F.col("c1") <= F.col("c2")).dropDuplicates())
        return (type_sets.select("i", F.explode("ts").alias("c"), "ts")
                .join(F.broadcast(pairs), F.col("c") == F.col("c1"))
                .filter(F.array_contains(F.col("ts"), F.col("c2")))
                .select(F.lit(rule).alias("rule"),
                        F.col("i").alias("x"),
                        F.concat(F.col("c1"), F.lit(" | "), F.col("c2"))
                        .alias("y"))
                .dropDuplicates())

    dw_v = class_clash(DISJOINT, "cax-dw")
    comp_v = class_clash(COMPLEMENT, "owl-comp")
    nothing_v = (types.filter(F.col("c") == NOTHING)
                 .select(F.lit("owl-nothing").alias("rule"),
                         F.col("i").alias("x"), F.lit(NOTHING).alias("y"))
                 .dropDuplicates())
    return (dif_v.unionByName(dw_v).unionByName(comp_v)
            .unionByName(nothing_v))
