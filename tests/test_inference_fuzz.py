"""Randomized differential fuzzer for OWL-Horst inference + DRed maintenance
(r8 VERDICT "Next round" #1).

Oracle #1 — :func:`naive_closure`: an INDEPENDENT pure-Python forward chainer.
Deliberately a different algorithm from both engine paths: repeat-until-
fixpoint full rescans of the whole fact set with no indexes, no worklist, no
semi-naive deltas (the small-ABox path is an indexed worklist, the
distributed path is a semi-naive delta fixpoint — a shared bug in their
shared *strategy* cannot hide here, only a shared misreading of the rules
themselves). Rule set = the engine's documented OWL-Horst subset: rdfs2, 3,
7, 9; rdfp1, 2, 3, 4, 8, 12a/b, 13a/b, 14a/b, 15, 16 (inference.py module
docstring), with the engine's contracts: inferred = closure minus base,
newness keyed on (s, p, o_lex), sameAs emitted both directions but not
substituted (B41 expands at query time), literal objects excluded from
range/inverse/symmetric/transitive/functional rules.

Oracle #2 — DRed(delete) ≡ from-scratch re-materialization after every
delete, and the engine's small-ABox worklist ≡ its distributed fixpoint on
the same ontology.

Reference parity: GraphDB Free's owl-horst-optimized ruleset with
transactional incremental inference (repo-config.ttl:26; the adapter's
INSERT/DELETE stream at GraphDBSystemAdapter.java:279-318 exercises exactly
this insert/delete-maintenance loop).
"""

from __future__ import annotations

import random

import pytest

from graphdb_free_mocha_sa_spark.model import (QUAD_COLS, QUAD_SCHEMA,
                                               RDF_LANGSTRING)
from graphdb_free_mocha_sa_spark.operators.inference import (
    ALL_VALUES, DOMAIN, EQ_CLASS, EQ_PROP, FUNCTIONAL, HAS_VALUE,
    INV_FUNCTIONAL, INVERSE, ON_PROPERTY, RANGE, RDF_TYPE, SAMEAS, SOME_VALUES,
    SUBCLASS, SUBPROP, SYMMETRIC, TRANSITIVE, owl_horst_closure,
    owl_horst_decrement, owl_horst_increment, pin_inference)

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
G = "urn:fuzz:g"

CLASSES = [f"urn:C{i}" for i in range(6)]
PROPS = [f"urn:q{i}" for i in range(5)]
INDIVS = [f"urn:i{i}" for i in range(9)]
RESTR = [f"urn:R{i}" for i in range(3)]
LIT_LEX = ["hello", "world", "42"]


def iri(s, p, o):
    return (s, p, o, None, None, None, None)


def lit(s, p, lex):
    return (s, p, lex, XSD_STRING, None, None, None)


# --------------------------------------------------------------- oracle #1


def _close_pairs(pairs):
    """Naive transitive closure of a pair set (matches inference._closure:
    reflexive pairs appear only via cycles)."""
    out = set(pairs)
    while True:
        new = {(a, d) for (a, b) in out for (c, d) in out if b == c} - out
        if not new:
            return out
        out |= new


def naive_closure(base):
    """All inferred facts (closure minus base) for a fact set; 7-tuples."""
    base = set(base)
    sc, sp, dom, rng_, inv = set(), set(), set(), set(), set()
    trans, sym, func, invfunc = set(), set(), set(), set()
    on_prop, hv_raw, sv_raw, av_raw = {}, {}, {}, {}
    for (s, p, o, dt, lg, nm, ts) in base:
        if dt is not None and p != HAS_VALUE:
            continue  # Schema extracts IRI-object TBox rows (hasValue exempt)
        if p == SUBCLASS and s != o:
            sc.add((s, o))
        elif p == SUBPROP and s != o:
            sp.add((s, o))
        elif p == EQ_CLASS and s != o:
            sc |= {(s, o), (o, s)}
        elif p == EQ_PROP and s != o:
            sp |= {(s, o), (o, s)}
        elif p == DOMAIN:
            dom.add((s, o))
        elif p == RANGE:
            rng_.add((s, o))
        elif p == INVERSE:
            inv |= {(s, o), (o, s)}
        elif p == RDF_TYPE and o == TRANSITIVE:
            trans.add(s)
        elif p == RDF_TYPE and o == SYMMETRIC:
            sym.add(s)
        elif p == RDF_TYPE and o == FUNCTIONAL:
            func.add(s)
        elif p == RDF_TYPE and o == INV_FUNCTIONAL:
            invfunc.add(s)
        elif p == ON_PROPERTY:
            on_prop.setdefault(s, set()).add(o)
        elif p == HAS_VALUE:
            hv_raw.setdefault(s, set()).add((o, dt, lg, nm, ts))
        elif p == SOME_VALUES:
            sv_raw.setdefault(s, set()).add(o)
        elif p == ALL_VALUES:
            av_raw.setdefault(s, set()).add(o)
    sc, sp = _close_pairs(sc), _close_pairs(sp)
    # one rule instance per (onProperty x value) triple combination
    hv = [(v, p, val) for v, vals in hv_raw.items()
          for p in on_prop.get(v, ()) for val in vals]
    sv = [(v, p, w) for v, ws in sv_raw.items()
          for p in on_prop.get(v, ()) for w in ws]
    av = [(v, p, w) for v, ws in av_raw.items()
          for p in on_prop.get(v, ()) for w in ws]

    world = set(base)
    while True:
        new = set()
        rels_iri = [(s, p, o) for (s, p, o, dt, lg, nm, ts) in world
                    if dt is None]
        types = {(s, o) for (s, p, o) in rels_iri if p == RDF_TYPE}
        for f in world:
            s, p, o, dt, lg, nm, ts = f
            if p == RDF_TYPE and dt is None:
                for (c1, c2) in sc:                       # rdfs9
                    if o == c1:
                        new.add(iri(s, RDF_TYPE, c2))
                for (v, hp, val) in hv:                   # rdfp14b
                    if o == v:
                        new.add((s, hp) + val)
            for (p1, p2) in sp:                           # rdfs7
                if p == p1:
                    new.add((s, p2, o, dt, lg, nm, ts))
            for (dp, dc) in dom:                          # rdfs2
                if p == dp:
                    new.add(iri(s, RDF_TYPE, dc))
            if dt is None:
                for (rp, rc) in rng_:                     # rdfs3
                    if p == rp:
                        new.add(iri(o, RDF_TYPE, rc))
                for (ip1, ip2) in inv:                    # rdfp8
                    if p == ip1:
                        new.add(iri(o, ip2, s))
                if p in sym:                              # rdfp3
                    new.add(iri(o, p, s))
            for (v, hp, val) in hv:                       # rdfp14a
                if p == hp and (o, dt, lg) == (val[0], val[1], val[2]):
                    new.add(iri(s, RDF_TYPE, v))
        for tp in trans:                                  # rdfp4
            edges = {(s, o) for (s, p, o) in rels_iri if p == tp}
            for (a, b) in _close_pairs(edges):
                new.add(iri(a, tp, b))
        for fp in func:                                   # rdfp1
            by_s: dict = {}
            for (s, p, o) in rels_iri:
                if p == fp:
                    by_s.setdefault(s, set()).add(o)
            for vals in by_s.values():
                for v1 in vals:
                    for v2 in vals:
                        if v1 != v2:
                            new.add(iri(v1, SAMEAS, v2))
        for fp in invfunc:                                # rdfp2
            by_o: dict = {}
            for (s, p, o) in rels_iri:
                if p == fp:
                    by_o.setdefault(o, set()).add(s)
            for subs in by_o.values():
                for s1 in subs:
                    for s2 in subs:
                        if s1 != s2:
                            new.add(iri(s1, SAMEAS, s2))
        for (v, p, w) in sv:                              # rdfp15
            for (u, pp, x) in rels_iri:
                if pp == p and (x, w) in types:
                    new.add(iri(u, RDF_TYPE, v))
        for (v, p, w) in av:                              # rdfp16
            for (u, pp, x) in rels_iri:
                if pp == p and (u, v) in types:
                    new.add(iri(x, RDF_TYPE, w))
        keys = {f[:3] for f in world}                     # engine newness key
        fresh = {f for f in new if f[:3] not in keys}
        if not fresh:
            break
        world |= fresh
    base_keys = {f[:3] for f in base}
    return {f for f in world if f[:3] not in base_keys}


# ------------------------------------------------------------- generators


def gen_tbox(rng: random.Random) -> set:
    facts: set = set()
    for _ in range(rng.randint(3, 9)):
        k = rng.choice(["sc", "sp", "dom", "rng", "inv", "eqc", "eqp",
                        "trans", "sym", "func", "invfunc", "hv", "sv", "av"])
        if k == "sc":
            facts.add(iri(rng.choice(CLASSES + RESTR), SUBCLASS,
                          rng.choice(CLASSES)))
        elif k == "sp":
            facts.add(iri(rng.choice(PROPS), SUBPROP, rng.choice(PROPS)))
        elif k == "dom":
            facts.add(iri(rng.choice(PROPS), DOMAIN, rng.choice(CLASSES)))
        elif k == "rng":
            facts.add(iri(rng.choice(PROPS), RANGE, rng.choice(CLASSES)))
        elif k == "inv":
            facts.add(iri(rng.choice(PROPS), INVERSE, rng.choice(PROPS)))
        elif k == "eqc":
            facts.add(iri(rng.choice(CLASSES), EQ_CLASS, rng.choice(CLASSES)))
        elif k == "eqp":
            facts.add(iri(rng.choice(PROPS), EQ_PROP, rng.choice(PROPS)))
        elif k in ("trans", "sym", "func", "invfunc"):
            cls = {"trans": TRANSITIVE, "sym": SYMMETRIC,
                   "func": FUNCTIONAL, "invfunc": INV_FUNCTIONAL}[k]
            facts.add(iri(rng.choice(PROPS), RDF_TYPE, cls))
        else:  # restriction — multi-valued components are legal triples
            v = rng.choice(RESTR)
            facts.add(iri(v, ON_PROPERTY, rng.choice(PROPS)))
            if k == "hv":
                if rng.random() < 0.5:
                    facts.add(lit(v, HAS_VALUE, rng.choice(LIT_LEX)))
                else:
                    facts.add(iri(v, HAS_VALUE, rng.choice(INDIVS)))
            elif k == "sv":
                facts.add(iri(v, SOME_VALUES, rng.choice(CLASSES)))
            else:
                facts.add(iri(v, ALL_VALUES, rng.choice(CLASSES)))
    return facts


def gen_abox(rng: random.Random, lo=5, hi=16) -> set:
    facts: set = set()
    for _ in range(rng.randint(lo, hi)):
        r = rng.random()
        if r < 0.45:
            facts.add(iri(rng.choice(INDIVS), rng.choice(PROPS),
                          rng.choice(INDIVS)))
        elif r < 0.80:
            facts.add(iri(rng.choice(INDIVS), RDF_TYPE,
                          rng.choice(CLASSES + RESTR)))
        else:
            facts.add(lit(rng.choice(INDIVS), rng.choice(PROPS),
                          rng.choice(LIT_LEX)))
    return facts


# ---------------------------------------------------------------- plumbing


def mkdf(spark, facts):
    rows = [(G,) + f for f in sorted(facts)]
    return spark.createDataFrame(rows, QUAD_SCHEMA).select(*QUAD_COLS)


def collect5(df) -> set:
    return {(r["s"], r["p"], r["o_lex"], r["o_dt"], r["o_lang"])
            for r in df.select(*QUAD_COLS).collect()}


def key5(facts) -> set:
    return {f[:5] for f in facts}


def _diff_msg(tag, got, want):
    extra, missing = sorted(got - want), sorted(want - got)
    return (f"{tag}: engine-only={extra[:8]} oracle-only={missing[:8]} "
            f"(|got|={len(got)} |want|={len(want)})")


# ------------------------------------------------------------------- tests


# One seed of each differential fuzzer runs in the default test tier; the
# rest are marked slow and run under SPARK_GRAFT_FULL_TESTS=1.
SLOW = pytest.mark.slow


@pytest.mark.parametrize("master_seed", [11, pytest.param(22, marks=SLOW),
                                         pytest.param(33, marks=SLOW)])
def test_closure_small_path_vs_naive(spark, master_seed):
    """30 random ontologies per seed: engine small-ABox worklist closure
    must equal the naive full-rescan oracle exactly."""
    rng = random.Random(master_seed)
    for case in range(30):
        base = gen_tbox(rng) | gen_abox(rng)
        got = collect5(owl_horst_closure(spark, mkdf(spark, base)))
        want = key5(naive_closure(base))
        assert got == want, _diff_msg(
            f"seed={master_seed} case={case} base={sorted(base)}", got, want)


@pytest.mark.parametrize("master_seed", [7, pytest.param(8, marks=SLOW)])
def test_closure_distributed_path_vs_naive(spark, master_seed,
                                           force_distributed):
    """Force the distributed semi-naive fixpoint (bypass the small-ABox
    worklist) on the same random ontologies — 3-way differential with the
    small path via the shared oracle."""
    rng = random.Random(master_seed)
    for case in range(3):
        base = gen_tbox(rng) | gen_abox(rng)
        got = collect5(owl_horst_closure(spark, mkdf(spark, base)))
        want = key5(naive_closure(base))
        assert got == want, _diff_msg(
            f"seed={master_seed} case={case} base={sorted(base)}", got, want)


@pytest.mark.parametrize("master_seed", [101] + [
    pytest.param(s, marks=SLOW) for s in (102, 103, 104)])
def test_dred_delete_vs_naive_and_rematerialize(spark, master_seed,
                                                inference_path):
    """Random delete sequences: after every ABox DELETE, the DRed-maintained
    inferred frame must equal BOTH the naive oracle's closure of the
    surviving base AND a from-scratch re-materialization (smooth delete:
    still-derivable deleted explicit facts re-appear as inferred). Run on
    the driver paths (worklist closure, driver cone) and forced onto the
    distributed ones (semi-naive loop, over-delete key frame, semi-join
    re-derive)."""
    rng = random.Random(master_seed)
    tbox = gen_tbox(rng)
    abox = gen_abox(rng, lo=8, hi=16)
    base = tbox | abox
    inferred_df = owl_horst_closure(spark, mkdf(spark, base))
    assert collect5(inferred_df) == key5(naive_closure(base))
    for step in range(2):
        if not abox:
            break
        victims = set(rng.sample(sorted(abox), rng.randint(1, min(3, len(abox)))))
        abox -= victims
        base = tbox | abox
        base_df = mkdf(spark, base)
        new_inf = owl_horst_decrement(spark, base_df, inferred_df,
                                      mkdf(spark, victims))
        assert new_inf is not None, "ABox-only delete must not bail to re-mat"
        got = collect5(new_inf)
        want = key5(naive_closure(base))
        assert got == want, _diff_msg(
            f"seed={master_seed} step={step} victims={sorted(victims)}",
            got, want)
        remat = collect5(owl_horst_closure(spark, base_df))
        assert got == remat, _diff_msg(
            f"seed={master_seed} step={step} DRed-vs-remat", got, remat)
        inferred_df = pin_inference(spark, new_inf)


@pytest.mark.parametrize("master_seed", [pytest.param(201, marks=SLOW),
                                         pytest.param(202, marks=SLOW)])
def test_update_sequence_increment_decrement_vs_naive(spark, master_seed):
    """Mixed INSERT/DELETE sequences through the store's maintenance
    protocol (increment with the pre-insert base, decrement with the
    post-delete base — store.py:157-271). Compared on the full closure
    (base ∪ inferred) because an inserted fact that was already derived
    legitimately lives in both frames."""
    rng = random.Random(master_seed)
    tbox = gen_tbox(rng)
    abox = gen_abox(rng, lo=6, hi=12)
    base = tbox | abox
    base_df = mkdf(spark, base)
    inferred_df = owl_horst_closure(spark, base_df)
    for step in range(3):
        if rng.random() < 0.5 and abox:
            victims = set(rng.sample(sorted(abox),
                                     rng.randint(1, min(2, len(abox)))))
            abox -= victims
            base = tbox | abox
            base_df = mkdf(spark, base)
            new_inf = owl_horst_decrement(spark, base_df, inferred_df,
                                          mkdf(spark, victims))
            assert new_inf is not None
            inferred_df = pin_inference(spark, new_inf)
        else:
            delta = gen_abox(rng, lo=1, hi=3) - base
            if not delta:
                continue
            new_inf = owl_horst_increment(spark, base_df, inferred_df,
                                          mkdf(spark, delta))
            abox |= delta
            base = tbox | abox
            base_df = mkdf(spark, base)
            if new_inf is not None:
                inferred_df = pin_inference(
                    spark, inferred_df.unionByName(new_inf))
        got = key5(base) | collect5(inferred_df)
        want = key5(base) | key5(naive_closure(base))
        assert got == want, _diff_msg(
            f"seed={master_seed} step={step}", got, want)


def mkdf_ordered(spark, facts):
    """Like :func:`mkdf` but keeps the given row order (the driver
    worklist's answer must not depend on it)."""
    return spark.createDataFrame([(G,) + f for f in facts],
                                 QUAD_SCHEMA).select(*QUAD_COLS)


EDGE_CASES = {
    # rdfs:range declared ON rdf:type: the types rdfs2 derives re-fire
    # rdfs3, so one composed rule application is not the whole closure
    "range_on_rdf_type": (
        [iri("urn:p", DOMAIN, "urn:C"), iri(RDF_TYPE, RANGE, "urn:M"),
         iri("urn:a", "urn:p", "urn:b")],
        {("urn:C", RDF_TYPE, "urn:M"), ("urn:M", RDF_TYPE, "urn:M")}),
    # rdfp4 chains IRI objects only: a b q "world" does not extend a q b
    "transitive_stops_at_literal": (
        [iri("urn:q", RDF_TYPE, TRANSITIVE), iri("urn:a", "urn:q", "urn:b"),
         lit("urn:b", "urn:q", "world"), iri("urn:b", "urn:q", "urn:c")],
        {("urn:a", "urn:q", "urn:c")}),
    # a rule union mixing a literal predicate (rdfs2) with a filtered one
    # (rdfp3): the pinned rounds must stay unionable in the final closure
    "symmetric_with_domain": (
        [iri("urn:q", RDF_TYPE, SYMMETRIC), iri("urn:q", DOMAIN, "urn:C"),
         iri("urn:a", "urn:q", "urn:b")],
        {("urn:b", "urn:q", "urn:a"), ("urn:a", RDF_TYPE, "urn:C"),
         ("urn:b", RDF_TYPE, "urn:C")}),
    # two base facts sharing (s, p, o_lex): only the IRI one fires rdfs3
    "range_iri_beside_literal": (
        [lit("urn:a", "urn:p", "urn:i1"), iri("urn:a", "urn:p", "urn:i1"),
         iri("urn:p", RANGE, "urn:C")],
        {("urn:i1", RDF_TYPE, "urn:C")}),
    # two base facts sharing (s, p, o_lex): only the @en one fires rdfp14a
    "hasvalue_lang_beside_string": (
        [lit("urn:u", "urn:q", "hello"),
         ("urn:u", "urn:q", "hello", RDF_LANGSTRING, "en", None, None),
         iri("urn:R", ON_PROPERTY, "urn:q"),
         ("urn:R", HAS_VALUE, "hello", RDF_LANGSTRING, "en", None, None)],
        {("urn:u", RDF_TYPE, "urn:R")}),
}


@pytest.mark.parametrize("reverse", [False, True])
@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_closure_edge_cases_vs_naive(spark, inference_path, case, reverse):
    """Pinned closure cases on both paths and in both input orders: the
    one-shot closure guard, transitive chains ending at a literal, and base
    facts that differ only in o_dt/o_lang each firing their own rules."""
    facts, must = EDGE_CASES[case]
    facts = facts[::-1] if reverse else facts
    got = collect5(owl_horst_closure(spark, mkdf_ordered(spark, facts)))
    want = key5(naive_closure(facts))
    assert got == want, _diff_msg(case, got, want)
    assert must <= {f[:3] for f in got}
