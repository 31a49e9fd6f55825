"""Query shapes and their expected answers, computed from the model.

Each builder returns ``(text, expect)``; ``expect`` is a small dict:

- ``{"bag": Counter}``: the full multiset of normalized rows (small results);
- ``{"list": [rows]}``: rows in order (ORDER BY … LIMIT);
- ``{"count": n, "sum": checksum}``: size and order-independent checksum
  of the rows (large results).

``check(expect, body)`` compares a SPARQL-Results-JSON body against it and
returns an error string, or None when the answer is right.
"""
import json
from collections import Counter

import model as M

LOOKUP_SHAPES = ("page", "reverse", "labels", "qualifier", "class_count", "class_path", "graph")
BIG = 200  # results with more rows than this are checked by count + checksum


class Index:
    """Lookup indexes over a model.Store, rebuilt when the store changes."""

    def __init__(self, store):
        self.store = store
        self.by_s, self.by_o, self.by_g = {}, {}, {}
        for qd, n in store.quads.items():
            s, p, o, g = qd
            self.by_s.setdefault(s, Counter())[qd] += n
            self.by_o.setdefault(o, Counter())[qd] += n
            self.by_g.setdefault(g, Counter())[qd] += n

    def subj(self, s):
        return self.by_s.get(s, Counter())

    def obj(self, o):
        return self.by_o.get(o, Counter())


def _expect(rows):
    rows = list(rows)
    if len(rows) > BIG:
        return {"count": len(rows), "sum": M.checksum(rows)}
    return {"bag": Counter(rows)}


def _objs(ix, s, p):
    """Objects of (s, p) in the store, with multiplicity."""
    out = []
    for (qs, qp, qo, _), n in ix.subj(s).items():
        if qp == p:
            out += [qo] * n
    return out


def label_of(ent, langs):
    for lang in langs:
        if lang in ent["labels"]:
            return ent["labels"][lang]
    return None


def ancestors(ix, c):
    """c and every class above it along P279 (a set, as `*` paths are)."""
    seen, todo = {c}, [c]
    while todo:
        for par in _objs(ix, M.q(todo.pop()), M.prop(M.P279)):
            n = int(par.split("|")[1].rsplit("Q", 1)[1])
            if n not in seen:
                seen.add(n)
                todo.append(n)
    return seen


# ---- lookup shapes -----------------------------------------------------------
def lookup(shape, ix, x, y=None):
    if shape == "page":
        return (f"SELECT ?p ?o WHERE {{ wd:Q{x} ?p ?o }}",
                _expect((p, o) for (s, p, o, g), n in ix.subj(M.q(x)).items() for _ in range(n)))
    if shape == "reverse":
        return (f"SELECT ?s ?p WHERE {{ ?s ?p wd:Q{x} }}",
                _expect((s, p) for (s, p, o, g), n in ix.obj(M.q(x)).items() for _ in range(n)))
    if shape == "labels":
        rows = []
        for e in (x, y):
            ent = ix.store.entities[e]
            rows.append((M.q(e), M.lit(label_of(ent, ("de", "en")))))
        return (f"SELECT ?x ?xLabel WHERE {{ VALUES ?x {{ wd:Q{x} wd:Q{y} }} SERVICE wikibase:label "
                f"{{ bd:serviceParam wikibase:language \"de,en\". }} }}", _expect(rows))
    if shape == "qualifier":
        rows = []
        for p, kind, v, quals, cid in ix.store.entities[x]["claims"]:
            if p == M.P1082:
                rows += [(M.stmt(cid), M.prop(qp), M.value_term(qk, qv)) for qp, qk, qv in quals]
        return (f"SELECT ?st ?q ?v WHERE {{ wd:Q{x} p:P1082 ?st . ?st ?q ?v }}", _expect(rows))
    if shape == "class_count":
        n = sum(c for (s, p, o, g), c in ix.obj(M.q(x)).items() if p == M.prop(M.P31))
        return (f"SELECT (COUNT(?x) AS ?n) WHERE {{ ?x wdt:P31 wd:Q{x} }}", _expect([(M.int_term(n),)]))
    if shape == "class_path":
        rows = []
        for c in _objs(ix, M.q(x), M.prop(M.P31)):
            rows += [(M.q(a),) for a in ancestors(ix, int(c.split("|")[1].rsplit("Q", 1)[1]))]
        return (f"SELECT ?c WHERE {{ wd:Q{x} wdt:P31/wdt:P279* ?c }}", _expect(rows))
    if shape == "graph":
        return (f"SELECT ?s ?p ?o WHERE {{ GRAPH wd:Q{x} {{ ?s ?p ?o }} }}",
                _expect((s, p, o) for (s, p, o, g), n in ix.by_g.get(M.q(x), Counter()).items()
                        for _ in range(n)))
    raise ValueError(shape)


def pages(ix, ents):
    """Every quad of a set of subjects in one query (end-state checks)."""
    vals = " ".join(f"wd:Q{e}" for e in sorted(ents))
    rows = [(s, p, o) for e in ents for (s, p, o, g), n in ix.subj(M.q(e)).items() for _ in range(n)]
    return f"SELECT ?s ?p ?o WHERE {{ VALUES ?s {{ {vals} }} ?s ?p ?o }}", _expect(rows)


def count_all(ix):
    return ("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
            _expect([(M.int_term(ix.store.count()),)]))


# ---- analytic mix ------------------------------------------------------------
def analytic_mix(ix, big_class, small_class):
    """The fixed analytic mix: (name, text, expect) for each shape."""
    st = ix.store
    P = M.prop
    link = {}  # (p, s) -> [o]
    for (s, p, o, g), n in st.quads.items():
        if o.startswith("uri|" + M.WD):
            link.setdefault((p, s), []).extend([o] * n)
    mix = []

    rows = Counter()
    for (p, x), cs in link.items():
        if p == P(M.P31):
            for c in cs:
                rows[c] += len(link.get((P(47), x), []))
    mix.append(("group_join",
                "SELECT ?c (COUNT(?x) AS ?n) WHERE { ?x wdt:P31 ?c . ?x wdt:P47 ?y } GROUP BY ?c",
                _expect((c, M.int_term(n)) for c, n in rows.items() if n)))

    rows = []
    for i, e in st.entities.items():
        for p, kind, v, quals, cid in e["claims"]:
            if p == M.P1082:
                rows += [(M.q(i), M.stmt(cid), M.value_term(qk, qv)) for qp, qk, qv in quals
                         if qp == M.P585 and int(qv[1:5]) >= 1990]
    # the qualifier edge's predicate is the store's direct P585 term: `pq:P585`
    # matches nothing in this engine (CHANGES.md FOUND), `wdt:P585` does
    mix.append(("qualifier_filter",
                "SELECT ?x ?st ?t WHERE { ?x p:P1082 ?st . ?st wdt:P585 ?t . FILTER(YEAR(?t) >= 1990) }",
                _expect(rows)))

    pops = sorted(((int(v), i) for i, e in st.entities.items()
                   for p, kind, v, quals, cid in e["claims"] if p == M.P1082), reverse=True)[:20]
    mix.append(("order_limit",
                "SELECT ?x ?pop WHERE { ?x wdt:P1082 ?pop } ORDER BY DESC(?pop) LIMIT 20",
                {"list": [(M.q(i), M.qty_term(str(v))) for v, i in pops]}))

    rows = []
    members = [int(s.split("|")[1].rsplit("Q", 1)[1]) for (p, s), cs in link.items()
               if p == P(M.P31) for c in cs if c == M.q(big_class)]
    for x in members:
        if link.get((P(1376), M.q(x))):
            continue
        ds = _objs(ix, M.q(x), P(M.P571))
        rows += [(M.q(x), d) for d in ds] or [(M.q(x), "")]
    mix.append(("optional_minus",
                f"SELECT ?x ?d WHERE {{ ?x wdt:P31 wd:Q{big_class} . OPTIONAL {{ ?x wdt:P571 ?d }} "
                f"MINUS {{ ?x wdt:P1376 ?z }} }}", _expect(rows)))

    mix.append(("distinct",
                "SELECT DISTINCT ?y WHERE { ?x wdt:P47 ?y }",
                _expect({(o,) for (p, s), os in link.items() if p == P(47) for o in os})))

    rows = [(M.q(x), M.lit(label_of(st.entities[x], ("fr", "de", "en"))))
            for (p, s), cs in link.items() if p == P(M.P31) for c in cs if c == M.q(small_class)
            for x in [int(s.split("|")[1].rsplit("Q", 1)[1])]]
    mix.append(("label_class",
                f"SELECT ?x ?xLabel WHERE {{ ?x wdt:P31 wd:Q{small_class} . SERVICE wikibase:label "
                f"{{ bd:serviceParam wikibase:language \"fr,de,en\". }} }}", _expect(rows)))

    rows = [(x, z) for (p, x), ys in link.items() if p == P(47)
            for y in ys for z in link.get((P(131), y), [])]
    mix.append(("path_seq", "SELECT ?x ?z WHERE { ?x wdt:P47/wdt:P131 ?z }", _expect(rows)))

    rows = [(s, p, o) for (s, p, o, g), n in st.quads.items() if o.startswith("uri|") for _ in range(n)]
    mix.append(("big_result", "SELECT ?s ?p ?o WHERE { ?s ?p ?o . FILTER(ISIRI(?o)) }", _expect(rows)))
    return mix


# ---- checking ----------------------------------------------------------------
def rows_of(body):
    res = json.loads(body)
    vs = res["head"]["vars"]
    return [tuple(M.norm_binding(b, v) for v in vs) for b in res["results"]["bindings"]]


def check(expect, body):
    """None if `body` (SPARQL-Results-JSON text) matches `expect`."""
    try:
        rows = rows_of(body)
    except (ValueError, KeyError, TypeError) as e:
        return f"unparseable result: {e}: {body[:200]!r}"
    if "list" in expect:
        if rows != [tuple(r) for r in expect["list"]]:
            return f"ordered rows differ: got {rows[:3]}… want {expect['list'][:3]}…"
        return None
    if "bag" in expect:
        got = Counter(rows)
        if got != expect["bag"]:
            missing = list((expect["bag"] - got).items())[:3]
            extra = list((got - expect["bag"]).items())[:3]
            return f"rows differ: missing {missing} extra {extra}"
        return None
    n, s = len(rows), M.checksum(rows)
    if n != expect["count"] or s != expect["sum"]:
        return f"count/checksum differ: got {n}/{s} want {expect['count']}/{expect['sum']}"
    return None


def n_rows(expect):
    if "list" in expect:
        return len(expect["list"])
    if "bag" in expect:
        return sum(expect["bag"].values())
    return expect["count"]
