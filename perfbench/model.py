"""Seeded Wikidata-shaped entity model, its JSON dump, and its quads.

The model is the single source of truth: the dump the program ingests is
written from it, and every expected answer is computed from it in plain
Python (oracle.py), never from the program's output. A quad in the model
is a tuple ``(s, p, o, g)`` of normalized terms (the helpers below); ``g``
is the entity document the quad came from (the store's named graph).

Normalized terms are the W3C SPARQL-Results-JSON fields the server
renders, joined as ``type|value|lang|datatype``, so a binding from the
server and a term from the model compare as plain strings.
"""
import hashlib
import json
import random

WD = "http://www.wikidata.org/entity/"
PROP = "http://www.wikidata.org/prop/"
STMT = "http://www.wikidata.org/entity/statement/"
XSD = "http://www.w3.org/2001/XMLSchema#"

# entity-link properties, most used first: claims draw them zipf-skewed
LINK_PROPS = (47, 17, 131, 150, 361, 527, 138, 36, 1376, 155, 156, 463)
P31, P279, P571, P1082, P585, P580, P214 = 31, 279, 571, 1082, 585, 580, 214
WORDS = ("river", "hill", "café", "Straße", "tower", "lake", "village",
         "bridge", "école", "market", "harbour", "forest", "island", "gate")


def q(n):
    return f"uri|{WD}Q{n}||"


def prop(n):
    return f"uri|{PROP}P{n}||"


def lit(v, dt=""):
    return f"literal|{v}||{dt}"


def stmt(claim_id):
    return f"uri|{STMT}{claim_id.replace('$', '-')}||"


def time_term(iso):
    return lit(iso, XSD + "dateTime")


def qty_term(amount):
    return lit(amount.lstrip("+"), XSD + "decimal")


def int_term(n):
    return lit(str(n), XSD + "integer")


def label_pred(kind, lang):
    return lit(f"{kind}: {lang}")


def norm_binding(b, var):
    """Normalized term of `var` in one JSON binding, or '' if unbound."""
    t = b.get(var)
    if t is None:
        return ""
    return f"{t['type']}|{t['value']}|{t.get('xml:lang', '')}|{t.get('datatype', '')}"


def zipf_weights(n, s):
    return [1.0 / (r + 1) ** s for r in range(n)]


class Model:
    """The entity model of one seed: `entities` maps a Q number to its
    document (labels, descriptions, aliases, claims). Built once from the
    seed; the dump and the delta dump both come from it.
    """

    def __init__(self, seed, n_entities, n_classes=24):
        self.seed = seed
        self.rng = random.Random(seed)
        self.n = n_entities
        self.n_classes = n_classes
        self._claim_seq = 0
        self._pop_seq = 0
        # zipf ranks over entities: rank r -> entity number, permuted by seed
        self.ranked = list(range(1, n_entities + 1))
        self.rng.shuffle(self.ranked)
        self.entity_w = zipf_weights(n_entities, 0.9)
        self.class_w = zipf_weights(n_classes - 1, 1.0)
        self.prop_w = zipf_weights(len(LINK_PROPS), 1.2)
        self.entities = {}
        for i in range(1, n_entities + 1):
            self.entities[i] = self._entity(i)

    # ---- generation ------------------------------------------------------
    def _claim_id(self, i):
        self._claim_seq += 1
        h = hashlib.sha1(f"{self.seed}:{self._claim_seq}".encode()).hexdigest().upper()
        return f"Q{i}${h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"

    def _time(self, year_lo=1000, year_hi=2020):
        y = self.rng.randint(year_lo, year_hi)
        return f"+{y:04d}-{self.rng.randint(1, 12):02d}-{self.rng.randint(1, 28):02d}T00:00:00Z"

    def draw_entity(self, rng=None):
        rng = rng or self.rng
        return self.ranked[rng.choices(range(self.n), self.entity_w)[0]]

    def _entity(self, i, link_pool=None):
        rng = self.rng
        word = WORDS[i % len(WORDS)]
        labels = {"en": f"{word} {i}"}
        if rng.random() < 0.6:
            labels["de"] = f"{word} {i} de"
        if rng.random() < 0.35:
            labels["fr"] = f"« {word} » {i}"
        descs = {}
        if rng.random() < 0.7:
            descs["en"] = f"a {word} numbered {i}"
        if rng.random() < 0.3:
            descs["de"] = f"ein \"{word}\" Nr. {i}"
        aliases = {"en": [f"{word}-{i}-alias{k}" for k in range(rng.choice((0, 0, 1, 2)))]}
        claims = []  # (prop, kind, value, qualifiers[(prop, kind, value)])
        if i <= self.n_classes:
            if i > 1:
                parents = {rng.randint(1, i - 1)}
                if i > 3 and rng.random() < 0.25:
                    parents.add(rng.randint(1, i - 1))
                for par in sorted(parents):
                    claims.append((P279, "item", par, []))
        else:
            classes = {2 + rng.choices(range(self.n_classes - 1), self.class_w)[0] - 1}
            if rng.random() < 0.1:
                classes.add(rng.randint(1, self.n_classes))
            for c in sorted(classes):
                claims.append((P31, "item", c, []))
            seen = set()
            for _ in range(rng.choice((0, 1, 1, 2, 2, 3, 4, 5))):
                p = LINK_PROPS[rng.choices(range(len(LINK_PROPS)), self.prop_w)[0]]
                t = self.draw_entity() if link_pool is None else rng.choice(link_pool)
                if t == i or (p, t) in seen:
                    continue
                seen.add((p, t))
                quals = [(P580, "time", self._time(1800))] if rng.random() < 0.25 else []
                claims.append((p, "item", t, quals))
            if rng.random() < 0.6:
                claims.append((P571, "time", self._time(), []))
            if rng.random() < 0.4:
                for _ in range(rng.choice((1, 1, 2))):
                    self._pop_seq += 1
                    amount = f"+{1000 + self._pop_seq * 7919 + rng.randint(0, 7000)}"
                    claims.append((P1082, "quantity", amount,
                                   [(P585, "time", self._time(1950))]))
            if rng.random() < 0.5:
                claims.append((P214, "external-id", f"VIAF{i * 31 + 7}", []))
        return {
            "labels": labels, "descriptions": descs, "aliases": aliases,
            "claims": [(p, k, v, qs, self._claim_id(i)) for p, k, v, qs in claims],
        }

    def extend(self, first, count, link_pool):
        """New entities `first..first+count-1` linking into `link_pool`
        (the delta dump's entities)."""
        out = {}
        for i in range(first, first + count):
            out[i] = self._entity(i, link_pool)
        return out

    # ---- dump ------------------------------------------------------------
    @staticmethod
    def _snak(p, kind, v):
        prop_id = f"P{p}"
        if kind == "item":
            dv = {"value": {"entity-type": "item", "id": f"Q{v}"}, "type": "wikibase-entityid"}
            dt = "wikibase-item"
        elif kind == "time":
            dv = {"value": {"time": v, "timezone": 0, "before": 0, "after": 0, "precision": 11,
                            "calendarmodel": "http://www.wikidata.org/entity/Q1985727"},
                  "type": "time"}
            dt = "time"
        elif kind == "quantity":
            dv = {"value": {"amount": v, "unit": "1"}, "type": "quantity"}
            dt = "quantity"
        else:
            dv = {"value": v, "type": "string"}
            dt = "external-id"
        return {"snaktype": "value", "property": prop_id, "datavalue": dv, "datatype": dt}

    @classmethod
    def entity_json(cls, i, e):
        claims = {}
        for p, kind, v, quals, cid in e["claims"]:
            c = {"mainsnak": cls._snak(p, kind, v), "type": "statement", "id": cid, "rank": "normal"}
            if quals:
                qd = {}
                for qp, qk, qv in quals:
                    qd.setdefault(f"P{qp}", []).append(cls._snak(qp, qk, qv))
                c["qualifiers"] = qd
            claims.setdefault(f"P{p}", []).append(c)
        return {
            "type": "item", "id": f"Q{i}",
            "labels": {l: {"language": l, "value": v} for l, v in e["labels"].items()},
            "descriptions": {l: {"language": l, "value": v} for l, v in e["descriptions"].items()},
            "aliases": {l: [{"language": l, "value": a} for a in vs]
                        for l, vs in e["aliases"].items() if vs},
            "claims": claims,
        }

    @staticmethod
    def malformed_lines(base):
        """Lines the parser must skip whole, with ids outside the model."""
        ok_claim = {"mainsnak": {"snaktype": "value", "property": "P47", "datatype": "wikibase-item",
                                 "datavalue": {"value": {"id": "Q1"}, "type": "wikibase-entityid"}},
                    "type": "statement", "id": f"Q{base}$X", "rank": "normal"}
        doc = lambda i, **kw: json.dumps(dict({"type": "item", "id": f"Q{i}",
                                               "labels": {"en": {"language": "en", "value": f"bad {i}"}},
                                               "descriptions": {}, "aliases": {},
                                               "claims": {"P47": [ok_claim]}}, **kw))
        bad_dt = dict(ok_claim, mainsnak=dict(ok_claim["mainsnak"], datatype="no-such-type"))
        bad_time = {"mainsnak": Model._snak(P571, "time", "+2020-1-01T00:00:00Z"),
                    "type": "statement", "id": f"Q{base + 1}$Y", "rank": "normal"}
        no_rank = {k: v for k, v in ok_claim.items() if k != "rank"}
        lines = [
            doc(base, claims={"P47": [bad_dt]}),
            doc(base + 1, claims={"P571": [bad_time]}),
            json.dumps({"type": "item", "id": f"Q{base + 2}", "labels": {}, "descriptions": {},
                        "claims": {}}),  # no "aliases": a required field
            doc(base + 3)[:-25],  # truncated JSON
            doc(base + 4, claims={"P47": [no_rank]}),
        ]
        return lines

    def write_dump(self, path, entities, malformed_base=None):
        with open(path, "w", encoding="utf-8") as f:
            f.write("[\n")
            items = list(entities.items())
            bad = self.malformed_lines(malformed_base) if malformed_base else []
            for k, (i, e) in enumerate(items):
                f.write(json.dumps(self.entity_json(i, e), ensure_ascii=False) + ",\n")
                if bad and k % max(1, len(items) // len(bad)) == 0:
                    f.write(bad.pop() + ",\n")
            for line in bad:
                f.write(line + ",\n")
            f.write("]\n")

    def write_model(self, path):
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"seed": self.seed, "n": self.n, "n_classes": self.n_classes,
                       "entities": self.entities}, f, ensure_ascii=False)


# ---- quads -----------------------------------------------------------------
def value_term(kind, v):
    if kind == "item":
        return q(v)
    if kind == "time":
        return time_term(v[1:] if v.startswith("+") else v)
    if kind == "quantity":
        return qty_term(v)
    return lit(v)


def entity_quads(i, e):
    """The quads the parser emits for one entity document."""
    s = q(i)
    out = []
    for lang, v in e["labels"].items():
        out.append((s, label_pred("Label", lang), lit(v), s))
    for lang, v in e["descriptions"].items():
        out.append((s, label_pred("Description", lang), lit(v), s))
    for lang, vs in e["aliases"].items():
        for v in vs:
            out.append((s, label_pred("Alias", lang), lit(v), s))
    for p, kind, v, quals, cid in e["claims"]:
        out.append((s, prop(p), value_term(kind, v), s))
        for qp, qk, qv in quals:
            out.append((stmt(cid), prop(qp), value_term(qk, qv), s))
    return out


class Store:
    """The live quad multiset the program should hold, with indexes the
    expected answers read."""

    def __init__(self, entities):
        self.entities = dict(entities)
        self.quads = {}
        for i, e in self.entities.items():
            for qd in entity_quads(i, e):
                self.quads[qd] = self.quads.get(qd, 0) + 1

    def add_entities(self, ents):
        for i, e in ents.items():
            self.entities[i] = e
            for qd in entity_quads(i, e):
                self.quads[qd] = self.quads.get(qd, 0) + 1

    def add(self, quad):
        self.quads[quad] = self.quads.get(quad, 0) + 1

    def remove(self, quad):
        self.quads.pop(quad, None)

    def count(self):
        return sum(self.quads.values())

    def rows(self):
        for qd, n in self.quads.items():
            for _ in range(n):
                yield qd


def checksum(rows):
    """Order-independent checksum of a bag of normalized rows."""
    acc = 0
    for r in rows:
        acc = (acc + int.from_bytes(hashlib.blake2b("\x1f".join(r).encode(), digest_size=8).digest(), "big")) % (1 << 64)
    return acc
