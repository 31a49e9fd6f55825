#!/usr/bin/env python3
"""Re-synthesize the Wikidata ingest fixtures from the committed stores.

Usage: python3 tools/derive_fixtures.py [repoDir]

Writes, under <repoDir>/data/fixtures/:
  first_5_lines.txt       a "[" ... "]"-framed entity dump rebuilt from
                          data/wikidata/statements.parquet in `ord` order
  form_sense_example.txt  data/wikidata-lex/dump.jsonl wrapped in the
                          API shape {"entities":{"L4589": <line>}}

Every field WikidataParser keeps is recoverable from the term keys
(t:iso|prec|before|after|tz|cal, q:amount|unit|ub|lb, c:lat|lon|globe|prec,
mo:lang:text, NE:<claim id>, anonymous-edge order), so ingesting the dump
reproduces the store row for row; SparqlFixtureSpec pins that. What the
parser drops before any quad exists cannot come back: ranks (written as
"normal"), somevalue vs novalue (written as "somevalue"), the datatype of
value-less snaks (written as "string"), references, sitelinks, the "$" in
claim ids, fields outside the parsed schema (hashes, pageid, ...), and the
original whitespace and key order outside the kept maps.
Dev tooling only — the shipped library is pure Scala/Spark.
"""
import json
import os
import sys

import pyarrow.parquet as pq

ENTITY = "http://www.wikidata.org/entity/"
CALENDARS = {"G": ENTITY + "Q1985727", "J": ENTITY + "Q1985786"}
# term kind -> snak datatype, for the string-valued and entity-valued kinds
STRING_KINDS = {
    "str": "string", "ident": "external-id", "url": "url", "geo": "geo-shape",
    "media": "commonsMedia", "math": "math", "music": "musical-notation",
    "tab": "tabular-data",
}
ENTITY_KINDS = {"Q": "wikibase-item", "P": "wikibase-property", "L": "wikibase-lexeme"}


def entity_id(t):
    """Q:31 -> "Q31" (entity term keys are <letter>:<number>)."""
    letter, num = t["key"].split(":", 1)
    return letter + num


def snak(prop, o):
    """Term `o` as a dump snak on property `prop`."""
    kind = o["kind"]
    if kind == "null":
        return {"snaktype": "somevalue", "property": prop, "datatype": "string"}
    if kind in STRING_KINDS:
        datatype, value, vtype = STRING_KINDS[kind], o["str"], "string"
    elif kind in ENTITY_KINDS:
        datatype, value = ENTITY_KINDS[kind], {"id": entity_id(o)}
        vtype = "wikibase-entityid"
    elif kind == "mono":
        datatype = vtype = "monolingualtext"
        value = {"text": o["str"], "language": o["lang"]}
    elif kind == "quant":
        datatype = vtype = "quantity"
        amount, unit, ub, lb = o["key"][2:].split("|")
        value = {"amount": amount, "unit": unit}
        if ub:
            value["upperBound"] = ub
        if lb:
            value["lowerBound"] = lb
    elif kind == "time":
        datatype = vtype = "time"
        iso, prec, before, after, tz, cal = o["key"][2:].split("|")
        value = {"time": iso if iso.startswith("-") else "+" + iso,
                 "timezone": int(tz), "before": int(before), "after": int(after),
                 "precision": int(prec), "calendarmodel": CALENDARS[cal]}
    elif kind == "coord":
        datatype = vtype = "globe-coordinate"
        lat, lon, globe, prec = o["key"][2:].split("|")
        value = {"latitude": float(lat), "longitude": float(lon),
                 "precision": float(prec) if prec else None,
                 "globe": ENTITY + "Q" + globe}
    else:
        raise ValueError(f"no snak encoding for object kind {kind!r}")
    return {"snaktype": "value", "property": prop,
            "datavalue": {"value": value, "type": vtype}, "datatype": datatype}


def entity_docs(rows):
    """Statement rows in `ord` order -> one dump object per graph."""
    docs, claims_by_edge = {}, {}
    for r in rows:
        s, p, o = r["s"], r["p"], r["o"]
        gid = entity_id(r["graph"])
        doc = docs.setdefault(gid, {
            "type": "item", "id": gid, "labels": {}, "descriptions": {},
            "aliases": {}, "claims": {}})
        kind = p["kind"]
        if kind in ("label", "desc"):
            lang = p["str"]
            field = "labels" if kind == "label" else "descriptions"
            doc[field][lang] = {"language": lang, "value": o["str"]}
        elif kind == "alias":
            lang = p["str"]
            doc["aliases"].setdefault(lang, []).append({"language": lang, "value": o["str"]})
        elif s["kind"] == "nedge":
            # qualifier: subject is the parent claim's named edge
            prop = entity_id(p)
            claim = claims_by_edge[s["key"]]
            claim.setdefault("qualifiers", {}).setdefault(prop, []).append(snak(prop, o))
        else:
            prop = entity_id(p)
            claim = {"mainsnak": snak(prop, o), "type": "statement",
                     "id": r["id"]["str"], "rank": "normal"}
            doc["claims"].setdefault(prop, []).append(claim)
            claims_by_edge[r["id"]["key"]] = claim
    return list(docs.values())


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "data", "fixtures")
    os.makedirs(out, exist_ok=True)

    table = pq.read_table(os.path.join(repo, "data", "wikidata", "statements.parquet"),
                          columns=["s", "p", "o", "id", "graph", "ord"])
    rows = sorted(table.to_pylist(), key=lambda r: r["ord"])
    lines = [json.dumps(d, ensure_ascii=False, separators=(",", ":"))
             for d in entity_docs(rows)]
    with open(os.path.join(out, "first_5_lines.txt"), "w", encoding="utf-8") as f:
        f.write("[\n" + ",\n".join(lines) + "\n]\n")

    with open(os.path.join(repo, "data", "wikidata-lex", "dump.jsonl"), encoding="utf-8") as f:
        (lexeme,) = f.read().splitlines()
    lid = json.loads(lexeme)["id"]
    with open(os.path.join(out, "form_sense_example.txt"), "w", encoding="utf-8") as f:
        f.write('{"entities":{"%s":%s}}\n' % (lid, lexeme))


if __name__ == "__main__":
    main()
