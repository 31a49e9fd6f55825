#!/usr/bin/env python3
"""Regenerate a run's inputs and expectations from a seed, and self-test
the oracle.

    python3 perfbench/selftest.py --workload analytic --seed 1 [--out DIR]

Writes the dump, the model beside it, the delta dump and expected.json
(every analytic-mix query and a sample of lookups with their expected
answers) to DIR, by default perfbench/.work/inputs-<workload>-<seed>.

Then it checks the checker, without the program:

1. an independent path computes the same answers with DuckDB SQL over the
   model's quads, renders them as SPARQL-Results-JSON, and the oracle's
   check must accept every one of them;
2. one label of the model is altered and one expected row is dropped; the
   check must then reject the answers it accepted before.

Exits 0 when both hold, 1 otherwise.
"""
import argparse
import json
import os
import random
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import model as M  # noqa: E402
import oracle as O  # noqa: E402
import run as R  # noqa: E402


def inputs(workload, seed, out):
    """The run's inputs and expectations, exactly as run.py makes them."""
    wl = R.WORKLOADS[workload]
    m = M.Model(seed, wl["entities"])
    os.makedirs(out, exist_ok=True)
    m.write_dump(os.path.join(out, "dump.json"), m.entities, malformed_base=R.BAD_BASE)
    m.write_model(os.path.join(out, "model.json"))
    ix = O.Index(M.Store(m.entities))
    sizes = R.class_sizes(ix, m.n_classes)
    by_size = sorted(sizes, key=lambda c: (-sizes[c], c))
    touch = set(R.touch_set(m, ix, {by_size[0], by_size[len(by_size) // 2]}, 400))
    m.write_dump(os.path.join(out, "delta.json"),
                 m.extend(R.DELTA_BASE, R.DELTA_ENTITIES, [e for e in m.ranked[:500] if e not in touch]))
    rng = random.Random(seed)
    queries = [(name, t, e) for name, t, e in O.analytic_mix(ix, by_size[0], by_size[len(by_size) // 2])]
    queries += [(s, *O.lookup(s, ix, *R.pick(m, rng, touch, s, sizes)))
                for _ in range(3) for s in O.LOOKUP_SHAPES]
    queries.append(("count_all", *O.count_all(ix)))
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as f:
        json.dump([{"name": n, "query": t, "expect": {k: (sorted(map(list, v.elements()))
                                                         if k == "bag" else v)
                                                     for k, v in e.items()}}
                   for n, t, e in queries], f, ensure_ascii=False)
    return m, ix, by_size


def body(vars_, rows):
    """SPARQL-Results-JSON text for rows of normalized terms."""
    bindings = []
    for r in rows:
        b = {}
        for v, term in zip(vars_, r):
            if term:
                typ, val, lang, dt = term.split("|", 3)
                b[v] = dict({"type": typ, "value": val},
                            **({"xml:lang": lang} if lang else {}), **({"datatype": dt} if dt else {}))
        bindings.append(b)
    return json.dumps({"head": {"vars": vars_}, "results": {"bindings": bindings}})


def duck_answers(ix, m, big_class):
    """Answers to a set of queries from SQL over the quads: (name, builder
    args, vars, rows). The oracle's expectations must match them."""
    db = duckdb.connect()
    db.execute("CREATE TABLE quads (s VARCHAR, p VARCHAR, o VARCHAR, g VARCHAR)")
    db.executemany("INSERT INTO quads VALUES (?, ?, ?, ?)", list(ix.store.rows()))
    x = next(e for e in m.ranked if e > m.n_classes)
    p31, p47 = M.prop(M.P31), M.prop(47)
    out = [
        ("page", [x], ["p", "o"], db.execute("SELECT p, o FROM quads WHERE s = ?", [M.q(x)]).fetchall()),
        ("reverse", [x], ["s", "p"], db.execute("SELECT s, p FROM quads WHERE o = ?", [M.q(x)]).fetchall()),
        ("graph", [x], ["s", "p", "o"],
         db.execute("SELECT s, p, o FROM quads WHERE g = ?", [M.q(x)]).fetchall()),
        ("class_count", [big_class], ["n"],
         [(M.int_term(n),) for (n,) in db.execute(
             "SELECT count(*) FROM quads WHERE p = ? AND o = ?", [p31, M.q(big_class)]).fetchall()]),
        ("group_join", None, ["c", "n"],
         [(c, M.int_term(n)) for c, n in db.execute(
             "SELECT a.o, count(*) FROM quads a JOIN quads b ON a.s = b.s "
             "WHERE a.p = ? AND b.p = ? GROUP BY a.o", [p31, p47]).fetchall()]),
        ("big_result", None, ["s", "p", "o"],
         db.execute("SELECT s, p, o FROM quads WHERE o LIKE 'uri|%'").fetchall()),
    ]
    return out


def expectation(name, args, ix, big_class, small_class):
    if args is not None:
        return O.lookup(name, ix, *args)[1]
    return next(e for n, _, e in O.analytic_mix(ix, big_class, small_class) if n == name)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(R.WORKLOADS), default="analytic")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    out = a.out or os.path.join(BENCH, ".work", f"inputs-{a.workload}-{a.seed}")
    m, ix, by_size = inputs(a.workload, a.seed, out)
    big, small = by_size[0], by_size[len(by_size) // 2]
    print(f"inputs and expectations written to {out}")
    ok = True
    answers = duck_answers(ix, m, big)
    for name, args, vars_, rows in answers:
        err = O.check(expectation(name, args, ix, big, small), body(vars_, rows))
        print(f"duckdb vs oracle {name}: {'agree' if err is None else err}")
        ok &= err is None

    # altered inputs must be caught
    name, args, vars_, rows = answers[0]
    ent = m.entities[args[0]]
    ent["labels"]["en"] += " (altered)"
    altered = O.Index(M.Store(m.entities))
    err = O.check(expectation(name, args, altered, big, small), body(vars_, rows))
    print(f"altered label: {'caught: ' + err if err else 'NOT CAUGHT'}")
    ok &= err is not None
    expect = expectation("graph", answers[2][1], ix, big, small)
    dropped = dict(expect)
    if "bag" in dropped:
        bag = dropped["bag"].copy()
        bag[next(iter(bag))] -= 1
        dropped["bag"] = +bag
    else:
        dropped["count"] -= 1
    err = O.check(dropped, body(answers[2][2], answers[2][3]))
    print(f"dropped expected row: {'caught: ' + err if err else 'NOT CAUGHT'}")
    ok &= err is not None
    big_expect = dict(expectation("big_result", None, ix, big, small))
    big_expect["sum"] = (big_expect["sum"] + 1) % (1 << 64)
    err = O.check(big_expect, body(answers[5][2], answers[5][3]))
    print(f"altered checksum of a large result: {'caught: ' + err if err else 'NOT CAUGHT'}")
    ok &= err is not None
    print("self-test " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
