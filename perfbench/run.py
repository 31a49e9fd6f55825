#!/usr/bin/env python3
"""Wikidata SPARQL service benchmark.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It builds the program of that checkout
(or verifies the build is current), generates a Wikidata-shaped dump from
the seed, builds the indexed store with graft.Main create-db/create-index,
serves it with QueryServer, drives the workload's traffic for --seconds,
then appends a delta dump, vacuums and compacts. Every answer is checked
against expectations computed from the generator's model. The last line
of stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics, or with --trace 1 the per-layer ones). A summary with
the layer self-times goes to stderr. See perfbench/README.md.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, BENCH)
import model as M  # noqa: E402
import oracle as O  # noqa: E402

BUILD = os.path.join(BENCH, ".build")
NPROC = len(os.sched_getaffinity(0))

# store size and traffic of each workload (README: "Workloads")
WORKLOADS = {
    "lookup": {"entities": 2000, "readers": NPROC, "mix": False},
    "analytic": {"entities": 2500, "readers": 1, "mix": True},
}
UPDATES = 4  # the traced run's write batch
DELTA_ENTITIES = 40
NEW_BASE = 10_000_000      # Q ids of entities the writer inserts
DELTA_BASE = 20_000_000    # Q ids of the delta dump's entities
BAD_BASE = 30_000_000      # Q ids of the malformed dump lines
REQUEST_TIMEOUT_S = 60
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar", "jdk.httpserver/sun.net.httpserver"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log("perfbench: " + msg)
    sys.exit(2)


# ---- build -------------------------------------------------------------------
def source_digest():
    h = hashlib.sha256()
    for top in ("build.sbt", "project", os.path.join("src", "main"), os.path.join(BENCH, "host")):
        top = os.path.join(ROOT, top)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            and "project" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the checkout's program and the host, unless the stamp says
    both were built from the current sources. Returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no program here: run from the root of a checkout (build.sbt and src/main)")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest and all(os.path.exists(p) for p in s["classpath"].split(os.pathsep)[:2]):
            return s["classpath"]
    log("perfbench: building the program (sbt compile) and the host")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
           if os.path.exists(repos) else [])))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=ROOT, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if not l.startswith("[") and "classes" in l]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        die("sbt build failed")
    cp = lines[-1].strip()
    hostdir = os.path.join(BUILD, "host")
    shutil.rmtree(hostdir, ignore_errors=True)
    os.makedirs(hostdir)
    r = subprocess.run(["javac", "-nowarn", "-d", hostdir, "-cp", cp,
                        os.path.join(BENCH, "host", "Host.java")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        die("javac of the host failed")
    classpath = os.pathsep.join([hostdir, cp])
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def heap_size():
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(6, max(2, kb // (4 * 1024 * 1024)))}g"


# ---- the host process --------------------------------------------------------
class Host:
    """graft running in one JVM (host/Host.java), driven line by line."""

    def __init__(self, classpath, work):
        self.t_launch = time.perf_counter()
        self.log = open(os.path.join(work, "host.log"), "w")
        cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dspark.local.dir={work}/spark", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "Host"])
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True,
                                     env=dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC)))
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def cmd(self, timeout=170, **kw):
        self.proc.stdin.write(json.dumps(kw) + "\n")
        self.proc.stdin.flush()
        deadline = time.time() + timeout
        while True:
            line = self.lines.get(timeout=max(0.1, deadline - time.time()))
            if line is None:
                raise RuntimeError(f"host exited during {kw.get('op')}")
            if line.startswith("@@ "):
                return json.loads(line[3:])

    def main(self, *args, group=None):
        r = self.cmd(op="main", args=list(args), group=group)
        if r["code"] != 0:
            raise RuntimeError(f"graft.Main {args[0]} exited {r['code']}")
        return r

    def stop(self):
        try:
            if self.proc.poll() is None:
                self.cmd(op="stop", timeout=60)
        except Exception as e:  # a host that cannot stop cleanly is killed below
            log(f"perfbench: host stop: {e}")
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


# ---- HTTP client ---------------------------------------------------------------
class Client:
    """One keep-alive connection; every request is timed and its failures
    (non-200, timeout, transport error) are counted by the caller."""

    def __init__(self, port, read_path, write_path):
        self.port, self.read_path, self.write_path = port, read_path, write_path
        self.conn = None

    def _post(self, path, body, ctype, retry):
        for attempt in (0, 1) if retry else (1,):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
            t0 = time.perf_counter()
            try:
                self.conn.request("POST", path, body.encode(), {"Content-Type": ctype})
                r = self.conn.getresponse()
                data = r.read()
                return r.status, data.decode("utf-8", "replace"), time.perf_counter() - t0
            except (http.client.RemoteDisconnected, BrokenPipeError, ConnectionResetError):
                self.conn.close()
                self.conn = None
                if attempt:
                    raise
            except Exception:
                self.conn.close()
                self.conn = None
                raise

    def query(self, text):
        return self._post(self.read_path, text, "application/sparql-query", retry=True)

    def update(self, text):
        # never re-sent: the server may have applied an update whose reply was lost
        return self._post(self.write_path, text, "application/sparql-update", retry=False)


class Tally:
    """Operations attempted/failed and wrong answers, shared by threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = self.failed = 0
        self.errors = []
        self.rows = self.json_bytes = self.queries = 0

    def op(self, ok, err=None, rows=0, nbytes=0):
        with self.lock:
            self.attempted += 1
            self.failed += 0 if ok else 1
            self.rows += rows
            self.json_bytes += nbytes
            self.queries += 1 if nbytes else 0
            if err:
                self.errors.append(err)

    def snap(self):
        with self.lock:
            return self.rows, self.json_bytes, self.queries


def run_query(client, tally, text, expect, what):
    """Send one read, check it; returns latency (s) or None if it failed."""
    try:
        status, body, lat = client.query(text)
    except Exception as e:
        tally.op(False, f"{what}: {type(e).__name__}: {e}")
        return None
    if status != 200:
        tally.op(False, f"{what}: HTTP {status}: {body[:200]}")
        return None
    err = O.check(expect, body)
    tally.op(True, f"{what}: {err} :: {text[:160]}" if err else None, O.n_rows(expect), len(body))
    return lat


# ---- the write stream ----------------------------------------------------------
def sparql_str(s):
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


class Writer:
    """Back-to-back /update requests: INSERT DATA of new labelled entities
    and DELETE DATA of existing German labels of the `touch` entities, no
    deleted quad ever re-inserted. Every acknowledgement's counts and a
    read-back of the touched entity are checked against the model, which
    takes each acknowledged update."""

    def __init__(self, ix, touch, seed):
        self.ix = ix
        self.deletable = [w for w in touch if "de" in ix.store.entities[w]["labels"]]
        random.Random(seed).shuffle(self.deletable)
        self.k = 0
        self.lat = []
        self.touched = set()
        self.pending = queue.Queue()
        self.files_dir = None  # set in traced runs: count files each update adds
        self.files_added = 0

    def _apply(self, quad, add):
        st, ix = self.ix.store, self.ix
        s, p, o, g = quad
        if add:
            st.add(quad)
        else:
            st.remove(quad)
        for idx, key in ((ix.by_s, s), (ix.by_o, o), (ix.by_g, g)):
            c = idx.setdefault(key, Counter())
            if add:
                c[quad] += 1
            else:
                c.pop(quad, None)

    def next_op(self):
        self.k += 1
        if self.k % 2 == 1 or not self.deletable:
            n = NEW_BASE + self.k
            en, de, desc = f"new {n} ü", f"neu {n}", 'inserted "%d"' % n
            quads = [(M.q(n), M.label_pred("Label", "en"), M.lit(en), ""),
                     (M.q(n), M.label_pred("Label", "de"), M.lit(de), ""),
                     (M.q(n), M.label_pred("Description", "en"), M.lit(desc), "")]
            text = (f"INSERT DATA {{ wd:Q{n} rdfs:label {sparql_str(en)}@en . "
                    f"wd:Q{n} rdfs:label {sparql_str(de)}@de . "
                    f"wd:Q{n} schema:description {sparql_str(desc)}@en }}")
            return n, text, quads, True, {"inserted": 3, "deleted": 0}
        w = self.deletable.pop()
        label = self.ix.store.entities[w]["labels"]["de"]
        quad = (M.q(w), M.label_pred("Label", "de"), M.lit(label), M.q(w))
        return w, f"DELETE DATA {{ wd:Q{w} rdfs:label {sparql_str(label)}@de }}", [quad], False, \
            {"inserted": 0, "deleted": 1}

    def one(self, client, tally):
        ent, text, quads, add, want = self.next_op()
        before = count_files(self.files_dir) if self.files_dir else 0
        try:
            status, body, lat = client.update(text)
        except Exception as e:
            tally.op(False, f"update: {type(e).__name__}: {e}")
            return
        if status != 200:
            tally.op(False, f"update: HTTP {status}: {body[:200]}")
            return
        ack = json.loads(body)
        err = None
        if ack.get("inserted") != want["inserted"] or ack.get("deleted") != want["deleted"]:
            err = f"update ack {ack} != {want} :: {text}"
        tally.op(True, err)
        self.lat.append(lat)
        if self.files_dir:
            self.files_added += count_files(self.files_dir) - before
        for qd in quads:
            self._apply(qd, add)
        self.touched.add(ent)
        # each update touches its own entity, so this read-back stays valid
        # whatever the writer acknowledges next
        self.pending.put(O.lookup("page", self.ix, ent))

    def read_back(self, client, tally):
        """Check one acknowledged update's entity, if one is pending."""
        try:
            text, expect = self.pending.get_nowait()
        except queue.Empty:
            return
        run_query(client, tally, text, expect, "read-your-writes")


# ---- the run -------------------------------------------------------------------
def touch_set(m, ix, mix_classes, n):
    """Entities the writer may change: the zipf tail, never a class and
    never a member of a class the analytic mix reads labels of."""
    out = []
    for e in reversed(m.ranked):
        if e <= m.n_classes:
            continue
        if any(c in mix_classes for c in O._objs(ix, M.q(e), M.prop(M.P31))):
            continue
        out.append(e)
        if len(out) == n:
            break
    return out


def class_sizes(ix, n_classes):
    return {c: sum(n for (s, p, o, g), n in ix.obj(M.q(c)).items() if p == M.prop(M.P31))
            for c in range(1, n_classes + 1)}


def count_files(d):
    return sum(1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(d) for f in fs)


def tombstone_rows(idx):
    path = os.path.join(idx, "tombstones.parquet")
    if not os.path.exists(path):
        return 0
    import duckdb
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


def tmp_entries():
    import glob
    return set(glob.glob("/tmp/graft-*")) | set(glob.glob("/tmp/spark-*"))


def cpu_ticks():
    """The host's aggregate CPU tick counters (user … steal), to report how
    much of the window the machine's CPUs were stolen by other guests."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def pct(xs, p):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(p * len(xs)))]


def run(args, classpath, work):
    wl = WORKLOADS[args.workload]
    trace = args.trace == 1
    tally = Tally()
    layer = {}
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace}

    # inputs: the dump, the model beside it, the delta dump
    m = M.Model(args.seed, wl["entities"])
    dump, delta = os.path.join(work, "dump.json"), os.path.join(work, "delta.json")
    m.write_dump(dump, m.entities, malformed_base=BAD_BASE)
    m.write_model(os.path.join(work, "model.json"))
    store = M.Store(m.entities)
    ix = O.Index(store)
    sizes = class_sizes(ix, m.n_classes)
    by_size = sorted(sizes, key=lambda c: (-sizes[c], c))
    big_class, small_class = by_size[0], by_size[len(by_size) // 2]
    touch = touch_set(m, ix, {big_class, small_class}, 400)
    touch_set_ = set(touch)
    delta_ents = m.extend(DELTA_BASE, DELTA_ENTITIES, [e for e in m.ranked[:500] if e not in touch_set_])
    m.write_dump(delta, delta_ents)

    flat, idx = os.path.join(work, "flat"), os.path.join(work, "idx")
    host = Host(classpath, work)
    traces = {}
    phase = {"generate": time.perf_counter() - T0}
    try:
        # ---- set-up: session, store build, serve, warm-up -------------------
        r = host.cmd(op="session")
        layer["session_s"] = r["secs"]
        report["parallelism"] = r["parallelism"]
        r = host.main("create-db", dump, flat)
        layer["create_db_s"] = r["secs"]
        layer["create_index_s"] = host.main("create-index", flat, idx)["secs"]
        ingested = int(r["out"].split()[1])
        if ingested != store.count():
            tally.errors.append(f"create-db reported {ingested} quads, the model has {store.count()}")
        layer["index_files"] = count_files(idx)
        srv = host.cmd(op="serve", dir=idx, trace=trace)
        port = srv["traced_port"] if trace else srv["port"]
        paths = ("/q", "/u") if trace else ("/query", "/update")
        client = Client(port, *paths)
        writer = Writer(ix, touch, args.seed)

        # warm-up: one pass of the mix, or two lookups from each client
        t_warm = time.perf_counter()
        mix = O.analytic_mix(ix, big_class, small_class) if wl["mix"] else None

        def warm_up(k):
            c = Client(port, *paths)
            rng = random.Random(-1 - args.seed * 1009 - k)
            work = ([(t, e) for _, t, e in mix] if mix else
                    [O.lookup(s, ix, *pick(m, rng, touch_set_, s, sizes))
                     for s in (O.LOOKUP_SHAPES[(k + 4 * j) % len(O.LOOKUP_SHAPES)] for j in (0, 1))])
            for text, expect in work:
                run_query(c, tally, text, expect, "warm-up")
        warmers = [threading.Thread(target=warm_up, args=(k,)) for k in range(wl["readers"])]
        for t in warmers:
            t.start()
        for t in warmers:
            t.join()
        run_query(client, tally, *O.count_all(ix), "warm-up")
        if trace:
            writer.one(client, tally)
            writer.read_back(client, tally)
        layer["warmup_s"] = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - host.t_launch
        phase["setup"] = setup_s
        heap = [host.cmd(op="gc")["heap_mb"]]
        if trace:
            host.cmd(op="trace")  # drop the set-up's spans

        # ---- the measured window --------------------------------------------
        reads, passes, by_shape = [], [], {}
        texts = Counter()

        def reader(k):
            # analytic: whole passes, a pass started before the deadline runs
            # to its end; lookup: one query is the unit of work
            c = Client(port, *paths)
            rng = random.Random(args.seed * 1009 + k)
            while time.perf_counter() < stop_at:
                t0, done = time.perf_counter(), True
                for name, text, expect in (mix or [(shape, *O.lookup(
                        shape, ix, *pick(m, rng, touch_set_, shape, sizes))) for shape in O.LOOKUP_SHAPES]):
                    if not mix:
                        if time.perf_counter() >= stop_at:
                            return
                        texts[text] += 1
                    lat = run_query(c, tally, text, expect, f"{args.workload} {name}")
                    done = done and lat is not None
                    if lat is not None:
                        reads.append(lat)
                        by_shape.setdefault(name, []).append(lat)
                if mix and done:
                    passes.append(time.perf_counter() - t0)

        threads = [threading.Thread(target=reader, args=(k,)) for k in range(wl["readers"])]
        snap0 = tally.snap()
        cpu0 = cpu_ticks()
        t_window = time.perf_counter()
        stop_at = t_window + args.seconds
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window_s = time.perf_counter() - t_window
        cpu1 = cpu_ticks()
        report["window_cpu_steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
        snap1 = tally.snap()
        window = {"rows": snap1[0] - snap0[0], "json_bytes": snap1[1] - snap0[1],
                  "queries": snap1[2] - snap0[2]}
        heap.append(host.cmd(op="gc")["heap_mb"])
        phase["window"] = window_s
        if not trace:
            run_query(client, tally, *O.count_all(ix), "end state")
        else:
            traces["window"] = host.cmd(op="trace")
            t_writes = time.perf_counter()
            writes_and_maintenance(host, client, tally, writer, store, delta, delta_ents, idx,
                                   layer, traces, heap)
            phase["writes+maintain+checks"] = time.perf_counter() - t_writes
    finally:
        host.stop()
    phase["total"] = time.perf_counter() - T0

    e2e = {
        "setup_s": (setup_s, "s"),
        "store_bytes_per_quad": (dir_bytes(idx) / store.count(), "B"),
        "peak_heap_mb": (max(heap), "MB"),
        "read_p50_ms": (statistics.median(reads) * 1000, "ms"),
        "read_qps": (len(reads) / window_s, "1/s"),
    }
    report.update({
        "reads": len(reads), "window_s": window_s,
        "read_p90_ms": pct(reads, 0.90) * 1000,
        "analytic_mix_s": statistics.median(passes) if passes else None,
        "passes_s": [round(x, 3) for x in passes],
        "distinct_texts": len(texts), "lookup_texts": sum(texts.values()),
        "repeat_share": 1 - len(texts) / sum(texts.values()) if texts else None,
        "shape_p50_ms": {k: round(statistics.median(v) * 1000, 1) for k, v in by_shape.items()},
        "quads": store.count(), "heap_mb": heap, "phases_s": phase, "errors": tally.errors[:10],
    })
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if trace:
        report["e2e_traced"] = {k: v for k, (v, u) in e2e.items()}
        metrics = per_layer(layer, window, traces, writer, report, args)
    return tally, metrics, report


def writes_and_maintenance(host, client, tally, writer, store, delta, delta_ents, idx,
                           layer, traces, heap):
    """The traced run's write side: a batch of updates, each read back
    before the next, then append the delta dump, vacuum and compact,
    checking the end state against the model after each step."""
    writer.files_dir = idx
    for _ in range(UPDATES):
        writer.one(client, tally)
        writer.read_back(client, tally)
    writer.files_dir = None
    traces["updates"] = host.cmd(op="trace")
    layer["files_before_maintain"] = count_files(idx)
    layer["tombstone_rows"] = tombstone_rows(idx)
    maint = {}
    maint["append_s"] = host.main("append-index", delta, idx, group="bench-m")["secs"]
    store.add_entities(delta_ents)
    ix2 = O.Index(store)
    sample = sorted(writer.touched)[-8:] + sorted(delta_ents)[:4]
    checks = [O.pages(ix2, sample)]

    def check_all(stage):
        for text, expect in checks:
            run_query(client, tally, text, expect, f"end state {stage}")
    check_all("after append")
    maint["vacuum_s"] = host.main("vacuum", idx, group="bench-m")["secs"]
    if os.path.exists(os.path.join(idx, "tombstones.parquet")):
        tally.errors.append("tombstones left after vacuum")
    check_all("after vacuum")
    maint["compact_s"] = host.main("compact-index", idx, group="bench-m")["secs"]
    layer.update(maint)
    traces["maintain"] = host.cmd(op="trace")
    checks.append(O.count_all(ix2))
    check_all("after compact")
    layer["files_after_maintain"] = count_files(idx)
    heap.append(host.cmd(op="gc")["heap_mb"])


def pick(m, rng, avoid, shape, sizes):
    """Zipf-drawn constants for a lookup shape, never a writer-touched entity."""
    def ent(pred=lambda e: True):
        while True:
            e = m.draw_entity(rng)
            if e not in avoid and pred(e):
                return (e,)
    if shape == "class_count":
        return (rng.choice([c for c in sizes if sizes[c]]),)
    if shape == "qualifier":
        return ent(lambda e: any(c[0] == M.P1082 for c in m.entities[e]["claims"]))
    if shape == "class_path":
        return ent(lambda e: e > m.n_classes)
    if shape == "labels":
        return ent() + ent()
    return ent()


# ---- traced run: spans -> layer self-times and per-layer metrics ---------------
SPAN_LAYERS = ("parse", "build", "optimize", "plan", "execute_render")


def self_times(trace):
    """Per request: each span's duration, and the time Spark jobs of that
    request ran inside its execute_render span (ms)."""
    reqs = {}
    for sid, parent, req, name, start, end in trace["spans"]:
        reqs.setdefault(req, {})[name] = (start / 1e6, end / 1e6)
    jobs = {}
    for req, t0, t1 in trace["jobs"]:
        jobs.setdefault(req, []).append((t0, t1))
    out = []
    for req, sp in reqs.items():
        d = {k: t1 - t0 for k, (t0, t1) in sp.items()}
        if "execute_render" in sp:
            lo, hi = sp["execute_render"]
            covered, last = 0.0, lo
            for t0, t1 in sorted(jobs.get(req, [])):
                t0, t1 = max(t0, last), min(t1, hi)
                if t1 > t0:
                    covered += t1 - t0
                    last = t1
            d["jobs"] = covered
        out.append(d)
    return out


PER_LAYER_UNITS = {
    "session_s": "s", "create_db_s": "s", "create_index_s": "s", "index_files": "count",
    "warmup_s": "s", "parse_ms": "ms", "translate_ms": "ms", "optimize_ms": "ms",
    "physical_plan_ms": "ms", "jobs_per_query": "count", "stages_per_query": "count",
    "tasks_per_query": "count", "task_busy_ms_per_query": "ms", "shuffle_bytes_per_query": "B",
    "spill_bytes_per_query": "B", "rows_read_per_row_returned": "count", "render_ms": "ms",
    "json_bytes_per_query": "B", "update_jobs_per_call": "count",
    "update_files_added_per_call": "count", "append_s": "s", "vacuum_s": "s", "compact_s": "s",
    "maintain_bytes_written": "B", "tombstone_rows": "count", "files_before_maintain": "count",
    "files_after_maintain": "count"}


def per_layer(layer, window, traces, writer, report, args):
    reqs = [r for r in self_times(traces["window"]) if "request" in r]
    n = max(1, len(reqs))
    mean = lambda k: sum(r.get(k, 0.0) for r in reqs) / n
    q = traces["window"]["spark"].get("q", {})
    upd_trace = traces.get("updates", traces["window"])
    u = upd_trace["spark"].get("u", {})
    n_upd = max(1, sum(1 for sp in upd_trace["spans"] if sp[3] == "update"))
    out = dict(layer)
    out.update({
        "parse_ms": mean("parse"),
        "translate_ms": max(0.0, mean("build") - mean("parse")),
        "optimize_ms": mean("optimize"),
        "physical_plan_ms": mean("plan"),
        "jobs_per_query": q.get("jobs", 0) / n,
        "stages_per_query": q.get("stages", 0) / n,
        "tasks_per_query": q.get("tasks", 0) / n,
        "task_busy_ms_per_query": q.get("busy_ms", 0) / n,
        "shuffle_bytes_per_query": q.get("shuffle_bytes", 0) / n,
        "spill_bytes_per_query": q.get("spill_bytes", 0) / n,
        "rows_read_per_row_returned": q.get("rows_read", 0) / max(1, window["rows"]),
        "render_ms": max(0.0, mean("execute_render") - mean("jobs")),
        "json_bytes_per_query": window["json_bytes"] / max(1, window["queries"]),
        "update_jobs_per_call": u.get("jobs", 0) / n_upd,
        "update_files_added_per_call": writer.files_added / UPDATES,
        "maintain_bytes_written": traces["maintain"]["spark"].get("m", {}).get("bytes_written", 0),
    })
    report["self_ms_per_query"] = {
        "parse": out["parse_ms"], "translate": out["translate_ms"], "optimize": out["optimize_ms"],
        "plan": out["physical_plan_ms"], "spark_jobs": mean("jobs"), "render": out["render_ms"],
        "request_other": max(0.0, mean("request") - sum(mean(k) for k in SPAN_LAYERS)),
        "task_busy": out["task_busy_ms_per_query"], "request": mean("request"),
        "traced_requests": len(reqs)}
    upd = [sp[5] - sp[4] for sp in upd_trace["spans"] if sp[3] == "update"]
    report["update_ms_mean"] = sum(upd) / max(1, len(upd)) / 1e6
    os.makedirs(os.path.join(BENCH, ".traces"), exist_ok=True)
    with open(os.path.join(BENCH, ".traces", f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"report": report, "traces": traces}, f)
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    global HEAP
    HEAP = heap_size()
    before = tmp_entries()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tally, metrics, report = run(args, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["tmp_dirs_left"] = len(tmp_entries() - before)
    log("perfbench report: " + json.dumps(report))
    print(json.dumps({"correct": not tally.errors, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))


HEAP = "4g"
T0 = time.perf_counter()
if __name__ == "__main__":
    main()
