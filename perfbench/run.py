#!/usr/bin/env python3
"""gusspark benchmark: REST/GraphQL serving and serial-bound analytics.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
  serve_read   closed loop, nproc clients: point reads (REST GET and
               GraphQL readOne) and GraphQL readMany scans; no writes
  serve_mixed  serve_read plus 10 % REST PUT updates of the read keys
  serve_write  closed loop, nproc clients: PUT/POST/DELETE on both models
               plus read-your-writes GETs; the change log compacts in-run
  analytics    one client: SparkEntry queries, warm passes via `noop`
  all          the four above, one after the other (report only)

The program is built from source on first use (sbt, in this directory)
and every run checks every response. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1
the per-layer ones. Everything a run writes stays under perfbench/.work.
"""
import argparse
import bisect
import hashlib
import http.client
import itertools
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
NPROC = len(os.sched_getaffinity(0))
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

# sizes: full runs vs the self-test's tiny ones
SIZES = {
    False: {"orders": 150_000, "customers": 15_000, "sf": "sf0.01",
            "replay": {"serve_read": 60, "serve_mixed": 60, "serve_write": 40}},
    True: {"orders": 1_500, "customers": 150, "sf": "sf0.001",
           "replay": {"serve_read": 16, "serve_mixed": 16, "serve_write": 12}},
}
# direction-2 families: connected components and fixpoints, serial
# kernels, and the sortedIntersectCount ER path (the arm sweeps are left
# out for run time, see README.md)
ANALYTICS_QUERIES = ["q45_cc_fixpoint", "q119_ks_drift", "q176_er_recall"]
TINY_QUERIES = ["q104_scd2_islands", "q119_ks_drift"]
# A warm pass of the three queries takes 7-9 s on a quiet 4-core host,
# so ceil(seconds / 10) passes keep the timed part at or a little under
# --seconds. The pass count follows from --seconds alone: a count set by
# the time elapsed made some runs one pass and some two, and as the
# queries still speed up from pass to pass that split runs 30 % apart.
ANALYTICS_PASS_S = 10.0

ZIPF_S = 0.99
ABSENT_SHARE = 0.03   # point reads aimed at keys that do not exist
HISTORY_ROWS = 250    # change-log rows a previous server process left


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Fatal(Exception):
    pass


# --------------------------------------------------------------- build
def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state; return
    the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        raise Fatal("program sources (src/main/scala) not found next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(os.path.join(WORK, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        raise Fatal(f"build failed (exit {rc}); see perfbench/.work/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


def java_cmd(cp, run_dir, main, heap):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + JVM_OPENS + ["-cp", cp, main])


def steal_jiffies():
    """(steal, total) CPU jiffies from /proc/stat: the time a virtual
    machine's CPUs waited for the host is its `steal` column."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def steal_pct(start):
    s0, t0 = start
    s1, t1 = steal_jiffies()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise Fatal("VmHWM not available")


# ---------------------------------------------------------- statistics
def pct(xs, p):
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_pct(n):
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return min(99, int(100.0 * (n - 10) / n))


def describe(name, xs):
    """`<name>_p50_ms` and the highest percentile with ten samples beyond it."""
    if not xs:
        return f"{name}: no samples"
    t = tail_pct(len(xs))
    tail = f", {name}_p{t}_ms = {pct(xs, t):.1f} ms" if t else " (too few samples for a tail)"
    return f"{name}_p50_ms = {pct(xs, 50):.1f} ms{tail} (n={len(xs)})"


# ----------------------------------------------------------- generator
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

MODELS = {
    "order": {"plural": "orders", "pk": "o_orderkey", "attrs": {
        "o_orderkey": "Integer", "o_custkey": "Integer", "o_orderstatus": "String",
        "o_totalprice": "Float", "o_orderdate": "String", "o_orderpriority": "String"},
        "required": ["o_orderkey", "o_orderstatus"]},
    "customer": {"plural": "customers", "pk": "c_custkey", "attrs": {
        "c_custkey": "Integer", "c_name": "String", "c_nationkey": "Integer",
        "c_acctbal": "Float", "c_mktsegment": "String"},
        "required": ["c_custkey", "c_name"]},
}


def gen_order(rng, key, n_cust):
    return {"o_orderkey": key, "o_custkey": rng.randrange(n_cust),
            "o_orderstatus": rng.choice(ORDER_STATUS),
            "o_totalprice": round(rng.uniform(900.0, 500000.0), 2),
            "o_orderdate": f"{rng.randint(1992, 1998)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            "o_orderpriority": rng.choice(PRIORITIES)}


def gen_customer(rng, key):
    return {"c_custkey": key, "c_name": f"Customer#{key:09d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
            "c_mktsegment": rng.choice(SEGMENTS)}


def gen_record(rng, model, key, n_cust):
    return gen_order(rng, key, n_cust) if model == "order" else gen_customer(rng, key)


def update_body(rng, model):
    if model == "order":
        return {"o_orderstatus": rng.choice(ORDER_STATUS),
                "o_totalprice": round(rng.uniform(900.0, 500000.0), 2)}
    return {"c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
            "c_mktsegment": rng.choice(SEGMENTS)}


class Zipf:
    """Zipf(s) over a fixed scramble of the keys (rank 1 is hottest), as
    YCSB's scrambled Zipfian: which keys are hot stays the same across
    seeds, so seeds vary the key sequence, not the store's hot spots."""

    def __init__(self, keys, rng):
        self.keys = list(keys)
        rng.shuffle(self.keys)
        w = [1.0 / (r ** ZIPF_S) for r in range(1, len(self.keys) + 1)]
        total = sum(w)
        self.cdf = list(itertools.accumulate(x / total for x in w))

    def draw(self, rng):
        return self.keys[min(bisect.bisect_left(self.cdf, rng.random()), len(self.keys) - 1)]


class Shadow:
    """The generator's model of the store. Each key has a version list
    (None = absent); a write appends its expected version before it is
    sent and settles it when the reply is correct. Writes to a key come
    from one owner client, so a read may see any version from the one
    settled when it started to the newest one started before it ended."""

    def __init__(self):
        self.lock = threading.Lock()
        self.hist = {}
        self.acked = {}

    def load(self, model, key, rec):
        self.hist[(model, key)] = [rec]
        self.acked[(model, key)] = 0

    def begin_read(self, mk):
        with self.lock:
            return self.acked.get(mk, 0)

    def end_read(self, mk, start):
        with self.lock:
            return self.hist.get(mk, [None])[start:]

    def begin_write(self, mk, rec):
        with self.lock:
            h = self.hist.setdefault(mk, [None])
            self.acked.setdefault(mk, 0)
            h.append(rec)
            return len(h) - 1

    def settle(self, mk, idx, rec):
        """A write's reply was correct: `rec` is the key's state now."""
        with self.lock:
            self.hist[mk][idx] = rec
            self.acked[mk] = max(self.acked[mk], idx)

    def windows(self):
        with self.lock:
            return {mk: h[self.acked[mk]:] for mk, h in self.hist.items()}

    def live(self):
        with self.lock:
            return {mk: h[self.acked[mk]] for mk, h in self.hist.items()
                    if h[self.acked[mk]] is not None}


# ------------------------------------------------------------ op logic
def gql_one(model, key, fields):
    cap = model[0].upper() + model[1:]
    pk = MODELS[model]["pk"]
    return f"{{ readOne{cap}({pk}: {key}) {{ {' '.join(fields)} }} }}"


def gql_many(model, fields):
    return f"{{ {MODELS[model]['plural']} {{ {' '.join(fields)} }} }}"


ORDER_SEL = ["o_orderstatus", "o_totalprice"]
CUST_SEL = ["c_custkey", "c_mktsegment"]


def not_found(key):
    return f"No record found with id: {key}"


class Workload:
    """Seeded op streams plus the checks of each op's response."""

    def __init__(self, name, seed, tiny, shadow, n_clients):
        self.name, self.seed = name, seed
        self.shadow, self.n_clients = shadow, n_clients
        sz = SIZES[tiny]
        self.n_orders, self.n_cust = sz["orders"], sz["customers"]
        scramble = random.Random("zipf-scramble")
        self.zipf = {"order": Zipf(range(self.n_orders), scramble),
                     "customer": Zipf(range(self.n_cust), scramble)}
        self.customers_expected = None
        self.inject_wrong = False
        self.injected_failure = False

    # --- per-client op stream; `cid` owns keys with key % n == cid
    def stream(self, cid, n_clients=None, fresh_base=10_000_000):
        n = n_clients or self.n_clients
        rng = random.Random(f"{self.seed}:client:{cid}:{n}")
        created = []   # own fresh keys, oldest first
        last = None    # own last-written (model, key)
        fresh = itertools.count(fresh_base + cid * 1_000_000)

        def owned(model):
            while True:
                k = self.zipf[model].draw(rng)
                if k % n == cid:
                    return k

        # the mix is exact per block of 20 ops, in sub-blocks that spread
        # the heavy ops (scans, writes) evenly over each client's stream;
        # the seed orders each sub-block, and clients start at different
        # sub-blocks, so a short run sees the same share of heavy ops
        subs = {"serve_read": [["read"] * 10, ["read"] * 9 + ["scan"]],
                "serve_mixed": [["read"] * 9 + ["put"], ["read"] * 8 + ["scan", "put"]],
                "serve_write": [["put"] * 7 + ["post"] * 4 + ["delete"] * 4 + ["get"] * 5]}[self.name]
        for i in itertools.count(cid):
            order = subs[i % len(subs)][:]
            rng.shuffle(order)
            for slot in order:
                model = "order" if self.name != "serve_write" or rng.random() < 0.5 else "customer"
                if slot == "read":
                    key = (self.n_orders + rng.randrange(1000) if rng.random() < ABSENT_SHARE
                           else self.zipf["order"].draw(rng))
                    yield ("rest_get" if rng.random() < 0.5 else "gql_one", "order", key, None)
                elif slot == "scan":
                    yield ("gql_many", "customer", None, None)
                elif slot == "put":
                    k = owned(model)
                    last = (model, k)
                    yield ("rest_put", model, k, update_body(rng, model))
                elif slot == "post" or (slot == "delete" and not created):
                    k = next(fresh)
                    created.append((model, k))
                    last = (model, k)
                    yield ("rest_post", model, k, gen_record(rng, model, k, self.n_cust))
                elif slot == "delete":
                    m, k = created.pop(0)
                    last = (m, k)
                    yield ("rest_delete", m, k, None)
                elif last is None:
                    yield ("rest_get", model, owned(model), None)
                else:
                    yield ("rest_get", last[0], last[1], None)

    # --- request rendering
    @staticmethod
    def request(op):
        kind, model, key, body = op
        if kind == "rest_get":
            return "GET", f"/api/rest/{model}/{key}", None
        if kind == "rest_put":
            return "PUT", f"/api/rest/{model}/{key}", json.dumps(body)
        if kind == "rest_post":
            return "POST", f"/api/rest/{model}", json.dumps(body)
        if kind == "rest_delete":
            return "DELETE", f"/api/rest/{model}/{key}", None
        q = gql_one(model, key, ORDER_SEL) if kind == "gql_one" else gql_many(model, CUST_SEL)
        return "POST", "/api/graphql", json.dumps({"query": q})

    # --- expectations. `begin` runs before sending, `expected` and
    # `judge` after the reply.
    def begin(self, op):
        kind, model, key, body = op
        mk = (model, key)
        if kind in ("rest_get", "gql_one"):
            return ("read", self.shadow.begin_read(mk))
        if kind == "gql_many":
            return ("scan", None)
        start = self.shadow.begin_read(mk)
        latest = self.shadow.end_read(mk, start)[-1]
        guess = None if kind == "rest_delete" else (
            body if kind == "rest_post" else latest and {**latest, **body})
        return ("write", (start, self.shadow.begin_write(mk, guess)))

    def expected(self, op, state):
        """All (status, body) replies that are correct for `op`. A key's
        window holds every version it may have: normally one, more while
        a concurrent write is in flight or after a failed write."""
        kind, model, key, body = op
        mk = (model, key)
        tag, st = state
        if tag == "scan":
            return [(200, {"data": {"customers": self.customers_expected}})]
        if tag == "read":
            window = self.shadow.end_read(mk, st)
        else:
            window = self.shadow.end_read(mk, st[0])[:st[1] - st[0]]
        out = []
        for v in window:
            if kind == "rest_get":
                out.append((400, {"error": not_found(key)}) if v is None else (200, {"data": v}))
            elif kind == "gql_one":
                out.append((400, {"errors": [{"message": not_found(key), "locations": []}]})
                           if v is None else
                           (200, {"data": {"readOneOrder": {f: v[f] for f in ORDER_SEL}}}))
            elif kind == "rest_put":
                out.append((400, {"error": PUT_ABSENT}) if v is None
                           else (200, {"data": {**v, **body}}))
            elif kind == "rest_post":
                out.append((201, {"data": body}) if v is None else (400, {"error": POST_EXISTS}))
            else:
                out.append((400, {"error": f"No record found to remove with id: {key}"})
                           if v is None else (200, {"data": v}))
        return out

    def judge(self, op, state, status, payload):
        """True if the reply is correct. A correct write reply fixes the
        key's new version and acknowledges it."""
        kind = op[0]
        payload = scan_order(kind, payload)
        exp = self.expected(op, state)
        with self.shadow.lock:
            injected, self.inject_wrong = self.inject_wrong, False
        if injected:   # self-test: this op's expected reply made wrong
            exp = [(s, {"deliberately": "wrong"}) for s, _ in exp]
        ok = any(status == s and payload == b for s, b in exp)
        if injected:
            self.injected_failure = not ok
        if ok and state[0] == "write":
            mk, (start, idx) = (op[1], op[2]), state[1]
            if kind == "rest_delete" or (kind == "rest_put" and status != 200):
                now = None
            elif kind == "rest_post" and status != 201:
                now = [v for v in self.shadow.end_read(mk, start)[:idx - start] if v][-1]
            else:
                now = payload["data"]
            self.shadow.settle(mk, idx, now)
        return ok


def scan_order(kind, payload):
    """readMany rows come in storage order; compare them sorted by pk."""
    if kind == "gql_many" and isinstance(payload, dict):
        items = (payload.get("data") or {}).get("customers")
        if isinstance(items, list):
            return {"data": {"customers": sorted(items, key=lambda r: r.get("c_custkey", -1))}}
    return payload


PUT_ABSENT = "No record found for the given key, try to create it instead (POST)"
POST_EXISTS = "A record for the given key already exists, try to update it instead (PUT)"


# ------------------------------------------------------------- serving
def write_models(models_dir):
    os.makedirs(models_dir, exist_ok=True)
    for name, m in MODELS.items():
        with open(os.path.join(models_dir, f"{name}.json"), "w") as f:
            json.dump({"model_name": name, "storage_type": "json", "attributes": m["attrs"],
                       "primary_key": m["pk"], "required": m["required"]}, f)


def write_inputs(wl, data_dir):
    os.makedirs(data_dir, exist_ok=True)
    rng = random.Random(f"{wl.seed}:data")
    for name, n in (("order", wl.n_orders), ("customer", wl.n_cust)):
        with open(os.path.join(data_dir, MODELS[name]["plural"] + ".jsonl"), "w") as f:
            for k in range(n):
                rec = gen_record(rng, name, k, wl.n_cust)
                wl.shadow.load(name, k, rec)
                f.write(json.dumps(rec) + "\n")
    wl.customers_expected = sorted(({f: r[f] for f in CUST_SEL} for (m, _), h in wl.shadow.hist.items()
                                    if m == "customer" for r in h[:1]), key=lambda r: r["c_custkey"])
    # the change log a previous server process left: updates of hot
    # keys whose last state is the loaded record, so the log is already
    # near the auto-compaction trigger when the run starts
    with open(os.path.join(data_dir, "changelog_history.jsonl"), "w") as f:
        hot = [(m, wl.zipf[m].keys[i]) for m in MODELS for i in range(5)]
        for seq in range(1, HISTORY_ROWS + 1):
            m, k = hot[rng.randrange(len(hot))]
            rec = wl.shadow.hist[(m, k)][0]
            f.write(json.dumps({"model": MODELS[m]["plural"], "op": "update", "pk": str(k),
                                "record": json.dumps(rec, separators=(",", ":")), "seq": seq}) + "\n")


class Jvm:
    """A harness JVM speaking the `@tag {json}` line protocol."""

    def __init__(self, cmd, run_dir):
        self.err = open(os.path.join(run_dir, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.err, text=True, bufsize=1, cwd=run_dir)

    def wait_for(self, tag, timeout):
        """The next `@tag` reply; the JVM is killed if it takes longer
        than `timeout` seconds."""
        watchdog = threading.Timer(timeout, self.proc.kill)
        watchdog.start()
        try:
            for line in self.proc.stdout:
                if line.startswith(f"@{tag} "):
                    return json.loads(line[len(tag) + 2:])
                if line.startswith("@error"):
                    raise Fatal(line.strip())
        finally:
            watchdog.cancel()
        raise Fatal(f"harness JVM ended before @{tag} (timeout {timeout}s); see {self.err.name}")

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self):
        try:
            if self.proc.poll() is None:
                try:
                    self.send("quit")
                    self.proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.err.close()


class Tally:
    def __init__(self):
        self.lock = threading.Lock()
        self.lat = {}          # kind -> [ms], timed phase only
        self.in_window = 0.0   # correct requests, each by the share of it inside the timed phase
        self.attempted = 0
        self.failed = {}       # kind -> count
        self.examples = []

    def add(self, kind, ms, ok, timed, detail=None, share=0.0):
        with self.lock:
            self.attempted += 1
            self.in_window += share if ok else 0.0
            if not ok:
                self.failed[kind] = self.failed.get(kind, 0) + 1
                if len(self.examples) < 5 and detail:
                    self.examples.append(detail)
            if timed and ok:
                self.lat.setdefault(kind, []).append(ms)

    def check(self, kind, ok, detail):
        """One verification that is not a request."""
        self.add(kind, 0.0, ok, False, detail)

    @property
    def n_failed(self):
        return sum(self.failed.values())


def closed_loop(wl, port, tally, warm_s, seconds):
    """nproc clients, one connection each; each sends its next request
    only after the previous reply. Latency samples are the requests sent
    in the timed phase; throughput counts each request by the share of
    its time that falls inside the timed phase, so the requests cut by
    either end count in proportion and the rate is not whole counts over
    a fixed window."""
    t_start = time.perf_counter()
    t_timed = t_start + warm_s
    t_end = t_timed + seconds

    def client(cid):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        ops = wl.stream(cid)
        while time.perf_counter() < t_end:
            op = next(ops)
            method, path, body = Workload.request(op)
            state = wl.begin(op)
            t0 = time.perf_counter()
            try:
                conn.request(method, path, body=body,
                             headers={"Content-Type": "application/json"} if body else {})
                resp = conn.getresponse()
                status, raw = resp.status, resp.read()
                ms = (time.perf_counter() - t0) * 1e3
                payload = json.loads(raw)
            except Exception as e:  # a failed request is a failed op
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                tally.add(op[0], 0.0, False, False, f"{op[0]} {path}: {e!r}")
                continue
            ok = wl.judge(op, state, status, payload)
            t1 = t0 + ms / 1e3
            inside = max(0.0, min(t1, t_end) - max(t0, t_timed))
            tally.add(op[0], ms, ok, t0 >= t_timed,
                      None if ok else f"{op[0]} {path} -> {status} {raw[:200]!r}",
                      share=inside / max(t1 - t0, 1e-9))
        conn.close()

    threads = [threading.Thread(target=client, args=(c,), daemon=True) for c in range(wl.n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def check_dump(wl, path, tally):
    """Every acknowledged write must be in the store reopened from disk
    (a key whose last write failed may hold either state)."""
    got = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            model = "order" if r["model"] == "orders" else "customer"
            got[(model, r["record"][MODELS[model]["pk"]])] = r["record"]
    windows = wl.shadow.windows()
    for model in MODELS:
        bad = [mk for mk in set(windows) | set(got) if mk[0] == model
               and got.get(mk) not in windows.get(mk, [None])]
        tally.check("durability", not bad,
                    f"store reopened from disk differs on {len(bad)} {model} keys, e.g. {bad[:3]}")


def dir_stats(path, suffix=".parquet"):
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += f.endswith(suffix)
    return total, files


def replay_ops(wl, n_ops):
    """A seeded single-client op sequence with expected replies. The
    ops of each kind alternate traced / untraced, the first traced, so
    every kind in the sequence is traced and has an untraced twin."""
    ops = []
    seen = {}
    stream = wl.stream(0, n_clients=1, fresh_base=50_000_000)
    for _ in range(n_ops):
        op = next(stream)
        seen[op[0]] = seen.get(op[0], 0) + 1
        traced = seen[op[0]] % 2 == 1
        st = wl.begin(op)
        exp = wl.expected(op, st)
        if st[0] == "write":   # sequential: the write's guess is its outcome
            wl.shadow.settle((op[1], op[2]), st[1][1], wl.shadow.hist[(op[1], op[2])][st[1][1]])
        kind, model, key, body = op
        rec = {"kind": kind, "model": model, "traced": traced,
               "http": traced and kind in ("rest_get", "gql_one")}
        if key is not None:
            rec["id"] = str(key)
        if kind in ("rest_put", "rest_post"):
            rec["body"] = json.dumps(body)
        if kind.startswith("gql"):
            rec["query"] = json.loads(Workload.request(op)[2])["query"]
        ops.append((rec, exp))
    return ops


def judge_replay(op, exp, res, tally):
    """Direct calls return the record JSON or the error text; the HTTP
    twin returns the full envelope."""
    kind = op["kind"]
    ok = False
    for status, body in exp:
        if kind.startswith("gql"):
            direct = res["ok"] == (status == 200) and scan_order(kind, json.loads(res["body"])) == body
        elif status < 300:
            direct = res["ok"] and json.loads(res["body"]) == body["data"]
        else:
            direct = not res["ok"] and res["body"] == body["error"]
        http_ok = "http_status" not in res or (
            res["http_status"] == status and scan_order(kind, json.loads(res["http_body"])) == body)
        ok = ok or (direct and http_ok)
    tally.add(kind, res["ms"], ok, False,
              None if ok else f"replay {kind} {op.get('id', '')}: {res['body'][:200]}")
    return ok


def run_serve(name, args, cp, run_dir):
    tiny = args.tiny
    shadow = Shadow()
    wl = Workload(name, args.seed, tiny, shadow, NPROC)
    data_dir, models_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "models")
    write_models(models_dir)
    tally = Tally()
    jvm = Jvm(java_cmd(cp, run_dir, "perfbench.ServeMain", "3g") + [
        "--work", os.path.join(run_dir, "jvm"), "--data", data_dir, "--models", models_dir,
        "--cpus", str(NPROC),
        "--trace", "1" if args.trace else "0"], run_dir)
    try:
        # inputs are generated while the JVM starts its session
        write_inputs(wl, data_dir)
        jvm.wait_for("session", 120)
        jvm.send("go")
        ready = jvm.wait_for("ready", 170)
        setup_s = ready["session_s"] + ready["load_s"]
        if args.trace:
            jvm.send("count")
            jvm.wait_for("count", 10)
        warm = 1.0 if tiny else 3.0
        wl.inject_wrong = args.inject_wrong
        st0 = steal_jiffies()
        closed_loop(wl, int(ready["port"]), tally, warm, args.seconds)
        steal = steal_pct(st0)
        if wl.injected_failure:
            tally.examples.insert(0, "(injected) one expected reply was deliberately wrong")
        layer = {}
        if args.trace:
            ops = replay_ops(wl, SIZES[tiny]["replay"][name])
            ops_path = os.path.join(run_dir, "replay_ops.jsonl")
            with open(ops_path, "w") as f:
                for rec, _ in ops:
                    f.write(json.dumps(rec) + "\n")
            res_path = os.path.join(run_dir, "replay_results.jsonl")
            jvm.send(f"replay {ops_path} {res_path} {os.path.join(run_dir, 'spans.jsonl')}")
            layer = jvm.wait_for("replay", 170)
            with open(res_path) as f:
                results = [json.loads(l) for l in f]
            for (op, exp), res in zip(ops, results):
                judge_replay(op, exp, res, tally)
            layer.update(replay_layer(ops, results, tally))
        # durability: reopen the store from disk after the run
        dump = os.path.join(run_dir, "reopened.jsonl")
        jvm.send(f"dump {dump}")
        jvm.wait_for("dump", 120)
        check_dump(wl, dump, tally)
        rss = peak_rss_mb(jvm.proc.pid)
    finally:
        jvm.close()
    store_b, _ = dir_stats(ready["store"])
    log_b, log_files = dir_stats(ready["changelog"])
    live_b = sum(len(json.dumps(r, separators=(",", ":"))) for r in shadow.live().values())
    buckets = [dir_stats(os.path.join(d))[1] for m in MODELS.values()
               for d in (os.path.join(ready["store"], m["plural"], b)
                         for b in os.listdir(os.path.join(ready["store"], m["plural"])))
               if os.path.isdir(d)]
    lat = tally.lat
    reads = lat.get("rest_get", []) + lat.get("gql_one", [])
    writes = lat.get("rest_put", []) + lat.get("rest_post", []) + lat.get("rest_delete", [])
    every = [x for xs in lat.values() for x in xs]
    report = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (tally.in_window / args.seconds, "1/s"),
        "latency_p50_ms": (pct(every, 50), "ms"),
        "peak_rss_mb": (rss, "MB"),
        "space_amp": ((store_b + log_b) / live_b, "ratio"),
    }
    lines = [f"setup: session {ready['session_s']:.3f} s + load {ready['load_s']:.3f} s",
             f"host_steal_pct = {steal:.1f} % (CPU time the host gave elsewhere, timed phase)",
             describe("read", reads), describe("  rest_get", lat.get("rest_get", [])),
             describe("  gql_one", lat.get("gql_one", [])),
             describe("scan", lat.get("gql_many", [])),
             describe("write", writes)] + [
        describe(f"  {k}", lat.get(k, [])) for k in ("rest_put", "rest_post", "rest_delete")]
    layer_out = {}
    if args.trace:
        # concurrent PUTs cross HTTP, the single-client replay writes do
        # not: take the REST layer's cost off before the difference
        if writes and layer.get("_single_write_p50") is not None:
            layer["crud.write_wait_ms"] = max(pct(writes, 50) - layer["_single_write_p50"]
                                              - max(layer["rest.overhead_ms"], 0.0), 0.0)
        layer["storage.files_per_bucket"] = statistics.mean(buckets) if buckets else 0.0
        layer["changelog.files_at_end"] = float(log_files)
        layer_out = {k: v for k, v in layer.items() if not k.startswith("_")}
    return report, lines, tally, layer_out


def replay_layer(ops, results, tally):
    """Per-layer figures the harness measures from the replay results:
    REST cost over the in-process call, the tracing overhead, readMany
    rows, and the single-client write latency."""
    http_gap = [r["http_ms"] - r["ms"] for r in results if "http_ms" in r]
    by = {}
    for (op, _), r in zip(ops, results):
        by.setdefault((op["kind"], op["traced"]), []).append(r["ms"])
    num = den = 0.0
    for (kind, traced), xs in by.items():
        if traced and (kind, False) in by:
            base = statistics.median(by[(kind, False)])
            num += len(xs) * (statistics.median(xs) - base)
            den += len(xs) * base
    rows = [len(json.loads(r["body"])["data"]["customers"]) for (op, _), r in zip(ops, results)
            if op["kind"] == "gql_many" and r["ok"]]
    single_writes = [r["ms"] for (op, _), r in zip(ops, results)
                     if not op["traced"] and op["kind"] in ("rest_put", "rest_post", "rest_delete")]
    return {"rest.overhead_ms": statistics.median(http_gap) if http_gap else 0.0,
            "trace.overhead_pct": 100.0 * num / den if den else 0.0,
            "graphql.scan_rows_per_scan": statistics.mean(rows) if rows else 0.0,
            "_single_write_p50": pct(single_writes, 50) if single_writes else None}


# ----------------------------------------------------------- analytics
def run_analytics(args, cp, run_dir):
    sz = SIZES[args.tiny]
    # The seed rotates one fixed cyclic order, so every query keeps the
    # same predecessor: a query's time depends on the one before it
    # (q139_kcore took 4.0-4.8 s after q45/q176, 2.5-2.9 s after the
    # light kernels), and free permutations made runs 30 % apart.
    names = sorted(TINY_QUERIES if args.tiny else ANALYTICS_QUERIES)
    r = random.Random(f"{args.seed}:order").randrange(len(names))
    names = names[r:] + names[:r]
    with open(os.path.join(HERE, "expected", f"analytics_{sz['sf']}.json")) as f:
        expected = json.load(f)
    if args.inject_wrong:   # self-test: one expected value deliberately wrong
        expected[names[0]] = "0:(injected)"
    exp_path = os.path.join(run_dir, "expected.json")
    with open(exp_path, "w") as f:
        json.dump(expected, f)
    jvm = Jvm(java_cmd(cp, run_dir, "perfbench.AnalyticsMain", "3g") + [
        "--work", os.path.join(run_dir, "jvm"), "--sf", os.path.join(HERE, "data", sz["sf"]),
        "--cpus", str(NPROC), "--queries", ",".join(names),
        "--passes", str(max(1, math.ceil(args.seconds / ANALYTICS_PASS_S))),
        "--trace", "1" if args.trace else "0", "--expected", exp_path], run_dir)
    st0 = steal_jiffies()
    try:
        res = jvm.wait_for("result", 175)
        jvm.proc.wait(timeout=60)
    finally:
        jvm.close()
    tally = Tally()
    for e in res["errors"]:
        tally.examples.append(e)
    n_fail = len(res["errors"])
    tally.attempted = res["attempted"]
    tally.failed = {"query": n_fail} if n_fail else {}
    samples = [t for ts in res["times"].values() for t in ts]
    medians = [statistics.median(ts) for ts in res["times"].values()]
    geomean_s = math.exp(statistics.mean(math.log(m) for m in medians))
    report = {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(samples) / sum(samples), "1/s"),
        # every query counts: the geometric mean of per-query medians
        "latency_p50_ms": (geomean_s * 1e3, "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "query_total_s": (sum(medians), "s"),
        "query_geomean_s": (geomean_s, "s"),
    }
    lines = [f"passes={res['passes']} order={','.join(names)}",
             f"host_steal_pct = {steal_pct(st0):.1f} % (CPU time the host gave elsewhere, whole run)"] + [
        f"  {n}: n={len(ts)} median={statistics.median(ts):.3f} s" for n, ts in res["times"].items()]
    return report, lines, tally, res["layer"]


# ---------------------------------------------------------------- main
def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(name, args, cp, spec):
    run_dir = os.path.join(WORK, f"run-{name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if name == "analytics":
            report, lines, tally, layer = run_analytics(args, cp, run_dir)
        else:
            report, lines, tally, layer = run_serve(name, args, cp, run_dir)
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    rate = tally.n_failed / max(tally.attempted, 1)
    print(f"== {name} seed={args.seed} seconds={args.seconds} trace={int(args.trace)} "
          f"clients={NPROC if name != 'analytics' else 1}")
    for k, (v, unit) in report.items():
        print(f"{k} = {v:.4f} {unit}")
    for l in lines:
        print(l)
    print(f"error_rate = {rate:.6f} ({tally.n_failed}/{tally.attempted})"
          + (f" failing kinds: {tally.failed}" if tally.failed else ""))
    for e in tally.examples:
        print(f"  failure: {e}")
    if args.trace:
        for k, v in sorted(layer.items()):
            print(f"  {k} = {v:.4f}")
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {m["name"]: {"value": float(report[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": tally.n_failed == 0, "attempted": tally.attempted,
            "failed": tally.n_failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["serve_read", "serve_mixed", "serve_write", "analytics", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--tiny", action="store_true", help="self-test size (sf0.001, a few hundred ops)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="self-test: make one expected value wrong; the run must count a failure")
    ap.add_argument("--keep", action="store_true", help="keep the run directory under .work")
    args = ap.parse_args()
    # a terminated run still stops its JVM (the `finally` blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spec = load_spec()
        cp = build()
        names = (["serve_read", "serve_mixed", "serve_write", "analytics"] if args.workload == "all"
                 else [args.workload])
        results = [run_one(n, args, cp, spec) for n in names]
    except Fatal as e:
        log(f"error: {e}")
        return 2
    if len(results) == 1:
        out = results[0]
    else:
        out = {"correct": all(r["correct"] for r in results),
               "attempted": sum(r["attempted"] for r in results),
               "failed": sum(r["failed"] for r in results),
               "metrics": {f"{n}.{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()}}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
