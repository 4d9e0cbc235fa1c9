"""``trapi-serve``: build a seeded KG and serve it in one engine process,
and drive it over HTTP from this process with at most four connections.

Phase 1 is an open loop of point requests (the seven point kinds in turn):
a seeded Poisson schedule at ``RATE`` requests per second, each request
timed from when it was due.  Then the fanout kinds go one at a time: a
hub one-hop (more than 5,000 answer edges, the distributed
persist/hydrate/assemble path) and a 100-id ``/neighbors`` batch, both
reported apart and measured in no bounded figure, since the first hub
request in a process also starts Spark's Python workers, a one-time cost
about as large as the request itself.  Phase 2 follows in ``ROUNDS``
rounds: a closed loop of point requests over four connections, for
latency under load and capacity, then serial fanout requests
(``FANOUT_ROUND``).  Spreading the closed loop over the phase's wall lets
its figures average over more of a shared host's changing load than one
burst of a few seconds would.  A hub request takes several seconds and
takes every core while it runs, so inside a loop it would set the latency
of whatever point requests it overlapped.  Every response is checked for
status and TRAPI shape, and the kinds whose answer is a plain filter over
the generated edge list are checked against it.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import random
import socket
import statistics
import subprocess
import sys
import threading
import time

import stats
from gen_kgx import CATEGORIES, PREDICATES, KgxModel, KgxSize, generate_kgx

HERE = os.path.dirname(os.path.abspath(__file__))
SIZE = KgxSize(nodes=10_000, edges=48_000, subclass=1_500, hubs=2)
CONNECTIONS = 4
# Open-loop rate, about half the capacity the closed loop measured on a
# 4-CPU host at the commit that introduced this benchmark.
RATE = 2.5
FAST_PATH_MAX_EDGES = 5_000
POINT_KINDS = ("one_hop", "alias_one_hop", "subclass_one_hop", "doubly_pinned",
               "constrained", "node_lookup", "edges")
FANOUT_KINDS = ("hub_one_hop", "neighbors")
ROUNDS = 2
# three requests of each point kind per round, so every run has the same mix
ROUND_REQUESTS = 3 * len(POINT_KINDS)
# A /neighbors batch costs a few percent of a hub request, so it is
# sampled more often.
FANOUT_ROUND = ("hub_one_hop",) + 4 * ("neighbors",)
CHILD_TIMEOUT = 150


def _one_hop(subj: dict, obj: dict, predicates=None, constraints=None) -> dict:
    edge = {"subject": "n00", "object": "n01"}
    if predicates:
        edge["predicates"] = predicates
    if constraints:
        edge["attribute_constraints"] = constraints
    return {"message": {"query_graph": {
        "nodes": {"n00": subj, "n01": obj}, "edges": {"e00": edge}}}}


class Traffic:
    """Seeded request generator over one generated graph."""

    def __init__(self, model: KgxModel, rng: random.Random):
        self.m, self.rng = model, rng
        lo, n = model.first_plain_node, model.size.nodes
        self.plain = range(lo, n)
        self.alias_nodes = [a for a, nid in model.aliases.items()
                            if int(nid[3:]) >= lo]
        hubs = set(model.hub_ids)
        self.plain_triples = sorted(
            t for t in model.triples
            if t[0] not in hubs and t[2] not in hubs
            and int(t[0][3:]) >= lo and int(t[2][3:]) >= lo
        )

    def node(self) -> str:
        return f"SB:{self.rng.choice(self.plain)}"

    def make(self, kind: str) -> tuple[str, dict, object]:
        """(path, payload, expected) for one request; ``expected`` is what
        the check compares against, or None for a shape check only."""
        r, m = self.rng, self.m
        if kind == "one_hop":
            return "query", _one_hop({"ids": [self.node()]},
                                     {"categories": [r.choice(CATEGORIES)]},
                                     [r.choice(PREDICATES)]), None
        if kind == "alias_one_hop":
            alias = r.choice(self.alias_nodes)
            nid = m.aliases[alias]
            return "query", _one_hop({"ids": [alias]}, {}), m.edges_between(
                [nid], list(m.adjacency.get(nid, ())))
        if kind == "subclass_one_hop":
            parent = f"SB:{r.randrange(1, m.size.subclass // 10)}"
            return "query", _one_hop({"ids": [parent]},
                                     {"categories": [r.choice(CATEGORIES)]}), None
        if kind == "doubly_pinned":
            s, _p, o = r.choice(self.plain_triples)
            return "query", _one_hop({"ids": [s]}, {"ids": [o]}), m.edges_between([s], [o])
        if kind == "constrained":
            return "query", _one_hop(
                {"ids": [self.node()]}, {}, None,
                [{"id": "knowledge_level", "operator": "==",
                  "value": "knowledge_assertion"}]), None
        if kind == "node_lookup":
            ids = [self.node(), self.node()]
            return "query", {"message": {"query_graph": {
                "nodes": {"n00": {"ids": ids}}, "edges": {}}}}, set(ids)
        if kind == "edges":
            pairs = [list(r.choice(self.plain_triples)[::2]) for _ in range(3)]
            return "edges", {"pairs": pairs}, {
                f"{a}--{b}": m.edges_between([a], [b]) for a, b in pairs}
        if kind == "hub_one_hop":
            hub = r.choice(m.hub_ids)
            return "query", _one_hop({}, {"ids": [hub]}), m.edges_between(
                [hub], list(m.adjacency.get(hub, ())))
        if kind == "neighbors":
            ids = [f"SB:{r.randrange(m.size.nodes)}" for _ in range(100)]
            return "neighbors", {"node_ids": ids}, {i: m.neighbors(i) for i in ids}
        raise ValueError(kind)

    def point_kinds(self, n: int) -> list[str]:
        """``n`` point kinds, each in turn, in shuffled order."""
        out = [POINT_KINDS[i % len(POINT_KINDS)] for i in range(n)]
        self.rng.shuffle(out)
        return out


# ------------------------------------------------------------------ checks

def _triples(kg_edges: dict) -> set[tuple[str, str, str]]:
    return {(e["subject"], e["predicate"], e["object"]) for e in kg_edges.values()}


def check(kind: str, status: int, body, expected) -> tuple[bool, str, int]:
    """(ok, reason, answer edges) for one response."""
    if status != 200:
        return False, f"status {status}", 0
    if kind == "neighbors":
        ok = isinstance(body, dict) and all(
            sorted(body.get(i, [])) == want for i, want in expected.items())
        return ok, "" if ok else "neighbor sets differ", 0
    if kind == "edges":
        kg = body.get("knowledge_graph", {})
        edges = kg.get("edges", {})
        for key, want in expected.items():
            got = {(edges[e]["subject"], edges[e]["predicate"], edges[e]["object"])
                   for e in body.get("pairs_to_edge_ids", {}).get(key, [])}
            if got != want:
                return False, f"pair {key} differs", len(edges)
        return True, "", len(edges)
    msg = body.get("message") if isinstance(body, dict) else None
    if not isinstance(msg, dict):
        return False, "no message", 0
    kg = msg.get("knowledge_graph") or {}
    nodes, edges = kg.get("nodes"), kg.get("edges")
    results = msg.get("results")
    if not (isinstance(nodes, dict) and isinstance(edges, dict)
            and isinstance(results, list)):
        return False, "not TRAPI shape", 0
    for e in edges.values():
        if not {"subject", "predicate", "object", "sources"} <= set(e):
            return False, "edge lacks fields", len(edges)
    for res in results:
        for binds in res.get("node_bindings", {}).values():
            if any(b.get("id") not in nodes for b in binds):
                return False, "result binds unknown node", len(edges)
        for an in res.get("analyses", []):
            for binds in an.get("edge_bindings", {}).values():
                if any(b.get("id") not in edges for b in binds):
                    return False, "result binds unknown edge", len(edges)
    if kind == "node_lookup":
        ok = expected <= set(nodes)
        return ok, "" if ok else "node missing", 0
    if expected is not None and _triples(edges) != expected:
        return False, "answer edges differ from the edge list", len(edges)
    if kind == "hub_one_hop" and len(edges) <= FAST_PATH_MAX_EDGES:
        return False, "hub answer stayed on the fast path", len(edges)
    return True, "", len(edges)


# ------------------------------------------------------------------ client

class Client:
    def __init__(self, port: int, traced: bool):
        self.port, self.traced = port, traced
        self._seq = 0
        self._lock = threading.Lock()

    def send(self, path: str, payload: dict) -> dict:
        with self._lock:
            self._seq += 1
            rid = f"r{self._seq}"
        if self.traced:
            payload = dict(payload, perfbench_rid=rid)
        data = json.dumps(payload).encode()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        sent = time.perf_counter()
        try:
            conn.request("POST", f"/{path}", data,
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException):
            raw, status = b"", 0  # no answer: a failed request
        finally:
            conn.close()
        done = time.perf_counter()
        try:
            body = json.loads(raw)
        except ValueError:
            body = None
        return {"rid": rid, "sent": sent, "done": done, "status": status,
                "body": body, "bytes": len(raw)}


def open_loop(client: Client, plan: list[tuple[float, str, str, dict, object]]):
    """Send ``plan`` [(due offset, kind, path, payload, expected)] on
    schedule through ``CONNECTIONS`` connections."""
    work: queue.Queue = queue.Queue()
    out: list[dict] = [None] * len(plan)  # type: ignore[list-item]

    def worker():
        while (item := work.get()) is not None:
            i, due = item
            _, kind, path, payload, _exp = plan[i]
            rec = client.send(path, payload)
            rec.update(kind=kind, due=due)
            out[i] = rec

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    t0 = time.perf_counter()
    for i, (offset, *_rest) in enumerate(plan):
        delay = t0 + offset - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        work.put((i, t0 + offset))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return out


def closed_loop(client: Client, plan: list[tuple[str, str, dict, object]]):
    work: queue.Queue = queue.Queue()
    for i in range(len(plan)):
        work.put(i)
    out: list[dict] = [None] * len(plan)  # type: ignore[list-item]

    def worker():
        while True:
            try:
                i = work.get_nowait()
            except queue.Empty:
                return
            kind, path, payload, _exp = plan[i]
            rec = client.send(path, payload)
            rec.update(kind=kind)
            out[i] = rec

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, time.perf_counter() - t0


# ------------------------------------------------------------------ run

def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _plan(traffic: Traffic, dues: list[float]) -> list[tuple]:
    return [(due, kind, *traffic.make(kind))
            for due, kind in zip(dues, traffic.point_kinds(len(dues)))]


def _await_file(proc: subprocess.Popen, path: str, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"engine process exited {proc.returncode}")
        if time.monotonic() > deadline:
            raise RuntimeError("engine process did not answer in time")
        time.sleep(0.02)


def _command(proc: subprocess.Popen, cmd: dict) -> None:
    proc.stdin.write(json.dumps(cmd) + "\n")
    proc.stdin.flush()


def serial(client: Client, plan: list[tuple[str, str, dict, object]]) -> list[dict]:
    out = []
    for kind, path, payload, _exp in plan:
        rec = client.send(path, payload)
        rec.update(kind=kind)
        out.append(rec)
    return out


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    rng = random.Random(seed)
    kgx, art = os.path.join(work, "kgx"), os.path.join(work, "artifacts")
    model = generate_kgx(kgx, seed, SIZE)
    traffic = Traffic(model, rng)

    def phases() -> dict[str, list[tuple]]:
        dues = stats.poisson_arrivals(round(RATE * seconds), seconds, rng)
        return {
            "open": _plan(traffic, dues),
            "closed": [p[1:] for _ in range(ROUNDS)
                       for p in _plan(traffic, [0.0] * ROUND_REQUESTS)],
            "fanout": [(k, *traffic.make(k))
                       for k in FANOUT_KINDS + ROUNDS * FANOUT_ROUND],
        }

    plans = phases()
    # traced runs repeat every phase with tracing on, on fresh requests
    traced_plans = phases() if trace else None

    port = _free_port()
    ready, out_path = os.path.join(work, "ready.json"), os.path.join(work, "engine.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), "--work", work,
         "--kgx", kgx, "--art", art, "--port", str(port), "--ready", ready,
         "--out", out_path, "--trace", str(int(trace))],
        stdin=subprocess.PIPE, stdout=sys.stderr, text=True)

    def drive(p: dict[str, list[tuple]]) -> dict:
        rec = {"open": open_loop(client, p["open"])}
        first = len(FANOUT_KINDS)
        rec["fanout"] = serial(client, p["fanout"][:first])
        rec["closed"], rec["closed_wall"] = [], 0.0
        for i in range(ROUNDS):
            closed, wall = closed_loop(
                client, p["closed"][i * ROUND_REQUESTS:(i + 1) * ROUND_REQUESTS])
            rec["closed"] += closed
            rec["closed_wall"] += wall
            n = len(FANOUT_ROUND)
            rec["fanout"] += serial(client, p["fanout"][first + i * n:first + (i + 1) * n])
        return rec

    try:
        _await_file(proc, ready, CHILD_TIMEOUT)
        client = Client(port, traced=False)
        w0 = time.time()
        recs = drive(plans)
        w1 = time.time()
        traced_recs = None
        if trace:
            _command(proc, {"trace": 1})
            _await_file(proc, ready + ".trace", 30)
            client.traced = True
            traced_recs = drive(traced_plans)
        _command(proc, {"t0": w0, "t1": w1})
        proc.wait(timeout=60)
        if proc.returncode != 0:
            raise RuntimeError(f"engine process exited {proc.returncode}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    with open(out_path, encoding="utf-8") as f:
        engine = json.load(f)
    return summarize(engine, plans, recs, traced_plans, traced_recs)


def _fanout_s(recs: dict, warm: bool) -> dict[str, list[float]]:
    """Fanout latencies by kind: the first of each (``warm=False``) or the
    requests after them."""
    first = len(FANOUT_KINDS)
    sent = recs["fanout"][first:] if warm else recs["fanout"][:first]
    return {k: [r["done"] - r["sent"] for r in sent if r["kind"] == k]
            for k in FANOUT_KINDS}


def _phase_metrics(recs: dict) -> dict[str, float]:
    """End-to-end serving figures.  Latency and capacity come from the
    closed loop, whose concurrency is fixed; the open loop's few
    Poisson-timed requests moved their median by half between seeds, so
    its figures are reported, not bounded.  Capacity is Little's law,
    connections / mean latency, which leaves out the ramp-down at the end
    of each round, when fewer than four requests remain.  The fanout figure is the geometric mean of
    the two fanout kinds' median warm latencies, so that a given relative
    slowdown of either kind moves it by the same share, although a hub
    request takes over ten times as long as a ``/neighbors`` batch."""
    closed = [r["done"] - r["sent"] for r in recs["closed"]]
    fanout = _fanout_s(recs, warm=True)
    return {
        "p50_s": statistics.median(closed),
        "heavy_s": statistics.geometric_mean(
            statistics.median(xs) for xs in fanout.values()),
        "ops_per_s": CONNECTIONS / statistics.fmean(closed),
    }


def summarize(engine, plans, recs, traced_plans, traced_recs) -> dict:
    built, served = engine["build"], engine["serve"]
    outcomes, failures = [], []
    for p_set, r_set in ((plans, recs), (traced_plans, traced_recs)):
        if r_set is None:
            continue
        for phase in ("open", "closed", "fanout"):
            for p, r in zip(p_set[phase], r_set[phase]):
                ok, why, n_edges = check(r["kind"], r["status"], r["body"], p[-1])
                r["ok"], r["answer_edges"] = ok, n_edges
                r.pop("body")
                outcomes.append(ok)
                if not ok:
                    failures.append(f"{r['kind']}: {why}")
    attempted, failed, frac = stats.failed_frac(outcomes)
    lat, late = zip(*(stats.open_loop_latency(r["due"], r["sent"], r["done"])
                      for r in recs["open"]))
    metrics = {
        "setup_s": engine["session_start_s"] + statistics.median(served["setup_reps_s"]),
        "batch_s": built["build_s"],
        **_phase_metrics(recs),
    }
    all_recs = recs["open"] + recs["closed"] + recs["fanout"]
    report = {
        "build_s": built["build_s"],
        "artifact_bytes_per_input_byte": built["artifact_bytes"] / built["input_bytes"],
        "session_start_s": engine["session_start_s"],
        "serve_setup_reps_s": served["setup_reps_s"],
        "open_loop_rate_rps": RATE,
        "open_loop_requests": len(lat),
        "open_loop_p50_s": statistics.median(lat),
        "open_loop_tail": stats.tail(lat),
        "generator_lateness_p50_s": statistics.median(late),
        "generator_lateness_max_s": max(late),
        "closed_loop_wall_rps": len(recs["closed"]) / recs["closed_wall"],
        "closed_loop_s": {k: [r["done"] - r["sent"] for r in recs["closed"]
                              if r["kind"] == k] for k in POINT_KINDS},
        "fanout_first_s": {k: xs[0] for k, xs in _fanout_s(recs, warm=False).items()},
        "fanout_warm_s": _fanout_s(recs, warm=True),
        "peak_rss_gb": served["peak_rss_gb"],
        "peak_rss_gb_after_build": built["peak_rss_gb"],
        "kinds": {
            k: {"n": len(xs), "p50_s": statistics.median(xs), "max_s": max(xs)}
            for k in POINT_KINDS + FANOUT_KINDS
            if (xs := [r["done"] - r["sent"] for r in all_recs if r["kind"] == k])
        },
        "failures": failures[:20],
    }
    out = {"attempted": attempted, "failed": failed, "failed_frac": frac,
           "metrics": metrics, "report": report}
    if traced_recs is not None:
        traced = traced_recs["open"] + traced_recs["closed"] + traced_recs["fanout"]
        out["layers"], out["trace"] = serve_layers(engine, traced)
        out["layers"]["jvm.peak_rss_gb"] = served["peak_rss_gb"]
        overhead = {k: v - metrics[k] for k, v in _phase_metrics(traced_recs).items()}
        out["trace"]["tracing_overhead_s"] = overhead
        out["layers"]["trace.overhead_p50_s"] = overhead["p50_s"]
    return out


def serve_layers(engine, recs) -> tuple[dict, dict]:
    """Per-layer numbers from the engine's spans and Spark counters."""
    from stats import self_times
    from tracing import SPARK_JOB, spark_time_by_rid

    spans = engine["spans"]
    own = self_times(spans)
    by_rid: dict[str, dict[str, float]] = {}
    handle_s: dict[str, float] = {}
    jobs: dict[str, list[int]] = {}
    for s in spans:
        if not s.get("rid"):
            continue
        d = by_rid.setdefault(s["rid"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + own[s["id"]]
        if s["name"] == "api.handle":
            handle_s[s["rid"]] = s["end"] - s["start"]
        if s["name"] == SPARK_JOB:
            jobs.setdefault(s["rid"], []).append(s["job"])
    spark_s = spark_time_by_rid(spans)

    def mean(xs) -> float:
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    def layer(kinds, name) -> float:
        return mean(by_rid.get(r["rid"], {}).get(name, 0.0)
                    for r in recs if r["kind"] in kinds)

    point, fanout = POINT_KINDS, FANOUT_KINDS
    layers = {
        "query.compiler.validate_s": layer(point, "query.compiler.validate"),
        "query.compiler.lookup_s": layer(point, "query.compiler.lookup"),
        "query.response.spark_s": mean(
            spark_s.get(r["rid"], 0.0) for r in recs if r["kind"] in point),
        "query.response.driver_s": layer(point, "query.response.run_query"),
        "query.response.hydrate_s": layer(fanout, "query.response.hydrate"),
        "query.response.assemble_s": layer(fanout, "query.response.assemble"),
        "query.response.get_neighbors_s": layer(
            ("neighbors",), "query.response.get_neighbors"),
        "http_frontend.overhead_s": mean(
            (r["done"] - r["sent"]) - handle_s.get(r["rid"], 0.0)
            for r in recs if r["kind"] in fanout),
        "query.response.body_bytes": mean(
            r["bytes"] for r in recs if r["kind"] in fanout),
        "api.admission_wait_s": layer(point + fanout, "api.admission_wait"),
        "api.shed_503": float(sum(r["status"] == 503 for r in recs)),
        "api.timeout_504": float(sum(r["status"] == 504 for r in recs)),
    }
    for kind in point + fanout:
        layers[f"spark.jobs_per_request.{kind}"] = mean(
            len(jobs.get(r["rid"], ())) for r in recs if r["kind"] == kind)
    rows = engine["stage_rows"]
    read = sum(rows.get(str(j), 0.0) for js in jobs.values() for j in js)
    edges = sum(r["answer_edges"] for r in recs)
    layers["query.response.rows_read_per_edge"] = read / edges if edges else 0.0
    built, served = engine["build"], engine["serve"]
    layers.update((k, v) for k, v in served["spark"].items() if k != "rows_read")
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s"):
        layers[f"build.{k}"] = built["spark"][k]
    for name in ("build.ingest.persist", "query.compiler.warmup"):
        walls = [s["end"] - s["start"] for s in spans if s["name"] == name]
        layers[f"{name}_s"] = statistics.median(walls) if walls else 0.0
    layers["session.start_s"] = engine["session_start_s"]
    own_by_layer = engine["self_s"]
    build_layers = ("sources.kgx.read", "build.ingest.plan",
                    "build.closure.closure", "build.ingest.write")
    for name in build_layers:
        layers[f"{name}_s"] = own_by_layer.get(name, 0.0)
    # Where the time went.  Build: its wall by layer self time, Spark jobs
    # counted in the layer that ran them.  Requests: the mean client
    # latency by layer, Spark job time apart.
    build_parts = {n: own_by_layer.get(n, 0.0) for n in build_layers}
    build_parts["unattributed"] = built["build_s"] - sum(build_parts.values())
    req_parts: dict[str, float] = {}
    for r in recs:
        for name, v in by_rid.get(r["rid"], {}).items():
            req_parts[name] = req_parts.get(name, 0.0) + v / len(recs)
    client_s = mean(r["done"] - r["sent"] for r in recs)
    req_parts["http_frontend.overhead"] = client_s - mean(
        handle_s.get(r["rid"], 0.0) for r in recs)
    req_parts["unattributed"] = client_s - sum(req_parts.values())
    trace = {"build_wall_s": built["build_s"], "build_self_s": build_parts,
             "request_latency_mean_s": client_s, "request_self_s_mean": req_parts,
             "spans": spans}
    return layers, trace
