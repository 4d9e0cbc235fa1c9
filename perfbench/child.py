"""Engine process of the ``trapi-serve`` workload.

Reads the generated KGX files, builds the knowledge graph and writes the
bucketed serving artifacts; then serves from those artifacts: reads the
tables the build registered, caches and warms them (repeated, for a median
set-up time) and serves HTTP with ``http_frontend.serve``.  Commands
arrive as JSON lines on stdin: ``{"trace": 1}`` turns request tracing on,
anything else stops the server.  Results, counters and spans go to one
JSON file; ``serve_workload.py`` drives this process.
"""

from __future__ import annotations

import argparse
import contextlib
import copy
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import hostspark  # noqa: E402
import tracing  # noqa: E402
from stats import layer_self_times  # noqa: E402

SETUP_REPS = 2
PREFIX = "perfbench"
# write_artifacts_bucketed says to size buckets to the cluster's cores; its
# default of 64 is for a large cluster
BUCKETS = 2 * hostspark.host_cpus()
KP = "infores:perfbench"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def build(spark, args, tracer) -> dict:
    from ploverdb_spark.build import ingest
    from ploverdb_spark.sources.kgx import KgxConfig, read_kgx_auto

    if tracer:
        for fn in ("resolve_subclass_edge_set", "transitive_closure"):
            tracer.wrap(ingest, fn, "build.closure.closure")
    sc = spark.sparkContext
    config = KgxConfig()
    w0 = time.time()
    t0 = time.perf_counter()
    with _phase(tracer, sc, "sources.kgx.read"):
        nodes = read_kgx_auto(spark, f"{args.kgx}/nodes.jsonl", config,
                              required=("id",))
        edges = read_kgx_auto(spark, f"{args.kgx}/edges.jsonl", config,
                              required=("subject", "predicate", "object"))
    with _phase(tracer, sc, "build.ingest.plan"):
        kg = ingest.build_knowledge_graph(nodes, edges, config)
    with _phase(tracer, sc, "build.ingest.write"):
        ingest.write_artifacts_bucketed(kg, args.art, prefix=PREFIX, buckets=BUCKETS)
    build_s = time.perf_counter() - t0
    # the serving set-up reads the artifacts back; drop the build's caches
    spark.catalog.clearCache()
    return {
        "build_s": build_s,
        "window": (w0, time.time()),
        "input_bytes": dir_bytes(args.kgx),
        "artifact_bytes": dir_bytes(args.art),
        "peak_rss_gb": hostspark.peak_rss_gb(spark),
    }


@contextlib.contextmanager
def _phase(tracer, sc, name: str):
    """A root span whose Spark jobs run under a job group of its own."""
    if tracer is None:
        yield
        return
    group = f"perfbench-build-{name}"
    with tracing.job_group(sc, group), tracer.span(name, group=group):
        yield


PRIMING = {
    "message": {"query_graph": {
        "nodes": {"n00": {"ids": ["SB:11"]},
                  "n01": {"categories": ["biolink:Disease"]}},
        "edges": {"e00": {"subject": "n00", "object": "n01",
                          "predicates": ["biolink:treats"]}},
    }}
}


def serve_setup(spark):
    """One serving set-up: read the bucketed tables the build registered,
    cache and warm them, then prime the request path.  Returns the
    registry."""
    from ploverdb_spark.api import KpRegistry, handle
    from ploverdb_spark.build.ingest import read_artifacts_bucketed
    from ploverdb_spark.query.compiler import TrapiEngine

    kg = read_artifacts_bucketed(spark, prefix=PREFIX)
    engine = TrapiEngine(kg, kp_infores_curie=KP)
    kg.persist(materialize=False)
    with ThreadPoolExecutor(max_workers=2) as pool:
        cache = pool.submit(kg.persist, True, True)
        maps = pool.submit(engine.warmup, True)
        cache.result()
        maps.result()
    registry = KpRegistry(query_timeout_sec=45, max_workers=hostspark.host_cpus())
    registry.register("perfbench", engine)
    status, _body = handle(registry, "query", copy.deepcopy(PRIMING))
    if status != 200:
        raise RuntimeError(f"priming query answered {status}")
    return registry


def _write_atomic(path: str, obj) -> None:
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def serve(spark, args, tracer) -> dict:
    from ploverdb_spark import api, http_frontend
    from ploverdb_spark.build.ingest import KnowledgeGraph
    from ploverdb_spark.query.compiler import TrapiEngine
    from ploverdb_spark.session import apply_serving_conf

    if tracer:
        tracer.wrap(KnowledgeGraph, "persist", "build.ingest.persist")
        tracer.wrap(TrapiEngine, "warmup", "query.compiler.warmup")
    apply_serving_conf(spark)
    reps = []
    registry = None
    for i in range(SETUP_REPS):
        if registry is not None:
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tracer.span("serve.setup", rep=i) if tracer else contextlib.nullcontext():
            registry = serve_setup(spark)
        reps.append(time.perf_counter() - t0)
    if tracer:
        install_request_tracing(tracer, spark, api, http_frontend, TrapiEngine)
        tracer.enabled = False  # until the client asks for traced traffic
    server = http_frontend.serve(registry, host="127.0.0.1", port=args.port)
    _write_atomic(args.ready, {"setup_reps_s": reps})
    window: dict = {}
    for line in sys.stdin:  # {"trace": 0|1} toggles tracing; anything else stops
        cmd = json.loads(line)
        if "trace" not in cmd:
            window = cmd
            break
        if tracer:
            tracer.enabled = bool(cmd["trace"])
        _write_atomic(args.ready + ".trace", cmd)
    server.shutdown()
    server.server_close()
    return {"setup_reps_s": reps, "window": (window["t0"], window["t1"]),
            "peak_rss_gb": hostspark.peak_rss_gb(spark)}


def install_request_tracing(tracer, spark, api, http_frontend, engine_cls) -> None:
    """Spans on the request path, from the HTTP handler down to the Spark
    job group each request runs under."""
    from ploverdb_spark.query import response

    sc = spark.sparkContext

    def take_rid(args, kwargs):
        payload = args[2] if len(args) > 2 else kwargs.get("payload")
        rid = payload.pop("perfbench_rid", None) if isinstance(payload, dict) else None
        return None, {"rid": rid}

    tracer.wrap(http_frontend, "handle", "api.handle", take_rid)

    orig_admission = api.KpRegistry.admission

    def admission(self):
        cm = orig_admission(self)
        if not tracer.enabled:
            return cm

        class Timed:
            def __enter__(_):
                with tracer.span("api.admission_wait"):
                    return cm.__enter__()

            def __exit__(_, *exc):
                return cm.__exit__(*exc)

        return Timed()

    api.KpRegistry.admission = admission

    orig_guard = api.run_query_with_timeout

    def run_query_with_timeout(engine, query, *a, **kw):
        if not tracer.enabled:
            return orig_guard(engine, query, *a, **kw)
        with tracer.span("api.run_query_with_timeout"):
            tracer.hand_off(query)
            return orig_guard(engine, query, *a, **kw)

    api.run_query_with_timeout = run_query_with_timeout
    tracer.wrap(api, "run_query", "query.response.run_query",
                lambda a, kw: (tracer.adopt(a[1]),
                               {"group": tracing.current_job_group(sc)}))
    tracer.wrap(engine_cls, "validate", "query.compiler.validate")
    tracer.wrap(engine_cls, "lookup", "query.compiler.lookup")
    tracer.wrap(engine_cls, "single_node_lookup", "query.compiler.lookup")
    tracer.wrap(response, "hydrate_knowledge_graph", "query.response.hydrate")
    tracer.wrap(response, "assemble_results", "query.response.assemble")

    for attr, name in (("get_neighbors", "query.response.get_neighbors"),
                       ("get_edges", "query.response.get_edges")):
        orig = getattr(api, attr)

        def grouped(*a, _orig=orig, _name=name, **kw):
            if not tracer.enabled:
                return _orig(*a, **kw)
            cur = tracer.current()
            group = f"perfbench-{cur['rid'] if cur else 'x'}-{_name}"
            with tracer.span(_name, group=group), tracing.job_group(sc, group):
                return _orig(*a, **kw)

        setattr(api, attr, grouped)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--kgx", required=True)
    p.add_argument("--art", required=True)
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--ready", required=True)
    args = p.parse_args()
    spark, start_s = hostspark.start_spark("perfbench-serve", args.work)
    tracer = tracing.Tracer() if args.trace else None
    out = {"session_start_s": start_s}
    out["build"] = build(spark, args, tracer)
    out["serve"] = serve(spark, args, tracer)
    if tracer:
        t_read = time.perf_counter()
        jobs = tracing.read_jobs(spark)
        # request jobs become leaves of the request's spans; the build's
        # stay inside the layer that ran them
        tracing.attach_jobs(tracer, [j for j in jobs if j["group"]
                                     and not j["group"].startswith("perfbench-build")])
        stages = tracing.read_stages(spark)
        for part in ("build", "serve"):
            out[part]["spark"] = tracing.spark_totals(
                tracing.jobs_in_window(jobs, *out[part]["window"]), stages)
        out["stage_rows"] = {
            str(j["job"]): sum(stages.get(s, {}).get("rows_read", 0.0)
                               for s in j["stages"])
            for j in jobs
        }
        out["self_s"] = layer_self_times(tracer.spans)
        out["spans"] = tracer.spans
        print(f"perfbench: status store read in {time.perf_counter() - t_read:.1f}s",
              file=sys.stderr)
    hostspark.stop_spark(spark)
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
