"""``catalog``: analytics catalog entries on seeded TPC-H-like tables.

One process: start Spark, import the catalog, then

1. check that every one of the 79 catalog names is registered (a module
   whose import failed drops its names silently; here each missing name
   is a failed operation);
2. a cold pass over ``TIMED``: each entry's first run in the process, its
   result collected and compared with the entry's DuckDB oracle;
3. warm passes over ``TIMED`` until ``--seconds`` have passed, and at
   least two, each entry evaluated in full through the ``noop`` sink
   (``count()`` would let column pruning skip output columns users
   receive).  The median entry wall and the throughput count the entries
   other than ``HEAVY``, which would otherwise weigh on the throughput
   alone;
4. when traced, one more pass with spans and Catalyst phase timings.

The full 79-entry pass does not fit the benchmark's time budget on a
4-CPU host (a warm pass alone takes about a minute at this scale), so
``TIMED`` is a fixed sample: the heaviest entry (``d6_dup_groups``) and
one typical entry from each of four query modules.  It leaves out:

- ``queries.graph`` and most ``queries.semantics`` entries, which serve
  from the shared TRAPI engine: the first of them in a process builds that
  engine's knowledge graph (about 25 s on 4 CPUs), the build
  ``trapi-serve`` already times;
- ``queries.curation``: both of its entries take 6-11 s on their first run;
- the remaining ``queries.semantics`` entries, for time.
"""

from __future__ import annotations

import os
import statistics
import time

import hostspark
import stats
import tracing
from gen_tables import write_tables
from oracle import Oracle, canon, same_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_CACHE = os.path.join(ROOT, ".perfbench_cache", "oracle")
SF = 0.005
SETUP_REPS = 3
ALL_ENTRIES = (
    "a1_meta_kg a1_pricing_summary a2_first_order_per_customer a2_test_triples "
    "a3_meta_nodes a3_segment_nations a4_normalize_merge a6_conditional_grouping "
    "a6_result_groups c10_lsh_decontamination c11_doc_chunking "
    "c12_token_window_decontamination c13_canonical_selection c14_span_redaction "
    "c1_clean_corpus c2_decontamination c3_sequence_packing c4_stratified_sample "
    "c5_domain_cap c6_embedding_quantization c7_training_mix "
    "c8_bloom_decontamination c9_temperature_mixture d1_exact_dedup "
    "d2_minhash_lsh_pairs d3_simhash d4_ngram_jaccard d5_embedding_neardup "
    "d6_dup_groups d7_edit_distance_verify f1_event_type_stats "
    "f3_constrained_lookup f4_symmetric_lookup f5_top_orders g2_subclass_closure "
    "j10_edges_between_pairs j11_batch_neighbors j11_order_parts "
    "j12_asof_last_order j1_customers_without_orders j2_one_hop_lookup "
    "j2_region_revenue j3_doubly_pinned j3_trapi_doubly_pinned j4_alias_lookup "
    "j5_subclass_expanded_lookup j8_qualified_lookup m1_media_features "
    "m2_frame_samples m3_resize_dims m4_audio_metadata m5_flac_metadata "
    "m6_mp3_metadata m7_jpeg_metadata m8_gif_metadata p4_zip_roundtrip "
    "p6_most_specific_categories p7_canonical_flip r5_single_node_lookup "
    "s1_cosine_topk s2_ivf_topk s3_kmeans_cells s4_ivf_recall s5_ivf_multiprobe "
    "s6_signed_projection set_ops_customers t10_pii_redaction t1_token_counts "
    "t2_quality_scores t3_language_id t4_fingerprints t5_pii_scan "
    "t6_repetition_scores t7_vocab_topk t8_quality_quantile t9_tfidf_topk "
    "w1_sessionize w2_rollup_orders w3_value_deltas"
).split()
# entry -> the queries module that registers it
TIMED = {
    "a1_pricing_summary": "relational",
    "j12_asof_last_order": "windows",
    "m1_media_features": "media",
    "t1_token_counts": "pipeline",
    "d6_dup_groups": "pipeline",
}


HEAVY = "d6_dup_groups"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    data = os.path.join(work, "tables")
    rows = write_tables(data, seed, SF)
    spark, start_s = hostspark.start_spark("perfbench-catalog", work)
    try:
        return _measure(spark, start_s, data, rows, seconds, trace)
    finally:
        hostspark.stop_spark(spark)


def _measure(spark, start_s, data, rows, seconds, trace) -> dict:
    t0 = time.perf_counter()
    from ploverdb_spark import catalog

    registry = catalog.all_queries()
    import_s = time.perf_counter() - t0
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        for t in catalog.TABLES:
            catalog.load(spark, data, t).schema  # noqa: B018 — resolves the scan
        reps.append(time.perf_counter() - t0)

    outcomes: list[bool] = []
    failures: list[str] = []

    def record(ok: bool, what: str) -> None:
        outcomes.append(ok)
        if not ok:
            failures.append(what)

    for name in ALL_ENTRIES:
        record(name in registry, f"{name}: not registered")
    runnable = [n for n in TIMED if n in registry]

    oracle = Oracle(data, catalog.TABLES, ORACLE_CACHE)
    cold: dict[str, float] = {}
    try:
        for name in runnable:
            t0 = time.perf_counter()
            try:
                got = registry[name](spark, data).toPandas()
            except Exception as e:  # noqa: BLE001 — a failing entry is a result
                record(False, f"{name}: raised {type(e).__name__}")
                continue
            cold[name] = time.perf_counter() - t0
            ok = same_rows(canon(got), oracle.rows(catalog.get(name).oracle))
            record(ok, f"{name}: differs from its oracle")
    finally:
        oracle.close()

    warm: dict[str, list[float]] = {n: [] for n in runnable}
    passes: list[float] = []
    w0 = time.time()
    t_start = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - t_start < seconds:
        p0 = time.perf_counter()
        for name in runnable:
            e0 = time.perf_counter()
            try:
                _noop(registry[name](spark, data))
            except Exception as e:  # noqa: BLE001
                record(False, f"{name}: raised {type(e).__name__} when timed")
                continue
            warm[name].append(time.perf_counter() - e0)
            record(True, name)
        passes.append(time.perf_counter() - p0)
    w1 = time.time()

    per_entry = {n: statistics.median(xs) for n, xs in warm.items() if xs}
    light = {n: xs for n, xs in warm.items() if n != HEAVY and xs}
    light_runs = [x for xs in light.values() for x in xs]
    attempted, failed, frac = stats.failed_frac(outcomes)
    metrics = {
        "setup_s": start_s + import_s + statistics.median(reps),
        "batch_s": sum(cold.values()),
        # the median entry, not the median run: with four entries of
        # different cost, the pooled median jumps between entries
        "p50_s": statistics.median(statistics.median(xs) for xs in light.values()),
        "heavy_s": per_entry.get(HEAVY, max(per_entry.values())),
        "ops_per_s": len(light_runs) / sum(light_runs),
    }
    peak_rss = hostspark.peak_rss_gb(spark)
    report = {
        "data_fingerprint": oracle.fp,
        "table_rows": rows,
        "scale_factor": SF,
        "session_start_s": start_s,
        "catalog_import_s": import_s,
        "setup_reps_s": reps,
        "catalog_registered": sum(n in registry for n in ALL_ENTRIES),
        "oracle_cache_hits": oracle.hits,
        "catalog_s": sum(per_entry.values()),
        "catalog_median_s": metrics["p50_s"],
        "cold_pass_s": metrics["batch_s"],
        "warm_passes": len(passes),
        "peak_rss_gb": peak_rss,
        "entry_warm_s": per_entry,
        "entry_cold_s": cold,
        "failures": failures[:20],
    }
    out = {"attempted": attempted, "failed": failed, "failed_frac": frac,
           "metrics": metrics, "report": report}
    if trace:
        out["layers"], out["trace"] = _traced_pass(
            spark, data, registry, runnable, (w0, w1), report["catalog_s"],
            metrics["p50_s"])
        out["layers"]["session.start_s"] = start_s
        out["layers"]["jvm.peak_rss_gb"] = peak_rss
    return out


def _traced_pass(spark, data, registry, runnable, window, untraced_pass_s,
                 untraced_p50_s):
    sc = spark.sparkContext
    tracer = tracing.Tracer()
    catalyst = 0.0
    p0 = time.perf_counter()
    for name in runnable:
        group = f"perfbench-catalog-{name}"
        with tracing.job_group(sc, group), tracer.span(
                "catalog.entry", group=group, entry=name, module=TIMED[name]):
            with tracer.span("catalog.plan"):
                df = registry[name](spark, data)
            with tracer.span("catalog.catalyst"):
                qe = df._jdf.queryExecution()  # noqa: SLF001
                qe.executedPlan()
                phases = qe.tracker().phases()
                it = phases.iterator()
                while it.hasNext():
                    catalyst += it.next()._2().durationMs() / 1e3
            with tracer.span("catalog.exec"):
                _noop(df)
    traced_pass_s = time.perf_counter() - p0
    jobs = tracing.read_jobs(spark)
    tracing.attach_jobs(tracer, [j for j in jobs
                                 if (j["group"] or "").startswith("perfbench-catalog-")])
    stages = tracing.read_stages(spark)
    spans = tracer.spans

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    layers = {
        "catalog.plan_s": total("catalog.plan"),
        "catalog.catalyst_s": catalyst,
        "catalog.exec_s": total("catalog.exec"),
    }
    entry_walls = [s["end"] - s["start"] for s in spans
                   if s["name"] == "catalog.entry" and s["entry"] != HEAVY]
    layers["trace.overhead_p50_s"] = statistics.median(entry_walls) - untraced_p50_s
    for m in set(TIMED.values()):
        layers[f"queries.{m}_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "catalog.entry" and s["module"] == m)
    timed = tracing.jobs_in_window(jobs, *window)
    layers.update((k, v) for k, v in tracing.spark_totals(timed, stages).items()
                  if k != "rows_read")
    parts = stats.layer_self_times(spans)
    parts["unattributed"] = traced_pass_s - total("catalog.entry")
    trace = {"pass_wall_s": traced_pass_s, "pass_self_s": parts,
             "catalyst_phases_s": catalyst,
             "tracing_overhead_s": {
                 "pass_s": traced_pass_s - untraced_pass_s,
                 "p50_s": layers["trace.overhead_p50_s"]},
             "spans": spans}
    return layers, trace
