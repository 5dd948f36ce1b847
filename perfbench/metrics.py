"""The benchmark's metric catalogue: every end-to-end and per-layer
metric with its unit and direction, and for each per-layer metric the
end-to-end metric and workload it should move. ``BENCHMARK.json`` at the
repository root lists the same names; ``python3 perfbench/metrics.py``
prints the JSON lists it must hold, and ``perfbench/steady.py`` refuses
to run when the two disagree.

Layer names are the program's module names: ``session``, ``catalog``,
``api`` (the MemvidSpark facade), ``plans`` (query parser),
``search``/``ask``/``hnsw`` (``memvid_spark.operators``), ``registry``
(the named query pipelines), plus ``spark`` execution and the ``driver``
JVM. ``traced.*`` repeat end-to-end metrics under tracing, so traced
minus untraced is the tracing overhead.
"""

from __future__ import annotations

import json

# name, unit, better, bound (share of the parent's median it may worsen)
# latency_ms: each operation type's median latency, weighted by the
# type's share of the workload's operations (serve_mixed: the request
# mix; curate: each pipeline 1/7, so the mean pipeline wall). Weighting
# per-type medians keeps it steady where one median over a few mixed
# requests would land on whichever type happens to sit in the middle.
E2E = [
    ("setup_s", "s", "lower", 0.25),
    ("latency_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("cpu_ms_per_op", "ms", "lower", 0.25),
]

CURATE_QUERIES = [
    "q21_simhash_near_dups",
    "q22_minhash_lsh",
    "q109_clean_corpus_pipeline",
    "q145_passage_dedup",
    "q146_dedup_survivors",
    "q158_lm_perplexity",
    "q161_quality_classifier",
]

S, C = "serve_mixed", "curate"
BOTH = "serve_mixed,curate"

# name, unit, better, workload, end-to-end metric it should move
LAYERS = [
    ("session.start_s", "s", "lower", BOTH, "setup_s"),
    ("catalog.load_ms", "ms", "lower", C, "latency_ms,ops_per_s"),
    ("api.search.construct_ms", "ms", "lower", S, "latency_ms"),
    ("api.search.exec_ms", "ms", "lower", S, "latency_ms"),
    ("api.ann.construct_ms", "ms", "lower", S, "latency_ms"),
    ("api.ann.exec_ms", "ms", "lower", S, "latency_ms"),
    ("api.ask.construct_ms", "ms", "lower", S, "latency_ms"),
    ("api.put.construct_ms", "ms", "lower", S, "ops_per_s"),
    ("api.add_embeddings.construct_ms", "ms", "lower", S, "ops_per_s"),
    ("api.refresh_ann.construct_ms", "ms", "lower", S, "ops_per_s"),
    ("api.build_ann_s", "s", "lower", S, "setup_s"),
    ("api.save_s", "s", "lower", S, "setup_s"),
    ("api.open_s", "s", "lower", S, "setup_s"),
    ("plans.parse_ms", "ms", "lower", S, "latency_ms"),
    ("search.bm25_topk_ms", "ms", "lower", S, "latency_ms"),
    ("ask.jobs", "count", "lower", S, "latency_ms"),
    ("ask.construct_ms", "ms", "lower", S, "latency_ms"),
    ("hnsw.knn_pruned_ms", "ms", "lower", S, "latency_ms"),
    ("hnsw.apply_delta_ms", "ms", "lower", S, "ops_per_s"),
    ("hnsw.retrains", "count", "lower", S, "ops_per_s"),
    ("hnsw.needs_retrain_ms", "ms", "lower", S, "ops_per_s"),
    ("hnsw.train_s", "s", "lower", S, "setup_s"),
    ("hnsw.build_s", "s", "lower", S, "setup_s"),
    ("hnsw.recall_at_10", "ratio", "higher", S, "none (must not move)"),
]
for _q in CURATE_QUERIES:
    LAYERS += [
        (f"registry.{_q}.construct_s", "s", "lower", C, "ops_per_s"),
        (f"registry.{_q}.plan_s", "s", "lower", C, "ops_per_s"),
        (f"registry.{_q}.exec_s", "s", "lower", C, "ops_per_s,cpu_ms_per_op"),
        (f"registry.{_q}.jobs", "count", "lower", C, "ops_per_s"),
        (f"registry.{_q}.shuffle_mb", "MB", "lower", C, "cpu_ms_per_op"),
    ]
LAYERS += [
    ("spark.jobs", "count", "lower", BOTH, "latency_ms,ops_per_s"),
    ("spark.tasks", "count", "lower", BOTH, "ops_per_s,cpu_ms_per_op"),
    ("spark.executor_cpu_s", "s", "lower", BOTH, "cpu_ms_per_op"),
    ("spark.python_cpu_s", "s", "lower", BOTH, "cpu_ms_per_op"),
    ("spark.shuffle_write_mb", "MB", "lower", BOTH, "ops_per_s,cpu_ms_per_op"),
    ("spark.spill_mb", "MB", "lower", BOTH, "ops_per_s"),
    ("spark.gc_s", "s", "lower", BOTH, "ops_per_s,cpu_ms_per_op"),
    ("spark.jobs_per_request", "count", "lower", BOTH, "latency_ms"),
    ("spark.pinned_rdds_end", "count", "lower", S, "latency_ms,ops_per_s"),
    ("driver.rss_peak_mb", "MB", "lower", BOTH, "ops_per_s"),
    ("trace.spans", "count", "lower", BOTH, "none (tracing bookkeeping)"),
]
LAYERS += [
    (f"traced.{name}", unit, better, BOTH, f"{name} (overhead = traced - untraced)")
    for name, unit, better, _ in E2E
]


def benchmark_lists() -> dict:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in E2E
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in LAYERS],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_lists(), indent=2))
    print("\nper-layer metric -> workload : end-to-end metric it should move")
    for n, _, _, wl, moves in LAYERS:
        print(f"  {n} -> {wl} : {moves}")
