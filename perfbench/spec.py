"""What the benchmark measures: workloads, end-to-end metrics, per-layer
metrics, and which end-to-end metric each layer metric should move.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/spec.py > BENCHMARK.json``); a self-test keeps the two
in step.
"""

from __future__ import annotations

import json

WORKLOADS = [
    {
        "name": "kg_populate",
        "why": "write path: populate 3 sources, upsert, compact, export, summarize; "
               "ingest/sources/dataset/catalog/io do the work; closed loop, 1 client",
        "loop": "closed", "clients": 1,
        "inputs": "intact 12k + biogrid 12k + tfregulons 6k raw rows with grounding "
                  "maps; 5k-key genes table; 1k-row upsert delta per cycle",
        "skew": "none; rejects, unmapped ids and 90%-existing upsert keys planted "
                "at fixed rates",
    },
    {
        "name": "catalog_serve",
        "why": "read path: admin lookups, enrichment, SPARQL, provenance on Zipf hot "
               "keys; Spark per-query fixed cost dominates; closed loop, 2 clients",
        "loop": "closed", "clients": 2,
        "inputs": "15k pathways, 2k proteins, ~60k memberships, ~75k triples, "
                  "1k provenance events",
        "skew": "Zipf s=1.1 over pathway and gene keys; every 10 requests: 4 lookup, "
                "3 enrich, 2 sparql, 1 actions",
    },
    {
        "name": "corpus_curate",
        "why": "batch compute: quality, language, exact+fuzzy dedup, span removal, "
               "embedding pairs, decontamination; operators do the work; closed loop, 1 client",
        "loop": "closed", "clients": 1,
        "inputs": "2k documents of 42-82 words, 2k 32-d embeddings, 100 held-out docs",
        "skew": "10% exact copies, 20% in near-duplicate families (1-3 word edits), "
                "20% of vectors in tight families, half the held-out set contaminated",
        # runnable, but left out of BENCHMARK.json: the runs of a third
        # declared workload would not fit the time budget (see README.md)
        "declared": False,
    },
]

#: end-to-end metrics, reported on every workload (see README.md for what
#: throughput and the operation mean on each)
END_TO_END = [
    {"name": "throughput_per_s", "unit": "1/s", "better": "higher", "bound": 0.24},
    {"name": "latency_ms.p50", "unit": "ms", "better": "lower", "bound": 0.24},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.15},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]

POP, SERVE, CURATE = "kg_populate", "catalog_serve", "corpus_curate"
ALL = [POP, SERVE, CURATE]

#: per-layer metric -> (unit, end-to-end metric it should move, workloads)
_LAYER = [
    ("session.get_spark.s", "s", "setup_s", ALL),
    ("catalog.write_table.self_s", "s", "throughput_per_s", [POP]),
    ("catalog.write_table.output_bytes", "bytes", "throughput_per_s", [POP]),
    ("catalog.write_table.files", "count", "throughput_per_s", [POP]),
    ("catalog.store_action.self_s", "s", "throughput_per_s", [POP]),
    ("catalog.compact_table.self_s", "s", "throughput_per_s", [POP]),
    ("catalog.compact_table.bytes_rewritten", "bytes", "throughput_per_s", [POP]),
    ("catalog.read_table.self_s", "s", "latency_ms.p50", [SERVE]),
    ("catalog.latest_actions.self_s", "s", "latency_ms.p50", [SERVE]),
    ("catalog.read.rows_scanned_per_row_returned", "ratio", "latency_ms.p50", [SERVE]),
    ("dataset.populate.self_s", "s", "throughput_per_s", [POP]),
    ("dataset.upsert.self_s", "s", "throughput_per_s", [POP]),
    ("dataset.upsert.added_per_attempted", "ratio", "throughput_per_s", [POP]),
    ("dataset.summarize.self_s", "s", "throughput_per_s", [POP]),
    ("sources.intact.plan_s", "s", "throughput_per_s", [POP]),
    ("sources.intact.rejects_ratio", "ratio", "throughput_per_s", [POP]),
    ("sources.biogrid.plan_s", "s", "throughput_per_s", [POP]),
    ("sources.biogrid.rejects_ratio", "ratio", "throughput_per_s", [POP]),
    ("sources.tfregulons.plan_s", "s", "throughput_per_s", [POP]),
    ("sources.tfregulons.rejects_ratio", "ratio", "throughput_per_s", [POP]),
    ("io.automate.ensure_triples_tsv.self_s", "s", "throughput_per_s", [POP]),
    ("io.automate.ensure_triples_tsv.output_bytes", "bytes", "throughput_per_s", [POP]),
    ("admin.request.server_ms", "ms", "latency_ms.p50", [SERVE]),
    ("admin.parse_where.s", "s", "latency_ms.p50", [SERVE]),
    ("pathways.query_symbols.plan_s", "s", "latency_ms.p50", [SERVE]),
    ("pathways.query_symbols.exec_s", "s", "latency_ms.p50", [SERVE]),
    ("pathways.query_symbols.jobs", "count", "latency_ms.p50", [SERVE]),
    ("pathways.query_symbols.shuffle_bytes", "bytes", "latency_ms.p50", [SERVE]),
    ("sparql.sparql_select.plan_s", "s", "latency_ms.p50", [SERVE]),
    ("sparql.sparql_select.exec_s", "s", "latency_ms.p50", [SERVE]),
    ("sparql.sparql_select.jobs", "count", "latency_ms.p50", [SERVE]),
    ("sparql.sparql_select.shuffle_bytes", "bytes", "latency_ms.p50", [SERVE]),
    ("operators.dedup.dedup_fuzzy.self_s", "s", "throughput_per_s", [CURATE]),
    ("operators.dedup.dedup_fuzzy.shuffle_bytes", "bytes", "throughput_per_s", [CURATE]),
    ("operators.dedup.dedup_fuzzy.verified_per_candidate", "ratio", "throughput_per_s", [CURATE]),
    ("operators.similarity.embedding_near_pairs.self_s", "s", "throughput_per_s", [CURATE]),
    ("operators.similarity.embedding_near_pairs.pairs_per_candidate", "ratio",
     "throughput_per_s", [CURATE]),
    ("operators.textquality.quality_features.self_s", "s", "throughput_per_s", [CURATE]),
    ("operators.dedup.remove_duplicate_spans.self_s", "s", "throughput_per_s", [CURATE]),
    ("operators.caching.release_cached.released", "count", "peak_rss_mb", [CURATE]),
    ("engine.jobs", "count", "latency_ms.p50", ALL),
    ("engine.jobs_per_op", "count", "latency_ms.p50", ALL),
    ("engine.stages", "count", "latency_ms.p50", ALL),
    ("engine.tasks", "count", "throughput_per_s", ALL),
    ("engine.executor_run_s", "s", "throughput_per_s", ALL),
    ("engine.executor_cpu_s", "s", "throughput_per_s", ALL),
    ("engine.task_wait_s", "s", "latency_ms.p50", ALL),
    ("engine.gc_s", "s", "peak_rss_mb", ALL),
    ("engine.spill_bytes", "bytes", "peak_rss_mb", ALL),
    ("engine.shuffle_read_bytes", "bytes", "throughput_per_s", ALL),
    ("engine.shuffle_write_bytes", "bytes", "throughput_per_s", ALL),
    ("engine.input_records", "count", "throughput_per_s", ALL),
    ("tracing.spans", "count", "throughput_per_s", ALL),
    ("tracing.overhead_ratio", "ratio", "throughput_per_s", ALL),
]

PER_LAYER = [{"name": n, "unit": u, "better": "higher" if n.endswith(
    ("per_candidate", "per_attempted", ".released")) else "lower"}
    for n, u, _, _ in _LAYER]

#: per-layer metric -> {"moves": end-to-end metric, "on": [workloads]}
LAYER_MAP = {n: {"moves": m, "on": w} for n, _, m, w in _LAYER}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 15,
        "workloads": [{"name": w["name"], "why": w["why"]}
                      for w in WORKLOADS if w.get("declared", True)],
        "end_to_end": END_TO_END,
        "per_layer": PER_LAYER,
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
