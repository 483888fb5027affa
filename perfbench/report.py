"""Turn a workload's measurements and spans into the metrics BENCHMARK.json
declares: every ``end_to_end`` metric untraced, every ``per_layer`` metric
traced. A declared metric the run did not produce is an error.

Per-layer metrics are printed on both workloads; a call a workload never
makes reads 0 there.
"""

from __future__ import annotations

import json
import os

import numpy as np

from tracer import COUNTERS, Tracer

# Calls traced with Spark counters (metric prefix = span name).
CALLS = (
    "build_index.flat", "build_index.ivf", "build_index.ivfpq", "build_index.hnsw",
    "search_index.flat", "search_index.ivfpq",
    "append_vectors", "delete_vectors",
    "exact_dedup", "neardup_candidate_pairs", "ngram_jaccard", "dedup_clusters",
)
CALL_FIELDS = ("s", "driver_s") + COUNTERS


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def layer_values(tr: Tracer, m: dict) -> dict[str, float]:
    self_t = tr.self_times()
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)

    def dur(name):
        return [s.end - s.start for s in by_name.get(name, [])]

    def counter(name, key):
        return float(sum(s.counters.get(key, 0.0) for s in by_name.get(name, [])))

    def pct(name, q):
        d = dur(name)
        return float(np.percentile(np.asarray(d) * 1e3, q)) if d else 0.0

    out: dict[str, float] = {}
    for c in CALLS:
        out[f"{c}.s"] = float(sum(dur(c)))
        out[f"{c}.driver_s"] = float(sum(self_t[s.id] for s in by_name.get(c, [])))
        for key in CALL_FIELDS[2:]:
            out[f"{c}.{key}"] = counter(c, key)
    out["session.get_spark_s"] = float(sum(dur("session.get_spark")))
    out["open_index.s"] = float(sum(dur("open_index")))
    out["serve_local.warm_s"] = float(sum(dur("serve_local.warm")))
    for coll in ("ivf", "hnsw"):
        out[f"serve_local.{coll}.p50_ms"] = pct(f"serve_local.{coll}", 50)
        out[f"serve_local.{coll}.p99_ms"] = pct(f"serve_local.{coll}", 99)
    for tag in ("after_append", "after_delete"):
        d = dur(f"serve_local.{tag}")
        out[f"serve_local.{tag}_ms"] = float(np.mean(d) * 1e3) if d else 0.0
    out["serve_local.spark_jobs"] = counter("serve_passes", "spark_jobs")
    nq = m.get("search_index.ivfpq.queries", 0)
    out["search_index.ivfpq.rows_per_query"] = (
        counter("search_index.ivfpq", "input_rows") / nq if nq else 0.0)
    out["ngram_jaccard.verified_per_candidate"] = m.get("ngram_jaccard.verified_per_candidate", 0.0)
    # one localCheckpoint for the initial labels, then one per round
    out["dedup_clusters.rounds"] = max(0.0, counter("dedup_clusters", "localCheckpoint") - 1)
    out["dedup.pair_recall"] = m.get("dedup.pair_recall", 0.0)
    out["loadgen.late_p99_ms"] = m.get("loadgen.late_p99_ms", 0.0)
    out["trace.overhead_s"] = tr.overhead_s
    return out


def metrics(spec: dict, trace: bool, values: dict[str, float]) -> dict:
    declared = spec["per_layer" if trace else "end_to_end"]
    missing = [d["name"] for d in declared if d["name"] not in values]
    if missing:
        raise KeyError(f"run produced no value for declared metrics {missing}")
    return {d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]} for d in declared}
