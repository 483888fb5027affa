"""Generate docs/PLANS.md: formatted physical plans for the load-bearing
queries, annotated with the plan features each one must exhibit at scale.

The features asserted here are the same ones tests/test_plans.py pins;
this artifact makes them reviewable without running Spark. Regenerate with:

    python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webscale_vector_search_spark.queries import QUERIES  # noqa: E402
from webscale_vector_search_spark.session import get_spark  # noqa: E402

# query -> (markers that MUST appear, one-line why)
AUDIT = {
    "q_knn_exact": (
        ["BroadcastNestedLoopJoin", "WindowGroupLimit"],
        "query batch broadcasts (corpus streams, never shuffles); "
        "per-partition partial top-k runs before the single k-rows-per-query exchange",
    ),
    "q_filtered_knn": (
        ["PushedFilters", "WindowGroupLimit"],
        "the lang predicate reaches the parquet scan — filtered BEFORE any "
        "distance work; at 100 TB this is the difference between scanning a "
        "language slice and the whole corpus",
    ),
    "q_pricing": (
        ["HashAggregate", "PushedFilters"],
        "partial+final aggregate (map-side combine) with the date filter "
        "pushed to the scan — the canonical TPC-H Q1 shape",
    ),
    "q_top_customers": (
        ["BroadcastHashJoin"],
        "dimension tables broadcast; only the fact table streams",
    ),
    "q_neardup_bands": (
        ["MapInPandas", "PushedFilters"],
        "signatures are map-side (one Arrow kernel, zero shuffle below it — "
        "only one row per (doc, band) would reach a downstream band-bucket "
        "groupBy); the doc_id predicate is pushed to the scan",
    ),
    "q_json_events": (
        ["ReadSchema: struct<ts:timestamp,event_type:string,props:string>", "HashAggregate"],
        "event-time tumbling window as partial+final aggregate; the scan is "
        "column-pruned to exactly the three columns the window needs",
    ),
    "q_metrics": (
        ["HashAggregate"],
        "A1-A5 metrics in one partial+final aggregate pass",
    ),
    "q_sample_mix": (
        ["PushedFilters"],
        "stratified sampling is a map-side hash-threshold filter — no shuffle, "
        "no sampling state",
    ),
    "q_asof_join": (
        ["Window"],
        "as-of join as one shuffle + window composition — zero join operators",
    ),
}


def explain_formatted(spark, df) -> str:
    qe = df._jdf.queryExecution()
    return spark._jvm.PythonSQLUtils.explainString(qe, "formatted")


def _index_sections(spark, sf_dir):
    """Plans over BUILT index artifacts (not in QUERIES — they need a build
    step): the IVF probe paths, uncapped and skew-capped, and the IVFPQ
    refined search. Yields (name, markers, why, df) tuples."""
    import tempfile

    from webscale_vector_search_spark.config import EngineConfig
    from webscale_vector_search_spark.plans.build import build_index, search_index
    from webscale_vector_search_spark.sources.fixtures import (
        load_table,
        queries_from_embeddings,
    )

    corpus = load_table(spark, "embeddings", sf_dir)
    q = queries_from_embeddings(spark, sf_dir, 5)
    root = tempfile.mkdtemp(prefix="wvss_audit_")

    ivf_dir = os.path.join(root, "ivf")
    # explicit None: this is the UNCAPPED section the ivf_capped one below
    # contrasts with — inheriting the engine's 4.0 default would silently
    # make the two audits the same plan
    build_index(
        spark, corpus, ivf_dir,
        EngineConfig(
            index_type="IVF", nlist=16, kmeans_sample_fraction=1.0,
            ivf_max_list_factor=None,
        ),
    )
    yield (
        "ivf_search_sql",
        ["BroadcastHashJoin", "dynamicpruning"],
        "probe assignments broadcast; the corpus scan carries a DYNAMIC "
        "partition-pruning subquery on centroid_id (the inverted-list skip)",
        search_index(spark, ivf_dir, q, k=10, nprobe=4, kernel="sql"),
    )
    yield (
        "ivf_search_pandas",
        ["centroid_id"],
        "probes resolve driver-side; STATIC IN-list pruning reaches the "
        "corpus scan (INSET above 10 probed lists, literal IN below), so "
        "only probed list partitions are read",
        search_index(spark, ivf_dir, q, k=10, nprobe=4, kernel="pandas"),
    )

    attr_dir = os.path.join(root, "ivf_attr")
    from pyspark.sql import functions as F

    build_index(
        spark,
        corpus.withColumn("label", (F.col("vec_id") % 7).cast("int")),
        attr_dir,
        EngineConfig(
            index_type="IVF", nlist=16, kmeans_sample_fraction=1.0,
            ivf_max_list_factor=None,
        ),
        attr_cols=["label"],
    )
    yield (
        "ivf_filtered_search",
        ["centroid_id", "PushedFilters"],
        "filtered ANN (r9): the attr predicate must land in the probed "
        "scan's PushedFilters BESIDE the centroid_id partition filter — "
        "scan-side filtering, no join, no post-pass; a plan that filters "
        "after the kernel changes the cost class at 100 TB",
        search_index(spark, attr_dir, q, k=10, nprobe=4, where="label = 3"),
    )

    from webscale_vector_search_spark.plans.build import delete_vectors

    delete_vectors(spark, attr_dir, [0, 1, 2])
    from webscale_vector_search_spark.sources.index_io import open_index

    yield (
        "ivf_tombstone_search",
        ["BroadcastHashJoin", "LeftAnti"],
        "pending deletes (r9): the tombstone exclusion is a BROADCAST "
        "left-anti against the streamed probed scan — map-side, "
        "pending-set-sized; a shuffled anti-join here would exchange the "
        "corpus",
        search_index(spark, open_index(spark, attr_dir), q, k=10, nprobe=4),
    )

    pq_dir = os.path.join(root, "ivfpq")
    build_index(
        spark, corpus, pq_dir,
        EngineConfig(index_type="IVFPQ", nlist=16, pq_m=16, kmeans_sample_fraction=1.0),
    )
    yield (
        "ivfpq_refined_search",
        ["MapInArrow", "hashpartitioning(query_id", "embedding:array<float>,codes:"],
        "the exact refine is fused into the ADC scan: ONE probed scan reads "
        "codes and raw vectors together, the kernel scores only its per-batch "
        "ADC candidates exactly, and ONE query_id exchange carries both "
        "rankings — no second scan of the probed lists, no broadcast join, "
        "no interpreted SQL distance fold",
        search_index(spark, pq_dir, q, k=10, nprobe=4),
    )

    cap_dir = os.path.join(root, "ivf_capped")
    build_index(
        spark,
        corpus,
        cap_dir,
        EngineConfig(
            index_type="IVF", nlist=16, kmeans_sample_fraction=1.0, ivf_max_list_factor=1.5
        ),
    )
    yield (
        "ivf_capped_search_pandas",
        ["centroid_id"],
        "skew-capped index (hot lists split into NEW, non-contiguous "
        "centroid ids): static pruning must still reach the scan over the "
        "split sub-lists — losing it would re-scan the corpus at 100 TB",
        search_index(spark, cap_dir, q, k=10, nprobe=4, kernel="pandas"),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("wvss-explain-audit")
    out = [
        "# PLANS — formatted physical plans of the load-bearing queries",
        "",
        f"Generated by `python tools/explain_audit.py {sf_dir}` "
        "(regenerate after plan-affecting changes; tests/test_plans.py pins "
        "the same markers so drift fails CI first).",
        "",
    ]
    failures = []
    sections = [(n, m, w, QUERIES[n](spark, sf_dir)) for n, (m, w) in AUDIT.items()]
    sections += list(_index_sections(spark, sf_dir))
    for name, markers, why, df in sections:
        plan = explain_formatted(spark, df)
        missing = [m for m in markers if m not in plan]
        status = "OK" if not missing else f"MISSING {missing}"
        if missing:
            failures.append((name, missing))
        out += [
            f"## {name} — {status}",
            "",
            f"Scale contract: {why}.",
            f"Required markers: {', '.join(markers)}.",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md"
    )
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest}")
    for name, missing in failures:
        print(f"FAIL {name}: missing {missing}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
