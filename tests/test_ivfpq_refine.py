"""IVFPQ exact refine fused into the ADC scan (pq.adc_search refine_k).

search_index(..., exact_refine=True) scores the ADC candidates exactly
inside the one probed scan. The reference below is the two-pass refine it
replaces, kept verbatim in shape: the ADC top-(refine_factor * k)
candidates joined back to the raw vectors, scored with the SQL
with_distance fold, ranked with topk. The two must agree to the bit on
every IVFPQ variant and on every scan-side input change (filters,
tombstones, cosine query normalization).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.operators.knn import seq_sq_l2, topk, with_distance
from webscale_vector_search_spark.plans.build import build_index, delete_vectors, search_index
from webscale_vector_search_spark.sources.fixtures import load_table, queries_from_embeddings
from webscale_vector_search_spark.sources.index_io import open_index

COLS = ["query_id", "rank", "neighbor_id", "distance"]
NPROBE = 2
# a shallow ADC depth, so the exact ranking differs from the ADC one and
# the ADC-rank cut decides which candidates survive
REFINE_FACTOR = 2


@pytest.fixture(scope="module")
def corpus(spark):
    emb = load_table(spark, "embeddings", SF_ORACLE)
    return emb.withColumn("label", (F.col("vec_id") % 7).cast("int")).cache()


@pytest.fixture(scope="module")
def queries(spark):
    return queries_from_embeddings(spark, SF_ORACLE, 12).cache()


def _two_pass_refine(spark, handle, queries, k, refine_factor, **kw):
    """The pre-fusion refine: a second plan over the raw vectors."""
    adc = search_index(
        spark, handle, queries, k=refine_factor * k, nprobe=NPROBE,
        exact_refine=False, **kw,
    )
    if handle.meta.get("metric", "sq_l2") == "cosine":
        from webscale_vector_search_spark.functions.distance import with_l2_normalized

        queries = with_l2_normalized(queries, "qvec")
    cand = adc.select("query_id", F.col("neighbor_id").alias("vec_id"))
    refine = (
        handle.vectors.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries.select("query_id", "qvec")), "query_id")
    )
    return topk(with_distance(refine), k).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )


def _canon(df) -> pd.DataFrame:
    pdf = df.toPandas()[COLS].sort_values(["query_id", "rank"]).reset_index(drop=True)
    return pdf.astype(
        {"query_id": "int64", "rank": "int32", "neighbor_id": "int64", "distance": "float64"}
    )


def _assert_fused_matches(spark, handle, queries, k=10, refine_factor=REFINE_FACTOR, **kw):
    want = _canon(_two_pass_refine(spark, handle, queries, k, refine_factor, **kw))
    got = _canon(
        search_index(
            spark, handle, queries, k=k, nprobe=NPROBE, refine_factor=refine_factor, **kw
        )
    )
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _handle(spark, corpus, tmp_path_factory, name, attr_cols=None, **cfg):
    out = str(tmp_path_factory.mktemp(name))
    config = EngineConfig(index_type="IVFPQ", nlist=4, pq_m=16, kmeans_sample_fraction=1.0, **cfg)
    build_index(spark, corpus, out, config, attr_cols=attr_cols)
    return open_index(spark, out)


@pytest.fixture(scope="module")
def pq_handle(spark, corpus, tmp_path_factory):
    return _handle(spark, corpus, tmp_path_factory, "refine_pq")


def test_seq_sq_l2_is_the_sql_fold():
    """The fold must be the SQL kernel's left fold, not a numpy reduction
    (which sums pairwise and differs in the last bits)."""
    rng = np.random.default_rng(3)
    Q = rng.standard_normal((500, 64)) * 1e3
    V = rng.standard_normal((500, 64)).astype(np.float32)
    want = []
    for q, v in zip(Q.tolist(), V.astype(np.float64).tolist()):
        acc = 0.0
        for x, y in zip(q, v):
            d = x - y
            acc = acc + d * d
        want.append(acc)
    assert np.array_equal(seq_sq_l2(Q, V), np.array(want))


def test_global_residual(spark, pq_handle, queries):
    _assert_fused_matches(spark, pq_handle, queries)


def test_raw_codes(spark, corpus, queries, tmp_path_factory):
    h = _handle(spark, corpus, tmp_path_factory, "refine_raw", pq_residual=False)
    _assert_fused_matches(spark, h, queries)


def test_global_opq(spark, corpus, queries, tmp_path_factory):
    h = _handle(spark, corpus, tmp_path_factory, "refine_opq", pq_opq_iters=1)
    _assert_fused_matches(spark, h, queries)


def test_lopq_with_rotations(spark, corpus, queries, tmp_path_factory):
    h = _handle(
        spark, corpus, tmp_path_factory, "refine_lopq",
        pq_local_codebooks=True, pq_opq_iters=1,
    )
    _assert_fused_matches(spark, h, queries)


def test_pending_tombstones(spark, corpus, queries, tmp_path_factory):
    h = _handle(spark, corpus, tmp_path_factory, "refine_tomb")
    # delete the current top hits so the tombstones change the answer
    top = search_index(spark, h, queries, k=3, nprobe=NPROBE).select("neighbor_id")
    gone = sorted({int(r[0]) for r in top.collect()})
    delete_vectors(spark, h.index_dir, gone)
    h.maybe_refresh()
    assert h.tombstones is not None
    _assert_fused_matches(spark, h, queries)
    got = search_index(spark, h, queries, k=10, nprobe=NPROBE).toPandas()
    assert not set(got["neighbor_id"]) & set(gone)


def test_where_on_attr_index(spark, corpus, queries, tmp_path_factory):
    h = _handle(spark, corpus, tmp_path_factory, "refine_attr", attr_cols=["label"])
    _assert_fused_matches(spark, h, queries, where="label = 3")


def test_cosine(spark, corpus, queries, tmp_path_factory):
    h = _handle(spark, corpus, tmp_path_factory, "refine_cos", metric="cosine")
    _assert_fused_matches(spark, h, queries)


def test_refine_depth_beyond_every_list(spark, pq_handle, queries):
    """refine_factor * k larger than any probed list: every probed row is
    a candidate, so the refine is an exact search of the probed lists."""
    n_max = pq_handle.vectors.groupBy("centroid_id").count().agg(F.max("count")).first()[0]
    factor = n_max // 10 + 1
    assert factor * 10 > n_max
    _assert_fused_matches(spark, pq_handle, queries, refine_factor=factor)


def test_refined_search_runs_no_more_jobs_than_adc_only(spark, pq_handle, queries):
    sc = spark.sparkContext

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            search_index(spark, pq_handle, queries, k=10, nprobe=NPROBE, **kw).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("refine_warmup")
    adc_only = jobs("refine_adc_only", exact_refine=False)
    refined = jobs("refine_fused", exact_refine=True)
    assert 0 < refined <= adc_only
