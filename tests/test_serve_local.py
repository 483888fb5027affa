"""serve_local — the driver-side mini-serve path (SURVEY.md §3.1's online
path at the reference's latency floor, vector_search_cluster.py:794-812).

Contract under test: serve_local(handle, queries, k) is BIT-IDENTICAL to
search_index(spark, handle, queries, k) for every index type — same
(query_id, rank, neighbor_id, distance) rows, same float distances — so a
dispatcher can route small batches driver-side on batch size alone."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_ORACLE
from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.plans.build import build_index, search_index
from webscale_vector_search_spark.plans.serve_local import serve_local
from webscale_vector_search_spark.sources.fixtures import load_table, queries_from_embeddings
from webscale_vector_search_spark.sources.index_io import open_index

COLS = ["query_id", "rank", "neighbor_id", "distance"]


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, "embeddings", SF_ORACLE).cache()


@pytest.fixture(scope="module")
def queries(spark):
    return queries_from_embeddings(spark, SF_ORACLE, 12).cache()


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[COLS].sort_values(["query_id", "rank"]).reset_index(drop=True)
    return out.astype(
        {"query_id": "int64", "rank": "int32", "neighbor_id": "int64", "distance": "float64"}
    )


def _assert_identical(spark_df, local_pdf):
    a = _canon(spark_df.toPandas())
    b = _canon(local_pdf)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def _build(spark, corpus, tmp_path_factory, name: str, cfg: EngineConfig):
    out = str(tmp_path_factory.mktemp(name))
    build_index(spark, corpus, out, cfg)
    return open_index(spark, out)


@pytest.fixture(scope="module")
def flat_handle(spark, corpus, tmp_path_factory):
    return _build(spark, corpus, tmp_path_factory, "sl_flat", EngineConfig(index_type="FLAT"))


@pytest.fixture(scope="module")
def ivf_handle(spark, corpus, tmp_path_factory):
    return _build(
        spark, corpus, tmp_path_factory, "sl_ivf",
        EngineConfig(index_type="IVF", nlist=8, kmeans_sample_fraction=1.0),
    )


@pytest.fixture(scope="module")
def pq_handle(spark, corpus, tmp_path_factory):
    return _build(
        spark, corpus, tmp_path_factory, "sl_pq",
        EngineConfig(index_type="IVFPQ", nlist=4, pq_m=16, kmeans_sample_fraction=1.0),
    )


@pytest.fixture(scope="module")
def lopq_handle(spark, corpus, tmp_path_factory):
    return _build(
        spark, corpus, tmp_path_factory, "sl_lopq",
        EngineConfig(
            index_type="IVFPQ", nlist=4, pq_m=16, kmeans_sample_fraction=1.0,
            pq_local_codebooks=True, pq_opq_iters=1,
        ),
    )


@pytest.fixture(scope="module")
def hnsw_handle(spark, corpus, tmp_path_factory):
    return _build(
        spark, corpus, tmp_path_factory, "sl_hnsw",
        EngineConfig(index_type="HNSW", num_shards=4),
    )


def test_flat_bit_identical(spark, flat_handle, queries):
    want = search_index(spark, flat_handle, queries, k=10)
    got = serve_local(flat_handle, queries, k=10)
    _assert_identical(want, got)


def test_ivf_bit_identical(spark, ivf_handle, queries):
    want = search_index(spark, ivf_handle, queries, k=10, nprobe=3)
    got = serve_local(ivf_handle, queries, k=10, nprobe=3)
    _assert_identical(want, got)


def test_ivf_default_nprobe_matches(spark, ivf_handle, queries):
    """nprobe=None must resolve through the same default rule both sides."""
    want = search_index(spark, ivf_handle, queries, k=5)
    got = serve_local(ivf_handle, queries, k=5)
    _assert_identical(want, got)


def test_ivfpq_refined_bit_identical(spark, pq_handle, queries):
    want = search_index(spark, pq_handle, queries, k=10, nprobe=2)
    got = serve_local(pq_handle, queries, k=10, nprobe=2)
    _assert_identical(want, got)


def test_ivfpq_adc_only_bit_identical(spark, pq_handle, queries):
    want = search_index(spark, pq_handle, queries, k=10, nprobe=2, exact_refine=False)
    got = serve_local(pq_handle, queries, k=10, nprobe=2, exact_refine=False)
    _assert_identical(want, got)


def test_lopq_bit_identical(spark, lopq_handle, queries):
    """Per-cell books + per-cell OPQ rotations (full LOPQ) through the
    driver path — covers the float32-round-trip decode discipline."""
    want = search_index(spark, lopq_handle, queries, k=10, nprobe=2, exact_refine=False)
    got = serve_local(lopq_handle, queries, k=10, nprobe=2, exact_refine=False)
    _assert_identical(want, got)


def test_lopq_refined_bit_identical(spark, lopq_handle, queries):
    """Full LOPQ with the exact refine: the fused Spark scan and the
    driver-side refine score candidates with the same fold."""
    want = search_index(spark, lopq_handle, queries, k=10, nprobe=2)
    got = serve_local(lopq_handle, queries, k=10, nprobe=2)
    _assert_identical(want, got)


def test_hnsw_bit_identical(spark, hnsw_handle, queries):
    want = search_index(spark, hnsw_handle, queries, k=10, ef_search=48)
    got = serve_local(hnsw_handle, queries, k=10, ef_search=48)
    _assert_identical(want, got)


def test_cosine_flat_bit_identical(spark, corpus, queries, tmp_path_factory):
    """Cosine indexes normalize queries SQL-side in search_index; the local
    path must reproduce the same float32 unit vectors."""
    handle = _build(
        spark, corpus, tmp_path_factory, "sl_cos",
        EngineConfig(index_type="FLAT", metric="cosine"),
    )
    want = search_index(spark, handle, queries, k=10)
    got = serve_local(handle, queries, k=10)
    _assert_identical(want, got)


def test_numpy_query_forms(spark, ivf_handle, queries):
    """A bare numpy matrix (ids default 0..nq-1) and an (ids, matrix) tuple
    must serve identically to the DataFrame form."""
    rows = queries.orderBy("query_id").collect()
    q_ids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in rows]).astype(np.float64)
    via_df = _canon(serve_local(ivf_handle, queries, k=5, nprobe=2))
    via_tuple = _canon(serve_local(ivf_handle, (q_ids, Q), k=5, nprobe=2))
    pd.testing.assert_frame_equal(via_df, via_tuple, check_exact=True)
    # bare matrix: same neighbors, ids renumbered 0..nq-1 (q_ids here ARE
    # 0..nq-1 by fixture construction, so full equality holds)
    via_np = _canon(serve_local(ivf_handle, Q, k=5, nprobe=2))
    pd.testing.assert_frame_equal(via_df, via_np, check_exact=True)
    # single vector -> one query, id 0
    one = serve_local(ivf_handle, Q[0], k=5, nprobe=2)
    assert set(one["query_id"]) == {0}
    assert one["rank"].tolist() == list(range(1, len(one) + 1))


def test_list_cache_reused_and_bounded(spark, ivf_handle, queries):
    """Second serve hits the handle LRU (no re-read), and a tiny budget
    still returns correct results (eviction, not corruption)."""
    serve_local(ivf_handle, queries, k=5, nprobe=3)
    cache = ivf_handle._serve_lists
    assert len(cache) > 0
    before = {cid: id(entry) for cid, entry in cache.items()}
    serve_local(ivf_handle, queries, k=5, nprobe=3)
    after = {cid: id(entry) for cid, entry in ivf_handle._serve_lists.items()}
    assert before == after  # same arrays, not re-read
    want = search_index(spark, ivf_handle, queries, k=5, nprobe=3)
    got = serve_local(ivf_handle, queries, k=5, nprobe=3, cache_budget_mb=0)
    _assert_identical(want, got)


def test_self_query_sanity(flat_handle, queries):
    """Self-queries (qvec == a stored embedding) must return themselves at
    rank 1, distance 0 — the fixture's built-in invariant."""
    got = serve_local(flat_handle, queries, k=3)
    r1 = got[got["rank"] == 1]
    assert (r1["query_id"].to_numpy() == r1["neighbor_id"].to_numpy()).all()
    assert (r1["distance"].to_numpy() == 0.0).all()


def test_search_routed_boundary(spark, ivf_handle, queries):
    """search_routed: small batches serve driver-side, large ones as a
    Spark job — identical rows either way (the bit-identity dividend)."""
    from webscale_vector_search_spark.plans.serve_local import search_routed

    small = _canon(
        search_routed(spark, ivf_handle, queries, k=5, nprobe=3).toPandas()
    )
    large = _canon(
        search_routed(
            spark, ivf_handle, queries, k=5, nprobe=3, max_local_batch=2
        ).toPandas()
    )
    pd.testing.assert_frame_equal(small, large, check_exact=True)
    # numpy form routes too, both sides of the boundary
    rows = queries.orderBy("query_id").collect()
    q_ids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in rows]).astype(np.float64)
    via_np_small = _canon(
        search_routed(spark, ivf_handle, (q_ids, Q), k=5, nprobe=3).toPandas()
    )
    via_np_large = _canon(
        search_routed(
            spark, ivf_handle, (q_ids, Q), k=5, nprobe=3, max_local_batch=2
        ).toPandas()
    )
    pd.testing.assert_frame_equal(small, via_np_small, check_exact=True)
    pd.testing.assert_frame_equal(small, via_np_large, check_exact=True)


def test_as_arrays_fast_path(spark, ivf_handle, pq_handle, hnsw_handle, queries):
    """as_arrays=True returns the same four columns as raw numpy arrays —
    identical values to the DataFrame form, for every index family."""
    for h, kw in (
        (ivf_handle, dict(nprobe=3)),
        (pq_handle, dict(nprobe=2)),
        (pq_handle, dict(nprobe=2, exact_refine=False)),
        (hnsw_handle, dict()),
    ):
        pdf = _canon(serve_local(h, queries, k=5, **kw))
        arr = serve_local(h, queries, k=5, as_arrays=True, **kw)
        assert set(arr) == {"query_id", "rank", "neighbor_id", "distance"}
        got = _canon(pd.DataFrame(arr))
        pd.testing.assert_frame_equal(pdf, got, check_exact=True)


def test_cosine_ivf_bit_identical(spark, corpus, queries, tmp_path_factory):
    """Cosine + IVF: probe selection must run over the SQL-normalized query
    frame identically on both paths (the declared q_ann_ivf cosine arm's
    serving twin)."""
    handle = _build(
        spark, corpus, tmp_path_factory, "sl_cos_ivf",
        EngineConfig(
            index_type="IVF", metric="cosine", nlist=8, kmeans_sample_fraction=1.0
        ),
    )
    want = search_index(spark, handle, queries, k=10, nprobe=3)
    got = serve_local(handle, queries, k=10, nprobe=3)
    _assert_identical(want, got)


def test_exclude_ids_serves_as_if_absent(
    spark, flat_handle, ivf_handle, pq_handle, hnsw_handle, queries
):
    """The held-out profiling hook (r13): with exclude_ids = the query
    batch's own stored ids, no excluded id is ever returned — on any index
    type — and the results equal serving the same queries over a corpus
    that never contained those rows (exact parity for the scanned
    families; for the graph the excluded nodes are banned inside the
    kernel, so the self-row's edges can't guide the beam either)."""
    qrows = queries.collect()
    q_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in qrows]).astype(np.float64)
    ex = set(q_ids.tolist())

    for handle in (flat_handle, ivf_handle, pq_handle, hnsw_handle):
        res = serve_local(handle, (q_ids, Q), k=5, exclude_ids=q_ids)
        assert not (set(res["neighbor_id"].tolist()) & ex), handle.meta[
            "index_type"
        ]

    # scanned-family parity: exclusion == the allowed-complement serve
    all_ids = {
        int(r["vec_id"])
        for r in flat_handle.vectors.select("vec_id").collect()
    }
    allowed = np.array(sorted(all_ids - ex), dtype=np.int64)
    a = _canon(serve_local(flat_handle, (q_ids, Q), k=5, exclude_ids=q_ids))
    b = _canon(serve_local(flat_handle, (q_ids, Q), k=5, allowed_ids=allowed))
    pd.testing.assert_frame_equal(a, b, check_exact=True)

    # without exclusion the self-row IS rank 1 (the bias the hook removes)
    plain = serve_local(flat_handle, (q_ids, Q), k=5)
    top = plain[plain["rank"] == 1]
    assert set(top["neighbor_id"].astype(int)) == ex
