"""Self-tests of the benchmark: seeded inputs, output checks, the metric
contract and the refusal to run without the engine.

    python3 -m pytest perfbench -q

The full-run tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import checks
import inputs
import report
from tracer import Span, Tracer, covered

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _write_all(d, seed):
    v = inputs.make_vectors(seed)
    inputs.write_vectors(os.path.join(d, "corpus.parquet"), v.corpus_ids, v.corpus)
    inputs.write_queries(os.path.join(d, "pool.parquet"), np.arange(inputs.POOL), v.pool)
    inputs.write_vectors(os.path.join(d, "append.parquet"), *inputs.append_batch(seed, v))
    inputs.write_documents(os.path.join(d, "docs.parquet"), inputs.make_documents(seed))
    np.save(os.path.join(d, "zipf.npy"), inputs.zipf_requests(seed, 10_000))
    np.save(os.path.join(d, "deletes.npy"), inputs.delete_ids(seed))
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_bytes_and_another_seed_does_not(tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    for p in (a, b, c):
        p.mkdir()
    first, again, other = _write_all(a, 7), _write_all(b, 7), _write_all(c, 8)
    assert first == again
    assert first.keys() == other.keys()
    assert all(first[f] != other[f] for f in first)


def test_documents_plant_the_duplicates_they_declare():
    docs = inputs.make_documents(3)
    n_exact = int(inputs.N_DOCS * inputs.EXACT_SHARE)
    assert len(docs.texts) == inputs.N_DOCS
    assert docs.n_distinct == inputs.N_DOCS - n_exact
    for a, b in docs.near_pairs[:50]:
        x, y = docs.texts[a].split(), docs.texts[b].split()
        assert len(x) == len(y) and sum(p != q for p, q in zip(x, y)) == 1


def _answers(seed=0, nq=20):
    v = inputs.make_vectors(seed)
    t_ids, t_dist = checks.exact_topk(v.pool[:nq], v.corpus, v.corpus_ids)
    return v, t_ids, t_dist, dict(zip(v.corpus_ids.tolist(), v.corpus))


def test_exact_topk_matches_brute_force():
    v, t_ids, t_dist, _ = _answers()
    d = ((v.pool[:20, None, :].astype(np.float64) - v.corpus[None].astype(np.float64)) ** 2).sum(-1)
    for q in range(20):
        order = np.lexsort((v.corpus_ids, d[q]))[: checks.K]
        assert np.array_equal(t_ids[q], v.corpus_ids[order])
        np.testing.assert_allclose(t_dist[q], d[q, order], rtol=1e-9, atol=1e-9)


def test_a_corrupted_result_is_counted_as_a_failure():
    v, t_ids, t_dist, vec_of = _answers()
    led = checks.Ledger()
    for q in range(5):
        led.record(checks.exact_answer(t_ids[q], t_dist[q], t_ids[q], t_dist[q]), "exact")
        led.record(checks.valid_answer(t_ids[q], t_dist[q], v.pool[q], vec_of), "valid")
    assert (led.attempted, led.failed) == (10, 0)

    wrong_id = t_ids[0].copy()
    wrong_id[3] = next(i for i in range(inputs.N_CORPUS) if i not in set(t_ids[0].tolist()))
    wrong_dist = t_dist[1].copy()
    wrong_dist[0] += 0.5
    short = t_ids[2][:-1]
    led.record(checks.exact_answer(wrong_id, t_dist[0], t_ids[0], t_dist[0]), "swapped id")
    led.record(checks.valid_answer(wrong_id, t_dist[0], v.pool[0], vec_of), "swapped id")
    led.record(checks.valid_answer(t_ids[1], wrong_dist, v.pool[1], vec_of), "bad distance")
    led.record(checks.valid_answer(short, t_dist[2][:-1], v.pool[2], vec_of), "short answer")
    led.record(checks.exact_answer(t_ids[3][::-1], t_dist[3][::-1], t_ids[3], t_dist[3]), "order")
    # ids at a tied distance must ascend, even when the set of ids is right
    tie_ids, tie_dist = np.arange(10), np.array([1.0, 2, 2, 3, 4, 5, 6, 7, 8, 9])
    swapped = tie_ids[[0, 2, 1, 3, 4, 5, 6, 7, 8, 9]]
    led.record(checks.exact_answer(tie_ids, tie_dist, tie_ids, tie_dist), "tie in order")
    led.record(checks.exact_answer(swapped, tie_dist, tie_ids, tie_dist), "tie out of order")
    assert (led.attempted, led.failed) == (17, 6)


def test_recall_and_pair_recall():
    assert checks.recall(np.arange(10), np.arange(5, 15)) == 0.5
    pairs = np.array([[1, 2], [3, 4]])
    assert checks.pair_recall(pairs, {1: 1, 2: 1, 3: 3, 4: 4}) == 0.5


def test_self_time_subtracts_the_union_of_children():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    tr = Tracer(True)
    tr.spans = [Span(0, "call", 0.0, 10.0, None), Span(1, "spark.job", 1.0, 4.0, 0),
                Span(2, "spark.job", 3.0, 6.0, 0)]
    assert tr.self_times()[0] == pytest.approx(5.0)


def test_every_per_layer_metric_is_produced_with_its_unit():
    spec = report.load_spec(ROOT)
    out = report.metrics(spec, True, report.layer_values(Tracer(True), {}))
    assert list(out) == [d["name"] for d in spec["per_layer"]]
    assert all(out[d["name"]]["unit"] == d["unit"] for d in spec["per_layer"])


def test_a_missing_metric_is_an_error():
    spec = report.load_spec(ROOT)
    with pytest.raises(KeyError):
        report.metrics(spec, False, {"setup_s": 1.0})


def _command(spec) -> list[str]:
    """BENCHMARK.json's command, run by this interpreter."""
    cmd = list(spec["command"])
    assert cmd[0] == "python3"
    return [sys.executable] + cmd[1:]


def test_without_the_engine_the_run_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        _command(report.load_spec(ROOT)) + ["--workload", "serve", "--seed", "1",
                                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _engine_importable() -> bool:
    return os.path.isdir(os.path.join(ROOT, "webscale_vector_search_spark"))


@pytest.mark.skipif(not _engine_importable(), reason="needs the engine package")
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["serve", "batch"])
def test_a_run_prints_every_declared_metric_with_its_unit(workload, trace):
    spec = report.load_spec(ROOT)
    p = subprocess.run(
        _command(spec) + ["--workload", workload, "--seed", "1", "--seconds", "1",
                          "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        d["name"]: d["unit"] for d in declared}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "batch":
        assert result["metrics"]["dedup_clusters.rounds"]["value"] >= 1
