"""The benchmark's workloads, driven through the engine's public functions.

Both are one process, one calling thread, Spark at local[nproc].

- serve: online single-query kNN through ``serve_local`` on an IVF and an
  HNSW collection built in setup; requests alternate between them, each for
  one query drawn Zipf-skewed from a held-out pool, so some repeat. A
  closed-loop pass gives throughput, an open-loop pass at a fixed rate gives
  latency from each request's due time. No Spark job runs in either pass.
  Then writes beside reads on the IVF collection: an append and a delete,
  each followed by a read through the same long-lived handle.
- batch: Spark-job work with no program cache. 500-query DataFrames go
  through ``search_index`` on a FLAT (exact) and an IVFPQ (probe-pruned ADC
  plus exact refine) collection, each result materialised. Then the dedup
  pipeline exact_dedup -> neardup_candidate_pairs -> ngram_jaccard (>= 0.8)
  -> dedup_clusters on documents with planted duplicates.

Each workload returns a flat dict of measurements; ``report.py`` turns it
into the metrics BENCHMARK.json declares.
"""

from __future__ import annotations

import multiprocessing
import os
import resource
import subprocess
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import inputs
from checks import K, Ledger
from tracer import Tracer

CLOSED_SHARE = 0.25  # of --seconds for the serve closed loop; the rest is open loop
SEGMENTS = 4  # alternating closed- and open-loop segments of the serve passes
BIT_SAMPLE = 16  # queries compared between serve_local and search_index
BATCH_REQUESTS = 4  # timed batch requests per run, after one untimed warm-up
READ_SAMPLE = 8  # vectors queried after each write


@dataclass
class Run:
    workdir: str
    seed: int
    seconds: float
    serve_rate: float  # open-loop requests per second
    tracer: Tracer
    ledger: Ledger = field(default_factory=Ledger)
    m: dict = field(default_factory=dict)  # measurements

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)


def start_spark(run: Run):
    from webscale_vector_search_spark import get_spark

    with run.tracer.span("session.get_spark"):
        spark = get_spark(extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": run.path("warehouse"),
            # a heap fixed at its maximum keeps the JVM's resident size from
            # following the collector's run-to-run sizing choices
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Dderby.system.home={run.path('derby')}",
        })
    run.tracer.attach(spark)
    return spark


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_children() -> None:
    """End forked helpers (serve_local's HNSW shard workers) and wait."""
    for p in multiprocessing.active_children():
        p.terminate()
        p.join(10)


# ---------------------------------------------------------------- serve


def serve(run: Run) -> None:
    from webscale_vector_search_spark import EngineConfig
    from webscale_vector_search_spark.plans.build import build_index
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    tr, led, m = run.tracer, run.ledger, run.m
    v = inputs.make_vectors(run.seed)
    t_ids, _ = checks.exact_topk(v.pool, v.corpus, v.corpus_ids)
    vec_of = dict(zip(v.corpus_ids.tolist(), v.corpus))
    inputs.write_vectors(run.path("corpus.parquet"), v.corpus_ids, v.corpus)
    new_ids, new_vecs = inputs.append_batch(run.seed, v)
    gone = inputs.delete_ids(run.seed)
    inputs.write_vectors(run.path("append.parquet"), new_ids, new_vecs)
    reqs = inputs.zipf_requests(run.seed, 1_000_000)

    t0 = time.perf_counter()
    spark = start_spark(run)
    try:
        corpus = spark.read.parquet(run.path("corpus.parquet"))
        dirs = {"ivf": run.path("ivf"), "hnsw": run.path("hnsw")}
        for name, itype in (("ivf", "IVF"), ("hnsw", "HNSW")):
            with tr.span(f"build_index.{name}", spark=True):
                build_index(spark, corpus, dirs[name], EngineConfig(index_type=itype))
        handles = []
        for name in ("ivf", "hnsw"):
            with tr.span("open_index", spark=True):
                handles.append(open_index(spark, dirs[name]))
        with tr.span("serve_local.warm"):
            for h in handles:
                serve_local(h, v.pool[:1], as_arrays=True)
        m["setup_s"] = time.perf_counter() - t0

        # Requests alternate between the collections, so each gets half the
        # traffic. The end-to-end figures are those of the IVF requests: on a
        # shared host, HNSW's fan-out to 16 forked shard workers follows the
        # host's steal time run to run, so its service time is a per-layer
        # metric only.
        names = ("ivf", "hnsw")
        answers: list[tuple[int, dict]] = []  # (pool row, result) in request order

        def request(i: int) -> str:
            idx, name = int(reqs[i]), names[i % 2]
            try:
                with tr.span(f"serve_local.{name}", request=i):
                    res = serve_local(handles[i % 2], (np.array([idx]), v.pool[idx:idx + 1]),
                                      as_arrays=True)
                answers.append((idx, res))
            except Exception as e:  # a failed request is counted, the loop goes on
                led.record(False, f"serve request {i}: {e!r}")
            return name

        i = 0
        svc = []  # service times of the closed loop's IVF requests
        lat, late = [], []  # open loop: IVF latencies from due time; generator lag
        with tr.span("serve_passes", spark=True):
            # The passes alternate in short segments, so a stall of the
            # shared host lands on both passes rather than on all of one.
            closed_s = run.seconds * CLOSED_SHARE / SEGMENTS
            n_open = max(2, int(run.seconds * (1 - CLOSED_SHARE) * run.serve_rate / SEGMENTS))
            for _ in range(SEGMENTS):
                start = time.perf_counter()
                while (t := time.perf_counter()) - start < closed_s:
                    if request(i) == "ivf":
                        svc.append(time.perf_counter() - t)
                    i += 1
                start = time.perf_counter() + 0.01
                for j in range(n_open):
                    due = start + j / run.serve_rate
                    while (now := time.perf_counter()) < due:
                        time.sleep(min(due - now, 0.001))
                    late.append(now - due)
                    if request(i) == "ivf":
                        lat.append(time.perf_counter() - due)
                    i += 1
        m["qps"] = 1.0 / float(np.median(svc))
        m["p50_ms"] = float(np.median(lat)) * 1e3
        m["loadgen.late_p99_ms"] = float(np.percentile(np.asarray(late) * 1e3, 99))

        rec = []
        for idx, res in answers:
            ok = checks.valid_answer(res["neighbor_id"], res["distance"], v.pool[idx], vec_of)
            led.record(ok, f"serve answer for pool row {idx}")
            rec.append(checks.recall(res["neighbor_id"], t_ids[idx]))
        m["recall_at_10"] = float(np.mean(rec)) if rec else 0.0

        reap_children()

        _ingest(run, spark, handles[0], dirs["ivf"], new_ids, new_vecs, gone, vec_of)
        m["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        reap_children()
        stop_spark(spark)


def _ingest(run, spark, h, index_dir, new_ids, new_vecs, gone, vec_of) -> None:
    """Append, read, delete, read, on a long-lived handle. The first read
    after each write pays the handle refresh."""
    from webscale_vector_search_spark.plans.build import append_vectors, delete_vectors
    from webscale_vector_search_spark.plans.serve_local import serve_local

    tr, led, m = run.tracer, run.ledger, run.m
    # Both reads ask for appended vectors, which must find themselves at
    # rank 1, and for vectors of the deleted rows, whose ids must not come
    # back once deleted.
    ids = np.concatenate([new_ids[:READ_SAMPLE], gone[:READ_SAMPLE]])
    Q = np.concatenate([new_vecs[:READ_SAMPLE],
                        np.stack([vec_of[int(x)] for x in gone[:READ_SAMPLE]])])

    def read(tag: str, deleted: bool) -> None:
        try:
            with tr.span(f"serve_local.{tag}"):
                res = serve_local(h, (ids, Q), as_arrays=True)
        except Exception as e:
            led.record(False, f"read {tag}: {e!r}")
            return
        got = checks.split_by_query(res)
        for q in ids.tolist():
            nbr, dist = got.get(q, (np.empty(0, np.int64), np.empty(0)))
            ok = len(nbr) == K and not (deleted and np.isin(nbr, gone).any())
            if q >= inputs.N_CORPUS:  # an appended vector
                ok = ok and nbr[0] == q and dist[0] <= checks.DIST_TOL
            led.record(ok, f"read {tag} q{q}")

    t0 = time.perf_counter()
    try:
        with tr.span("append_vectors", spark=True):
            n = append_vectors(spark, index_dir, spark.read.parquet(run.path("append.parquet")))
        led.record(n == len(new_ids), f"append_vectors returned {n}")
    except Exception as e:
        led.record(False, f"append_vectors: {e!r}")
    read("after_append", deleted=False)
    try:
        with tr.span("delete_vectors", spark=True):
            n = delete_vectors(spark, index_dir, gone.tolist())
        led.record(n == len(gone), f"delete_vectors returned {n}")
    except Exception as e:
        led.record(False, f"delete_vectors: {e!r}")
    read("after_delete", deleted=True)
    m["pipeline_items_per_s"] = len(new_ids) / (time.perf_counter() - t0)


# ---------------------------------------------------------------- batch


def batch(run: Run) -> None:
    from webscale_vector_search_spark import EngineConfig
    from webscale_vector_search_spark.plans.build import build_index, search_index
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    tr, led, m = run.tracer, run.ledger, run.m
    v = inputs.make_vectors(run.seed)
    t_ids, t_dist = checks.exact_topk(v.pool, v.corpus, v.corpus_ids)
    vec_of = dict(zip(v.corpus_ids.tolist(), v.corpus))
    inputs.write_vectors(run.path("corpus.parquet"), v.corpus_ids, v.corpus)
    # frame 0 is the warm-up: the first BIT_SAMPLE pool rows; then
    # BATCH_QUERIES-row frames that cover the pool
    frames = [np.arange(BIT_SAMPLE, dtype=np.int64)] + [
        np.arange(lo, lo + inputs.BATCH_QUERIES, dtype=np.int64)
        for lo in range(0, inputs.POOL, inputs.BATCH_QUERIES)]
    for f, rows in enumerate(frames):
        inputs.write_queries(run.path(f"queries{f}.parquet"), rows, v.pool[rows])
    docs = inputs.make_documents(run.seed)
    inputs.write_documents(run.path("docs.parquet"), docs)

    t0 = time.perf_counter()
    spark = start_spark(run)
    try:
        corpus = spark.read.parquet(run.path("corpus.parquet"))
        dfs = [spark.read.parquet(run.path(f"queries{f}.parquet")) for f in range(len(frames))]
        handles = {}
        for name, itype in (("flat", "FLAT"), ("ivfpq", "IVFPQ")):
            with tr.span(f"build_index.{name}", spark=True):
                build_index(spark, corpus, run.path(name), EngineConfig(index_type=itype))
            with tr.span("open_index", spark=True):
                handles[name] = open_index(spark, run.path(name))
        m["setup_s"] = time.perf_counter() - t0

        # A request answers one DataFrame exactly (FLAT) and approximately
        # (IVFPQ). The warm-up request, on the small frame 0, compiles the
        # search plans and is not timed. Then a fixed number of requests
        # cycle through the full frames, however fast each one is.
        lat, results = [], []
        for r in range(BATCH_REQUESTS + 1):
            f = 1 + (r - 1) % (len(frames) - 1) if r else 0
            t = time.perf_counter()
            for name in ("flat", "ivfpq"):
                try:
                    with tr.span(f"search_index.{name}", request=r, spark=True):
                        pdf = search_index(spark, handles[name], dfs[f]).toPandas()
                    results.append((name, f, pdf))
                except Exception as e:
                    led.record(False, f"search_index.{name} request {r}: {e!r}")
            if r:
                lat.append(time.perf_counter() - t)
        m["qps"] = 2 * inputs.BATCH_QUERIES * len(lat) / sum(lat)
        m["p50_ms"] = float(np.median(lat)) * 1e3
        m["search_index.ivfpq.queries"] = sum(len(frames[f]) for n, f, _ in results if n == "ivfpq")

        rec = []
        for name, f, pdf in results:
            got = checks.split_by_query(pdf)
            for q in frames[f].tolist():
                nbr, dist = got.get(q, (np.empty(0, np.int64), np.empty(0)))
                if name == "flat":
                    ok = checks.exact_answer(nbr, dist, t_ids[q], t_dist[q])
                else:
                    ok = checks.valid_answer(nbr, dist, v.pool[q], vec_of)
                    rec.append(checks.recall(nbr, t_ids[q]))
                led.record(ok, f"search_index.{name} q{q}")
        m["recall_at_10"] = float(np.mean(rec)) if rec else 0.0

        # serve_local is documented bit-identical to search_index: compare
        # on the warm-up frame
        sample = frames[0]
        for name, h in handles.items():
            want = next((checks.split_by_query(pdf) for n, f, pdf in results
                         if n == name and f == 0), {})
            local = serve_local(h, (sample, v.pool[sample]), as_arrays=True)
            got = checks.split_by_query(local)
            for q in sample.tolist():
                a, b = got.get(q), want.get(q)
                led.record(a is not None and b is not None and np.array_equal(a[0], b[0])
                           and np.array_equal(a[1], b[1]), f"serve_local != search_index {name} q{q}")

        _dedup(run, spark, docs)
        m["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        stop_spark(spark)


def _dedup(run, spark, docs) -> None:
    """The four-stage pipeline, each stage materialised inside its span."""
    from pyspark.sql import functions as F

    from webscale_vector_search_spark.operators import dedup

    tr, led, m = run.tracer, run.ledger, run.m
    src = spark.read.parquet(run.path("docs.parquet"))
    t0 = time.perf_counter()
    try:
        with tr.span("exact_dedup", spark=True):
            keep = dedup.exact_dedup(src).select(F.col("keeper_doc_id").alias("doc_id"))
            surv = src.join(keep, "doc_id", "left_semi").localCheckpoint()
        with tr.span("neardup_candidate_pairs", spark=True):
            pairs = dedup.neardup_candidate_pairs(surv).localCheckpoint()
        with tr.span("ngram_jaccard", spark=True):
            ver = (dedup.ngram_jaccard(surv, surv, pairs).filter(F.col("jaccard") >= 0.8)
                   .select("doc_a", "doc_b").localCheckpoint())
        # count on the class the session's DataFrames have: the classic
        # DataFrame overrides localCheckpoint of pyspark.sql.DataFrame
        with tr.span("dedup_clusters", spark=True), tr.counting(type(surv), "localCheckpoint"):
            clusters = dedup.dedup_clusters(surv, ver).toPandas()
    except Exception as e:
        led.record(False, f"dedup pipeline: {e!r}")
        m["pipeline_items_per_s"] = 0.0
        m["dedup.pair_recall"] = 0.0
        m["ngram_jaccard.verified_per_candidate"] = 0.0
        return
    m["pipeline_items_per_s"] = inputs.N_DOCS / (time.perf_counter() - t0)

    n_surv = surv.count()
    led.record(n_surv == docs.n_distinct, f"exact_dedup kept {n_surv} != {docs.n_distinct}")
    led.record(len(clusters) == n_surv and clusters["doc_id"].is_unique,
               "dedup_clusters must label every survivor once")
    cluster_of = dict(zip(clusters["doc_id"].tolist(), clusters["cluster_id"].tolist()))
    m["dedup.pair_recall"] = checks.pair_recall(docs.near_pairs, cluster_of)
    n_pairs = pairs.count()
    m["ngram_jaccard.verified_per_candidate"] = ver.count() / n_pairs if n_pairs else 0.0


WORKLOADS = {"serve": serve, "batch": batch}
