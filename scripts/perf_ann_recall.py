"""IVF recall@10 + probe cost at production geometry.

The round-7 recall gate used an 8-cell codebook on the sf0.1 embeddings
(2000 x 64); production IVF sizes the codebook ~sqrt(N). The sf1/sf16
embedding files are EXACT COPIES of the sf0.1 vectors (gen_sf_multiply
offsets ids only), so a recall sweep over them is degenerate — every
query's top-k is its own duplicates, recall@10 = 1.0 at nprobe=1. This
script instead derives a 20000-vector DISTINCT set from the committed
sf0.1 embeddings (10 seeded Gaussian perturbations per vector at ~0.82
cosine — the near-duplicate cluster structure a real corpus has), trains
a 128-cell codebook (sqrt(N) ~ 141), and measures recall@10 vs the exact
numpy oracle plus probe wall time per nprobe, so the family default is
justified at the geometry a real deployment would run.

Usage: python scripts/perf_ann_recall.py [sf_dir] [n_cells] [out.json]
Writes PERF_ANN_RECALL.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np

from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark.operators import similarity as sim
from ecom_snowflake_duckdb_migration_spark.session import get_spark


def perturbed_embeddings(spark, sf_dir: str, copies: int = 10, seed: int = 7,
                         rel_sigma: float = 0.7):
    """20000 DISTINCT vectors derived from the committed sf0.1 set: copy i
    of vector v is v + rel_sigma*||v||*unit_gaussian (cosine ~0.82 to the
    base — near-duplicate clusters straddling cell boundaries). Deterministic; also used by the
    pytest recall pin."""
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = base.orderBy("vec_id").collect()
    rng = np.random.RandomState(seed)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    out_ids, out_vecs = [], []
    n = len(ids)
    for i in range(copies):
        g = rng.standard_normal(mat.shape)
        g /= np.linalg.norm(g, axis=1, keepdims=True)
        pert = mat + rel_sigma * np.linalg.norm(mat, axis=1, keepdims=True) * g
        out_ids.extend((ids + i * 1_000_000).tolist())
        out_vecs.extend([[float(x) for x in row] for row in pert])
    return spark.createDataFrame(
        list(zip(out_ids, out_vecs)), "vec_id bigint, embedding array<double>"
    ).repartition(32).localCheckpoint(eager=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_cells = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    out_path = sys.argv[3] if len(sys.argv) > 3 else "PERF_ANN_RECALL.json"
    spark = get_spark(app_name="ann-recall", shuffle_partitions=32)
    emb = perturbed_embeddings(spark, sf_dir)

    t0 = time.perf_counter()
    centroids = sim.train_centroids(emb, n_centroids=n_cells, seed=42)
    train_sec = round(time.perf_counter() - t0, 2)
    print(f"trained {n_cells} centroids in {train_sec}s", flush=True)

    rows = emb.orderBy("vec_id").collect()  # ids[:n_queries] == the query filter
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    k = 10
    n_queries = 100
    truth = {}
    for qi in ids[:n_queries]:
        qv = mat[ids == qi][0]
        cos = mat @ qv / (nrm * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))
        truth[int(qi)] = set(ids[order][:k].tolist())

    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    sweep = {}
    for nprobe in (1, 2, 4, 6, 8, 12, 16):
        res = sim.knn_join(emb, queries, centroids, k=k, nprobe=nprobe)
        res.count()  # warm (plan + codegen; the codebook is literal-inlined)
        # min-of-5: the round-8 sweep timed ONE sample per nprobe and its
        # "non-monotone probe_sec" (1.7s@8 vs 4.3s@12) was host
        # interference windows, not work done — the warm steady-state
        # probe is ~0.1-0.3 s and min-of-n recovers it
        probe_sec = None
        for _ in range(5):
            t0 = time.perf_counter()
            rows = res.collect()
            dt = time.perf_counter() - t0
            probe_sec = dt if probe_sec is None else min(probe_sec, dt)
        probe_sec = round(probe_sec, 3)
        got = {}
        for r in rows:
            got.setdefault(r.q_id, set()).add(r.vec_id)
        recall = round(
            sum(
                len(got.get(int(qi), set()) & truth[int(qi)]) / k
                for qi in ids[:n_queries]
            )
            / n_queries,
            4,
        )
        sweep[str(nprobe)] = {"recall_at_10": recall, "probe_sec": probe_sec,
                              "scored_fraction": round(nprobe / n_cells, 4)}
        print(f"nprobe={nprobe}: recall@10={recall} probe={probe_sec}s", flush=True)

    # big-batch sweep (timing only): at 100 queries the per-job floor
    # hides the work; at 1000 queries scoring dominates and probe_sec
    # visibly tracks scored_fraction (the monotonicity the round-8
    # single-sample numbers obscured)
    big_queries = emb.filter(F.col("vec_id") < 1000).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    sweep_big = {}
    for nprobe in (2, 8, 32):
        res = sim.knn_join(emb, big_queries, centroids, k=k, nprobe=nprobe)
        res.count()  # warm
        best = None
        for _ in range(5):
            t0 = time.perf_counter()
            res.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        sweep_big[str(nprobe)] = {
            "probe_sec": round(best, 3),
            "scored_fraction": round(nprobe / n_cells, 4),
        }
        print(f"bigbatch nprobe={nprobe}: probe={best:.3f}s", flush=True)

    # store-backed probe: cell assignment + item norms paid once at
    # write time, probes read ONLY the probed cells' directories
    # (partition pruning pinned in tests/test_plans.py / test_operators)
    import tempfile

    store_dir = tempfile.mkdtemp(prefix="ivf_store_")
    t0 = time.perf_counter()
    sim.write_ivf_store(emb, centroids, store_dir)
    store_write_sec = round(time.perf_counter() - t0, 2)
    store_probe = {}
    for nprobe in (4, 8, 16):
        res = sim.probe_ivf_store(
            spark, store_dir, queries, centroids, k=k, nprobe=nprobe
        )
        got = {}
        for r in res.collect():
            got.setdefault(r.q_id, set()).add(r.vec_id)
        best = None
        for _ in range(5):
            t0 = time.perf_counter()
            # a fresh probe each run: the cell-set collect + pruned scan
            # + join are all inside the timed window (the recurring shape)
            sim.probe_ivf_store(
                spark, store_dir, queries, centroids, k=k, nprobe=nprobe
            ).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        recall = round(
            sum(
                len(got.get(int(qi), set()) & truth[int(qi)]) / k
                for qi in ids[:n_queries]
            )
            / n_queries,
            4,
        )
        store_probe[str(nprobe)] = {
            "recall_at_10": recall, "probe_sec": round(best, 3),
            "scored_fraction": round(nprobe / n_cells, 4),
        }
        print(f"store nprobe={nprobe}: recall@10={recall} probe={best:.3f}s",
              flush=True)

    # PQ/ADC at the classic 64-bit geometry (m=8 subspaces x 256 codes =
    # Jégou et al.'s IVFADC code budget): codebooks train driver-side on
    # the full 20k sample, codes checkpoint once (the persisted code
    # column a real deployment stores), and recall is measured both for
    # raw ADC top-10 and for the standard exact re-rank of the ADC
    # top-100 (numpy-side — the composition itself is pinned in pytest).
    t0 = time.perf_counter()
    books = sim.train_pq_codebooks(emb, m=8, k=256, sample_n=20000, seed=42)
    pq_train_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    coded = sim.pq_encode(emb, books, method="pandas").localCheckpoint(eager=True)
    pq_encode_sec = round(time.perf_counter() - t0, 2)
    print(f"pq trained {pq_train_sec}s encoded {pq_encode_sec}s", flush=True)
    pq_direct = 0.0
    pq_rerank = 0.0
    pq_queries = 25  # each ADC probe is its own driver-table plan
    for qi in ids[:pq_queries]:
        qv = mat[ids == qi][0]
        cand = [
            r.vec_id
            for r in sim.ann_topk_pq(coded, books, qv.tolist(), k=100).collect()
        ]
        pq_direct += len(set(cand[:k]) & truth[int(qi)]) / k
        sub = np.isin(ids, cand)
        cos = mat[sub] @ qv / (nrm[sub] * np.linalg.norm(qv))
        order = np.lexsort((ids[sub], -cos))
        rer = set(ids[sub][order][:k].tolist())
        pq_rerank += len(rer & truth[int(qi)]) / k
    qv0 = mat[0].tolist()
    probe = sim.ann_topk_pq(coded, books, qv0, k=k)
    probe.count()  # warm
    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        sim.ann_topk_pq(coded, books, qv0, k=k).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    pq = {
        "m": 8, "k_codes": 256, "code_bits": 64,
        "train_sec": pq_train_sec, "encode_sec": pq_encode_sec,
        "n_queries": pq_queries,
        "recall_at_10_adc": round(pq_direct / pq_queries, 4),
        "recall_at_10_rerank100": round(pq_rerank / pq_queries, 4),
        "probe_sec": round(best, 3),
    }
    print(f"pq: adc recall={pq['recall_at_10_adc']} "
          f"rerank100={pq['recall_at_10_rerank100']} probe={best:.3f}s",
          flush=True)

    # residual IVFADC at the production geometry (round-10): codebooks
    # train on the residuals v - centroid(cell) (Jégou §IV's trainer),
    # the item side persists once (the real index build), and recall is
    # swept over nprobe including nprobe = n_cells — the exhaustive
    # point that isolates residual-vs-raw quantization quality from IVF
    # pruning loss (compare to pq.recall_at_10_adc above, the raw-vector
    # exhaustive number).
    t0 = time.perf_counter()
    rbooks = sim.train_residual_pq_codebooks(
        emb, centroids, m=8, k=256, sample_n=20000, seed=42
    )
    ivfadc_train_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    item_side = sim._ivfadc_item_side(
        emb, centroids, rbooks, "embedding", "vec_id", "pandas"
    ).localCheckpoint(eager=True)
    ivfadc_encode_sec = round(time.perf_counter() - t0, 2)
    print(f"ivfadc residual books {ivfadc_train_sec}s encode {ivfadc_encode_sec}s",
          flush=True)
    ivfadc_sweep = {}
    for nprobe in (8, 16, 32, n_cells):
        qcells = sim._ivfadc_query_cells(
            queries, centroids, rbooks, nprobe, "qe", "q_id", "pandas"
        )
        res = sim._ivfadc_score_topk(qcells, item_side, rbooks, k, "vec_id", "q_id")
        got = {}
        for r in res.collect():
            got.setdefault(r.q_id, set()).add(r.vec_id)
        best = None
        for _ in range(5):
            t0 = time.perf_counter()
            sim._ivfadc_score_topk(
                sim._ivfadc_query_cells(
                    queries, centroids, rbooks, nprobe, "qe", "q_id", "pandas"
                ),
                item_side, rbooks, k, "vec_id", "q_id",
            ).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        recall = round(
            sum(
                len(got.get(int(qi), set()) & truth[int(qi)]) / k
                for qi in ids[:n_queries]
            )
            / n_queries,
            4,
        )
        ivfadc_sweep[str(nprobe)] = {
            "recall_at_10": recall, "probe_sec": round(best, 3),
            "scored_fraction": round(nprobe / n_cells, 4),
        }
        print(f"ivfadc nprobe={nprobe}: recall@10={recall} probe={best:.3f}s",
              flush=True)
    ivfadc = {
        "m": 8, "k_codes": 256, "code_bits": 64, "residual_encoded": True,
        "train_sec": ivfadc_train_sec, "encode_sec": ivfadc_encode_sec,
        "n_queries": n_queries, "sweep": ivfadc_sweep,
    }

    out = {
        "sf_dir": sf_dir,
        "geometry": "10 seeded ~0.82-cosine perturbations per committed "
                    "sf0.1 vector (sf1/sf16 embedding files are exact "
                    "duplicates — recall on them is degenerately 1.0)",
        "n_vectors": int(len(ids)), "dim": int(mat.shape[1]),
        "n_cells": n_cells, "train_sec": train_sec, "n_queries": n_queries,
        "k": k, "sweep": sweep,
        "sweep_bigbatch_1000q": sweep_big,
        "store_write_sec": store_write_sec, "store_probe": store_probe,
        "pq": pq,
        "ivfadc": ivfadc,
        "timing": "probe_sec is min-of-5 warm collects (round-8's "
                  "single-sample timing made host interference read as "
                  "non-monotone probe cost)",
        "host": {"cpus": os.cpu_count(),
                 "spark_cores": spark.sparkContext.defaultParallelism},
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
