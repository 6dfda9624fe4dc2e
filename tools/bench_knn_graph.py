"""kNN-GRAPH scale probe: queries == corpus over the standing IVF-PQ index.

Round-4 recorded the single-query cost of the 200k-vector standing index
(build 14 s, probe 2.3 s, 46x layout compression). This probe measures the
claim that matters for a kNN-graph build — "codes ride the candidate join,
raw vectors only for the rerank" — end to end:

  1. build a write_pq_index layout over a deterministic 200k x 64-dim
     corpus (16 planted cluster directions + per-row pseudo-randomness),
  2. run pq_knn_join with queries == corpus (k neighbors per vector,
     self-matches filtered), wall-clock + total shuffle bytes recorded
     (Spark REST /stages, UI enabled for this probe only),
  3. recall@k on a 100-query sample against the EXACT top-k (brute-force
     pairwise cosine over broadcast sample queries).

Usage: python tools/bench_knn_graph.py [n_vectors] [n_centroids]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from fs_schema_validator_spark.session import get_spark  # noqa: E402
from fs_schema_validator_spark.operators import similarity  # noqa: E402
from fs_schema_validator_spark.functions.arrays import (  # noqa: E402
    pairwise_cosine_arrow,
)

DIM = 64
K = 10
PROBES = 6
REFINE = 16
SAMPLE_STRIDE = 2000  # 100 sample queries at n=200k


def shuffle_bytes(ui: str) -> tuple[int, int]:
    """(shuffle write bytes, shuffle read bytes) summed over all stages."""
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
    )
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
    )


def build_corpus(
    spark, n: int, n_clusters: int = 16, noise: float = 1.0,
    manifold: bool = False,
):
    """n DIM-dim float32 vectors, two deterministic geometries. Default:
    a planted cluster direction (id % n_clusters) plus a per-row
    pseudo-random component of `noise` amplitude, for probes that only
    need volume (tools/bench_semantic_pq.py). `manifold=True`: a smooth
    1-D curve through the sphere (phase advances with id) plus tiny
    jitter, so true nearest neighbors are the adjacent ids (cos 0.998
    at distance 1, noise floor by distance 50) — the LOCAL structure
    real embedding spaces have, which the kNN-graph recall probe needs
    (discrete micro-clusters tie-degenerate the PQ codes: every member
    quantizes identically and recall measures tie-breaking, not the
    index).
    Never zero-norm (id+1 keeps row 0 off the all-zero vector)."""
    if manifold:
        comp = lambda i: (
            F.sin((F.col("id") + 1) * 0.002 * (i * 0.37 + 1)) * 1.5
            + F.sin((F.col("id") + 1) * i * 0.618) * 0.05
        ).cast("float")
    else:
        # hash-based components: sin(id * c * i) noise ALIASES (ids ~10
        # apart share phase mod 2π and come out near-duplicate — it
        # poisoned the semantic-dedup probe with 75% phantom dups);
        # sin(xxhash64(...)) is effectively uniform and collision-free
        comp = lambda i: (
            F.sin(
                F.xxhash64(F.lit("c"), F.col("id") % n_clusters, i)
                .cast("double")
            )
            * 1.5
            + F.sin(F.xxhash64(F.lit("n"), F.col("id"), i).cast("double"))
            * noise
        ).cast("float")
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(DIM)), comp
            ).alias("embedding"),
        )
        .repartition(32)
        .persist()
    )
    df.count()
    return df


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cells = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    spark = get_spark(
        app_name="bench_knn_graph",
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = "http://localhost:4040"
    path = "/tmp/fsv_knn_graph_index"
    shutil.rmtree(path, ignore_errors=True)

    corpus = build_corpus(spark, n, manifold=True)

    t0 = time.time()
    coarse = similarity.train_centroids_kmeans(
        corpus, n_centroids=cells, n_iter=4, init_sample=4 * cells
    )
    similarity.write_pq_index(
        corpus, path, n_centroids=cells, m=8, ks=64, n_iter=2,
        centroids=coarse
    )
    build_sec = time.time() - t0

    w0, r0 = shuffle_bytes(ui)
    t0 = time.time()
    graph = similarity.pq_knn_join(
        spark, path, corpus, corpus, k=K, probes=PROBES, refine=REFINE
    ).filter(F.col("qid") != F.col("vec_id"))
    n_edges = graph.count()
    graph_sec = time.time() - t0
    w1, r1 = shuffle_bytes(ui)

    # recall@K on a 100-query sample vs EXACT top-K (self excluded):
    # broadcast the sample, brute-force pairwise cosine over the corpus
    sample = corpus.filter(F.col("vec_id") % SAMPLE_STRIDE == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv")
    )
    pairs = corpus.select("vec_id", F.col("embedding").alias("_cv")).join(
        F.broadcast(sample)
    )
    exact_scored = pairwise_cosine_arrow(
        pairs, DIM, "_qv", "_cv", "qid", "vec_id"
    ).filter(F.col("qid") != F.col("vec_id"))
    exact = similarity._per_query_topk(
        exact_scored.select(
            "qid", "vec_id", F.round(F.col("cos"), 5).alias("cos")
        ),
        "qid",
        "vec_id",
        K,
    )
    truth: dict[int, set[int]] = {}
    for row in exact.collect():
        truth.setdefault(row.qid, set()).add(row.vec_id)
    got: dict[int, set[int]] = {}
    for row in graph.filter(
        F.col("qid") % SAMPLE_STRIDE == 0
    ).collect():
        got.setdefault(row.qid, set()).add(row.vec_id)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    rec = {
        "n_vectors": n,
        "n_cells": cells,
        "k": K,
        "probes": PROBES,
        "refine": REFINE,
        "index_build_sec": round(build_sec, 2),
        "graph_sec": round(graph_sec, 2),
        "n_edges": n_edges,
        "edges_per_sec": int(n_edges / graph_sec),
        "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
        "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
        "recall_at_k": round(sum(recalls) / len(recalls), 4),
        "n_sampled": len(recalls),
    }
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
