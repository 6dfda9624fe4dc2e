"""A/B probe: SemDeDup all-pairs vector kernel vs the PQ-code screen.

Both flag the IDENTICAL dup set (asserted before timing — the code
screen's bounds + exact verify of the uncertain band are lossless); the
difference is the cost model: semantic_dedup groups (id, cell, 256 B of
float vector) into cells and block-matmuls every pair, while
semantic_dedup_pq's screen reads the standing index's (id, cell, m-byte
codes, 8-byte qerr) — already cell-partitioned on disk — and touches raw
vectors only for the uncertain band. Reports wall time, total shuffle
bytes (Spark REST), and the band sizes (certain / verify / total pairs).

Usage: python tools/bench_semantic_pq.py [n_vectors] [n_cells]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from fs_schema_validator_spark.session import get_spark  # noqa: E402
from fs_schema_validator_spark.operators import similarity  # noqa: E402
from tools.bench_knn_graph import build_corpus, shuffle_bytes  # noqa: E402

THRESHOLD = 0.95


def build_highdim_corpus(spark, n: int, dim: int = 1024, latent: int = 32):
    """n dim-dim float32 vectors with REALISTIC embedding structure: a
    power-law latent space (z_i ~ N(0, 1/i) — decaying spectrum, the
    property that makes PQ work on real embedding models) around 16
    cluster centers, projected to `dim` with a fixed random matrix,
    plus 1% planted near-copies. Written to parquet and read back so
    the probe's lineage is a scan. dim=64 fixtures understate the code
    screen's payload advantage ~16-fold; production embedding columns
    are 768-4096-dim."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    # center norm ~ latent-noise norm: the bulk of intra-cluster pairs
    # must sit BELOW the threshold or the fixture is all-dups
    centers = rng.normal(size=(16, latent)) * 0.35
    scale = 1.0 / np.sqrt(np.arange(1, latent + 1))
    z = rng.normal(size=(n, latent)) * scale
    u = centers[np.arange(n) % 16] + z
    proj = rng.normal(size=(latent, dim)) / np.sqrt(latent)
    v = (u @ proj + rng.normal(size=(n, dim)) * 0.01).astype(np.float32)
    ids = np.arange(n)
    cp = v[::100] + rng.normal(size=v[::100].shape).astype(np.float32) * 0.003
    v = np.concatenate([v, cp])
    ids = np.concatenate([ids, np.arange(len(cp)) + n])
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(map(list, v))})
    out = f"/tmp/fsv_sem_pq_corpus_{n}_{dim}"
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(out)
    df = spark.read.parquet(out).persist()
    df.count()
    return df, dim


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cells = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    dim = int(sys.argv[3]) if len(sys.argv) > 3 else 1024
    m = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    spark = get_spark(
        app_name="bench_semantic_pq",
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = "http://localhost:4040"
    path = "/tmp/fsv_sem_pq_index"
    shutil.rmtree(path, ignore_errors=True)
    # rare-dup fixture (the SemDeDup regime): clustered embeddings whose
    # bulk pairs sit below the threshold + 1% planted near-copies. The
    # smooth-manifold fixture is WRONG here (99% of its rows are >=0.95
    # near-dups — nothing to prune); the dim-64 hash fixture understates
    # the payload advantage 16-fold vs production embedding widths.
    corpus, dim = build_highdim_corpus(spark, n, dim=dim)
    coarse = similarity.train_centroids_kmeans(
        corpus, n_centroids=cells, n_iter=4, init_sample=4 * cells
    )

    t0 = time.time()
    similarity.write_pq_index(
        corpus, path, n_centroids=cells, m=m, ks=256, n_iter=2,
        centroids=coarse,
    )
    build_sec = round(time.time() - t0, 2)
    qerr = spark.read.parquet(f"{path}/codes").agg(
        F.expr("percentile_approx(qerr, array(0.5, 0.99))")
    ).first()[0]

    def run_base():
        return (
            similarity.semantic_dedup(
                corpus, threshold=THRESHOLD, centroids=coarse,
            )
            .agg(F.sum(F.col("is_dup").cast("long")), F.count("*"))
            .collect()
        )

    def run_pq():
        return (
            similarity.semantic_dedup_pq(
                spark, path, corpus, threshold=THRESHOLD
            )
            .agg(F.sum(F.col("is_dup").cast("long")), F.count("*"))
            .collect()
        )

    assert [tuple(r) for r in run_base()] == [tuple(r) for r in run_pq()]

    rec = {"n_vectors": n, "dim": dim, "m": m, "n_cells": cells,
           "threshold": THRESHOLD, "index_build_sec": build_sec,
           "qerr_p50": round(qerr[0], 3), "qerr_p99": round(qerr[1], 3)}
    for name, fn in (("vector_kernel", run_base), ("pq_screen", run_pq)):
        w0, r0 = shuffle_bytes(ui)
        t0 = time.time()
        res = fn()
        rec[f"{name}_sec"] = round(time.time() - t0, 2)
        w1, r1 = shuffle_bytes(ui)
        rec[f"{name}_shuffle_mb"] = round((w1 - w0) / 1e6, 1)
        rec["n_dups"] = int(res[0][0])
    from fs_schema_validator_spark.functions.arrays import (
        pq_code_screen_pairs_arrow,
    )
    coarse2, cb = similarity._load_pq_model(spark, path)
    screen = pq_code_screen_pairs_arrow(
        spark.read.parquet(f"{path}/codes"), cb, THRESHOLD, 5
    ).persist()
    rec["screen_certain_rows"] = screen.filter(F.col("certain")).count()
    rec["screen_verify_pairs"] = screen.filter(~F.col("certain")).count()
    rec["speedup"] = round(
        rec["vector_kernel_sec"] / rec["pq_screen_sec"], 2
    )
    rec["shuffle_ratio"] = round(
        rec["vector_kernel_shuffle_mb"]
        / max(rec["pq_screen_shuffle_mb"], 0.1),
        1,
    )
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
