"""Bench embedding_neardup_ivf at scale — the moderate-threshold (θ=0.4)
operating point where sign-LSH floods (BENCH.md §embedding_neardup_lsh
at sf3: ~10⁹ candidates, OOM in local mode).  Measures wall + output
size at the full corpus, and recall against an EXACT all-pairs baseline
computed over a bounded id-prefix subsample (deterministic, so the
number is reproducible run-to-run).

Usage: python scripts/bench_eivf.py [sf] [num_centroids] [nprobe]
  (defaults 3 256 16; sample size via EIVF_BENCH_SAMPLE, default 3000)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from neo4j_graphrag_python_spark import datagen  # noqa: E402
from neo4j_graphrag_python_spark.operators.dedup import (  # noqa: E402
    embedding_neardup_blocked_exact,
    embedding_neardup_ivf,
)
from neo4j_graphrag_python_spark.session import build_spark  # noqa: E402


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 3.0
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    nprobe = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    threshold = float(os.environ.get("EIVF_THRESHOLD", "0.4"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    sf_dir = datagen.ensure_tables(sf)
    spark = build_spark(
        "bench-eivf", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()

    # timed: the full-corpus IVF near-dup (fit + assign + block + rescore)
    reps = int(os.environ.get("EIVF_REPS", "1"))
    walls = []
    for _ in range(reps):
        t0 = time.time()
        out = embedding_neardup_ivf(
            emb,
            threshold=threshold,
            num_centroids=k,
            nprobe=nprobe,
            sample_n=50_000,
        )
        rows = out.count()
        walls.append(round(time.time() - t0, 2))

    # exact FULL-corpus baseline via blocked GEMM (timed too — it is the
    # moderate-threshold scale path in its own right), then IVF recall
    # against the complete exact pair set, not a sample
    t0 = time.time()
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_blocked_exact(
            emb, threshold=threshold
        ).collect()
    }
    exact_wall = round(time.time() - t0, 2)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    recall = len(exact & got) / len(exact) if exact else 1.0
    print(
        json.dumps(
            {
                "sf": sf,
                "vectors": n,
                "threshold": threshold,
                "num_centroids": k,
                "nprobe": nprobe,
                "pairs": rows,
                "wall_s": walls[-1],
                "all_walls_s": walls,
                "blocked_exact_pairs": len(exact),
                "blocked_exact_wall_s": exact_wall,
                "ivf_recall_vs_exact": round(recall, 4),
                "loadavg_1m": round(os.getloadavg()[0], 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
