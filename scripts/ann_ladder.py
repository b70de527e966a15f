"""ANN ladder: time + recall@k for every similarity variant at vector
counts where brute force becomes the wrong answer (VERDICT r09 item 3
— the one scale claim that was argued, not measured).

    python scripts/ann_ladder.py [--sizes 1000000 10000000] [--dim 64]

Synthesizes an N x dim clustered corpus (1024 planted centroids,
hash-deterministic — the shape that skews LSH buckets and IVF cells,
i.e. the HOSTILE case for the bucketed paths), writes it as parquet
(array<float>, the embeddings-table layout) so every probe pays the
scan, then runs:

  brute_force_top_k_arrow  — exact truth (timed; THE baseline)
  rp_lsh_top_k             — multi-table random-projection LSH
  ivf_top_k                — trained coarse quantizer, n_probe cells
  pq_top_k                 — product quantization + ADC + exact rerank

Recall@k is measured against the brute-force truth per query, then
averaged. Prints one JSON line per (size, variant) with wall seconds,
recall, and the parameters used — parameters scale with N the way the
operator docstrings prescribe (cells ~ sqrt-ish of N so a probe scans
a bounded corpus fraction; LSH bits sized so expected bucket occupancy
stays bounded).

Writes nothing outside /tmp.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_CENTROIDS_PLANTED = 1024


def synthesize_vectors(spark, n_rows: int, dim: int, path: str) -> None:
    """Clustered corpus: each vector = planted centroid + 10% noise,
    all hash-deterministic (no RNG — replayable across runs). Stored
    as array<float> parquet, the embeddings-table layout."""
    cid = F.pmod(F.xxhash64("id"), F.lit(N_CENTROIDS_PLANTED))
    elems = []
    for j in range(dim):
        base = (
            F.pmod(F.xxhash64(cid, F.lit(j + 1_000_000)), F.lit(2000)) / 1000.0 - 1.0
        )
        noise = (
            F.pmod(F.xxhash64("id", F.lit(j)), F.lit(2000)) / 1000.0 - 1.0
        ) * 0.1
        elems.append((base + noise).cast("float"))
    (
        spark.range(n_rows)
        .select(
            F.col("id").alias("vec_id"),
            F.array(*elems).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def params_for(n: int) -> dict:
    """Scale-appropriate knobs, per the operator docstrings: IVF probes
    a bounded corpus fraction (n_probe/n_centroids ~= 3%), LSH bits
    keep expected occupancy ~N/2^bits bounded, PQ rides m=8 subspaces."""
    # PQ: refine_factor is THE recall lever on clustered corpora (ADC
    # cannot resolve near-identical cluster siblings, so the exact
    # rerank pool size decides recall): measured at 100k, rf=3 ->
    # 0.31-0.34 recall at ANY codebook size, rf=10 -> 0.98-0.99; and
    # n_codes=256 + rf=10 was also the FASTEST config (24.0 s vs 73.3 s
    # for n_codes=16 + rf=10). r11: refine_factor defaults to "auto"
    # (pool sized from the max same-code group) — the ladder now rides
    # the default so the rung measures what a default caller gets.
    pq = {"m": 8, "n_codes": 256}
    if n <= 1_000_000:
        return {
            "ivf": {"n_centroids": 256, "n_probe": 8},
            "lsh": {"bits": 10, "n_tables": 4},
            "pq": pq,
        }
    return {
        "ivf": {"n_centroids": 1024, "n_probe": 32},
        "lsh": {"bits": 12, "n_tables": 4},
        "pq": pq,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[1_000_000, 10_000_000])
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=32)
    ap.add_argument("--skip-brute", action="store_true",
                    help="reuse truth from a prior run (debugging only)")
    ap.add_argument("--only", type=str, default=None,
                    help="comma list of variants (brute,lsh,ivf,pq)")
    args = ap.parse_args()

    from post_modern_stack_spark.session import get_spark
    from post_modern_stack_spark.operators.similarity import (
        brute_force_top_k_arrow,
        ivf_top_k,
        pq_top_k,
        rp_lsh_top_k,
    )

    only = set(args.only.split(",")) if args.only else None
    spark = get_spark(app_name="pmss-ann-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the Python workers (numpy/pyarrow import in 32 fresh workers
    # costs ~30 s on a cold host — measured; without this the first
    # variant's row absorbs it and the ladder mis-attributes).
    warm = spark.range(32 * 4).repartition(32).select(
        F.col("id").cast("long").alias("vec_id"),
        F.array(*[F.lit(0.1)] * args.dim).alias("embedding"),
    )
    brute_force_top_k_arrow(warm, warm.limit(2), k=1).collect()
    workdir = tempfile.mkdtemp(prefix="pmss-ann-")
    try:
        for n in args.sizes:
            path = f"{workdir}/vecs_{n}"
            t0 = time.perf_counter()
            synthesize_vectors(spark, n, args.dim, path)
            print(
                json.dumps(
                    {"n": n, "step": "synthesize", "sec": round(time.perf_counter() - t0, 1)}
                ),
                flush=True,
            )
            corpus = spark.read.parquet(path)
            # queries: evenly spaced corpus ids -> spread across clusters
            qids = [i * (n // args.n_queries) for i in range(args.n_queries)]
            queries = corpus.filter(F.col("vec_id").isin(qids))

            p = params_for(n)

            def run(name, build):
                t0 = time.perf_counter()
                rows = build().collect()
                dt = time.perf_counter() - t0
                by_q: dict = {}
                for r in rows:
                    by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
                return dt, by_q

            truth = None
            if (only is None or "brute" in only) and not args.skip_brute:
                dt, truth = run(
                    "brute",
                    lambda: brute_force_top_k_arrow(corpus, queries, k=args.k),
                )
                print(
                    json.dumps(
                        {"n": n, "variant": "brute_force_top_k_arrow",
                         "sec": round(dt, 1), "recall": 1.0, "params": {}}
                    ),
                    flush=True,
                )

            variants = {
                "lsh": lambda: rp_lsh_top_k(
                    corpus, queries, k=args.k, dim=args.dim, **p["lsh"]
                ),
                "ivf": lambda: ivf_top_k(corpus, queries, k=args.k, **p["ivf"]),
                "pq": lambda: pq_top_k(corpus, queries, k=args.k, **p["pq"]),
            }
            names = {
                "lsh": "rp_lsh_top_k",
                "ivf": "ivf_top_k",
                "pq": "pq_top_k",
            }
            if n <= 1_000_000:
                # PQ pool law: on a near-tie clustered corpus ADC cannot
                # rank cluster siblings, so recall ~= min(1, pool/cluster)
                # where pool = k*refine_factor. This row sets the pool
                # ABOVE the planted cluster size (~N/1024) to confirm
                # recall recovers — the knob a 100 TB deployment turns
                # when its corpus has heavy near-tie mass.
                big_rf = dict(p["pq"], refine_factor=1000)
                variants["pq_pool"] = lambda: pq_top_k(
                    corpus, queries, k=args.k, **big_rf
                )
                names["pq_pool"] = "pq_top_k[refine_factor=1000]"
            for key, build in variants.items():
                if only is not None and key not in only:
                    continue
                dt, by_q = run(key, build)
                if truth:
                    recalls = [
                        len(truth[q] & by_q.get(q, set())) / max(len(truth[q]), 1)
                        for q in truth
                    ]
                    recall = round(sum(recalls) / len(recalls), 4)
                else:
                    recall = None
                pkey = "pq" if key == "pq_pool" else key
                pp = dict(p[pkey], refine_factor=1000) if key == "pq_pool" else p[pkey]
                print(
                    json.dumps(
                        {"n": n, "variant": names[key], "sec": round(dt, 1),
                         "recall": recall, "params": pp}
                    ),
                    flush=True,
                )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
