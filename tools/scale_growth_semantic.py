#!/usr/bin/env python
"""Decade growth probe for SEMANTIC dedup (VERDICT r5 task #1).

r5 shipped dedup_semantic_clustered with a FIXED k=4 — the same
saturation class as fixed minhash bands (r2) and fixed RP-LSH bits (r4):
within-cluster candidate pairs are sum(n_i^2)/2 ~ n^2/(2k), quadratic in
corpus size whenever k stands still. r6 auto-sizes k = ceil(n/64)
(semantic_k). This probe MEASURES both policies at 1x/10x/100x the sf0.1
embedding count (2k -> 200k vectors, tools/scale_growth_synth.py
synthesis: deterministic xxhash64 vectors, ~10% planted near-dups):

* **candidates** — sum over clusters of C(n_i, 2), the quantity whose
  growth decides 100-TB viability. Counted from the assignment alone
  (groupBy cluster -> sum), so the fixed-k=4 pathology is measurable at
  decade 100 WITHOUT materializing its ~5e9 pairs.
* **wall** — full semantic_dedup (train + assign + within-cluster pair
  join + keep, assign through the sequential-fold Arrow kernel),
  min-of-2, auto-k (fixed-k full runs stop at the decade where the
  candidate count predicts a multi-hour join).

Expected and measured (SCALE.md "Semantic dedup decade probe"):
auto-k candidates grow ~linearly (expected membership pinned at ~64);
fixed-k=4 candidates grow ~quadratically (n^2/8). The auto-k WALL keeps a
super-linear term by design: the broadcast-assign pass is O(n*k) =
O(n^2/64) dot products — flat k-means' irreducible assign cost, bounded
operationally by the SEM_MAX_K broadcast clamp; past ~4M vectors the
coarse quantizer itself must go hierarchical/IVF (documented at
semantic_k). The candidate term — the one that feeds a JOIN — is the one
that must stay linear, and does.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aws_logs_parquet_converter_spark.session import build_session
from scale_growth_synth import N_VECS_BASE, driver_memory, synth_embeddings, time_min_of

DECADES = [
    int(x) for x in os.environ.get("SCALE_SYNTH_DECADES", "1,10,100").split(",")
]
#: full fixed-k pair-join runs stop here (candidate count predicts the rest)
FIXED_FULL_RUN_MAX_N = 20_000


def main() -> None:
    spark = build_session(
        app_name="scale_growth_semantic",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": driver_memory()},
    )
    from aws_logs_parquet_converter_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
        semantic_dedup,
        semantic_k,
    )

    tmp = tempfile.mkdtemp(prefix="semantic_scale_")
    results = []
    try:
        for d in DECADES:
            n = N_VECS_BASE * d
            path = f"{tmp}/emb_{d}.parquet"
            synth_embeddings(spark, n).write.mode("overwrite").parquet(path)
            emb = spark.read.parquet(path)
            row: dict = {"decade": d, "n_vecs": n, "k_auto": semantic_k(n)}

            def candidates(k: int) -> int:
                cents = kmeans_train(emb, k=k, n_iters=2)
                sizes = kmeans_assign(emb, cents).groupBy("cluster").count()
                return int(
                    sizes.agg(
                        F.sum(F.col("count") * (F.col("count") - 1) / 2)
                    ).collect()[0][0]
                )

            row["cand_auto"] = candidates(row["k_auto"])
            row["cand_fixed_k4"] = candidates(4)
            row["wall_auto"] = time_min_of(
                2, lambda: semantic_dedup(emb).count()
            )
            if n <= FIXED_FULL_RUN_MAX_N:
                row["wall_fixed_k4"] = time_min_of(
                    2, lambda: semantic_dedup(emb, k=4).count()
                )
            results.append(row)
            print(json.dumps(row), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    print(json.dumps({"probe": "semantic_dedup_decades", "rows": results}))


if __name__ == "__main__":
    main()
