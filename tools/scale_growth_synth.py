#!/usr/bin/env python
"""Dedup/ANN growth slope ABOVE the fixed floor (VERDICT r3 task #3).

The r3 probe (SCALE.md "Measured scale growth") showed the dedup/ANN trio
FLAT across sf0.001→0.1 because 500–50k docs never clear the ~1-2 s
DAG-scheduling/codegen floor. This tool synthesizes documents/embeddings
tables at 1x / 10x / 100x the sf0.1 row counts (5k→500k docs, 2k→200k
vectors) IN SPARK (no driver-side generation), writes them in the standard
sf_dir layout, and times the three operators min-of-2 per decade plus their
candidate-pair counts — the numbers that turn "the plan shape is linear"
into a measured slope.

Synthesis (deterministic, xxhash64-keyed — no rand()):
* documents: ~50 tokens/doc drawn from a 50k-word vocab by hashing
  (base_id, position). Every doc with doc_id % 10 == 1 is a planted
  near-dup of its predecessor (same base tokens, position 0 replaced by a
  unique token), so true-pair density is a constant ~10% of rows and the
  EXPECTED candidate count grows linearly with N.
* embeddings: 64 dims in [-1, 1) hashed from (base_id, dim); planted
  neighbors perturb the base vector by <=0.01/dim.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_logs_parquet_converter_spark import operators
from aws_logs_parquet_converter_spark.session import build_session

N_DOCS_BASE = 5_000  # == sf0.1 documents rows
N_VECS_BASE = 2_000  # == sf0.1 embeddings rows
# override with SCALE_SYNTH_DECADES=1,10 to split long runs across invocations
DECADES = [
    int(x)
    for x in os.environ.get("SCALE_SYNTH_DECADES", "1,10,100").split(",")
]
VOCAB = 50_000
TOKENS_PER_DOC = 50
DIM = 64


def driver_memory() -> str:
    """Driver heap sized from the box, as perfbench sizes it: a quarter of
    MemTotal, between 1 and 2 GiB (the driver JVM also hosts the local
    executors)."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, total_kb // 4096))}m"


def synth_documents(
    spark: SparkSession, n: int, variant_pos: int = 0
) -> DataFrame:
    d = spark.range(n).withColumn(
        "base", F.when(F.col("id") % 10 == 1, F.col("id") - 1).otherwise(F.col("id"))
    )
    toks = []
    for i in range(TOKENS_PER_DOC):
        t = F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("base") * 1000 + i), F.lit(VOCAB))
        )
        if i == variant_pos:  # near-dups differ from base in exactly one token
            t = F.when(
                F.col("id") % 10 == 1, F.concat(F.lit("u"), F.col("id"))
            ).otherwise(t)
        toks.append(t)
    text = F.concat_ws(" ", *toks)
    return d.select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(5))).alias("source"),
        F.length(text).cast("bigint").alias("n_chars"),
    )


def synth_embeddings(spark: SparkSession, n: int) -> DataFrame:
    d = spark.range(n).withColumn(
        "base", F.when(F.col("id") % 10 == 1, F.col("id") - 1).otherwise(F.col("id"))
    )
    dims = []
    for j in range(DIM):
        v = (
            F.pmod(F.xxhash64(F.col("base") * 100 + j), F.lit(2_000_001)).cast("double")
            / 1_000_000.0
            - 1.0
        )
        pert = F.when(
            F.col("id") % 10 == 1,
            F.pmod(F.xxhash64(F.col("id") * 100 + j), F.lit(2001)).cast("double")
            / 100_000.0
            - 0.01,
        ).otherwise(F.lit(0.0))
        dims.append(v + pert)
    return d.select(
        F.col("id").alias("vec_id"),
        F.array(*dims).cast("array<float>").alias("embedding"),
        F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
    )


def time_min_of(n: int, fn) -> float:
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    spark = build_session(
        app_name="scale_growth_synth",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    from aws_logs_parquet_converter_spark.operators.dedup import (
        candidate_pairs,
        lsh_bands,
        minhash_signature,
        shingles,
        simhash_pairs,
    )
    from aws_logs_parquet_converter_spark.operators.similarity import rplsh_pairs

    queries = operators.all_queries()
    trio = ["dedup_minhash_lsh", "dedup_simhash", "sim_ann_rplsh"]
    # warmup on the real smallest fixture
    for q in trio:
        queries[q](spark, "/root/testdata/sf0.001").write.mode("overwrite").format(
            "noop"
        ).save()

    out: dict[str, dict] = {q: {} for q in trio}
    cands: dict[str, dict] = {q: {} for q in trio}
    root = tempfile.mkdtemp(prefix="scale_synth_")
    try:
        for dec in DECADES:
            n_docs = N_DOCS_BASE * dec
            n_vecs = N_VECS_BASE * dec
            sf_dir = os.path.join(root, f"x{dec}")
            synth_documents(spark, n_docs).write.mode("overwrite").parquet(
                f"{sf_dir}/documents.parquet"
            )
            synth_embeddings(spark, n_vecs).write.mode("overwrite").parquet(
                f"{sf_dir}/embeddings.parquet"
            )
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            key = f"x{dec}"
            for q in trio:
                if q == "sim_ann_rplsh" and n_vecs > 50_000:
                    out[q][key] = "capped(>50k vecs; see pairs note)"
                    continue
                out[q][key] = time_min_of(
                    2,
                    lambda: queries[q](spark, sf_dir)
                    .write.mode("overwrite")
                    .format("noop")
                    .save(),
                )
                spark.catalog.clearCache()
            cands["dedup_minhash_lsh"][key] = candidate_pairs(
                lsh_bands(minhash_signature(shingles(docs)))
            ).count()
            cands["dedup_simhash"][key] = simhash_pairs(docs).count()
            # fixed 8-bit buckets (the registered fixture config): saturates.
            # Capped at 50k vectors — the x10 point already measures the
            # quadratic (90x pairs for 10x rows); at x100 the ~23M-candidate
            # confirm join would just re-prove it expensively. Recorded as
            # "capped", not silently dropped.
            if n_vecs <= 50_000:
                cands["sim_ann_rplsh"][key] = rplsh_pairs(vecs, bits=8).count()
            else:
                cands["sim_ann_rplsh"][key] = "capped(>50k vecs; quadratic shown at x10)"
            # corpus-sized bucket width (production default): linear
            out.setdefault("sim_ann_rplsh_auto", {})[key] = time_min_of(
                2,
                lambda: rplsh_pairs(vecs).write.mode("overwrite").format("noop").save(),
            )
            cands.setdefault("sim_ann_rplsh_auto", {})[key] = rplsh_pairs(vecs).count()
            spark.catalog.clearCache()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {
                "rows": {f"x{d}": {"docs": N_DOCS_BASE * d, "vecs": N_VECS_BASE * d} for d in DECADES},
                "wall_sec_min_of_2": out,
                "pairs": cands,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
