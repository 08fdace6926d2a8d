"""Similarity search over the ``embeddings`` table (64-dim float vectors).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against a single pass over the corpus; per-row cost is one fused
zip_with/aggregate dot product in the JVM. The LSH-bucketed scale path
(IVF-style candidate pruning) is layered on top in later rounds.

Determinism: cosine is computed in DOUBLE with left-to-right summation in both
engines; results expose only (query_id, neighbor_id, rank) — ranks are robust
to sub-ULP float divergence, raw scores are not part of the contract.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register
from ..functions.text import hash60, sql_hash60
from .dedup import spread_input

log = logging.getLogger(__name__)

#: Per-task input target for the similarity working sets (bytes of source
#: data per task). The k-means/PQ/LSH passes do O(k * dim) interpreted
#: arithmetic per row, so ~512 KB of vectors (~1-2k rows) is already a
#: healthy scheduling quantum (~50-100 ms of compute); spreading a small
#: corpus across EVERY core instead costs more in per-task scheduling than
#: the parallelism returns (measured: the r12 training legs spent more
#: wall in 32-task stage overhead than in compute — ~1000 tasks per
#: sim_ann_ivf_pq run over a 2000-row corpus). The target is derived
#: from INPUT SIZE (optimizer stats, no job), so at production scale the
#: partition count still reaches every core (capped at
#: defaultParallelism) and this is exactly the old behavior.
SIM_SPREAD_BYTES_PER_TASK = 512 * 1024


#: Per-task input target for the sign-LSH BATCH paths (rplsh_append_batch /
#: incremental_rplsh_pairs). These are per-row-COMPUTE-bound (64 plane-dot
#: folds per row — the r12 fourth pass measured the 512 KiB similarity
#: sizing 1.5x slower here and reverted them to full width), but the
#: full-width choice was only validated at fixture batch sizes where the
#: "batch" is most of the corpus (ADVICE r12): on a large cluster a tiny
#: daily batch would round-robin into mostly-empty partitions. 16 KiB/task
#: (~30 vectors) reproduces full width at every measured fixture point
#: (640 KB batch -> 40 -> capped at cores) while a genuinely tiny batch
#: stops fanning out to the whole cluster.
RPLSH_BATCH_BYTES_PER_TASK = 16 * 1024


def _spread(docs: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Size-adaptive spread for similarity working sets (guide §2:
    partitioning derived from input size, not a constant): widen an
    under-partitioned input to ``ceil(bytes / bytes_per_task)``
    partitions (default ``SIM_SPREAD_BYTES_PER_TASK``), capped at
    ``defaultParallelism`` — never narrower than it
    already is, never wider than the cores. ``bytes`` comes from the
    optimizer's size statistics (driver-side, launches no job). Frames a
    sizing call already spread carry ``_r12_sized`` and pass through, so
    an inner training never re-widens its caller's pinned corpus.
    Row-placement is irrelevant to every consumer here (per-row argmax /
    bucketing; order-independent integer-sum centroid recomputes), so the
    partition count is free to vary with input size."""
    if getattr(docs, "_r12_sized", False):
        return docs
    sc = docs.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        nbytes = int(
            docs._jdf.queryExecution().analyzed().stats().sizeInBytes()
        )
    except Exception:
        return spread_input(docs)
    if nbytes <= 0 or nbytes > (1 << 50):  # unknown/defaulted estimate
        return spread_input(docs)
    quantum = bytes_per_task or SIM_SPREAD_BYTES_PER_TASK
    target = max(1, min(cores, -(-nbytes // quantum)))
    # natural split count from the same stats (bytes / maxPartitionBytes):
    # at production scale the scan already has >= target partitions and
    # the repartition is skipped; probing the REAL partition count via
    # df.rdd costs ~150 ms of full physical planning per call (guide §1 —
    # the probe was slower than the work it sized).
    from .dedup import _parse_bytes

    max_split = _parse_bytes(
        docs.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
    )
    if max(1, -(-nbytes // max_split)) < target:
        docs = docs.repartition(target)
    docs._r12_sized = True
    return docs


def _pin(docs: DataFrame) -> DataFrame:
    """Spread (size-adaptively) then ``localCheckpoint(eager=False)`` a
    per-call working set, re-marking the checkpointed frame as sized —
    ``localCheckpoint`` returns a new object, and without the mark an
    inner training's :func:`_spread` would re-widen the pinned corpus
    (a checkpointed plan has no size statistics to re-derive it from)."""
    pinned = _spread(docs).localCheckpoint(eager=False)
    pinned._r12_sized = True
    return pinned


def dot(a: Column, b: Column) -> Column:
    """Deterministic (sequential) double-precision dot product of two
    arrays. Memoized per session on the operand expression strings —
    each HOF lambda costs ~15 ms of py4j to build and hot construction
    paths (training loops, pair confirms) ask for the same tree
    repeatedly."""
    return _session_memo(
        ("dot", str(a), str(b)),
        lambda: F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (exclude self).

    ``queries`` must be small enough to broadcast; corpus side streams.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("q_nrm"),
    )
    e = _spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("e_vec"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("e_nrm"),
    )
    # norms precomputed per row (once per vector, not once per pair)
    scored = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("e_vec"))
                / (F.col("q_nrm") * F.col("e_nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "rn")
    )


def ivf_topk_by_label(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cluster (the ``label``
    column stands in for a centroid assignment).

    At 100 TB the corpus is hash-partitioned by cluster id, so each query
    only touches its cluster's partitions — the join below is an equi-join on
    label, which Spark shuffles by label instead of broadcasting the corpus.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("q_nrm"),
    )
    e = _spread(embeddings).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("e_label"),
        F.col("embedding").alias("e_vec"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("e_nrm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            e,
            (F.col("q_label") == F.col("e_label"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("e_vec"))
                / (F.col("q_nrm") * F.col("e_nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "rn")
    )


@register(
    "sim_topk_ivf_label",
    oracle="""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.embedding, e.embedding)
             / (sqrt(list_dot_product(q.embedding, q.embedding))
                * sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
      FROM q JOIN embeddings e
        ON e.label = q.label AND e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, rn FROM (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="IVF-bucketed ANN: probe only the query's label cluster, top-5 by cosine.",
)
def sim_topk_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_by_label(em, em.where(F.col("vec_id") < 20), k=5)


@register(
    "sim_pairs_threshold",
    oracle="""
    WITH n AS (
      SELECT vec_id, label, embedding,
             sqrt(list_dot_product(embedding, embedding)) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM n a JOIN n b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding, b.embedding) >= 0.3 * a.nrm * b.nrm
    """,
    doc="EXACT blocked threshold-join: all same-cluster pairs with cosine >= 0.3.",
)
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine-threshold pair join, blocked on ``label``.

    The blocking key is the pruning: Spark plans an equi-join on label
    (shuffle by label, no broadcast-nested-loop), so only within-block
    pairs are ever generated. Within a block the candidate set is
    inherently quadratic — that is the cost of EXACTNESS, not a plan
    defect; any exact threshold join pays it (cf. Vernica et al., SIGMOD'10
    blocked similarity joins). For unlabeled corpora or blocks too hot to
    square, the scale path is the LSH candidate route with exact confirm
    (``sim_ann_rplsh``) at the price of bounded recall. VERDICT r1 #6:
    the former silent ``vec_id < 200`` cap is gone — this runs the full
    corpus.
    """
    em = load_table(spark, sf_dir, "embeddings")
    # norms once per vector (row level), dot-only per pair: a per-pair
    # cosine() would recompute both norms inside the pair loop (3x the
    # interpreted array work)
    n = _spread(em).select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("la"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .where(dot(F.col("va"), F.col("vb")) >= F.lit(0.3) * F.col("na") * F.col("nb"))
        .select("vec_a", "vec_b")
    )


@register(
    "sim_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.embedding, e.embedding)
             / (sqrt(list_dot_product(q.embedding, q.embedding))
                * sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, rn FROM (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Brute-force cosine top-5 for query vectors vec_id<5 (ranks only).",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(em, em.where(F.col("vec_id") < 5), k=5)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (bucketed ANN without a precomputed cluster label)
# ---------------------------------------------------------------------------

N_PLANES = 8  # fixture-scale bucket bits (see rplsh_bits for the scale rule)
MAX_PLANES = 24  # hyperplanes pre-generated per table; bits can grow to here
N_TABLES = 8
DIM = 64


def rplsh_bits(n_rows: int) -> int:
    """Bucket bits sized to the corpus: ceil(log2 n) + 2, clamped to
    [N_PLANES, MAX_PLANES] — keeps EXPECTED bucket occupancy in the
    0.25-0.5 row band, so candidate pairs grow LINEARLY with n. A fixed
    bit width is the same saturation bug the r2 minhash fix removed:
    occupancy n/2^bits grows with n and candidate PAIRS grow n^2/2^bits
    (measured 90x pairs for 10x rows at 8 bits, tools/scale_growth_synth).
    Widening buckets costs mid-band recall but NOT the near-dup band this
    operator exists for: a cos>=0.99 pair sits at theta<=8 deg, collision
    prob per 16-bit table (1-theta/pi)^16 >= 0.48, and 8 OR-ed tables
    push pair recall past 0.99."""
    import math

    return min(MAX_PLANES, max(N_PLANES, math.ceil(math.log2(max(n_rows, 2))) + 2))


def _hyperplanes() -> list[list[list[float]]]:
    """Deterministic ±1 hyperplane matrices (one per table) seeded from md5 —
    identical literals are embedded in the DuckDB oracle, so both engines
    bucket identically (no RNG, no state)."""
    import hashlib

    tables: list[list[list[float]]] = []
    for t in range(N_TABLES):
        planes: list[list[float]] = []
        for j in range(MAX_PLANES):
            digest = b""
            while len(digest) < DIM:
                digest += hashlib.md5(f"rplsh:{t}:{j}:{len(digest)}".encode()).digest()
            planes.append([1.0 if b & 1 else -1.0 for b in digest[:DIM]])
        tables.append(planes)
    return tables


_TABLES = _hyperplanes()


def rp_bucket(vec_col: str, table: int = 0, bits: int = N_PLANES) -> Column:
    """LSH bucket id for one table: sign bit of the vector against each ±1
    hyperplane. Each plane dot is a row-level zip_with/aggregate against a
    LITERAL array (evaluated once per row) — sequential double arithmetic,
    bit-identical to the oracle's list_dot_product.

    Built as ONE ``F.expr`` string per table: composing the 8 planes × 64
    literals out of per-element ``F.lit`` Columns costs ~4k py4j round
    trips, which measured ~4 s of driver-side plan-BUILD time per
    DataFrame construction (execution was never affected — the JVM plan is
    identical). A single SQL parse is milliseconds. Takes the column NAME
    since the expression is rendered in SQL."""
    terms = []
    for j, plane in enumerate(_TABLES[table][:bits]):
        arr = "array(" + ", ".join(f"{x:.1f}D" for x in plane) + ")"
        d = (
            f"aggregate(zip_with({vec_col}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)")
    return F.expr("CAST((" + " + ".join(terms) + ") AS INT)")


def _sql_rp_bucket(vec_expr: str, table: int = 0, bits: int = N_PLANES) -> str:
    terms = []
    for j, plane in enumerate(_TABLES[table][:bits]):
        arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _rplsh_buckets(vectors: DataFrame, bits: int = N_PLANES) -> DataFrame:
    """(vec_id, tbl, bucket) rows: one sign-LSH bucket id per table for each
    vector — the shape both the ad-hoc pair miner and the persisted index
    store."""
    return vectors.select(
        "vec_id",
        F.posexplode(
            F.array(*[rp_bucket("embedding", t, bits) for t in range(N_TABLES)])
        ).alias("tbl", "bucket"),
    )


def rplsh_pairs(
    embeddings: DataFrame, threshold: float = 0.3, bits: int | None = None
) -> DataFrame:
    """ANN candidate pairs: same bucket in ANY of the N_TABLES sign-LSH
    tables (OR-amplification), then exact cosine confirm.

    One 8-bit table catches a cos>=0.3 pair with prob ~(1-θ/π)^8 ≈ 1.6% —
    measured 2.5% recall at sf0.01; eight independent tables measured 14.8%
    at cos>=0.3 (6x), with theoretical collision rates rising steeply for
    stronger pairs (~75% at cos>=0.8, ~93% at cos>=0.9 — the near-dup
    band).

    ``bits=None`` sizes the bucket width to the corpus (one parquet
    metadata-cheap count, then ceil(log2 n)+2 planes — :func:`rplsh_bits`)
    so per-bucket occupancy is ~constant and candidate volume grows
    LINEARLY with n. A FIXED width saturates: measured 90x candidate
    pairs for 10x rows at 8 bits (tools/scale_growth_synth.py) — the
    n^2/2^bits term every fixed-bucket LSH hits. Pass an explicit
    ``bits`` to pin the width (the registered fixture query pins 8 so its
    oracle SQL, rendered at import time, stays static).

    Candidates travel as (table, bucket, vec_id) — ids only, no vectors —
    through the equi-join; the 64-dim embeddings join back ONLY for the
    distinct surviving pairs. Sign-LSH recall at mid-similarity thresholds
    falls as buckets tighten: mid-band retrieval belongs to the IVF path
    (ivf_topk_by_label); this operator is the no-label NEAR-DUP miner
    (near-dup pairs sit at tiny angles, so wider buckets barely dent their
    collision odds — see rplsh_bits)."""
    if bits is None:
        bits = rplsh_bits(embeddings.count())
    # FULL-WIDTH spread (the dedup/text compute-bound class), not the
    # size-adaptive similarity sizing: sign-LSH hashing does 64 interpreted
    # plane-dot folds per row, the self-join recomputes the bucket frame
    # TWICE, and the exact-cosine confirm runs over the (larger-than-n)
    # candidate set — measured min-of-5 at sf0.1: 1.40 s full-width vs
    # 2.13 s at the 512 KiB/task sizing (r12; the same class split that
    # kept dedup_levenshtein at full width).
    base = spread_input(embeddings).select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    buckets = _rplsh_buckets(base, bits)
    # The self-join below computes `buckets` TWICE (plan audit: 2 Generate,
    # 4 FileScan, 0 ReusedExchange). At the 8-bit fixture width the
    # recompute WINS (measured sf0.1: plain 1.44 s vs .cache() 1.65 s — the
    # projection pipelines for free, a cache inserts a materialization
    # barrier). The balance flips when the auto-sizing widens the plane
    # count: at bits=20 over 200k vectors the 160 plane-dots/row dominate
    # and caching the 12-byte/row bucket frame measured 10.5 s vs 14.5 s
    # plain (min-of-2). So: cache exactly when wider than the fixture width.
    if bits > N_PLANES:
        buckets = buckets.cache()
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    if bits > N_PLANES:
        # materialize the (small, ids-only) candidate set eagerly so the
        # bucket cache can be RELEASED here — without this, repeated calls
        # each pin a fresh cached bucket frame in executor storage until
        # something external clears the cache (sampling.py uses the same
        # eager-localCheckpoint pin pattern)
        cand = cand.localCheckpoint(eager=True)
        buckets.unpersist()
    ea = base.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), F.col("nrm").alias("na")
    )
    eb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .where(dot(F.col("va"), F.col("vb")) >= F.lit(threshold) * F.col("na") * F.col("nb"))
        .select("vec_a", "vec_b")
    )

def _rplsh_oracle() -> str:
    buckets = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sql_rp_bucket('embedding', t)} AS bucket FROM base"
        for t in range(N_TABLES)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding, embedding)) AS nrm
      FROM embeddings),
    buckets AS ({buckets}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b
    FROM cand c
    JOIN base x ON x.vec_id = c.vec_a
    JOIN base y ON y.vec_id = c.vec_b
    WHERE list_dot_product(x.embedding, y.embedding) >= 0.3 * x.nrm * y.nrm
    """


@register(
    "sim_ann_rplsh",
    oracle=_rplsh_oracle(),
    doc="Random-hyperplane LSH ANN: 8 independent sign-bucket tables "
    "(OR-amplification), equi-join per table on (table, bucket), exact "
    "cosine confirm on the distinct candidate pairs. Bucket width pinned "
    "to 8 bits here (matching the import-time-rendered oracle at fixture "
    "scale); production sizing auto-scales bits with corpus size "
    "(rplsh_bits) to keep candidate volume linear.",
)
def sim_ann_rplsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rplsh_pairs(load_table(spark, sf_dir, "embeddings"), bits=N_PLANES)


@register(
    "sim_topk_with_metadata",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.embedding, e.embedding)
             / (sqrt(list_dot_product(q.embedding, q.embedding))
                * sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    ),
    topk AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn
        FROM scored
      ) WHERE rn <= 5
    )
    SELECT t.query_id, t.rn, t.neighbor_id, d.lang, d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM topk t JOIN documents d ON d.doc_id = t.neighbor_id
    """,
    doc=(
        "Retrieval join: ANN top-k hits joined back to document metadata — "
        "the hits side is tiny (k x queries), so the metadata join "
        "broadcasts it against the documents table; no extra shuffle."
    ),
)
def sim_topk_with_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    hits = brute_force_topk(em, em.where(F.col("vec_id") < 5), k=5)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return F.broadcast(hits).join(
        docs, hits["neighbor_id"] == docs["doc_id"]
    ).select("query_id", "rn", "neighbor_id", "lang", "source", "n_chars")


@register(
    "sim_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS v
      FROM embeddings),
    s AS (SELECT label, pos,
                 SUM(CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT)) AS sc,
                 COUNT(*) AS n
          FROM ex GROUP BY label, pos)
    SELECT label,
           list((CAST(sc AS DOUBLE) / 10000000) / n ORDER BY pos) AS centroid
    FROM s GROUP BY label
    """,
    doc=(
        "Per-label centroid vectors — the coarse-quantizer training step "
        "behind IVF (each k-means iteration is exactly this: assign, then "
        "recompute centroids). posexplode to (label, dim) cells, exact "
        "integer-scaled sums (1e-7 resolution covers float32 inputs; "
        "plain double sums would drift with partition order), then "
        "re-assemble ordered arrays with array_sort(collect_list(struct)). "
        "Shuffle volume is |labels|x|dims| cells after map-side combine — "
        "independent of row count, so it scales to any corpus size."
    ),
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroids(load_table(spark, sf_dir, "embeddings"))


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean vector -> (label, centroid array<double>).

    r12: the corpus has the module-fixed width (``DIM`` — the same
    contract the rp-LSH hyperplane literals and PQ subspace slices
    assume), so the mean is ONE hash aggregate with per-dimension exact
    integer sums (:func:`_mean_by_cluster`) instead of posexplode to
    (label, pos) cells plus a second aggregation — one exchange of k
    rows, not two over n*dim cells. float->double cast per element is
    exact, so values match the cell path and the oracle bit-for-bit."""
    e = embeddings.select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    return _mean_by_cluster(e, ["label"], "emb", DIM).select("label", "centroid")


# SQL fragment shared by the centroid-consuming oracles below.
_CENTROID_CTE = """
    ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS v
      FROM embeddings),
    cs AS (SELECT label, pos,
                  SUM(CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT)) AS sc,
                  COUNT(*) AS n
           FROM ex GROUP BY label, pos),
    cent AS (SELECT label AS cluster,
                    list((CAST(sc AS DOUBLE) / 10000000) / n ORDER BY pos) AS centroid
             FROM cs GROUP BY label)
"""


@register(
    "sim_ivf_assign",
    oracle=f"""
    WITH {_CENTROID_CTE},
    c2 AS (SELECT cluster, centroid,
                  0.5 * list_dot_product(centroid, centroid) AS half_cnorm
           FROM cent),
    scored AS (
      SELECT e.vec_id, e.label AS own_label, c.cluster,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
               - c.half_cnorm AS score
      FROM embeddings e CROSS JOIN c2 c),
    r AS (SELECT vec_id, own_label, cluster,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY score DESC, cluster) AS rn
          FROM scored)
    SELECT vec_id, own_label, cluster AS assigned_cluster FROM r WHERE rn = 1
    """,
    doc=(
        "IVF/k-means assignment step: each vector to its nearest trained "
        "centroid via argmin L2 == argmax(v.c - |c|^2/2) — centroid norms "
        "precomputed per centroid BEFORE the pair join (recomputing inside "
        "the join predicate measured 4.6x slower on the cosine path). The "
        "centroid table is K rows and broadcasts; the corpus streams "
        "through one narrow pass, so the assign step is shuffle-free and "
        "scales linearly. With sim_label_centroids this is one full "
        "Lloyd's iteration, the IVF index build loop."
    ),
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: per-row argmax against the packed centroid broadcast — the
    # previous form shuffled the n*k crossJoin through a vec_id window
    # (an exchange plus sort of k copies of the corpus); this one carries
    # zero exchanges after the centroid aggregate. Same score fold, same
    # (score DESC, cluster) tiebreak => identical rows.
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    cents = label_centroids(e).select(F.col("label").alias("cluster"), "centroid")
    return e.select(
        "vec_id",
        F.col("label").alias("own_label"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).crossJoin(F.broadcast(_centroid_pack(cents))).select(
        "vec_id",
        "own_label",
        _argmax_cluster(F.col("emb"), F.col("cs")).alias("assigned_cluster"),
    )


@register(
    "sim_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale
      FROM embeddings
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(embedding,
                x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_max,
           CAST(list_min(list_transform(embedding,
                x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_min
    FROM s
    """,
    doc=(
        "Symmetric int8 vector quantization (the embedding-store "
        "compression step: 4x smaller than float32, 8x than float64): "
        "per-vector scale = max|x|/127, elements round(x/scale) in "
        "[-127, 127]. The contract exposes the scale plus exact integer "
        "checksums (sum/max/min) of the quantized vector rather than the "
        "array itself - scalars hash identically cross-engine while array "
        "renderings do not. Implementation trap avoided: the lambda must "
        "not reference the row-level `scale` column directly, or "
        "CollapseProject inlines the array_max reduction into EVERY "
        "element (64x recompute); zip_with against array_repeat(scale, d) "
        "evaluates scale once per row. Fully narrow - zero shuffles, "
        "zero Python."
    ),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dim = 64  # embeddings table is fixed 64-dim (TESTDATA.md)
    emb = F.col("embedding").cast("array<double>")
    scale = (F.array_max(F.transform(emb, lambda x: F.abs(x))) / F.lit(127.0)).alias(
        "scale"
    )
    with_scale = e.select("vec_id", emb.alias("emb"), scale)
    q = F.zip_with(
        F.col("emb"),
        F.array_repeat(F.col("scale"), dim),
        lambda x, s: F.round(x / s).cast("bigint"),
    )
    return with_scale.select(
        "vec_id",
        "scale",
        F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias("q_sum"),
        F.array_max(q).alias("q_max"),
        F.array_min(q).alias("q_min"),
    )


def _centroid_pack(cents: DataFrame) -> DataFrame:
    """ONE-row frame packing every centroid into an array of
    ``(cluster, centroid, half_cnorm)`` structs (cluster-ascending).

    This is the broadcast operand of the shuffle-free assign (r12, guide
    §2.4): instead of ``crossJoin(broadcast(k rows))`` multiplying the
    corpus k-fold and collapsing it back through a ``groupBy(vec_id)``
    hash EXCHANGE, the single array row broadcasts and each corpus row
    computes its argmax locally — the assign stage carries zero
    exchanges and materializes no (row, centroid) pairs. half-norms are
    precomputed here exactly as the old ``c2`` projection did, so every
    double that reaches a comparison is bit-identical to the unrolled
    DuckDB oracle."""
    mul = lambda a, b: a * b  # noqa: E731
    add = lambda acc, x: acc + x  # noqa: E731
    return cents.select(
        F.struct(
            F.col("cluster"),
            F.col("centroid"),
            (
                F.lit(0.5)
                * F.aggregate(F.zip_with("centroid", "centroid", mul), F.lit(0.0), add)
            ).alias("half_cnorm"),
        ).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("cs"))


def _pack_local(spark: SparkSession, rows) -> DataFrame:
    """Driver-side packed-centroid frame from centroid rows that already
    carry ``half_cnorm`` (bit-identical to the canonical ``0.5 * dot``
    Spark expression): the one-slice local equivalent of
    :func:`_centroid_pack`, broadcast by
    :func:`_ivf_probes` for a :class:`Centroids`."""
    from pyspark.sql import types as T

    st = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("centroid", T.ArrayType(T.DoubleType())),
            T.StructField("half_cnorm", T.DoubleType()),
        ]
    )
    packed = sorted(
        ((int(r["cluster"]), list(r["centroid"]), float(r["half_cnorm"])) for r in rows),
        key=lambda t: t[0],
    )
    return _local_df(
        spark, [(packed,)], T.StructType([T.StructField("cs", T.ArrayType(st))])
    )


@dataclass(frozen=True, eq=False)
class Centroids:
    """Trained centroids held driver-side: the k rows ``(cluster,
    centroid, n_members, half_cnorm)`` or, with ``m``, the k x M_SUB PQ
    codebook rows ``(m, cluster, c_sub, half_cnorm)``. Half-norms equal
    the canonical ``0.5 * dot`` Spark expression bit for bit — the
    trainers fold them sequentially (:func:`_half_norms`),
    :meth:`from_frame` collects them from that expression — and doubles
    round-trip Spark exactly.

    :func:`kmeans_train` and :func:`pq_train_codebooks` return one, and
    assign/encode pick their implementation by argument type: a
    ``Centroids`` runs the bit-exact Arrow kernels
    (:func:`_seq_assign_kernel` / :func:`_seq_pq_kernel`); a DataFrame —
    a persisted index read back with ``spark.read.parquet`` — keeps the
    in-plan fold (:func:`_centroid_pack` / :func:`_codebook_pack` +
    :func:`_argmax_cluster`), so serving plans retain the index
    ``FileScan`` (asserted in tests/test_plans.py)."""

    rows: tuple
    spark: SparkSession
    m: bool = False

    @classmethod
    def from_frame(cls, df: DataFrame) -> "Centroids":
        """Collect a persisted ``(cluster, n_members, centroid)`` frame
        once — the init-once hoist for serving loops whose centroids stay
        frozen (one k-row collect per stream run instead of a parquet
        re-read and pack aggregate per micro-batch)."""
        half = (F.lit(0.5) * dot(F.col("centroid"), F.col("centroid"))).alias(
            "half_cnorm"
        )
        rows = df.select("cluster", "centroid", "n_members", half).collect()
        return cls(tuple(rows), df.sparkSession)

    @cached_property
    def df(self) -> DataFrame:
        """The rows as a frame in the trainings' output schema, for
        callers that write or join it."""
        if self.m:
            return _local_df(
                self.spark,
                [(r["m"], r["cluster"], r["c_sub"], r["half_cnorm"]) for r in self.rows],
                "m int, cluster int, c_sub array<double>, half_n double",
            )
        return _local_df(
            self.spark,
            [(r["cluster"], r["n_members"], r["centroid"]) for r in self.rows],
            "cluster int, n_members bigint, centroid array<double>",
        )

    @cached_property
    def bc(self):
        """The kernels' numpy operand as ONE broadcast owned by this value
        (driver-local, launches no job); Spark's ContextCleaner reclaims
        it once the value is garbage."""
        return self.spark.sparkContext.broadcast(
            _rows_np_m(self.rows) if self.m else _rows_np(self.rows, "centroid")
        )


def _frame(cents: Centroids | DataFrame) -> DataFrame:
    """The centroid/codebook rows as a frame, whichever form they came in."""
    return cents.df if isinstance(cents, Centroids) else cents


def _local_df(spark: SparkSession, data, schema) -> DataFrame:
    """Single-partition driver-local frame. ``spark.createDataFrame(list)``
    parallelizes to ``defaultParallelism`` slices, so BROADCASTING such a
    frame runs a 32-task job over mostly-empty partitions — measured
    0.25 s per broadcast at local[32]. One slice makes it a 1-task job."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema
    )


# --- bit-exact vectorized assign/encode kernels -----------------------------
#
# The per-row score of every assign/encode pass is the SEQUENTIAL
# double fold ``((0.0 + e0*c0) + e1*c1) + ...`` minus the precomputed
# half-norm — the expression the DuckDB oracles unroll. The native
# Catalyst evaluation of that fold is an interpreted CodegenFallback
# higher-order function (measured ~0.4 s per training round over 2 000
# rows at k=45; unrolling it into codegen-able Adds was measured and
# REJECTED: Spark's codegen emits ~1 KB of Java per multiply-add term,
# and janino compiling the k x dim unroll OOMs multi-GB driver heaps).
# ``np.add.accumulate`` is numpy's guaranteed-sequential fold, so the
# same arithmetic vectorizes over an Arrow batch at C speed while
# producing BIT-IDENTICAL doubles:
#
# - products ``E * C[j]`` are the same IEEE multiplies;
# - ``np.add.accumulate(..., axis=1)[:, -1]`` adds them left-to-right —
#   the fold order — and the trailing ``+ 0.0`` collapses the one
#   representable difference vs Catalyst's 0.0-seeded fold (an
#   all-(-0.0) chain yields -0.0 where the seeded fold yields +0.0;
#   ``x + 0.0`` maps -0.0 to +0.0 and is exact for every other x);
# - argmax keeps the first maximum over cluster-ascending ids — exactly
#   ``max_by(cluster, (score, -cluster))``'s smaller-id tiebreak.
#
# Half-norms are never recomputed in a kernel: they ride in with the
# centroid rows, folded the same way by the trainers (:func:`_half_norms`).


def _rows_np(rows, key: str):
    """(ids, C, half) numpy views of collected centroid rows
    (cluster-ascending), the centroid vectors read from column ``key``.
    Collected doubles round-trip exactly. No rows (an empty corpus
    trains none) give empty arrays: the kernels then see no batch."""
    import numpy as np

    srt = sorted(rows, key=lambda r: int(r["cluster"]))
    ids = np.array([int(r["cluster"]) for r in srt], dtype=np.int64)
    C = np.array([list(r[key]) for r in srt], dtype=np.float64)
    half = np.array([float(r["half_cnorm"]) for r in srt], dtype=np.float64)
    return ids, C, half


def _rows_np_m(rows):
    """Per-subspace (ids, C, half) dict from collected codebook rows."""
    by_m: dict[int, list] = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), []).append(r)
    return {m: _rows_np(rs, "c_sub") for m, rs in sorted(by_m.items())}


def _seq_scores_best(E, ids, C, half):
    """First-max argmax of the sequential-fold scores: returns the
    winning cluster id per row of ``E``. O(n) memory — one running best,
    never an (n, k) score matrix, so k at the SEM_MAX_K clamp streams.
    NaN scores (possible only from non-finite inputs) follow Catalyst's
    total ordering — NaN compares GREATER than every double — so a NaN
    score beats any finite best and the first (smallest-id) NaN wins,
    exactly like the struct-ordering argmax it replaces."""
    import numpy as np

    best_s = None
    best_j = None
    for j in range(len(ids)):
        s = np.add.accumulate(E * C[j], axis=1)[:, -1] + 0.0 - half[j]
        if best_s is None:
            best_s = s
            best_j = np.zeros(len(s), dtype=np.int64)
        else:
            m = (s > best_s) | (np.isnan(s) & ~np.isnan(best_s))
            np.copyto(best_s, s, where=m)
            best_j[m] = j
    return ids[best_j]


def _seq_nrm(E):
    """sqrt of the sequential-fold self-dot — bit-identical to
    ``F.sqrt(dot(emb, emb))`` (squares are never -0.0, sqrt is a single
    correctly-rounded IEEE op)."""
    import numpy as np

    return np.sqrt(np.add.accumulate(E * E, axis=1)[:, -1])


def _seq_assign_kernel(
    e: DataFrame, cents: Centroids, with_nrm: bool = False
) -> DataFrame:
    """Arrow-batched assign against a :class:`Centroids`: (vec_id,
    cluster, emb[, nrm]) with values bit-identical to the in-plan argmax
    fold (see the block comment above). The centroid matrix ships as the
    value's broadcast (driver-local, launches no job), k is
    broadcast-clamped as ever (SEM_MAX_K), and the corpus stays
    distributed."""
    bc = cents.bc

    def fn(batches):
        import numpy as np
        import pandas as pd

        ids, C, half = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["emb"].to_numpy())
            out = {
                "vec_id": pdf["vec_id"],
                "cluster": _seq_scores_best(E, ids, C, half).astype("int32"),
                "emb": pdf["emb"],
            }
            if with_nrm:
                out["nrm"] = _seq_nrm(E)
            yield pd.DataFrame(out)

    schema = "vec_id bigint, cluster int, emb array<double>"
    if with_nrm:
        schema += ", nrm double"
    return e.select("vec_id", "emb").mapInPandas(fn, schema)


def _seq_pq_kernel(
    embeddings: DataFrame,
    cb: Centroids,
    coarse: Centroids | None = None,
) -> DataFrame:
    """Arrow-batched per-subspace encode against a codebook
    :class:`Centroids`; slices each vector into its M_SUB contiguous
    subspaces in the kernel (no posexplode, no per-m pack join) and
    computes the per-subspace argmax with the same sequential fold.

    Emits (vec_id, m, code) — the pq_encode shape. With ``coarse`` the
    COARSE argmax is fused into the same pass (the inverted-list build):
    (vec_id, cluster, m, code)."""
    bc_m = cb.bc
    bc_c = None if coarse is None else coarse.bc
    emb = F.col("embedding").cast("array<double>").alias("emb") \
        if "emb" not in embeddings.columns else F.col("emb")
    src = embeddings.select("vec_id", emb)

    def fn(batches):
        import numpy as np
        import pandas as pd

        per_m = bc_m.value
        coarse_np = None if bc_c is None else bc_c.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["emb"].to_numpy())
            n = E.shape[0]
            parts = []
            cl = (
                _seq_scores_best(E, *coarse_np).astype("int32")
                if coarse_np is not None
                else None
            )
            for m, (ids, C, half) in per_m.items():
                Em = E[:, m * SUB_DIM : (m + 1) * SUB_DIM]
                out = {"vec_id": pdf["vec_id"]}
                if cl is not None:
                    out["cluster"] = cl
                out["m"] = np.full(n, m, dtype="int32")
                out["code"] = _seq_scores_best(Em, ids, C, half).astype("int32")
                parts.append(pd.DataFrame(out))
            yield pd.concat(parts)

    if coarse is not None:
        schema = "vec_id bigint, cluster int, m int, code int"
    else:
        schema = "vec_id bigint, m int, code int"
    return src.mapInPandas(fn, schema)


def _codebook_pack(cb: DataFrame) -> DataFrame:
    """(m, cs): per-subspace packed codeword arrays — the M_SUB-row
    broadcast operand of the shuffle-free subspace argmax (the codebook
    sibling of :func:`_centroid_pack`). Accepts the in-loop codebook
    shape (m, cluster, c_sub); half-norms are recomputed here with the
    same ``0.5 * dot(c_sub, c_sub)`` expression the join form used."""
    return (
        cb.select(
            "m",
            F.struct(
                F.col("cluster"),
                F.col("c_sub").alias("centroid"),
                (F.lit(0.5) * dot(F.col("c_sub"), F.col("c_sub"))).alias(
                    "half_cnorm"
                ),
            ).alias("c"),
        )
        .groupBy("m")
        .agg(F.array_sort(F.collect_list("c")).alias("cs"))
    )


#: session-keyed memo for the Column trees below — building a
#: higher-order-function expression costs ~15 ms of py4j per lambda, and
#: the training loops + eager query constructions were rebuilding the
#: same trees dozens of times per leg (a measured ~2 s of the
#: construction wall on sim_ann_ivf_pq). Unresolved Columns are plain
#: expression trees, reusable across DataFrames; keyed by applicationId
#: so a restarted context never sees another context's objects.
_EXPR_CACHE: dict[tuple, object] = {}


def _session_memo(suffix: tuple, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = (sc.applicationId if sc is not None else None,) + suffix
    v = _EXPR_CACHE.get(key)
    if v is None:
        v = build()
        _EXPR_CACHE[key] = v
        if len(_EXPR_CACHE) > 128:  # drop entries from dead contexts
            for k in [k for k in _EXPR_CACHE if k[0] != key[0]]:
                del _EXPR_CACHE[k]
    return v


def _argmax_cluster(emb_col: Column, cs_col: Column) -> Column:
    """``max_by(cluster, (score, -cluster))`` over a packed centroid
    array, evaluated per row: score = dot(emb, centroid) - half_cnorm
    with the same sequential zip_with/aggregate fold as the join form,
    tiebreak toward the smaller cluster id via the -cluster struct
    field. ``array_max`` on ``struct(score, -cluster, cluster)`` compares
    fields left-to-right — exactly the ordering ``max_by`` used.
    Memoized per session on the operand expression strings (the tree is a
    pure function of its operands)."""

    def build() -> Column:
        mul = lambda a, b: a * b  # noqa: E731
        add = lambda acc, x: acc + x  # noqa: E731
        return F.array_max(
            F.transform(
                cs_col,
                lambda c: F.struct(
                    (
                        F.aggregate(
                            F.zip_with(emb_col, c["centroid"], mul), F.lit(0.0), add
                        )
                        - c["half_cnorm"]
                    ).alias("score"),
                    (-c["cluster"]).alias("neg_cluster"),
                    c["cluster"].alias("cluster"),
                ),
            )
        )["cluster"]

    return _session_memo(("argmax", str(emb_col), str(cs_col)), build)


def _mean_by_cluster(
    assigned: DataFrame, keys: list[str], emb_col: str, dim: int
) -> DataFrame:
    """Exact per-key mean vectors in ONE hash aggregate (used by
    :func:`label_centroids`): with a fixed embedding width the
    per-dimension sums become ``dim`` ordinary ``sum`` columns keyed on
    the group — partial (map-side) aggregation collapses each task to k
    rows before the single exchange. Arithmetic: exact 1e-7-scaled
    integer sums per dimension (order-independent), divided by the
    member count — the oracle's, and the trainers' (:func:`_lloyd`). The
    ~2*dim Column builds are memoized per session (pure function of
    (emb_col, dim))."""
    sums, centroid = _session_memo(
        ("meanexprs", emb_col, dim),
        lambda: (
            [
                F.sum(F.round(F.col(emb_col)[d] * 1e7).cast("bigint")).alias(f"_s{d}")
                for d in range(dim)
            ],
            F.array(
                *[
                    (F.col(f"_s{d}").cast("double") / F.lit(1e7))
                    / F.col("n_members")
                    for d in range(dim)
                ]
            ).alias("centroid"),
        ),
    )
    out = assigned.groupBy(*keys).agg(*sums, F.count("*").alias("n_members"))
    return out.select(*keys, centroid, "n_members")


#: Ceiling on auto-sized k. The assign kernels ship all k centroids to
#: every task in one broadcast and score O(n * k) dot products, so k must
#: stay broadcast-sized: 2^16 centroids x 64 dims x 8 B ~ 34 MB. Past it
#: the coarse quantizer itself should move to a hierarchical/IVF build
#: (out of scope, noted).
SEM_MAX_K = 65536

#: Rows the k-means and PQ trainers learn from: the first
#: ``min(n, TRAIN_SAMPLE_ROWS)`` vectors ranked by ``(hash60(vec_id,
#: "km"), vec_id)``, fetched to the driver once (:func:`train_sample`).
#: Equal to SEM_MAX_K, so every seed a clamped k asks for is in the
#: sample; 65,536 x 64 doubles is 32 MiB, and the integer image as much
#: again. FAISS ("Billion-scale similarity search with GPUs") likewise
#: trains on a bounded sample.
TRAIN_SAMPLE_ROWS = SEM_MAX_K
#: FAISS's minimum training points per centroid; below it a training
#: logs one warning.
MIN_POINTS_PER_CENTROID = 39


@dataclass(frozen=True, eq=False)
class TrainSample:
    """The trainers' one collected sample, in ``(hash60(vec_id, "km"),
    vec_id)`` order: ``emb`` holds the vectors as doubles, ``image``
    Spark's own ``round(v * 1e7)`` bigint of every component (the exact
    integers the centroid sums add up; a NaN component images to NULL,
    which a SQL sum skips, so it is stored as 0), and ``pq_key`` the
    ``hash60(vec_id, "pq")`` rank key of the codebook seeds."""

    spark: SparkSession
    vec_id: object  # numpy int64 (S,)
    emb: object  # numpy float64 (S, dim)
    image: object  # numpy int64 (S, dim)
    pq_key: object  # numpy int64 (S,)


def train_sample(embeddings: DataFrame) -> TrainSample:
    """Fetch the training sample in ONE query: top-``TRAIN_SAMPLE_ROWS``
    by ``(hash60(vec_id, "km"), vec_id)``, returned as one Arrow table.
    The integer image is computed by Spark with the expression the
    oracles' centroid sums use, so no driver-side rounding enters."""
    import numpy as np

    emb = F.col("embedding").cast("array<double>")
    vid = F.col("vec_id").cast("string")
    tbl = (
        embeddings.select(
            "vec_id",
            emb.alias("emb"),
            F.transform(
                emb, lambda v: F.when(~F.isnan(v), F.round(v * 1e7).cast("bigint"))
            ).alias("image"),
            hash60(vid, seed="pq").alias("pq_key"),
            hash60(vid, seed="km").alias("km_key"),
        )
        .orderBy("km_key", "vec_id")
        .limit(TRAIN_SAMPLE_ROWS)
        .toArrow()
    )
    n = tbl.num_rows

    def matrix(name, dtype):
        flat = tbl.column(name).combine_chunks().flatten().fill_null(0).to_numpy()
        return flat.astype(dtype).reshape(n, len(flat) // n if n else DIM)

    return TrainSample(
        embeddings.sparkSession,
        tbl.column("vec_id").to_numpy().astype(np.int64),
        matrix("emb", np.float64),
        matrix("image", np.int64),
        tbl.column("pq_key").to_numpy().astype(np.int64),
    )


def _half_norms(C):
    """``0.5 * dot(c, c)`` per row with the kernels' sequential fold —
    bit-identical to the canonical Spark expression (see the kernel block
    comment)."""
    import numpy as np

    return 0.5 * (np.add.accumulate(C * C, axis=1)[:, -1] + 0.0)


def _lloyd(E, image, seeds, n_iters: int):
    """Driver-side Lloyd's rounds over sample rows ``E`` (doubles) and
    ``image`` (their bigint ``round(v * 1e7)``), seeded with the row
    indices ``seeds`` as clusters ``0..len(seeds)-1``. Assign is
    :func:`_seq_scores_best`; recompute is the exact int64 sum of the
    image per cluster, then ``(sum / 1e7) / n`` in doubles — the
    arithmetic of the oracles' ``tc{i}``. A cluster left with no members
    drops out and the survivors keep their ids. Returns ``(ids, C,
    counts)``; ``counts`` is None when no round ran."""
    import numpy as np

    ids = np.arange(len(seeds), dtype=np.int64)
    C = E[seeds]
    counts = None
    for _ in range(n_iters):
        if len(ids) == 0:
            break
        label = _seq_scores_best(E, ids, C, _half_norms(C))
        order = np.argsort(label, kind="stable")
        ids, starts, counts = np.unique(
            label[order], return_index=True, return_counts=True
        )
        sums = np.add.reduceat(image[order], starts, axis=0)
        C = (sums.astype(np.float64) / 1e7) / counts.astype(np.float64)[:, None]
    return ids, C, counts


def _warn_small_sample(trainer: str, s: TrainSample, k: int) -> None:
    if len(s.vec_id) < MIN_POINTS_PER_CENTROID * k:
        log.warning(
            "%s: %d training vectors for k=%d, fewer than %d per centroid",
            trainer, len(s.vec_id), k, MIN_POINTS_PER_CENTROID,
        )


def kmeans_train(
    embeddings: DataFrame | TrainSample, k: int = 4, n_iters: int = 3
) -> Centroids:
    """Deterministic Lloyd's k-means over an embedding column; returns the
    trained :class:`Centroids` (its ``df`` is ``(cluster, n_members,
    centroid)``).

    Training reads one bounded sample (:func:`train_sample`, or a
    :class:`TrainSample` a caller already fetched for a second training):
    one Spark query, then every round runs on the driver in numpy. Seeds
    are the first ``k`` sample rows — the hash60(vec_id, "km") ranking —
    and each round assigns with the kernels' sequential fold and
    recomputes from exact integer sums (:func:`_lloyd`). Centroids and
    half-norms therefore equal what the unrolled DuckDB oracle
    (:func:`_kmeans_cte_parts`) computes over the same sample, bit for
    bit. The full corpus is assigned only afterwards, by the distributed
    Arrow kernel (:func:`kmeans_assign`). An empty corpus trains no rows
    and returns an empty value."""
    import numpy as np
    from pyspark.sql import Row

    s = embeddings if isinstance(embeddings, TrainSample) else train_sample(embeddings)
    _warn_small_sample("kmeans_train", s, k)
    ids, C, counts = _lloyd(s.emb, s.image, np.arange(min(k, len(s.vec_id))), n_iters)
    members = [None] * len(ids) if counts is None else counts.tolist()
    rows = tuple(
        Row(cluster=c, centroid=v, n_members=n, half_cnorm=h)
        for c, v, n, h in zip(
            ids.tolist(), C.tolist(), members, _half_norms(C).tolist()
        )
    )
    return Centroids(rows, s.spark)


def _sample_cte(name: str, src: str, cols: str) -> str:
    """``name``: the first ``TRAIN_SAMPLE_ROWS`` rows of ``src`` by
    ``(hash60(vec_id, "km"), vec_id)`` with their rank ``rn`` — the
    SQL form of :func:`train_sample`'s query."""
    h = sql_hash60("CAST(vec_id AS VARCHAR)", seed="km")
    return f"""{name} AS (
      SELECT * FROM (
        SELECT {cols}, row_number() OVER (ORDER BY {h}, vec_id) AS rn
        FROM {src}) WHERE rn <= {TRAIN_SAMPLE_ROWS})"""


def _kmeans_cte_parts(
    k: int | str = 4, n_iters: int = 3, src: str = "embeddings"
) -> tuple[list[str], str]:
    """The UNROLLED full-vector Lloyd's loop of :func:`kmeans_train` as
    DuckDB CTE fragments — returns ``(parts, final_centroid_cte_name)`` so
    both the training oracle and downstream consumers (cluster-scoped
    semantic dedup) can extend the chain. ``k`` may be an int literal or a
    SQL scalar-subquery string (the corpus-adaptive sizing of
    ``_semantic_k_sql`` — it only ever appears as the seed cutoff
    ``rn <= k``). Same technique as ``_pq_trained_cb_cte``: md5-ranked
    init, exact integer-scaled centroid sums, smaller-cluster argmax
    tiebreak make every round bit-reproducible in both engines. The
    rounds read ``sample`` — the engine's training sample, the first
    ``TRAIN_SAMPLE_ROWS`` of the same ranking — while ``e`` stays the
    whole corpus for the consumers' assignment CTEs."""
    parts = [
        f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM {src}),
    {_sample_cte("sample", "e", "vec_id, emb")},
    tc0 AS (
      SELECT rn - 1 AS cluster, emb AS centroid FROM sample WHERE rn <= {k})"""
    ]
    prev = "tc0"
    for i in range(1, n_iters + 1):
        parts.append(
            f"""sc{i} AS (
      SELECT e.vec_id, c.cluster,
             list_dot_product(e.emb, c.centroid)
               - 0.5 * list_dot_product(c.centroid, c.centroid) AS score
      FROM sample e CROSS JOIN {prev} c),
    asg{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cluster) AS rn
        FROM sc{i}) WHERE rn = 1),
    cell{i} AS (
      SELECT a.cluster, generate_subscripts(e.emb, 1) AS pos,
             unnest(e.emb) AS v
      FROM asg{i} a JOIN sample e ON e.vec_id = a.vec_id),
    agg{i} AS (
      SELECT cluster, pos,
             SUM(CAST(round(v * 10000000) AS BIGINT)) AS sc, COUNT(*) AS n
      FROM cell{i} GROUP BY cluster, pos),
    tc{i} AS (
      SELECT cluster,
             list((CAST(sc AS DOUBLE) / 10000000) / n ORDER BY pos) AS centroid
      FROM agg{i} GROUP BY cluster)"""
        )
        prev = f"tc{i}"
    return parts, prev


def _kmeans_oracle(k: int = 4, n_iters: int = 3) -> str:
    """Training oracle for sim_kmeans_train (the unrolled loop, which moves
    it OUT of the rows-only class: the full iterative training result is
    value-hash-checked)."""
    parts, prev = _kmeans_cte_parts(k, n_iters)
    parts.append(
        f"""nm AS (SELECT cluster, COUNT(*) AS n_members
           FROM asg{n_iters} GROUP BY cluster)"""
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT t.cluster, nm.n_members, t.centroid
    FROM {prev} t JOIN nm ON nm.cluster = t.cluster
    """


@register(
    "sim_kmeans_train",
    oracle=_kmeans_oracle(),
    doc=(
        "Full Lloyd's k-means training loop (k=4, 3 iterations) over the "
        "embeddings table — the IVF coarse-quantizer BUILD. One Spark "
        "query fetches a bounded training sample (the first "
        "TRAIN_SAMPLE_ROWS = 65,536 vectors by hash60(vec_id), with "
        "Spark's round(v * 1e7) integer image of each), and every "
        "round then runs on the driver: the sequential-fold assign of "
        "the Arrow kernels and exact integer-sum centroid recomputes. "
        "The whole ITERATIVE loop is value-hash-checked: the "
        "deterministic rounds unroll into a DuckDB CTE chain "
        "(_kmeans_oracle) over the same sample."
    ),
)
def sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_train(
        load_table(spark, sf_dir, "embeddings"), k=4, n_iters=3
    ).df


# ---------------------------------------------------------------------------
# Cluster-scoped semantic dedup (SemDeDup shape)
# ---------------------------------------------------------------------------


#: Target within-cluster membership for semantic dedup. With k sized to
#: n/64 the within-cluster pair term is sum(n_i^2) ~ n * 64 — LINEAR in
#: corpus size — while a FIXED k leaves it at n^2/k (the same saturation
#: class as fixed minhash bands (r2) and fixed RP-LSH bits (r4), both
#: found only when probed). 64 keeps each cluster's all-pairs block
#: (~2k candidate pairs) far below one AQE-splittable task.
SEM_TARGET_CLUSTER_SIZE = 64


def semantic_k(n_rows: int) -> int:
    """Corpus-sized cluster count for semantic dedup — the ``rplsh_bits``
    rule shape: ceil(n / SEM_TARGET_CLUSTER_SIZE), floored at 4 (the
    fixture width) and clamped to [1, min(n, SEM_MAX_K)] so tiny corpora
    never ask for more seeds than vectors and huge ones never outgrow the
    assign kernel's centroid broadcast."""
    import math

    return max(1, min(max(4, math.ceil(n_rows / SEM_TARGET_CLUSTER_SIZE)),
                      n_rows, SEM_MAX_K))


def _semantic_k_sql(src: str = "embeddings") -> str:
    """The IDENTICAL sizing rule as a DuckDB scalar subquery, so the
    import-time-rendered oracle stays corpus-adaptive: both engines
    compute k from the same count at run time."""
    return (
        "(SELECT GREATEST(1, LEAST(GREATEST(4, "
        f"CAST(ceil(COUNT(*) / {SEM_TARGET_CLUSTER_SIZE}.0) AS BIGINT)), "
        f"COUNT(*), {SEM_MAX_K})) FROM {src})"
    )


def kmeans_assign(
    embeddings: DataFrame, cents: Centroids | DataFrame
) -> DataFrame:
    """One shuffle-free assign pass against trained centroids: each
    vector computes its argmax locally, so the pass carries ZERO
    exchanges. Returns ``(vec_id, cluster, emb, nrm)``. Cost is O(n * k)
    dot products; k is bounded by the broadcast clamp (SEM_MAX_K).

    A :class:`Centroids` runs the bit-exact Arrow kernel; a DataFrame (a
    persisted index) broadcasts its in-plan pack as one array row and
    folds per row, so the plan keeps the index FileScan. Both give the
    same clusters and norms, bit for bit."""
    e = _spread(embeddings).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    if isinstance(cents, Centroids):
        return _seq_assign_kernel(e, cents, with_nrm=True)
    return (
        e.crossJoin(F.broadcast(_centroid_pack(cents)))
        .select(
            "vec_id",
            _argmax_cluster(F.col("emb"), F.col("cs")).alias("cluster"),
            "emb",
        )
        .withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = None,
    n_iters: int = 2,
    threshold: float = 0.35,
) -> DataFrame:
    """Unsupervised semantic dedup, the SemDeDup shape (Abbas et al.,
    arXiv:2303.09540): k-means clusters the embedding space, exact cosine
    pairs are computed ONLY within each cluster, and the higher id of any
    above-threshold pair is dropped. Returns one row per vector —
    ``(vec_id, cluster, keep)``.

    This is the label-free sibling of dedup_embedding_cosine (which blocks
    on a supervised ``label`` column): the blocking key is LEARNED, so it
    works on raw crawl embeddings with no metadata. Cross-cluster pairs
    are missed by design — that is the approximation SemDeDup trades for
    tractability, and the oracle applies the identical restriction.

    Scale: the all-pairs term falls from n^2 to sum(n_i^2), but ONLY if k
    grows with the corpus — ``k=None`` (the default and the registered
    query's mode) sizes it ceil(n/64) from one metadata-cheap count
    (:func:`semantic_k`), keeping expected membership ~64 and candidate
    pairs LINEAR in n (measured 1x/10x/100x, tools/scale_growth_semantic
    .py; a fixed k=4 measured quadratic for contrast — SCALE.md). The
    paper runs k in the tens of thousands for billions of docs, the same
    n/target rule. Training is sim_kmeans_train's (one bounded sample
    fetch, then driver-side rounds), and the pair join is a plain
    equi-join on cluster (no cartesian, no all-corpus shuffle of
    anything wider than (vec_id, cluster, emb))."""
    # r12: pin the spread corpus for this call's duration (working set;
    # recomputed every invocation) — the training sample fetch, the
    # assign pass and both pair-join sides otherwise each replay the
    # scan + spread repartition. The sizing count() doubles as the
    # materialization action.
    embeddings = _pin(embeddings)
    if k is None:
        k = semantic_k(embeddings.count())
    cents = kmeans_train(embeddings, k=k, n_iters=n_iters)
    assigned = (
        kmeans_assign(embeddings, cents)
        # assignment appears THREE times downstream (both pair-join sides
        # + the final keep join); without this the k-row-broadcast assign
        # pass re-runs per copy — measured 14.0 -> 4.5 s warm at sf0.1/k=32
        .localCheckpoint()
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    dup_ids = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            dot(F.col("a.emb"), F.col("b.emb"))
            >= F.lit(threshold) * F.col("a.nrm") * F.col("b.nrm")
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assigned.join(dup_ids, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
        )
    )


def _semantic_dedup_oracle(
    k: int | str | None = None, n_iters: int = 2, threshold: float = 0.35
) -> str:
    """Extends the unrolled-Lloyd's CTE chain with a FINAL assignment
    round against the trained centroids, the within-cluster pair join,
    and the keep decision — the whole unsupervised pipeline value-checked.
    ``k=None`` renders the corpus-adaptive sizing rule
    (:func:`_semantic_k_sql`) into the seed CTE, mirroring the Spark
    side's ``semantic_k`` count-then-clamp exactly."""
    parts, prev = _kmeans_cte_parts(_semantic_k_sql() if k is None else k, n_iters)
    body = ",\n    ".join(parts)
    return f"""
    WITH {body},
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scf AS (
      SELECT e.vec_id, c.cluster,
             list_dot_product(e.emb, c.centroid)
               - 0.5 * list_dot_product(c.centroid, c.centroid) AS score
      FROM e CROSS JOIN {prev} c),
    asgf AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cluster) AS rn
        FROM scf) WHERE rn = 1),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM asgf a JOIN asgf b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN base x ON x.vec_id = a.vec_id
      JOIN base y ON y.vec_id = b.vec_id
      WHERE list_dot_product(x.emb, y.emb) >= {threshold} * x.nrm * y.nrm)
    SELECT g.vec_id, g.cluster, (d.vec_id IS NULL) AS keep
    FROM asgf g LEFT JOIN dups d ON d.vec_id = g.vec_id
    """


@register(
    "dedup_semantic_clustered",
    oracle=_semantic_dedup_oracle(),
    doc=(
        "SemDeDup-shape semantic dedup: k-means LEARNS the blocking key "
        "(no label column needed), exact cosine runs only WITHIN each "
        "cluster, and the higher id of any >=0.35 pair is dropped — one "
        "(vec_id, cluster, keep) row per vector. k is AUTO-SIZED from the "
        "corpus (semantic_k: ceil(n/64) from one metadata-cheap count — "
        "the rplsh_bits rule shape), so expected membership stays ~64 and "
        "the within-cluster pair term is LINEAR in n; the oracle embeds "
        "the identical rule as a scalar subquery, so both engines derive "
        "the same k at any sf. Candidate growth measured 1x/10x/100x "
        "(tools/scale_growth_semantic.py, SCALE.md) with the fixed-k "
        "quadratic pathology measured for contrast. The oracle unrolls "
        "the deterministic Lloyd's rounds into DuckDB CTEs and applies "
        "the identical cluster restriction, so the WHOLE pipeline — "
        "sizing, training, assignment, pairing, keep decision — is "
        "value-hash-checked."
    ),
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# --- incremental semantic dedup: day-2 of the SemDeDup story ---------------

#: batch split for the incremental semantic gate (fixture convention of
#: dedup.INCR_SPLIT / PQ_APPEND_SPLIT): vectors below are "yesterday's
#: corpus" (centroids trained + assignment index persisted at build time);
#: vectors at or above arrive as today's batch
SEM_APPEND_SPLIT = 400


def build_semantic_index(old_corpus: DataFrame, path: str, n_iters: int = 2) -> None:
    """Materialize the semantic-dedup state: ``<path>/centroids`` (the
    k-row trained coarse quantizer, k auto-sized from the OLD corpus via
    :func:`semantic_k`) and ``<path>/assign`` (vec_id, cluster, emb, nrm —
    every old vector's frozen cluster assignment, carrying the embedding
    so the day-2 pair confirm needs no corpus join-back). Training reads
    the old corpus exactly once, here."""
    k = semantic_k(old_corpus.count())
    cents = kmeans_train(old_corpus, k=k, n_iters=n_iters)
    cents.df.write.mode("overwrite").parquet(f"{path}/centroids")
    kmeans_assign(old_corpus, cents).write.mode("overwrite").parquet(
        f"{path}/assign"
    )


def semantic_append_pairs(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.35,
) -> DataFrame:
    """Semantic near-dup pairs INVOLVING the new batch only — the
    SemDeDup member of the day-2 dedup family (exact/MinHash/SimHash:
    dedup_incremental_*). The batch assigns against FROZEN centroids (one
    broadcast pass — NO retraining, standard coarse-quantizer practice:
    centroids are corpus-distribution statistics, valid under drift-free
    growth; retrain on schedule, not per batch), then pairs only against
    index rows + batch rows sharing its clusters. The batch side
    broadcasts, so the persisted assignment index streams map-side and
    never shuffles; per-day cost is O(|batch| * k) assign work + an index
    scan. Output = cluster-scoped cosine pairs whose HIGHER id is in the
    batch (new-vs-old plus new-vs-new)."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    b_assigned = kmeans_assign(batch, cents)
    idx = spark.read.parquet(f"{index_path}/assign")
    return _cluster_scoped_pairs(idx, b_assigned, threshold)


def _cluster_scoped_pairs(
    idx: DataFrame, b_assigned: DataFrame, threshold: float
) -> DataFrame:
    """The cluster-scoped pair join shared by the parquet-index and
    snapshot-table-index paths: (index ∪ batch) x batch on equal cluster,
    exact cosine confirm, batch side broadcast."""
    a = idx.unionByName(b_assigned).alias("a")  # index ∪ today
    b = b_assigned.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            dot(F.col("a.emb"), F.col("b.emb"))
            >= F.lit(threshold) * F.col("a.nrm") * F.col("b.nrm")
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )


def semantic_append_batch(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Append today's batch to the persisted assignment index WITHOUT
    touching the trained centroids — one frozen-centroid assign pass,
    rows appended to ``<path>/assign``. Per-day cost O(|batch| * k);
    old rows are never re-read (mirrors pq_append_batch /
    rplsh_append_batch: maintenance is encode-the-delta, retrain on
    schedule)."""
    cents = spark.read.parquet(f"{path}/centroids")
    kmeans_assign(batch, cents).write.mode("append").parquet(f"{path}/assign")


def semantic_stream_batch(
    bdf: DataFrame,
    batch_id: int,
    cents_path: str,
    index_root: str,
    pairs_root: str,
    threshold: float = 0.35,
    batch_app: str | None = None,
    cents: Centroids | None = None,
) -> None:
    """One micro-batch of STREAMING semantic dedup — a two-table
    exactly-once transaction built from snapshot batch commits:

    1. assign the batch against the FROZEN centroids and commit the
       assignment rows to the INDEX snapshot table keyed by batch id
       (replay => skip, ledger survives maintenance);
    2. compute cluster-scoped pairs against the index AS OF the version
       BEFORE this batch's commit (time travel — so the pair input is
       identical whether this is the first delivery or a replay after a
       crash anywhere between the two commits) and commit them to the
       PAIRS snapshot table under the same batch id.

    Every crash/replay interleaving converges: index committed + pairs
    not => replay skips the index commit, locates its version via
    :func:`snapshot_version_of_batch`, recomputes the identical pairs,
    commits them; both committed => replay is two skips.

    OPERATIONAL CONTRACT: the index table's vacuum retention must cover
    the stream's replay horizon — replay reconstructs its pair input by
    time travel to ``version - 1``, and a vacuum that retired that
    version makes the reconstruction impossible (snapshot_read raises
    rather than silently diverging). Retain at least as long as the
    checkpoint's maximum redelivery lag, the same rule Delta documents
    for streaming sources over vacuumed tables.

    ``cents`` (optional) is the :class:`Centroids` the caller collected
    once per stream run (the centroids are frozen for the stream's
    lifetime, so per-batch re-reads are pure overhead); when omitted the
    batch reads ``cents_path`` itself."""
    from ..plans.snapshots import (
        snapshot_read,
        snapshot_version_of_batch,
        snapshot_write,
    )

    spark = bdf.sparkSession
    if cents is None:
        cents = spark.read.parquet(cents_path)
    assigned = kmeans_assign(bdf, cents)
    v = snapshot_write(
        assigned, index_root, batch_id=int(batch_id), batch_app=batch_app
    )
    if v is None:  # replayed: the index already holds this batch
        v = snapshot_version_of_batch(
            spark, index_root, int(batch_id), batch_app=batch_app
        )
    if v <= 1:
        # first batch into an EMPTY index table: there is no version 0 to
        # time-travel to — the base is the empty frame (no prior days, so
        # the batch pairs only against itself)
        base = assigned.limit(0)
    else:
        base = snapshot_read(spark, index_root, version=v - 1)
    pairs = _cluster_scoped_pairs(
        base.select("vec_id", "cluster", "emb", "nrm"), assigned, threshold
    )
    snapshot_write(pairs, pairs_root, batch_id=int(batch_id), batch_app=batch_app)


#: batch boundary for the two-file arrival fixture — inside the new-half
#: id range at EVERY sf (new half starts at 400; smallest corpus tops out
#: at 499), so both micro-batches are non-empty and id-ordered
SEM_STREAM_MID = 450

#: per-sf_dir cache of (cents_path, index_root, pairs_root) stream state
_SEM_STREAM_PATHS: dict[str, tuple] = {}


def _semantic_stream_state_for(spark: SparkSession, sf_dir: str) -> tuple:
    state = _SEM_STREAM_PATHS.get(sf_dir)
    if state is not None:
        return state
    import os
    import tempfile

    from ..plans.snapshots import snapshot_write

    old = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < SEM_APPEND_SPLIT
    )
    new = _spread(
        load_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id") >= SEM_APPEND_SPLIT
        )
    ).select("vec_id", "embedding")
    cents_path = tempfile.mkdtemp(prefix="semstream_cents_")
    cents = kmeans_train(old, k=semantic_k(old.count()), n_iters=2)
    cents.df.write.mode("overwrite").parquet(cents_path)
    index_root = tempfile.mkdtemp(prefix="semstream_idx_")
    snapshot_write(kmeans_assign(old, cents), index_root)
    pairs_root = tempfile.mkdtemp(prefix="semstream_pairs_")
    # arrival dir: the new half as TWO id-ordered files with forced
    # mtimes — day-2 batches are time-ordered by contract (each day
    # probes the index of all previous days), and the file-stream
    # source orders by modification time
    arrive = tempfile.mkdtemp(prefix="semstream_arrive_")
    for i, (lo_b, hi_b) in enumerate(
        ((SEM_APPEND_SPLIT, SEM_STREAM_MID), (SEM_STREAM_MID, None))
    ):
        part = new.where(F.col("vec_id") >= lo_b)
        if hi_b is not None:
            part = part.where(F.col("vec_id") < hi_b)
        d = f"{arrive}/b{i}"
        part.coalesce(1).write.parquet(d)
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                os.utime(f"{d}/{name}", (1_000_000 + i, 1_000_000 + i))
    state = (cents_path, index_root, pairs_root, arrive)
    _SEM_STREAM_PATHS[sf_dir] = state
    return state


@register(
    "stream_semantic_dedup",
    oracle=None,  # assembled below (shares the frozen-centroid CTE unroll)
    doc=(
        "STREAMING SemDeDup: embedding batches arrive as an availableNow "
        "file stream (one id-ordered file per micro-batch) and flow "
        "through a TWO-TABLE exactly-once transaction per batch — assign "
        "against frozen centroids, commit assignments to the INDEX "
        "snapshot table (batch-keyed ledger), compute cluster-scoped "
        "pairs against the index AS OF the pre-batch version (time "
        "travel makes the pair input identical under replay after a "
        "crash between the two commits — protocol pinned in "
        "tests/test_streaming.py), commit pairs to the PAIRS table under "
        "the same batch id. The drained pairs table equals "
        "dedup_incremental_semantic's frozen-centroid oracle exactly, "
        "proving the streaming decomposition (pair emitted when its "
        "HIGHER id arrives) loses and duplicates nothing. Completes the "
        "streaming x incremental grid for the semantic family alongside "
        "stream_pq_append (PQ) and the minhash/simhash/exact indexes."
    ),
)
def stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..plans.snapshots import snapshot_read

    cents_path, index_root, pairs_root, arrive = _semantic_stream_state_for(
        spark, sf_dir
    )
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    # centroids are FROZEN for the stream's lifetime: collect them ONCE
    # per run instead of a per-micro-batch parquet re-read + in-plan pack
    # aggregate; every batch then assigns through the Arrow kernel, bit
    # for bit what the in-plan fold gives.
    cents = Centroids.from_frame(spark.read.parquet(cents_path))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{arrive}/b*")
        .writeStream.foreachBatch(
            lambda bdf, bid: semantic_stream_batch(
                bdf, bid, cents_path, index_root, pairs_root, cents=cents
            )
        )
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="semstream_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return snapshot_read(spark, pairs_root).select("vec_a", "vec_b")


from . import REGISTRY as _SIM_REGISTRY  # noqa: E402
from . import QuerySpec as _SimQuerySpec  # noqa: E402


def _attach_semantic_stream_oracle() -> None:
    spec = _SIM_REGISTRY["stream_semantic_dedup"]
    _SIM_REGISTRY["stream_semantic_dedup"] = _SimQuerySpec(
        fn=spec.fn, oracle=_semantic_append_oracle(), doc=spec.doc
    )


#: per-sf_dir cache of built semantic-index paths (seeded state)
_SEM_INDEX_PATHS: dict[str, str] = {}


def _semantic_index_for(spark: SparkSession, sf_dir: str) -> str:
    path = _SEM_INDEX_PATHS.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="semantic_index_")
        old = load_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id") < SEM_APPEND_SPLIT
        )
        build_semantic_index(old, path)
        _SEM_INDEX_PATHS[sf_dir] = path
    return path


def _semantic_append_oracle(threshold: float = 0.35) -> str:
    """Unrolled Lloyd's trained ONLY on the old half (src=emb_old, k sized
    from the old count), then one assignment round over ALL vectors
    against those frozen centroids — identical to the Spark path, where
    the index rows' build-time assignments equal re-assigning the old ids
    against the same frozen centroids — and the cluster-scoped pair join
    restricted to pairs whose higher id is in the batch."""
    parts, prev = _kmeans_cte_parts(
        _semantic_k_sql("emb_old"), n_iters=2, src="emb_old"
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH emb_old AS (
      SELECT * FROM embeddings WHERE vec_id < {SEM_APPEND_SPLIT}),
    {body},
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scf AS (
      SELECT e.vec_id, c.cluster,
             list_dot_product(e.emb, c.centroid)
               - 0.5 * list_dot_product(c.centroid, c.centroid) AS score
      FROM base e CROSS JOIN {prev} c),
    asgf AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cluster) AS rn
        FROM scf) WHERE rn = 1)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM asgf a JOIN asgf b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN base x ON x.vec_id = a.vec_id
    JOIN base y ON y.vec_id = b.vec_id
    WHERE b.vec_id >= {SEM_APPEND_SPLIT}
      AND list_dot_product(x.emb, y.emb) >= {threshold} * x.nrm * y.nrm
    """


@register(
    "dedup_incremental_semantic",
    oracle=_semantic_append_oracle(),
    doc=(
        "Day-2 SemDeDup: today's batch (vec_id >= 400) assigns against "
        "FROZEN centroids from a PERSISTED semantic index "
        "(build_semantic_index — centroids k auto-sized from the OLD "
        "corpus, plus the old assignment rows carrying emb+nrm so the "
        "pair confirm needs no corpus join-back), then pairs only within "
        "its own clusters against index ∪ batch. No retraining, no "
        "old-vector re-assign, no full-corpus rescan (plan-asserted). "
        "Completes the incremental dedup QUARTET alongside exact, "
        "MinHash, and SimHash. The oracle retrains the unrolled Lloyd's "
        "on the old half only and applies the identical frozen-centroid "
        "assignment to all vectors, proving the index probe loses "
        "nothing vs recompute."
    ),
)
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _semantic_index_for(spark, sf_dir)
    batch = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") >= SEM_APPEND_SPLIT
    )
    return semantic_append_pairs(spark, batch, path)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

M_SUB = 8  # subspaces
SUB_DIM = DIM // M_SUB
#: ADC lookup-table values are integer-scaled so the per-candidate score is
#: an EXACT bigint sum (order-free) — a double SUM over 8 float lookups would
#: ULP-drift between engines/partitionings and flip tie-adjacent ranks.
PQ_SCALE = 1e7


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """Per-subspace codebooks: (m, cluster, c_sub, half_n).

    Codewords are the label-centroid SLICES — the cheap single-pass
    BASELINE codebook (recall 0.75 vs the trained 0.825 at shortlist=100,
    sf0.01). The production path is :func:`pq_train_codebooks` (real
    per-subspace Lloyd's, per Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI'11); the encode/ADC machinery below is
    independent of codeword training and takes either. The whole codebook
    is |codewords| x M_SUB rows and broadcasts everywhere.
    """
    cents = label_centroids(embeddings).select(
        F.col("label").alias("cluster"), "centroid"
    )
    parts = []
    for m in range(M_SUB):
        c_sub = F.slice("centroid", m * SUB_DIM + 1, SUB_DIM)
        parts.append(
            cents.select(
                F.lit(m).alias("m"),
                "cluster",
                c_sub.alias("c_sub"),
                (F.lit(0.5) * dot(c_sub, c_sub)).alias("half_n"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _subvectors(embeddings: DataFrame, id_alias: str) -> DataFrame:
    """(id, m, sub_vec): each vector split into M_SUB contiguous slices.

    posexplode of an array-of-slices: 8 narrow rows of 8 doubles per
    vector — NOT a cross join carrying the full 64-dim array into every
    subspace row (8x the byte volume for the same information).
    """
    emb = F.col("embedding").cast("array<double>")
    subs = F.array(*[F.slice(emb, m * SUB_DIM + 1, SUB_DIM) for m in range(M_SUB)])
    return embeddings.select(
        F.col("vec_id").alias(id_alias), F.posexplode(subs).alias("m", "sub_vec")
    )


def pq_train_codebooks(
    embeddings: DataFrame | TrainSample, k: int = 16, n_iters: int = 3
) -> Centroids:
    """REAL per-subspace PQ codebooks via Lloyd's k-means (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI'11): M_SUB
    independent k-means runs, one per contiguous SUB_DIM-wide slice.

    Same skeleton as :func:`kmeans_train`, on the same kind of sample
    (:func:`train_sample`, or a shared :class:`TrainSample`): one Spark
    query, then driver-side rounds (:func:`_lloyd`). The seeds are the
    first ``k`` sample rows by hash60(vec_id, "pq"), sliced per subspace.
    The rounds are therefore UNROLLABLE into a DuckDB oracle
    (``_pq_trained_cb_cte``) over the same sample, so the registered
    query stays value-hash-checked even though training is iterative.
    Returns a codebook :class:`Centroids` (``m=True``) whose ``df``
    matches :func:`pq_codebook`: (m, cluster, c_sub, half_n), |k x M_SUB|
    rows, broadcast everywhere.
    """
    import numpy as np
    from pyspark.sql import Row

    s = embeddings if isinstance(embeddings, TrainSample) else train_sample(embeddings)
    _warn_small_sample("pq_train_codebooks", s, k)
    seeds = np.lexsort((s.vec_id, s.pq_key))[:k]
    rows = []
    for m in range(M_SUB):
        sub = slice(m * SUB_DIM, (m + 1) * SUB_DIM)
        ids, C, _ = _lloyd(s.emb[:, sub], s.image[:, sub], seeds, n_iters)
        rows += [
            Row(m=m, cluster=c, c_sub=v, half_cnorm=h)
            for c, v, h in zip(ids.tolist(), C.tolist(), _half_norms(C).tolist())
        ]
    return Centroids(tuple(rows), s.spark, m=True)


def pq_encode(embeddings: DataFrame, codebook: Centroids | DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest codeword per subspace.

    argmin L2 == argmax(v_m . c - |c|^2/2) with half-norms precomputed
    (same identity as sim_ivf_assign), evaluated per row — the corpus
    never shuffles and no candidate rows materialize. A codebook
    :class:`Centroids` runs the bit-exact Arrow kernel; a DataFrame (a
    persisted index) joins its M_SUB-row in-plan pack on ``m``, so the
    plan keeps the index FileScan. The output is the PQ INDEX: 8 small
    ints (~8 bytes) per vector replacing 64 floats, a 32x shrink; raw
    vectors never appear in the ADC scan path again.
    """
    if isinstance(codebook, Centroids):
        return _seq_pq_kernel(_spread(embeddings), codebook)
    sub = _subvectors(_spread(embeddings), "vec_id")
    return sub.join(F.broadcast(_codebook_pack(codebook)), "m").select(
        "vec_id",
        "m",
        _argmax_cluster(F.col("sub_vec"), F.col("cs")).alias("code"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 100,
    codebook: Centroids | DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist + exact re-rank: the IVFADC retrieval pattern.

    Stage 1 (ADC scan): per query, the lookup table
    val[m][cluster] = q_m . c - |c|^2/2 is |codebook| rows
    (integer-scaled) and broadcasts; the scan joins the CODES table
    against it (m, code) -> per-subspace partial scores, summed exactly
    per (query, vec). Shuffle: only (query_id, vec_id, partial-sum)
    triples after map-side combine — independent of dimensionality. That
    is the PQ deal: M lookups per candidate instead of DIM multiplies,
    over an index 32x smaller than the raw vectors.

    Stage 2 (re-rank): the ADC top-``shortlist`` per query (a tiny
    queries x shortlist id set) broadcasts back against the corpus for
    EXACT cosine on just those rows — the standard recall repair for
    coarse codebooks (Jégou et al. §IV: ADC orders a candidate list,
    exact distances re-rank it). With the TRAINED 16-codeword codebooks
    (pq_train_codebooks) recall@5 climbs with shortlist depth 25: 0.45,
    50: 0.65, 75: 0.825, 100: 0.825 measured at sf0.01 (label-slice
    stand-in: 50: 0.60, 100: 0.75) — floors pinned in
    tests/test_similarity_recall.py. At production scale the lever is
    codebook SIZE (256 k-means codewords per subspace), which shrinks
    the needed shortlist to a constant.
    """
    cb = pq_codebook(embeddings) if codebook is None else codebook
    codes = pq_encode(embeddings, cb) if codes is None else codes
    q = _subvectors(embeddings.where(F.col("vec_id") < n_queries), "query_id")
    lut = q.join(F.broadcast(_frame(cb)), "m").select(
        "query_id",
        "m",
        "cluster",
        F.round((dot(F.col("sub_vec"), F.col("c_sub")) - F.col("half_n")) * PQ_SCALE)
        .cast("bigint")
        .alias("val"),
    )
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes["m"] == lut["m"]) & (codes["code"] == lut["cluster"]),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("val").alias("score"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    short = (
        scored.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= shortlist)
        .select("query_id", "vec_id")
    )
    return _exact_rerank(embeddings, short, n_queries, k)


def _exact_rerank(
    embeddings: DataFrame, short: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """Stage-2 recall repair shared by the ADC retrievers: the (tiny)
    ``short`` (query_id, vec_id) set broadcasts back against the corpus
    for EXACT cosine on just those rows, then row_number picks top-k."""
    qv = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("q_nrm"),
    )
    nb = embeddings.select(
        "vec_id",
        F.col("embedding").alias("e_vec"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("e_nrm"),
    )
    rer = (
        F.broadcast(short.join(qv, "query_id"))
        .join(nb, "vec_id")
        .select(
            "query_id",
            "vec_id",
            (
                dot(F.col("q_vec"), F.col("e_vec"))
                / (F.col("q_nrm") * F.col("e_nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rn")
    )


_MS = f"(SELECT unnest(range(0, {M_SUB})) AS m) ms"

#: (vec_id, m, sub_vec) — every vector split into its M_SUB subspace slices
_ESUB_CTE = f"""esub AS (
      SELECT e.vec_id, ms.m,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        ms.m*{SUB_DIM}+1, (ms.m+1)*{SUB_DIM}) AS sub_vec
      FROM embeddings e CROSS JOIN {_MS})"""


def _pq_adc_sql(
    cb: str,
    n_queries: int,
    k: int,
    shortlist: int,
    cand_joins: str = "",
    lut_cond: str = "",
) -> str:
    """encode -> ADC scan -> shortlist -> exact re-rank, parameterized on
    the codebook CTE name ``cb`` exposing (m, cluster, c_sub, half_n).
    ``cand_joins`` / ``lut_cond`` let the IVF-PQ oracle restrict the ADC
    scan to probed coarse cells (extra JOINs after ``enc`` and an extra
    predicate on the lut join)."""
    return f"""enc0 AS (
      SELECT s.vec_id, s.m, c.cluster,
             list_dot_product(s.sub_vec, c.c_sub) - c.half_n AS score
      FROM esub s JOIN {cb} c ON c.m = s.m),
    enc AS (
      SELECT vec_id, m, cluster AS code FROM (
        SELECT vec_id, m, cluster,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY score DESC, cluster) AS rn
        FROM enc0) WHERE rn = 1),
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.cluster,
             CAST(round((list_dot_product(s.sub_vec, c.c_sub) - c.half_n)
                        * {PQ_SCALE:.0f}) AS BIGINT) AS val
      FROM esub s JOIN {cb} c ON c.m = s.m
      WHERE s.vec_id < {n_queries}),
    scored AS (
      SELECT l.query_id, e.vec_id, CAST(SUM(l.val) AS BIGINT) AS score
      FROM enc e {cand_joins}JOIN lut l ON l.m = e.m AND l.cluster = e.code{lut_cond}
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS srn
        FROM scored) WHERE srn <= {shortlist}),
    qv AS (SELECT vec_id AS query_id, embedding AS q_emb,
                  sqrt(list_dot_product(embedding, embedding)) AS q_nrm
           FROM embeddings WHERE vec_id < {n_queries}),
    nb AS (SELECT vec_id, embedding AS e_emb,
                  sqrt(list_dot_product(embedding, embedding)) AS e_nrm
           FROM embeddings),
    rer AS (
      SELECT s.query_id, s.vec_id,
             list_dot_product(q.q_emb, n.e_emb) / (q.q_nrm * n.e_nrm) AS cos
      FROM short s JOIN qv q ON q.query_id = s.query_id
                   JOIN nb n ON n.vec_id = s.vec_id)
    SELECT query_id, neighbor_id, rn FROM (
      SELECT query_id, vec_id AS neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
      FROM rer) WHERE rn <= {k}"""


def _pq_adc_oracle(n_queries: int = 8, k: int = 5, shortlist: int = 100) -> str:
    """Label-slice (stand-in) codebook variant — kept for pq_codebook."""
    return f"""
    WITH {_CENTROID_CTE},
    sub AS (
      SELECT ms.m, c.cluster,
             list_slice(c.centroid, ms.m*{SUB_DIM}+1, (ms.m+1)*{SUB_DIM}) AS c_sub
      FROM cent c CROSS JOIN {_MS}),
    sub2 AS (SELECT m, cluster, c_sub,
                    0.5 * list_dot_product(c_sub, c_sub) AS half_n FROM sub),
    {_ESUB_CTE},
    {_pq_adc_sql("sub2", n_queries, k, shortlist)}
    """


def _pq_trained_cb_cte(
    k: int = 16,
    n_iters: int = 3,
    esub: str = "esub",
    emb: str = "embeddings",
    prefix: str = "",
) -> str:
    """The UNROLLED Lloyd's training loop of :func:`pq_train_codebooks` as a
    CTE chain over ``esub``, ending in ``{prefix}trained(m, cluster, c_sub,
    half_n)``. Every step is deterministic in both engines (md5-ranked
    init, exact integer-scaled centroid sums, smaller-cluster tiebreak),
    so an ITERATIVE training algorithm stays fully value-hash-checkable —
    the chain is mechanical: init from the k hash-ranked vectors, then
    n_iters x (assign, recompute). ``esub``/``emb`` name the training
    SOURCE CTEs, so the incremental variant can train on the frozen old
    slice only; ``prefix`` renames every internal CTE so the chain can
    coexist with another Lloyd's unroll (the IVF-PQ oracle runs the
    full-vector coarse loop AND this residual loop in one statement).
    Like the engine, the rounds train on ``{prefix}ssub`` — the slices of
    the first ``TRAIN_SAMPLE_ROWS`` vectors by the k-means ranking —
    seeded by the "pq" ranking within that sample."""
    h = sql_hash60("CAST(vec_id AS VARCHAR)", seed="pq")
    p = prefix
    parts = [
        f"""{_sample_cte(f"{p}sample", emb, "vec_id")},
    {p}ssub AS (
      SELECT * FROM {esub} WHERE vec_id IN (SELECT vec_id FROM {p}sample)),
    {p}seeds AS (
      SELECT vec_id, rn - 1 AS cluster FROM (
        SELECT vec_id, row_number() OVER (ORDER BY {h}, vec_id) AS rn
        FROM {p}sample) WHERE rn <= {k}),
    {p}tc0 AS (
      SELECT s.m, sd.cluster, s.sub_vec AS c_sub
      FROM {p}ssub s JOIN {p}seeds sd ON sd.vec_id = s.vec_id)"""
    ]
    esub = f"{p}ssub"
    prev = f"{p}tc0"
    for i in range(1, n_iters + 1):
        parts.append(
            f"""{p}sc{i} AS (
      SELECT s.vec_id, s.m, c.cluster,
             list_dot_product(s.sub_vec, c.c_sub)
               - 0.5 * list_dot_product(c.c_sub, c.c_sub) AS score
      FROM {esub} s JOIN {prev} c ON c.m = s.m),
    {p}asg{i} AS (
      SELECT vec_id, m, cluster FROM (
        SELECT vec_id, m, cluster,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY score DESC, cluster) AS rn
        FROM {p}sc{i}) WHERE rn = 1),
    {p}cell{i} AS (
      SELECT a.m, a.cluster, generate_subscripts(s.sub_vec, 1) AS pos,
             unnest(s.sub_vec) AS v
      FROM {p}asg{i} a JOIN {esub} s ON s.vec_id = a.vec_id AND s.m = a.m),
    {p}agg{i} AS (
      SELECT m, cluster, pos,
             SUM(CAST(round(v * 10000000) AS BIGINT)) AS sc, COUNT(*) AS n
      FROM {p}cell{i} GROUP BY m, cluster, pos),
    {p}tc{i} AS (
      SELECT m, cluster,
             list((CAST(sc AS DOUBLE) / 10000000) / n ORDER BY pos) AS c_sub
      FROM {p}agg{i} GROUP BY m, cluster)"""
        )
        prev = f"{p}tc{i}"
    parts.append(
        f"""{p}trained AS (
      SELECT m, cluster, c_sub,
             0.5 * list_dot_product(c_sub, c_sub) AS half_n
      FROM {prev})"""
    )
    return ",\n    ".join(parts)


def _pq_trained_oracle(
    n_queries: int = 8, k: int = 5, shortlist: int = 100,
    n_codewords: int = 16, n_iters: int = 3,
) -> str:
    return f"""
    WITH {_ESUB_CTE},
    {_pq_trained_cb_cte(n_codewords, n_iters)},
    {_pq_adc_sql("trained", n_queries, k, shortlist)}
    """


@register(
    "sim_ann_pq_adc",
    oracle=_pq_trained_oracle(),
    doc=(
        "Product-quantization ANN (IVFADC pattern) with TRAINED codebooks: "
        "per-subspace Lloyd's k-means (16 codewords x 8 subspaces x 8 "
        "dims, 3 iterations — pq_train_codebooks), corpus encoded to 8 "
        "codes/vector (32x index shrink), ADC scan via broadcast integer "
        "lookup tables produces a 100-deep shortlist — codes only, never "
        "raw vectors — then exact cosine re-ranks just the shortlist. The "
        "training loop is deterministic enough to UNROLL into the DuckDB "
        "oracle, so even the iterative build stays value-hash-checked."
    ),
)
def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cb = pq_train_codebooks(e, k=16, n_iters=3)
    return pq_adc_topk(e, codebook=cb)


# --- persisted PQ index: the ANN SERVING shape (train/encode offline) ------


def build_pq_index(embeddings: DataFrame, path: str) -> None:
    """Materialize the PQ index as parquet — ``<path>/codebook`` (m,
    cluster, c_sub, half_n: |16 x 8| rows) and ``<path>/codes`` (vec_id,
    m, code: 8 small ints per vector, the 32x-shrunk corpus). Training
    and encoding read the raw vectors exactly once, HERE; the serving
    query never does."""
    cb = pq_train_codebooks(embeddings, k=16, n_iters=3)
    cb.df.write.mode("overwrite").parquet(f"{path}/codebook")
    pq_encode(embeddings, cb).write.mode("overwrite").parquet(f"{path}/codes")


#: per-sf_dir cache of built PQ-index paths (setup state, like
#: dedup._band_index_for)
_PQ_INDEX_PATHS: dict[str, str] = {}


def _pq_index_for(spark: SparkSession, sf_dir: str) -> str:
    path = _PQ_INDEX_PATHS.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="pq_index_")
        build_pq_index(load_table(spark, sf_dir, "embeddings"), path)
        _PQ_INDEX_PATHS[sf_dir] = path
    return path


@register(
    "sim_ann_pq_indexed",
    oracle=_pq_trained_oracle(),
    doc=(
        "ANN SERVING against a PERSISTED PQ index: codebook + codes read "
        "from parquet (built once by build_pq_index as setup state, like "
        "the dedup band index); the query computes only the per-query "
        "lookup tables (embeddings scan pushed to vec_id < 8), scans the "
        "32x-shrunk codes table, and re-ranks the shortlist against the "
        "corpus. Plan-asserted: no k-means/encode stage in the query plan "
        "— training cost is paid once offline, per-query cost is LUT "
        "build + codes scan + shortlist re-rank. Result is identical to "
        "sim_ann_pq_adc (the index is a deterministic function of the "
        "corpus), so the same unrolled-training oracle applies."
    ),
)
def sim_ann_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _pq_index_for(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        e,
        codebook=spark.read.parquet(f"{path}/codebook"),
        codes=spark.read.parquet(f"{path}/codes"),
    )


# --- IVF-PQ: coarse-cell pruning over the PQ-coded corpus -------------------


def ivf_coarse_k(n_rows: int) -> int:
    """Coarse-list count for IVF-PQ — the classic sqrt rule (Jégou et
    al., TPAMI'11 §V: nlist ~ sqrt(N) balances the two scan terms:
    query-vs-centroid cost O(nlist) against per-cell candidate cost
    O(nprobe * N / nlist)). Floored at the fixture width and clamped to
    the centroid-broadcast ceiling like :func:`semantic_k`."""
    import math

    return max(4, min(int(math.ceil(math.sqrt(n_rows))), n_rows, SEM_MAX_K))


def _ivf_coarse_k_sql(src: str = "embeddings") -> str:
    """The IDENTICAL sizing rule as a DuckDB scalar subquery, so the
    import-time-rendered oracle stays corpus-adaptive."""
    return (
        "(SELECT GREATEST(4, LEAST(CAST(ceil(sqrt(COUNT(*))) AS BIGINT), "
        f"COUNT(*), {SEM_MAX_K})) FROM {src})"
    )


def _ivf_probes(
    embeddings: DataFrame,
    cents: Centroids | DataFrame,
    n_queries: int,
    nprobe: int,
) -> DataFrame:
    """(query_id, cluster): each query's ``nprobe`` nearest coarse cells
    — broadcast the (small) centroid table packed into one array row
    (from the collected rows of a :class:`Centroids`, or in-plan from a
    persisted frame so the plan keeps its FileScan), ranked by the same
    dot-minus-half-norm score as assignment, smaller-cluster tiebreak.
    Shared by :func:`ivf_pq_topk` and tools/ivf_pq_scale_probe.py so the
    measured candidate count can never desynchronize from what serving
    actually scans."""
    e = _spread(embeddings)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    mul = lambda a, b: a * b  # noqa: E731
    add = lambda acc, x: acc + x  # noqa: E731
    # r12: per-row top-nprobe via a sorted (neg-score, cluster) struct
    # array sliced to nprobe — same (score DESC, cluster ASC) order the
    # row_number window used, without shuffling the (query x centroid)
    # rows through a window exchange.
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    (
                        -(
                            F.aggregate(
                                F.zip_with("q_emb", c["centroid"], mul),
                                F.lit(0.0),
                                add,
                            )
                            - c["half_cnorm"]
                        )
                    ).alias("neg_score"),
                    c["cluster"].alias("cluster"),
                ),
            )
        ),
        1,
        nprobe,
    )
    pack = (
        _pack_local(cents.spark, cents.rows)
        if isinstance(cents, Centroids)
        else _centroid_pack(cents)
    )
    return (
        q.crossJoin(F.broadcast(pack))
        .select("query_id", F.explode(ranked).alias("t"))
        .select("query_id", F.col("t.cluster").alias("cluster"))
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 2,
    coarse_iters: int = 2,
    coarse: Centroids | DataFrame | None = None,
    assigned: DataFrame | None = None,
    codebook: Centroids | DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The full IVFADC retrieval architecture (Jégou et al., TPAMI'11):
    an IVF coarse quantizer PRUNES the corpus to ``nprobe`` cells per
    query, then the ADC scan runs over ONLY those cells' PQ codes, and
    exact cosine re-ranks the shortlist. This is the composition
    ``sim_ivf_assign`` x ``sim_ann_pq_adc`` were built for — ADC alone
    still touches every code row (O(N x M) lookups per query); with the
    coarse prune the scan term drops to O(nprobe x N / nlist x M), and
    with the sqrt rule (:func:`ivf_coarse_k`) that is O(nprobe x sqrt(N)
    x M) — sublinear per query, the property that makes billion-vector
    serving possible.

    Plan shape: both quantizers train from ONE bounded sample fetch
    (:func:`train_sample`; the Lloyd's rounds run on the driver), the
    corpus is assigned and encoded in one distributed Arrow pass (coarse
    argmax and all M_SUB codes per vector), the probe set and the
    per-query LUTs are tiny and broadcast, and the
    candidate restriction is a broadcast semi-shaped equi-join on the
    coarse cluster id — at 100 TB the codes table is hash-partitioned by
    cluster so a probe touches only its cells' partitions. Codes encode
    RAW vectors (not residuals): residual encoding buys recall at equal
    code budget but makes every stage centroid-dependent; the raw-vector
    variant (FAISS ``IVFPQ`` with ``by_residual=false``) keeps the PQ
    index reusable across coarse re-trains and the whole pipeline
    value-hash-checkable against the unrolled double-Lloyd's oracle.
    Recall floor vs brute force is pinned in
    tests/test_similarity_recall.py; missed-by-design neighbors live in
    unprobed cells, the approximation IVF trades for the prune (the
    oracle applies the identical restriction)."""
    # the four index pieces are injectable (the serving shape: train/
    # assign/encode offline once — tools/ivf_pq_scale_probe.py times the
    # per-query path alone against a frozen parquet index)
    if coarse is None and assigned is None and codes is None:
        # r12: pin the projected corpus in the block manager for the
        # DURATION OF THIS CALL (the standard iterative-ML working-set
        # cache — Spark MLlib's own KMeans does the same): the training
        # sample fetch, the sizing count(), the encode and the re-rank
        # otherwise re-run the parquet scan + spread repartition, one
        # extra AQE stage-job each. eager=False lets the first of them
        # double as the materialization action. Recomputed per
        # invocation — never a cross-run memo.
        embeddings = _pin(embeddings)
    # both trainings learn from ONE sample fetch
    trains = coarse is None or codebook is None
    sample = train_sample(embeddings) if trains else None
    cents = (
        kmeans_train(
            sample, k=ivf_coarse_k(embeddings.count()), n_iters=coarse_iters
        )
        if coarse is None
        else coarse
    )
    cb = pq_train_codebooks(sample, k=16, n_iters=3) if codebook is None else codebook

    probes = _ivf_probes(embeddings, cents, n_queries, nprobe)
    qsub = _subvectors(embeddings.where(F.col("vec_id") < n_queries), "query_id")
    lut = qsub.join(F.broadcast(_frame(cb)), "m").select(
        F.col("query_id").alias("l_query"),
        F.col("m").alias("l_m"),
        F.col("cluster").alias("codeword"),
        F.round((dot(F.col("sub_vec"), F.col("c_sub")) - F.col("half_n")) * PQ_SCALE)
        .cast("bigint")
        .alias("val"),
    )
    if (
        isinstance(cents, Centroids)
        and isinstance(cb, Centroids)
        and assigned is None
        and codes is None
    ):
        # both quantizers are driver-side: build the INVERTED-LIST layout
        # directly — coarse argmax and all 8 subspace codes computed in
        # ONE Arrow pass per vector (the natural IVFPQ index shape: codes
        # stored per coarse cell), so the (codes x assigned) vec_id
        # equi-join disappears from the plan entirely
        codes_c = _seq_pq_kernel(embeddings, cb, coarse=cents)
        cand = codes_c.join(F.broadcast(probes), "cluster")
    else:
        assigned = (
            kmeans_assign(embeddings, cents)
            if assigned is None
            else assigned
        ).select("vec_id", "cluster")
        codes = pq_encode(embeddings, cb) if codes is None else codes
        cand = codes.join(assigned, "vec_id").join(F.broadcast(probes), "cluster")
    scored = (
        cand.join(
            F.broadcast(lut),
            (F.col("query_id") == F.col("l_query"))
            & (F.col("m") == F.col("l_m"))
            & (F.col("code") == F.col("codeword")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        # r12 (guide §2.4): partition ONCE by query_id — hash(query_id)
        # clustering satisfies both the (query_id, vec_id) aggregate and
        # the query_id shortlist window, so the plan carries one exchange
        # where groupBy-then-window used to re-shuffle.
        .repartition("query_id")
        .groupBy("query_id", "vec_id")
        .agg(F.sum("val").alias("score"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    short = (
        scored.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= shortlist)
        .select("query_id", "vec_id")
    )
    return _exact_rerank(embeddings, short, n_queries, k)


def _ivf_pq_oracle(
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 2,
    coarse_iters: int = 2,
) -> str:
    """BOTH Lloyd's loops unrolled in one statement — the coarse
    full-vector quantizer (prefix-less chain from _kmeans_cte_parts, k as
    the corpus-adaptive scalar subquery) and the per-subspace PQ training
    (prefix='pq' chain) — then the probe-restricted ADC scan."""
    parts, prev = _kmeans_cte_parts(_ivf_coarse_k_sql(), coarse_iters)
    coarse = ",\n    ".join(parts)
    cscore = (
        "list_dot_product(e.emb, c.centroid) "
        "- 0.5 * list_dot_product(c.centroid, c.centroid)"
    )
    return f"""
    WITH {_ESUB_CTE},
    {coarse},
    cassign AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cscore} DESC, c.cluster) AS rn
        FROM e CROSS JOIN {prev} c) WHERE rn = 1),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT e.vec_id AS query_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cscore} DESC, c.cluster) AS prn
        FROM e CROSS JOIN {prev} c WHERE e.vec_id < {n_queries})
      WHERE prn <= {nprobe}),
    {_pq_trained_cb_cte(16, 3, prefix="pq")},
    {_pq_adc_sql(
        "pqtrained", n_queries, k, shortlist,
        cand_joins=(
            "JOIN cassign ca ON ca.vec_id = e.vec_id "
            "JOIN probes p ON p.cluster = ca.cluster "
        ),
        lut_cond=" AND l.query_id = p.query_id",
    )}
    """


@register(
    "sim_ann_ivf_pq",
    oracle=_ivf_pq_oracle(),
    doc=(
        "Full IVFADC retrieval (Jégou et al., TPAMI'11): a corpus-sized "
        "coarse quantizer (nlist = ceil(sqrt(n)), the classic rule, via "
        "the same metadata-cheap count pattern as rplsh_bits/semantic_k) "
        "prunes each query to nprobe=2 cells; the ADC integer-LUT scan "
        "runs over ONLY those cells' PQ codes (per-query cost O(nprobe x "
        "sqrt(n) x M) — sublinear, vs sim_ann_pq_adc's full-codes scan); "
        "exact cosine re-ranks the shortlist. BOTH training loops — the "
        "full-vector coarse Lloyd's AND the 16x8 per-subspace PQ Lloyd's "
        "— unroll deterministically into one DuckDB statement, so the "
        "entire two-quantizer iterative pipeline is value-hash-checked. "
        "Neighbors in unprobed cells are missed by design (the IVF "
        "trade; the oracle applies the identical restriction); the "
        "recall floor vs brute force is pinned in tests."
    ),
)
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_pq_topk(load_table(spark, sf_dir, "embeddings"))


# --- incremental PQ index maintenance: day-2 of the ANN serving story ------

#: batch split for the incremental PQ gate: vectors below are "yesterday's
#: corpus" (codebooks trained + codes encoded at build time); vectors at or
#: above arrive as today's batch and are encoded against the FROZEN
#: codebooks (same fixture convention as dedup.INCR_SPLIT)
PQ_APPEND_SPLIT = 400


def pq_append_batch(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Append a NEW vector batch to a persisted PQ index WITHOUT touching
    the trained state — the daily maintenance op of a RAG/retrieval
    ingest pipeline. The frozen codebooks load from ``<path>/codebook``
    (|16 x 8| rows, broadcast), the batch encodes in one pass (the
    in-plan per-row argmax of pq_encode), and the 8-small-ints rows
    APPEND to ``<path>/codes``. No re-training, no re-encode of old
    vectors, no read of the old codes: per-day cost is O(|batch|).
    Standard PQ practice — codebooks are corpus-distribution statistics
    and stay valid under drift-free growth; re-train on schedule, not per
    batch (Jégou et al., TPAMI'11 §V.A train-once protocol)."""
    cb = spark.read.parquet(f"{path}/codebook")
    pq_encode(batch, cb).write.mode("append").parquet(f"{path}/codes")


#: per-sf_dir cache of (old-slice index + appended batch) paths
_PQ_APPEND_PATHS: dict[str, str] = {}


def _pq_append_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Day-1 state + day-2 append, memoized per sf_dir: the PQ index is
    built over the OLD slice only (vec_id < PQ_APPEND_SPLIT — training
    and old-vector encoding happen HERE, once), then today's batch
    (vec_id >= PQ_APPEND_SPLIT) is encoded against the frozen codebooks
    and appended."""
    path = _PQ_APPEND_PATHS.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="pq_append_index_")
        e = load_table(spark, sf_dir, "embeddings")
        build_pq_index(e.where(F.col("vec_id") < PQ_APPEND_SPLIT), path)
        pq_append_batch(spark, path, e.where(F.col("vec_id") >= PQ_APPEND_SPLIT))
        _PQ_APPEND_PATHS[sf_dir] = path
    return path


def _pq_append_oracle(
    split: int = PQ_APPEND_SPLIT,
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 100,
    n_codewords: int = 16,
    n_iters: int = 3,
) -> str:
    """Unrolled-training oracle for the APPEND lifecycle: codebooks train
    on the old slice only; the ADC scan covers old + appended codes (all
    vectors, encoded with the old-slice codebooks)."""
    return f"""
    WITH {_ESUB_CTE},
    old_emb AS (SELECT * FROM embeddings WHERE vec_id < {split}),
    esub_old AS (SELECT * FROM esub WHERE vec_id < {split}),
    {_pq_trained_cb_cte(n_codewords, n_iters, esub="esub_old", emb="old_emb")},
    {_pq_adc_sql("trained", n_queries, k, shortlist)}
    """


@register(
    "sim_ann_pq_append",
    oracle=_pq_append_oracle(),
    doc=(
        "Incremental ANN index maintenance: yesterday's PQ index "
        "(codebooks trained on vec_id < 400, their codes persisted) plus "
        "today's batch encoded against the FROZEN codebooks and APPENDED "
        "to the codes table (pq_append_batch) — the exact analog of "
        "dedup_incremental_minhash for a growing embedding corpus. The "
        "serving query reads codebook + (old ∪ appended) codes from "
        "parquet and answers top-k over the WHOLE corpus; the oracle "
        "unrolls old-slice-only training and encodes everything with "
        "those codebooks. Plan-asserted: no training stage, no re-encode "
        "of old vectors — the only non-index embeddings scans are the "
        "pushed query vectors and the shortlist re-rank."
    ),
)
def sim_ann_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _pq_append_index_for(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        e,
        codebook=spark.read.parquet(f"{path}/codebook"),
        codes=spark.read.parquet(f"{path}/codes"),
    )


# --- streaming embedding ingest into the PQ index ---------------------------


def pq_stream_merge_batch(bdf: DataFrame, batch_id: int, path: str) -> None:
    """IDEMPOTENT micro-batch commit for streaming embedding ingest: the
    batch encodes against the FROZEN codebooks of the persisted index and
    its codes commit with a dynamic partition overwrite keyed on the
    batch id — foreachBatch is at-least-once, and a replayed batch
    (deterministic file source + deterministic encode) overwrites its own
    ``batch=N`` partition with identical rows instead of appending a
    duplicate copy. Same commit protocol as the streaming log path
    (``streaming/events.py: log_stream_merge_batch``)."""
    spark = bdf.sparkSession
    cb = spark.read.parquet(f"{path}/codebook")
    (
        pq_encode(bdf, cb)
        .withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(f"{path}/codes")
    )


#: per-sf_dir cache of streamed-in PQ index paths
_PQ_STREAM_PATHS: dict[str, str] = {}


def _pq_stream_state_for(spark: SparkSession, sf_dir: str) -> str:
    """Day-1 index (old slice trains + encodes, codes under ``batch=-1``)
    plus the NEW vectors drained through an availableNow parquet file
    stream, one file per micro-batch, each committed idempotently by
    :func:`pq_stream_merge_batch`."""
    path = _PQ_STREAM_PATHS.get(sf_dir)
    if path is not None:
        return path
    import tempfile

    path = tempfile.mkdtemp(prefix="pq_stream_index_")
    e = load_table(spark, sf_dir, "embeddings")
    old = e.where(F.col("vec_id") < PQ_APPEND_SPLIT)
    cb = pq_train_codebooks(old, k=16, n_iters=3)
    cb.df.write.mode("overwrite").parquet(f"{path}/codebook")
    (
        pq_encode(old, cb)
        .withColumn("batch", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("batch")
        .parquet(f"{path}/codes")
    )
    src = tempfile.mkdtemp(prefix="pq_stream_src_")
    new = e.where(F.col("vec_id") >= PQ_APPEND_SPLIT)
    new.repartition(3).write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            lambda bdf, bid: pq_stream_merge_batch(bdf, bid, path)
        )
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pq_stream_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _PQ_STREAM_PATHS[sf_dir] = path
    return path


@register(
    "stream_pq_append",
    oracle=_pq_append_oracle(),
    doc=(
        "Streaming embedding ingest into the persisted PQ index: new "
        "vectors arrive as an availableNow parquet file stream (one file "
        "per micro-batch); each batch encodes against the FROZEN "
        "codebooks in foreachBatch and commits its codes with an "
        "idempotent batch-keyed dynamic overwrite (replay-safe, same "
        "protocol as the streaming log path). Serving top-k from the "
        "drained index equals sim_ann_pq_append — the same "
        "unrolled-old-slice-training DuckDB oracle applies, so the "
        "streaming composition is proven lossless end-to-end. The "
        "arrival-driven form of the daily RAG-ingest maintenance loop."
    ),
)
def stream_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _pq_stream_state_for(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        e,
        codebook=spark.read.parquet(f"{path}/codebook"),
        codes=spark.read.parquet(f"{path}/codes").select("vec_id", "m", "code"),
    )


# --- incremental RP-LSH: persisted bucket index + daily batch probe ---------
#
# The embedding-space analog of dedup_incremental_minhash: yesterday's
# vectors live purely in a persisted two-table parquet index; today's batch
# hashes with the FROZEN hyperplanes and probes it. Completes the
# incremental-maintenance story for BOTH ANN families (the PQ index gained
# append in sim_ann_pq_append; this gives the sign-LSH near-dup miner the
# same day-2 shape).


def build_rplsh_index(
    embeddings: DataFrame, path: str, split: int = PQ_APPEND_SPLIT
) -> None:
    """Materialize the sign-LSH near-dup index (the state a daily
    embedding-dedup job maintains): ``<path>/vectors`` = (vec_id,
    embedding, nrm) — the vector store every ANN index carries for the
    exact-confirm stage — and ``<path>/buckets`` = (vec_id, tbl, bucket)
    at the FROZEN fixture width (``N_PLANES`` bits; the hyperplanes are
    deterministic module literals, so vectors hashed today and vectors
    hashed at build time always bucket identically). The corpus parquet
    is read exactly once, here; daily probes read only these two narrow
    tables plus the day's batch."""
    spark = embeddings.sparkSession
    # full-width spread: same compute-bound class as rplsh_pairs (the
    # hashing pass is the identical 64-plane-dot fold per row)
    base = spread_input(embeddings.where(F.col("vec_id") < split)).select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    base.write.mode("overwrite").parquet(f"{path}/vectors")
    # derive buckets from the WRITTEN vectors (one corpus pass total)
    vec_r = spark.read.parquet(f"{path}/vectors")
    _rplsh_buckets(vec_r).write.mode("overwrite").parquet(f"{path}/buckets")


def rplsh_append_batch(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Daily index maintenance: hash the new batch with the frozen
    hyperplanes/width and APPEND its rows to both index tables. No re-hash
    of old vectors, no index rewrite — per-day cost is O(|batch|)."""
    base = _spread(batch, RPLSH_BATCH_BYTES_PER_TASK).select(
        # compute-bound hashing class, batch-size-capped (ADVICE r12):
        # full width at every measured fixture point, but a tiny daily
        # batch no longer fans out to mostly-empty cluster partitions
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    base.write.mode("append").parquet(f"{path}/vectors")
    _rplsh_buckets(base).write.mode("append").parquet(f"{path}/buckets")


def incremental_rplsh_pairs(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup vector pairs INVOLVING the new batch only — the daily
    increment of embedding dedup. Yesterday's corpus enters the plan ONLY
    via the persisted index (buckets for candidates, vectors for the
    exact-cosine confirm); today's batch hashes in one map pass and its
    (tiny) bucket set BROADCASTS against the index side, so the index is
    never shuffled by a daily run. Output = the full-corpus candidate set
    restricted to pairs whose HIGHER id is in the batch (new-vs-old plus
    new-vs-new — a vector duplicated within today's batch must not slip
    through), exactly the restriction :func:`rplsh_pairs` + a batch filter
    would compute, at batch-sized cost."""
    b_base = _spread(batch, RPLSH_BATCH_BYTES_PER_TASK).select(
        # compute-bound hashing class, batch-size-capped (ADVICE r12)
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    idx_vec = spark.read.parquet(f"{index_path}/vectors")
    idx_buckets = spark.read.parquet(f"{index_path}/buckets")
    a = idx_buckets.unionByName(_rplsh_buckets(b_base)).alias("a")
    b = F.broadcast(_rplsh_buckets(b_base)).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = idx_vec.unionByName(b_base).alias("x")  # vec_a may be old or new
    y = b_base.alias("y")  # vec_b is always in the batch
    return (
        F.broadcast(cand)
        .join(x, F.col("vec_a") == F.col("x.vec_id"))
        .join(F.broadcast(y), F.col("vec_b") == F.col("y.vec_id"))
        .where(
            dot(F.col("x.embedding"), F.col("y.embedding"))
            >= F.lit(threshold) * F.col("x.nrm") * F.col("y.nrm")
        )
        .select("vec_a", "vec_b")
    )


#: per-sf_dir cache of built RP-LSH index paths (setup state, like
#: dedup._band_index_for)
_RPLSH_INDEX_PATHS: dict[str, str] = {}


def _rplsh_index_for(spark: SparkSession, sf_dir: str) -> str:
    path = _RPLSH_INDEX_PATHS.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="rplsh_index_")
        build_rplsh_index(load_table(spark, sf_dir, "embeddings"), path)
        _RPLSH_INDEX_PATHS[sf_dir] = path
    return path


def _rplsh_append_oracle(split: int = PQ_APPEND_SPLIT) -> str:
    """Full-corpus sign-LSH pairs restricted to higher-id-in-batch: with
    the bucket width frozen at N_PLANES bits, the incremental probe is
    provably this restriction of the batch-oblivious candidate set."""
    buckets = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sql_rp_bucket('embedding', t)} AS bucket FROM base"
        for t in range(N_TABLES)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding, embedding)) AS nrm
      FROM embeddings),
    buckets AS ({buckets}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE b.vec_id >= {split})
    SELECT c.vec_a, c.vec_b
    FROM cand c
    JOIN base x ON x.vec_id = c.vec_a
    JOIN base y ON y.vec_id = c.vec_b
    WHERE list_dot_product(x.embedding, y.embedding) >= 0.3 * x.nrm * y.nrm
    """


@register(
    "sim_ann_rplsh_append",
    oracle=_rplsh_append_oracle(),
    doc=(
        "Incremental sign-LSH near-dup mining against a PERSISTED bucket "
        "index — the embedding-space sibling of dedup_incremental_minhash "
        "and the pair-mining complement of sim_ann_pq_append: today's "
        "vector batch (vec_id >= 400) hashes with the frozen hyperplanes, "
        "its bucket set broadcasts against the index, and the exact-cosine "
        "confirm reads old vectors from the index's vector store. Output "
        "= full-corpus candidate pairs whose higher id is new. "
        "Plan-asserted: every embeddings scan carries the pushed batch "
        "filter — yesterday's vectors are never re-read or re-hashed."
    ),
)
def sim_ann_rplsh_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _rplsh_index_for(spark, sf_dir)
    batch = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") >= PQ_APPEND_SPLIT
    )
    return incremental_rplsh_pairs(spark, batch, path)


# stream_semantic_dedup shares the frozen-centroid unrolled-Lloyd's
# oracle with dedup_incremental_semantic (defined above)
_attach_semantic_stream_oracle()


#: outlier contract: the N most centroid-distant vectors (rank list, not
#: raw scores — float cosines are not part of any oracle contract)
OUTLIER_K = 25


@register(
    "sim_outlier_centroid",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cell AS (
      SELECT generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e),
    agg AS (
      SELECT pos, SUM(CAST(round(v * 10000000) AS BIGINT)) AS sc, COUNT(*) AS n
      FROM cell GROUP BY pos),
    cent AS (
      SELECT list((CAST(sc AS DOUBLE) / 10000000) / n ORDER BY pos) AS c
      FROM agg),
    scored AS (
      SELECT e.vec_id,
             list_dot_product(e.emb, cent.c)
               / (sqrt(list_dot_product(e.emb, e.emb))
                  * sqrt(list_dot_product(cent.c, cent.c))) AS cos
      FROM e CROSS JOIN cent)
    SELECT vec_id, rn FROM (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY cos ASC, vec_id) AS INTEGER) AS rn
      FROM scored)
    WHERE rn <= {OUTLIER_K}
    """,
    doc=(
        "Embedding OUTLIER detection by centroid distance — the "
        "off-distribution filter of a curation pipeline (drop or "
        "down-weight samples far from the corpus mode; the companion "
        "to SemDeDup's near-duplicate pruning at the other end of the "
        "density spectrum). The corpus centroid is computed EXACTLY "
        "(integer-scaled per-dimension sums, the kmeans recompute "
        "discipline, so both engines derive bit-identical centroids at "
        "any partitioning); each vector scores one broadcast cosine "
        "against it and the 25 most distant surface as a rank list. "
        "Scale shape: one narrow aggregate over (pos, v) cells + one "
        "map-side pass — no shuffle wider than 64 cells, no pairwise "
        "anything; at 100 TB this is two scans of the embedding column. "
        "Cluster-scoped variants (distance to the ASSIGNED centroid) "
        "compose from kmeans_assign the same way."
    ),
)
def sim_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cell = e.select(F.posexplode("emb").alias("pos", "v"))
    cent = (
        cell.groupBy("pos")
        .agg(
            F.sum(F.round(F.col("v") * 1e7).cast("bigint")).alias("sc"),
            F.count("*").alias("n"),
        )
        .select(
            "pos", ((F.col("sc").cast("double") / F.lit(1e7)) / F.col("n")).alias("c")
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("centroid")
        )
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", cosine(F.col("emb"), F.col("centroid")).alias("cos")
    )
    # parallel top-K (TakeOrderedAndProject), THEN rank the K-row result —
    # never an unpartitioned window over the corpus
    top = scored.orderBy(F.asc("cos"), F.asc("vec_id")).limit(OUTLIER_K)
    w = Window.orderBy(F.asc("cos"), F.asc("vec_id"))
    return top.withColumn("rn", F.row_number().over(w)).select("vec_id", "rn")


#: per-cluster outlier contract: the N most centroid-distant members
OUTLIER_PER_CLUSTER = 3


def _cluster_outlier_oracle(n_iters: int = 2) -> str:
    """The unrolled corpus-adaptive Lloyd's chain + final assignment,
    then per-cluster ranking by cosine TO THE ASSIGNED CENTROID."""
    parts, prev = _kmeans_cte_parts(_semantic_k_sql(), n_iters)
    body = ",\n    ".join(parts)
    return f"""
    WITH {body},
    scf AS (
      SELECT e.vec_id, e.emb, c.cluster, c.centroid,
             list_dot_product(e.emb, c.centroid)
               - 0.5 * list_dot_product(c.centroid, c.centroid) AS score
      FROM e CROSS JOIN {prev} c),
    asgf AS (
      SELECT vec_id, emb, cluster, centroid FROM (
        SELECT vec_id, emb, cluster, centroid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cluster) AS rn
        FROM scf) WHERE rn = 1),
    scored AS (
      SELECT vec_id, cluster,
             list_dot_product(emb, centroid)
               / (sqrt(list_dot_product(emb, emb))
                  * sqrt(list_dot_product(centroid, centroid))) AS cos
      FROM asgf)
    SELECT cluster, vec_id, rn FROM (
      SELECT cluster, vec_id,
             CAST(row_number() OVER (PARTITION BY cluster
                                     ORDER BY cos ASC, vec_id) AS INTEGER) AS rn
      FROM scored)
    WHERE rn <= {OUTLIER_PER_CLUSTER}
    """


@register(
    "sim_outlier_cluster",
    oracle=_cluster_outlier_oracle(),
    doc=(
        "CLUSTER-SCOPED embedding outliers — the SemDeDup-shape "
        "complement to sim_outlier_centroid: k-means clusters the space "
        "(corpus-adaptive k = ceil(n/64), the semantic_k rule; trained "
        "with the same deterministic Lloyd's loop) and each cluster "
        "surfaces its 3 members FARTHEST from their own centroid — "
        "locally off-mode samples a single global centroid cannot see "
        "(a vector can sit near the corpus mean yet far from every "
        "mode). The ENTIRE pipeline — corpus-sized k, training rounds, "
        "final assignment, per-cluster ranking — unrolls into one DuckDB "
        "statement and is value-hash-checked. Scale shape: training is "
        "the measured kmeans loop; the scoring pass is one broadcast "
        "cosine per vector against its assigned centroid (no pair term, "
        "no shuffle wider than (vec_id, cluster, cos)); ranking "
        "partitions by cluster, so no single-partition window."
    ),
)
def sim_outlier_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: per-call working-set pin (see semantic_dedup) — training, the
    # assign pass and the scoring join share one materialized corpus.
    e = _pin(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_train(e, k=semantic_k(e.count()), n_iters=2)
    assigned = kmeans_assign(e, cents)  # (vec_id, cluster, emb, nrm)
    scored = assigned.join(
        F.broadcast(cents.df.select("cluster", "centroid")), "cluster"
    ).select(
        "vec_id",
        "cluster",
        (
            dot(F.col("emb"), F.col("centroid"))
            / (
                F.col("nrm")
                * F.sqrt(dot(F.col("centroid"), F.col("centroid")))
            )
        ).alias("cos"),
    )
    w = Window.partitionBy("cluster").orderBy(F.asc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= OUTLIER_PER_CLUSTER)
        .select("cluster", "vec_id", "rn")
    )


def build_ivf_pq_index(embeddings: DataFrame, path: str) -> None:
    """Materialize the FULL IVF-PQ index as parquet — ``<path>/coarse``
    (nlist = ceil(sqrt(n)) centroids), ``<path>/assign`` (vec_id ->
    coarse cell), ``<path>/codebook`` and ``<path>/codes`` (the PQ
    half). Both trainings share one sample fetch and both encodes read
    the raw vectors once, HERE; the serving query never does. Each
    assign/encode uses the value just trained; doubles round-trip
    parquet exactly, so the written assignment and codes equal what the
    persisted index gives."""
    sample = train_sample(embeddings)
    cents = kmeans_train(sample, k=ivf_coarse_k(embeddings.count()), n_iters=2)
    cents.df.write.mode("overwrite").parquet(f"{path}/coarse")
    kmeans_assign(embeddings, cents).select("vec_id", "cluster").write.mode(
        "overwrite"
    ).parquet(f"{path}/assign")
    cb = pq_train_codebooks(sample, k=16, n_iters=3)
    cb.df.write.mode("overwrite").parquet(f"{path}/codebook")
    pq_encode(embeddings, cb).write.mode("overwrite").parquet(f"{path}/codes")


#: per-sf_dir cache of built IVF-PQ index paths (setup state)
_IVF_PQ_INDEX_PATHS: dict[str, str] = {}


def _ivf_pq_index_for(spark: SparkSession, sf_dir: str) -> str:
    path = _IVF_PQ_INDEX_PATHS.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="ivf_pq_index_")
        build_ivf_pq_index(load_table(spark, sf_dir, "embeddings"), path)
        _IVF_PQ_INDEX_PATHS[sf_dir] = path
    return path


@register(
    "sim_ann_ivf_pq_indexed",
    oracle=_ivf_pq_oracle(),
    doc=(
        "IVFADC SERVING against a PERSISTED two-quantizer index: coarse "
        "centroids, cell assignment, PQ codebooks, and codes all load "
        "from parquet (built once by build_ivf_pq_index — the "
        "tools/ivf_pq_scale_probe.py shape, where the serve leg "
        "measured FLAT at 1.6-1.8 s across a 100x corpus while "
        "candidates grew only sqrt-fold). The query computes just the "
        "per-query coarse probes + integer LUTs (broadcast), restricts "
        "the ADC scan to the probed cells via an equi-join on the "
        "persisted assignment, and re-ranks the shortlist exactly. "
        "Result is identical to sim_ann_ivf_pq (the index is a "
        "deterministic function of the corpus), so the same unrolled "
        "double-Lloyd's oracle applies; no training stage appears in "
        "the serving plan."
    ),
)
def sim_ann_ivf_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ivf_pq_index_for(spark, sf_dir)
    return ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        coarse=spark.read.parquet(f"{path}/coarse"),
        assigned=spark.read.parquet(f"{path}/assign"),
        codebook=spark.read.parquet(f"{path}/codebook"),
        codes=spark.read.parquet(f"{path}/codes"),
    )
