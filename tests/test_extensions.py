"""Behavioral tests for the LLM-data-pipeline extension operators.

Oracle parity (test_oracle_parity) proves Spark==DuckDB; these tests prove the
operators actually *work*: planted near-duplicates are found, clean documents
are not falsely paired, ANN returns its planted neighbor, multimodal plumbing
round-trips bytes through Arrow batches.
"""

import pytest
from pyspark.sql import functions as F

from aws_logs_parquet_converter_spark.operators.dedup import (
    exact_dedup_keys,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from aws_logs_parquet_converter_spark.operators.multimodal import (
    binary_feature_extract,
    decode_image,
    with_binary_payload,
)
from aws_logs_parquet_converter_spark.operators.similarity import brute_force_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from the "
    "window and the birds sing in the garden under a bright morning sun with "
    "gentle wind moving through the tall green trees near the quiet river bank"
)
NEAR_DUP = BASE.replace("morning sun", "evening sun").replace("quiet river", "small river")
UNRELATED = (
    "distributed query engines shuffle partitioned data across executor nodes "
    "using hash exchanges while the optimizer prunes columns and pushes filters "
    "into columnar scans to minimize network and memory pressure at scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, NEAR_DUP),
        (2, UNRELATED),
        (3, BASE),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_finds_planted_dup(docs):
    out = exact_dedup_keys(docs).where(F.col("n_copies") > 1).collect()
    assert len(out) == 1
    assert out[0].keep_doc_id == 0 and out[0].n_copies == 2


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs or (0, 3) in pairs  # near/exact dup caught
    assert pairs.get((0, 3), 1.0) == 1.0  # exact dup -> all 16 minhashes equal
    # planted near-dup has high estimated jaccard
    if (0, 1) in pairs:
        assert pairs[(0, 1)] >= 0.5
    # unrelated text never pairs with the base
    assert (0, 2) not in pairs and (1, 2) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_scores(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert pairs[(0, 3)] == 1.0
    assert pairs[(0, 1)] > 0.6  # two 2-word edits in a 40-word doc
    assert (0, 2) not in pairs  # no shared shingles at all


def test_simhash_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs).collect()}
    assert pairs[(0, 3)] == 0  # identical docs -> identical sketch
    assert (0, 2) not in pairs and (1, 2) not in pairs
    # The banding GUARANTEE is Hamming <= 3 (any pair within 3 shares one of
    # the 4 15-bit bands by pigeonhole); short ~40-token docs put even
    # 1-2 word edits at Hamming ~7 of 60 (noisy sketch -> probabilistic
    # recall; MinHash-LSH is the short-doc tool and its test pins that
    # case). Verify the guarantee boundary directly with the sketches:
    from aws_logs_parquet_converter_spark.operators.dedup import simhash_sketch

    sk = {r.doc_id: r.simhash for r in simhash_sketch(docs).collect()}
    assert bin(sk[0] ^ sk[1]).count("1") <= 12  # near-dup is near in sketch space
    assert bin(sk[0] ^ sk[2]).count("1") >= 15  # unrelated doc is far


def test_brute_force_topk_finds_planted_neighbor(spark):
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])] + [
        (i, [float(rng.gauss(0, 1)) for _ in range(16)]) for i in range(2, 30)
    ]
    em = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = brute_force_topk(em, em.where(F.col("vec_id") == 0), k=1).collect()
    assert len(out) == 1
    assert out[0].neighbor_id == 1  # the planted near-copy wins rank 1


def test_multimodal_plumbing_roundtrip(docs):
    feats = {r.doc_id: r for r in binary_feature_extract(with_binary_payload(docs)).collect()}
    import hashlib

    assert feats[0].byte_len == len(BASE.encode())
    assert feats[0].digest == hashlib.md5(BASE.encode()).hexdigest()
    assert feats[0].digest == feats[3].digest != feats[2].digest


def test_decode_rejects_unsupported_magic():
    # PNG is deliberately unsupported (compressed codecs are out of scope);
    # the ValueError is what operators/multimodal.py maps to dead-letter rows.
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG...")


def test_approx_sketches_within_error_bounds(spark):
    """HLL++ distinct counts within 5% of exact; approx median within the
    exact p40-p60 band — a real accuracy contract for the oracle-less query."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.relational import q_approx_sketches

    sf = "/root/testdata/sf0.01"
    approx = {r.l_returnflag: r for r in q_approx_sketches(spark, sf).collect()}
    li = load_table(spark, sf, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.expr("percentile(l_extendedprice, array(0.4, 0.5, 0.6))").alias("p"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a.approx_parts - e.n_parts) / e.n_parts < 0.05
        p40, _, p60 = e.p
        assert p40 <= a.price_quantiles[0] <= p60


def test_connected_components_on_known_graph(spark):
    from aws_logs_parquet_converter_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["doc_a", "doc_b"],
    )
    got = {
        (r["node"], r["label"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_chain_diameter(spark):
    # a 12-node path graph exercises multi-iteration propagation
    from aws_logs_parquet_converter_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["doc_a", "doc_b"]
    )
    labels = connected_components(edges).collect()
    assert {r["label"] for r in labels} == {0}
    assert len(labels) == 12


def test_levenshtein_pairs_blocked_near_dup(spark):
    from aws_logs_parquet_converter_spark.operators.dedup import levenshtein_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    )
    rows = [
        (0, base),
        (1, base.replace("sigma tau", "sigma taw")),  # 1 edit, same prefix
        (2, "totally different text about query engines and shuffles"),
        (3, "alpha beta gamma delta " + "x" * 200),  # same block, too distant
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.doc_a, r.doc_b): r.edit_dist for r in levenshtein_pairs(docs).collect()}
    assert pairs.get((0, 1)) == 1  # near-dup found with exact distance
    assert all(a != 2 and b != 2 for a, b in pairs)  # different block: never a candidate
    assert (0, 3) not in pairs and (1, 3) not in pairs  # candidate but over threshold


def test_sketch_rollup_close_to_exact(spark):
    from aws_logs_parquet_converter_spark.operators.profiling import q_sketch_rollup

    from aws_logs_parquet_converter_spark.catalog import load_table

    sf = "/root/testdata/sf0.01"
    est = {r.week: r.est_users for r in q_sketch_rollup(spark, sf).collect()}
    ev = load_table(spark, sf, "events")
    exact = {
        r.week: r.n
        for r in ev.groupBy(
            F.date_trunc("week", F.to_date("ts")).cast("date").alias("week")
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for wk, e in est.items():
        assert abs(e - exact[wk]) / exact[wk] < 0.02  # HLL default lgK=12: ~1.6% rse


def test_rplsh_multi_table_recall_floor(spark):
    """OR-amplified sign-LSH: recall vs exact ground truth at cos>=0.3 must
    clear 10% at sf0.01 (single-table measured 2.5%; 8 tables measured
    ~15%). Precision is 1.0 by construction (exact cosine confirm)."""
    import duckdb

    from aws_logs_parquet_converter_spark.operators import all_queries

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')")
    truth = {tuple(r) for r in con.execute("""
      SELECT a.vec_id, b.vec_id FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.embedding, b.embedding) >= 0.3
        * sqrt(list_dot_product(a.embedding, a.embedding))
        * sqrt(list_dot_product(b.embedding, b.embedding))
    """).fetchall()}
    ann = {(r["vec_a"], r["vec_b"]) for r in all_queries()["sim_ann_rplsh"](spark, sf).collect()}
    assert ann <= truth  # exact confirm: every emitted pair is a true pair
    assert len(truth & ann) / len(truth) >= 0.10


def test_kmeans_recovers_planted_blobs(spark):
    """3 well-separated Gaussian blobs: after 3 iterations the trained
    centroids land near the blob means and the run is deterministic
    (integer-scaled sums + md5 init => identical across invocations)."""
    import random

    from aws_logs_parquet_converter_spark.operators.similarity import kmeans_train

    rng = random.Random(11)
    means = [[8.0] * 8, [-8.0] * 8, [8.0] * 4 + [-8.0] * 4]
    rows = []
    for i in range(240):
        m = means[i % 3]
        rows.append((i, [float(x + rng.gauss(0, 0.3)) for x in m]))
    em = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.cluster: r for r in kmeans_train(em, k=3, n_iters=3).df.collect()}
    assert len(out) == 3
    assert sum(r.n_members for r in out.values()) == 240
    # every trained centroid sits within 0.5 of one true blob mean
    for r in out.values():
        best = min(
            max(abs(a - b) for a, b in zip(r.centroid, m)) for m in means
        )
        assert best < 0.5, (r.cluster, best)
    # deterministic re-run
    again = {
        r.cluster: r.centroid for r in kmeans_train(em, k=3, n_iters=3).df.collect()
    }
    assert {c: tuple(v) for c, v in again.items()} == {
        c: tuple(r.centroid) for c, r in out.items()
    }


def test_jaccard_doc_frequency_cap_drops_boilerplate_shingles(spark):
    """The DF cap removes ultra-common (boilerplate) shingles from the
    inverted index: docs related ONLY through the boilerplate stop pairing,
    while genuinely near-dup docs still pair."""
    from aws_logs_parquet_converter_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter for updates and offers every day now"
    rows = [
        (0, BASE + " " + boiler),
        (1, NEAR_DUP + " " + boiler),
        (2, UNRELATED + " " + boiler),
        (3, "completely separate text on gardening tips " + boiler),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.05, max_doc_frequency=0.6).collect()
    }
    assert (2, 3) in uncapped  # boilerplate alone pairs unrelated docs
    assert (2, 3) not in capped  # the cap removes that false pair
    assert (0, 1) in capped  # true near-dups survive the cap


def test_star_components_match_propagation_and_handle_long_chains(spark):
    import random

    from aws_logs_parquet_converter_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # random graph: both algorithms agree exactly
    rng = random.Random(3)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got_star = {(r.node, r.label) for r in connected_components_star(e).collect()}
    got_prop = {(r.node, r.label) for r in connected_components(e).collect()}
    assert got_star == got_prop

    # 120-node chain: diameter exceeds propagation budgets quickly; the
    # star method stays O(log n) rounds and labels the whole chain 0
    chain = spark.createDataFrame([(i, i + 1) for i in range(119)], ["doc_a", "doc_b"])
    labels = connected_components_star(chain, max_rounds=12).collect()
    assert len(labels) == 120
    assert {r.label for r in labels} == {0}


def test_components_raise_past_diameter_cap_and_report_rounds(spark):
    """Propagation past its iteration cap must RAISE, never return a
    partial labeling (split components silently corrupt every dedup
    survivorship decision downstream); the star variant labels the same
    graph in O(log n) rounds, both reporting rounds via ``stats``."""
    import pytest

    from aws_logs_parquet_converter_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], ["doc_a", "doc_b"]
    )  # diameter 39 > cap 8
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iters=8)

    st: dict = {}
    labels = connected_components_star(chain, stats=st).collect()
    assert {r.label for r in labels} == {0} and len(labels) == 40
    assert 1 <= st["rounds"] <= 10  # log-bounded, never ~diameter

    st2: dict = {}
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["doc_a", "doc_b"])
    got = {
        (r.node, r.label)
        for r in connected_components(tri, stats=st2).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0)}
    assert st2["rounds"] >= 1  # converged, rounds reported


def test_image_near_dup_semantics(spark):
    """Planted light variants pair with their bases (cross-format: ppm base
    vs bmp variant); the heavy (half-inverted) variant pairs with nothing."""
    from aws_logs_parquet_converter_spark.operators.multimodal import (
        mm_image_near_dup,
    )

    pairs = {(r.img_a, r.img_b) for r in mm_image_near_dup(spark, "").collect()}
    assert pairs == {
        ("nd_0_base.ppm", "nd_0_light.bmp"),
        ("nd_1_base.ppm", "nd_1_light.bmp"),
        ("nd_2_base.ppm", "nd_2_light.bmp"),
    }
    assert not any("heavy" in a or "heavy" in b for a, b in pairs)


def test_audio_near_dup_semantics(spark):
    """Light audio variants pair with their bases (one at Hamming 0, one at
    a small nonzero Hamming the confirm stage tolerates); the half-reversed
    heavy variant shares a band bucket but FAILS the Hamming confirm."""
    from aws_logs_parquet_converter_spark.operators.multimodal import (
        mm_audio_near_dup,
    )

    pairs = {(r.img_a, r.img_b): r.hamming for r in mm_audio_near_dup(spark, "").collect()}
    assert set(pairs) == {
        ("au_0_base.wav", "au_0_light.wav"),
        ("au_1_base.wav", "au_1_light.wav"),
    }
    assert pairs[("au_1_base.wav", "au_1_light.wav")] > 0
    assert not any("heavy" in a or "heavy" in b for (a, b) in pairs)


def test_triangle_count_known_graph(spark):
    # K4 on {0,1,2,3}: each node in C(3,2)=3 triangles; pendant 4-5 edge: none
    from aws_logs_parquet_converter_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(4, 5)],
        "doc_a bigint, doc_b bigint",
    )
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_band_index_lifecycle_build_probe_append(spark, tmp_path):
    """The persisted MinHash band index supports the full daily cycle:
    build (day 0 corpus) -> probe (day 1 batch) -> append day 1's
    signatures/bands -> probe day 2 against the GROWN index. Each probe's
    pairs must equal the full-corpus candidate set restricted to pairs
    whose higher id is in that day's batch — i.e. appending instead of
    rebuilding loses nothing."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.dedup import (
        build_band_index,
        incremental_minhash_pairs,
        lsh_bands,
        minhash_signature,
        minhash_lsh_pairs,
        shingles,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    d1, d2 = 300, 400  # day boundaries: corpus < d1, day1 [d1, d2), day2 >= d2
    idx = str(tmp_path / "idx")
    build_band_index(docs, idx, split=d1)

    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs).collect()
    }

    day1 = docs.where((F.col("doc_id") >= d1) & (F.col("doc_id") < d2))
    got1 = {
        (r.doc_a, r.doc_b)
        for r in incremental_minhash_pairs(spark, day1, idx).collect()
    }
    want1 = {(a, b) for (a, b) in full if d1 <= b < d2}
    assert got1 == want1

    # append day 1 to the index (the daily maintenance step: batch
    # signatures/bands append; corpus text untouched)
    sig1 = minhash_signature(shingles(day1))
    sig1.write.mode("append").parquet(f"{idx}/signatures")
    lsh_bands(sig1).write.mode("append").parquet(f"{idx}/bands")

    day2 = docs.where(F.col("doc_id") >= d2)
    got2 = {
        (r.doc_a, r.doc_b)
        for r in incremental_minhash_pairs(spark, day2, idx).collect()
    }
    want2 = {(a, b) for (a, b) in full if b >= d2}
    assert got2 == want2


def test_incremental_exact_dedup_flags(spark, tmp_path):
    """Synthetic batch exercising every flag combination: corpus repeat,
    in-batch repeat, both, and fresh text (the sf0.001/0.01 fixtures have
    no exact dups across the split boundary, so this pins the semantics)."""
    from aws_logs_parquet_converter_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_exact_dedup,
    )

    corpus = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "beta")], "doc_id bigint, text string"
    )
    idx = str(tmp_path / "fp")
    build_fingerprint_index(corpus, idx, split=100)

    batch = spark.createDataFrame(
        [
            (100, "alpha"),   # repeats corpus -> drop
            (101, "gamma"),   # fresh, first -> keep
            (102, "gamma"),   # repeats 101 in-batch -> drop
            (103, "beta"),    # repeats corpus AND unique in batch -> drop
            (104, "delta"),   # fresh -> keep
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in incremental_exact_dedup(spark, batch, idx).collect()
    }
    assert {d for d, r in rows.items() if r.keep} == {101, 104}
    assert rows[100].seen_in_corpus and rows[103].seen_in_corpus
    assert not rows[101].seen_in_corpus and not rows[102].seen_in_corpus
    assert rows[101].first_in_batch and not rows[102].first_in_batch


def test_pq_index_lifecycle_build_append_serve(spark, tmp_path):
    """The persisted PQ index supports the daily cycle: build (day-0
    corpus trains codebooks + encodes), append day-1 and day-2 batches
    against the FROZEN codebooks, serve after each append. Appending must
    equal encode-everything-with-the-old-codebooks — i.e. the incremental
    path loses nothing vs a monolithic encode pass."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        build_pq_index,
        pq_adc_topk,
        pq_append_batch,
        pq_encode,
    )

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    d1, d2 = 300, 400
    idx = str(tmp_path / "pq")
    build_pq_index(e.where(F.col("vec_id") < d1), idx)
    cb = spark.read.parquet(f"{idx}/codebook")
    assert cb.count() == 16 * 8

    pq_append_batch(
        spark, idx, e.where((F.col("vec_id") >= d1) & (F.col("vec_id") < d2))
    )
    pq_append_batch(spark, idx, e.where(F.col("vec_id") >= d2))

    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == e.count() * 8  # every vector encoded exactly once
    # appended codes == what a monolithic encode with the same frozen
    # codebooks would produce
    mono = {
        (r.vec_id, r.m): r.code for r in pq_encode(e, cb).collect()
    }
    got = {(r.vec_id, r.m): r.code for r in codes.collect()}
    assert got == mono

    # serving from the grown index answers over the whole corpus
    topk = pq_adc_topk(e, codebook=cb, codes=codes).collect()
    assert {r.query_id for r in topk} == set(range(8))
    assert max(r.neighbor_id for r in topk) >= d1  # new vectors retrievable


def test_pq_stream_merge_replay_is_idempotent(spark, tmp_path):
    """The streaming PQ ingest commit (batch-keyed dynamic overwrite) must
    converge under micro-batch replay: re-committing the same batch —
    including over PARTIAL residue from a crashed first attempt — leaves
    the codes table byte-equal; a different batch id appends."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        build_pq_index,
        pq_stream_merge_batch,
    )

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "pq")
    build_pq_index(e.where(F.col("vec_id") < 300), idx)
    # restructure day-1 codes into the stream's batch-partitioned layout
    import os
    import shutil

    spark.read.parquet(f"{idx}/codes").withColumn(
        "batch", F.lit(-1)
    ).write.partitionBy("batch").parquet(f"{idx}/codes_p")
    shutil.rmtree(f"{idx}/codes")
    os.rename(f"{idx}/codes_p", f"{idx}/codes")

    def table():
        rows = spark.read.parquet(f"{idx}/codes").drop("batch").collect()
        return sorted((r.vec_id, r.m, r.code) for r in rows)

    batch = e.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    # crashed attempt: batch 0 committed only a partial prefix
    pq_stream_merge_batch(batch.where(F.col("vec_id") < 350), 0, idx)
    n_partial = len(table())
    pq_stream_merge_batch(batch, 0, idx)  # replay with full content
    full = table()
    assert len(full) > n_partial
    pq_stream_merge_batch(batch, 0, idx)  # replay again: no change
    assert table() == full
    assert len(full) == 400 * 8  # every vector coded exactly once
    pq_stream_merge_batch(e.where(F.col("vec_id") >= 400), 1, idx)
    assert len(table()) == e.count() * 8


def test_rplsh_index_lifecycle_build_probe_append(spark, tmp_path):
    """The persisted sign-LSH bucket index supports the full daily cycle:
    build (day 0 vectors) -> probe (day 1 batch) -> append day 1's
    vectors/buckets -> probe day 2 against the GROWN index. Each probe's
    pairs must equal the batch-oblivious rplsh_pairs set restricted to
    pairs whose higher id is in that day's batch — appending instead of
    rebuilding loses nothing."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        N_PLANES,
        build_rplsh_index,
        incremental_rplsh_pairs,
        rplsh_append_batch,
        rplsh_pairs,
    )

    sf = "/root/testdata/sf0.001"
    em = load_table(spark, sf, "embeddings")
    d1, d2 = 300, 400  # corpus < d1, day1 [d1, d2), day2 >= d2
    idx = str(tmp_path / "idx")
    build_rplsh_index(em, idx, split=d1)

    full = {(r.vec_a, r.vec_b) for r in rplsh_pairs(em, bits=N_PLANES).collect()}

    day1 = em.where((F.col("vec_id") >= d1) & (F.col("vec_id") < d2))
    got1 = {
        (r.vec_a, r.vec_b)
        for r in incremental_rplsh_pairs(spark, day1, idx).collect()
    }
    assert got1 == {(a, b) for (a, b) in full if d1 <= b < d2}

    rplsh_append_batch(spark, idx, day1)

    day2 = em.where(F.col("vec_id") >= d2)
    got2 = {
        (r.vec_a, r.vec_b)
        for r in incremental_rplsh_pairs(spark, day2, idx).collect()
    }
    assert got2 == {(a, b) for (a, b) in full if b >= d2}


def test_semantic_dedup_drops_planted_cluster_dup(spark):
    """SemDeDup semantics on planted structure: two well-separated blobs,
    one near-identical pair planted inside blob A. The pair's higher id is
    dropped; everything else (including the cross-blob vectors, which are
    dissimilar by construction) is kept, and the planted pair lands in the
    same learned cluster."""
    from pyspark.sql import functions as F  # noqa: F401

    from aws_logs_parquet_converter_spark.operators.similarity import (
        DIM,
        semantic_dedup,
    )

    def vec(axis, i):
        # dominant blob axis + a UNIQUE secondary axis per vector: in-blob
        # cosine is 1/(1+0.3^2) ~= 0.917 < 0.99, cross-blob ~= 0
        v = [0.0] * DIM
        v[axis] = 1.0
        v[8 + i] = 0.3
        return v

    rows = []
    for i in range(20):  # blob A on axis 0
        rows.append((i, vec(0, i)))
    for i in range(20, 40):  # blob B on axis 1
        rows.append((i, vec(1, i)))
    rows.append((40, vec(0, 0)))  # exact copy of vec_id 0 (blob A)
    em = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    out = {r.vec_id: r for r in semantic_dedup(em, k=2, n_iters=2, threshold=0.99).collect()}
    assert len(out) == 41
    assert out[40].keep is False  # the planted copy's higher id is dropped
    assert out[0].keep is True
    assert out[40].cluster == out[0].cluster  # same learned block
    # everything else is kept: no other pair clears 0.99 anywhere
    assert sum(1 for v in out.values() if v.keep) == 40


def test_semantic_index_lifecycle_build_probe_append(spark, tmp_path):
    """The persisted semantic-dedup index supports the full daily cycle:
    build (train + assign day-0 corpus) -> probe day 1 -> append day 1's
    assignments -> probe day 2 against the GROWN index. The union of the
    sequential probes must equal a ONE-SHOT probe of [d1, inf) against
    the original index — appending instead of rebuilding loses nothing,
    and the centroids never retrain."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        build_semantic_index,
        semantic_append_batch,
        semantic_append_pairs,
    )

    sf = "/root/testdata/sf0.001"
    em = load_table(spark, sf, "embeddings")
    d1, d2 = 300, 400  # corpus < d1, day1 [d1, d2), day2 >= d2
    idx = str(tmp_path / "idx")
    idx2 = str(tmp_path / "idx_oneshot")
    build_semantic_index(em.where(F.col("vec_id") < d1), idx)
    build_semantic_index(em.where(F.col("vec_id") < d1), idx2)

    day1 = em.where((F.col("vec_id") >= d1) & (F.col("vec_id") < d2))
    got1 = {
        (r.vec_a, r.vec_b)
        for r in semantic_append_pairs(spark, day1, idx).collect()
    }
    assert got1 and all(d1 <= b < d2 for _, b in got1)

    semantic_append_batch(spark, idx, day1)

    day2 = em.where(F.col("vec_id") >= d2)
    got2 = {
        (r.vec_a, r.vec_b)
        for r in semantic_append_pairs(spark, day2, idx).collect()
    }
    assert all(b >= d2 for _, b in got2)

    oneshot = {
        (r.vec_a, r.vec_b)
        for r in semantic_append_pairs(
            spark, em.where(F.col("vec_id") >= d1), idx2
        ).collect()
    }
    assert got1 | got2 == oneshot


def test_seq_kernel_matches_expression_assign(spark, tmp_path):
    """The two assign implementations must agree BIT for bit:
    ``kmeans_assign`` with a trained ``Centroids`` runs the Arrow
    sequential-fold kernel, and with the same centroids written to and
    read back from parquet (a persisted index) it runs the in-plan
    fold. Both exist because the serving plans must show the index
    FileScan while training and index builds run the kernel. Compares
    full (vec_id, cluster, nrm) output on the fixture corpus."""
    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
    )

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_train(em, k=8, n_iters=2)
    path = str(tmp_path / "centroids")
    cents.df.write.parquet(path)

    def assign(c):
        return {
            r["vec_id"]: (r["cluster"], r["nrm"])
            for r in kmeans_assign(em, c).collect()
        }

    # exact equality including the float64 norms
    assert assign(cents) == assign(spark.read.parquet(path))


def test_seq_pq_kernel_matches_expression_encode(spark, tmp_path):
    """``pq_encode`` with a trained codebook ``Centroids`` (Arrow kernel)
    must reproduce the in-plan pack-join + argmax over the same codebook
    read back from parquet, code for code."""
    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = pq_train_codebooks(em, k=16, n_iters=2)
    path = str(tmp_path / "codebook")
    cb.df.write.parquet(path)

    def encode(c):
        return {(r["vec_id"], r["m"]): r["code"] for r in pq_encode(em, c).collect()}

    assert encode(cb) == encode(spark.read.parquet(path))


def test_kernel_and_fold_agree_on_nan_vectors(spark, tmp_path):
    """A NaN component makes every score of that vector NaN. Catalyst
    orders NaN above every double, so the in-plan fold picks the
    smallest cluster id; the kernel must do the same (a NaN beats any
    finite best, the first NaN wins). Pinned for the coarse assign, the
    per-subspace encode (only the NaN's own subspace is affected) and a
    persisted index holding a NaN centroid."""
    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        DIM,
        SUB_DIM,
        Centroids,
        kmeans_assign,
        kmeans_train,
        pq_encode,
        pq_train_codebooks,
    )

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_train(em, k=8, n_iters=2)
    cb = pq_train_codebooks(em, k=16, n_iters=2)
    cents.df.write.parquet(str(tmp_path / "c"))
    cb.df.write.parquet(str(tmp_path / "cb"))
    nan_at = {5: 3, 7: DIM - 1}  # vec_id -> NaN position
    emb = F.col("embedding").cast("array<double>")
    for vid, pos in nan_at.items():
        emb = F.when(
            F.col("vec_id") == vid,
            F.transform(
                emb, lambda x, i: F.when(i == pos, F.lit(float("nan"))).otherwise(x)
            ),
        ).otherwise(emb)
    corpus = em.select("vec_id", emb.alias("embedding"))
    # training on the NaN corpus: a NaN component adds nothing to its
    # cluster's integer sum while its vector still counts as a member, so
    # every trained value stays finite (the distributed SQL-sum loop did
    # the same: NULL components were skipped)
    import math

    trained = kmeans_train(corpus, k=8, n_iters=2).rows
    assert sum(r["n_members"] for r in trained) == em.count()
    codebook = pq_train_codebooks(corpus, k=16, n_iters=2).rows
    values = [x for r in trained for x in r["centroid"] + [r["half_cnorm"]]]
    values += [x for r in codebook for x in r["c_sub"] + [r["half_cnorm"]]]
    assert all(math.isfinite(x) for x in values)

    def assign(c):
        return {r["vec_id"]: r["cluster"] for r in kmeans_assign(corpus, c).collect()}

    def encode(c):
        return {
            (r["vec_id"], r["m"]): r["code"] for r in pq_encode(corpus, c).collect()
        }

    kern = assign(cents)
    assert kern == assign(spark.read.parquet(str(tmp_path / "c")))
    first = min(r["cluster"] for r in cents.rows)
    assert all(kern[vid] == first for vid in nan_at)

    codes = encode(cb)
    assert codes == encode(spark.read.parquet(str(tmp_path / "cb")))
    for vid, pos in nan_at.items():
        m = pos // SUB_DIM
        assert codes[(vid, m)] == min(r["cluster"] for r in cb.rows if r["m"] == m)

    # a NaN CENTROID scores NaN for every vector, so it beats every
    # finite score: every finite vector lands in it, through either path
    # (the NaN vectors still score NaN everywhere and keep the first id)
    second = sorted(r["cluster"] for r in cents.rows)[1]
    nan_c = F.transform(
        "centroid", lambda x, i: F.when(i == 0, F.lit(float("nan"))).otherwise(x)
    )
    spark.read.parquet(str(tmp_path / "c")).withColumn(
        "centroid",
        F.when(F.col("cluster") == second, nan_c).otherwise(F.col("centroid")),
    ).write.parquet(str(tmp_path / "c_nan"))
    persisted = spark.read.parquet(str(tmp_path / "c_nan"))
    kern = assign(Centroids.from_frame(persisted))
    assert kern == assign(persisted)
    assert {v: kern[v] for v in nan_at} == {v: first for v in nan_at}
    assert {c for v, c in kern.items() if v not in nan_at} == {second}


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_each_training_launches_one_spark_job(spark):
    """A training is one Spark job, the sample fetch: every Lloyd's round
    runs on the driver. ``ivf_pq_topk``'s two trainings share one fetch,
    so building it costs the pinned corpus's count plus ONE training."""
    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        _pin,
        ivf_pq_topk,
        kmeans_train,
        pq_train_codebooks,
        train_sample,
    )

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assert _jobs(spark, lambda: kmeans_train(em, k=4, n_iters=3)) == 1
    assert _jobs(spark, lambda: pq_train_codebooks(em, k=16, n_iters=3)) == 1

    def both():
        sample = train_sample(em)
        kmeans_train(sample, k=23, n_iters=2)
        pq_train_codebooks(sample, k=16, n_iters=3)

    assert _jobs(spark, both) == 1
    pin_and_count = _jobs(spark, lambda: _pin(em).count())
    assert _jobs(spark, lambda: ivf_pq_topk(em)) == pin_and_count + 1


def test_training_sample_spec_is_shared_with_the_oracles(
    spark, tmp_path, monkeypatch
):
    """Engine and DuckDB oracles train on the same sample: with
    ``TRAIN_SAMPLE_ROWS`` at 200 of the fixture's 500 vectors,
    ``kmeans_train`` equals ``_kmeans_oracle`` and ``pq_train_codebooks``
    equals ``_pq_trained_cb_cte``, each rendered under that cap. The
    second corpus copies the first-ranked vector over the second, so
    k-means seeds 0 and 1 tie everywhere: cluster 1 empties in the first
    round and drops out without renumbering the others."""
    import duckdb

    from aws_logs_parquet_converter_spark.functions.text import sql_hash60
    from aws_logs_parquet_converter_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "TRAIN_SAMPLE_ROWS", 200)
    src = "/root/testdata/sf0.001/embeddings.parquet"
    con = duckdb.connect()
    h = sql_hash60("CAST(vec_id AS VARCHAR)", seed="km")
    first, second = (
        r[0]
        for r in con.execute(
            f"SELECT vec_id FROM read_parquet('{src}') ORDER BY {h}, vec_id LIMIT 2"
        ).fetchall()
    )
    dup = str(tmp_path / "dup.parquet")
    con.execute(
        f"""COPY (
          SELECT vec_id,
                 CASE WHEN vec_id = {second}
                      THEN (SELECT embedding FROM read_parquet('{src}')
                            WHERE vec_id = {first})
                      ELSE embedding END AS embedding
          FROM read_parquet('{src}')) TO '{dup}' (FORMAT parquet)"""
    )
    pq_sql = f"""WITH {sim._ESUB_CTE}, {sim._pq_trained_cb_cte(16, 3)}
        SELECT m, cluster, c_sub, half_n FROM trained"""
    for path in (src, dup):
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
        )
        em = spark.read.parquet(path)
        km = sorted(
            (r.cluster, r.n_members, list(r.centroid))
            for r in sim.kmeans_train(em, k=4, n_iters=3).df.collect()
        )
        assert km == sorted(
            (c, n, list(v)) for c, n, v in con.execute(sim._kmeans_oracle(4, 3)).fetchall()
        )
        assert sum(n for _, n, _ in km) == 200  # members counted over the sample
        pq = sorted(
            (r.m, r.cluster, list(r.c_sub), r.half_n)
            for r in sim.pq_train_codebooks(em, k=16, n_iters=3).df.collect()
        )
        assert pq == sorted(
            (m, c, list(v), hn) for m, c, v, hn in con.execute(pq_sql).fetchall()
        )
    assert [c for c, _, _ in km] == [0, 2, 3]


def test_empty_corpus_returns_empty_frames(spark):
    """An empty corpus trains no centroids; the kernels then see no
    batch, so each entry point returns an empty frame with its
    documented schema instead of failing."""
    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        ivf_pq_topk,
        kmeans_assign,
        kmeans_train,
        semantic_dedup,
    )

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(0)
    cases = [
        (
            semantic_dedup(em),
            [("vec_id", "bigint"), ("cluster", "int"), ("keep", "boolean")],
        ),
        (
            kmeans_assign(em, kmeans_train(em, k=4, n_iters=2)),
            [
                ("vec_id", "bigint"),
                ("cluster", "int"),
                ("emb", "array<double>"),
                ("nrm", "double"),
            ],
        ),
        (
            ivf_pq_topk(em),
            [("query_id", "bigint"), ("neighbor_id", "bigint"), ("rn", "int")],
        ),
    ]
    for df, schema in cases:
        assert df.dtypes == schema
        assert df.count() == 0


def test_assign_and_encode_plans_follow_argument_type(spark, tmp_path):
    """A trained ``Centroids`` plans the Arrow kernel (a Python map node,
    no nested-loop join); the same centroids read back from parquet keep
    the in-plan fold, whose plan scans the persisted index."""
    from aws_logs_parquet_converter_spark.catalog import load_table
    from aws_logs_parquet_converter_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
        pq_encode,
        pq_train_codebooks,
    )

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_train(em, k=4, n_iters=1)
    cb = pq_train_codebooks(em, k=16, n_iters=1)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for op, value, name in (
        (kmeans_assign, cents, "centroids"),
        (pq_encode, cb, "codebook"),
    ):
        path = str(tmp_path / name)
        value.df.write.parquet(path)
        kern = plan(op(em, value))
        assert "MapInPandas" in kern, kern
        assert "BroadcastNestedLoopJoin" not in kern
        fold = op(em, spark.read.parquet(path))
        assert "MapInPandas" not in plan(fold)
        # the persisted index is one of the plan's file scans
        assert any(path in f for f in fold.inputFiles()), fold.inputFiles()


def test_stateful_width_rule(spark):
    """r13: the stateful-stream state-partition rule is input-size-derived
    and clamped to [1, defaultParallelism]."""
    from aws_logs_parquet_converter_spark.streaming.events import (
        STREAM_STATE_BYTES_PER_PARTITION,
        stateful_width,
    )

    cores = spark.sparkContext.defaultParallelism
    w = stateful_width(spark, "/root/testdata/sf0.001")
    assert 1 <= w <= cores
    import os

    nbytes = os.path.getsize("/root/testdata/sf0.001/events.parquet")
    assert w == max(
        1, min(cores, -(-nbytes // STREAM_STATE_BYTES_PER_PARTITION))
    )
    # a missing source falls back to full width, never a crash
    assert stateful_width(spark, "/nonexistent") == cores
