"""Behavioral tests for the training-data-pipeline operators on
hand-made fixtures with KNOWN duplicates/neighbors — the synthetic
driver tables have none, so oracle parity alone can't prove the
operators detect anything."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skysafe_datalake_spark.functions import text as T
from skysafe_datalake_spark.operators import dedup as D
from skysafe_datalake_spark.operators.multimodal import (
    attach_media_meta,
    extract_media_features,
    sample_frames,
)
from skysafe_datalake_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_candidates,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("warm", "cold")),  # near dup of 0
        (3, "completely different text about database engines and queries"),
        (4, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_identical_texts(docs):
    out = D.exact_dedup(docs, F.col("text"), "doc_id").collect()
    groups = {r["canonical_id"]: r["n_dups"] for r in out}
    assert groups[0] == 2  # docs 0 and 1 collapse
    assert groups[2] == 1 and groups[3] == 1
    assert len(groups) == 4


def test_minhash_lsh_finds_near_dups(docs):
    sigs = D.minhash_signatures(docs, "doc_id", "text", n_hashes=8)
    pairs = D.minhash_lsh_pairs(sigs, "doc_id", n_hashes=8, min_matching=4)
    found = {(r["a_id"], r["b_id"]): r["n_matching"] for r in pairs.collect()}
    assert found[(0, 1)] == 8  # exact dup: all signatures match
    assert (0, 2) in found and found[(0, 2)] >= 4  # near dup caught
    assert (0, 3) not in found and (0, 4) not in found


def test_minhash_drop_nonminimal_equals_pair_formulation(spark):
    """The linear family decomposition must be OUTPUT-IDENTICAL to
    'drop every b_id of minhash_lsh_pairs' — including on adversarial
    shapes: exact-dup cliques (every component matches), docs that
    share exactly one band but fail verification (matches < 4), and
    docs matching 4 components spread one-per-band (never candidates
    because no full band agrees)."""
    import random

    rnd = random.Random(7)
    vocab = BASE.split()
    rows = []
    for i in range(60):
        if i % 5 == 0:
            rows.append((i, BASE))  # big exact-dup clique
        elif i % 5 == 1:
            w = list(vocab)
            w[rnd.randrange(len(w))] = "mut%d" % i
            rows.append((i, " ".join(w)))  # near dups of the clique
        else:
            rows.append(
                (i, " ".join(rnd.choice(vocab) for _ in range(30)) + " u%d" % i)
            )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", n_hashes=8)
    pairs = D.minhash_lsh_pairs(
        sigs, "doc_id", n_hashes=8, band_size=2, min_matching=4
    )
    old = {r["b_id"] for r in pairs.select("b_id").distinct().collect()}
    new = {
        r["doc_id"]
        for r in D.minhash_drop_nonminimal(
            sigs, "doc_id", n_hashes=8, band_size=2, min_matching=4
        ).collect()
    }
    assert old == new
    assert old, "fixture must actually produce drops"


@pytest.mark.parametrize(
    "n_hashes,band_size,min_matching",
    [
        (8, 2, 5),  # asymmetric: extra components not a band multiple
        (8, 4, 4),  # bands == min_matching: 1 family per band
        (8, 4, 6),  # wide bands + extras
        (6, 2, 4),  # fewer hashes than the default
        (8, 2, 8),  # full-match requirement: exact-dup only
    ],
)
def test_minhash_drop_family_decomposition_other_configs(
    spark, n_hashes, band_size, min_matching
):
    """The family decomposition must equal the pair formulation for
    EVERY (n_hashes, band_size, min_matching) geometry, not just the
    8/2/4 default the registry uses — the enumeration of
    C(n_hashes-band_size, m-band_size) subsets per band is easy to
    get off by one at the boundaries (no extras, all extras)."""
    import random

    rnd = random.Random(n_hashes * 100 + band_size * 10 + min_matching)
    vocab = BASE.split()
    rows = []
    for i in range(50):
        if i % 5 == 0:
            rows.append((i, BASE))
        elif i % 5 == 1:
            w = list(vocab)
            w[rnd.randrange(len(w))] = "mut%d" % i
            rows.append((i, " ".join(w)))
        else:
            rows.append(
                (i, " ".join(rnd.choice(vocab) for _ in range(30)) + " u%d" % i)
            )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", n_hashes=n_hashes)
    pairs = D.minhash_lsh_pairs(
        sigs,
        "doc_id",
        n_hashes=n_hashes,
        band_size=band_size,
        min_matching=min_matching,
        salt_groups=None,
    )
    old = {r["b_id"] for r in pairs.select("b_id").distinct().collect()}
    new = {
        r["doc_id"]
        for r in D.minhash_drop_nonminimal(
            sigs,
            "doc_id",
            n_hashes=n_hashes,
            band_size=band_size,
            min_matching=min_matching,
        ).collect()
    }
    assert old == new
    assert old, "fixture must actually produce drops (exact-dup clique)"


def test_minhash_incremental_drop_equals_pair_formulation(spark):
    """The linear batch-vs-corpus drop decision must equal 'every
    batch_id appearing in minhash_incremental_pairs' on the same
    adversarial fixture shapes (cliques, one-band-only near-misses,
    spread-component matches), with the batch containing both docs
    that dup against the corpus and docs that don't."""
    import random

    rnd = random.Random(11)
    vocab = BASE.split()
    rows = []
    for i in range(80):
        if i % 5 == 0:
            rows.append((i, BASE))  # clique spanning batch and corpus
        elif i % 5 == 1:
            w = list(vocab)
            w[rnd.randrange(len(w))] = "mut%d" % i
            rows.append((i, " ".join(w)))  # near dups
        else:
            rows.append(
                (i, " ".join(rnd.choice(vocab) for _ in range(30)) + " u%d" % i)
            )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", n_hashes=8)
    batch = sigs.where(F.col("doc_id") % 4 == 0)
    corpus = sigs.where(F.col("doc_id") % 4 != 0)
    pairs = D.minhash_incremental_pairs(
        corpus, batch, "doc_id", n_hashes=8, band_size=2, min_matching=4
    )
    old = {r["batch_id"] for r in pairs.select("batch_id").distinct().collect()}
    new = {
        r["doc_id"]
        for r in D.minhash_incremental_drop(
            corpus, batch, "doc_id", n_hashes=8, band_size=2, min_matching=4
        ).collect()
    }
    assert old == new
    assert old, "fixture must actually produce drops"
    # and some batch docs must survive, or the test proves too little
    n_batch = batch.count()
    assert len(old) < n_batch


def test_minhash_lsh_salted_join_is_output_identical(spark):
    """salt_groups=G must be row-identical to the unsalted join
    (each a<b pair lands in exactly one group — a's) — exercised on a
    clique-heavy fixture so hot buckets actually exist, and with the
    broadcast threshold disabled so the salted path runs the shuffled
    join shape it is designed for (one hot band key no longer maps to
    a single shuffle partition: the join key is (band_key, group))."""
    rows = [(i, BASE if i % 3 else BASE.replace("dog", "pup%d" % i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", n_hashes=8)

    def run():
        plain = D.minhash_lsh_pairs(
            sigs, "doc_id", n_hashes=8, min_matching=4, salt_groups=None
        )
        salted = D.minhash_lsh_pairs(
            sigs, "doc_id", n_hashes=8, min_matching=4, salt_groups=8
        )
        return (
            sorted(map(tuple, plain.collect())),
            sorted(map(tuple, salted.collect())),
        )

    p1, s1 = run()
    assert p1 == s1 and len(p1) > 100  # clique fixture: real pair volume
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p2, s2 = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert p1 == p2 == s2


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_minhash_lsh_auto_salt_decision_and_identity(spark):
    """salt_groups='auto' (the default) must salt exactly when the
    banded table would outgrow the broadcast threshold — verified
    structurally (the salting `_g` key appears in the optimized plan
    iff salting engaged) — and the output must be row-identical to
    the explicit unsalted formulation either way."""
    rows = [(i, BASE if i % 3 else BASE.replace("dog", "pup%d" % i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", n_hashes=8)
    plain = sorted(
        map(
            tuple,
            D.minhash_lsh_pairs(
                sigs, "doc_id", n_hashes=8, min_matching=4, salt_groups=None
            ).collect(),
        )
    )

    # 40 docs x 4 bands x 48 B ~ 7.7 kB << default 10 MB: no salt
    auto_small = D.minhash_lsh_pairs(sigs, "doc_id", n_hashes=8, min_matching=4)
    assert "_g" not in _optimized_plan(auto_small)
    assert sorted(map(tuple, auto_small.collect())) == plain

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Broadcast disabled: the band join must shuffle -> auto salts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        auto_shuffle = D.minhash_lsh_pairs(
            sigs, "doc_id", n_hashes=8, min_matching=4
        )
        assert "_g" in _optimized_plan(auto_shuffle)
        assert sorted(map(tuple, auto_shuffle.collect())) == plain
        # Tiny positive threshold: estimate exceeds it -> auto salts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        auto_tiny = D.minhash_lsh_pairs(
            sigs, "doc_id", n_hashes=8, min_matching=4
        )
        assert "_g" in _optimized_plan(auto_tiny)
        assert sorted(map(tuple, auto_tiny.collect())) == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    # AQE disabled: no runtime broadcast re-plan exists for the
    # stats-free checkpointed plan, so the join sort-merges no matter
    # the threshold -> auto must salt even under the default 10 MB.
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        auto_no_aqe = D.minhash_lsh_pairs(
            sigs, "doc_id", n_hashes=8, min_matching=4
        )
        assert "_g" in _optimized_plan(auto_no_aqe)
        assert sorted(map(tuple, auto_no_aqe.collect())) == plain
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)


def test_parse_size_bytes_handles_spark_conf_forms():
    # The forms Spark actually returns for autoBroadcastJoinThreshold
    assert D._parse_size_bytes("10485760") == 10 << 20
    assert D._parse_size_bytes("10485760b") == 10 << 20
    assert D._parse_size_bytes("10MB") == 10 << 20
    assert D._parse_size_bytes("512k") == 512 << 10
    assert D._parse_size_bytes("1g") == 1 << 30
    assert D._parse_size_bytes("-1") == -1  # broadcast disabled


def test_minhash_drop_nonminimal_rejects_infeasible_config():
    # min_matching below band_size is a configuration error
    with pytest.raises(ValueError):
        D.minhash_drop_nonminimal(None, "id", n_hashes=8, band_size=4, min_matching=3)
    # min_matching above n_hashes is unsatisfiable (the empty drop set
    # would be correct, but only via explode-of-empty-array — rejected)
    with pytest.raises(ValueError):
        D.minhash_drop_nonminimal(None, "id", n_hashes=8, band_size=2, min_matching=9)


def test_simhash_near_dups_have_small_hamming_distance(docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, "doc_id", "text").collect()}
    assert out[0] == out[1]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[0], out[2]) <= 4  # near dup: few bits differ
    assert ham(out[0], out[3]) >= 5  # unrelated doc: many bits differ


def test_ngram_jaccard_scores(docs):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    found = {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs.collect()}
    assert found[(0, 1)] == 1.0
    assert 0.5 <= found[(0, 2)] < 1.0
    assert (0, 3) not in found


def test_rolling_hash_deterministic(spark):
    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "t string")
    out = [r[0] for r in df.select(T.rolling_hash(F.col("t"))).collect()]
    assert out[0] == out[1] != out[2]
    # golden: ((97*31+98)*31+99) % 1e9+7
    assert out[0] == ((97 * 31 + 98) * 31 + 99)


def test_cosine_topk_finds_true_neighbor(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.9, 0.1, 0.0]), (12, [0.0, 1.0, 0.0]),
         (13, [0.0, 0.0, 1.0])],
        "c_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.05, 0.0])], "q_id long, embedding array<double>"
    )
    out = cosine_topk(queries, corpus, k=2).orderBy("rank").collect()
    assert [r["c_id"] for r in out] == [10, 11]
    assert out[0]["cosine_raw"] > 0.99


def test_lsh_buckets_recall_identical_vectors(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [-1.0, 0.01]), (12, [1.0, 0.01])],
        "c_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "q_id long, embedding array<double>"
    )
    planes = [[0.3, 0.7], [-0.5, 0.5]]
    cands = lsh_bucket_candidates(queries, corpus, planes).collect()
    ids = {r["c_id"] for r in cands}
    assert 10 in ids and 12 in ids  # same half-spaces → same bucket
    assert 11 not in ids  # opposite side of plane 1


def test_ann_lsh_never_beats_exact_and_agrees_in_bucket(spark):
    """ann_lsh_topk is brute-force restricted to bucket collisions:
    its best hit per query can never score above the exact top-1, and
    any (q,c) pair both return must carry the same cosine."""
    from skysafe_datalake_spark.workload.llm_ops import ann_lsh_topk, similarity_topk

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["q_id"], r["c_id"]): r["cosine"] for r in similarity_topk(spark, sf).collect()
    }
    approx = ann_lsh_topk(spark, sf).collect()
    assert approx, "LSH buckets produced no candidates at all"
    best_exact = {}
    for (q, _c), cos in exact.items():
        best_exact[q] = max(best_exact.get(q, -2.0), cos)
    for r in approx:
        assert r["cosine"] <= best_exact[r["q_id"]] + 1e-9
        if (r["q_id"], r["c_id"]) in exact:
            assert abs(r["cosine"] - exact[(r["q_id"], r["c_id"])]) < 1e-9


def test_multimodal_meta_and_features(spark):
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n" + b"x" * 100), (2, b"")],
        "item_id long, payload binary",
    )
    with_meta = attach_media_meta(df, F.col("payload"), "image", "png")
    meta = {r["item_id"]: r["media_meta"] for r in with_meta.collect()}
    assert meta[1]["n_bytes"] == 106 and meta[1]["media_type"] == "image"

    feats = {
        r["item_id"]: r
        for r in extract_media_features(
            with_meta.select("item_id", F.col("payload").alias("media"))
        ).collect()
    }
    assert feats[1]["n_bytes"] == 106
    assert len(feats[1]["feature_vec"]) == 8
    assert abs(sum(feats[1]["feature_vec"]) - 1.0) < 1e-9  # normalized histogram
    assert feats[2]["n_bytes"] == 0  # empty payload handled

    frames = sample_frames(
        with_meta.select("item_id", F.col("payload").alias("media")),
        every_n_bytes=50,
        frame_bytes=10,
    ).collect()
    f1 = [r for r in frames if r["item_id"] == 1]
    assert len(f1) == 3  # 106 bytes / 50 → offsets 0, 50, 100
    assert bytes(f1[0]["frame"]) == (b"\x89PNG\r\n" + b"x" * 100)[:10]


def test_real_decode_is_explicitly_stubbed(spark):
    df = spark.createDataFrame([(1, b"x")], "item_id long, media binary")
    with pytest.raises(NotImplementedError):
        extract_media_features(df, decode_stub=False)


def test_lang_id_heuristic(spark):
    rows = [
        (1, "the cat and the dog is here"),
        (2, "le chat et les oiseaux des villes"),
        (3, "der hund und die katze ist da"),
        (4, "el perro con los gatos para casa"),
        (5, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["p"] for r in df.select("id", T.lang_id(F.col("text")).alias("p")).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "es", 5: "und"}


def test_block_neardup_tiled_matches_gemm(spark):
    """The guarded fallback (tiled passes, bounded broadcast) must
    produce exactly the pairs of the single-broadcast GEMM path —
    the VERDICT #3 contract: no unconditional full-corpus collect,
    no result drift when the guard reroutes."""
    from skysafe_datalake_spark.operators.similarity import block_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def pairs(df):
        return {(r["a_id"], r["b_id"], r["cosine"]) for r in df.collect()}

    gemm = pairs(block_neardup_pairs(emb, strategy="gemm"))
    tiled = pairs(
        block_neardup_pairs(emb, strategy="tiled", max_broadcast_rows=17)
    )
    assert len(gemm) > 0
    assert tiled == gemm

    # auto with a tiny budget must take the tiled route and still agree
    auto = pairs(block_neardup_pairs(emb, max_broadcast_rows=17))
    assert auto == gemm


def test_cross_neardup_empty_batch_yields_zero_pairs(spark):
    """An empty micro-batch (continuous-ingest idle tick) must emit
    zero pairs, not crash: np.array([]) is 1-D and norm(axis=1)
    raised AxisError before the round-9 guard; the GEMM kernel also
    choked on (n,d) @ (0,0).T and on empty Arrow chunks."""
    from skysafe_datalake_spark.operators.similarity import (
        block_neardup_pairs,
        cross_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty = emb.limit(0)
    assert cross_neardup_pairs(emb, empty).count() == 0
    # empty corpus side too (every Arrow chunk is empty)
    assert cross_neardup_pairs(empty, emb.limit(3)).count() == 0
    # and an empty hash tile in the tiled strategy
    assert (
        block_neardup_pairs(empty, strategy="tiled", max_broadcast_rows=17)
        .count()
        == 0
    )


# ───────────────────── product quantization ──────────────────────


def test_pq_topk_recall_and_shape(spark):
    """PQ ADC ranking must actually approximate the exact L2 ranking
    on clustered data (parity with the oracle proves determinism, not
    usefulness). Build 3 well-separated 16-dim clusters; the query's
    PQ top-5 must come from the query's own cluster."""
    import random

    from skysafe_datalake_spark.operators.similarity import pq_topk

    rng = random.Random(7)
    rows = []
    centers = [[5.0] * 16, [-5.0] * 16, [0.0] * 8 + [9.0] * 8]
    vid = 0
    for c in centers:
        for _ in range(10):
            rows.append((vid, [x + rng.uniform(-0.5, 0.5) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_topk(emb, 0, dim=16, n_subspaces=4, k=5).collect()
    assert len(out) == 5
    # query 0 is in cluster 0 (ids 0-9): all 5 neighbors must be too
    ids = {r["vec_id"] for r in out}
    assert ids <= set(range(1, 10)), ids
    # distances are monotone non-decreasing in rank order
    dists = [r["adist"] for r in out]
    assert dists == sorted(dists)


# ───────────────── degenerate inputs, round-3 ops ────────────────


def test_round3_operators_survive_degenerate_inputs(spark):
    """Empty and single-row inputs must produce empty/sane results,
    not crashes: these code paths (empty offset maps, empty Bloom
    builds, single-node graphs) only fire on degenerate data."""
    from pyspark.sql import functions as F

    from skysafe_datalake_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )
    from skysafe_datalake_spark.operators.ranking import skyline_2d
    from skysafe_datalake_spark.operators.similarity import pq_topk

    # skyline: empty input → empty output
    empty = spark.createDataFrame([], "id long, price double, size long")
    assert skyline_2d(empty, "price", "size").count() == 0
    # skyline: single row is trivially on the frontier
    one = spark.createDataFrame([(1, 5.0, 3)], "id long, price double, size long")
    assert [r["id"] for r in skyline_2d(one, "price", "size").collect()] == [1]

    # pq_topk: corpus of ONE other vector → exactly one neighbor
    emb = spark.createDataFrame(
        [(0, [1.0] * 16), (1, [0.5] * 16)],
        "vec_id long, embedding array<float>",
    )
    out = pq_topk(emb, 0, dim=16, n_subspaces=4, k=5).collect()
    assert [r["vec_id"] for r in out] == [1]

    # incremental minhash: empty batch → no pairs (and no crash on
    # the broadcast of an empty side)
    docs = spark.createDataFrame(
        [(1, "some shingled text long enough")], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    empty_sigs = sigs.where(F.lit(False))
    assert (
        minhash_incremental_pairs(sigs, empty_sigs, "doc_id").count() == 0
    )


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """The leakage guard itself: every near-dup pair (the edges that
    define contamination) must land in ONE split, and the split
    distribution must come from cluster-id hashing (deterministic,
    so re-runs agree)."""
    from skysafe_datalake_spark.workload import QUERIES
    from tests.conftest import SF_SMALL

    out = {
        r.doc_id: (r.cluster_id, r.split)
        for r in QUERIES["leakage_safe_split"](spark, SF_SMALL).collect()
    }
    # cluster -> one split only
    per_cluster = {}
    for doc_id, (cid, split) in out.items():
        per_cluster.setdefault(cid, set()).add(split)
    assert all(len(s) == 1 for s in per_cluster.values())
    # the raw near-dup pairs (same generator as the query) never straddle
    from skysafe_datalake_spark.operators import dedup as D
    from skysafe_datalake_spark.workload.tables import load

    docs = load(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 500)
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=5, threshold=0.5
    ).collect()
    assert pairs, "fixture must contain at least one near-dup pair"
    for p in pairs:
        assert out[p.a_id][1] == out[p.b_id][1], (p.a_id, p.b_id)
    # determinism: second run is byte-identical
    again = {
        r.doc_id: (r.cluster_id, r.split)
        for r in QUERIES["leakage_safe_split"](spark, SF_SMALL).collect()
    }
    assert again == out


# ──────────────── pair-emission runaway warning ───────────────────


def test_pair_runaway_message_fires_only_past_threshold():
    # at/below the threshold: silent
    assert D._pair_runaway_message(10, 10) is None
    assert D._pair_runaway_message(0, 10) is None
    msg = D._pair_runaway_message(11, 10)
    # the warning must name BOTH linear-output alternatives so the
    # caller knows what to switch to at 100 TB
    assert "minhash_drop_nonminimal" in msg
    assert "minhash_incremental_drop" in msg
    assert "11" in msg


def test_pair_emission_warning_fires_past_threshold(docs, capsys):
    """With the threshold forced to 0 every emitted pair is a
    runaway: the Observation-backed monitor must warn on stderr
    after the caller's own action, naming the linear paths."""
    sigs = D.minhash_signatures(docs, "doc_id", "text", n_hashes=8)
    pairs = D.minhash_lsh_pairs(
        sigs, "doc_id", n_hashes=8, min_matching=4, pair_warn_threshold=0
    )
    assert pairs.count() > 0  # the caller's action triggers the metric
    monitor = pairs._pair_emission_monitor
    assert monitor is not None
    monitor.join(timeout=60)
    assert not monitor.is_alive()
    err = capsys.readouterr().err
    assert "candidate pairs" in err
    assert "minhash_drop_nonminimal" in err
    assert "minhash_incremental_drop" in err


def test_pair_emission_silent_under_threshold(docs, capsys):
    sigs = D.minhash_signatures(docs, "doc_id", "text", n_hashes=8)
    pairs = D.minhash_lsh_pairs(
        sigs, "doc_id", n_hashes=8, min_matching=4,
        pair_warn_threshold=1_000_000,
    )
    pairs.count()
    monitor = pairs._pair_emission_monitor
    monitor.join(timeout=60)
    assert not monitor.is_alive()
    assert "candidate pairs" not in capsys.readouterr().err


def test_pair_emission_observation_disabled_with_none(docs):
    sigs = D.minhash_signatures(docs, "doc_id", "text", n_hashes=8)
    pairs = D.minhash_lsh_pairs(
        sigs, "doc_id", n_hashes=8, min_matching=4, pair_warn_threshold=None
    )
    assert pairs._pair_emission_monitor is None
    assert "CollectMetrics" not in pairs._jdf.queryExecution().toString()
