"""Training-data pipeline operators: dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_generator_spark.textops import dedupe

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeds(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y")], ["doc_id", "text"]
    )
    got = {r["keeper"]: r["n"] for r in dedupe.exact_dup_groups(df).collect()}
    assert got == {1: 2, 3: 1}
    with_m = {r["keeper"]: (r["n"], sorted(r["members"])) for r in
              dedupe.exact_dup_groups(df, max_members=10).collect()}
    assert with_m == {1: (2, [1, 2]), 3: (1, [3])}


def test_exact_dup_groups_hot_key_bounded(spark):
    """A viral duplicate (10^5 copies of one text) must not blow an
    aggregation buffer: members are capped at max_members, counts stay
    exact."""
    hot = spark.range(100_000).select(
        F.col("id").alias("doc_id"), F.lit("same viral text").alias("text")
    )
    cold = spark.createDataFrame([(200_000, "unique text")], ["doc_id", "text"])
    out = dedupe.exact_dup_groups(
        hot.unionByName(cold), max_members=16
    ).collect()
    by_keeper = {r["keeper"]: r for r in out}
    assert by_keeper[0]["n"] == 100_000
    assert by_keeper[0]["members"] == list(range(16))
    assert by_keeper[200_000]["n"] == 1 and by_keeper[200_000]["members"] == [200_000]


def test_minhash_recovers_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "one two three four")],
        ["doc_id", "text"],
    )
    pairs = {(r["d1"], r["d2"]) for r in dedupe.minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "p q r s")],
        ["doc_id", "text"],
    )
    got = dedupe.jaccard_pairs(df, threshold=0.5, shingle_k=1).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["d1"], r["d2"]) == (1, 2) and abs(r["jaccard"] - 7 / 9) < 1e-9


def test_simhash_near_pairs(spark, docs):
    small = docs.limit(40)
    dup = small.withColumn("doc_id", F.col("doc_id") + 100000)
    fps = dedupe.simhash(small.unionByName(dup))
    assert fps.count() == 80
    pairs = dedupe.simhash_near_pairs(fps, max_hamming=0)
    got = {(r["d1"], r["d2"]) for r in pairs.collect()}
    # every doc pairs with its exact copy at hamming 0
    for r in small.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 100000) in got


def test_embedding_neardup(spark, embeds):
    sub = embeds.limit(60)
    dup = sub.withColumn("vec_id", F.col("vec_id") + 100000)
    pairs = dedupe.embedding_neardup_pairs(sub.unionByName(dup), threshold=0.999)
    got = {(r["d1"], r["d2"]) for r in pairs.collect()}
    ids = [r["vec_id"] for r in sub.select("vec_id").collect()]
    hits = sum((i, i + 100000) in got for i in ids)
    assert hits == len(ids)  # identical vectors always bucket together


def test_near_dup_groups_end_to_end(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different content about spark pipelines here"),
        (5, "another unrelated document with its own words entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = dedupe.near_dup_groups(df, threshold=0.5, shingle_k=2,
                                    num_hashes=16, bands=8)
    got = {(r["doc_id"], r["keeper"], r["group_size"]) for r in groups.collect()}
    # docs 1,2,3 form one group with keeper "1"; 4 and 5 are not grouped
    assert got == {("1", "1", 3), ("2", "1", 3), ("3", "1", 3)}


def test_near_dup_groups_strict_on_truncated_cc(spark):
    """VERDICT r4 item 5: production paths must fail loudly when the
    connected-components budget is exhausted, never ship partially
    merged keeper groups. cc_max_iters=0 models a truncated run."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with pytest.raises(RuntimeError, match="did not reach a verified fixpoint"):
        dedupe.near_dup_groups(
            df, threshold=0.5, shingle_k=2, num_hashes=16, bands=8,
            cc_max_iters=0,
        ).collect()
    # strict=False restores the old warn-and-continue behavior
    with pytest.warns(RuntimeWarning, match="did not reach a verified fixpoint"):
        dedupe.near_dup_groups(
            df, threshold=0.5, shingle_k=2, num_hashes=16, bands=8,
            cc_max_iters=0, strict=False,
        ).collect()


def test_jaccard_max_doc_freq_cap(spark):
    """Standalone-safe Jaccard: a corpus-wide hot shingle is dropped
    before the self-join; a genuine near-dup pair still verifies."""
    common = "the quick brown"  # one 3-shingle shared by EVERY doc
    rows = [(i, f"{common} filler{i} pad{i} end{i}") for i in range(1, 9)]
    rows += [(100, common + " same same same same"),
             (101, common + " same same same same")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r["d1"], r["d2"])
        for r in dedupe.jaccard_pairs(
            df, threshold=0.5, shingle_k=3, max_doc_freq=5
        ).collect()
    }
    assert (100, 101) in capped            # near-dup survives the cap
    assert all(d1 >= 100 for d1, _ in capped)  # hot shingle created no pairs


def test_embedding_neardup_multiband_recall(spark):
    """Planted scaled copies (cosine exactly 1.0) are recovered with
    deterministic recall: sign(p.v) is scale-invariant so every band
    matches; nothing below threshold sneaks in (exact verify)."""
    import hashlib as _h
    import struct as _s

    def vec(seed, dim=16):
        out = []
        for i in range(dim):
            b = _h.md5(f"{seed}:{i}".encode()).digest()[:4]
            out.append(_s.unpack(">i", b)[0] / 2 ** 31)
        return out

    rows = [(i, vec(i)) for i in range(30)]
    rows += [(1000 + i, [2.0 * x for x in vec(i)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["d1"], r["d2"])
        for r in dedupe.embedding_neardup_pairs(df, threshold=0.98).collect()
    }
    assert pairs == {(i, 1000 + i) for i in range(10)}


def test_incremental_dedup(spark):
    """Cross-corpus incremental dedup: near-copy and exact copy of ref
    docs match (exact => jaccard 1), unrelated and sub-shingle-floor
    docs survive; ref-vs-ref near-dups never produce pairs."""
    ref = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs right now"),
            # 3 is a near-dup of 1 INSIDE ref — must not appear in output
            (3, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            # near-copy of ref 1 (one token appended)
            (101, "the quick brown fox jumps over the lazy dog today extra"),
            # exact copy of ref 2
            (102, "pack my box with five dozen liquor jugs right now"),
            # unrelated
            (103, "completely different content with no shared trigrams at all"),
            # below the 3-shingle floor
            (104, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    m = dedupe.incremental_dedup_matches(new, ref, threshold=0.8, shingle_k=3)
    got = {(r["new_id"], r["ref_id"]): r["inter_cnt"] for r in m.collect()}
    assert set(got) == {(101, 1), (102, 2)}
    # exact copy: intersection == both sizes
    row = [r for r in m.collect() if r["new_id"] == 102][0]
    assert row["inter_cnt"] == row["sz_new"] == row["sz_ref"]
    surv = sorted(
        r["doc_id"]
        for r in dedupe.incremental_dedup_survivors(new, ref).collect()
    )
    assert surv == [103, 104]
