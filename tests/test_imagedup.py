"""Banded-Hamming image near-dup: pigeonhole correctness on planted
hashes and the real-pixel pHash path over re-encoded rasters."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_spark.operators.imagedup import (
    hamming_neardup_pairs,
    phash_dedup_groups,
    phash_neardup_pairs,
    planted_hash_col,
)


def test_hamming_pairs_exact_small(spark):
    # hand-built hashes: 1010 vs 1011 -> 1 bit, 1010 vs 1100 -> 2,
    # 1011 vs 1100 -> 3; 0xF0F0F0F0 is far from all three
    rows = [(1, 0b1010), (2, 0b1011), (3, 0b1100), (4, 0xF0F0F0F0)]
    df = spark.createDataFrame(rows, "id long, h long")
    out = hamming_neardup_pairs(df, id_col="id", hash_col="h",
                                max_hamming=3, bits=64)
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert got == {(1, 2): 1, (1, 3): 2, (2, 3): 3}


def test_hamming_pairs_pigeonhole_boundary(spark):
    # distance exactly max_hamming+1 must NEVER appear, even when a
    # band happens to collide — the verify step filters it
    base = 0
    flipped = (1 << 0) | (1 << 1) | (1 << 2) | (1 << 3)  # hamming 4
    df = spark.createDataFrame([(1, base), (2, flipped)], "id long, h long")
    out = hamming_neardup_pairs(df, id_col="id", hash_col="h",
                                max_hamming=3, bits=64)
    assert out.count() == 0


def test_hamming_pairs_validation(spark):
    df = spark.createDataFrame([(1, 0)], "id long, h long")
    with pytest.raises(ValueError):
        hamming_neardup_pairs(df, id_col="id", hash_col="h", bits=65)
    with pytest.raises(ValueError):
        hamming_neardup_pairs(df, id_col="id", hash_col="h",
                              max_hamming=-1)
    with pytest.raises(ValueError):
        # 3 bits cannot host 4 bands
        hamming_neardup_pairs(df, id_col="id", hash_col="h",
                              max_hamming=3, bits=3)


@pytest.mark.parametrize("call", ["simhash", "ann_lsh", "embedding"])
def test_zero_width_band_raises(spark, call):
    # more bands than bits leaves a band 0 bits wide, which keys every
    # row to 0 and turns the band self-join into all-pairs: every LSH
    # pair generator must refuse it, as hamming_neardup_pairs does
    from proj_spark.operators.ann import (ann_lsh_topk,
                                          embedding_neardup_pairs)
    from proj_spark.operators.textops import simhash_dedup_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    emb = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                                "vec_id long, embedding array<float>")
    qs = emb.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError):
        if call == "simhash":
            simhash_dedup_pairs(docs, bits=2, max_hamming=3)
        elif call == "ann_lsh":
            ann_lsh_topk(emb, qs, dim=4, n_planes=3, bands=4)
        else:
            embedding_neardup_pairs(emb, dim=4, n_planes=3, bands=4)


def test_planted_hash_twins(spark):
    # every (2k, 2k+1) pair differs in exactly `flips` bits; the
    # operator must surface exactly those pairs over consecutive keys
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        planted_hash_col(F.col("id"), bits=60, flips=3).alias("h"),
    )
    out = hamming_neardup_pairs(df, id_col="k", hash_col="h",
                                max_hamming=3, bits=60)
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    expected = {(2 * k, 2 * k + 1): 3 for k in range(100)}
    assert got == expected


def test_phash_neardup_real_pixels(spark):
    # the real image path: the SAME raster encoded losslessly (png) and
    # lossily must land within the pHash near-dup budget; different
    # rasters must not
    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.images import (decode_image, encode_lossy,
                                           encode_png, phash64)

    rows = []
    for i in range(8):
        arr = raster_for(seed=1000 + 7 * i, w=48, h=32)
        png = encode_png(arr)
        lossy = encode_lossy(arr)
        rows.append((2 * i, phash64(decode_image(png, "png"))))
        rows.append((2 * i + 1, phash64(decode_image(lossy, "jpeg"))))
    df = spark.createDataFrame(rows, "image_id long, phash long")
    out = phash_neardup_pairs(df, max_hamming=6, id_col="image_id")
    got = {(r.id_a, r.id_b) for r in out.collect()}
    expected = {(2 * i, 2 * i + 1) for i in range(8)}
    assert expected <= got, f"missing planted re-encode pairs: {expected - got}"
    # no cross-image pair: unrelated DCT hashes sit ~32 bits apart
    assert got == expected, f"false positives: {got - expected}"


def test_phash_jpeg_roundtrip_neardup(spark):
    # real baseline-JPEG bytes (pure-numpy T.81 codec) vs the source
    # raster: decode(encode_jpeg(x)) stays in the pHash budget
    from proj_spark.sources.datagen import raster_for
    from proj_spark.sources.images import phash64
    from proj_spark.sources.jpeg import decode_jpeg, encode_jpeg

    rows = []
    for i in range(4):
        arr = raster_for(seed=500 + 13 * i, w=40, h=40)
        rows.append((2 * i, phash64(arr)))
        rows.append((2 * i + 1, phash64(decode_jpeg(encode_jpeg(arr, quality=92)))))
    df = spark.createDataFrame(rows, "image_id long, phash long")
    out = phash_neardup_pairs(df, max_hamming=6, id_col="image_id")
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(2 * i, 2 * i + 1) for i in range(4)} <= got


def test_keep_cols_passthrough(spark):
    df = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b")], "id long, h long, tag string")
    out = hamming_neardup_pairs(df, id_col="id", hash_col="h",
                                max_hamming=1, bits=64,
                                keep_cols=("tag",))
    r = out.collect()
    assert len(r) == 1 and r[0].tag_a == "a" and r[0].tag_b == "b"


def test_phash_dedup_groups_chain_closure(spark):
    # A=000000, B=000111, C=111111: d(A,B)=3, d(B,C)=3, d(A,C)=6 — the
    # pair join sees only the two adjacent links; groups must close the
    # chain to one canonical (plus an unrelated singleton)
    rows = [(10, 0b000000), (11, 0b000111), (12, 0b111111),
            (99, 0x0F0F0F0F0F0F)]
    df = spark.createDataFrame(rows, "image_id long, phash long")
    out = phash_dedup_groups(df, max_hamming=3, bits=48)
    got = {r.image_id: r.canonical_id for r in out.collect()}
    assert got == {10: 10, 11: 10, 12: 10, 99: 99}


def test_planted_chain_hash_structure(spark):
    from proj_spark.operators.imagedup import planted_chain_hash_col

    df = spark.range(0, 90).select(
        F.col("id").alias("k"),
        planted_chain_hash_col(F.col("id"), group_size=3).alias("h"),
    )
    rows = {r.k: r.h for r in df.collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    for g in range(30):
        root, m1, m2 = rows[3 * g], rows[3 * g + 1], rows[3 * g + 2]
        assert ham(root, m1) == 3 and ham(root, m2) == 3
        assert ham(m1, m2) == 6  # members only connect THROUGH the root
    out = phash_dedup_groups(
        df, max_hamming=3, id_col="k", hash_col="h", bits=60)
    got = {r.k: r.canonical_id for r in out.collect()}
    assert got == {k: 3 * (k // 3) for k in range(90)}
