"""Image near-duplicate detection over perceptual hashes.

The images table (BASELINE.json input_hint) carries ``phash:int64`` — a
64-bit DCT perceptual hash (:func:`proj_spark.sources.images.phash64`).
Near-duplicate images (re-encodes, quality changes, small edits) land
within a few bits of Hamming distance, so image dedup over 10^12 rows
is a banded-Hamming self-join: split the hash into ``max_hamming + 1``
bands — by pigeonhole, any pair within the distance budget agrees
exactly on at least one band — equi-join on (band, band_value), then
verify exact Hamming distance on the (small) candidate set with the
JVM ``bit_count`` of the XOR.  No all-pairs product anywhere.  The
SimHash text path (``textops.simhash_dedup_pairs``) runs the very same
Hamming core (``textops._hamming_pairs``) over its simhash projection.

Scale notes (100 TB / 10^12 images):
  * candidate generation is a shuffle on (band, key) — 2^band_bits
    distinct keys per band spread uniformly for DCT hashes; hot keys
    (e.g. monochrome images all hashing to 0) are exactly the AQE
    skew-join case, same as the MinHash path;
  * the verify step runs on candidates only and is pure whole-stage
    codegen (xor + bit_count), no Python;
  * output is pair-shaped; for linear output chain into
    ``textops.dedup_connected_components`` exactly like text dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .textops import _hamming_pairs, _spread_small_input

__all__ = [
    "hamming_neardup_pairs",
    "phash_neardup_pairs",
    "phash_dedup_groups",
    "planted_hash_col",
    "planted_chain_hash_col",
]


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
    bits: int = 64,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs (id_a < id_b) whose ``hash_col`` values differ in at
    most ``max_hamming`` of the low ``bits`` bits.

    Banded pigeonhole LSH: ``nb = max_hamming + 1`` bands of
    ``bits // nb`` bits each (the remainder widens the last band, so
    every bit belongs to exactly one band and the pigeonhole guarantee
    holds).  Output columns: id_a, id_b, hamming [+ keep_cols from each
    side as <col>_a / <col>_b].
    """
    return _hamming_pairs(_spread_small_input(df), id_col, hash_col,
                          max_hamming, bits, keep_cols)


def phash_neardup_pairs(images: DataFrame, max_hamming: int = 6,
                        id_col: str = "image_id",
                        phash_col: str = "phash") -> DataFrame:
    """Near-duplicate image pairs over the images table's ``phash``
    column (re-encode / recompress survivors; the standard pretraining
    image-dedup primitive).  ``max_hamming=6`` is the usual pHash
    near-dup budget: re-encodes land at 0-6 bits, unrelated images at
    ~32 +- 8."""
    return hamming_neardup_pairs(images, id_col=id_col, hash_col=phash_col,
                                 max_hamming=max_hamming, bits=64)


def phash_dedup_groups(
    images: DataFrame,
    max_hamming: int = 6,
    id_col: str = "image_id",
    hash_col: str = "phash",
    bits: int = 64,
    max_iters: int = 12,
) -> DataFrame:
    """FULL image dedup: banded-Hamming candidate pairs, then
    transitive closure, then one canonical id per image — the linear-
    output shape a 10^12-image dedup needs (chains A~B~C where A and C
    are each re-encodes of B but not of each other share one
    canonical).  Output: (id_col, canonical_id = component minimum;
    singletons map to themselves).

    Scale shape: pairs are band-bucketed (never all-pairs), closure is
    min-label propagation + pointer doubling (O(log diameter) rounds)
    over the (sparse) edge list only — the full images table
    contributes one left join at the end."""
    from .textops import dedup_connected_components

    pairs = hamming_neardup_pairs(images, id_col=id_col, hash_col=hash_col,
                                  max_hamming=max_hamming, bits=bits)
    comp = dedup_connected_components(pairs, "id_a", "id_b",
                                      max_iters=max_iters)
    return (
        images.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component_id"), F.col(id_col))
            .alias("canonical_id"),
        )
    )


def planted_hash_col(key: Column, bits: int = 60, flips: int = 3) -> Column:
    """Deterministic 'phash-like' hash with planted near-duplicates,
    computable identically in Spark and ANSI SQL (oracle twin:
    ``oracle.sql_planted_hash``).

    Rows sharing ``key >> 1`` get the same md5-derived base hash; odd
    keys additionally flip ``flips`` distinct bit positions derived
    from the base hash, so every (2k, 2k+1) pair sits at Hamming
    distance exactly ``flips`` and unrelated pairs at ~bits/2.  This
    gives the banded-Hamming join a fully value-checked DuckDB oracle
    even though a real pHash (pixel DCT) is not SQL-expressible.
    """
    from .textops import md5_long_col

    base = md5_long_col(F.shiftright(key, 1).cast("string"))
    h = base
    # distinct positions: stride 7 mod bits with bits=60 revisits a
    # residue only after 60 steps, far above any sane flip count
    for j in range(flips):
        pos = (F.pmod(key, F.lit(97)) + F.lit(7 * j)) % F.lit(bits)
        # pyspark's shiftleft only takes a literal shift; 2.0**pos is
        # exact for every power of two up to 2^62, so pow stands in
        h = h.bitwiseXOR(
            F.pow(F.lit(2.0), pos.cast("double")).cast("long"))
    return F.when(F.pmod(key, F.lit(2)) == 1, h).otherwise(base)


def planted_chain_hash_col(key: Column, group_size: int = 3,
                           bits: int = 60, flips: int = 3) -> Column:
    """Chain variant of :func:`planted_hash_col` (SQL twin:
    ``oracle.sql_planted_chain_hash``): rows sharing ``key div
    group_size`` share a base hash; the group's non-root members each
    flip their own ``flips`` key-derived bits.  Root~member distance is
    exactly ``flips``; member~member distance is usually 2*flips, so
    with max_hamming == flips the pair join sees a star around the
    root and full dedup must CLOSE the chain — the planted test case
    for :func:`phash_dedup_groups`.

    Exact for keys below 2^53 (the group index passes through a double
    division before the string cast — both engines agree there).
    """
    from .textops import md5_long_col

    gs = F.lit(group_size)
    grp = ((key - F.pmod(key, gs)) / gs).cast("long")
    base = md5_long_col(grp.cast("string"))
    h = base
    for j in range(flips):
        pos = (F.pmod(key, F.lit(97)) + F.lit(7 * j)) % F.lit(bits)
        h = h.bitwiseXOR(
            F.pow(F.lit(2.0), pos.cast("double")).cast("long"))
    return F.when(F.pmod(key, gs) == 0, base).otherwise(h)
