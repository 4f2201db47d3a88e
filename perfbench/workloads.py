"""Seeded inputs, operator sequences and output checks of the benchmark.

Every workload generates its inputs from the seed with numpy, writes
them as parquet under the run's data directory, and gives proj_spark
only the DataFrames read back from that parquet.  One operator call is
split in two: ``Op.build`` returns the DataFrame (plan construction plus
whatever eager probe jobs the operator runs) and the runner sinks it to
the ``noop`` format.  ``Op.check`` runs after the timed passes, in the
driver, against a numpy reference computed from the generated inputs.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Input sizes.  They are fixed, not derived from the host, so rows/s is
# always stated at the same input size.
GEO_POINTS = 120_000
GEO_POLYGONS = 100
CITIES = 64
PROX_POINTS = 50_000
PROX_QUERIES = 500
PROX_SPARSE = 8  # queries placed anywhere on the globe
PROX_POLAR = 2  # queries above 84 degrees, among sparse polar points
PROX_RADIUS_M = 50_000.0
KNN_K = 5
DOCS = 2_000
DOC_WORDS = 40
HASHES = 20_000
IMAGES = 200
TILE = 16
ZOOMS = (0, 1, 2)

EARTH_RADIUS_M = 6371008.8  # the sphere proj_spark's joins measure on


@dataclass
class Built:
    """What one operator call produced: the DataFrame the runner sinks,
    and the (usually filtered) DataFrame the output check collects."""

    sink: DataFrame
    probe: Optional[DataFrame] = None


@dataclass
class Op:
    name: str  # "<module>.<operator>", the prefix of its per-layer metrics
    build: Callable[[], Built]
    check: Callable[[Built], list]  # failure messages; empty when correct
    udfs: tuple = ()  # Python functions the executed plan must call
    hits: Optional[Callable[[Built], int]] = None  # verified output rows


@dataclass
class Workload:
    name: str
    rows: int  # big-side input rows of one pass
    pass_s: float  # nominal warm pass time: a run of S seconds makes S // pass_s passes
    ops: list


# ---------------------------------------------------------------------------
# input helpers
# ---------------------------------------------------------------------------
def _write_parquet(path: str, table: pa.Table, files: int) -> None:
    """Write ``table`` as ``files`` parquet files so the scan is split
    across cores the way a multi-file table would be."""
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"))


def _wrap_lon(lon: np.ndarray) -> np.ndarray:
    return (lon + 180.0) % 360.0 - 180.0


def _points(rng: np.random.Generator, n: int, polar: float = 0.0,
            sigma=(0.2, 1.5), zipf: float = 0.8):
    """Uniform background plus 64 city clusters (skewed cells).  A
    city's share (rank**-zipf) and width (within ``sigma`` degrees) are
    fixed by its rank and only its position comes from the seed, so the
    work a pass does hardly changes from seed to seed.  ``polar`` is the
    share of sparse points above 80 degrees."""
    n_polar = int(n * polar)
    n_city = int(n * 0.45)
    n_uni = n - n_city - n_polar
    rank = np.arange(CITIES)
    c_lon = rng.uniform(-170.0, 170.0, CITIES)
    c_lat = rng.uniform(-55.0, 70.0, CITIES)
    c_sig = sigma[0] + (sigma[1] - sigma[0]) * ((rank * 37) % CITIES) / (CITIES - 1)
    w = 1.0 / (rank + 1.0) ** zipf
    count = np.floor(w / w.sum() * n_city).astype(np.int64)
    count[0] += n_city - count.sum()
    pick = np.repeat(rank, count)
    lon = np.concatenate([
        rng.uniform(-180.0, 180.0, n_uni),
        c_lon[pick] + rng.normal(0.0, 1.0, n_city) * c_sig[pick],
        rng.uniform(-180.0, 180.0, n_polar),
    ])
    lat = np.concatenate([
        rng.uniform(-85.0, 85.0, n_uni),
        c_lat[pick] + rng.normal(0.0, 0.6, n_city) * c_sig[pick],
        rng.choice([-1.0, 1.0], n_polar) * rng.uniform(80.0, 89.9, n_polar),
    ])
    order = rng.permutation(n)
    cities = np.stack([c_lon, c_lat, c_sig], axis=1)
    return _wrap_lon(lon[order]), np.clip(lat[order], -89.9, 89.9), cities


def _point_table(lon, lat) -> pa.Table:
    return pa.table({
        "point_id": pa.array(np.arange(len(lon), dtype=np.int64)),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
    })


def _sample_mask(ids: np.ndarray, seed: int, every: int) -> np.ndarray:
    return ids % every == seed % every


# ---------------------------------------------------------------------------
# points: transforms, cells and tiles, PIP
# ---------------------------------------------------------------------------
def _star_polygons(rng: np.random.Generator, n: int, cities: np.ndarray):
    """Non-convex star polygons.  Size and vertex count (12-40) follow
    the polygon's index; seven in ten sit on a city, taken in rank
    order, and the rest anywhere."""
    rings = []
    for i in range(n):
        radius = 0.4 + 2.0 * ((i * 0.6180339887) % 1.0)
        if i % 10 < 7:
            c_lon, c_lat, c_sig = cities[i % len(cities)]
            cx = float(np.clip(c_lon + rng.normal(0.0, 0.3 * c_sig), -170.0, 170.0))
            cy = float(np.clip(c_lat + rng.normal(0.0, 0.2 * c_sig), -75.0, 75.0))
        else:
            cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-75.0, 75.0)
        k = 12 + (i * 7) % 29
        ang = np.sort(rng.uniform(0.0, 2.0 * math.pi, k))
        rad = radius * rng.uniform(0.45, 1.0, k)
        ring = np.stack([cx + rad * np.cos(ang), cy + 0.6 * rad * np.sin(ang)], axis=1)
        rings.append(np.vstack([ring, ring[:1]]))
    return rings


def _even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    x1, y1 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
    x2, y2 = ring[1:, 0][:, None], ring[1:, 1][:, None]
    cond = (y1 > py[None, :]) != (y2 > py[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py[None, :] - y1) / (y2 - y1) + x1
    return ((cond & (px[None, :] < xint)).sum(axis=0) % 2) == 1


def _geo_ops(spark: SparkSession, seed: int, data_dir: str, files: int) -> list:
    from proj_spark.crs import Transform
    from proj_spark.functions.transform import with_transformed
    from proj_spark.operators.cells import cell_col, np_cell
    from proj_spark.operators.joins import pip_join
    from proj_spark.operators.tiles import np_tile, tile_rollup, with_tiles

    rng = np.random.default_rng([seed, 1])
    lon, lat, cities = _points(rng, GEO_POINTS)
    rings = _star_polygons(rng, GEO_POLYGONS, cities)
    pts_path = os.path.join(data_dir, "geo_points")
    poly_path = os.path.join(data_dir, "geo_polygons")
    _write_parquet(pts_path, _point_table(lon, lat), files)
    _write_parquet(poly_path, pa.table({
        "poly_id": pa.array([f"poly{i:04d}" for i in range(len(rings))]),
        "rings": pa.array([[r.tolist()] for r in rings],
                          type=pa.list_(pa.list_(pa.list_(pa.float64())))),
    }), 1)
    pts = spark.read.parquet(pts_path)
    polys = spark.read.parquet(poly_path)
    ids = np.arange(GEO_POINTS, dtype=np.int64)
    sample = _sample_mask(ids, seed, 499)
    in_sample = F.col("point_id") % 499 == seed % 499

    def build_transform():
        df = with_transformed(pts, "EPSG:4326", "EPSG:3857", err_col=None)
        df = with_transformed(df, "EPSG:4326", "EPSG:32633",
                              out_x="ux", out_y="uy", err_col=None)
        return Built(df, df.where(in_sample))

    def check_transform(b: Built):
        got = b.probe.select("point_id", "x", "y", "ux", "uy").toPandas()
        got = got.sort_values("point_id")
        sid = got["point_id"].to_numpy()
        bad = []
        for dst, cx, cy in (("EPSG:3857", "x", "y"), ("EPSG:32633", "ux", "uy")):
            ex, ey, _ = Transform.new_known_crs("EPSG:4326", dst).convert_array(
                lon[sid], lat[sid], errors="mask")
            for col, ref in ((cx, ex), (cy, ey)):
                if not np.allclose(got[col].to_numpy(), ref, rtol=0.0,
                                   atol=1e-6, equal_nan=True):
                    bad.append(f"{dst} {col} differs from convert_array")
        if len(sid) != int(sample.sum()):
            bad.append(f"transform sample rows {len(sid)} != {int(sample.sum())}")
        return bad

    def build_tiles():
        df = pts.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 12))
        return Built(tile_rollup(with_tiles(df, zoom=8), agg_cols=["cell"]))

    def check_tiles(b: Built):
        got = b.sink.where(F.col("tile_y").isNotNull()).toPandas()
        tx, ty = np_tile(lon, lat, 8)
        key = tx.astype(np.int64) * 256 + ty
        cell = np_cell(lon, lat, 12)
        uk, inv = np.unique(key, return_inverse=True)
        n_ref = np.bincount(inv)
        s_ref = np.bincount(inv, weights=cell.astype(np.float64))
        gk = got["tile_x"].to_numpy(np.int64) * 256 + got["tile_y"].to_numpy(np.int64)
        order = np.argsort(gk)
        bad = []
        if not np.array_equal(gk[order], uk):
            bad.append("tile_rollup tile set differs from np_tile")
        elif not (np.array_equal(got["n"].to_numpy()[order], n_ref)
                  and np.allclose(got["sum_cell"].to_numpy(np.float64)[order],
                                  s_ref, rtol=1e-12)):
            bad.append("tile_rollup counts or cell sums differ from numpy")
        return bad

    def build_pip():
        hits = pip_join(pts, polys)
        rollup = with_tiles(hits, zoom=6).groupBy(
            "poly_id", "zoom", "tile_x", "tile_y").agg(
            F.count(F.lit(1)).alias("n"))
        return Built(rollup, hits.where(in_sample).select("point_id", "poly_id"))

    def check_pip(b: Built):
        got = {(int(r[0]), r[1]) for r in b.probe.collect()}
        sid = ids[sample]
        ref = set()
        for i, ring in enumerate(rings):
            inside = _even_odd(lon[sid], lat[sid], ring)
            ref.update((int(p), f"poly{i:04d}") for p in sid[inside])
        if got != ref:
            return [f"pip hits on the sample: {len(got ^ ref)} pairs differ "
                    f"from the even-odd brute force ({len(ref)} expected)"]
        return []

    return [
        Op("transform.with_transformed", build_transform, check_transform,
           udfs=("_udf", "_udf")),
        Op("tiles.tile_rollup", build_tiles, check_tiles),
        Op("joins.pip_join", build_pip, check_pip, udfs=("_pip_test_udf",),
           hits=lambda b: b.sink.agg(F.sum("n")).first()[0]),
    ]


# ---------------------------------------------------------------------------
# points: kNN and radius joins
# ---------------------------------------------------------------------------
def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = (p2 - p1) / 2.0
    dlam = (np.radians(lon2) - np.radians(lon1)) / 2.0
    h = np.sin(dphi) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def _proximity_ops(spark: SparkSession, seed: int, data_dir: str,
                   files: int) -> list:
    from proj_spark.operators.joins import knn_join, radius_join

    rng = np.random.default_rng([seed, 2])
    lon, lat, _ = _points(rng, PROX_POINTS, polar=0.002, sigma=(1.0, 4.0), zipf=0.5)
    # half the queries sit on the data, the rest anywhere between 70S and
    # 70N, a few more in open space and near the poles, so ring expansion
    # and the brute-force fallback run
    n_polar, n_sparse = PROX_POLAR, PROX_SPARSE
    n_near = PROX_QUERIES - n_polar - n_sparse
    src = rng.integers(0, PROX_POINTS, n_near)
    spread = np.arange(n_near) % 2 == 1
    q_lon = np.concatenate([
        np.where(spread, rng.uniform(-180.0, 180.0, n_near),
                 _wrap_lon(lon[src] + rng.normal(0.0, 0.05, n_near))),
        rng.uniform(-180.0, 180.0, n_sparse),
        rng.uniform(-180.0, 180.0, n_polar),
    ])
    q_lat = np.concatenate([
        np.where(spread, rng.uniform(-70.0, 70.0, n_near),
                 np.clip(lat[src] + rng.normal(0.0, 0.05, n_near), -89.9, 89.9)),
        rng.uniform(-60.0, 60.0, n_sparse),
        rng.choice([-1.0, 1.0], n_polar) * rng.uniform(84.0, 89.9, n_polar),
    ])
    pts_path = os.path.join(data_dir, "prox_points")
    q_path = os.path.join(data_dir, "prox_queries")
    _write_parquet(pts_path, _point_table(lon, lat), files)
    _write_parquet(q_path, pa.table({
        "query_id": pa.array(np.arange(PROX_QUERIES, dtype=np.int64)),
        "lon": pa.array(q_lon), "lat": pa.array(q_lat),
    }), 1)
    pts = spark.read.parquet(pts_path)
    queries = spark.read.parquet(q_path)
    # checked queries: some of each kind
    chk = np.concatenate([
        rng.choice(n_near, 12, replace=False),
        n_near + rng.choice(n_sparse, 6, replace=False),
        n_near + n_sparse + np.arange(n_polar),
    ]).astype(np.int64)
    in_chk = F.col("query_id").isin([int(q) for q in chk])

    def build_knn():
        out = knn_join(pts, queries, k=KNN_K, n_points=PROX_POINTS)
        return Built(out, out.where(in_chk))

    def check_knn(b: Built):
        got = b.probe.select("query_id", "point_id", "dist_m").toPandas()
        bad = []
        for q in chk:
            d = _haversine(q_lon[q], q_lat[q], lon, lat)
            near = np.argpartition(d, KNN_K)[:KNN_K + 1]
            near = near[np.argsort(d[near])]
            g = got[got["query_id"] == q]
            g_d = np.sort(g["dist_m"].to_numpy())
            tie = d[near[KNN_K - 1]] == d[near[KNN_K]]
            if len(g) != KNN_K or not np.allclose(g_d, d[near[:KNN_K]], rtol=0, atol=1e-3):
                bad.append(f"knn query {q}: distances differ from brute force")
            elif set(g["point_id"]) != set(near[:KNN_K].tolist()) and not tie:
                bad.append(f"knn query {q}: neighbours differ from brute force")
        return bad

    def build_radius():
        out = radius_join(pts, queries, PROX_RADIUS_M)
        return Built(out, out.where(in_chk))

    def check_radius(b: Built):
        got = b.probe.select("query_id", "point_id").toPandas()
        bad = []
        for q in chk:
            d = _haversine(q_lon[q], q_lat[q], lon, lat)
            ref = set(np.nonzero(d <= PROX_RADIUS_M)[0].tolist())
            edge = set(np.nonzero(np.abs(d - PROX_RADIUS_M) < 1e-6)[0].tolist())
            g = set(got.loc[got["query_id"] == q, "point_id"].tolist())
            if (g ^ ref) - edge:
                bad.append(f"radius query {q}: {len((g ^ ref) - edge)} points "
                           "differ from brute force")
        return bad

    return [
        Op("joins.knn_join", build_knn, check_knn),
        Op("joins.radius_join", build_radius, check_radius),
    ]


# ---------------------------------------------------------------------------
# documents and hashes: near-duplicate groups
# ---------------------------------------------------------------------------
def _cluster_sizes(rng: np.random.Generator, n: int, big: int, small: int,
                   lo: int, hi: int) -> list:
    """One large cluster, ``small`` clusters of ``lo``..``hi`` members,
    and singletons for the rest."""
    sizes = [big] + rng.integers(lo, hi + 1, small).tolist()
    return sizes + [1] * (n - sum(sizes))


def _variant(rng: np.random.Generator, words: np.ndarray) -> str:
    """Same text after proj_spark's normalisation (lowercase, collapsed
    whitespace), different raw bytes."""
    case = rng.integers(0, 6, len(words))  # 0: upper, 1: capitalised, else as is
    words = np.where(case == 0, np.char.upper(words),
                     np.where(case == 1, np.char.capitalize(words), words))
    seps = rng.choice(np.array([" ", "  ", "\t", " \n "]), len(words) - 1,
                      p=[0.7, 0.1, 0.1, 0.1])
    text = words[0] + "".join(s + w for s, w in zip(seps.tolist(), words[1:].tolist()))
    return ("  " if rng.random() < 0.2 else "") + text


def _chain_hashes(rng: np.random.Generator, sizes: list):
    """Chains of 60-bit hashes, each member one to three bits from the
    previous one, so neighbours are near-duplicates but the ends of a
    long chain are not.  Returns the hashes and each one's chain."""
    sizes = np.asarray(sizes)
    group = np.repeat(np.arange(len(sizes)), sizes)
    start = np.cumsum(sizes) - sizes
    flips = np.bitwise_or.reduce(
        np.left_shift(np.int64(1), rng.integers(0, 60, (len(group), 3))), axis=1)
    flips[start] = 0
    acc = np.bitwise_xor.accumulate(flips)
    base = rng.integers(0, 1 << 60, len(sizes), dtype=np.int64)
    return base[group] ^ acc ^ acc[start][group], group


def _expected_canonical(group_of: np.ndarray) -> np.ndarray:
    """Each member's canonical id is the smallest id of its group."""
    canon = np.full(group_of.max() + 1, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(canon, group_of, np.arange(len(group_of), dtype=np.int64))
    return canon[group_of]


def _dedup_ops(spark: SparkSession, seed: int, data_dir: str, files: int) -> list:
    from proj_spark.operators.imagedup import phash_dedup_groups
    from proj_spark.operators.textops import minhash_lsh_groups

    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({"".join(rng.choice(letters, int(rng.integers(3, 10))))
                             for _ in range(6000)}))
    sizes = _cluster_sizes(rng, DOCS, 150, 50, 2, 20)
    roots = vocab[rng.integers(0, len(vocab), (len(sizes), DOC_WORDS))]
    texts = []
    for words, size in zip(roots, sizes):
        texts.append(" ".join(words.tolist()))
        texts.extend(_variant(rng, words) for _ in range(size - 1))
    doc_group = np.repeat(np.arange(len(sizes)), sizes)
    perm = rng.permutation(DOCS)  # doc_id = position after shuffling
    texts = [texts[i] for i in perm]
    doc_group = doc_group[perm]

    chains = _cluster_sizes(rng, HASHES, 10, 700, 2, 8)
    hashes, hash_group = _chain_hashes(rng, chains)
    perm = rng.permutation(HASHES)
    hashes, hash_group = hashes[perm], hash_group[perm]

    docs_path = os.path.join(data_dir, "dedup_docs")
    hash_path = os.path.join(data_dir, "dedup_hashes")
    _write_parquet(docs_path, pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts)}), files)
    _write_parquet(hash_path, pa.table({
        "img_id": pa.array(np.arange(HASHES, dtype=np.int64)),
        "ph": pa.array(hashes)}), files)
    docs = spark.read.parquet(docs_path)
    hashes_df = spark.read.parquet(hash_path)
    doc_canon = _expected_canonical(doc_group)
    hash_canon = _expected_canonical(hash_group)

    def compare(b: Built, id_col: str, expected: np.ndarray, what: str):
        got = b.sink.toPandas().sort_values(id_col)
        ids = got[id_col].to_numpy(np.int64)
        if not np.array_equal(ids, np.arange(len(expected))):
            return [f"{what}: output ids are not exactly the input ids"]
        wrong = int((got["canonical_id"].to_numpy(np.int64) != expected).sum())
        return [f"{what}: {wrong} rows miss their planted group"] if wrong else []

    return [
        Op("textops.minhash_lsh_groups",
           lambda: Built(minhash_lsh_groups(docs, num_hashes=16, bands=4,
                                            jaccard_threshold=0.4)),
           lambda b: compare(b, "doc_id", doc_canon, "minhash_lsh_groups")),
        Op("imagedup.phash_dedup_groups",
           lambda: Built(phash_dedup_groups(hashes_df, max_hamming=3,
                                            id_col="img_id", hash_col="ph",
                                            bits=60)),
           lambda b: compare(b, "img_id", hash_canon, "phash_dedup_groups")),
    ]


# ---------------------------------------------------------------------------
# images: verification and tiles
# ---------------------------------------------------------------------------
def _gen_images(batches):
    """Executor-side image synthesis for image ids ``img<seq>``: the
    same per-id raster, format mix and caption that proj_spark's
    ``verify_images`` regenerates to check a row."""
    import pandas as pd

    from proj_spark.sources.datagen import caption_for, meta_for, raster_for
    from proj_spark.sources.images import (decode_image, encode_lossy,
                                           encode_png, phash64)
    from proj_spark.sources.jpeg import encode_jpeg

    for pdf in batches:
        seq = pdf["id"].to_numpy(dtype=np.uint64)
        meta = meta_for(seq)
        rows = []
        for i in range(len(seq)):
            image_id = f"img{int(seq[i]):012d}"
            h_seed = int(meta["hash"][i])
            w, h, fmt = int(meta["w"][i]), int(meta["h"][i]), str(meta["fmt"][i])
            arr = raster_for(h_seed, w, h)
            if fmt == "jpeg":
                data = encode_lossy(arr)
            elif fmt == "jpg":
                data = encode_jpeg(arr, quality=98)
            else:
                data = encode_png(arr)
            rows.append((image_id, bytearray(data), w, h, fmt,
                         caption_for(image_id, h_seed),
                         phash64(decode_image(data, fmt))))
        yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt",
                                          "caption", "phash"])


def expected_tiles(w: np.ndarray, h: np.ndarray) -> dict:
    """Closed-form tile count per zoom: ceil(ceil(w/2^z)/T) * ceil(ceil(h/2^z)/T)."""
    out = {}
    for z in ZOOMS:
        f = 1 << z
        wz, hz = (w + f - 1) // f, (h + f - 1) // f
        out[z] = int((((wz + TILE - 1) // TILE) * ((hz + TILE - 1) // TILE)).sum())
    return out


def _image_ops(spark: SparkSession, seed: int, data_dir: str, files: int) -> list:
    from proj_spark.operators.raster import tile_pyramid
    from proj_spark.sources.datagen import meta_for
    from proj_spark.sources.images import verify_images

    first = (seed % 1_000_000) * 1_000_000
    path = os.path.join(data_dir, "images")
    (spark.range(first, first + IMAGES, 1, files)
     .mapInPandas(_gen_images, "image_id string, bytes binary, w int, h int, "
                               "fmt string, caption string, phash long")
     .write.mode("overwrite").parquet(path))
    images = spark.read.parquet(path)
    meta = meta_for(np.arange(first, first + IMAGES, dtype=np.uint64))
    want = expected_tiles(meta["w"].astype(np.int64), meta["h"].astype(np.int64))

    def check_verify(b: Built):
        ok = (F.col("size_ok") & F.col("phash_ok") & F.col("psnr_ok")
              & F.col("caption_ok"))
        row = b.sink.agg(F.count(F.lit(1)).alias("n"),
                         F.sum(ok.cast("int")).alias("ok")).first()
        if row["n"] != IMAGES or row["ok"] != IMAGES:
            return [f"verify_images: {row['ok']} of {row['n']} rows ok, "
                    f"{IMAGES} expected"]
        return []

    def check_tiles(b: Built):
        got = {int(r["zoom"]): int(r["n"]) for r in
               b.sink.groupBy("zoom").agg(F.count(F.lit(1)).alias("n")).collect()}
        return [] if got == want else [
            f"tile_pyramid tiles per zoom {got}, closed form {want}"]

    return [
        Op("images.verify_images", lambda: Built(verify_images(images)),
           check_verify, udfs=("_verify",)),
        Op("raster.tile_pyramid",
           lambda: Built(tile_pyramid(images, zooms=ZOOMS, tile=TILE)),
           check_tiles, udfs=("_tiles",)),
    ]


def build_etl(spark: SparkSession, seed: int, data_dir: str,
              files: int) -> Workload:
    """The Python-UDF path: coordinate transforms, cells and tiles and
    PIP over points, then verification and tiling of images."""
    return Workload("etl", GEO_POINTS + IMAGES, 4.0,
                    _geo_ops(spark, seed, data_dir, files)
                    + _image_ops(spark, seed, data_dir, files))


def build_match(spark: SparkSession, seed: int, data_dir: str,
                files: int) -> Workload:
    """The JVM-only path: kNN and radius joins over points, then
    near-duplicate groups over documents and hashes."""
    return Workload("match", PROX_POINTS + DOCS + HASHES, 7.5,
                    _proximity_ops(spark, seed, data_dir, files)
                    + _dedup_ops(spark, seed, data_dir, files))


BUILDERS = {"etl": build_etl, "match": build_match}
