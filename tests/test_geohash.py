"""Geohash: classic published examples, nesting-prefix property,
decode roundtrip, and a pure-python reference cross-check."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_spark.operators.geohash import (
    GEOHASH32,
    geohash_col,
    geohash_decode_cols,
    with_geohash,
)


def _py_geohash(lon, lat, precision):
    """Independent scalar reference (textbook bisection algorithm)."""
    lat_rng = [-90.0, 90.0]
    lon_rng = [-180.0, 180.0]
    bits = []
    even = True
    while len(bits) < 5 * precision:
        rng, v = (lon_rng, lon) if even else (lat_rng, lat)
        mid = (rng[0] + rng[1]) / 2
        if v >= mid:
            bits.append(1)
            rng[0] = mid
        else:
            bits.append(0)
            rng[1] = mid
        even = not even
    out = ""
    for i in range(precision):
        d = 0
        for b in bits[5 * i:5 * i + 5]:
            d = d * 2 + b
        out += GEOHASH32[d]
    return out


def test_geohash_published_examples(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "lon": [10.40744, -5.603], "lat": [57.64911, 42.605]}))
    out = df.select(
        geohash_col(F.col("lon"), F.col("lat"), 11).alias("g11"),
        geohash_col(F.col("lon"), F.col("lat"), 5).alias("g5"),
    ).collect()
    # the two canonical examples from the public geohash literature
    assert out[0].g11 == "u4pruydqqvj" and out[0].g5 == "u4pru"
    assert out[1].g5 == "ezs42"


def test_geohash_matches_reference_and_nests(spark):
    import pandas as pd

    rng = np.random.default_rng(33)
    pdf = pd.DataFrame({"lon": rng.uniform(-179.9, 179.9, 120),
                        "lat": rng.uniform(-89.9, 89.9, 120)})
    df = spark.createDataFrame(pdf)
    got = df.select(
        "lon", "lat",
        geohash_col(F.col("lon"), F.col("lat"), 9).alias("g9"),
        geohash_col(F.col("lon"), F.col("lat"), 4).alias("g4"),
    ).collect()
    for r in got:
        assert r.g9 == _py_geohash(r.lon, r.lat, 9), (r.lon, r.lat)
        assert r.g9.startswith(r.g4)  # prefixes nest


def test_geohash_decode_roundtrip(spark):
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"lon": rng.uniform(-179.9, 179.9, 80),
                        "lat": rng.uniform(-89.9, 89.9, 80)})
    df = with_geohash(spark.createDataFrame(pdf), precision=8)
    lon2, lat2 = geohash_decode_cols(F.col("geohash"), 8)
    out = df.select("lon", "lat", lon2.alias("lon2"), lat2.alias("lat2")).collect()
    # precision 8: cell ~ 0.000172 x 0.000086 deg; center within half
    for r in out:
        assert abs(r.lon - r.lon2) < 360.0 / (1 << 20) / 2 + 1e-12
        assert abs(r.lat - r.lat2) < 180.0 / (1 << 20) / 2 + 1e-12


def test_geohash_validation_and_plan(spark):
    import pandas as pd

    with pytest.raises(ValueError):
        geohash_col(F.lit(0.0), F.lit(0.0), 0)
    with pytest.raises(ValueError):
        geohash_decode_cols(F.lit("x"), 13)
    # pure JVM: no Python eval node in the plan
    df = spark.createDataFrame(pd.DataFrame({"lon": [1.0], "lat": [2.0]}))
    plan = with_geohash(df)._jdf.queryExecution().toString()
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()


def test_geohash_decode_matches_numpy_compact(spark):
    # random words at every precision, decoded by the Column path and
    # by the numpy Morton compaction: bit for bit
    from proj_spark.operators.cells import _np_compact

    rng = np.random.default_rng(12)
    for precision in range(1, 13):
        bits = 5 * precision
        v = rng.integers(0, 1 << bits, 200, dtype=np.int64)
        v[:2] = (0, (1 << bits) - 1)
        gh = ["".join(GEOHASH32[(int(w) >> (5 * (precision - 1 - i))) & 31]
                      for i in range(precision)) for w in v]
        lon, lat = geohash_decode_cols(F.col("gh"), precision)
        got = spark.createDataFrame([(g,) for g in gh], "gh string").select(
            lon.alias("lon"), lat.alias("lat")).toPandas()
        n_lon, n_lat = (bits + 1) // 2, bits // 2
        even, odd = _np_compact(v), _np_compact(v >> 1)
        ix, iy = (odd, even) if bits % 2 == 0 else (even, odd)
        want_lon = (ix + 0.5) / float(1 << n_lon) * 360.0 - 180.0
        want_lat = (iy + 0.5) / float(1 << n_lat) * 180.0 - 90.0
        assert (got["lon"].to_numpy() == want_lon).all(), precision
        assert (got["lat"].to_numpy() == want_lat).all(), precision


def test_geohash_decode_is_linear_in_the_precision(spark):
    # each decoded axis names the string once per character (the old
    # mask-and-shift compaction named it twice per step: 42,641
    # characters for the precision-12 longitude)
    import re

    for precision in range(1, 13):
        for col in geohash_decode_cols(F.col("gh"), precision):
            text = col._jc.toString()
            assert len(re.findall(r"\bgh\b", text)) == precision, text
            assert len(text) < 250 * precision, (precision, len(text))
