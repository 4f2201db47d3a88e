"""GTX vertical (geoid) grids + the vgridshift step: format
round-trip, bilinear evaluation, the z-carrying transform path (the
reference sets z on every PJ_COORD, /root/reference/src/proj.rs:
951-957, 1022-1030), and the Spark UDF surface."""

import os

import numpy as np
import pandas as pd
import pytest

from proj_spark import grids as G
from proj_spark import vgrids as V
from proj_spark.crs import ProjCreateError, ProjError, Transform


@pytest.fixture(scope="module")
def fixture_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("vgrids") / "geoid.gtx"
    V.write_synthetic_geoid_fixture(str(p))
    checked_in = os.path.join(G.GRID_DIR, "synthetic_geoid.gtx")
    assert os.path.exists(checked_in)
    assert open(checked_in, "rb").read() == open(str(p), "rb").read()
    return str(p)


def test_gtx_write_read_roundtrip(fixture_path):
    g = V.read_gtx(fixture_path)
    assert (g.nrows, g.ncols) == (51, 81)
    assert g.ll_lat == 31.0 and g.ll_lon == 240.0  # 0..360 east
    # node values are float32(closed form at the node)
    lon0 = g.ll_lon + 10 * g.dlon - 360.0
    lat0 = g.ll_lat + 7 * g.dlat
    assert g.values[7, 10] == np.float32(V.synthetic_geoid_field(lon0, lat0))


def test_gtx_header_validation():
    with pytest.raises(ValueError, match="too short"):
        V.read_gtx_bytes(b"\x00" * 10, "short")
    import struct

    bad = struct.pack(">4d2i", 31.0, 240.0, 0.1, 0.1, -5, 81) + b"\x00" * 400
    with pytest.raises(ValueError, match="implausible"):
        V.read_gtx_bytes(bad, "bad")
    trunc = struct.pack(">4d2i", 31.0, 240.0, 0.1, 0.1, 51, 81) + b"\x00" * 16
    with pytest.raises(ValueError, match="truncated"):
        V.read_gtx_bytes(trunc, "trunc")


def test_undulation_bilinear_and_lon_normalization(fixture_path):
    g = V.read_gtx(fixture_path)
    # same point asked as -117.5 east and as 242.5 (0..360) must agree
    a = V.geoid_undulation(g, -117.5, 34.0)
    b = V.geoid_undulation(g, 242.5, 34.0)
    assert a[0] == b[0]
    # mid-cell: mean of the four float32 corners on a linear patch
    lon, lat = -117.55, 33.65  # halfway in both axes on the 0.1 grid
    n = V.geoid_undulation(g, lon, lat)
    r0 = int((lat - g.ll_lat) / g.dlat)
    c0 = int((lon + 360.0 - g.ll_lon) / g.dlon)
    corners = g.values[r0:r0 + 2, c0:c0 + 2].astype(np.float64)
    assert abs(n[0] - corners.mean()) < 1e-12
    # outside -> NaN
    assert np.isnan(V.geoid_undulation(g, 0.0, 0.0)[0])


def test_vgridshift_fwd_inv_and_multiplier():
    """Pinned convention: forward z' = z + multiplier*N (orthometric ->
    ellipsoidal h = H + N); horizontal untouched; inverse exact."""
    t = Transform.new(
        "+proj=pipeline +step +proj=vgridshift +grids=synthetic_geoid.gtx")
    lon, lat, H = -117.5, 34.0, 100.0
    x, y, z = t.convert_array3(np.radians([lon]).copy(),
                               np.radians([lat]).copy(), np.array([H]))
    assert np.degrees(x[0]) == pytest.approx(lon)  # horizontal unchanged
    N = V.geoid_undulation(V.load_geoid("synthetic_geoid.gtx"), lon, lat)[0]
    assert abs(z[0] - (H + N)) < 1e-12
    assert -40.0 < N < 10.0  # the EGM96-class magnitude band
    x2, y2, z2 = t.project_array3(x, y, z, inverse=True)
    assert abs(z2[0] - H) < 1e-12
    t2 = Transform.new("+proj=pipeline +step +proj=vgridshift "
                       "+grids=synthetic_geoid.gtx +multiplier=0.5 +inv")
    _, _, z3 = t2.convert_array3(np.radians([lon]), np.radians([lat]),
                                 np.array([H]))
    assert abs(z3[0] - (H - 0.5 * N)) < 1e-12


def test_vgridshift_requires_grids_and_2d_noop(monkeypatch):
    with pytest.raises(ProjCreateError, match="grids"):
        Transform.new("+proj=pipeline +step +proj=vgridshift")
    t = Transform.new(
        "+proj=pipeline +step +proj=vgridshift +grids=synthetic_geoid.gtx")

    def no_lookup(name):
        raise AssertionError("2D run loaded the geoid")

    # 2D evaluation: no z to shift -> identity, no geoid lookup
    monkeypatch.setattr(V, "load_geoid", no_lookup)
    x, y = t.convert_array(np.array([0.1]), np.array([0.6]))
    assert x[0] == 0.1 and y[0] == 0.6
    assert t.convert(0.1, 0.6) == (0.1, 0.6)


def test_z_error_model_strict_and_mask():
    """Outside-grid z goes NaN: mask mode flags the row, strict raises
    (the reference's all-or-nothing array contract, src/proj.rs:1259)."""
    t = Transform.new(
        "+proj=pipeline +step +proj=vgridshift +grids=synthetic_geoid.gtx")
    lon = np.radians([-117.5, 10.0])
    lat = np.radians([34.0, 50.0])
    z = np.array([100.0, 100.0])
    ox, oy, oz, err = t.convert_array3(lon.copy(), lat.copy(), z,
                                       errors="mask")
    assert err[0] is None and err[1] is not None
    assert np.isnan(oz[1]) and not np.isnan(oz[0])
    with pytest.raises(ProjError):
        t.convert_array3(lon.copy(), lat.copy(), z, errors="strict")
    # only z is invalid: the same points pass a 2D strict run
    ox, oy = t.convert_array(lon.copy(), lat.copy(), errors="strict")
    assert np.array_equal(ox, lon) and np.array_equal(oy, lat)


def test_h_plus_v_pipeline_order():
    """hgridshift then vgridshift: the geoid is looked up at the
    SHIFTED horizontal position (pipeline semantics, not parallel
    application)."""
    t = Transform.new(
        "+proj=pipeline +step +proj=hgridshift +grids=synthetic_shift2.gsb"
        " +step +proj=vgridshift +grids=synthetic_geoid.gtx")
    lon, lat, H = -117.5, 34.0, 100.0
    x, y, z = t.convert_array3(np.radians([lon]).copy(),
                               np.radians([lat]).copy(), np.array([H]))
    f = G.load_grid("synthetic_shift2.gsb")
    dlon, dlat = G.grid_shift(f, np.array([lon]), np.array([lat]))
    N_shifted = V.geoid_undulation(
        V.load_geoid("synthetic_geoid.gtx"),
        lon + dlon[0], lat + dlat[0])[0]
    assert abs(z[0] - (H + N_shifted)) < 1e-12
    N_orig = V.geoid_undulation(
        V.load_geoid("synthetic_geoid.gtx"), lon, lat)[0]
    assert N_shifted != N_orig  # the order is observable


def test_vgridshift_spark_surface(spark):
    """projstring_udf3 through Spark: one Arrow batch per partition,
    z shifted, outside rows masked."""
    from pyspark.sql import functions as F

    from proj_spark.functions.transform import projstring_udf3

    df = spark.createDataFrame(pd.DataFrame({
        "id": [0, 1], "lon": [-117.5, 10.0],
        "lat": [34.0, 50.0], "h": [100.0, 100.0]}))
    udf = projstring_udf3(
        "+proj=pipeline +step +proj=vgridshift +grids=synthetic_geoid.gtx",
        input_units="deg")
    out = {r["id"]: r for r in df.select(
        "id", udf(F.col("lon"), F.col("lat"), F.col("h")).alias("t"))
        .select("id", "t.z", "t.err").collect()}
    N = V.geoid_undulation(
        V.load_geoid("synthetic_geoid.gtx"), -117.5, 34.0)[0]
    assert abs(out[0]["z"] - (100.0 + N)) < 1e-9 and out[0]["err"] is None
    assert out[1]["err"] is not None


def test_geographic3d_and_compound_sources_do_degree_io():
    """Round-6 review fix: EPSG:4979 (geographic 3D) and EPSG:9707
    (compound with a GEOGRAPHIC horizontal member) must consume degrees
    exactly like EPSG:4326 — previously their kinds fell into the
    projected branch and degrees were read as radians."""
    import numpy as np

    from proj_spark.crs import Transform

    ref = Transform.new_known_crs("EPSG:4326", "EPSG:32611")
    xr, yr = ref.convert_array(np.array([-117.0]), np.array([33.0]))
    for code in ("EPSG:4979", "EPSG:9707"):
        t = Transform.new_known_crs(code, "EPSG:32611")
        x, y = t.convert_array(np.array([-117.0]), np.array([33.0]))
        assert abs(x[0] - xr[0]) < 1e-9 and abs(y[0] - yr[0]) < 1e-9, code
        # and z rides through untouched on the 3D path
        x3, y3, z3 = t.convert_array3(np.array([-117.0]),
                                      np.array([33.0]), np.array([42.0]))
        assert z3[0] == 42.0
    # compound with a PROJECTED horizontal member stays linear
    t = Transform.new_known_crs("EPSG:7405", "EPSG:4326")
    lon, lat = t.convert_array(np.array([530000.0]), np.array([180000.0]))
    assert -1.0 < lon[0] < 1.0 and 51.0 < lat[0] < 52.5
