"""spark.sql surface: SQL-macro functions inline into codegen and match
the Column-API twins bit-for-bit; proj_transform works per-row with
mixed CRS pairs and row-wise errors."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from proj_spark.functions.sqlfns import register_sql_functions
from proj_spark.operators import cells as C
from proj_spark.operators import tiles as T


def _pts_view(spark, n=500, seed=31):
    rng = np.random.default_rng(seed)
    df = spark.createDataFrame(pd.DataFrame({
        "lon": rng.uniform(-180, 180, n),
        "lat": rng.uniform(-89.9, 89.9, n),
    }))
    df.createOrReplaceTempView("sql_pts")
    return df


def test_sql_cell_and_tile_match_column_api(spark):
    register_sql_functions(spark)
    df = _pts_view(spark)
    got = spark.sql("""
        SELECT cell_id(lon, lat, 12) AS c12,
               cell_parent(cell_id(lon, lat, 12), 12, 5) AS p5,
               tile_x(lon, 7) AS tx, tile_y(lat, 7) AS ty
        FROM sql_pts
    """).toPandas()
    want = df.select(
        C.cell_col(F.col("lon"), F.col("lat"), 12).alias("c12"),
        C.cell_parent_col(
            C.cell_col(F.col("lon"), F.col("lat"), 12), 12, 5).alias("p5"),
        T.tile_x_col(F.col("lon"), 7).alias("tx"),
        T.tile_y_col(F.col("lat"), 7).alias("ty"),
    ).toPandas()
    for c in ("c12", "p5", "tx", "ty"):
        assert (got[c].values == want[c].values).all(), c


def test_sql_cell_id_matches_cell_col_at_every_level(spark):
    from tests.test_spark_ops import _cell_inputs

    register_sql_functions(spark)
    lon, lat = _cell_inputs(32)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    df.createOrReplaceTempView("sql_cell_pts")
    levels = range(C.MAX_LEVEL + 1)
    got = spark.sql("SELECT " + ", ".join(
        f"cell_id(lon, lat, {lv}) AS c{lv}" for lv in levels)
        + " FROM sql_cell_pts").toPandas()
    want = df.select(*[C.cell_col(F.col("lon"), F.col("lat"), lv).alias(f"c{lv}")
                       for lv in levels]).toPandas()
    for lv in levels:
        assert (got[f"c{lv}"].to_numpy() == want[f"c{lv}"].to_numpy()).all(), lv
        assert (want[f"c{lv}"].to_numpy() == C.np_cell(lon, lat, lv)).all(), lv


def test_sql_functions_stay_in_codegen(spark):
    register_sql_functions(spark)
    _pts_view(spark)
    q = spark.sql("SELECT cell_id(lon, lat, 8) AS c, tile_y(lat, 5) AS t "
                  "FROM sql_pts")
    plan = q._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sql_haversine(spark):
    register_sql_functions(spark)
    d = spark.sql(
        "SELECT haversine_m(2.3522d, 48.8566d, -0.1276d, 51.5072d) AS d"
    ).collect()[0]["d"]
    assert abs(d - 343_500) < 1_500
    # a NaN or infinite coordinate has no distance (haversine_col's rule)
    row = spark.sql(
        "SELECT haversine_m(CAST('NaN' AS DOUBLE), 1.0d, 2.0d, 3.0d) AS a, "
        "haversine_m(1.0d, CAST('-Infinity' AS DOUBLE), 2.0d, 3.0d) AS b"
    ).collect()[0]
    assert np.isnan(row["a"]) and np.isnan(row["b"])


def test_sql_proj_transform_mixed_pairs_and_errors(spark):
    register_sql_functions(spark)
    pdf = pd.DataFrame({
        "lon": [-122.4194, 2.3522, -122.4, -115.797615],
        "lat": [37.7749, 48.8566, 95.0, 37.2647978],
        "src": ["EPSG:4326"] * 4,
        "dst": ["EPSG:3857", "EPSG:3857", "EPSG:3857", "EPSG:2230"],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("sql_tp")
    out = spark.sql("""
        SELECT t.x, t.y, t.err
        FROM (SELECT proj_transform(lon, lat, src, dst) AS t FROM sql_tp)
    """).toPandas()
    assert abs(out["x"][0] - -13627665.271) < 0.01
    # bad latitude -> row-wise error, others unaffected
    assert out["err"][2] is not None and np.isnan(out["x"][2])
    assert out["err"][0] is None and out["err"][3] is None
    # mixed dst within one batch: K3 known answer (4326 -> 2230)
    assert abs(out["x"][3] - 6693625.67217475) < 1e-5


def test_sql_geohash_matches_column_api(spark):
    """spark.sql geohash(...) is the inlined 12-char hash prefixed —
    bit-parity with geohash_col at several precisions, and no Python
    eval node in the plan."""
    import pandas as pd
    from pyspark.sql import functions as F

    from proj_spark.functions.sqlfns import register_sql_functions
    from proj_spark.operators.geohash import geohash_col

    register_sql_functions(spark)
    import numpy as np

    rng = np.random.default_rng(12)
    pdf = pd.DataFrame({"lon": rng.uniform(-179.9, 179.9, 60),
                        "lat": rng.uniform(-89.9, 89.9, 60)})
    spark.createDataFrame(pdf).createOrReplaceTempView("ghpts")
    for p in (1, 4, 7, 12):
        sql = spark.sql(
            f"SELECT lon, lat, geohash(lon, lat, {p}) AS g FROM ghpts")
        col = spark.table("ghpts").select(
            "lon", "lat", geohash_col(F.col("lon"), F.col("lat"), p).alias("g"))
        a = {(r.lon, r.lat): r.g for r in sql.collect()}
        b = {(r.lon, r.lat): r.g for r in col.collect()}
        assert a == b, f"precision {p}"
    plan = spark.sql(
        "SELECT geohash(lon, lat, 7) FROM ghpts")._jdf.queryExecution().toString()
    assert "PythonUDF" not in plan


def test_sql_geodesic_matches_kernel(spark):
    from proj_spark.functions.sqlfns import register_sql_functions
    from proj_spark.operators.geodesic import vincenty_inverse
    import numpy as np

    register_sql_functions(spark)
    r = spark.sql(
        "SELECT geodesic_m(2.3522d, 48.8566d, -0.1278d, 51.5074d) AS d"
    ).collect()[0]
    ref = vincenty_inverse(np.array([2.3522]), np.array([48.8566]),
                           np.array([-0.1278]), np.array([51.5074]))
    assert abs(r.d - float(ref[0])) < 1e-9
    # Paris-London is ~343.5 km on the ellipsoid
    assert 340_000 < r.d < 348_000


def test_ring_cells_udtf(spark):
    """The UDTF leg of the SQL surface: ring_cells(cell, r) in a
    LATERAL join must emit exactly np_cell_ring's neighbourhood for
    every input row."""
    import numpy as np
    import pandas as pd

    from proj_spark.functions.sqlfns import register_sql_functions
    from proj_spark.operators.cells import np_cell, np_cell_ring

    register_sql_functions(spark)
    lon = np.array([10.0, -170.0, 0.3])
    lat = np.array([45.0, 80.0, -45.0])
    cells = np_cell(lon, lat, 6)
    df = spark.createDataFrame(pd.DataFrame({
        "pid": range(3), "cell": cells.astype("int64")}))
    df.createOrReplaceTempView("ring_pts")
    out = spark.sql(
        "SELECT p.pid, rc.cand_cell FROM ring_pts p, "
        "LATERAL ring_cells(p.cell, 1) rc").toPandas()
    for pid in range(3):
        got = set(out[out["pid"] == pid]["cand_cell"].astype(int))
        want = set(int(c) for c in
                   np_cell_ring(cells[pid:pid + 1], 1).ravel())
        assert got == want, pid
        assert len(got) == 9  # full 3x3 block away from edges
    # a cell on the pole row loses the row past the pole, and a level-1
    # ring wider than the globe takes each column once: no -1 padding
    # and no repeated cell
    edge = np.array([np_cell(10.0, 89.9, 6), np_cell(10.0, 0.0, 1)])
    spark.createDataFrame(pd.DataFrame({"pid": [0, 1], "cell": edge})
                          ).createOrReplaceTempView("ring_edge")
    out = spark.sql(
        "SELECT p.pid, rc.cand_cell FROM ring_edge p, "
        "LATERAL ring_cells(p.cell, 1) rc").toPandas()
    for pid, n in ((0, 6), (1, 4)):
        got = out[out["pid"] == pid]["cand_cell"].astype(int).tolist()
        assert -1 not in got and len(got) == len(set(got)) == n, pid
        assert set(got) == {int(c) for c in np_cell_ring(edge[pid], 1)[0]
                            if c >= 0}, pid
