"""WKT / PROJJSON export dialects + registry breadth.

Reference surface: Proj::as_wkt with six WktVersion dialects
(/root/reference/src/proj.rs:1310-1377, 1446-1453), Proj::to_projjson
(:1280-1308), and the EPSG lookup (:679-685).  The EPSG:4326 WKT2:2019
single-line string is the reference's own golden KAT (:2012-2028);
other strings are engine-canonical but structurally pinned here.
"""

import json

import pytest

from proj_spark.crs import (
    ProjCreateError,
    Transform,
    registry_codes,
    resolve_crs,
)

GOLDEN_4326_WKT2_2019 = (
    'GEOGCRS["WGS 84",ENSEMBLE["World Geodetic System 1984 ensemble",'
    'MEMBER["World Geodetic System 1984 (Transit)"],'
    'MEMBER["World Geodetic System 1984 (G730)"],'
    'MEMBER["World Geodetic System 1984 (G873)"],'
    'MEMBER["World Geodetic System 1984 (G1150)"],'
    'MEMBER["World Geodetic System 1984 (G1674)"],'
    'MEMBER["World Geodetic System 1984 (G1762)"],'
    'MEMBER["World Geodetic System 1984 (G2139)"],'
    'MEMBER["World Geodetic System 1984 (G2296)"],'
    'ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]],'
    'ENSEMBLEACCURACY[2.0]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]],'
    'CS[ellipsoidal,2],'
    'AXIS["geodetic latitude (Lat)",north,ORDER[1],'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'AXIS["geodetic longitude (Lon)",east,ORDER[2],'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'USAGE[SCOPE["Horizontal component of 3D system."],'
    'AREA["World."],BBOX[-90,-180,90,180]],ID["EPSG",4326]]'
)


def test_wkt2_2019_golden_4326():
    t = Transform.new("EPSG:4326")
    assert t.as_wkt("WKT2_2019", multiline=False) == GOLDEN_4326_WKT2_2019


def test_wkt2_2015_4326_uses_datum_not_ensemble():
    w = Transform.new("EPSG:4326").as_wkt("WKT2_2015", multiline=False)
    assert w.startswith('GEODCRS["WGS 84",DATUM["World Geodetic System 1984",')
    assert "ENSEMBLE" not in w
    assert "USAGE" not in w  # 2015 puts SCOPE/AREA/BBOX un-wrapped
    assert 'SCOPE["Horizontal component of 3D system."]' in w
    assert w.endswith('ID["EPSG",4326]]')


def test_wkt2_2019_golden_2230():
    w = Transform.new("EPSG:2230").as_wkt("WKT2_2019", multiline=False)
    # structural goldens: base CRS, method+EPSG codes, ftUS false origin
    assert w.startswith('PROJCRS["NAD83 / California zone 6 (ftUS)",'
                        'BASEGEOGCRS["NAD83",'
                        'DATUM["North American Datum 1983",'
                        'ELLIPSOID["GRS 1980",6378137,298.257222101,')
    assert 'METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]]' in w
    assert ('PARAMETER["Latitude of false origin",32.1666666666667,'
            'ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8821]]') in w
    # 2000000.0001016 m expressed in the CRS unit (US survey feet)
    assert ('PARAMETER["Easting at false origin",6561666.667,'
            'LENGTHUNIT["US survey foot",0.304800609601219],'
            'ID["EPSG",8826]]') in w
    assert 'AXIS["easting (E)",east,ORDER[1]' in w
    assert w.endswith('ID["EPSG",2230]]')


def test_wkt1_gdal_2230():
    w = Transform.new("EPSG:2230").as_wkt("WKT1_GDAL", multiline=False)
    assert w.startswith('PROJCS["NAD83 / California zone 6 (ftUS)",'
                        'GEOGCS["NAD83",DATUM["North_American_Datum_1983",'
                        'SPHEROID["GRS 1980",6378137,298.257222101,'
                        'AUTHORITY["EPSG","7019"]]')
    assert 'PROJECTION["Lambert_Conformal_Conic_2SP"]' in w
    assert 'PARAMETER["false_easting",6561666.667]' in w
    assert 'UNIT["US survey foot",0.304800609601219,AUTHORITY["EPSG","9003"]]' in w
    assert w.endswith('AUTHORITY["EPSG","2230"]]')


def test_wkt1_esri_2230():
    w = Transform.new("EPSG:2230").as_wkt("WKT1_ESRI", multiline=False)
    assert w.startswith('PROJCS["NAD83_California_zone_6_(ftUS)",'
                        'GEOGCS["GCS_NAD83",DATUM["D_North_American_Datum_1983",')
    assert 'PROJECTION["Lambert_Conformal_Conic"]' in w
    assert 'PARAMETER["False_Easting",6561666.667]' in w
    assert "AUTHORITY" not in w
    assert 'UNIT["Foot_US",0.3048006096012192]' in w


def test_wkt_simplified_drops_order_and_nested_ids():
    w = Transform.new("EPSG:2230").as_wkt("WKT2_2019_SIMPLIFIED",
                                          multiline=False)
    assert "ORDER[" not in w
    assert "USAGE[" not in w
    assert 'ID["EPSG",9802]' not in w        # nested method id dropped
    assert w.endswith('ID["EPSG",2230]]')    # top-level id kept


def test_wkt_multiline_indentation():
    w = Transform.new("EPSG:2230").as_wkt("WKT2_2019", multiline=True)
    lines = w.splitlines()
    assert lines[0] == 'PROJCRS["NAD83 / California zone 6 (ftUS)",'
    assert lines[1].startswith('    BASEGEOGCRS["NAD83",')
    assert any(line.startswith("            ELLIPSOID[") for line in lines)
    # single-line form is the same tree flattened
    flat = Transform.new("EPSG:2230").as_wkt("WKT2_2019", multiline=False)
    assert "".join(s.strip() for s in lines) == flat.replace("\n", "")


def test_wkt_unknown_version_rejected():
    with pytest.raises(ValueError):
        Transform.new("EPSG:4326").as_wkt("WKT3")


def test_projjson_full_structure():
    obj = json.loads(Transform.new("EPSG:2230").to_projjson())
    assert obj["type"] == "ProjectedCRS"
    assert obj["base_crs"]["id"] == {"authority": "EPSG", "code": 4269}
    assert obj["base_crs"]["datum"]["ellipsoid"]["inverse_flattening"] == 298.257222101
    conv = obj["conversion"]
    assert conv["method"]["id"]["code"] == 9802
    pnames = [p["name"] for p in conv["parameters"]]
    assert pnames == [
        "Latitude of false origin", "Longitude of false origin",
        "Latitude of 1st standard parallel", "Latitude of 2nd standard parallel",
        "Easting at false origin", "Northing at false origin",
    ]
    east = conv["parameters"][4]
    assert abs(east["value"] - 6561666.667) < 1e-6
    assert east["unit"]["name"] == "US survey foot"
    assert obj["coordinate_system"]["axis"][0]["direction"] == "east"
    assert obj["bbox"]["west_longitude"] == -118.15
    assert obj["id"] == {"authority": "EPSG", "code": 2230}
    # geographic CRS: ensemble with members
    g = json.loads(Transform.new("EPSG:4326").to_projjson(multiline=False))
    assert g["type"] == "GeographicCRS"
    assert len(g["datum_ensemble"]["members"]) == 8
    assert g["coordinate_system"]["axis"][0]["direction"] == "north"


def test_projjson_options():
    t = Transform.new("EPSG:4326")
    single = t.to_projjson(multiline=False)
    assert "\n" not in single
    wide = t.to_projjson(indent_width=4)
    assert '\n    "type"' in wide
    custom = t.to_projjson(schema="https://example.com/s.json")
    assert json.loads(custom)["$schema"] == "https://example.com/s.json"


# ---------------------------------------------------------------------------
# registry breadth
# ---------------------------------------------------------------------------
def test_registry_at_least_100_codes_with_area():
    codes = registry_codes()
    assert len(codes) >= 100
    for c in codes:
        e = resolve_crs(c)
        assert e.area is not None, c
        assert e.area_name, c


def test_registry_every_code_roundtrips():
    # every registry code constructs and roundtrips its area centroid
    # through 4326 to <1e-7 deg; a vertical CRS is no 2D endpoint
    # (tests/test_kernels.py::test_vertical_crs_is_no_2d_endpoint)
    for c in registry_codes():
        e = resolve_crs(c)
        if e.kind == "vertical":
            continue
        w, s, east, n = e.area.west, e.area.south, e.area.east, e.area.north
        lon = (w + east) / 2 if w < east else ((w + east + 360) / 2 + 180) % 360 - 180
        lat = (s + n) / 2
        t = Transform.new_known_crs("EPSG:4326", c)
        x, y = t.convert(lon, lat)
        ti = Transform.new_known_crs(c, "EPSG:4326")
        lon2, lat2 = ti.convert(float(x), float(y))
        assert abs(float(lon2) - lon) < 1e-7, c
        assert abs(float(lat2) - lat) < 1e-7, c


def test_ca_spcs_structural_kats():
    """Published-parameter invariants for the CA State Plane family:
    on the central meridian x == x_0 exactly; the ftUS and meter zones
    share the projection core (the reference's 2230->26946 relationship,
    /root/reference/src/proj.rs:1868-1875, generalized to zones 1-5)."""
    usft = 1200.0 / 3937.0
    for z in range(1, 7):
        m_code, ft_code = f"EPSG:269{40 + z}", f"EPSG:{2224 + z}"
        em = resolve_crs(m_code)
        lon0 = float(dict(
            kv.split("=") for kv in em.proj.replace("+", "").split()
            if "=" in kv)["lon_0"])
        lat_mid = (em.area.south + em.area.north) / 2
        tm = Transform.new_known_crs("EPSG:4326", m_code)
        x, y = tm.convert(lon0, lat_mid)
        assert abs(float(x) - 2000000.0) < 1e-6, m_code
        # ftUS zone differs only by false origin value/unit
        tf = Transform.new_known_crs("EPSG:4326", ft_code)
        xf, yf = tf.convert(lon0 + 1.0, lat_mid + 0.5)
        xm, ym = tm.convert(lon0 + 1.0, lat_mid + 0.5)
        assert abs((float(xf) * usft - 2000000.0001016) -
                   (float(xm) - 2000000.0)) < 1e-6, ft_code
        assert abs((float(yf) * usft - 500000.0001016) -
                   (float(ym) - 500000.0)) < 1e-6, ft_code


def test_accuracy_option_enforced():
    # 7-param Helmert grade (2 m): accuracy=5 ok, accuracy=1 refused
    Transform.new_known_crs("EPSG:4326", "EPSG:27700", accuracy=5.0)
    with pytest.raises(ProjCreateError):
        Transform.new_known_crs("EPSG:4326", "EPSG:27700", accuracy=1.0)
    # same-datum: 0 m, any accuracy ok
    t = Transform.new_known_crs("EPSG:4326", "EPSG:3857", accuracy=0.001)
    assert t.accuracy == 0.0
    # ballpark (NAD83 has no towgs84): accuracy request refused
    with pytest.raises(ProjCreateError):
        Transform.new_known_crs("EPSG:4269", "EPSG:4326", accuracy=10.0)


def test_vertical_and_compound_crs_round6():
    """Vertical / compound / 3D-geographic CRS (round 6): WKT + PROJJSON
    export with round-trip import, and the documented transform
    semantics — compound transforms through its horizontal member,
    vertical is a z-identity (grid-less ballpark vertical; attach
    +proj=vgridshift to apply a geoid)."""
    import json

    import numpy as np

    from proj_spark.crs import Transform, resolve_crs

    # kinds + members
    assert resolve_crs("EPSG:5701").kind == "vertical"
    assert resolve_crs("EPSG:4979").kind == "geographic3d"
    e7405 = resolve_crs("EPSG:7405")
    assert e7405.kind == "compound"
    assert e7405.members == ("EPSG:27700", "EPSG:5701")

    # WKT structure + all-dialect identity round-trip
    w = Transform.new("EPSG:7405").as_wkt(multiline=False)
    assert w.startswith('COMPOUNDCRS["OSGB36 / British National Grid')
    assert 'VERTCRS["ODN height"' in w
    assert 'VDATUM["Ordnance Datum Newlyn"' in w
    assert 'ID["EPSG",7405]' in w
    for code in ("EPSG:5701", "EPSG:5714", "EPSG:5773",
                 "EPSG:7405", "EPSG:9707"):
        t = Transform.new(code)
        for ver in ("WKT2_2019", "WKT2_2015", "WKT1_GDAL", "WKT1_ESRI",
                    "WKT2_2019_SIMPLIFIED", "WKT2_2015_SIMPLIFIED"):
            t2 = Transform.new(t.as_wkt(version=ver, multiline=False))
            assert t2._src.code == code, (code, ver)
        j = json.loads(t.to_projjson())
        assert j["type"] in ("VerticalCRS", "CompoundCRS")
        assert Transform.new(t.to_projjson())._src.code == code
    j = json.loads(Transform.new("EPSG:7405").to_projjson())
    assert [c["type"] for c in j["components"]] == \
        ["ProjectedCRS", "VerticalCRS"]
    j3 = json.loads(Transform.new("EPSG:4979").to_projjson())
    assert len(j3["coordinate_system"]["axis"]) == 3

    # transform semantics
    t = Transform.new("EPSG:7405")
    th = Transform.new("EPSG:27700")
    lam, phi = np.radians(-2.0), np.radians(53.0)
    assert t.project(lam, phi) == th.project(lam, phi)
    x, y, z = t.convert_array3(np.array([lam]), np.array([phi]),
                               np.array([42.0]))
    assert z[0] == 42.0  # ballpark vertical: z carried, not invented
    tv = Transform.new("EPSG:5701")
    assert tv.convert(1.5, 2.5) == (1.5, 2.5)
