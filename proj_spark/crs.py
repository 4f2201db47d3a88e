"""CRS registry, proj-string parser, pipeline composer and the
``Transform`` object — the engine's equivalent of the reference's
``Proj`` type (/root/reference/src/proj.rs:575-579).

Driver-side only: a ``Transform`` is a small parameter object (plain
floats + numpy coefficient arrays) that is captured by closure into
Arrow-batched UDFs (see :mod:`proj_spark.functions.transform`).
It is cheap to pickle and is cached per Python worker, the analog of the
reference's per-thread shared context (/root/reference/src/context.rs:84-89).

API parity map (reference operator -> here):
  Proj::new                  -> Transform.new            (src/proj.rs:675-677)
  Proj::new_known_crs        -> Transform.new_known_crs  (src/proj.rs:726-732)
  create_crs_to_crs_from_pj  -> Transform.crs_to_crs_from_transforms
                                                         (src/proj.rs:778-789)
  Proj::project              -> Transform.project        (src/proj.rs:932-975)
  Proj::convert              -> Transform.convert        (src/proj.rs:1011-1046)
  Proj::convert_array        -> Transform.convert_array  (src/proj.rs:1080-1086)
  Proj::project_array        -> Transform.project_array  (src/proj.rs:1113-1123)
  Proj::transform_bounds     -> Transform.transform_bounds (src/proj.rs:1159-1205)
  Proj::area_of_use          -> Transform.area_of_use    (src/proj.rs:828-877)
  Proj::proj_info / def      -> Transform.proj_info/definition (src/proj.rs:888-923)
  Proj::as_wkt               -> Transform.as_wkt         (src/proj.rs:1310-1377)
  Proj::to_projjson          -> Transform.to_projjson    (src/proj.rs:1280-1308)
  Proj::equivalent_to        -> Transform.equivalent_to  (src/proj.rs:1391-1410)
  coordinate_metadata_*      -> Transform.with_epoch/epoch (src/proj.rs:607-637)
  Proj::area_set_bbox        -> Transform.area_set_bbox  (src/proj.rs:801-813)
  TryFrom<&str>/(&str,&str)  -> Transform.from_spec      (src/proj.rs:1455-1492)
  Proj::lib_info             -> lib_info()               (src/proj.rs:313-335)

Axis-order semantics follow the reference exactly: ``new_known_crs``
normalizes to lon,lat / easting,northing regardless of the CRS's
declared axis order (src/proj.rs:498-508, test at :1963-1972), while
``new`` leaves coordinate order caller-owned (src/proj.rs:986-991).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from dataclasses import replace as dc_replace
from typing import Optional, Sequence, Union

import numpy as np

from . import kernels as K

__all__ = [
    "Area",
    "ComparisonCriterion",
    "CrsEntry",
    "ProjCreateError",
    "ProjError",
    "Transform",
    "TransformBuilder",
    "EPSG",
    "lib_info",
    "parse_proj_string",
    "registry_codes",
    "resolve_crs",
]

ENGINE_VERSION = "0.1.0"
# semantics modeled on libproj >= 9.6.2 (reference pin:
# /root/reference/proj-sys/build.rs:7)
MODELED_PROJ_VERSION = "9.6.2"

US_FOOT = 1200.0 / 3937.0
UNITS_TO_M = {
    "m": 1.0,
    "meter": 1.0,
    "metre": 1.0,
    "km": 1000.0,
    "us-ft": US_FOOT,
    "ft": 0.3048,
    "deg": math.pi / 180.0,  # angular units only valid in unitconvert
    "rad": 1.0,
}

INVALID_COORD = "Invalid coordinate"


def _check_errors(errors: str) -> None:
    """Reject an error mode other than "strict"/"mask" (a misspelt mode
    must not switch the strict check off)."""
    if errors not in ("strict", "mask"):
        raise ValueError(f"errors must be 'strict' or 'mask', got {errors!r}")


class ProjError(Exception):
    """Conversion/projection failure (reference ProjError,
    /root/reference/src/proj.rs:96-139)."""


class ProjCreateError(Exception):
    """Failure constructing a transform (reference ProjCreateError,
    /root/reference/src/proj.rs:148-158)."""


@dataclass(frozen=True)
class Area:
    """Bounding box of an area of use.  Antimeridian rule: ``west > east``
    when the area crosses +/-180 deg (/root/reference/src/proj.rs:167-192)."""

    west: float
    south: float
    east: float
    north: float

    def contains(self, lon, lat):
        lon = np.asarray(lon)
        lat = np.asarray(lat)
        lat_ok = (lat >= self.south) & (lat <= self.north)
        if self.west > self.east:  # crosses antimeridian
            lon_ok = (lon >= self.west) | (lon <= self.east)
        else:
            lon_ok = (lon >= self.west) & (lon <= self.east)
        return lon_ok & lat_ok


class ComparisonCriterion:
    """CRS comparison levels (/root/reference/src/proj.rs:160-165)."""

    Strict = "strict"
    Equivalent = "equivalent"
    EquivalentExceptAxisOrder = "equivalent_except_axis_order"


# ---------------------------------------------------------------------------
# proj-string parsing (the `+key=value` grammar of E2,
# /root/reference/src/proj.rs:226-238 delegates this to libproj; here it
# is a ~30-line pure-Python parser)
# ---------------------------------------------------------------------------
_FLAG_KEYS = {"inv", "no_defs", "south", "over", "wktext", "no_off"}


def _parse_kv(tokens: Sequence[str]) -> dict:
    params: dict = {}
    for tok in tokens:
        tok = tok.lstrip("+")
        if not tok:
            continue
        if "=" in tok:
            k, v = tok.split("=", 1)
            params[k] = v
        else:
            params[tok] = True
    return params


def parse_proj_string(definition: str) -> list[dict]:
    """Parse a PROJ string into a list of step-param dicts.

    A plain single-op string yields one step; ``+proj=pipeline`` yields
    one dict per ``+step`` (pipeline grammar: /root/reference/src/lib.rs:45-75).
    """
    if "\x00" in definition:
        raise ProjCreateError("definition contains NUL byte")
    tokens = definition.split()
    is_pipeline = any(tok.lstrip("+") == "proj=pipeline" for tok in tokens)
    if not is_pipeline:
        params = _parse_kv(tokens)
        if "proj" not in params and "init" not in params:
            raise ProjCreateError(f"no +proj in definition: {definition!r}")
        return [params]
    # split on +step
    steps: list[dict] = []
    cur: list[str] = []
    seen_step = False
    globals_: list[str] = []
    for tok in tokens:
        if tok.lstrip("+") == "step":
            if cur:
                steps.append(_parse_kv(cur))
            cur = []
            seen_step = True
        elif tok.lstrip("+").startswith("proj=pipeline"):
            continue
        elif not seen_step:
            globals_.append(tok)
        else:
            cur.append(tok)
    if cur:
        steps.append(_parse_kv(cur))
    gparams = _parse_kv(globals_)
    out = []
    for s in steps:
        merged = dict(gparams)
        merged.update(s)
        out.append(merged)
    return out


# ---------------------------------------------------------------------------
# pipeline steps
# ---------------------------------------------------------------------------
class _StepBase:
    """One pipeline step.  ``Transform._run`` calls every step through
    ``apply3(x, y, z, forward) -> (x, y, z)``: z rides along like the
    reference's PJ_COORD, which is always x/y/z/t (reference
    src/proj.rs:951-957, 1022-1030), and is None on a 2D run.  Horizontal
    steps implement ``apply(x, y, forward) -> (x, y)`` and pass z
    through untouched; vertical steps (vgridshift) override ``apply3``,
    adjust z and leave x/y.  Invalid points come back NaN.

    Non-finite rule: a step whose math reads a coordinate (a projection,
    a datum shift) runs it only on the lanes in its domain, through
    ``_on_lanes``, and writes NaN to every other lane; so does
    ``DegRadStep`` for degrees entering from a geographic CRS.
    Geodetic input is in the domain when lam and phi are finite and
    |phi| <= 90 deg (+``LAT_EPS``, PROJ's forward-prepare check);
    projected input when x and y are finite.  So no kernel sees a NaN,
    an Inf or a latitude past a pole, and a bad row comes out NaN,
    i.e. ``INVALID_COORD``."""

    has_inverse = True
    inv_flag = False

    def apply(self, x, y, forward=True):
        raise NotImplementedError

    def apply3(self, x, y, z, forward=True):
        x2, y2 = self.apply(x, y, forward=forward)
        return x2, y2, z


def _geodetic_lanes(lam, phi):
    """The geodetic lanes a step may compute on (``_StepBase``'s rule)."""
    return (np.isfinite(lam) & np.isfinite(phi)
            & (np.abs(phi) <= K.HALFPI + K.LAT_EPS))


def _on_lanes(fn, ok, x, y):
    """``fn(x, y)`` on the lanes where ``ok`` and NaN on the others;
    ``fn`` is not called when no lane is ok."""
    if ok.all():
        return fn(x, y)
    ox = np.full(x.shape, np.nan)
    oy = np.full(x.shape, np.nan)
    if ok.any():
        ox[ok], oy[ok] = fn(x[ok], y[ok])
    return ox, oy


class _IdentityStep(_StepBase):
    """``+proj=noop``/``pop``/``push``: coordinates pass unchanged."""

    def apply(self, x, y, forward=True):
        return x, y


class ProjStep(_StepBase):
    def __init__(self, params: dict):
        name = params["proj"]
        if name == "utm":
            params = dict(params)
            zone = int(params["zone"])
            params["lon_0"] = -183.0 + 6.0 * zone
            params.setdefault("k", 0.9996)
            params.setdefault("x_0", 500000.0)
            params.setdefault("y_0", 10000000.0 if params.get("south") else 0.0)
        if name == "ups":
            # Universal Polar Stereographic presets (PROJ ups)
            params = dict(params)
            params.setdefault("lat_0", -90.0 if params.get("south") else 90.0)
            params.setdefault("k", 0.994)
            params.setdefault("x_0", 2000000.0)
            params.setdefault("y_0", 2000000.0)
        if name not in K.PROJECTIONS:
            raise ProjCreateError(f"unsupported projection: {name}")
        self.name = name
        self.inv_flag = bool(params.get("inv", False))
        self.a, self.es = K.ellipsoid(params)
        self.lam0 = math.radians(float(params.get("lon_0", 0.0)))
        self.x0 = float(params.get("x_0", 0.0))
        self.y0 = float(params.get("y_0", 0.0))
        self.over = bool(params.get("over", False))
        unit = params.get("units", "m")
        self.to_meter = float(params.get("to_meter", UNITS_TO_M.get(unit, 1.0)))
        setup, self._fwd, self._inv = K.PROJECTIONS[name]
        self.P = dict(setup(params, self.a, self.es))
        if name == "geos":
            self.P["_h_over_a"] = float(params["h"]) / self.a
        self.is_angular = name in ("longlat", "latlong")
        self.params = dict(params)
        self.has_inverse = True

    def apply(self, x, y, forward=True):
        """The one gate in front of the kernels (``_StepBase``'s
        non-finite rule): ``_fwd`` sees only finite lam/phi with
        |phi| <= HALFPI + LAT_EPS, which is what makes the reference's
        test_conversion_error raise "Invalid coordinate" (reference
        src/proj.rs:1905-1918); ``_inv`` sees only
        finite X/Y.  Every other lane comes back NaN."""
        forward = forward != self.inv_flag
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        if self.is_angular:
            return x, y
        if forward:
            with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
                px, py = _on_lanes(self._fwd_lanes, _geodetic_lanes(x, y), x, y)
            return ((self.a * px + self.x0) / self.to_meter,
                    (self.a * py + self.y0) / self.to_meter)
        if not self.has_inverse:
            raise ProjError(f"projection {self.name} has no inverse")
        X = (x * self.to_meter - self.x0) / self.a
        Y = (y * self.to_meter - self.y0) / self.a
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            return _on_lanes(self._inv_lanes, np.isfinite(X) & np.isfinite(Y), X, Y)

    def _fwd_lanes(self, lam, phi):
        lam = lam - self.lam0
        if not self.over:
            lam = K.adjlon(lam)
        return self._fwd(lam, phi, self.P)

    def _inv_lanes(self, X, Y):
        """The inverse kernel, bounded like the forward's input: a lane
        whose latitude comes out past a pole (projected input beyond the
        map's edge) is NaN, i.e. ``INVALID_COORD``."""
        lam, phi = self._inv(X, Y, self.P)
        lam = lam + self.lam0
        if not self.over:
            lam = K.adjlon(lam)
        past = np.abs(phi) > K.HALFPI + K.LAT_EPS
        return np.where(past, np.nan, lam), np.where(past, np.nan, phi)


class UnitConvertStep(_StepBase):
    def __init__(self, params: dict):
        self.inv_flag = bool(params.get("inv", False))
        self.xy_in = float(UNITS_TO_M[params.get("xy_in", "m")])
        self.xy_out = float(UNITS_TO_M[params.get("xy_out", "m")])
        self.params = dict(params)

    def apply(self, x, y, forward=True):
        forward = forward != self.inv_flag
        f = self.xy_in / self.xy_out if forward else self.xy_out / self.xy_in
        return np.asarray(x, dtype=np.float64) * f, np.asarray(y, dtype=np.float64) * f


class AxisSwapStep(_StepBase):
    """+proj=axisswap +order=2,1[,-1,...] (reference usage:
    /root/reference/src/transform.rs:24).

    A pure swap (2,1) is self-inverse, but negated orders are NOT: the
    inverse must invert the (permutation, sign) mapping — applying the
    forward map twice for order=2,-1 gives (-x,-y), not identity
    (round-1 advice finding)."""

    def __init__(self, params: dict):
        self.inv_flag = bool(params.get("inv", False))
        toks = [s.strip() for s in str(params.get("order", "2,1")).split(",")][:2]
        try:
            vals = [int(t) for t in toks]
        except ValueError:
            raise ProjCreateError(f"axisswap: bad order {toks!r}")
        if sorted(abs(v) for v in vals) != [1, 2]:
            raise ProjCreateError(
                f"axisswap: order must be a signed permutation of 1,2, got {toks!r}"
            )
        # out[i] = sign_i * in[src_i]
        self.map = [(abs(v) - 1, 1.0 if v > 0 else -1.0) for v in vals]
        self.params = dict(params)

    def apply(self, x, y, forward=True):
        fwd = forward != self.inv_flag
        arr = [np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)]
        if fwd:
            return self.map[0][1] * arr[self.map[0][0]], self.map[1][1] * arr[self.map[1][0]]
        out: list = [None, None]
        for i, (src, sgn) in enumerate(self.map):
            out[src] = sgn * arr[i]
        return out[0], out[1]


class DatumShiftStep(_StepBase):
    """Fused geodetic->ECEF->Helmert7->ECEF->geodetic datum shift
    (the +towgs84 semantics exercised by the reference's stereo70/OSGB36
    pipelines, /root/reference/src/proj.rs:1819-1863).  Input/output are
    geodetic radians; z=0 on the source datum, matching the reference's
    PJ_COORD construction with z=0 (/root/reference/src/proj.rs:951)."""

    def __init__(self, src_a, src_es, src_towgs84, dst_a, dst_es, dst_towgs84):
        self.src_a, self.src_es = src_a, src_es
        self.dst_a, self.dst_es = dst_a, dst_es
        self.src_h = K.helmert_params(src_towgs84) if src_towgs84 else None
        self.dst_h = K.helmert_params(dst_towgs84) if dst_towgs84 else None

    def apply(self, x, y, forward=True):
        if forward:
            src_a, src_es, dst_a, dst_es = self.src_a, self.src_es, self.dst_a, self.dst_es
            first, second = self.src_h, self.dst_h
        else:
            src_a, src_es, dst_a, dst_es = self.dst_a, self.dst_es, self.src_a, self.src_es
            first, second = self.dst_h, self.src_h

        def shift(lam, phi):
            X, Y, Z = K.geodetic_to_ecef(lam, phi, src_a, src_es)
            if first is not None:
                X, Y, Z = K.helmert_fwd(X, Y, Z, first)
            if second is not None:
                X, Y, Z = K.helmert_inv(X, Y, Z, second)
            return K.ecef_to_geodetic(X, Y, Z, dst_a, dst_es)

        lam = np.asarray(x, dtype=np.float64)
        phi = np.asarray(y, dtype=np.float64)
        return _on_lanes(shift, _geodetic_lanes(lam, phi), lam, phi)


class HGridShiftStep(_StepBase):
    """``+proj=hgridshift +grids=<file.gsb>`` — NTv2 bilinear grid
    datum shift (the reference's grid capability class, delegated there
    to libproj + downloaded grids: /root/reference/src/proj.rs:370-440;
    grid-vs-ballpark accuracy demo :1632-1638).  Geodetic radians in
    and out.  Forward adds the interpolated source->target correction;
    inverse iterates the standard NTv2 fixed point
    ``src = tgt - shift(src)`` (4 iterations, sub-mm at 1-arcsec shift
    magnitudes).  Points outside the grid become NaN — a maskable
    error, the engine's row-wise error model.

    The grid file loads once per Python worker (grids.load_grid cache,
    the O23 per-worker-context pattern) and evaluates on whole numpy
    columns.  Bare grid names resolve inside ``proj_spark/data`` so the
    spark-submit --py-files zip carries them to executors."""

    def __init__(self, params: dict):
        from . import grids as G

        if "grids" not in params:
            raise ProjCreateError("hgridshift: +grids= is required")
        self.inv_flag = bool(params.get("inv", False))
        # ship the EXECUTOR-resolvable reference, not the raw token: a
        # grid found through driver-side search paths (set_search_paths
        # fills a driver-only module global) pins to its absolute path;
        # package-data grids keep the bare name so they re-resolve per
        # worker through the --py-files zip importer
        self.grids_name = G.resolve_grid_name(str(params["grids"]))
        # resolve eagerly so a missing grid fails at construction (the
        # reference errors at proj_create time too), but keep only the
        # NAME on self: the step is closure-captured into executor UDFs
        # and each worker re-resolves through its own cache
        G.load_grid(self.grids_name)
        self.params = dict(params)

    def apply(self, x, y, forward=True):
        from . import grids as G

        forward = forward != self.inv_flag
        grid = G.load_grid(self.grids_name)
        lam = np.asarray(x, dtype=np.float64)
        phi = np.asarray(y, dtype=np.float64)
        lon = np.degrees(lam)
        lat = np.degrees(phi)
        if forward:
            dlon, dlat = G.grid_shift(grid, lon, lat)
            return (np.radians(lon + dlon), np.radians(lat + dlat))
        cur_lon, cur_lat = lon, lat
        for _ in range(4):
            dlon, dlat = G.grid_shift(grid, cur_lon, cur_lat)
            cur_lon = lon - dlon
            cur_lat = lat - dlat
        return np.radians(cur_lon), np.radians(cur_lat)


class VGridShiftStep(_StepBase):
    """``+proj=vgridshift +grids=<file.gtx> [+multiplier=f]`` — GTX
    geoid/vertical datum shift (the vertical half of the reference's
    grid capability class; z rides PJ_COORD on every reference call,
    /root/reference/src/proj.rs:951-957, 1022-1030).

    Semantics (pinned by tests): geodetic radians in x/y (unchanged);
    forward ``z' = z + multiplier * N(lon, lat)`` — the grid stores the
    vertical-datum->ellipsoid shift, so forward is orthometric->
    ellipsoidal ``h = H + N``.  The horizontal position is unchanged,
    so the inverse ``z' = z - multiplier * N`` is exact.  Points
    outside the grid get z=NaN — maskable, the row-wise error model.
    On a 2D run (z is None) the step is a no-op: no z to shift, so no
    geoid lookup.

    The grid loads once per Python worker (vgrids.load_geoid cache,
    the O23 pattern) and evaluates on whole numpy columns."""

    def __init__(self, params: dict):
        from . import vgrids as V

        if "grids" not in params:
            raise ProjCreateError("vgridshift: +grids= is required")
        self.inv_flag = bool(params.get("inv", False))
        self.multiplier = float(params.get("multiplier", 1.0))
        from . import grids as G

        self.grids_name = G.resolve_grid_name(str(params["grids"]))
        V.load_geoid(self.grids_name)  # fail at construction, like O1
        self.params = dict(params)

    def apply3(self, x, y, z, forward=True):
        from . import vgrids as V

        if z is None:
            return x, y, z
        forward = forward != self.inv_flag
        grid = V.load_geoid(self.grids_name)
        lon = np.degrees(np.asarray(x, dtype=np.float64))
        lat = np.degrees(np.asarray(y, dtype=np.float64))
        n = V.geoid_undulation(grid, lon, lat)
        zv = np.asarray(z, dtype=np.float64)
        sign = 1.0 if forward else -1.0
        return x, y, zv + sign * self.multiplier * n


class DegRadStep(_StepBase):
    """Boundary degrees<->radians conversion added by CRS normalization
    (the analog of proj_normalize_for_visualization's unitconvert,
    reference src/proj.rs:259-264).  Forward, degrees enter from a
    geographic CRS, so the geodetic rule applies: a latitude past a
    pole is masked even when no projection follows (a datum shift
    through ECEF would otherwise reflect it into a valid point)."""

    def apply(self, x, y, forward=True):
        f = math.pi / 180.0 if forward else 180.0 / math.pi
        x = np.asarray(x, dtype=np.float64) * f
        y = np.asarray(y, dtype=np.float64) * f
        if not forward:
            return x, y
        return _on_lanes(lambda lam, phi: (lam, phi), _geodetic_lanes(x, y), x, y)


def make_step(params: dict) -> _StepBase:
    name = params.get("proj")
    if name == "unitconvert":
        return UnitConvertStep(params)
    if name == "axisswap":
        return AxisSwapStep(params)
    if name == "hgridshift":
        return HGridShiftStep(params)
    if name == "vgridshift":
        return VGridShiftStep(params)
    if name in ("noop", "pop", "push"):
        return _IdentityStep()
    return ProjStep(params)


# ---------------------------------------------------------------------------
# EPSG registry — the engine's stand-in for libproj's EPSG database
# (the lookup behind Proj::new("EPSG:...."), /root/reference/src/proj.rs:679-685).
# Definitions are the standard published proj-strings for each code.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class CrsEntry:
    code: str
    name: str
    kind: str  # "geographic" | "geographic3d" | "projected" | "vertical" | "compound"
    proj: str  # proj-string (projection only; datum handled via towgs84)
    towgs84: Optional[tuple] = None  # None -> only ballpark available
    axis_order: str = "en"  # user-facing declared order: "en" or "ne"
    unit: str = "m"
    area: Optional[Area] = None
    area_name: str = ""
    accuracy: float = -1.0
    # geodetic (datum) ellipsoid — may differ from the projection's sphere
    # (EPSG:3857 projects on a sphere but its datum is WGS84)
    datum_ellps: str = "WGS84"
    # export metadata (WKT/PROJJSON): EPSG datum name/code and, for
    # projected CRS, the base geographic CRS
    datum_name: str = ""
    datum_code: int = 0
    base_geog: str = ""       # e.g. "EPSG:4269"
    base_geog_name: str = ""  # e.g. "NAD83"
    # compound CRS only: (horizontal member code, vertical member code)
    members: tuple = ()


def _e(code, name, kind, proj, towgs84=None, axis_order="en", unit="m",
       area=None, area_name="", accuracy=-1.0, datum_ellps="WGS84",
       datum_name="", datum_code=0, base_geog="", base_geog_name="",
       members=()):
    return CrsEntry(code, name, kind, proj, towgs84, axis_order, unit, area,
                    area_name, accuracy, datum_ellps,
                    datum_name, datum_code, base_geog, base_geog_name,
                    members)


_CA6_LCC = (
    "+proj=lcc +lat_0=32.1666666666667 +lon_0=-116.25 "
    "+lat_1=33.8833333333333 +lat_2=32.7833333333333 "
)

EPSG: dict[str, CrsEntry] = {}
for entry in [
    _e("EPSG:4326", "WGS 84", "geographic", "+proj=longlat +ellps=WGS84",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg",
       area=Area(-180, -90, 180, 90), area_name="World."),
    _e("OGC:CRS84", "WGS 84 (CRS84)", "geographic", "+proj=longlat +ellps=WGS84",
       towgs84=(0, 0, 0), axis_order="en", unit="deg",
       area=Area(-180, -90, 180, 90), area_name="World."),
    _e("EPSG:4269", "NAD83", "geographic", "+proj=longlat +ellps=GRS80",
       axis_order="ne", unit="deg",
       area=Area(167.65, 14.92, -47.74, 86.45), area_name="North America.", datum_ellps="GRS80"),
    # NAD27 carries the EPSG 3-parameter geocentric translation that
    # grid-less libproj selects (dx=-8, dy=159, dz=175); grid-based NADCON
    # shifts are out of scope (SURVEY.md §7 risk 6)
    _e("EPSG:4267", "NAD27", "geographic", "+proj=longlat +ellps=clrk66",
       towgs84=(-8.0, 159.0, 175.0),
       axis_order="ne", unit="deg",
       area=Area(167.65, 7.15, -47.74, 83.17), area_name="North America.", datum_ellps="clrk66"),
    _e("EPSG:4258", "ETRS89", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg",
       area=Area(-35.58, 24.6, 44.83, 84.73), area_name="Europe - ETRS89.", datum_ellps="GRS80"),
    _e("EPSG:3857", "WGS 84 / Pseudo-Mercator", "projected",
       "+proj=webmerc +a=6378137", towgs84=(0, 0, 0),
       area=Area(-180, -85.06, 180, 85.06), area_name="World between 85.06 S and 85.06 N."),
    _e("EPSG:2230", "NAD83 / California zone 6 (ftUS)", "projected",
       _CA6_LCC + "+x_0=2000000.0001016 +y_0=500000.0001016 +ellps=GRS80 +units=us-ft",
       unit="us-ft",
       area=Area(-118.15, 32.53, -114.42, 34.08),
       area_name="United States (USA) - California - SPCS - 6.", datum_ellps="GRS80"),
    _e("EPSG:26946", "NAD83 / California zone 6", "projected",
       _CA6_LCC + "+x_0=2000000 +y_0=500000 +ellps=GRS80 +units=m",
       area=Area(-118.15, 32.53, -114.42, 34.08),
       area_name="United States (USA) - California - SPCS - 6.", datum_ellps="GRS80"),
    _e("EPSG:3309", "NAD27 / California Albers", "projected",
       "+proj=aea +lat_0=0 +lon_0=-120 +lat_1=34 +lat_2=40.5 "
       "+x_0=0 +y_0=-4000000 +ellps=clrk66 +units=m",
       towgs84=(-8.0, 159.0, 175.0),
       area=Area(-124.45, 32.53, -114.12, 42.01),
       area_name="United States (USA) - California.", datum_ellps="clrk66"),
    _e("EPSG:6366", "Mexico ITRF2008 / UTM zone 11N", "projected",
       "+proj=utm +zone=11 +ellps=GRS80 +units=m",
       area=Area(-118.47, 27.39, -114.0, 32.72),
       area_name="Mexico west of 114 W.", datum_ellps="GRS80"),
    _e("EPSG:32611", "WGS 84 / UTM zone 11N", "projected",
       "+proj=utm +zone=11 +ellps=WGS84 +units=m", towgs84=(0, 0, 0),
       area=Area(-120, 0, -114, 84), area_name="Between 120 W and 114 W, northern hemisphere."),
    _e("EPSG:27700", "OSGB36 / British National Grid", "projected",
       "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
       "+y_0=-100000 +ellps=airy +units=m",
       towgs84=(446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489), datum_ellps="airy",
       area=Area(-9.01, 49.75, 2.01, 61.01),
       area_name="United Kingdom (UK) - offshore to boundary of UKCS."),
    _e("EPSG:3844", "Pulkovo 1942(58) / Stereo70", "projected",
       "+proj=sterea +lat_0=46 +lon_0=25 +k=0.99975 +x_0=500000 +y_0=500000 "
       "+ellps=krass +units=m",
       towgs84=(33.4, -146.6, -76.3, -0.359, -0.053, 0.844, -0.84), datum_ellps="krass",
       area=Area(20.26, 43.62, 31.41, 48.27), area_name="Romania - onshore and offshore."),
    _e("EPSG:3035", "ETRS89-extended / LAEA Europe", "projected",
       "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
       "+ellps=GRS80 +units=m", towgs84=(0, 0, 0), axis_order="ne",
       area=Area(-35.58, 24.6, 44.83, 84.73),
       area_name="Europe - European Union (EU) countries and candidates.", datum_ellps="GRS80"),
    _e("EPSG:2154", "RGF93 v1 / Lambert-93", "projected",
       "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 "
       "+x_0=700000 +y_0=6600000 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-9.86, 41.15, 10.38, 51.56), area_name="France.",
       datum_ellps="GRS80"),
    _e("EPSG:8857", "WGS 84 / Equal Earth Greenwich", "projected",
       "+proj=eqearth +lon_0=0 +ellps=WGS84 +units=m", towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World."),
    _e("EPSG:8858", "WGS 84 / Equal Earth Americas", "projected",
       "+proj=eqearth +lon_0=-90 +ellps=WGS84 +units=m", towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World."),
    _e("EPSG:8859", "WGS 84 / Equal Earth Asia-Pacific", "projected",
       "+proj=eqearth +lon_0=150 +ellps=WGS84 +units=m", towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World."),
]:
    EPSG[entry.code] = entry

# --- NAD83 California State Plane LCC family (published EPSG params):
# meter zones 26941-26946 and ftUS zones 2225-2230 share the projection
# core and differ only in false-origin value/unit — the exact structure
# the reference's flagship 2230->26946 pipeline exercises
# (/root/reference/src/proj.rs:1868-1875)
_CA_SPCS = [
    # zone, lat_0, lon_0, lat_1, lat_2, (west, south, east, north)
    (1, "39.3333333333333", "-122", "41.6666666666667", "40",
     (-124.45, 39.59, -119.99, 42.01)),
    (2, "37.6666666666667", "-122", "39.8333333333333", "38.3333333333333",
     (-124.06, 38.02, -119.54, 40.16)),
    (3, "36.5", "-120.5", "38.4333333333333", "37.0666666666667",
     (-123.02, 36.73, -117.83, 38.71)),
    (4, "35.3333333333333", "-119", "37.25", "36",
     (-122.01, 35.78, -115.62, 37.58)),
    (5, "33.5", "-118", "35.4666666666667", "34.0333333333333",
     (-121.42, 32.76, -114.12, 35.81)),
    (6, "32.1666666666667", "-116.25", "33.8833333333333", "32.7833333333333",
     (-118.15, 32.53, -114.42, 34.08)),
]
for _z, _lat0, _lon0, _lat1, _lat2, _bb in _CA_SPCS:
    _core = (f"+proj=lcc +lat_0={_lat0} +lon_0={_lon0} "
             f"+lat_1={_lat1} +lat_2={_lat2} ")
    _area = Area(*_bb)
    _an = f"United States (USA) - California - SPCS - {_z}."
    for _code, _x0, _y0, _unit, _suffix in (
        (f"EPSG:269{40 + _z}", "2000000", "500000", "m", ""),
        (f"EPSG:{2224 + _z}", "2000000.0001016", "500000.0001016",
         "us-ft", " (ftUS)"),
    ):
        if _code in EPSG:
            continue  # zone 6 pair is hand-declared above
        EPSG[_code] = _e(
            _code, f"NAD83 / California zone {_z}{_suffix}", "projected",
            _core + f"+x_0={_x0} +y_0={_y0} +ellps=GRS80 +units={_unit}",
            unit=_unit, area=_area, area_name=_an, datum_ellps="GRS80",
            datum_name="North American Datum 1983", datum_code=6269,
            base_geog="EPSG:4269", base_geog_name="NAD83",
        )

# --- registry breadth (round-3 verdict ask #8): national grids and
# world/continental codes parameterizable by existing kernels, with
# published EPSG parameters and areas of use ------------------------
_WGS84E_NAME = "World Geodetic System 1984 ensemble"

# geographic bases for the national-grid families below
for entry in [
    _e("EPSG:4283", "GDA94", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(93.41, -60.55, 173.34, -8.47),
       area_name="Australia - GDA.",
       datum_name="Geocentric Datum of Australia 1994", datum_code=6283),
    _e("EPSG:7844", "GDA2020", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(93.41, -60.55, 173.34, -8.47),
       area_name="Australia - GDA2020.",
       datum_name="Geocentric Datum of Australia 2020", datum_code=1168),
    _e("EPSG:4167", "NZGD2000", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(160.6, -55.95, -171.2, -25.88),
       area_name="New Zealand.",
       datum_name="New Zealand Geodetic Datum 2000", datum_code=6167),
    _e("EPSG:4272", "NZGD49", "geographic", "+proj=longlat +ellps=intl",
       towgs84=(59.47, -5.04, 187.44, 0.47, -0.1, 1.024, -4.5993),
       axis_order="ne", unit="deg", datum_ellps="intl",
       area=Area(165.87, -47.65, 179.27, -33.89),
       area_name="New Zealand - North Island, South Island, Stewart "
                 "Island - onshore.",
       datum_name="New Zealand Geodetic Datum 1949", datum_code=6272),
    _e("EPSG:4314", "DHDN", "geographic", "+proj=longlat +ellps=bessel",
       towgs84=(598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7),
       axis_order="ne", unit="deg", datum_ellps="bessel",
       area=Area(5.86, 47.27, 13.84, 55.09),
       area_name="Germany - West Germany all states.",
       datum_name="Deutsches Hauptdreiecksnetz", datum_code=6314),
    _e("EPSG:4289", "Amersfoort", "geographic", "+proj=longlat +ellps=bessel",
       towgs84=(565.417, 50.3319, 465.552,
                -0.398957, 0.343988, -1.8774, 4.0725),
       axis_order="ne", unit="deg", datum_ellps="bessel",
       area=Area(3.2, 50.75, 7.22, 53.7),
       area_name="Netherlands - onshore.",
       datum_name="Amersfoort", datum_code=6289),
    _e("EPSG:4619", "SWEREF99", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(10.03, 54.96, 24.17, 69.07),
       area_name="Sweden.",
       datum_name="SWEREF99", datum_code=6619),
]:
    EPSG[entry.code] = entry

# national projected grids on existing kernels
for entry in [
    _e("EPSG:2193", "NZGD2000 / New Zealand Transverse Mercator 2000",
       "projected",
       "+proj=tmerc +lat_0=0 +lon_0=173 +k=0.9996 +x_0=1600000 "
       "+y_0=10000000 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(166.37, -47.33, 178.63, -34.1),
       area_name="New Zealand - North Island, South Island, Stewart "
                 "Island - onshore.",
       datum_name="New Zealand Geodetic Datum 2000", datum_code=6167,
       base_geog="EPSG:4167", base_geog_name="NZGD2000"),
    _e("EPSG:27200", "NZGD49 / New Zealand Map Grid", "projected",
       "+proj=nzmg +lat_0=-41 +lon_0=173 +x_0=2510000 +y_0=6023150 "
       "+ellps=intl +units=m",
       towgs84=(59.47, -5.04, 187.44, 0.47, -0.1, 1.024, -4.5993),
       datum_ellps="intl",
       area=Area(165.87, -47.65, 179.27, -33.89),
       area_name="New Zealand - North Island, South Island, Stewart "
                 "Island - onshore.",
       datum_name="New Zealand Geodetic Datum 1949", datum_code=6272,
       base_geog="EPSG:4272", base_geog_name="NZGD49"),
    _e("EPSG:3577", "GDA94 / Australian Albers", "projected",
       "+proj=aea +lat_0=0 +lon_0=132 +lat_1=-18 +lat_2=-36 "
       "+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(112.85, -43.7, 153.69, -9.86),
       area_name="Australia - all onshore and offshore.",
       datum_name="Geocentric Datum of Australia 1994", datum_code=6283,
       base_geog="EPSG:4283", base_geog_name="GDA94"),
    _e("EPSG:9473", "GDA2020 / Australian Albers", "projected",
       "+proj=aea +lat_0=0 +lon_0=132 +lat_1=-18 +lat_2=-36 "
       "+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(112.85, -43.7, 153.69, -9.86),
       area_name="Australia - all onshore and offshore.",
       datum_name="Geocentric Datum of Australia 2020", datum_code=1168,
       base_geog="EPSG:7844", base_geog_name="GDA2020"),
    _e("EPSG:28992", "Amersfoort / RD New", "projected",
       "+proj=sterea +lat_0=52.15616055555555 +lon_0=5.38763888888889 "
       "+k=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel +units=m",
       towgs84=(565.417, 50.3319, 465.552,
                -0.398957, 0.343988, -1.8774, 4.0725),
       datum_ellps="bessel",
       area=Area(3.2, 50.75, 7.22, 53.7),
       area_name="Netherlands - onshore.",
       datum_name="Amersfoort", datum_code=6289,
       base_geog="EPSG:4289", base_geog_name="Amersfoort"),
    _e("EPSG:3006", "SWEREF99 TM", "projected",
       "+proj=utm +zone=33 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(10.03, 54.96, 24.17, 69.07),
       area_name="Sweden - onshore and offshore.",
       datum_name="SWEREF99", datum_code=6619,
       base_geog="EPSG:4619", base_geog_name="SWEREF99"),
    _e("EPSG:2180", "ETRS89 / Poland CS92", "projected",
       "+proj=tmerc +lat_0=0 +lon_0=19 +k=0.9993 +x_0=500000 "
       "+y_0=-5300000 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(14.14, 49.0, 24.15, 55.93),
       area_name="Poland - onshore and offshore.",
       datum_name="European Terrestrial Reference System 1989 ensemble",
       datum_code=6258, base_geog="EPSG:4258", base_geog_name="ETRS89"),
    _e("EPSG:3978", "NAD83 / Canada Atlas Lambert", "projected",
       "+proj=lcc +lat_0=49 +lon_0=-95 +lat_1=49 +lat_2=77 "
       "+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
       datum_ellps="GRS80",
       area=Area(-141.01, 40.04, -47.74, 86.46),
       area_name="Canada.",
       datum_name="North American Datum 1983", datum_code=6269,
       base_geog="EPSG:4269", base_geog_name="NAD83"),
    _e("EPSG:3979", "NAD83(CSRS) / Canada Atlas Lambert", "projected",
       "+proj=lcc +lat_0=49 +lon_0=-95 +lat_1=49 +lat_2=77 "
       "+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(-141.01, 40.04, -47.74, 86.46),
       area_name="Canada.",
       datum_name="North American Datum of 1983 (CSRS)", datum_code=6140,
       base_geog="EPSG:4617", base_geog_name="NAD83(CSRS)"),
    _e("EPSG:3338", "NAD83 / Alaska Albers", "projected",
       "+proj=aea +lat_0=50 +lon_0=-154 +lat_1=55 +lat_2=65 "
       "+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
       datum_ellps="GRS80",
       area=Area(172.42, 51.3, -129.99, 71.4),
       area_name="United States (USA) - Alaska.",
       datum_name="North American Datum 1983", datum_code=6269,
       base_geog="EPSG:4269", base_geog_name="NAD83"),
    _e("EPSG:5070", "NAD83 / Conus Albers", "projected",
       "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 "
       "+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
       datum_ellps="GRS80",
       area=Area(-124.79, 24.41, -66.91, 49.38),
       area_name="United States (USA) - CONUS onshore.",
       datum_name="North American Datum 1983", datum_code=6269,
       base_geog="EPSG:4269", base_geog_name="NAD83"),
    # towgs84=None: unspecified sphere datum -> ballpark only, i.e.
    # lon/lat pass through untransformed (libproj's behavior here)
    _e("EPSG:2163", "US National Atlas Equal Area", "projected",
       "+proj=laea +lat_0=45 +lon_0=-100 +x_0=0 +y_0=0 +ellps=sphere "
       "+units=m",
       datum_ellps="sphere",
       area=Area(167.65, 15.56, -65.69, 74.71),
       area_name="United States (USA) - onshore and offshore.",
       datum_name="Not specified (based on Clarke 1866 Authalic Sphere)",
       datum_code=6052),
    _e("EPSG:5042", "WGS 84 / UPS South (E,N)", "projected",
       "+proj=stere +lat_0=-90 +k=0.994 +lon_0=0 +x_0=2000000 "
       "+y_0=2000000 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, -60),
       area_name="Southern hemisphere - south of 60 S onshore and "
                 "offshore - Antarctica.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3995", "WGS 84 / Arctic Polar Stereographic", "projected",
       "+proj=stere +lat_0=90 +lat_ts=71 +lon_0=0 +x_0=0 +y_0=0 "
       "+ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, 60, 180, 90),
       area_name="Northern hemisphere - north of 60 N onshore and "
                 "offshore, including Arctic.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3996", "WGS 84 / IBCAO Polar Stereographic", "projected",
       "+proj=stere +lat_0=90 +lat_ts=75 +lon_0=0 +x_0=0 +y_0=0 "
       "+ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, 60, 180, 90),
       area_name="Northern hemisphere - north of 60 N onshore and "
                 "offshore, including Arctic.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:6931", "WGS 84 / NSIDC EASE-Grid 2.0 North", "projected",
       "+proj=laea +lat_0=90 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 "
       "+units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, 0, 180, 90),
       area_name="Northern hemisphere.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:6932", "WGS 84 / NSIDC EASE-Grid 2.0 South", "projected",
       "+proj=laea +lat_0=-90 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 "
       "+units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 0),
       area_name="Southern hemisphere.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
]:
    EPSG[entry.code] = entry

for entry in [
    _e("EPSG:3832", "WGS 84 / PDC Mercator", "projected",
       "+proj=merc +lon_0=150 +lat_ts=0 +x_0=0 +y_0=0 +ellps=WGS84 "
       "+units=m",
       towgs84=(0, 0, 0),
       area=Area(98.69, -60.0, -68.13, 66.67),
       area_name="Pacific Ocean.",
       datum_name=_WGS84E_NAME, datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3994", "WGS 84 / Mercator 41", "projected",
       "+proj=merc +lon_0=100 +lat_ts=-41 +x_0=0 +y_0=0 +ellps=WGS84 "
       "+units=m",
       towgs84=(0, 0, 0),
       area=Area(-180.0, -66.29, 180.0, 28.0),
       area_name="World between 28 N and 66.29 S.",
       datum_name=_WGS84E_NAME, datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
]:
    EPSG[entry.code] = entry

# WGS 84 North Pole LAEA regional grids (EPSG:3571-3576)
for _code, _lon0, _region in (
    (3571, 180.0, "Bering Sea"), (3572, -150.0, "Alaska"),
    (3573, -100.0, "Canada"), (3574, -40.0, "Atlantic"),
    (3575, 10.0, "Europe"), (3576, 90.0, "Russia"),
):
    EPSG[f"EPSG:{_code}"] = _e(
        f"EPSG:{_code}", f"WGS 84 / North Pole LAEA {_region}", "projected",
        f"+proj=laea +lat_0=90 +lon_0={_lon0} +x_0=0 +y_0=0 "
        f"+ellps=WGS84 +units=m",
        towgs84=(0, 0, 0),
        area=Area(-180, 45, 180, 90),
        area_name="Northern hemisphere - north of 45 N.",
        datum_name=_WGS84E_NAME, datum_code=6326,
        base_geog="EPSG:4326", base_geog_name="WGS 84")

# Map Grid of Australia: MGA94 (EPSG:28348-28358) and MGA2020
# (EPSG:7846-7859) — UTM south zones on GRS80
for _z in range(48, 59):
    EPSG[f"EPSG:283{_z}"] = _e(
        f"EPSG:283{_z}", f"GDA94 / MGA zone {_z}", "projected",
        f"+proj=utm +zone={_z} +south +ellps=GRS80 +units=m",
        towgs84=(0, 0, 0), datum_ellps="GRS80",
        area=Area(6 * _z - 186, -48.0, 6 * _z - 180, -9.0),
        area_name=f"Australia - {6 * _z - 186}°E to {6 * _z - 180}°E.",
        datum_name="Geocentric Datum of Australia 1994", datum_code=6283,
        base_geog="EPSG:4283", base_geog_name="GDA94")
for _z in range(46, 60):
    EPSG[f"EPSG:{7800 + _z}"] = _e(
        f"EPSG:{7800 + _z}", f"GDA2020 / MGA zone {_z}", "projected",
        f"+proj=utm +zone={_z} +south +ellps=GRS80 +units=m",
        towgs84=(0, 0, 0), datum_ellps="GRS80",
        area=Area(6 * _z - 186, -48.0, 6 * _z - 180, -9.0),
        area_name=f"Australia - {6 * _z - 186}°E to {6 * _z - 180}°E.",
        datum_name="Geocentric Datum of Australia 2020", datum_code=1168,
        base_geog="EPSG:7844", base_geog_name="GDA2020")

# JGD2011 (EPSG:6668 geographic + the 19 Japan Plane Rectangular CS
# zones EPSG:6669-6687) — the round-6 registry long-tail ask: pure
# tmerc rows (k=0.9999, zone-specific natural origins, GRS80)
EPSG["EPSG:6668"] = _e(
    "EPSG:6668", "JGD2011", "geographic", "+proj=longlat +ellps=GRS80",
    towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
    area=Area(122.38, 17.09, 157.65, 46.05), area_name="Japan.",
    datum_name="Japanese Geodetic Datum 2011", datum_code=1128)
_JPRCS = [  # zone -> (lat_0, lon_0); published natural origins
    ("I", 33.0, 129.5), ("II", 33.0, 131.0),
    ("III", 36.0, 132.0 + 10.0 / 60.0), ("IV", 33.0, 133.5),
    ("V", 36.0, 134.0 + 20.0 / 60.0), ("VI", 36.0, 136.0),
    ("VII", 36.0, 137.0 + 10.0 / 60.0), ("VIII", 36.0, 138.5),
    ("IX", 36.0, 139.0 + 50.0 / 60.0), ("X", 40.0, 140.0 + 50.0 / 60.0),
    ("XI", 44.0, 140.25), ("XII", 44.0, 142.25), ("XIII", 44.0, 144.25),
    ("XIV", 26.0, 142.0), ("XV", 26.0, 127.5), ("XVI", 26.0, 124.0),
    ("XVII", 26.0, 131.0), ("XVIII", 20.0, 136.0), ("XIX", 26.0, 154.0),
]
for _i, (_zn, _la0, _lo0) in enumerate(_JPRCS):
    EPSG[f"EPSG:{6669 + _i}"] = _e(
        f"EPSG:{6669 + _i}",
        f"JGD2011 / Japan Plane Rectangular CS {_zn}", "projected",
        f"+proj=tmerc +lat_0={_la0!r} +lon_0={_lo0!r} +k=0.9999 "
        f"+x_0=0 +y_0=0 +ellps=GRS80 +units=m",
        towgs84=(0, 0, 0), datum_ellps="GRS80",
        area=Area(_lo0 - 1.7, _la0 - 7.0, _lo0 + 1.7, _la0 + 7.0),
        area_name=f"Japan - zone {_zn}.",
        datum_name="Japanese Geodetic Datum 2011", datum_code=1128,
        base_geog="EPSG:6668", base_geog_name="JGD2011")

# Korea 2000 (EPSG:4737 geographic + the unified / central-belt tmerc
# rows the national services publish)
EPSG["EPSG:4737"] = _e(
    "EPSG:4737", "Korea 2000", "geographic", "+proj=longlat +ellps=GRS80",
    towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
    area=Area(122.71, 28.6, 134.28, 40.27), area_name="Republic of Korea.",
    datum_name="Geocentric datum of Korea", datum_code=6737)
EPSG["EPSG:5179"] = _e(
    "EPSG:5179", "Korea 2000 / Unified CS", "projected",
    "+proj=tmerc +lat_0=38 +lon_0=127.5 +k=0.9996 +x_0=1000000 "
    "+y_0=2000000 +ellps=GRS80 +units=m",
    towgs84=(0, 0, 0), datum_ellps="GRS80",
    area=Area(122.71, 28.6, 134.28, 40.27),
    area_name="Republic of Korea.",
    datum_name="Geocentric datum of Korea", datum_code=6737,
    base_geog="EPSG:4737", base_geog_name="Korea 2000")
EPSG["EPSG:5186"] = _e(
    "EPSG:5186", "Korea 2000 / Central Belt 2010", "projected",
    "+proj=tmerc +lat_0=38 +lon_0=127 +k=1 +x_0=200000 "
    "+y_0=600000 +ellps=GRS80 +units=m",
    towgs84=(0, 0, 0), datum_ellps="GRS80",
    area=Area(126.0, 33.14, 128.0, 38.64),
    area_name="Republic of Korea - 126°E to 128°E.",
    datum_name="Geocentric datum of Korea", datum_code=6737,
    base_geog="EPSG:4737", base_geog_name="Korea 2000")

# GDA94 national Lambert (the continental-analysis companion of the
# MGA zone rows above)
EPSG["EPSG:3112"] = _e(
    "EPSG:3112", "GDA94 / Geoscience Australia Lambert", "projected",
    "+proj=lcc +lat_0=0 +lon_0=134 +lat_1=-18 +lat_2=-36 +x_0=0 +y_0=0 "
    "+ellps=GRS80 +units=m",
    towgs84=(0, 0, 0), datum_ellps="GRS80",
    area=Area(93.41, -60.55, 173.34, -8.47), area_name="Australia.",
    datum_name="Geocentric Datum of Australia 1994", datum_code=6283,
    base_geog="EPSG:4283", base_geog_name="GDA94")

# 3D / vertical / compound CRS (round 6) — identification + WKT/
# PROJJSON export parity for the height-bearing codes that pair with
# the vgridshift capability.  Transform semantics: a vertical CRS is a
# z-axis identity (the horizontal plane untouched); a compound CRS
# transforms through its HORIZONTAL member and carries z (the grid-less
# ballpark vertical, exactly what libproj does without a geoid grid —
# attach +proj=vgridshift explicitly to apply one).
EPSG["EPSG:4979"] = _e(
    "EPSG:4979", "WGS 84", "geographic3d", "+proj=longlat +ellps=WGS84",
    towgs84=(0, 0, 0), axis_order="ne", unit="deg",
    area=Area(-180, -90, 180, 90), area_name="World.",
    datum_name=_WGS84E_NAME, datum_code=6326)
EPSG["EPSG:5714"] = _e(
    "EPSG:5714", "MSL height", "vertical", "+proj=noop",
    area=Area(-180, -90, 180, 90), area_name="World.",
    datum_name="Mean Sea Level", datum_code=5100)
EPSG["EPSG:5701"] = _e(
    "EPSG:5701", "ODN height", "vertical", "+proj=noop",
    area=Area(-7.06, 49.93, 1.8, 58.71),
    area_name="United Kingdom (UK) - Great Britain mainland onshore.",
    datum_name="Ordnance Datum Newlyn", datum_code=5101)
EPSG["EPSG:5773"] = _e(
    "EPSG:5773", "EGM96 height", "vertical", "+proj=noop",
    area=Area(-180, -90, 180, 90), area_name="World.",
    datum_name="EGM96 geoid", datum_code=5171)
EPSG["EPSG:7405"] = _e(
    "EPSG:7405", "OSGB36 / British National Grid + ODN height",
    "compound", EPSG["EPSG:27700"].proj,
    towgs84=EPSG["EPSG:27700"].towgs84, datum_ellps="airy",
    area=Area(-7.06, 49.93, 1.8, 58.71),
    area_name="United Kingdom (UK) - Great Britain mainland onshore.",
    datum_name=EPSG["EPSG:27700"].datum_name,
    datum_code=EPSG["EPSG:27700"].datum_code,
    base_geog=EPSG["EPSG:27700"].base_geog,
    base_geog_name=EPSG["EPSG:27700"].base_geog_name,
    members=("EPSG:27700", "EPSG:5701"))
EPSG["EPSG:9707"] = _e(
    "EPSG:9707", "WGS 84 + EGM96 height", "compound",
    "+proj=longlat +ellps=WGS84", towgs84=(0, 0, 0), axis_order="ne",
    unit="deg", area=Area(-180, -90, 180, 90), area_name="World.",
    datum_name=_WGS84E_NAME, datum_code=6326,
    members=("EPSG:4326", "EPSG:5773"))

# RGF93 / Lambert conic conformal zones CC42-CC50 (EPSG:3942-3950)
for _n in range(42, 51):
    EPSG[f"EPSG:{3900 + _n}"] = _e(
        f"EPSG:{3900 + _n}", f"RGF93 v1 / CC{_n}", "projected",
        f"+proj=lcc +lat_0={_n} +lon_0=3 +lat_1={_n - 0.75} "
        f"+lat_2={_n + 0.75} +x_0=1700000 +y_0={(_n - 41) * 1000000 + 200000} "
        f"+ellps=GRS80 +units=m",
        towgs84=(0, 0, 0), datum_ellps="GRS80",
        area=Area(-9.86, _n - 1.0, 10.38, _n + 1.0),
        area_name=f"France - mainland onshore - {_n - 1}°N to {_n + 1}°N.",
        datum_name="Reseau Geodesique Francais 1993 v1", datum_code=6171,
        base_geog="EPSG:4171", base_geog_name="RGF93 v1")

# DHDN / 3-degree Gauss-Krueger zones 2-5 (EPSG:31466-31469)
for _z in range(2, 6):
    EPSG[f"EPSG:{31464 + _z}"] = _e(
        f"EPSG:{31464 + _z}", f"DHDN / 3-degree Gauss-Kruger zone {_z}",
        "projected",
        f"+proj=tmerc +lat_0=0 +lon_0={3 * _z} +k=1 "
        f"+x_0={_z * 1000000 + 500000} +y_0=0 +ellps=bessel +units=m",
        towgs84=(598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7),
        datum_ellps="bessel",
        area=Area(3 * _z - 1.7, 47.27, 3 * _z + 1.7, 55.09),
        area_name=f"Germany - west - {3 * _z - 1.5}°E to {3 * _z + 1.5}°E.",
        datum_name="Deutsches Hauptdreiecksnetz", datum_code=6314,
        base_geog="EPSG:4314", base_geog_name="DHDN")

# legacy UPS codes (same parameterization as EPSG:5041/5042)
for _code, _south in (("EPSG:32661", False), ("EPSG:32761", True)):
    EPSG[_code] = _e(
        _code, f"WGS 84 / UPS {'South' if _south else 'North'} (N,E)",
        "projected",
        f"+proj=stere +lat_0={-90 if _south else 90} +k=0.994 +lon_0=0 "
        f"+x_0=2000000 +y_0=2000000 +ellps=WGS84 +units=m",
        towgs84=(0, 0, 0),
        area=(Area(-180, -90, 180, -60) if _south
              else Area(-180, 60, 180, 90)),
        area_name=("Southern hemisphere - south of 60 S." if _south
                   else "Northern hemisphere - north of 60 N."),
        datum_name=_WGS84E_NAME, datum_code=6326,
        base_geog="EPSG:4326", base_geog_name="WGS 84")

# --- additional geographic + world/continental projected codes
for entry in [
    _e("EPSG:4156", "S-JTSK", "geographic", "+proj=longlat +ellps=bessel",
       towgs84=(589.0, 76.0, 480.0),
       axis_order="ne", unit="deg", datum_ellps="bessel",
       area=Area(12.09, 47.73, 22.56, 51.06),
       area_name="Czechia; Slovakia.",
       datum_name="System of the Unified Trigonometrical Cadastral Network",
       datum_code=6156),
    _e("EPSG:4277", "OSGB36", "geographic", "+proj=longlat +ellps=airy",
       towgs84=(446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489),
       axis_order="ne", unit="deg", datum_ellps="airy",
       area=Area(-9.01, 49.75, 2.01, 61.01),
       area_name="United Kingdom (UK) - offshore to boundary of UKCS.",
       datum_name="Ordnance Survey of Great Britain 1936", datum_code=6277),
    _e("EPSG:4179", "Pulkovo 1942(58)", "geographic",
       "+proj=longlat +ellps=krass",
       towgs84=(33.4, -146.6, -76.3, -0.359, -0.053, 0.844, -0.84),
       axis_order="ne", unit="deg", datum_ellps="krass",
       area=Area(9.92, 39.62, 31.41, 54.89),
       area_name="Europe - onshore - eastern - S-42(58).",
       datum_name="Pulkovo 1942(58)", datum_code=6179),
    _e("EPSG:4171", "RGF93 v1", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(-9.86, 41.15, 10.38, 51.56), area_name="France.",
       datum_name="Reseau Geodesique Francais 1993 v1", datum_code=6171),
    _e("EPSG:4617", "NAD83(CSRS)", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(-141.01, 40.04, -47.74, 86.46), area_name="Canada.",
       datum_name="North American Datum of 1983 (CSRS)", datum_code=6140),
    _e("EPSG:4152", "NAD83(HARN)", "geographic", "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg", datum_ellps="GRS80",
       area=Area(-124.79, 24.41, -66.91, 49.38),
       area_name="United States (USA) - HARN.",
       datum_name="NAD83 (High Accuracy Reference Network)", datum_code=6152),
    _e("EPSG:3395", "WGS 84 / World Mercator", "projected",
       "+proj=merc +lat_ts=0 +ellps=WGS84 +units=m", towgs84=(0, 0, 0),
       area=Area(-180, -80, 180, 84),
       area_name="World between 80 S and 84 N.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3034", "ETRS89-extended / LCC Europe", "projected",
       "+proj=lcc +lat_0=52 +lon_0=10 +lat_1=35 +lat_2=65 "
       "+x_0=4000000 +y_0=2800000 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(-35.58, 24.6, 44.83, 84.73),
       area_name="Europe - LCC & LAEA.",
       datum_name="European Terrestrial Reference System 1989 ensemble",
       datum_code=6258, base_geog="EPSG:4258", base_geog_name="ETRS89"),
    _e("EPSG:5069", "NAD27 / Conus Albers", "projected",
       "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 "
       "+x_0=0 +y_0=0 +ellps=clrk66 +units=m",
       towgs84=(-8.0, 159.0, 175.0), datum_ellps="clrk66",
       area=Area(-124.79, 24.41, -66.91, 49.38),
       area_name="United States (USA) - CONUS onshore.",
       datum_name="North American Datum 1927", datum_code=6267,
       base_geog="EPSG:4267", base_geog_name="NAD27"),
    _e("EPSG:4087", "WGS 84 / World Equidistant Cylindrical", "projected",
       "+proj=eqc +lat_ts=0 +lat_0=0 +lon_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:6933", "WGS 84 / NSIDC EASE-Grid 2.0 Global", "projected",
       "+proj=cea +lat_ts=30 +lon_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -86, 180, 86),
       area_name="World between 86 S and 86 N.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3413", "WGS 84 / NSIDC Sea Ice Polar Stereographic North",
       "projected",
       "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
       "+ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, 60, 180, 90),
       area_name="Northern hemisphere - north of 60 N onshore and "
                 "offshore, including Arctic.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3031", "WGS 84 / Antarctic Polar Stereographic", "projected",
       "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0 "
       "+ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, -60),
       area_name="Antarctica.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3976", "WGS 84 / NSIDC Sea Ice Polar Stereographic South",
       "projected",
       "+proj=stere +lat_0=-90 +lat_ts=-70 +lon_0=0 +x_0=0 +y_0=0 "
       "+ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, -60),
       area_name="Southern hemisphere - south of 60 S onshore and "
                 "offshore - Antarctica.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:5041", "WGS 84 / UPS North (E,N)", "projected",
       "+proj=stere +lat_0=90 +k=0.994 +lon_0=0 +x_0=2000000 "
       "+y_0=2000000 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, 60, 180, 90),
       area_name="Northern hemisphere - north of 60 N onshore and "
                 "offshore, including Arctic.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:5514", "S-JTSK / Krovak East North", "projected",
       "+proj=krovak +lat_0=49.5 +lon_0=24.833333333333332 "
       "+alpha=30.28813972222222 +k=0.9999 +x_0=0 +y_0=0 "
       "+ellps=bessel +units=m",
       towgs84=(589.0, 76.0, 480.0),
       area=Area(12.09, 47.73, 22.56, 51.06),
       area_name="Czechia; Slovakia.",
       datum_name="System of the Unified Trigonometrical Cadastral Network",
       datum_code=6156, base_geog="EPSG:4156", base_geog_name="S-JTSK",
       datum_ellps="bessel"),
    _e("ESRI:54008", "World Sinusoidal", "projected",
       "+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54009", "World Mollweide", "projected",
       "+proj=moll +lon_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54002", "World Equidistant Cylindrical", "projected",
       "+proj=eqc +lat_ts=60 +lat_0=0 +lon_0=0 +x_0=0 +y_0=0 "
       "+ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54016", "World Gall Stereographic", "projected",
       "+proj=gall +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54017", "World Behrmann", "projected",
       "+proj=cea +lat_ts=30 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 "
       "+units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54010", "World Eckert VI", "projected",
       "+proj=eck6 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54043", "World Aitoff", "projected",
       "+proj=aitoff +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54024", "World Bonne", "projected",
       "+proj=bonne +lat_1=60 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 "
       "+units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54021", "World Polyconic", "projected",
       "+proj=poly +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54029", "World Van der Grinten I", "projected",
       "+proj=vandg +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54052", "World Goode Homolosine Land", "projected",
       "+proj=igh +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:4230", "ED50", "geographic",
       "+proj=longlat +ellps=intl",
       towgs84=(-87.0, -98.0, -121.0), axis_order="ne", unit="deg",
       area=Area(-16.1, 25.71, 48.61, 84.73),
       area_name="Europe - ED50 by country.",
       datum_ellps="intl", datum_name="European Datum 1950",
       datum_code=6230),
    # ESRI's published 102031 is ED50-based (GCS_European_1950)
    _e("ESRI:102031", "Europe Equidistant Conic", "projected",
       "+proj=eqdc +lat_0=30 +lon_0=10 +lat_1=43 +lat_2=62 "
       "+x_0=0 +y_0=0 +ellps=intl +units=m",
       towgs84=(-87.0, -98.0, -121.0), datum_ellps="intl",
       area=Area(-16.1, 25.71, 48.61, 84.73),
       area_name="Europe.",
       datum_name="European Datum 1950", datum_code=6230,
       base_geog="EPSG:4230", base_geog_name="ED50"),
    _e("ESRI:54042", "World Winkel Tripel", "projected",
       "+proj=wintri +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54044", "World Hammer Aitoff", "projected",
       "+proj=hammer +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54003", "World Miller Cylindrical", "projected",
       "+proj=mill +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54012", "World Eckert IV", "projected",
       "+proj=eck4 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54077", "World Natural Earth", "projected",
       "+proj=natearth +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54030", "World Robinson", "projected",
       "+proj=robin +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("ESRI:54032", "World Azimuthal Equidistant", "projected",
       "+proj=aeqd +lat_0=0 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m",
       towgs84=(0, 0, 0),
       area=Area(-180, -90, 180, 90), area_name="World.",
       datum_name="World Geodetic System 1984 ensemble", datum_code=6326,
       base_geog="EPSG:4326", base_geog_name="WGS 84"),
    _e("EPSG:3310", "NAD83 / California Albers", "projected",
       "+proj=aea +lat_0=0 +lon_0=-120 +lat_1=34 +lat_2=40.5 "
       "+x_0=0 +y_0=-4000000 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(-124.45, 32.53, -114.12, 42.01),
       area_name="United States (USA) - California.",
       datum_name="North American Datum 1983", datum_code=6269,
       base_geog="EPSG:4269", base_geog_name="NAD83"),
    # --- Hotine Oblique Mercator family (EPSG 9812/9815) ------------
    _e("EPSG:4298", "Timbalai 1948", "geographic",
       "+proj=longlat +ellps=evrstSS",
       towgs84=(-679.0, 669.0, -48.0), axis_order="ne", unit="deg",
       area=Area(109.31, 0.85, 119.61, 7.66),
       area_name="Brunei; Malaysia - East Malaysia (Sabah; Sarawak).",
       datum_ellps="evrstSS", datum_name="Timbalai 1948", datum_code=6298),
    _e("EPSG:29873", "Timbalai 1948 / RSO Borneo (m)", "projected",
       "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
       "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 "
       "+y_0=442857.65 +ellps=evrstSS +units=m",
       towgs84=(-679.0, 669.0, -48.0), datum_ellps="evrstSS",
       area=Area(109.31, 0.85, 119.61, 7.66),
       area_name="Brunei; Malaysia - East Malaysia (Sabah; Sarawak).",
       datum_name="Timbalai 1948", datum_code=6298,
       base_geog="EPSG:4298", base_geog_name="Timbalai 1948"),
    _e("EPSG:4742", "GDM2000", "geographic",
       "+proj=longlat +ellps=GRS80",
       towgs84=(0, 0, 0), axis_order="ne", unit="deg",
       area=Area(98.02, 0.85, 119.61, 7.81),
       area_name="Malaysia onshore and offshore.",
       datum_ellps="GRS80",
       datum_name="Geodetic Datum of Malaysia 2000", datum_code=6742),
    _e("EPSG:3375", "GDM2000 / Peninsular RSO", "projected",
       "+proj=omerc +no_uoff +lat_0=4 +lonc=102.25 "
       "+alpha=323.0257964666666 +gamma=323.1301023611111 +k=0.99984 "
       "+x_0=804671 +y_0=0 +ellps=GRS80 +units=m",
       towgs84=(0, 0, 0), datum_ellps="GRS80",
       area=Area(98.02, 1.13, 105.82, 6.92),
       area_name="Malaysia - West Malaysia onshore and offshore.",
       datum_name="Geodetic Datum of Malaysia 2000", datum_code=6742,
       base_geog="EPSG:4742", base_geog_name="GDM2000"),
    # --- Swiss grids: EPSG publishes these as Hotine variant B with a
    # 90 deg azimuth (conversion 19950); +proj=somerc is the PROJ
    # spelling of the same parameterization ------------------------
    _e("EPSG:4150", "CH1903+", "geographic",
       "+proj=longlat +ellps=bessel",
       towgs84=(674.374, 15.056, 405.346), axis_order="ne", unit="deg",
       area=Area(5.96, 45.82, 10.49, 47.81),
       area_name="Europe - Liechtenstein and Switzerland.",
       datum_ellps="bessel", datum_name="CH1903+", datum_code=6150),
    _e("EPSG:2056", "CH1903+ / LV95", "projected",
       "+proj=somerc +lat_0=46.95240555555556 +lon_0=7.439583333333333 "
       "+k=1 +x_0=2600000 +y_0=1200000 +ellps=bessel +units=m",
       towgs84=(674.374, 15.056, 405.346), datum_ellps="bessel",
       area=Area(5.96, 45.82, 10.49, 47.81),
       area_name="Europe - Liechtenstein and Switzerland.",
       datum_name="CH1903+", datum_code=6150,
       base_geog="EPSG:4150", base_geog_name="CH1903+"),
    _e("EPSG:4149", "CH1903", "geographic",
       "+proj=longlat +ellps=bessel",
       towgs84=(674.4, 15.1, 405.3), axis_order="ne", unit="deg",
       area=Area(5.96, 45.82, 10.49, 47.81),
       area_name="Europe - Liechtenstein and Switzerland.",
       datum_ellps="bessel", datum_name="CH1903", datum_code=6149),
    _e("EPSG:21781", "CH1903 / LV03", "projected",
       "+proj=somerc +lat_0=46.95240555555556 +lon_0=7.439583333333333 "
       "+k=1 +x_0=600000 +y_0=200000 +ellps=bessel +units=m",
       towgs84=(674.4, 15.1, 405.3), datum_ellps="bessel",
       area=Area(5.96, 45.82, 10.49, 47.81),
       area_name="Europe - Liechtenstein and Switzerland.",
       datum_name="CH1903", datum_code=6149,
       base_geog="EPSG:4149", base_geog_name="CH1903"),
]:
    EPSG[entry.code] = entry

# export metadata (EPSG datum name/code + base geographic CRS) — applied
# post-hoc so the entry list above stays readable
_WGS84E = ("World Geodetic System 1984 ensemble", 6326, "EPSG:4326", "WGS 84")
_NAD83D = ("North American Datum 1983", 6269, "EPSG:4269", "NAD83")
_DATUM_META = {
    "EPSG:4326": _WGS84E[:2] + ("", ""),
    "OGC:CRS84": _WGS84E[:2] + ("", ""),
    "EPSG:4269": _NAD83D[:2] + ("", ""),
    "EPSG:4267": ("North American Datum 1927", 6267, "", ""),
    "EPSG:4258": ("European Terrestrial Reference System 1989 ensemble",
                  6258, "", ""),
    "EPSG:3857": _WGS84E,
    "EPSG:2230": _NAD83D,
    "EPSG:26946": _NAD83D,
    "EPSG:3309": ("North American Datum 1927", 6267, "EPSG:4267", "NAD27"),
    "EPSG:6366": ("Mexico ITRF2008", 1120, "", "Mexico ITRF2008"),
    "EPSG:32611": _WGS84E,
    "EPSG:27700": ("Ordnance Survey of Great Britain 1936", 6277,
                   "EPSG:4277", "OSGB36"),
    "EPSG:3844": ("Pulkovo 1942(58)", 6179, "EPSG:4179", "Pulkovo 1942(58)"),
    "EPSG:3035": ("European Terrestrial Reference System 1989 ensemble",
                  6258, "EPSG:4258", "ETRS89"),
    "EPSG:2154": ("Reseau Geodesique Francais 1993 v1", 6171,
                  "EPSG:4171", "RGF93 v1"),
    "EPSG:5070": _NAD83D,
    "EPSG:8857": _WGS84E,
    "EPSG:8858": _WGS84E,
    "EPSG:8859": _WGS84E,
}
for _code, (_dn, _dc, _bg, _bgn) in _DATUM_META.items():
    if _code in EPSG:
        EPSG[_code] = dc_replace(EPSG[_code], datum_name=_dn, datum_code=_dc,
                                 base_geog=_bg, base_geog_name=_bgn)

# name aliases the reference accepts (src/proj.rs:679-685 mentions CRS names)
_CRS_ALIASES = {
    "WGS84": "EPSG:4326",
    "NAD83": "EPSG:4269",
    "NAD27": "EPSG:4267",
    "ETRS89": "EPSG:4258",
}


def _synthesize_utm(code: str) -> Optional[CrsEntry]:
    """On-demand registry entries for the standard UTM code blocks:
    EPSG:326xx / 327xx (WGS84 N/S) and EPSG:269xx (NAD83 northern)."""
    if not code.startswith("EPSG:") or not code[5:].isdigit():
        return None
    num = int(code[5:])
    if 32601 <= num <= 32660 or 32701 <= num <= 32760:
        zone = num % 100
        south = num >= 32700
        entry = _e(
            code, f"WGS 84 / UTM zone {zone}{'S' if south else 'N'}",
            "projected",
            f"+proj=utm +zone={zone}{' +south' if south else ''} +ellps=WGS84 +units=m",
            towgs84=(0, 0, 0),
            area=Area(-186.0 + 6 * zone, -80 if south else 0,
                      -180.0 + 6 * zone, 0 if south else 84),
            area_name=f"World - {'S' if south else 'N'} hemisphere - zone {zone}.",
            datum_name=_WGS84E[0], datum_code=_WGS84E[1],
            base_geog="EPSG:4326", base_geog_name="WGS 84",
        )
        return entry
    if 26901 <= num <= 26923:
        zone = num % 100
        entry = _e(
            code, f"NAD83 / UTM zone {zone}N", "projected",
            f"+proj=utm +zone={zone} +ellps=GRS80 +units=m",
            area=Area(-186.0 + 6 * zone, 0, -180.0 + 6 * zone, 84),
            area_name=f"North America - zone {zone}N.", datum_ellps="GRS80",
            datum_name=_NAD83D[0], datum_code=_NAD83D[1],
            base_geog="EPSG:4269", base_geog_name="NAD83",
        )
        return entry
    if 25828 <= num <= 25838:
        zone = num % 100
        entry = _e(
            code, f"ETRS89 / UTM zone {zone}N", "projected",
            f"+proj=utm +zone={zone} +ellps=GRS80 +units=m",
            towgs84=(0, 0, 0),
            area=Area(-186.0 + 6 * zone, 0, -180.0 + 6 * zone, 84),
            area_name=f"Europe - {6 * zone - 186}°E to {6 * zone - 180}°E.",
            datum_ellps="GRS80",
            datum_name="European Terrestrial Reference System 1989 ensemble",
            datum_code=6258, base_geog="EPSG:4258", base_geog_name="ETRS89",
        )
        return entry
    if 26703 <= num <= 26722:
        zone = num % 100
        entry = _e(
            code, f"NAD27 / UTM zone {zone}N", "projected",
            f"+proj=utm +zone={zone} +ellps=clrk66 +units=m",
            towgs84=(-8.0, 159.0, 175.0),
            area=Area(-186.0 + 6 * zone, 0, -180.0 + 6 * zone, 84),
            area_name=f"North America - zone {zone}N.", datum_ellps="clrk66",
            datum_name="North American Datum 1927", datum_code=6267,
            base_geog="EPSG:4267", base_geog_name="NAD27",
        )
        return entry
    return None


def registry_codes() -> list[str]:
    """Every CRS code the engine resolves: explicit registry entries
    plus the synthesized UTM blocks (WGS84 N/S, NAD83, ETRS89, NAD27).
    The engine analog of iterating libproj's EPSG database
    (/root/reference/src/proj.rs:679-685)."""
    codes = set(EPSG)
    codes.update(f"EPSG:{n}" for n in range(32601, 32661))   # WGS84 UTM N
    codes.update(f"EPSG:{n}" for n in range(32701, 32761))   # WGS84 UTM S
    codes.update(f"EPSG:{n}" for n in range(26901, 26924))   # NAD83 UTM
    codes.update(f"EPSG:{n}" for n in range(25828, 25839))   # ETRS89 UTM
    codes.update(f"EPSG:{n}" for n in range(26703, 26723))   # NAD27 UTM
    return sorted(codes)


def resolve_crs(spec: str) -> CrsEntry:
    spec = spec.strip()
    if spec in _CRS_ALIASES:
        spec = _CRS_ALIASES[spec]
    key = spec.upper().replace("EPSG:", "EPSG:")
    if key in EPSG:
        return EPSG[key]
    utm = _synthesize_utm(key)
    if utm is not None:
        EPSG[key] = utm
        return utm
    raise ProjCreateError(f"unknown CRS: {spec!r} (not in engine registry)")


def _resolve_any(spec: str) -> CrsEntry:
    """AUTHORITY:CODE, WKT string or PROJJSON -> CrsEntry."""
    spec = spec.strip()
    from .wkt_parse import entry_from_definition

    entry = entry_from_definition(spec)
    if entry is not None:
        return entry
    return resolve_crs(spec)


def lib_info() -> dict:
    """Engine version info (reference Proj::lib_info,
    /root/reference/src/proj.rs:313-335)."""
    return {
        "engine_version": ENGINE_VERSION,
        "modeled_proj_version": MODELED_PROJ_VERSION,
        "searchpath": "",
        "network_enabled": False,
    }


# ---------------------------------------------------------------------------
# Transform
# ---------------------------------------------------------------------------
class Transform:
    """A composed coordinate transform: list of steps + metadata.

    Error model (mirrors /root/reference/src/proj.rs:96-139, 1259):
      * strict (default, like reference arrays): any invalid point raises
        ``ProjError`` — all-or-nothing; the Transform stays usable
        afterwards (error-recovery contract, src/proj.rs:1921-1944).
      * row-wise: ``convert_array(..., errors="mask")`` returns
        ``(x, y, err)`` with NaN outputs and an error-message object array
        — the scalable mode for 10^12-row jobs.
      * any other ``errors`` value raises ``ValueError``.

    A point is invalid when an output x or y is not finite, or, on a
    z-carrying call (``convert_array3``/``project_array3``), its z.
    Every conversion method is one call of ``_run``; a 2D call is its
    ``z=None`` case.
    """

    def __init__(self, steps, *, definition="", src=None, dst=None,
                 angular_io=("rad", "rad"), area=None, name="", epoch=None):
        self._steps: list[_StepBase] = list(steps)
        self._definition = definition
        self._src: Optional[CrsEntry] = src
        self._dst: Optional[CrsEntry] = dst
        self._angular_io = angular_io
        self._area: Optional[Area] = area
        self._name = name
        self._epoch = epoch
        self._op_accuracy: Optional[float] = None

    # -- constructors -------------------------------------------------
    @classmethod
    def new(cls, definition: str) -> "Transform":
        """From a PROJ string, ``AUTHORITY:CODE``, WKT string (any of
        the six dialects this engine writes, plus external WKT1/WKT2)
        or PROJJSON (Proj::new, /root/reference/src/proj.rs:675-677 —
        libproj's proj_create accepts all four forms, :679-685).
        Coordinate order is caller-owned; for single projections
        ``project()`` consumes geodetic radians (src/proj.rs:986-991)."""
        definition = definition.strip()
        if not definition.startswith("+"):
            from .wkt_parse import entry_from_definition

            wkt_entry = entry_from_definition(definition)
            if wkt_entry is not None:
                steps = [make_step(p) for p in parse_proj_string(wkt_entry.proj)]
                return cls(steps, definition=wkt_entry.proj, src=wkt_entry,
                           dst=wkt_entry, area=wkt_entry.area,
                           name=wkt_entry.name)
        if not definition.startswith("+") and ":" in definition:
            entry = resolve_crs(definition)
            steps = [make_step(p) for p in parse_proj_string(entry.proj)]
            return cls(steps, definition=entry.proj, src=entry, dst=entry,
                       area=entry.area, name=entry.name)
        try:
            step_params = parse_proj_string(definition)
        except ProjCreateError:
            raise
        # expand +datum= shorthand (def() normalization KAT,
        # /root/reference/src/proj.rs:1642-1649)
        datum_expand = {
            "WGS84": {"ellps": "WGS84", "towgs84": "0,0,0"},
            "NAD83": {"ellps": "GRS80", "towgs84": "0,0,0"},
            "OSGB36": {
                "ellps": "airy",
                "towgs84": "446.448,-125.157,542.06,0.15,0.247,0.842,-20.489",
            },
        }
        for p in step_params:
            if p.get("datum") in datum_expand:
                for k, v in datum_expand[p["datum"]].items():
                    p.setdefault(k, v)
        steps: list[_StepBase] = [make_step(p) for p in step_params]
        # A single-op string with +towgs84 is a BoundCRS to WGS84 (legacy
        # proj4-string semantics kept by libproj): project()/convert()
        # input is WGS84 geodetic radians, shifted onto the string's datum
        # before projecting.  Verified against the reference's stereo70 and
        # OSGB36 KATs (/root/reference/src/proj.rs:1819-1863).
        if len(step_params) == 1 and "towgs84" in step_params[0]:
            tw = tuple(float(v) for v in str(step_params[0]["towgs84"]).split(","))
            if any(tw):
                a, es = K.ellipsoid(step_params[0])
                wa, wes = K.ellipsoid({"ellps": "WGS84"})
                steps = [DatumShiftStep(wa, wes, None, a, es, tw)] + steps
        return cls(steps, definition=definition)

    @classmethod
    def new_known_crs(cls, from_crs: str, to_crs: str,
                      area: Optional[Area] = None, **options) -> "Transform":
        """CRS->CRS transform with axis order normalized to lon,lat / E,N
        (Proj::new_known_crs + proj_normalize_for_visualization,
        /root/reference/src/proj.rs:726-732, :259-264, :498-508).

        options: allow_ballpark (default True), only_best (default False),
        force_over (default False), accuracy — mirroring the option strings
        of create_crs_to_crs_from_pj (src/proj.rs:749-754).

        ``accuracy`` (meters) is ENFORCED (round-1 accepted it silently):
        the composed operation's accuracy is the worst of its datum-shift
        legs (0 m same-datum / zero-shift, 2 m 7-parameter Helmert, 5 m
        3-parameter Helmert — the EPSG-published grades for these
        transformation classes); a ballpark leg has unknown accuracy.
        If the operation cannot meet the requested accuracy,
        ``ProjCreateError`` is raised, like PROJ's candidate filtering.

        ``from_crs`` / ``to_crs`` accept ``AUTHORITY:CODE``, WKT or
        PROJJSON, like libproj's proj_create_crs_to_crs.
        """
        src = _resolve_any(from_crs)
        dst = _resolve_any(to_crs)
        for entry in (src, dst):
            # a vertical CRS has no horizontal axes: as a 2D endpoint
            # it would pass degrees through as radians
            if entry.kind == "vertical":
                raise ProjCreateError(
                    f"{entry.code} ({entry.name}) is a vertical CRS: it "
                    "cannot be the source or target of a 2D transform")
        allow_ballpark = bool(options.get("allow_ballpark", True))
        only_best = bool(options.get("only_best", False))
        force_over = bool(options.get("force_over", False))
        accuracy_req = options.get("accuracy")

        def _shift_grade(tw) -> float:
            if tw is None or not any(tw):
                return 0.0
            return 2.0 if len(tw) >= 7 else 5.0

        def _is_angular(entry) -> bool:
            # a CRS does angular (degree) I/O when its horizontal
            # definition is longlat: plain geographic, geographic 3D
            # (EPSG:4979-style), or a compound whose horizontal member
            # is geographic (EPSG:9707-style).  Compounds with a
            # PROJECTED horizontal member (EPSG:7405) are linear.
            if entry.kind in ("geographic", "geographic3d"):
                return True
            if entry.kind == "compound":
                # the registry's members field states the horizontal
                # component directly; fall back to inspecting the proj
                # string only when members are absent
                members = getattr(entry, "members", None)
                if members:
                    horiz = EPSG.get(members[0])
                    if horiz is not None:
                        return horiz.kind in ("geographic",
                                              "geographic3d")
                p = parse_proj_string(entry.proj)
                return all(q.get("proj") in ("longlat", "latlong",
                                             "axisswap", "unitconvert")
                           for q in p)
            return False

        src_angular = _is_angular(src)
        dst_angular = _is_angular(dst)
        steps: list[_StepBase] = []
        # normalized input is degrees lon,lat for geographic src,
        # CRS units E,N for projected src
        if src_angular:
            steps.append(DegRadStep())
        else:
            for p in reversed(parse_proj_string(src.proj)):
                p = dict(p)
                p["inv"] = not p.get("inv", False)
                steps.append(make_step(p))
        # datum shift (both datums known and different -> helmert path;
        # any side unknown -> ballpark identity, like PROJ's
        # "ballpark geographic offset")
        src_a, src_es = K.ellipsoid({"ellps": src.datum_ellps})
        dst_a, dst_es = K.ellipsoid({"ellps": dst.datum_ellps})
        op_accuracy = 0.0
        if src.towgs84 is not None and dst.towgs84 is not None:
            if tuple(src.towgs84) != tuple(dst.towgs84) or (src_a, src_es) != (dst_a, dst_es):
                steps.append(DatumShiftStep(src_a, src_es,
                                            src.towgs84 if any(src.towgs84) else None,
                                            dst_a, dst_es,
                                            dst.towgs84 if any(dst.towgs84) else None))
                op_accuracy = max(_shift_grade(src.towgs84), _shift_grade(dst.towgs84))
        else:
            if not allow_ballpark or only_best:
                raise ProjCreateError(
                    f"no non-ballpark transformation between {from_crs} and {to_crs}"
                )
            # ballpark: reinterpret lon/lat — identity step, unknown accuracy
            op_accuracy = -1.0
        if accuracy_req is not None:
            req = float(accuracy_req)
            if op_accuracy < 0.0 or op_accuracy > req:
                raise ProjCreateError(
                    f"no transformation between {from_crs} and {to_crs} meets "
                    f"accuracy {req} m (best available: "
                    f"{'unknown (ballpark)' if op_accuracy < 0 else f'{op_accuracy} m'})"
                )
        if dst_angular:
            steps.append(DegRadStep())
            # DegRadStep is direction-aware; wrap to run inverse on fwd
            steps[-1] = _InverseOf(steps[-1])
        else:
            for p in parse_proj_string(dst.proj):
                p = dict(p)
                if force_over:
                    p["over"] = True
                steps.append(make_step(p))
        t = cls(
            steps,
            definition=f"{from_crs} -> {to_crs}",
            src=src,
            dst=dst,
            angular_io=("deg" if src_angular else "unit",
                        "deg" if dst_angular else "unit"),
            area=area or dst.area,
            name=f"{src.name} -> {dst.name}",
        )
        t._op_accuracy = op_accuracy
        return t

    @classmethod
    def crs_to_crs_from_transforms(cls, src: "Transform", dst: "Transform",
                                   area: Optional[Area] = None, **options) -> "Transform":
        """Compose CRS->CRS from two existing Transform objects
        (create_crs_to_crs_from_pj, /root/reference/src/proj.rs:778-789)."""
        if src._src is None or dst._src is None:
            raise ProjCreateError("both transforms must be CRS objects")
        return cls.new_known_crs(src._src.code, dst._src.code, area, **options)

    @classmethod
    def from_spec(cls, spec: Union[str, tuple]) -> "Transform":
        """TryFrom<&str> / TryFrom<(&str, &str)> equivalents
        (/root/reference/src/proj.rs:1455-1492)."""
        if isinstance(spec, tuple):
            return cls.new_known_crs(spec[0], spec[1])
        return cls.new(spec)

    # -- execution ----------------------------------------------------
    def _run(self, x, y, z=None, forward=True, errors="strict"):
        """The one runner behind every conversion: x/y (and z, when
        given) through every step, then the error model.  Returns
        ``(x, y[, z][, err])``, unwrapped to scalars for scalar input.
        With ``z=None`` no step sees a z and none is returned."""
        _check_errors(errors)
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        scalar = x.ndim == 0
        x = np.atleast_1d(x).copy()
        y = np.atleast_1d(y).copy()
        if z is not None:
            z = np.asarray(z, dtype=np.float64)
            z = np.broadcast_to(np.atleast_1d(z), x.shape).copy()
        steps = self._steps if forward else reversed(self._steps)
        for s in steps:
            x, y, z = s.apply3(x, y, z, forward=forward)
        ok = np.isfinite(x) & np.isfinite(y)
        out = (x, y)
        if z is not None:
            ok &= np.isfinite(z)
            out += (z,)
        bad = ~ok
        if errors == "strict" and bad.any():
            # all-or-nothing, matching reference array semantics
            # (/root/reference/src/proj.rs:1259) and scalar error text
            # (src/proj.rs:1914-1917)
            raise ProjError(
                f"The conversion failed with the following error: {INVALID_COORD}"
            )
        if errors == "mask":
            out += (np.where(bad, INVALID_COORD, None),)
        if scalar:
            out = tuple(v[0] for v in out)
        return out

    def convert_array3(self, x, y, z, errors: str = "strict"):
        """3D conversion, pipeline-forward — the z-carrying convert
        (reference z flow: src/proj.rs:1022-1030)."""
        return self._run(x, y, z, errors=errors)

    def project_array3(self, x, y, z, inverse: bool = False,
                       errors: str = "strict"):
        return self._run(x, y, z, forward=not inverse, errors=errors)

    def project(self, x, y, inverse: bool = False, errors: str = "strict"):
        """Forward (or inverse) projection; geodetic radians domain for
        single-projection transforms (Proj::project,
        /root/reference/src/proj.rs:932-975)."""
        return self._run(x, y, forward=not inverse, errors=errors)

    def convert(self, x, y, errors: str = "strict"):
        """Conversion, always pipeline-forward (Proj::convert,
        /root/reference/src/proj.rs:1011-1046)."""
        return self._run(x, y, errors=errors)

    # batch aliases — in numpy the scalar and array paths are the same
    # vectorized kernel (reference's convert_array/project_array,
    # /root/reference/src/proj.rs:1080-1123)
    def convert_array(self, x, y, errors: str = "strict"):
        return self._run(x, y, errors=errors)

    def project_array(self, x, y, inverse: bool = False, errors: str = "strict"):
        return self._run(x, y, forward=not inverse, errors=errors)

    def transform_bounds(self, left, bottom, right, top, densify_pts: int = 21):
        """Transform a bbox by densifying each edge and reducing to the
        outermost bounds (Proj::transform_bounds,
        /root/reference/src/proj.rs:1159-1205)."""
        if densify_pts < 0:
            densify_pts = 21
        n = densify_pts + 1
        xs = np.linspace(left, right, n)
        ys = np.linspace(bottom, top, n)
        ex = np.concatenate([xs, np.full(n, right), xs[::-1], np.full(n, left)])
        ey = np.concatenate([np.full(n, bottom), ys, np.full(n, top), ys[::-1]])
        tx, ty = self._run(ex, ey)
        return float(np.min(tx)), float(np.min(ty)), float(np.max(tx)), float(np.max(ty))

    # -- metadata -----------------------------------------------------
    @property
    def has_inverse(self) -> bool:
        return all(s.has_inverse for s in self._steps)

    @property
    def accuracy(self) -> float:
        """Operation accuracy in meters; -1 when unknown (reference
        Proj::accuracy semantics).  CRS->CRS transforms report the
        composed datum-shift grade; plain CRS objects report the
        registry's accuracy field."""
        if self._op_accuracy is not None:
            return self._op_accuracy
        return self._src.accuracy if self._src else -1.0

    def proj_info(self) -> dict:
        """id/description/definition/has_inverse/accuracy (ProjInfo,
        /root/reference/src/proj.rs:888-915, 1497-1504)."""
        return {
            "id": self._src.code if self._src else None,
            "description": self._name or self._definition,
            "definition": self.definition(),
            "has_inverse": self.has_inverse,
            "accuracy": self.accuracy,
        }

    def definition(self) -> str:
        """Normalized definition string (Proj::def,
        /root/reference/src/proj.rs:921-923; KAT at :1642-1649)."""
        parts = []
        for tok in self._definition.split():
            parts.append(tok.lstrip("+"))
        out = " ".join(parts)
        # expand datum shorthand like libproj does (KAT:
        # "proj=longlat datum=WGS84 no_defs ellps=WGS84 towgs84=0,0,0")
        if "datum=WGS84" in out and "ellps=" not in out:
            out += " ellps=WGS84 towgs84=0,0,0"
        return out

    def area_of_use(self):
        """(Area|None, name|None); sentinel -1000.0 in libproj means
        unknown -> None here (Proj::area_of_use,
        /root/reference/src/proj.rs:828-877)."""
        if self._src is None or self._src.area is None:
            return None, None
        return self._src.area, self._src.area_name

    def area_set_bbox(self, area: Area) -> None:
        """Restrict area of use post-construction (Proj::area_set_bbox,
        /root/reference/src/proj.rs:801-813). No-op unless CRS->CRS."""
        if self._src is not None and self._dst is not None and self._src != self._dst:
            self._area = area

    def with_epoch(self, epoch: float) -> "Transform":
        """Attach a coordinate epoch (coordinate_metadata_create,
        /root/reference/src/proj.rs:607-623).  Pipelines are rejected,
        like the reference (src/proj.rs:154-157)."""
        if self._src is None:
            raise ProjCreateError("cannot attach epoch to a pipeline/operation")
        t = Transform(self._steps, definition=self._definition, src=self._src,
                      dst=self._dst, angular_io=self._angular_io,
                      area=self._area, name=self._name, epoch=epoch)
        return t

    @property
    def epoch(self) -> float:
        """NaN when absent (src/proj.rs:631)."""
        return self._epoch if self._epoch is not None else float("nan")

    def equivalent_to(self, other: "Transform", criterion: str) -> bool:
        """3-level CRS comparison (Proj::equivalent_to,
        /root/reference/src/proj.rs:1391-1410; matrix test :2031-2053)."""
        a, b = self._src, other._src
        if a is None or b is None:
            return self._definition == other._definition
        same_core = (
            a.proj == b.proj
            and a.towgs84 == b.towgs84
            and a.kind == b.kind
            and a.unit == b.unit
        )
        if criterion == ComparisonCriterion.Strict:
            return same_core and a.code == b.code and a.axis_order == b.axis_order
        if criterion == ComparisonCriterion.Equivalent:
            return same_core and a.axis_order == b.axis_order
        return same_core

    # -- exports ------------------------------------------------------
    def to_projjson(self, multiline: Optional[bool] = None,
                    indent_width: Optional[int] = None,
                    schema: Optional[str] = None) -> str:
        """Full PROJJSON export — datum/ensemble + ellipsoid + CS +
        conversion (EPSG method/parameter codes) + usage + id
        (Proj::to_projjson, /root/reference/src/proj.rs:1280-1308;
        options :1988-2009).  Structure built in proj_spark.wkt."""
        from .wkt import to_projjson_dict

        schema = schema or "https://proj.org/schemas/v0.7/projjson.schema.json"
        entry = self._src
        if entry is None:
            obj = {"$schema": schema, "type": "Transformation",
                   "name": self._name or self._definition}
        else:
            obj = to_projjson_dict(entry, schema)
        if multiline is False:
            return json.dumps(obj, separators=(",", ":"))
        return json.dumps(obj, indent=indent_width or 2)

    def as_wkt(self, version: str = "WKT2_2019", multiline: bool = True) -> str:
        """WKT export honoring all six reference dialects and the
        multiline option (Proj::as_wkt,
        /root/reference/src/proj.rs:1310-1377; WktVersion :1446-1453).
        EPSG:4326 WKT2:2019 single-line is byte-identical to libproj
        (golden KAT, src/proj.rs:2012-2028); other CRS are structural
        WKT generated from the registry (see proj_spark.wkt)."""
        from .wkt import to_wkt

        entry = self._src
        if entry is None:
            raise ProjError("WKT export requires a CRS object")
        return to_wkt(entry, version, multiline)

    def __repr__(self) -> str:
        return f"Transform({self._definition!r})"


class _InverseOf(_StepBase):
    def __init__(self, inner: _StepBase):
        self._inner = inner

    def apply(self, x, y, forward=True):
        return self._inner.apply(x, y, forward=not forward)


class TransformBuilder:
    """Construction-time configuration (ProjBuilder,
    /root/reference/src/proj.rs:462-544).  LOCAL NTv2 grid files are
    supported (+proj=hgridshift, proj_spark.grids); grid DOWNLOAD over
    the network (O22) stays out of scope — ship grids with the job via
    --py-files instead (reference network layer:
    /root/reference/src/network.rs)."""

    def __init__(self):
        pass

    def enable_network(self, enable: bool):
        """Switch grid download on/off (ProjBuilder::enable_network,
        /root/reference/src/proj.rs:370-383).  With networking on,
        grids that resolve nowhere locally are fetched from the URL
        endpoint with the reference's retry/backoff semantics into the
        bounded on-disk cache (proj_spark.network, O22)."""
        from . import network

        network.enable_network(enable)
        return self

    def network_enabled(self) -> bool:
        """ProjBuilder::network_enabled (src/proj.rs:342-345)."""
        from . import network

        return network.is_network_enabled()

    def set_url_endpoint(self, endpoint: str):
        """ProjBuilder::set_url_endpoint (src/proj.rs:433-440)."""
        from . import network

        network.set_url_endpoint(endpoint)
        return self

    def get_url_endpoint(self) -> str:
        """ProjBuilder::get_url_endpoint (src/proj.rs:349-353)."""
        from . import network

        return network.get_url_endpoint()

    def grid_cache_enable(self, enable: bool):
        """Enable/disable the bounded download cache — 300 MB default,
        like libproj's (ProjBuilder::grid_cache_enable,
        /root/reference/src/proj.rs:417-431).  Parsed-grid memoization
        per worker (O23) is separate and always on."""
        from . import network

        network.grid_cache_enable(enable)
        return self

    def set_search_paths(self, *paths):
        from . import grids as G

        for p in paths:
            if p and p not in getattr(G, "_EXTRA_SEARCH", []):
                G._EXTRA_SEARCH.append(str(p))
        return self

    def proj(self, definition: str) -> Transform:
        return Transform.new(definition)

    def proj_known_crs(self, from_crs: str, to_crs: str,
                       area: Optional[Area] = None) -> Transform:
        return Transform.new_known_crs(from_crs, to_crs, area)
