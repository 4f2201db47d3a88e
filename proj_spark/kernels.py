"""Vectorized numpy projection kernels.

This module is the numerical core of the engine: forward/inverse map
projections and datum shifts implemented as pure numpy array functions
(float64 in, float64 out — one call transforms a whole column, the
Spark analog of the reference's batch path ``proj_trans_array``,
/root/reference/src/proj.rs:1210-1274).

All math is re-derived from public sources — Snyder, *Map Projections:
A Working Manual* (USGS PP 1395, 1987); Karney, *Transverse Mercator
with an accuracy of a few nanometers* (J. Geodesy 85, 2011); the Equal
Earth projection paper (Šavrič, Patterson & Jenny 2018); EPSG Guidance
Note 7-2 — NOT translated from the reference (which delegates all math
to libproj C via FFI).

Semantics intentionally mirrored from the reference's tests:
  * known-answer coordinates — /root/reference/src/proj.rs:1780-1789,
    1819-1875, README.md:181-232 (see tests/test_kernels.py)
  * geodetic latitude out of range -> "Invalid coordinate" error, and a
    failed call must not poison later calls —
    /root/reference/src/proj.rs:1905-1944
  * longitude wrapping vs FORCE_OVER — /root/reference/src/proj.rs:1675-1700

Every kernel is a triple ``(setup, fwd, inv)`` registered in
``PROJECTIONS``; ``setup(params) -> dict`` precomputes constants on the
driver, ``fwd(lam, phi, P)`` / ``inv(x, y, P)`` run on executors inside
Arrow-batched UDFs.  ``lam``/``phi`` are radians with ``lam`` already
reduced by ``lon_0``; x/y are in units of the semi-major axis *a*.  The
generic wrapper ``crs.ProjStep.apply`` applies ``a``, false
easting/northing and axis units (PROJ's generic fwd/inv pre/post
steps) and hands a kernel only finite, in-domain lanes.
"""

from __future__ import annotations

import math

import numpy as np

from proj_spark import geodesy as _geodesy

__all__ = [
    "ELLIPSOIDS",
    "PROJECTIONS",
    "ProjKernelError",
    "adjlon",
    "ellipsoid",
    "geodetic_to_ecef",
    "ecef_to_geodetic",
    "helmert_fwd",
    "helmert_inv",
]

HALFPI = np.pi / 2.0
TWOPI = 2.0 * np.pi

# lat out-of-range tolerance, like PROJ's generic forward-prepare check
LAT_EPS = 1e-12


class ProjKernelError(ValueError):
    """Raised in strict mode when any point fails (all-or-nothing batch
    semantics of the reference: /root/reference/src/proj.rs:1259)."""


# ---------------------------------------------------------------------------
# fast trig: this environment's float64 np.sin/np.cos/np.tan/np.arcsin
# fall back to a ~1 us/element scalar libm path (measured 130x slower
# than np.sinh!).  Replace them with vectorized Cody-Waite reduction +
# the classic fdlibm kernel polynomials (publicly documented Sun
# constants) — pure numpy arithmetic, < 1 ulp error, ~100x faster here.
# ---------------------------------------------------------------------------
_PIO2_1 = 1.57079632673412561417e00
_PIO2_1T = 6.07710050650619224932e-11
_INV_PIO2 = 6.36619772367581382433e-01  # 2/pi

_SS = (
    -1.66666666666666324348e-01,
    8.33333333332248946124e-03,
    -1.98412698298579493134e-04,
    2.75573137070700676789e-06,
    -2.50507602534068634195e-08,
    1.58969099521155010221e-10,
)
_CC = (
    4.16666666666666019037e-02,
    -1.38888888888741095749e-03,
    2.48015872894767294178e-05,
    -2.75573143513906633035e-07,
    2.08757232129817482790e-09,
    -1.13596475577881948265e-11,
)


def _fsincos(x):
    x = np.asarray(x, dtype=np.float64)
    n = np.rint(x * _INV_PIO2)
    r = (x - n * _PIO2_1) - n * _PIO2_1T
    z = r * r
    ks = r + r * z * (
        _SS[0] + z * (_SS[1] + z * (_SS[2] + z * (_SS[3] + z * (_SS[4] + z * _SS[5]))))
    )
    kc = 1.0 - 0.5 * z + z * z * (
        _CC[0] + z * (_CC[1] + z * (_CC[2] + z * (_CC[3] + z * (_CC[4] + z * _CC[5]))))
    )
    q = n.astype(np.int64) & 3
    sin = np.where(q == 0, ks, np.where(q == 1, kc, np.where(q == 2, -ks, -kc)))
    cos = np.where(q == 0, kc, np.where(q == 1, -ks, np.where(q == 2, -kc, ks)))
    return sin, cos


def fsin(x):
    return _fsincos(x)[0]


def fcos(x):
    return _fsincos(x)[1]


def ftan(x):
    s, c = _fsincos(x)
    return s / c


def farcsin(x):
    # exact identity on the fast arctan2/sqrt primitives
    x = np.asarray(x, dtype=np.float64)
    return np.arctan2(x, np.sqrt((1.0 - x) * (1.0 + x)))


# ---------------------------------------------------------------------------
# ellipsoids (a, reciprocal flattening rf).  rf == 0 -> sphere.
# parameter values are standard published constants.
# ---------------------------------------------------------------------------
ELLIPSOIDS = {
    "GRS80": (6378137.0, 298.257222101),
    "WGS84": (6378137.0, 298.257223563),
    "airy": (6377563.396, 299.3249646),
    "krass": (6378245.0, 298.3),
    "clrk66": (6378206.4, 294.9786982),
    "bessel": (6377397.155, 299.1528128),
    "intl": (6378388.0, 297.0),
    "evrstSS": (6377298.556, 300.8017),  # Everest 1830 (1967 Definition)
    "sphere": (6370997.0, 0.0),
}


def ellipsoid(params: dict) -> tuple[float, float]:
    """Resolve (a, es) from step params: ellps name, R sphere radius,
    a/b, a/rf or a/f (PROJ ellipsoid parameter grammar)."""
    if "R" in params:
        return float(params["R"]), 0.0
    if "a" in params:
        a = float(params["a"])
        if "b" in params:
            b = float(params["b"])
            es = 1.0 - (b * b) / (a * a)
        elif "rf" in params:
            rf = float(params["rf"])
            f = 1.0 / rf if rf else 0.0
            es = f * (2.0 - f)
        elif "f" in params:
            f = float(params["f"])
            es = f * (2.0 - f)
        else:
            es = 0.0
        return a, es
    name = params.get("ellps", "GRS80")
    a, rf = ELLIPSOIDS[name]
    f = 1.0 / rf if rf else 0.0
    return a, f * (2.0 - f)


def adjlon(lam: np.ndarray) -> np.ndarray:
    """Wrap longitude(s) to (-pi, pi]."""
    lam = np.asarray(lam, dtype=np.float64)
    out = lam - TWOPI * np.floor((lam + np.pi) / TWOPI)
    return out


# ---------------------------------------------------------------------------
# shared ellipsoidal helpers (Snyder 1987 notation)
# ---------------------------------------------------------------------------
def _tsfn(phi, sinphi, e):
    """Snyder (7-10): isometric colatitude function t."""
    con = e * sinphi
    return ftan(0.5 * (HALFPI - phi)) / np.power((1.0 - con) / (1.0 + con), 0.5 * e)


def _msfn(sinphi, cosphi, es):
    """Snyder (14-15): m = cos(phi)/sqrt(1 - es sin^2 phi)."""
    return cosphi / np.sqrt(1.0 - es * sinphi * sinphi)


def _advance(x, x_new, step, live, tol):
    """The one convergence rule of the tolerance loops: live lanes move
    to ``x_new`` and a lane retires after its first ``|step| < tol``, so
    a lane runs exactly the steps it would run alone."""
    return np.where(live, x_new, x), live & ~(np.abs(step) < tol)


def _phi2(ts, e):
    """Inverse of _tsfn: latitude from t (Snyder 7-9), fixed-point."""
    phi = HALFPI - 2.0 * np.arctan(ts)
    live = np.ones(np.shape(phi), dtype=bool)
    for _ in range(15):
        con = e * fsin(phi)
        dphi = (
            HALFPI
            - 2.0 * np.arctan(ts * np.power((1.0 - con) / (1.0 + con), 0.5 * e))
            - phi
        )
        phi, live = _advance(phi, phi + dphi, dphi, live, 1.0e-13)
        if not live.any():
            break
    return phi


def _qsfn(sinphi, e, one_es):
    """Authalic q (Snyder 3-12)."""
    if e < 1e-7:
        return 2.0 * sinphi
    con = e * sinphi
    return one_es * (
        sinphi / (1.0 - con * con) - (0.5 / e) * np.log((1.0 - con) / (1.0 + con))
    )


def _authlat_inv(q, e, one_es):
    """Latitude from authalic q (Snyder 3-16), Newton iteration."""
    phi = farcsin(np.clip(0.5 * q, -1.0, 1.0))
    if e < 1e-7:
        return phi
    for _ in range(12):
        sinphi = fsin(phi)
        cosphi = fcos(phi)
        con = e * sinphi
        com = 1.0 - con * con
        dphi = (
            0.5
            * com
            * com
            / np.maximum(cosphi, 1e-300)
            * (
                q / one_es
                - sinphi / com
                + (0.5 / e) * np.log((1.0 - con) / (1.0 + con))
            )
        )
        dphi = np.where(np.abs(cosphi) < 1e-12, 0.0, dphi)
        phi = phi + dphi
    return phi


# ---------------------------------------------------------------------------
# longlat (identity in radians)
# ---------------------------------------------------------------------------
def longlat_setup(params, a, es):
    return {}


def longlat_fwd(lam, phi, P):
    return lam, phi


def longlat_inv(x, y, P):
    return x, y


# ---------------------------------------------------------------------------
# merc — Mercator, spherical and ellipsoidal (Snyder ch. 7)
# EPSG:3857 uses the spherical case on the WGS84 semi-major axis;
# the reference exercises "+proj=merc +lat_ts=56.5 +ellps=GRS80"
# (/root/reference/src/proj.rs:653-656) and 4326->3857
# (/root/reference/src/transform.rs:80-83).
# ---------------------------------------------------------------------------
def merc_setup(params, a, es):
    e = np.sqrt(es)
    k0 = float(params.get("k", params.get("k_0", 1.0)))
    if "lat_ts" in params:
        phits = np.radians(float(params["lat_ts"]))
        if es > 0.0:
            k0 = float(_msfn(fsin(phits), fcos(phits), es))
        else:
            k0 = float(fcos(phits))
    return {"e": e, "es": es, "k0": k0}


def merc_fwd(lam, phi, P):
    k0 = P["k0"]
    x = k0 * lam
    if P["es"] > 0.0:
        y = -k0 * np.log(np.maximum(_tsfn(phi, fsin(phi), P["e"]), 1e-300))
    else:
        y = k0 * np.log(ftan(np.pi / 4.0 + 0.5 * phi))
    return x, y


def merc_inv(x, y, P):
    k0 = P["k0"]
    lam = x / k0
    if P["es"] > 0.0:
        phi = _phi2(np.exp(-y / k0), P["e"])
    else:
        phi = HALFPI - 2.0 * np.arctan(np.exp(-y / k0))
    return lam, phi


# ---------------------------------------------------------------------------
# webmerc — EPSG:3857: spherical Mercator formulas with WGS84 a,
# geodetic latitude used directly (EPSG method 1024).
# ---------------------------------------------------------------------------
def webmerc_setup(params, a, es):
    return {"k0": 1.0}


def webmerc_fwd(lam, phi, P):
    return lam, np.log(ftan(np.pi / 4.0 + 0.5 * phi))


def webmerc_inv(x, y, P):
    return x, HALFPI - 2.0 * np.arctan(np.exp(-y))


# ---------------------------------------------------------------------------
# tmerc — transverse Mercator, exact Krüger series order n^6
# (Karney 2011, eqs. 5-35; same accuracy class as the reference's
# libproj etmerc used for EPSG:27700 / 6366 KATs,
# /root/reference/src/proj.rs:1849-1863, README.md:222-232).
# ---------------------------------------------------------------------------
def tmerc_setup(params, a, es):
    e = np.sqrt(es)
    f = 1.0 - np.sqrt(1.0 - es)
    n = f / (2.0 - f)
    n2, n3, n4, n5, n6 = n * n, n**3, n**4, n**5, n**6
    # Karney (2011) alpha (fwd) / beta (inv) coefficients, order 6
    alpha = np.array(
        [
            n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288
            + 7891 * n6 / 37800,
            13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
            - 1983433 * n6 / 1935360,
            61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
            + 167603 * n6 / 181440,
            49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
            34729 * n5 / 80640 - 3418889 * n6 / 1995840,
            212378941 * n6 / 319334400,
        ]
    )
    beta = np.array(
        [
            n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512
            + 96199 * n6 / 604800,
            n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105
            - 1118711 * n6 / 3870720,
            17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
            4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
            4583 * n5 / 161280 - 108847 * n6 / 3991680,
            20648693 * n6 / 638668800,
        ]
    )
    # rectifying radius / a
    A = (1.0 / (1.0 + n)) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    k0 = float(params.get("k", params.get("k_0", 1.0)))
    P = {"e": e, "es": es, "n": n, "alpha": alpha, "beta": beta, "A": A, "k0": k0}
    # false-northing origin: forward of (lat_0, lam=0) has y = k0*A*xi(lat_0)
    lat0 = np.radians(float(params.get("lat_0", 0.0)))
    if lat0 != 0.0:
        _, y0 = _tmerc_core_fwd(np.array([0.0]), np.array([lat0]), P)
        P["y_origin"] = float(y0[0])
    else:
        P["y_origin"] = 0.0
    # Evenden/Snyder coefficients for the near-meridian (algo=auto) path
    P["esp"] = es / (1.0 - es) if es < 1.0 else 0.0
    P["en"] = _enfn(es)
    P["ml0"] = float(_mlfn(lat0, fsin(lat0), fcos(lat0), P["en"]))
    # default to the exact series like libproj 9.x; +approx selects the
    # faster Evenden/Snyder 4th-order variant
    algo = params.get("algo", "poder_engsager")
    if params.get("approx"):
        algo = "evenden_snyder"
    if algo not in ("auto", "evenden_snyder", "poder_engsager"):
        algo = "poder_engsager"
    P["algo"] = algo
    return P


def _conformal_lat_tan(phi, e):
    """tan(chi): tau' = tau*sqrt(1+sigma^2) - sigma*sqrt(1+tau^2) (Karney eq 7)."""
    tau = ftan(phi)
    sigma = np.sinh(e * np.arctanh(e * tau / np.hypot(1.0, tau)))
    return tau * np.hypot(1.0, sigma) - sigma * np.hypot(1.0, tau)


def _conformal_lat_tan_inv(taup, e):
    """tau from tau' by Newton (Karney 2011 eq. 19-21)."""
    # initial guess
    e2m = 1.0 - e * e
    tau = taup / e2m
    for _ in range(8):
        sigma = np.sinh(e * np.arctanh(e * tau / np.hypot(1.0, tau)))
        taupa = tau * np.hypot(1.0, sigma) - sigma * np.hypot(1.0, tau)
        dtau = (
            (taup - taupa)
            * (1.0 + e2m * tau * tau)
            / (e2m * np.hypot(1.0, tau) * np.hypot(1.0, taupa))
        )
        tau = tau + dtau
    return tau


def _clenshaw_sincosh(coeff, x2, y2, sign):
    """sum_j c_j sin(j*x2)cosh(j*y2), sum_j c_j cos(j*x2)sinh(j*y2)
    via double-angle recurrences — 4 transcendental evaluations total
    instead of 6 complex sins (~10x faster on large columns, identical
    math to the complex-sine form up to fp rounding)."""
    s1, c1 = fsin(x2), fcos(x2)
    sh1, ch1 = np.sinh(y2), np.cosh(y2)
    sj, cj, shj, chj = s1, c1, sh1, ch1
    re = coeff[0] * sj * chj
    im = coeff[0] * cj * shj
    for j in range(1, len(coeff)):
        sj, cj = sj * c1 + cj * s1, cj * c1 - sj * s1
        shj, chj = shj * ch1 + chj * sh1, chj * ch1 + shj * sh1
        re = re + coeff[j] * sj * chj
        im = im + coeff[j] * cj * shj
    return re, sign * im


def _tmerc_core_fwd(lam, phi, P):
    taup = _conformal_lat_tan(phi, P["e"])
    coslam = fcos(lam)
    xip = np.arctan2(taup, coslam)
    etap = np.arcsinh(fsin(lam) / np.hypot(taup, coslam))
    # xi = xip + sum alpha_j sin(2j xip) cosh(2j etap); eta likewise
    dxi, deta = _clenshaw_sincosh(P["alpha"], 2.0 * xip, 2.0 * etap, 1.0)
    scale = P["k0"] * P["A"]
    return scale * (etap + deta), scale * (xip + dxi)


def _tmerc_exact_fwd(lam, phi, P):
    x, y = _tmerc_core_fwd(np.asarray(lam), np.asarray(phi), P)
    return x, y - P["y_origin"]


def _tmerc_exact_inv(x, y, P):
    scale = P["k0"] * P["A"]
    xi = (np.asarray(y) + P["y_origin"]) / scale
    eta = np.asarray(x) / scale
    dxi, deta = _clenshaw_sincosh(P["beta"], 2.0 * xi, 2.0 * eta, 1.0)
    xip = xi - dxi
    etap = eta - deta
    taup = fsin(xip) / np.hypot(np.sinh(etap), fcos(xip))
    lam = np.arctan2(np.sinh(etap), fcos(xip))
    tau = _conformal_lat_tan_inv(taup, P["e"])
    return lam, np.arctan(tau)


def tmerc_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    algo = P.get("algo", "auto")
    if algo == "poder_engsager":
        return _tmerc_exact_fwd(lam, phi, P)
    if algo == "evenden_snyder":
        return _tmerc_approx_fwd(lam, phi, P)
    near = np.abs(lam) <= _TMERC_AUTO_SWITCH
    if near.all():
        return _tmerc_approx_fwd(lam, phi, P)
    if not near.any():
        return _tmerc_exact_fwd(lam, phi, P)
    ax, ay = _tmerc_approx_fwd(lam, phi, P)
    ex, ey = _tmerc_exact_fwd(lam, phi, P)
    return np.where(near, ax, ex), np.where(near, ay, ey)


def tmerc_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    algo = P.get("algo", "auto")
    if algo == "poder_engsager":
        return _tmerc_exact_inv(x, y, P)
    if algo == "evenden_snyder":
        return _tmerc_approx_inv(x, y, P)
    # same switch in projected space: |eta| ~ |x|/(k0*A) vs sin(3 deg)
    near = np.abs(x) <= (P["k0"] * P["A"] * fsin(_TMERC_AUTO_SWITCH))
    if near.all():
        return _tmerc_approx_inv(x, y, P)
    if not near.any():
        return _tmerc_exact_inv(x, y, P)
    al, ap = _tmerc_approx_inv(x, y, P)
    el, ep = _tmerc_exact_inv(x, y, P)
    return np.where(near, al, el), np.where(near, ap, ep)


# ---------------------------------------------------------------------------
# tmerc approximate variant — Evenden/Snyder 4th-order series (Snyder
# 1987 eq. 8-9..8-17, the classic proj.4 tmerc).  libproj's default
# "algo=auto" uses this within ~3 deg of the central meridian and the
# exact Krüger series beyond, so we reproduce that selection to match
# the reference KATs bit-for-bit near the meridian (OSGB36 inverse KAT,
# /root/reference/src/proj.rs:1849-1863).
# ---------------------------------------------------------------------------
_FC1, _FC2, _FC3, _FC4 = 1.0, 0.5, 1.0 / 6.0, 1.0 / 12.0
_FC5, _FC6, _FC7, _FC8 = 1.0 / 120.0, 1.0 / 360.0, 1.0 / 5040.0, 1.0 / 1260.0

_C00 = 1.0
_C02 = 0.25
_C04 = 0.046875
_C06 = 0.01953125
_C08 = 0.01068115234375
_C22 = 0.75
_C44 = 0.46875
_C46 = 0.01302083333333333333
_C48 = 0.00712076822916666666
_C66 = 0.36458333333333333333
_C68 = 0.00569661458333333333
_C88 = 0.3076171875


def _enfn(es):
    """Meridian-arc series coefficients (Snyder 3-21)."""
    en = np.empty(5)
    en[0] = _C00 - es * (_C02 + es * (_C04 + es * (_C06 + es * _C08)))
    en[1] = es * (_C22 - es * (_C04 + es * (_C06 + es * _C08)))
    t = es * es
    en[2] = t * (_C44 - es * (_C46 + es * _C48))
    t = t * es
    en[3] = t * (_C66 - es * _C68)
    en[4] = t * es * _C88
    return en


def _mlfn(phi, sphi, cphi, en):
    cphi = cphi * sphi
    sphi = sphi * sphi
    return en[0] * phi - cphi * (en[1] + sphi * (en[2] + sphi * (en[3] + sphi * en[4])))


def _inv_mlfn(arg, es, en):
    k = 1.0 / (1.0 - es)
    phi = np.array(arg, copy=True, dtype=np.float64)
    live = np.ones(phi.shape, dtype=bool)
    for _ in range(10):
        s = fsin(phi)
        t = 1.0 - es * s * s
        t = (_mlfn(phi, s, fcos(phi), en) - arg) * (t * np.sqrt(t)) * k
        phi, live = _advance(phi, phi - t, t, live, 1e-11)
        if not live.any():
            break
    return phi


def _tmerc_approx_fwd(lam, phi, P):
    es, esp, k0, en = P["es"], P["esp"], P["k0"], P["en"]
    sinphi = fsin(phi)
    cosphi = fcos(phi)
    t = np.where(np.abs(cosphi) > 1e-10, sinphi / cosphi, 0.0)
    t = t * t
    al = cosphi * lam
    als = al * al
    al = al / np.sqrt(1.0 - es * sinphi * sinphi)
    n = esp * cosphi * cosphi
    x = k0 * al * (
        _FC1
        + _FC3 * als * (
            1.0 - t + n
            + _FC5 * als * (
                5.0 + t * (t - 18.0) + n * (14.0 - 58.0 * t)
                + _FC7 * als * (61.0 + t * (t * (179.0 - t) - 479.0))
            )
        )
    )
    y = k0 * (
        _mlfn(phi, sinphi, cosphi, en)
        - P["ml0"]
        + sinphi * al * lam * _FC2 * (
            1.0
            + _FC4 * als * (
                5.0 - t + n * (9.0 + 4.0 * n)
                + _FC6 * als * (
                    61.0 + t * (t - 58.0) + n * (270.0 - 330.0 * t)
                    + _FC8 * als * (1385.0 + t * (t * (543.0 - t) - 3111.0))
                )
            )
        )
    )
    return x, y


def _tmerc_approx_inv(x, y, P):
    es, esp, k0, en = P["es"], P["esp"], P["k0"], P["en"]
    phi = _inv_mlfn(P["ml0"] + np.asarray(y) / k0, es, en)
    sinphi = fsin(phi)
    cosphi = fcos(phi)
    t = np.where(np.abs(cosphi) > 1e-10, sinphi / cosphi, 0.0)
    n = esp * cosphi * cosphi
    con = 1.0 - es * sinphi * sinphi
    d = np.asarray(x) * np.sqrt(con) / k0
    con = con * t
    t = t * t
    ds = d * d
    phi_out = phi - (con * ds / (1.0 - es)) * _FC2 * (
        1.0
        - ds * _FC4 * (
            5.0 + t * (3.0 - 9.0 * n) + n * (1.0 - 4.0 * n)
            - ds * _FC6 * (
                61.0 + t * (90.0 - 252.0 * n + 45.0 * t) + 46.0 * n
                - ds * _FC8 * (1385.0 + t * (3633.0 + t * (4095.0 + 1575.0 * t)))
            )
        )
    )
    lam = d * (
        _FC1
        - ds * _FC3 * (
            1.0 + 2.0 * t + n
            - ds * _FC5 * (
                5.0 + t * (28.0 + 24.0 * t + 8.0 * n) + 6.0 * n
                - ds * _FC7 * (61.0 + t * (662.0 + t * (1320.0 + 720.0 * t)))
            )
        )
    ) / cosphi
    at_pole = np.abs(phi) >= HALFPI
    phi_out = np.where(at_pole, np.sign(np.asarray(y)) * HALFPI, phi_out)
    lam = np.where(at_pole, 0.0, lam)
    return lam, phi_out


# PROJ algo=auto switches exact<->approx at ~3 degrees from the meridian
_TMERC_AUTO_SWITCH = np.radians(3.0)


# ---------------------------------------------------------------------------
# utm — shorthand: tmerc k0=0.9996, lon_0 from zone, x_0=500000
# (handled at the step layer; setup merely derives params).
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# lcc — Lambert Conformal Conic 1SP/2SP (Snyder ch. 15).
# Exercised by EPSG:2230<->26946 (/root/reference/src/proj.rs:1780-1789,
# pipeline printed at :1868-1875).
# ---------------------------------------------------------------------------
def lcc_setup(params, a, es):
    e = np.sqrt(es)
    phi1 = np.radians(float(params.get("lat_1", 0.0)))
    phi2 = np.radians(float(params.get("lat_2", params.get("lat_1", 0.0))))
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    k0 = float(params.get("k", params.get("k_0", 1.0)))
    sinphi = fsin(phi1)
    cosphi = fcos(phi1)
    secant = abs(phi1 - phi2) >= 1e-10
    if es > 0.0:
        m1 = _msfn(sinphi, cosphi, es)
        ml1 = _tsfn(phi1, sinphi, e)
        if secant:
            sinphi2 = fsin(phi2)
            n = np.log(m1 / _msfn(sinphi2, fcos(phi2), es))
            n = n / np.log(ml1 / _tsfn(phi2, sinphi2, e))
        else:
            n = sinphi
        c = m1 * np.power(ml1, -n) / n
        rho0 = 0.0
        if abs(abs(phi0) - HALFPI) > 1e-10:
            rho0 = c * np.power(_tsfn(phi0, fsin(phi0), e), n)
    else:
        if secant:
            n = np.log(cosphi / fcos(phi2)) / np.log(
                ftan(np.pi / 4.0 + 0.5 * phi2) / ftan(np.pi / 4.0 + 0.5 * phi1)
            )
        else:
            n = sinphi
        c = cosphi * np.power(ftan(np.pi / 4.0 + 0.5 * phi1), n) / n
        rho0 = 0.0
        if abs(abs(phi0) - HALFPI) > 1e-10:
            rho0 = c * np.power(ftan(np.pi / 4.0 + 0.5 * phi0), -n)
    return {
        "e": e,
        "es": es,
        "n": float(n),
        "c": float(c),
        "rho0": float(rho0),
        "k0": k0,
    }


def lcc_fwd(lam, phi, P):
    n, c, e = P["n"], P["c"], P["e"]
    if P["es"] > 0.0:
        ts = _tsfn(phi, fsin(phi), e)
        rho = c * np.power(ts, n)
    else:
        rho = c * np.power(ftan(np.pi / 4.0 + 0.5 * phi), -n)
    # poles of the cone: rho -> 0
    rho = np.where(np.abs(np.abs(phi) - HALFPI) < 1e-10, 0.0, rho)
    x = P["k0"] * rho * fsin(n * lam)
    y = P["k0"] * (P["rho0"] - rho * fcos(n * lam))
    return x, y


def lcc_inv(x, y, P):
    n, c, e = P["n"], P["c"], P["e"]
    x = np.asarray(x) / P["k0"]
    y = P["rho0"] - np.asarray(y) / P["k0"]
    rho = np.hypot(x, y)
    if n < 0.0:
        rho = -rho
        x = -x
        y = -y
    lam = np.arctan2(x, y) / n
    if P["es"] > 0.0:
        phi = _phi2(np.power(rho / c, 1.0 / n), e)
    else:
        phi = 2.0 * np.arctan(np.power(c / rho, 1.0 / n)) - HALFPI
    phi = np.where(rho == 0.0, np.sign(n) * HALFPI, phi)
    return lam, phi


# ---------------------------------------------------------------------------
# sterea — oblique stereographic on the Gaussian sphere (EPSG method 9809,
# "double stereographic"; RD/stereo70).  KATs:
# /root/reference/src/proj.rs:1819-1846 (stereo70 fwd/inv).
# ---------------------------------------------------------------------------
def sterea_setup(params, a, es):
    e = np.sqrt(es)
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    k0 = float(params.get("k", params.get("k_0", 1.0)))
    sphi = fsin(phi0)
    cphi2 = fcos(phi0) ** 2
    R = np.sqrt(1.0 - es) / (1.0 - es * sphi * sphi)  # /a
    C = np.sqrt(1.0 + es * cphi2 * cphi2 / (1.0 - es))
    chi0 = farcsin(sphi / C)
    ratexp = 0.5 * C * e
    K = ftan(0.5 * chi0 + np.pi / 4.0) / (
        np.power(ftan(0.5 * phi0 + np.pi / 4.0), C)
        * np.power((1.0 - e * sphi) / (1.0 + e * sphi), ratexp)
    )
    return {
        "e": e,
        "es": es,
        "C": float(C),
        "K": float(K),
        "ratexp": float(ratexp),
        "chi0": float(chi0),
        "sinc0": float(fsin(chi0)),
        "cosc0": float(fcos(chi0)),
        "R": float(R),
        "k0": k0,
    }


def _gauss_fwd(lam, phi, P):
    e = P["e"]
    srat = np.power(
        (1.0 - e * fsin(phi)) / (1.0 + e * fsin(phi)), P["ratexp"]
    )
    chi = (
        2.0
        * np.arctan(P["K"] * np.power(ftan(0.5 * phi + np.pi / 4.0), P["C"]) * srat)
        - HALFPI
    )
    return P["C"] * lam, chi


def _gauss_inv(lam, chi, P):
    e = P["e"]
    lam_out = lam / P["C"]
    num = np.power(ftan(0.5 * chi + np.pi / 4.0) / P["K"], 1.0 / P["C"])
    phi = chi
    live = np.ones(np.shape(phi), dtype=bool)
    for _ in range(20):
        con = e * fsin(phi)
        new = (
            2.0
            * np.arctan(num * np.power((1.0 + con) / (1.0 - con), 0.5 * e))
            - HALFPI
        )
        phi, live = _advance(phi, new, new - phi, live, 1e-14)
        if not live.any():
            break
    return lam_out, phi


def sterea_fwd(lam, phi, P):
    lamc, chi = _gauss_fwd(lam, phi, P)
    sinc = fsin(chi)
    cosc = fcos(chi)
    cosl = fcos(lamc)
    k = P["k0"] * 2.0 * P["R"] / (1.0 + P["sinc0"] * sinc + P["cosc0"] * cosc * cosl)
    x = k * cosc * fsin(lamc)
    y = k * (P["cosc0"] * sinc - P["sinc0"] * cosc * cosl)
    return x, y


def sterea_inv(x, y, P):
    R2 = 2.0 * P["R"]
    x = np.asarray(x, dtype=np.float64) / P["k0"]
    y = np.asarray(y, dtype=np.float64) / P["k0"]
    rho = np.hypot(x, y)
    c = 2.0 * np.arctan2(rho, R2)
    sinc = fsin(c)
    cosc = fcos(c)
    chi = np.where(
        rho == 0.0,
        P["chi0"],
        farcsin(np.clip(cosc * P["sinc0"] + y * sinc * P["cosc0"] / np.where(rho == 0, 1, rho), -1, 1)),
    )
    lamc = np.where(
        rho == 0.0,
        0.0,
        np.arctan2(x * sinc, rho * P["cosc0"] * cosc - y * P["sinc0"] * sinc),
    )
    return _gauss_inv(lamc, chi, P)


# ---------------------------------------------------------------------------
# eqearth — Equal Earth (Šavrič, Patterson & Jenny 2018), ellipsoidal via
# authalic latitude.  KATs K11/K12 (FORCE_OVER) —
# /root/reference/src/proj.rs:1675-1700.
# ---------------------------------------------------------------------------
_EQE_A1 = 1.340264
_EQE_A2 = -0.081106
_EQE_A3 = 0.000893
_EQE_A4 = 0.003796
_EQE_M = np.sqrt(3.0) / 2.0


def eqearth_setup(params, a, es):
    e = np.sqrt(es)
    one_es = 1.0 - es
    qp = float(_qsfn(1.0, e, one_es)) if es > 0 else 2.0
    rqda = np.sqrt(0.5 * qp) if es > 0 else 1.0
    return {"e": e, "es": es, "one_es": one_es, "qp": qp, "rqda": float(rqda)}


def _eqearth_theta_poly(theta):
    t2 = theta * theta
    t6 = t2 * t2 * t2
    y = theta * (_EQE_A1 + _EQE_A2 * t2 + t6 * (_EQE_A3 + _EQE_A4 * t2))
    dy = _EQE_A1 + 3.0 * _EQE_A2 * t2 + t6 * (7.0 * _EQE_A3 + 9.0 * _EQE_A4 * t2)
    return y, dy


def eqearth_fwd(lam, phi, P):
    if P["es"] > 0:
        q = _qsfn(fsin(phi), P["e"], P["one_es"])
        beta = farcsin(np.clip(q / P["qp"], -1.0, 1.0))
    else:
        beta = phi
    theta = farcsin(np.clip(_EQE_M * fsin(beta), -1.0, 1.0))
    y, dy = _eqearth_theta_poly(theta)
    x = P["rqda"] * lam * fcos(theta) / (_EQE_M * dy)
    return x, P["rqda"] * y


def eqearth_inv(x, y, P):
    yr = np.asarray(y, dtype=np.float64) / P["rqda"]
    theta = np.array(yr, copy=True)
    live = np.ones(theta.shape, dtype=bool)
    for _ in range(12):
        f, df = _eqearth_theta_poly(theta)
        dtheta = (yr - f) / df
        theta, live = _advance(theta, theta + dtheta, dtheta, live, 1e-14)
        if not live.any():
            break
    _, dy = _eqearth_theta_poly(theta)
    lam = _EQE_M * np.asarray(x) * dy / (P["rqda"] * fcos(theta))
    beta = farcsin(np.clip(fsin(theta) / _EQE_M, -1.0, 1.0))
    if P["es"] > 0:
        q = P["qp"] * fsin(beta)
        phi = _authlat_inv(q, P["e"], P["one_es"])
    else:
        phi = beta
    return lam, phi


# ---------------------------------------------------------------------------
# aea — Albers Equal Area (Snyder ch. 14).  EPSG:3309 (NAD27/California
# Albers) KAT at /root/reference/README.md:181-190.
# ---------------------------------------------------------------------------
def aea_setup(params, a, es):
    e = np.sqrt(es)
    one_es = 1.0 - es
    phi1 = np.radians(float(params.get("lat_1", 0.0)))
    phi2 = np.radians(float(params.get("lat_2", params.get("lat_1", 0.0))))
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    sinphi = fsin(phi1)
    cosphi = fcos(phi1)
    secant = abs(phi1 - phi2) >= 1e-10
    if es > 0:
        m1 = _msfn(sinphi, cosphi, es)
        ml1 = _qsfn(sinphi, e, one_es)
        if secant:
            sinphi2 = fsin(phi2)
            m2 = _msfn(sinphi2, fcos(phi2), es)
            ml2 = _qsfn(sinphi2, e, one_es)
            n = (m1 * m1 - m2 * m2) / (ml2 - ml1)
        else:
            n = sinphi
        c = m1 * m1 + n * ml1
        dd = 1.0 / n
        rho0 = dd * np.sqrt(c - n * _qsfn(fsin(phi0), e, one_es))
    else:
        if secant:
            n = 0.5 * (sinphi + fsin(phi2))
        else:
            n = sinphi
        c = cosphi * cosphi + 2.0 * n * sinphi
        dd = 1.0 / n
        rho0 = dd * np.sqrt(c - 2.0 * n * fsin(phi0))
    return {
        "e": e,
        "es": es,
        "one_es": one_es,
        "n": float(n),
        "c": float(c),
        "dd": float(dd),
        "rho0": float(rho0),
    }


def aea_fwd(lam, phi, P):
    n = P["n"]
    if P["es"] > 0:
        rho = P["dd"] * np.sqrt(P["c"] - n * _qsfn(fsin(phi), P["e"], P["one_es"]))
    else:
        rho = P["dd"] * np.sqrt(P["c"] - 2.0 * n * fsin(phi))
    theta = n * lam
    return rho * fsin(theta), P["rho0"] - rho * fcos(theta)


def aea_inv(x, y, P):
    n = P["n"]
    x = np.asarray(x, dtype=np.float64)
    y = P["rho0"] - np.asarray(y, dtype=np.float64)
    rho = np.hypot(x, y)
    if n < 0.0:
        rho = -rho
        x = -x
        y = -y
    lam = np.arctan2(x, y) / n
    rr = rho / P["dd"]
    if P["es"] > 0:
        q = (P["c"] - rr * rr) / n
        phi = _authlat_inv(q, P["e"], P["one_es"])
    else:
        phi = farcsin(np.clip((P["c"] - rr * rr) / (2.0 * n), -1.0, 1.0))
    return lam, phi


# ---------------------------------------------------------------------------
# laea — Lambert Azimuthal Equal Area, oblique ellipsoidal (Snyder ch. 24);
# backs EPSG:3035, whose area-of-use metadata the reference tests
# (/root/reference/src/proj.rs:1975-1985).
# ---------------------------------------------------------------------------
def laea_setup(params, a, es):
    e = np.sqrt(es)
    one_es = 1.0 - es
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    qp = float(_qsfn(1.0, e, one_es)) if es > 0 else 2.0
    rq = np.sqrt(0.5 * qp)
    sinphi = fsin(phi0)
    sinb1 = float(_qsfn(sinphi, e, one_es)) / qp if es > 0 else sinphi
    cosb1 = np.sqrt(1.0 - sinb1 * sinb1)
    if abs(cosb1) < 1e-12:
        dd = 1.0
    else:
        dd = fcos(phi0) / (np.sqrt(1.0 - es * sinphi * sinphi) * rq * cosb1)
    return {
        "e": e,
        "es": es,
        "one_es": one_es,
        "qp": qp,
        "rq": float(rq),
        "sinb1": float(sinb1),
        "cosb1": float(cosb1),
        "dd": float(dd),
        "xmf": float(rq * dd),
        "ymf": float(rq / dd),
    }


def laea_fwd(lam, phi, P):
    if P["es"] > 0:
        q = _qsfn(fsin(phi), P["e"], P["one_es"])
        sinb = q / P["qp"]
    else:
        sinb = fsin(phi)
    sinb = np.clip(sinb, -1.0, 1.0)
    cosb = np.sqrt(1.0 - sinb * sinb)
    coslam = fcos(lam)
    b = 1.0 + P["sinb1"] * sinb + P["cosb1"] * cosb * coslam
    b = np.sqrt(2.0 / np.maximum(b, 1e-300))
    x = P["xmf"] * b * cosb * fsin(lam)
    y = P["ymf"] * b * (P["cosb1"] * sinb - P["sinb1"] * cosb * coslam)
    return x, y


def laea_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64) / P["dd"]
    y = np.asarray(y, dtype=np.float64) * P["dd"]
    rho = np.hypot(x, y)
    ce = 2.0 * farcsin(np.clip(0.5 * rho / P["rq"], -1.0, 1.0))
    sce = fsin(ce)
    cce = fcos(ce)
    sinb = np.where(
        rho == 0.0,
        P["sinb1"],
        cce * P["sinb1"] + y * sce * P["cosb1"] / np.where(rho == 0, 1, rho),
    )
    lam = np.where(
        rho == 0.0,
        0.0,
        np.arctan2(x * sce, rho * P["cosb1"] * cce - y * P["sinb1"] * sce),
    )
    if P["es"] > 0:
        phi = _authlat_inv(P["qp"] * sinb, P["e"], P["one_es"])
    else:
        phi = farcsin(np.clip(sinb, -1.0, 1.0))
    return lam, phi


# ---------------------------------------------------------------------------
# geos — geostationary satellite view (needed only for the reference's
# error-semantics tests, /root/reference/src/proj.rs:1905-1944; the
# visibility check is what raises "Invalid coordinate").
# ---------------------------------------------------------------------------
def geos_setup(params, a, es):
    return {"es": es, "h": float(params["h"]), "one_es": 1.0 - es}


def geos_fwd(lam, phi, P):
    # normalized: radii in units of a
    radius_p = np.sqrt(P["one_es"])
    radius_p2 = P["one_es"]
    radius_g_1 = P["_h_over_a"]
    radius_g = 1.0 + radius_g_1
    phi_c = np.arctan(radius_p2 * ftan(phi))
    r = radius_p / np.hypot(radius_p * fcos(phi_c), fsin(phi_c))
    vx = r * fcos(lam) * fcos(phi_c)
    vy = r * fsin(lam) * fcos(phi_c)
    vz = r * fsin(phi_c)
    vis = ((radius_g - vx) * vx - vy * vy - vz * vz / radius_p2) >= 0.0
    tmp = radius_g - vx
    x = radius_g_1 * np.arctan(vy / np.hypot(vz, tmp))
    y = radius_g_1 * np.arctan(vz / tmp)
    x = np.where(vis, x, np.nan)
    y = np.where(vis, y, np.nan)
    return x, y


def geos_inv(x, y, P):
    # Inverse of the CGMS "normalized geostationary projection"
    # (LRIT/HRIT Global Specification 2.6 §4.4; same geometry as the
    # forward above): intersect the satellite view ray with the
    # normalized ellipsoid u^2 + v^2 + w^2/(1-es) = 1.  The scan-angle
    # pair recovers the ray direction, the nearer quadratic root is
    # the visible surface point; rays missing the ellipsoid (negative
    # discriminant) are invalid -> NaN (maskable error).
    radius_p2 = P["one_es"]
    radius_g_1 = P["_h_over_a"]
    radius_g = 1.0 + radius_g_1
    Vz = ftan(np.asarray(y, dtype=np.float64) / radius_g_1)
    Vy = ftan(np.asarray(x, dtype=np.float64) / radius_g_1) * np.hypot(1.0, Vz)
    qa = 1.0 + Vy * Vy + (Vz * Vz) / radius_p2
    det = radius_g * radius_g - qa * (radius_g * radius_g - 1.0)
    k = (radius_g - np.sqrt(det)) / qa  # nearer root = visible side
    vx = radius_g - k
    vy = k * Vy
    vz = k * Vz
    lam = np.arctan2(vy, vx)
    phi = np.arctan((vz / np.hypot(vx, vy)) / radius_p2)
    bad = ~(det >= 0.0)
    lam = np.where(bad, np.nan, lam)
    phi = np.where(bad, np.nan, phi)
    return lam, phi


# ---------------------------------------------------------------------------
# cart + helmert — geodetic <-> ECEF and 7-parameter datum shift
# (EPSG 9606 position-vector convention, the meaning of +towgs84=...;
# exercised through the stereo70/OSGB36 pipelines,
# /root/reference/src/proj.rs:1819-1863).
# Units here are METERS (not normalized): the step layer treats cart
# specially.
# ---------------------------------------------------------------------------
def geodetic_to_ecef(lam, phi, a, es, h=0.0):
    sinphi = fsin(phi)
    cosphi = fcos(phi)
    N = a / np.sqrt(1.0 - es * sinphi * sinphi)
    X = (N + h) * cosphi * fcos(lam)
    Y = (N + h) * cosphi * fsin(lam)
    Z = (N * (1.0 - es) + h) * sinphi
    return X, Y, Z


def ecef_to_geodetic(X, Y, Z, a, es):
    lam = np.arctan2(Y, X)
    p = np.hypot(X, Y)
    phi = np.arctan2(Z, p * (1.0 - es))
    for _ in range(10):
        sinphi = fsin(phi)
        N = a / np.sqrt(1.0 - es * sinphi * sinphi)
        phi = np.arctan2(Z + es * N * sinphi, p)
    return lam, phi


def helmert_params(towgs84):
    """towgs84 3- or 7-parameter list -> dict (rotations arcsec->rad, ppm)."""
    t = list(map(float, towgs84)) + [0.0] * 7
    arcsec = np.pi / (180.0 * 3600.0)
    return {
        "tx": t[0],
        "ty": t[1],
        "tz": t[2],
        "rx": t[3] * arcsec,
        "ry": t[4] * arcsec,
        "rz": t[5] * arcsec,
        "s": 1.0 + t[6] * 1e-6,
    }


def _pv_rot_matrix(H):
    """Exact position-vector rotation matrix (transpose of the exact
    coordinate-frame matrix; reduces to I + antisym(r) for small angles).
    libproj uses the exact trigonometric matrix unless +approx is set."""
    rx, ry, rz = H["rx"], H["ry"], H["rz"]
    cx, sx = fcos(rx), fsin(rx)
    cy, sy = fcos(ry), fsin(ry)
    cz, sz = fcos(rz), fsin(rz)
    # coordinate-frame exact matrix
    M = np.array(
        [
            [cy * cz, cx * sz + sx * sy * cz, sx * sz - cx * sy * cz],
            [-cy * sz, cx * cz - sx * sy * sz, sx * cz + cx * sy * sz],
            [sy, -sx * cy, cx * cy],
        ]
    )
    return M.T  # position-vector convention


def helmert_fwd(X, Y, Z, H):
    """Position-vector 7-param transform: local datum -> WGS84."""
    s = H["s"]
    R = _pv_rot_matrix(H)
    Xo = H["tx"] + s * (R[0, 0] * X + R[0, 1] * Y + R[0, 2] * Z)
    Yo = H["ty"] + s * (R[1, 0] * X + R[1, 1] * Y + R[1, 2] * Z)
    Zo = H["tz"] + s * (R[2, 0] * X + R[2, 1] * Y + R[2, 2] * Z)
    return Xo, Yo, Zo


def helmert_inv(X, Y, Z, H):
    """Exact inverse of helmert_fwd (rotation matrix is orthogonal)."""
    s = H["s"]
    R = _pv_rot_matrix(H)  # inverse rotation = transpose
    Xs = (X - H["tx"]) / s
    Ys = (Y - H["ty"]) / s
    Zs = (Z - H["tz"]) / s
    Xo = R[0, 0] * Xs + R[1, 0] * Ys + R[2, 0] * Zs
    Yo = R[0, 1] * Xs + R[1, 1] * Ys + R[2, 1] * Zs
    Zo = R[0, 2] * Xs + R[1, 2] * Ys + R[2, 2] * Zs
    return Xo, Yo, Zo


# ---------------------------------------------------------------------------
# eqc — Equidistant Cylindrical / Plate Carrée (PROJ eqc semantics:
# spherical formulas on the semi-major axis regardless of ellipsoid;
# EPSG:4087 uses it as "World Equidistant Cylindrical")
# ---------------------------------------------------------------------------
def eqc_setup(params, a, es):
    phits = np.radians(float(params.get("lat_ts", 0.0)))
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    return {"rc": float(fcos(phits)), "phi0": float(phi0)}


def eqc_fwd(lam, phi, P):
    return P["rc"] * lam, phi - P["phi0"]


def eqc_inv(x, y, P):
    return x / P["rc"], y + P["phi0"]


# ---------------------------------------------------------------------------
# cea — (Lambert) Cylindrical Equal Area, ellipsoidal via authalic
# latitude (Snyder ch. 10; EPSG method 9835; EPSG:6933 EASE-Grid 2.0
# uses +lat_ts=30 on WGS84)
# ---------------------------------------------------------------------------
def cea_setup(params, a, es):
    e = np.sqrt(es)
    one_es = 1.0 - es
    phits = np.radians(float(params.get("lat_ts", 0.0)))
    if es > 0.0:
        st = fsin(phits)
        k0 = float(fcos(phits) / np.sqrt(1.0 - es * st * st))
        qp = float(_qsfn(np.array(1.0), e, one_es))
    else:
        k0 = float(fcos(phits))
        qp = 2.0
    return {"e": e, "es": es, "one_es": one_es, "k0": k0, "qp": qp}


def cea_fwd(lam, phi, P):
    x = P["k0"] * lam
    if P["es"] > 0.0:
        y = 0.5 * _qsfn(fsin(phi), P["e"], P["one_es"]) / P["k0"]
    else:
        y = fsin(phi) / P["k0"]
    return x, y


def cea_inv(x, y, P):
    lam = x / P["k0"]
    if P["es"] > 0.0:
        q = 2.0 * np.asarray(y, dtype=np.float64) * P["k0"]
        phi = _authlat_inv(q, P["e"], P["one_es"])
    else:
        phi = farcsin(np.clip(np.asarray(y, dtype=np.float64) * P["k0"], -1.0, 1.0))
    return lam, phi


# ---------------------------------------------------------------------------
# moll — Mollweide, spherical (Snyder ch. 31): solve
# 2*theta + sin(2*theta) = pi*sin(phi) by Newton, then
# x = (2*sqrt(2)/pi)*lam*cos(theta), y = sqrt(2)*sin(theta)
# ---------------------------------------------------------------------------
_MOLL_CX = 2.0 * np.sqrt(2.0) / np.pi
_MOLL_CY = np.sqrt(2.0)


def moll_setup(params, a, es):
    # spherical formulas on the semi-major axis (PROJ moll behavior)
    return {}


def _moll_theta(phi):
    k = np.pi * fsin(phi)
    theta = np.asarray(phi, dtype=np.float64).copy()
    live = np.ones(theta.shape, dtype=bool)
    for _ in range(12):
        denom = 2.0 + 2.0 * fcos(2.0 * theta)
        # at the poles denom -> 0 and theta -> phi = +-pi/2 exactly
        step = np.where(
            np.abs(denom) > 1e-14,
            (2.0 * theta + fsin(2.0 * theta) - k) / np.maximum(denom, 1e-14),
            0.0,
        )
        theta, live = _advance(theta, theta - step, step, live, 1e-14)
        if not live.any():
            break
    return theta


def moll_fwd(lam, phi, P):
    theta = _moll_theta(phi)
    return _MOLL_CX * lam * fcos(theta), _MOLL_CY * fsin(theta)


def moll_inv(x, y, P):
    theta = farcsin(np.clip(np.asarray(y, dtype=np.float64) / _MOLL_CY, -1.0, 1.0))
    phi = farcsin(np.clip((2.0 * theta + fsin(2.0 * theta)) / np.pi, -1.0, 1.0))
    ct = fcos(theta)
    lam = np.where(np.abs(ct) > 1e-14,
                   np.asarray(x, dtype=np.float64) / (_MOLL_CX * np.maximum(ct, 1e-14)),
                   0.0)
    return lam, phi


# ---------------------------------------------------------------------------
# stere — Stereographic (Snyder ch. 21; EPSG methods 9810 "Polar
# Stereographic (variant A)" and 9829 "(variant B)").  Polar aspects
# via the isometric-latitude function tsfn; oblique/equatorial via
# conformal latitude chi (Snyder 21-27..21-39).  Covers EPSG:3413/3976
# (NSIDC sea-ice grids), EPSG:3031 (Antarctic), EPSG:5041/5042 (UPS).
# ---------------------------------------------------------------------------
_STERE_EPS = 1e-10


def _ssfn(phi, sinphi, e):
    esp = e * sinphi
    return ftan(0.5 * (HALFPI + phi)) * np.power(
        (1.0 - esp) / (1.0 + esp), 0.5 * e)


def stere_setup(params, a, es):
    e = float(np.sqrt(es))
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    k0 = float(params.get("k", params.get("k_0", 1.0)))
    P = {"e": e, "es": es}
    if abs(abs(phi0) - HALFPI) < _STERE_EPS:
        P["mode"] = "n_pole" if phi0 > 0.0 else "s_pole"
        if "lat_ts" in params:
            phits = abs(np.radians(float(params["lat_ts"])))
        else:
            phits = HALFPI
        if abs(phits - HALFPI) < _STERE_EPS:
            # variant A: scale pinned by k0 at the pole
            akm1 = 2.0 * k0 / np.sqrt(
                (1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
        else:
            # variant B: true scale at lat_ts
            st = float(fsin(np.array(phits)))
            akm1 = float(
                fcos(np.array(phits))
                / _tsfn(np.array(phits), np.array(st), e))
            akm1 /= np.sqrt(1.0 - (e * st) ** 2)
        P["akm1"] = float(akm1)
    else:
        sinphi0 = float(fsin(np.array(phi0)))
        X1 = 2.0 * np.arctan(float(_ssfn(np.array(phi0),
                                         np.array(sinphi0), e))) - HALFPI
        P["mode"] = "obliq" if abs(phi0) > _STERE_EPS else "equit"
        P["sinX1"] = float(np.sin(X1))
        P["cosX1"] = float(np.cos(X1))
        P["akm1"] = float(
            2.0 * k0 * np.cos(phi0) / np.sqrt(1.0 - es * sinphi0 ** 2))
    return P


def stere_fwd(lam, phi, P):
    e = P["e"]
    sinlam, coslam = fsin(lam), fcos(lam)
    if P["mode"] in ("n_pole", "s_pole"):
        if P["mode"] == "s_pole":
            phi = -np.asarray(phi, dtype=np.float64)
            coslam = -coslam
        r = P["akm1"] * _tsfn(phi, fsin(phi), e)
        return r * sinlam, -r * coslam
    X = 2.0 * np.arctan(_ssfn(phi, fsin(phi), e)) - HALFPI
    sinX, cosX = fsin(X), fcos(X)
    sinX1, cosX1 = P["sinX1"], P["cosX1"]
    A = P["akm1"] / (cosX1 * (1.0 + sinX1 * sinX + cosX1 * cosX * coslam))
    return A * cosX * sinlam, A * (cosX1 * sinX - sinX1 * cosX * coslam)


def stere_inv(x, y, P):
    e = P["e"]
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    rho = np.hypot(x, y)
    if P["mode"] in ("n_pole", "s_pole"):
        ts = rho / P["akm1"]
        phi = _phi2(ts, e)
        if P["mode"] == "n_pole":
            return np.arctan2(x, -y), phi
        return np.arctan2(x, y), -phi
    sinX1, cosX1 = P["sinX1"], P["cosX1"]
    ce = 2.0 * np.arctan2(rho * cosX1, P["akm1"])
    cosce, since = np.cos(ce), np.sin(ce)
    safe_rho = np.where(rho > 1e-12, rho, 1.0)
    X = farcsin(np.clip(
        np.where(rho > 1e-12,
                 cosce * sinX1 + y * since * cosX1 / safe_rho,
                 cosce * sinX1),
        -1.0, 1.0))
    lam = np.arctan2(x * since, rho * cosX1 * cosce - y * sinX1 * since)
    phi = np.arctan(_conformal_lat_tan_inv(np.tan(X), e))
    return lam, phi


# ---------------------------------------------------------------------------
# krovak — Krovak oblique conformal conic (EPSG method 9819; S-JTSK,
# Czech/Slovak national grid, EPSG:5513/5514).  Gauss conformal sphere
# at the projection centre, rotation to the oblique pole, then a
# conformal conic on the pseudo standard parallel (78.5 deg, fixed by
# the method).  PROJ's axis convention: returned (x, y) are
# (-westing, -southing) so 'Krovak East North' coordinates are the
# familiar negative pairs.
# ---------------------------------------------------------------------------
_KROVAK_PHI_S = np.radians(78.5)


def krovak_setup(params, a, es):
    e = float(np.sqrt(es))
    phi0 = np.radians(float(params.get("lat_0", 49.5)))
    alpha_c = np.radians(float(params.get("alpha", 30.28813972222222)))
    k0 = float(params.get("k", params.get("k_0", 0.9999)))
    sp0 = np.sin(phi0)
    cp0 = np.cos(phi0)
    B = np.sqrt(1.0 + es * cp0 ** 4 / (1.0 - es))
    gamma0 = np.arcsin(sp0 / B)
    t0 = (
        np.tan(0.25 * np.pi + 0.5 * gamma0)
        * ((1.0 + e * sp0) / (1.0 - e * sp0)) ** (0.5 * e * B)
        / np.tan(0.25 * np.pi + 0.5 * phi0) ** B
    )
    n = np.sin(_KROVAK_PHI_S)
    # A/a: radius of the conformal sphere at phi0, in units of a
    A_over_a = np.sqrt(1.0 - es) / (1.0 - es * sp0 * sp0)
    r0 = k0 * A_over_a / np.tan(_KROVAK_PHI_S)
    return {
        "e": e, "B": float(B), "t0": float(t0), "n": float(n),
        "r0": float(r0), "alpha_c": float(alpha_c),
        "tan_ps": float(np.tan(0.25 * np.pi + 0.5 * _KROVAK_PHI_S)),
    }


def _krovak_gauss_lat(phi, P):
    """Gauss-sphere (conformal) latitude U of geodetic phi."""
    e, B = P["e"], P["B"]
    esp = e * fsin(phi)
    base = ftan(0.25 * np.pi + 0.5 * phi) * np.power(
        (1.0 - esp) / (1.0 + esp), 0.5 * e)
    return 2.0 * (np.arctan(P["t0"] * np.power(base, B)) - 0.25 * np.pi)


def krovak_fwd(lam, phi, P):
    U = _krovak_gauss_lat(phi, P)
    V = -P["B"] * np.asarray(lam, dtype=np.float64)  # positive westward
    sa, ca = np.sin(P["alpha_c"]), np.cos(P["alpha_c"])
    sinT = ca * fsin(U) + sa * fcos(U) * fcos(V)
    T = farcsin(np.clip(sinT, -1.0, 1.0))
    D = farcsin(np.clip(fcos(U) * fsin(V) / np.maximum(fcos(T), 1e-15),
                        -1.0, 1.0))
    theta = P["n"] * D
    r = P["r0"] * np.power(P["tan_ps"], P["n"]) / np.power(
        ftan(0.25 * np.pi + 0.5 * T), P["n"])
    southing = r * fcos(theta)
    westing = r * fsin(theta)
    return -westing, -southing


def krovak_inv(x, y, P):
    westing = -np.asarray(x, dtype=np.float64)
    southing = -np.asarray(y, dtype=np.float64)
    r = np.hypot(westing, southing)
    theta = np.arctan2(westing, southing)
    D = theta / P["n"]
    T = 2.0 * (np.arctan(np.power(
        P["r0"] * np.power(P["tan_ps"], P["n"]) / np.maximum(r, 1e-15),
        1.0 / P["n"])) - 0.25 * np.pi)
    sa, ca = np.sin(P["alpha_c"]), np.cos(P["alpha_c"])
    sinU = ca * np.sin(T) - sa * np.cos(T) * np.cos(D)
    U = farcsin(np.clip(sinU, -1.0, 1.0))
    V = farcsin(np.clip(np.cos(T) * np.sin(D) / np.maximum(np.cos(U), 1e-15),
                        -1.0, 1.0))
    lam = -V / P["B"]
    # invert the gauss latitude by fixed point on phi
    e, B = P["e"], P["B"]
    inner = np.power(np.tan(0.5 * U + 0.25 * np.pi) / P["t0"], 1.0 / B)
    phi = U
    live = np.ones(np.shape(phi), dtype=bool)
    for _ in range(15):
        esp = e * fsin(phi)
        phi_new = 2.0 * (np.arctan(
            inner * np.power((1.0 + esp) / (1.0 - esp), 0.5 * e)
        ) - 0.25 * np.pi)
        phi, live = _advance(phi, phi_new, phi_new - phi, live, 1e-14)
        if not live.any():
            break
    return lam, phi


# ---------------------------------------------------------------------------
# sinu — Sinusoidal (Snyder ch. 30), ellipsoidal via the meridian-arc
# series: y = M(phi), x = lam*cos(phi)/sqrt(1 - es*sin^2 phi).
# Equal-area; the MODIS/ESRI:54008 world grid projection.
# ---------------------------------------------------------------------------
def sinu_setup(params, a, es):
    P = {"es": es}
    if es > 0.0:
        P["en"] = _enfn(es)
    return P


def sinu_fwd(lam, phi, P):
    s, c = fsin(phi), fcos(phi)
    if P["es"] > 0.0:
        return lam * c / np.sqrt(1.0 - P["es"] * s * s), _mlfn(phi, s, c, P["en"])
    return lam * c, np.asarray(phi, dtype=np.float64)


def sinu_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if P["es"] > 0.0:
        phi = _inv_mlfn(y, P["es"], P["en"])
        s, c = fsin(phi), fcos(phi)
        lam = np.where(np.abs(c) > 1e-12,
                       x * np.sqrt(1.0 - P["es"] * s * s)
                       / np.where(np.abs(c) > 1e-12, c, 1.0),
                       0.0)
        return lam, phi
    c = fcos(y)
    lam = np.where(np.abs(c) > 1e-12,
                   x / np.where(np.abs(c) > 1e-12, c, 1.0), 0.0)
    return lam, y


# ---------------------------------------------------------------------------
# aeqd — Azimuthal Equidistant (EPSG method 9832 "Modified Azimuthal
# Equidistant" is the WKT mapping used by wkt.py; the geodesic-based
# form below also covers the generic EPSG 1125 variants; ESRI:54032
# World Azimuthal Equidistant).  Ellipsoidal form by construction:
# x = s*sin(az), y = s*cos(az) where (s, az) are the GEODESIC distance
# and forward azimuth from the projection centre (libproj computes the
# same via its geodesic module; we use the shared fixed-iteration
# Vincenty core in proj_spark.geodesy, which the q53 oracle validated
# against the published Flinders-Buninyong line).  The inverse is the
# geodesic DIRECT problem from the centre.  With f=0 (+R= spheres) the
# core degrades exactly to the great-circle closed form, matching
# PROJ's spherical aeqd branch.  Near-antipodal points (the Vincenty
# non-convergence region, ~0.5 deg around the centre's antipode) map
# to NaN — a maskable error, per the engine's error model.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# ortho — Orthographic (EPSG method 9840), full ellipsoidal form per
# EPSG Guidance Note 7-2: nu-scaled direction cosines plus the
# es*(nu0 sin phi0 - nu sin phi) cos phi0 northing correction.  The
# far hemisphere (cos c < 0 on the auxiliary sphere) is outside the
# projection's domain and maps to NaN, matching PROJ's error there.
# Verified against the GN7-2 worked example (55N 5E centre ->
# E -189011.711 / N -128640.567) in tests/test_kernels.py.
# Inverse: spherical closed-form seed + fixed 8-step 2D Newton with a
# finite-difference Jacobian (deterministic, no data-dependent exit).
# ---------------------------------------------------------------------------
def ortho_setup(params, a, es):
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    sp0, cp0 = np.sin(phi0), np.cos(phi0)
    nu0 = 1.0 / np.sqrt(1.0 - es * sp0 * sp0)
    return {"es": es, "phi0": float(phi0), "sp0": float(sp0),
            "cp0": float(cp0), "nu0": float(nu0)}


def ortho_fwd(lam, phi, P):
    es, sp0, cp0 = P["es"], P["sp0"], P["cp0"]
    sp, cp = fsin(phi), fcos(phi)
    sl, cl = fsin(lam), fcos(lam)
    nu = 1.0 / np.sqrt(1.0 - es * sp * sp)
    x = nu * cp * sl
    y = nu * (sp * cp0 - cp * sp0 * cl) + es * (P["nu0"] * sp0 - nu * sp) * cp0
    cosc = sp0 * sp + cp0 * cp * cl
    far = cosc < -1e-12
    return np.where(far, np.nan, x), np.where(far, np.nan, y)


def ortho_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    sp0, cp0 = P["sp0"], P["cp0"]
    # spherical closed-form seed
    rho = np.hypot(x, y)
    c = farcsin(np.clip(rho, -1.0, 1.0))
    sinc, cosc = np.sin(c), np.cos(c)
    safe_rho = np.where(rho > 1e-12, rho, 1.0)
    phi = np.where(
        rho > 1e-12,
        farcsin(np.clip(cosc * sp0 + y * sinc * cp0 / safe_rho, -1.0, 1.0)),
        P["phi0"])
    lam = np.where(
        rho > 1e-12,
        np.arctan2(x * sinc, safe_rho * cp0 * cosc - y * sp0 * sinc),
        0.0)
    # fixed-count 2D Newton against the ellipsoidal forward
    h = 1e-8
    for _ in range(8):
        fx, fy = ortho_fwd(lam, phi, P)
        rx, ry = fx - x, fy - y
        fxl, fyl = ortho_fwd(lam + h, phi, P)
        fxp, fyp = ortho_fwd(lam, phi + h, P)
        j11 = (fxl - fx) / h
        j12 = (fxp - fx) / h
        j21 = (fyl - fy) / h
        j22 = (fyp - fy) / h
        det = j11 * j22 - j12 * j21
        det = np.where(np.abs(det) > 1e-20, det, 1.0)
        dlam = (j22 * rx - j12 * ry) / det
        dphi = (-j21 * rx + j11 * ry) / det
        # damping: the seed is within ~es of the solution, so genuine
        # steps are tiny; the clip stops a near-limb overshoot from
        # crossing into the far-side NaN domain and destroying the row
        dlam = np.clip(np.nan_to_num(dlam, nan=0.0), -0.05, 0.05)
        dphi = np.clip(np.nan_to_num(dphi, nan=0.0), -0.05, 0.05)
        lam = lam - dlam
        phi = np.clip(phi - dphi, -HALFPI + 1e-12, HALFPI - 1e-12)
    # residual acceptance: near the limb the Jacobian degenerates and
    # Newton may not land; report those rows as domain errors (NaN)
    # rather than a silently-wrong coordinate.  1e-9 units of a ~ 6 mm.
    fx, fy = ortho_fwd(lam, phi, P)
    bad = ~(np.abs(fx - x) + np.abs(fy - y) < 1e-9)
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


# ---------------------------------------------------------------------------
# gnom — Gnomonic (Snyder ch. 22), spherical as in PROJ (the ellipsoid
# parameter contributes only the radius; es is ignored by contract,
# matching PROJ's spherical-projection convention).  The projection's
# defining property — every great circle maps to a straight line — is
# the independent correctness gate (tests/test_kernels.py).  Domain is
# the open near hemisphere; cos c <= eps maps to NaN.
# ---------------------------------------------------------------------------
_GNOM_EPS = 1e-10


def gnom_setup(params, a, es):
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    return {"sp0": float(np.sin(phi0)), "cp0": float(np.cos(phi0)),
            "phi0": float(phi0)}


def gnom_fwd(lam, phi, P):
    sp0, cp0 = P["sp0"], P["cp0"]
    sp, cp = fsin(phi), fcos(phi)
    sl, cl = fsin(lam), fcos(lam)
    cosc = sp0 * sp + cp0 * cp * cl
    bad = cosc <= _GNOM_EPS
    safe = np.where(bad, 1.0, cosc)
    x = cp * sl / safe
    y = (cp0 * sp - sp0 * cp * cl) / safe
    return np.where(bad, np.nan, x), np.where(bad, np.nan, y)


def gnom_inv(x, y, P):
    sp0, cp0 = P["sp0"], P["cp0"]
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    rho = np.hypot(x, y)
    c = np.arctan(rho)
    sinc, cosc = np.sin(c), np.cos(c)
    safe_rho = np.where(rho > 1e-12, rho, 1.0)
    phi = np.where(
        rho > 1e-12,
        farcsin(np.clip(cosc * sp0 + y * sinc * cp0 / safe_rho, -1.0, 1.0)),
        P["phi0"])
    lam = np.where(
        rho > 1e-12,
        np.arctan2(x * sinc, safe_rho * cp0 * cosc - y * sp0 * sinc),
        0.0)
    return lam, phi


# ---------------------------------------------------------------------------
# cass — Cassini-Soldner (EPSG method 9806; Snyder ch. 13 series).
# Defining property: x is the perpendicular geodesic distance to the
# central meridian, y the meridian arc to the foot point — the test
# suite checks exactly that against the independent Vincenty core
# (tests/test_kernels.py::test_cass_kernel_properties), plus the exact
# y = M(phi) - M(phi0) invariant on the meridian itself.  Series are
# valid within a few degrees of the central meridian (the projection's
# actual domain of use; national cadastral grids).
# ---------------------------------------------------------------------------
def cass_setup(params, a, es):
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    P = {"es": es, "phi0": float(phi0)}
    if es > 0.0:
        P["en"] = _enfn(es)
        P["m0"] = float(_mlfn(np.array(phi0), np.sin(phi0), np.cos(phi0),
                              P["en"]))
    return P


def cass_fwd(lam, phi, P):
    es = P["es"]
    s, c = fsin(phi), fcos(phi)
    if es == 0.0:
        x = farcsin(np.clip(c * fsin(lam), -1.0, 1.0))
        y = np.arctan2(ftan(phi), fcos(lam)) - P["phi0"]
        return x, y
    n = 1.0 / np.sqrt(1.0 - es * s * s)
    tn = ftan(phi)
    T = tn * tn
    A = np.asarray(lam, dtype=np.float64) * c
    C = es * c * c / (1.0 - es)
    A2 = A * A
    x = n * (A - T * A * A2 / 6.0
             - (8.0 - T + 8.0 * C) * T * A * A2 * A2 / 120.0)
    y = (_mlfn(phi, s, c, P["en"]) - P["m0"]
         + n * tn * (A2 / 2.0 + (5.0 - T + 6.0 * C) * A2 * A2 / 24.0))
    return x, y


def cass_inv(x, y, P):
    es = P["es"]
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if es == 0.0:
        D = y + P["phi0"]
        phi = farcsin(np.clip(np.sin(D) * np.cos(x), -1.0, 1.0))
        lam = np.arctan2(np.tan(x), np.cos(D))
        return lam, phi
    phi1 = _inv_mlfn(P["m0"] + y, es, P["en"])
    s1, c1 = fsin(phi1), fcos(phi1)
    tn1 = ftan(phi1)
    T1 = tn1 * tn1
    N1 = 1.0 / np.sqrt(1.0 - es * s1 * s1)
    R1 = (1.0 - es) * N1 * N1 * N1
    D = x / N1
    D2 = D * D
    phi = phi1 - (N1 * tn1 / R1) * (D2 / 2.0
                                    - (1.0 + 3.0 * T1) * D2 * D2 / 24.0)
    lam = (D - T1 * D * D2 / 3.0
           + (1.0 + 3.0 * T1) * T1 * D * D2 * D2 / 15.0) / np.where(
               np.abs(c1) > 1e-15, c1, 1.0)
    return lam, phi


def aeqd_setup(params, a, es):
    return {
        "a": a,
        "f": 1.0 - float(np.sqrt(1.0 - es)),
        "phi0": np.radians(float(params.get("lat_0", 0.0))),
    }


def aeqd_fwd(lam, phi, P):
    s, az = _geodesy.inverse_core(lam, P["phi0"], phi, a=P["a"], f=P["f"])
    r = s / P["a"]
    return r * np.sin(az), r * np.cos(az)


def aeqd_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    s = np.hypot(x, y) * P["a"]
    az = np.arctan2(x, y)
    # outside the projection disc (geodesic distance past the antipode,
    # s > pi*a): domain error -> NaN, mirroring the forward path's
    # antipodal NaN contract (PROJ raises coord-domain there)
    bad = s > np.pi * P["a"]
    dlam, phi = _geodesy.direct_core(P["phi0"], az, np.where(bad, 0.0, s),
                                     a=P["a"], f=P["f"])
    # coincident-with-centre rows: direct() is exact there already
    # (sigma = 0 -> phi2 = phi0, dlam = 0), no special case needed
    return np.where(bad, np.nan, dlam), np.where(bad, np.nan, phi)


# ---------------------------------------------------------------------------
# omerc — Hotine Oblique Mercator (EPSG methods 9812 "variant A" /
# 9815 "variant B"), EPSG Guidance Note 7-2 formulas (Snyder PP-1395
# ch. 9 is the same development).  The projection of record for
# Malaysia RSO (EPSG:3375 Peninsular, variant A via +no_uoff;
# EPSG:29873 Borneo, variant B), Alaska zone 1, and — with
# alpha = gamma = 90 deg — the Swiss grids (PROJ's somerc; EPSG
# conversion 19950 "Swiss Oblique Mercator 1995" is method 9815 with
# a 90 deg azimuth, agreeing with the rigorous Swiss double
# projection below the millimetre inside its area of use).
#
# Centre longitude is +lonc (PROJ convention): the wrapper's lon_0
# reduction still runs (0 for omerc proper, lon_0 for somerc), so the
# kernel folds the derived natural-origin longitude lambda_0 minus
# that already-subtracted amount into "dlam0".
# ---------------------------------------------------------------------------
def omerc_setup(params, a, es):
    e = float(np.sqrt(es))
    one_es = 1.0 - es
    phic = np.radians(float(params.get("lat_0", 0.0)))
    lamc = np.radians(float(params.get("lonc", params.get("lon_0", 0.0))))
    alphac = np.radians(float(params.get("alpha", 0.0)))
    gammac = np.radians(float(params["gamma"])) if "gamma" in params \
        else alphac
    k0 = float(params.get("k", params.get("k_0", 1.0)))
    no_uoff = bool(params.get("no_uoff", params.get("no_off", False)))
    sp, cp = np.sin(phic), np.cos(phic)
    B = np.sqrt(1.0 + es * cp ** 4 / one_es)
    A_over_a = B * k0 * np.sqrt(one_es) / (1.0 - es * sp * sp)
    t0 = np.tan(0.25 * np.pi - 0.5 * phic) / (
        (1.0 - e * sp) / (1.0 + e * sp)) ** (0.5 * e)
    D = B * np.sqrt(one_es) / (cp * np.sqrt(1.0 - es * sp * sp))
    D2 = max(float(D * D), 1.0)
    sign = 1.0 if phic >= 0.0 else -1.0
    F = D + np.sqrt(D2 - 1.0) * sign
    H = F * t0 ** B
    G = 0.5 * (F - 1.0 / F)
    gamma0 = np.arcsin(np.clip(np.sin(alphac) / D, -1.0, 1.0))
    lam0 = lamc - np.arcsin(np.clip(G * np.tan(gamma0), -1.0, 1.0)) / B
    if no_uoff:
        uc = 0.0  # variant A: no centre offset along the initial line
    elif abs(abs(float(alphac)) - 0.5 * np.pi) < 1e-12:
        uc = float(A_over_a * (lamc - lam0))
    else:
        uc = float((A_over_a / B)
                   * np.arctan2(np.sqrt(D2 - 1.0), np.cos(alphac)) * sign)
    lam0_already = np.radians(float(params.get("lon_0", 0.0)))
    return {
        "e": e, "es": es, "B": float(B), "A": float(A_over_a),
        "H": float(H), "dlam0": float(lam0 - lam0_already),
        "cg": float(np.cos(gammac)), "sg": float(np.sin(gammac)),
        "cg0": float(np.cos(gamma0)), "sg0": float(np.sin(gamma0)),
        "uc": uc,
    }


def omerc_fwd(lam, phi, P):
    lam = adjlon(np.asarray(lam, dtype=np.float64) - P["dlam0"])
    t = _tsfn(phi, fsin(phi), P["e"])
    Q = P["H"] / np.power(np.maximum(t, 1e-300), P["B"])
    S = 0.5 * (Q - 1.0 / Q)
    T = 0.5 * (Q + 1.0 / Q)
    Bl = P["B"] * lam
    V = np.sin(Bl)
    U = (-V * P["cg0"] + S * P["sg0"]) / T
    v = P["A"] * np.log(
        np.maximum((1.0 - U) / (1.0 + U), 1e-300)) / (2.0 * P["B"])
    u = P["A"] * np.arctan2(S * P["cg0"] + V * P["sg0"],
                            np.cos(Bl)) / P["B"] - P["uc"]
    x = v * P["cg"] + u * P["sg"]
    y = u * P["cg"] - v * P["sg"]
    return x, y


def omerc_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    v = x * P["cg"] - y * P["sg"]
    u = y * P["cg"] + x * P["sg"] + P["uc"]
    Qp = np.exp(-P["B"] * v / P["A"])
    Sp = 0.5 * (Qp - 1.0 / Qp)
    Tp = 0.5 * (Qp + 1.0 / Qp)
    Bu = P["B"] * u / P["A"]
    Vp = np.sin(Bu)
    Up = (Vp * P["cg0"] + Sp * P["sg0"]) / Tp
    tp = np.power(
        P["H"] / np.sqrt(np.maximum((1.0 + Up) / (1.0 - Up), 1e-300)),
        1.0 / P["B"])
    phi = _phi2(tp, P["e"])
    lam = P["dlam0"] - np.arctan2(Sp * P["cg0"] - Vp * P["sg0"],
                                  np.cos(Bu)) / P["B"]
    return lam, phi


# ---------------------------------------------------------------------------
# robin — Robinson (spherical, table-defined; Robinson 1974, Snyder
# PP-1395 Table 39).  The projection IS its published 5-degree table:
# x = 0.8487 R PLEN(phi) lam, y = 1.3523 R PDFE(phi) sign(phi).
# Between nodes we interpolate with a natural cubic spline fitted to
# the published nodes at setup (deterministic tridiagonal solve) —
# node values are reproduced exactly; the same per-segment cubic
# coefficients are embedded as literals in the SQL oracle twin
# (oracle.sql_robin_fwd), so the q68 gate is value-exact.
# ---------------------------------------------------------------------------
_ROBIN_PLEN = np.array([
    1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600, 0.9427,
    0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597, 0.7186, 0.6732,
    0.6213, 0.5722, 0.5322,
])
_ROBIN_PDFE = np.array([
    0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720, 0.4340,
    0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903, 0.8435, 0.8936,
    0.9394, 0.9761, 1.0000,
])


def _nat_cubic_coeffs(ys: np.ndarray, h: float = 5.0):
    """Natural cubic spline through (i*h, ys[i]); returns per-segment
    (a, b, c, d) with value a + b z + c z^2 + d z^3, z in [0, h]."""
    n = len(ys) - 1
    rhs = np.zeros(n + 1)
    rhs[1:n] = 6.0 * (ys[2:] - 2.0 * ys[1:n] + ys[:n - 1]) / (h * h)
    # tridiagonal (1, 4, 1) system for second derivatives, natural ends
    lower = np.ones(n + 1)
    diag = np.full(n + 1, 4.0)
    diag[0] = diag[n] = 1.0
    m = np.zeros(n + 1)
    cp = np.zeros(n + 1)
    dp = np.zeros(n + 1)
    cp[0] = 0.0
    dp[0] = 0.0
    for i in range(1, n):
        denom = diag[i] - lower[i] * cp[i - 1]
        cp[i] = 1.0 / denom
        dp[i] = (rhs[i] - lower[i] * dp[i - 1]) / denom
    for i in range(n - 1, 0, -1):
        m[i] = dp[i] - cp[i] * m[i + 1]
    a = ys[:-1].copy()
    b = (ys[1:] - ys[:-1]) / h - h * (2.0 * m[:-1] + m[1:]) / 6.0
    c = m[:-1] / 2.0
    d = (m[1:] - m[:-1]) / (6.0 * h)
    return a, b, c, d


_ROBIN_FXC = 0.8487
_ROBIN_FYC = 1.3523


def robin_setup(params, a, es):
    pa, pb, pc, pd = _nat_cubic_coeffs(_ROBIN_PLEN)
    ya, yb, yc, yd = _nat_cubic_coeffs(_ROBIN_PDFE)
    return {"px": (pa, pb, pc, pd), "py": (ya, yb, yc, yd)}


def _robin_eval(coeffs, latd):
    i = np.minimum((latd / 5.0).astype(np.int64), 17)
    z = latd - i * 5.0
    a, b, c, d = coeffs
    return ((d[i] * z + c[i]) * z + b[i]) * z + a[i]


def _robin_eval_deriv(coeffs, latd):
    i = np.minimum((latd / 5.0).astype(np.int64), 17)
    z = latd - i * 5.0
    _, b, c, d = coeffs
    return (3.0 * d[i] * z + 2.0 * c[i]) * z + b[i]


def robin_fwd(lam, phi, P):
    phi = np.asarray(phi, dtype=np.float64)
    latd = np.minimum(np.degrees(np.abs(phi)), 90.0)
    plen = _robin_eval(P["px"], latd)
    pdfe = _robin_eval(P["py"], latd)
    x = _ROBIN_FXC * plen * np.asarray(lam, dtype=np.float64)
    y = _ROBIN_FYC * pdfe * np.sign(phi)
    return x, y


def robin_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    target = np.clip(np.abs(y) / _ROBIN_FYC, 0.0, 1.0)
    latd = np.clip(target * 90.0, 0.0, 90.0)  # near-linear init
    for _ in range(12):  # Newton on the monotone PDFE spline
        f = _robin_eval(P["py"], latd) - target
        fp = np.maximum(_robin_eval_deriv(P["py"], latd), 1e-8)
        latd = np.clip(latd - f / fp, 0.0, 90.0)
    plen = _robin_eval(P["px"], latd)
    lam = x / (_ROBIN_FXC * np.maximum(plen, 1e-12))
    phi = np.radians(latd) * np.sign(y)
    return lam, phi


# ---------------------------------------------------------------------------
# natearth — Natural Earth (Savric, Jenny, Patterson & Hurni 2011):
# spherical polynomial projection, the compromise world map used by
# naturalearthdata.com.  Published coefficients; Newton inverse on the
# odd y-polynomial (strictly increasing on [0, pi/2]).
# ---------------------------------------------------------------------------
_NE_X = (0.8707, -0.131979, -0.013791, 0.003971, -0.001529)  # 0,2,4,10,12
_NE_Y = (1.007226, 0.015085, -0.044475, 0.028874, -0.005916)  # 1,3,7,9,11


def natearth_setup(params, a, es):
    return {}


def _natearth_xfac(phi2):
    A = _NE_X
    phi4 = phi2 * phi2
    return (A[0] + phi2 * (A[1] + phi2 * A[2])
            + phi4 * phi4 * phi2 * (A[3] + phi2 * A[4]))


def _natearth_y(phi):
    B = _NE_Y
    phi2 = phi * phi
    phi6 = phi2 * phi2 * phi2
    return phi * (B[0] + phi2 * B[1]) + phi * phi6 * (
        B[2] + phi2 * (B[3] + phi2 * B[4]))


def _natearth_dy(phi):
    B = _NE_Y
    phi2 = phi * phi
    phi6 = phi2 * phi2 * phi2
    return (B[0] + 3.0 * phi2 * B[1]
            + phi6 * (7.0 * B[2] + phi2 * (9.0 * B[3] + 11.0 * phi2 * B[4])))


def natearth_fwd(lam, phi, P):
    phi = np.asarray(phi, dtype=np.float64)
    phi2 = phi * phi
    x = np.asarray(lam, dtype=np.float64) * _natearth_xfac(phi2)
    return x, _natearth_y(phi)


def natearth_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    phi = y.copy()
    for _ in range(10):
        phi = phi - (_natearth_y(phi) - y) / _natearth_dy(phi)
    lam = x / np.maximum(_natearth_xfac(phi * phi), 1e-12)
    return lam, phi


# ---------------------------------------------------------------------------
# bonne — Bonne (EPSG method 9827; Snyder PP-1395 ch. 19, ellipsoidal):
# equal-area pseudoconic.  rho = m1/sin(phi1) + M1 - M(phi); parallels
# are circular arcs about (0, m1/sin(phi1)); true scale along every
# parallel and the central meridian.
# ---------------------------------------------------------------------------
def bonne_setup(params, a, es):
    phi1 = np.radians(float(params["lat_1"]))
    if abs(float(np.sin(phi1))) < 1e-10:
        raise ProjKernelError("bonne: lat_1 may not be 0 (use sinu)")
    en = _enfn(es)
    s1, c1 = float(np.sin(phi1)), float(np.cos(phi1))
    m1 = c1 / np.sqrt(1.0 - es * s1 * s1)
    ml1 = float(_mlfn(phi1, s1, c1, en))
    return {"es": es, "en": en, "c0": float(m1 / s1 + ml1),
            "ml1": ml1, "sign": 1.0 if s1 >= 0 else -1.0}


def bonne_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    s, c = _fsincos(phi)
    rho = P["c0"] - _mlfn(phi, s, c, P["en"])
    m = c / np.sqrt(1.0 - P["es"] * s * s)
    T = np.where(np.abs(rho) > 1e-12, lam * m / np.where(
        np.abs(rho) > 1e-12, rho, 1.0), 0.0)
    x = rho * np.sin(T)
    # natural origin at (lat_1, lon_0): rho(phi1) = c0 - ml1, so
    # y = rho(phi1) - rho cos(T) is 0 there (PROJ's convention)
    y = (P["c0"] - P["ml1"]) - rho * np.cos(T)
    return x, y


def bonne_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    cy = (P["c0"] - P["ml1"]) - y
    rho = P["sign"] * np.hypot(x, cy)
    ml = P["c0"] - rho
    phi = _inv_mlfn(ml, P["es"], P["en"])
    s, c = _fsincos(phi)
    m = c / np.sqrt(1.0 - P["es"] * s * s)
    theta = np.arctan2(P["sign"] * x, P["sign"] * cy)
    lam = np.where(np.abs(m) > 1e-12,
                   rho * theta / np.where(np.abs(m) > 1e-12, m, 1.0), 0.0)
    return lam, phi


# ---------------------------------------------------------------------------
# eqdc — Equidistant Conic (EPSG method 1119; Snyder PP-1395 ch. 16,
# two standard parallels): n = (m1-m2)/(M2-M1), G = m1/n + M1,
# rho = G - M; true scale on both standard parallels and along every
# meridian (the "equidistant" property).
# ---------------------------------------------------------------------------
def eqdc_setup(params, a, es):
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    phi1 = np.radians(float(params["lat_1"]))
    phi2 = np.radians(float(params.get("lat_2", params["lat_1"])))
    en = _enfn(es)

    def _m(p):
        sp, cp = float(np.sin(p)), float(np.cos(p))
        return cp / np.sqrt(1.0 - es * sp * sp)

    def _M(p):
        return float(_mlfn(p, np.sin(p), np.cos(p), en))

    m1, m2 = _m(phi1), _m(phi2)
    M1, M2 = _M(phi1), _M(phi2)
    if abs(phi1 - phi2) < 1e-12:
        n = float(np.sin(phi1))  # one-parallel limit
    else:
        n = (m1 - m2) / (M2 - M1)
    if abs(n) < 1e-12:
        raise ProjKernelError("eqdc: standard parallels give n = 0")
    G = m1 / n + M1
    return {"es": es, "en": en, "n": float(n), "G": float(G),
            "rho0": float(G - _M(phi0))}


def eqdc_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    s, c = _fsincos(phi)
    rho = P["G"] - _mlfn(phi, s, c, P["en"])
    x = rho * np.sin(P["n"] * lam)
    y = P["rho0"] - rho * np.cos(P["n"] * lam)
    return x, y


def eqdc_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    cy = P["rho0"] - y
    rho = np.hypot(x, cy)
    if P["n"] < 0:
        rho = -rho
    phi = _inv_mlfn(P["G"] - rho, P["es"], P["en"])
    lam = np.arctan2(np.sign(P["n"]) * x, np.sign(P["n"]) * cy) / P["n"]
    return lam, phi


# ---------------------------------------------------------------------------
# wintri — Winkel Tripel (Snyder "Flattening the Earth"; the standard
# National Geographic world map): arithmetic mean of the equidistant
# cylindrical (standard parallel phi_1 = acos(2/pi)) and the Aitoff
# projection.  Forward is closed form (unnormalized sinc); inverse is
# a 2-D Newton with numerical Jacobian (no closed form exists).
# ---------------------------------------------------------------------------
_WINTRI_COSPHI1 = 2.0 / np.pi


def wintri_setup(params, a, es):
    cosphi1 = float(np.cos(np.radians(float(params["lat_1"])))) \
        if "lat_1" in params else _WINTRI_COSPHI1
    return {"cosphi1": cosphi1}


def _sinc(x):
    # unnormalized sinc with the exact 0-limit
    return np.where(np.abs(x) < 1e-12, 1.0, np.sin(x) / np.where(
        np.abs(x) < 1e-12, 1.0, x))


def wintri_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    c = np.cos(phi)
    hl = 0.5 * lam
    alpha = np.arccos(np.clip(c * np.cos(hl), -1.0, 1.0))
    s = _sinc(alpha)
    x = 0.5 * (lam * P["cosphi1"] + 2.0 * c * np.sin(hl) / s)
    y = 0.5 * (phi + np.sin(phi) / s)
    return x, y


def wintri_inv(x, y, P):
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    # seed from the equidistant-cylindrical half of the average
    lam = x / ((P["cosphi1"] + 1.0) / 2.0)
    phi = y.copy()
    h = 1e-7
    for _ in range(20):
        fx, fy = wintri_fwd(lam, phi, P)
        fx, fy = fx - x, fy - y
        dxdl = (wintri_fwd(lam + h, phi, P)[0] - (fx + x)) / h
        dxdp = (wintri_fwd(lam, phi + h, P)[0] - (fx + x)) / h
        dydl = (wintri_fwd(lam + h, phi, P)[1] - (fy + y)) / h
        dydp = (wintri_fwd(lam, phi + h, P)[1] - (fy + y)) / h
        det = dxdl * dydp - dxdp * dydl
        det = np.where(np.abs(det) < 1e-18, 1e-18, det)
        lam = lam - (fx * dydp - fy * dxdp) / det
        phi = np.clip(phi - (fy * dxdl - fx * dydl) / det,
                      -HALFPI, HALFPI)
    return lam, phi


# ---------------------------------------------------------------------------
# gall — Gall Stereographic (Snyder "Flattening the Earth"):
# spherical cylindrical compromise, x = lam/sqrt(2),
# y = (1 + sqrt(2)/2) tan(phi/2); closed forms both ways.
# ---------------------------------------------------------------------------
_GALL_YF = 1.0 + np.sqrt(2.0) / 2.0
_GALL_XF = 1.0 / np.sqrt(2.0)


def gall_setup(params, a, es):
    return {}


def gall_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    return _GALL_XF * lam, _GALL_YF * np.tan(0.5 * phi)


def gall_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return x / _GALL_XF, 2.0 * np.arctan(y / _GALL_YF)


# ---------------------------------------------------------------------------
# aitoff — Aitoff (Snyder "Flattening the Earth"): the azimuthal-
# equidistant-derived half of Winkel Tripel, exposed standalone.
# x = 2 cos(phi) sin(lam/2) / sinc(alpha), y = sin(phi)/sinc(alpha)
# with alpha = acos(cos(phi) cos(lam/2)); 2-D Newton inverse.
# ---------------------------------------------------------------------------
def aitoff_setup(params, a, es):
    return {}


def aitoff_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    c = np.cos(phi)
    hl = 0.5 * lam
    alpha = np.arccos(np.clip(c * np.cos(hl), -1.0, 1.0))
    s = _sinc(alpha)
    return 2.0 * c * np.sin(hl) / s, np.sin(phi) / s


def aitoff_inv(x, y, P):
    # closed form: Aitoff is the EQUATORIAL azimuthal equidistant of
    # (lam/2, phi) with x doubled — invert the spherical aeqd and
    # un-halve the longitude
    xh = 0.5 * np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    c = np.hypot(xh, y)
    sc = np.where(c > 1e-15, np.sin(c) / np.where(c > 1e-15, c, 1.0), 1.0)
    phi = farcsin(np.clip(y * sc, -1.0, 1.0))
    lam = 2.0 * np.arctan2(xh * sc, np.cos(c))
    return lam, phi


# ---------------------------------------------------------------------------
# eck6 — Eckert VI (Snyder PP-1395 ch. 32): spherical equal-area,
# theta + sin(theta) = (1 + pi/2) sin(phi);
# x = lam (1 + cos theta)/sqrt(2 + pi), y = 2 theta/sqrt(2 + pi).
# ---------------------------------------------------------------------------
_ECK6_C = np.sqrt(2.0 + np.pi)


def eck6_setup(params, a, es):
    return {}


def _eck6_theta(phi):
    rhs = (1.0 + 0.5 * np.pi) * fsin(phi)
    theta = np.asarray(phi, dtype=np.float64).copy()
    for _ in range(12):
        s, c = _fsincos(theta)
        theta = np.clip(theta - (theta + s - rhs)
                        / np.maximum(1.0 + c, 1e-9), -HALFPI, HALFPI)
    sphi = fsin(phi)
    return np.where(np.abs(sphi) >= 1.0 - 1e-14,
                    np.sign(sphi) * HALFPI, theta)


def eck6_fwd(lam, phi, P):
    theta = _eck6_theta(phi)
    x = np.asarray(lam, dtype=np.float64) * (1.0 + np.cos(theta)) / _ECK6_C
    y = 2.0 * theta / _ECK6_C
    return x, y


def eck6_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    theta = np.clip(0.5 * _ECK6_C * y, -HALFPI, HALFPI)
    lam = x * _ECK6_C / np.maximum(1.0 + np.cos(theta), 1e-12)
    phi = farcsin(np.clip(
        (theta + np.sin(theta)) / (1.0 + 0.5 * np.pi), -1.0, 1.0))
    return lam, phi


# ---------------------------------------------------------------------------
# hammer — Hammer (Snyder PP-1395 ch. 24): spherical equal-area
# modified-azimuthal; closed forms both ways.
# ---------------------------------------------------------------------------
def hammer_setup(params, a, es):
    return {}


def hammer_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    c = np.cos(phi)
    hl = 0.5 * lam
    d = np.sqrt(np.maximum(1.0 + c * np.cos(hl), 1e-300))
    x = 2.0 * np.sqrt(2.0) * c * np.sin(hl) / d
    y = np.sqrt(2.0) * np.sin(phi) / d
    return x, y


def hammer_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z2 = 1.0 - (x / 4.0) ** 2 - (y / 2.0) ** 2
    z = np.sqrt(np.maximum(z2, 0.0))
    lam = 2.0 * np.arctan2(z * x, 2.0 * (2.0 * z2 - 1.0))
    phi = farcsin(np.clip(z * y, -1.0, 1.0))
    return lam, phi


# ---------------------------------------------------------------------------
# mill — Miller Cylindrical (Snyder PP-1395 ch. 11): spherical
# compromise, y = (5/4) ln tan(pi/4 + 2 phi / 5), x = lam.
# ---------------------------------------------------------------------------
def mill_setup(params, a, es):
    return {}


def mill_fwd(lam, phi, P):
    phi = np.asarray(phi, dtype=np.float64)
    y = 1.25 * np.log(ftan(0.25 * np.pi + 0.4 * phi))
    return np.asarray(lam, dtype=np.float64), y


def mill_inv(x, y, P):
    y = np.asarray(y, dtype=np.float64)
    phi = 2.5 * (np.arctan(np.exp(0.8 * y)) - 0.25 * np.pi)
    return np.asarray(x, dtype=np.float64), phi


# ---------------------------------------------------------------------------
# eck4 — Eckert IV (Snyder PP-1395 ch. 32): spherical equal-area
# pseudocylindrical.  theta solves
#   theta + sin(theta)cos(theta) + 2 sin(theta) = (2 + pi/2) sin(phi)
# (Newton, f' = 2 cos(theta)(1 + cos(theta)));
#   x = C_x R lam (1 + cos theta), y = C_y R sin theta,
#   C_x = 2/sqrt(pi(4+pi)), C_y = 2 sqrt(pi/(4+pi)).
# ---------------------------------------------------------------------------
_ECK4_CX = 2.0 / np.sqrt(np.pi * (4.0 + np.pi))
_ECK4_CY = 2.0 * np.sqrt(np.pi / (4.0 + np.pi))
_ECK4_CP = 2.0 + np.pi / 2.0


def eck4_setup(params, a, es):
    return {}


def _eck4_theta(phi):
    sphi = fsin(phi)
    rhs = _ECK4_CP * sphi
    theta = np.asarray(phi, dtype=np.float64) / 2.0
    for _ in range(12):
        s, c = _fsincos(theta)
        f = theta + s * c + 2.0 * s - rhs
        fp = np.maximum(2.0 * c * (1.0 + c), 1e-9)
        theta = np.clip(theta - f / fp, -HALFPI, HALFPI)
    # Newton's f' vanishes at the poles — pin them exactly
    return np.where(np.abs(sphi) >= 1.0 - 1e-14,
                    np.sign(sphi) * HALFPI, theta)


def eck4_fwd(lam, phi, P):
    theta = _eck4_theta(phi)
    s, c = _fsincos(theta)
    x = _ECK4_CX * np.asarray(lam, dtype=np.float64) * (1.0 + c)
    y = _ECK4_CY * s
    return x, y


def eck4_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    s = np.clip(y / _ECK4_CY, -1.0, 1.0)
    theta = np.arcsin(s)
    c = np.cos(theta)
    lam = x / (_ECK4_CX * np.maximum(1.0 + c, 1e-12))
    phi = farcsin(np.clip(
        (theta + s * c + 2.0 * s) / _ECK4_CP, -1.0, 1.0))
    return lam, phi


def somerc_setup(params, a, es):
    """PROJ's somerc (Swiss Oblique Mercator) parameterization: centre
    at (+lat_0, +lon_0), azimuth fixed at 90 deg — EPSG method 9815
    with alpha = gamma = 90 (EPSG conversion 19950)."""
    p = dict(params)
    p.setdefault("alpha", 90.0)
    p.setdefault("gamma", 90.0)
    p.setdefault("lonc", float(p.get("lon_0", 0.0)))
    return omerc_setup(p, a, es)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# vandg — Van der Grinten I (Snyder PP-1395 ch. 29): spherical world
# compromise mapping the whole earth into a circle of radius pi*R;
# meridians and parallels are circular arcs.  Closed forms both ways
# (the inverse is Snyder's resolvent-cubic solution 29-9..29-17).
# Defining-property pins in tests/test_kernels.py: the +-180 meridian
# lands exactly on the bounding circle, the equator is x = R*lam, the
# central meridian is y = pi*R*tan(theta/2).
# ---------------------------------------------------------------------------
def vandg_setup(params, a, es):
    # spherical formulas on the semi-major axis (PROJ vandg behavior)
    return {}


_VANDG_EPS = 1e-10


def vandg_fwd(lam, phi, P):
    lam = np.atleast_1d(np.asarray(lam, dtype=np.float64))
    phi = np.atleast_1d(np.asarray(phi, dtype=np.float64))
    theta = farcsin(np.clip(np.abs(2.0 * phi / np.pi), 0.0, 1.0))
    st, ct = np.sin(theta), np.cos(theta)
    on_equator = np.abs(phi) < _VANDG_EPS
    on_meridian = (np.abs(lam) < _VANDG_EPS) | (np.abs(np.abs(phi) - HALFPI)
                                                < _VANDG_EPS)
    # general case (guard the removable singularities out of the math)
    lam_s = np.where(on_equator | on_meridian, 1.0, lam)
    st_s = np.where(on_equator, 0.5, st)
    A = 0.5 * np.abs(np.pi / lam_s - lam_s / np.pi)
    G = ct / (st_s + ct - 1.0)
    Pq = G * (2.0 / st_s - 1.0)
    A2, P2 = A * A, Pq * Pq
    Q = A2 + G
    disc_x = A2 * (G - P2) ** 2 - (P2 + A2) * (G * G - P2)
    x_gen = (np.pi * (A * (G - P2)
                      + np.sqrt(np.maximum(disc_x, 0.0))) / (P2 + A2))
    # (A^2+1)(P^2+A^2) - Q^2 expanded with Q = A^2 + G: the raw form
    # subtracts two ~A^4 terms (A ~ pi/(2 lam) blows up near the
    # central meridian) and loses ~7 digits of y; the expansion keeps
    # only A^2-order terms
    disc_y = A2 * (P2 + 1.0 - 2.0 * G) + (P2 - G * G)
    y_gen = (np.pi * (Pq * Q - A * np.sqrt(np.maximum(disc_y, 0.0)))
             / (P2 + A2))
    x = np.where(on_equator, lam,
                 np.where(on_meridian, 0.0, np.sign(lam) * x_gen))
    y = np.where(on_equator, 0.0,
                 np.where(on_meridian,
                          np.sign(phi) * np.pi * ftan(0.5 * theta),
                          np.sign(phi) * y_gen))
    return x, y


def vandg_inv(x, y, P):
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    X, Y = x / np.pi, y / np.pi
    X2, Y2 = X * X, Y * Y
    on_equator = np.abs(Y) < _VANDG_EPS
    on_meridian = np.abs(X) < _VANDG_EPS
    # latitude: resolvent cubic (Snyder 29-9..29-15); the equator rows
    # are guarded (c3 -> a1 -> division hazards) and patched after
    absY = np.where(on_equator, 0.5, np.abs(Y))
    c1 = -absY * (1.0 + X2 + Y2)
    c2 = c1 - 2.0 * Y2 + X2
    c3 = -2.0 * c1 + 1.0 + 2.0 * Y2 + (X2 + Y2) ** 2
    d = Y2 / c3 + (2.0 * c2 ** 3 / c3 ** 3
                   - 9.0 * c1 * c2 / (c3 * c3)) / 27.0
    a1 = (c1 - c2 * c2 / (3.0 * c3)) / c3
    m1 = 2.0 * np.sqrt(np.maximum(-a1 / 3.0, 1e-300))
    cos_arg = np.clip(3.0 * d / (a1 * m1), -1.0, 1.0)
    theta1 = np.arccos(cos_arg) / 3.0
    phi_gen = np.pi * (-m1 * np.cos(theta1 + np.pi / 3.0)
                       - c2 / (3.0 * c3))
    phi = np.where(on_equator, 0.0, np.sign(y) * np.abs(phi_gen))
    # longitude (Snyder 29-16/29-17); exact on the equator too
    X_s = np.where(on_meridian, 1.0, X)
    lam_gen = (np.pi * (X2 + Y2 - 1.0
                        + np.sqrt(1.0 + 2.0 * (X2 - Y2)
                                  + (X2 + Y2) ** 2)) / (2.0 * X_s))
    lam = np.where(on_meridian, 0.0, lam_gen)
    # polish: two Newton steps on the forward — the resolvent cubic
    # loses ~7 digits of phi near the poles (arccos conditioning);
    # this brings the roundtrip from ~5 cm back under 1e-6 m.  The
    # equator/meridian branches are already exact and are left alone.
    general = ~(on_equator | on_meridian)
    if np.any(general):
        h = 1e-7
        for _ in range(2):
            fx, fy = vandg_fwd(lam, phi, P)
            fx, fy = fx - x, fy - y
            dxdl = (vandg_fwd(lam + h, phi, P)[0] - (fx + x)) / h
            dxdp = (vandg_fwd(lam, phi + h, P)[0] - (fx + x)) / h
            dydl = (vandg_fwd(lam + h, phi, P)[1] - (fy + y)) / h
            dydp = (vandg_fwd(lam, phi + h, P)[1] - (fy + y)) / h
            det = dxdl * dydp - dxdp * dydl
            det = np.where(np.abs(det) < 1e-18, 1e-18, det)
            lam = np.where(general, lam - (fx * dydp - fy * dxdp) / det, lam)
            phi = np.where(general,
                           np.clip(phi - (fy * dxdl - fx * dydl) / det,
                                   -HALFPI, HALFPI), phi)
    # the map is the disc X^2 + Y^2 <= 1; outside it the polish
    # diverges (|lam| ~ 1e22 rad), so those lanes are off the map
    off = X2 + Y2 > 1.0 + _VANDG_EPS
    return np.where(off, np.nan, lam), np.where(off, np.nan, phi)


# ---------------------------------------------------------------------------
# igh — Interrupted Goode Homolosine (Goode 1925; PROJ's igh lobe
# layout): 12-zone composite of Sinusoidal (|phi| below the seam
# latitude) and Mollweide (above), each lobe about its own central
# meridian.  Spherical on the semi-major axis (the moll convention).
#
# The seam latitude is COMPUTED at import, not hardcoded: continuity
# of x across the seam requires (2*sqrt(2)/pi)*cos(theta(phi)) =
# cos(phi) (equal parallel scale), giving phi0 = 40deg44'11.98";
# the Mollweide y is then shifted by y0 = sqrt(2)*sin(theta0) - phi0
# so y is continuous too.  (libproj hardcodes y0 = 0.05280 — a
# ~22 m seam step; we keep the lobes exactly continuous, pinned by
# tests/test_kernels.py::test_igh_lobe_boundary_continuity.)
#
# Lobe layout (PROJ igh zones, lon_0 = 0):
#   north (phi > phi0):  lam < -40deg -> moll @ -100;  else moll @ +30
#   band  (|phi|<=phi0): lam < -40deg -> sinu @ -100;  else sinu @ +30
#     (southern band splits at -100/-20/+80 into sinu @ -160/-60/+20/+140)
#   south (phi < -phi0): same four splits -> moll @ -160/-60/+20/+140
# ---------------------------------------------------------------------------
def _igh_seam():
    # solve (2*sqrt(2)/pi) * cos(theta(phi)) = cos(phi) with theta from
    # 2*theta + sin(2*theta) = pi*sin(phi) (scalar Newton at import)
    phi = 0.71
    for _ in range(60):
        th = float(_moll_theta(np.float64(phi)))
        g = _MOLL_CX * np.cos(th) - np.cos(phi)
        h = 1e-9
        th2 = float(_moll_theta(np.float64(phi + h)))
        g2 = _MOLL_CX * np.cos(th2) - np.cos(phi + h)
        step = g / ((g2 - g) / h)
        phi -= step
        if abs(step) < 1e-15:
            break
    th0 = float(_moll_theta(np.float64(phi)))
    y0 = _MOLL_CY * np.sin(th0) - phi
    return float(phi), float(y0)


_IGH_PHI0, _IGH_Y0 = _igh_seam()
_D40, _D100, _D20, _D80 = np.radians([-40.0, -100.0, -20.0, 80.0])


def _igh_lamc(lam, south_band):
    """Per-point central meridian (radians).  ``south_band`` selects the
    four-way southern split; the northern half splits two ways at -40."""
    north = np.where(lam < _D40, np.radians(-100.0), np.radians(30.0))
    south = np.where(
        lam < _D100, np.radians(-160.0),
        np.where(lam < _D20, np.radians(-60.0),
                 np.where(lam < _D80, np.radians(20.0),
                          np.radians(140.0))))
    return np.where(south_band, south, north)


def igh_setup(params, a, es):
    # spherical composite on the semi-major axis
    return {}


def igh_fwd(lam, phi, P):
    lam = np.atleast_1d(np.asarray(lam, dtype=np.float64))
    phi = np.atleast_1d(np.asarray(phi, dtype=np.float64))
    lamc = _igh_lamc(lam, phi < 0.0)
    dl = lam - lamc
    in_moll = np.abs(phi) > _IGH_PHI0
    # sinusoidal (spherical): x = lamc + dl*cos(phi), y = phi
    xs = lamc + dl * np.cos(phi)
    ys = phi
    # mollweide with the seam shift
    theta = _moll_theta(phi)
    xm = lamc + _MOLL_CX * dl * fcos(theta)
    ym = _MOLL_CY * fsin(theta) - np.sign(phi) * _IGH_Y0
    return np.where(in_moll, xm, xs), np.where(in_moll, ym, ys)


def igh_inv(x, y, P):
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    # zone from (x, y): lobes pull inward from their boundary
    # meridians, so comparing x against the boundary constants is exact
    lamc = _igh_lamc(x, y < 0.0)
    in_moll = np.abs(y) > _IGH_PHI0
    # sinusoidal
    cphi = np.cos(y)
    lam_s = lamc + np.where(np.abs(cphi) > 1e-12,
                            (x - lamc) / np.where(np.abs(cphi) > 1e-12,
                                                  cphi, 1.0), 0.0)
    phi_s = y
    # mollweide (un-shift y first)
    ym = y + np.sign(y) * _IGH_Y0
    theta = farcsin(np.clip(ym / _MOLL_CY, -1.0, 1.0))
    phi_m = farcsin(np.clip((2.0 * theta + fsin(2.0 * theta)) / np.pi,
                            -1.0, 1.0))
    ct = fcos(theta)
    lam_m = lamc + np.where(np.abs(ct) > 1e-14,
                            (x - lamc) / (_MOLL_CX * np.maximum(ct, 1e-14)),
                            0.0)
    return (np.where(in_moll, lam_m, lam_s),
            np.where(in_moll, phi_m, phi_s))


# ---------------------------------------------------------------------------
# tpeqd — Two-Point Equidistant (Snyder PP-1395 ch. 17; spherical, on
# the semi-major axis like PROJ tpeqd).  Defining property: the PLANAR
# distance from the image of P to the image of each control point
# equals the great-circle distance on the sphere — the projection used
# for "distance from either of two cities" maps.  Control points map
# to (-+ z02/2, 0) on the x axis; a point's image is the two-circle
# intersection, side chosen by which side of the control great circle
# the point lies on (sign of the vector triple product).
# ---------------------------------------------------------------------------
def _unit_vec(lam, phi):
    cp = np.cos(phi)
    return np.stack([cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)])


def tpeqd_setup(params, a, es):
    phi1 = np.radians(float(params["lat_1"]))
    lam1 = np.radians(float(params["lon_1"]))
    phi2 = np.radians(float(params["lat_2"]))
    lam2 = np.radians(float(params["lon_2"]))
    cz = (np.sin(phi1) * np.sin(phi2)
          + np.cos(phi1) * np.cos(phi2) * np.cos(lam2 - lam1))
    z02 = float(np.arccos(np.clip(cz, -1.0, 1.0)))
    # 1e-7 rad ~ 0.6 m: below that the two-circle geometry is
    # degenerate (and fp noise alone reaches ~1.5e-8 for coincident
    # inputs, so a tighter guard would not even trip)
    if z02 < 1e-7 or np.pi - z02 < 1e-7:
        raise ValueError(
            "tpeqd: control points must be distinct and non-antipodal")
    v1 = _unit_vec(lam1, phi1)
    v2 = _unit_vec(lam2, phi2)
    n = np.cross(v1, v2)  # normal of the control great circle
    # azimuth at P1 toward P2 (for the inverse's spherical direct step)
    a12 = float(np.arctan2(
        np.cos(phi2) * np.sin(lam2 - lam1),
        np.cos(phi1) * np.sin(phi2)
        - np.sin(phi1) * np.cos(phi2) * np.cos(lam2 - lam1)))
    return {"phi1": phi1, "lam1": lam1, "phi2": phi2, "lam2": lam2,
            "z02": z02, "n": n, "a12": a12}


def tpeqd_fwd(lam, phi, P):
    lam = np.atleast_1d(np.asarray(lam, dtype=np.float64))
    phi = np.atleast_1d(np.asarray(phi, dtype=np.float64))
    sp, cp = np.sin(phi), np.cos(phi)
    z1 = np.arccos(np.clip(
        np.sin(P["phi1"]) * sp
        + np.cos(P["phi1"]) * cp * np.cos(lam - P["lam1"]), -1.0, 1.0))
    z2 = np.arccos(np.clip(
        np.sin(P["phi2"]) * sp
        + np.cos(P["phi2"]) * cp * np.cos(lam - P["lam2"]), -1.0, 1.0))
    c = P["z02"]
    x = (z1 * z1 - z2 * z2) / (2.0 * c)
    y2 = z1 * z1 - (x + 0.5 * c) ** 2
    v = _unit_vec(lam, phi)
    side = P["n"][0] * v[0] + P["n"][1] * v[1] + P["n"][2] * v[2]
    y = np.sign(side) * np.sqrt(np.maximum(y2, 0.0))
    return x, y


def tpeqd_inv(x, y, P):
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    c = P["z02"]
    z1 = np.hypot(x + 0.5 * c, y)
    z2 = np.hypot(x - 0.5 * c, y)
    # interior angle at P1 between the P1->P2 direction and P1->P
    # (spherical law of cosines), side resolved by the y sign
    z1s = np.where(z1 < 1e-12, 1.0, z1)
    cos_ang = ((np.cos(z2) - np.cos(c) * np.cos(z1))
               / (np.sin(c) * np.sin(z1s)))
    ang = np.arccos(np.clip(cos_ang, -1.0, 1.0))
    # side factor is +-1, never 0: for an exactly-on-axis point beyond
    # a control point (y = +-0, ang = pi) np.sign's 0 would cancel the
    # half-turn and reflect the point; with +-1 both signs agree
    # modulo 2*pi wherever y = 0
    side = np.where(y >= 0.0, 1.0, -1.0)
    az = P["a12"] - side * ang
    sz, cz = np.sin(z1), np.cos(z1)
    phi = farcsin(np.clip(
        np.sin(P["phi1"]) * cz + np.cos(P["phi1"]) * sz * np.cos(az),
        -1.0, 1.0))
    lam = P["lam1"] + np.arctan2(
        sz * np.sin(az),
        np.cos(P["phi1"]) * cz - np.sin(P["phi1"]) * sz * np.cos(az))
    # centre-coincident rows: z1 == 0 -> exactly P1
    at1 = z1 < 1e-12
    if np.any(at1):
        phi = np.where(at1, P["phi1"], phi)
        lam = np.where(at1, P["lam1"], lam)
    return adjlon(lam), phi


# ---------------------------------------------------------------------------
# nzmg — New Zealand Map Grid (EPSG method 9811): 6th-order complex
# conformal polynomial over an isometric-latitude series — the
# published LINZ definition (constants as republished by the public
# PROJ/proj4js implementations).  dphi is measured in 1e5-arcsec units
# about lat_0 = -41 deg; the framework scales by a (intl 1924) and
# adds the 2510000/6023150 false origin.
# ---------------------------------------------------------------------------
_NZMG_RAD_TO_SEC5 = 2.062648062470963551564733573  # rad -> 1e5 arcsec
_NZMG_SEC5_TO_RAD = 0.4848136811095359935899141023
# psi(dphi) series (10 terms)
_NZMG_TPSI = np.array([
    0.6399175073, -0.1358797613, 0.063294409, -0.02526853, 0.0117879,
    -0.0055161, 0.0026906, -0.001333, 0.00067, -0.00034])
# dphi(psi) series (9 terms, inverse)
_NZMG_TPHI = np.array([
    1.5627014243, 0.5185406398, -0.03333098, -0.1052906, -0.0368594,
    0.007317, 0.01220, 0.00394, -0.0013])
# complex forward coefficients B1..B6
_NZMG_BF = np.array([
    0.7557853228 + 0.0j,
    0.249204646 + 0.003371507j,
    -0.001541739 + 0.041058560j,
    -0.10162907 + 0.01727609j,
    -0.26623489 - 0.36249218j,
    -0.6870983 - 1.1651967j])
# complex inverse-start coefficients C1..C6
_NZMG_CF = np.array([
    1.3231270439 + 0.0j,
    -0.577245789 - 0.007809598j,
    0.508307513 - 0.112208952j,
    -0.15094762 + 0.18200602j,
    1.01418179 + 1.64497696j,
    1.9660549 + 2.5127645j])


def _zpoly1(z, coefs):
    """w = sum_k coefs[k-1] * z^k (complex Horner, zero constant)."""
    w = np.full_like(z, coefs[-1])
    for c in coefs[-2::-1]:
        w = w * z + c
    return w * z


def nzmg_setup(params, a, es):
    return {"phi0": np.radians(float(params.get("lat_0", -41.0)))}


def nzmg_fwd(lam, phi, P):
    lam = np.atleast_1d(np.asarray(lam, dtype=np.float64))
    phi = np.atleast_1d(np.asarray(phi, dtype=np.float64))
    dphi = (phi - P["phi0"]) * _NZMG_RAD_TO_SEC5
    psi = np.zeros_like(dphi)
    for t in _NZMG_TPSI[::-1]:
        psi = psi * dphi + t
    psi *= dphi
    z = psi + 1j * lam
    w = _zpoly1(z, _NZMG_BF)
    return w.imag, w.real


def nzmg_inv(x, y, P):
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    w = y + 1j * x
    # published inverse-start polynomial, then Newton on the forward
    z = _zpoly1(w, _NZMG_CF)
    for _ in range(10):
        f = _zpoly1(z, _NZMG_BF) - w
        # d/dz of sum B_k z^k = sum k B_k z^(k-1)
        d = np.zeros_like(z)
        for k in range(len(_NZMG_BF), 0, -1):
            d = d * z + k * _NZMG_BF[k - 1]
        z = z - f / d
    psi = z.real
    dphi = np.zeros_like(psi)
    for t in _NZMG_TPHI[::-1]:
        dphi = dphi * psi + t
    dphi *= psi
    # the published 9-term tphi series alone is ~1e-4 m; two Newton
    # steps on the exact forward tpsi series polish to fp precision
    for _ in range(2):
        f = np.zeros_like(dphi)
        for t in _NZMG_TPSI[::-1]:
            f = f * dphi + t
        f *= dphi
        d = np.zeros_like(dphi)
        for k in range(len(_NZMG_TPSI), 0, -1):
            d = d * dphi + k * _NZMG_TPSI[k - 1]
        dphi = dphi - (f - psi) / d
    return adjlon(z.imag), P["phi0"] + dphi * _NZMG_SEC5_TO_RAD



# ---------------------------------------------------------------------------
# poly — American Polyconic (EPSG method 9818, Snyder PP-1395 ch. 18,
# ellipsoidal closed forward): every parallel is a non-concentric
# circular arc of radius N*cot(phi), true to scale; the central
# meridian is true to scale (y == M - M0 exactly there).  Inverse =
# finite-difference 2D Newton on the closed forward (the vandg_inv
# polish pattern) from the (A, x/cos A) start.
# ---------------------------------------------------------------------------
_POLY_EPS = 1e-10


def poly_setup(params, a, es):
    en = _enfn(es)
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    ml0 = float(_mlfn(phi0, np.sin(phi0), np.cos(phi0), en))
    return {"es": es, "en": en, "ml0": ml0}


def poly_fwd(lam, phi, P):
    lam = np.atleast_1d(np.asarray(lam, dtype=np.float64))
    phi = np.atleast_1d(np.asarray(phi, dtype=np.float64))
    sp, cp = fsin(phi), fcos(phi)
    on_eq = np.abs(phi) < _POLY_EPS
    sp_s = np.where(on_eq, 1.0, sp)  # guard the cot() out of the math
    cot = cp / sp_s
    nprime = 1.0 / np.sqrt(1.0 - P["es"] * sp * sp)  # N in a-units
    E = lam * sp
    ml = _mlfn(phi, sp, cp, P["en"])
    x = np.where(on_eq, lam, nprime * cot * np.sin(E))
    y = np.where(on_eq, -P["ml0"],
                 ml - P["ml0"] + nprime * cot * (1.0 - np.cos(E)))
    return x, y


def poly_inv(x, y, P):
    """Inverse via the parallel-arc geometry: each parallel maps to a
    circle of radius R = N*cot(phi) centred at (0, M - M0 + R); with
    D = y - (M - M0) the membership equation is the CONDITIONED form
    G(phi) = x^2 + D^2 - 2 D R (no R^2 term, finite as R ~ 1/phi near
    the equator).  G has spurious roots at world extent (|E| > pi/2
    arcs curl back), so the solver scans a latitude grid for ALL sign
    changes, bisects each bracket, and keeps the root whose forward
    image reproduces (x, y) — then lambda = E / sin(phi) off the arc
    angle.  Fully vectorized; the forward check makes the selection
    exact rather than heuristic."""
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    n = x.shape[0]
    on_eq = np.abs(y + P["ml0"]) < _POLY_EPS

    def G(ph):
        sp, cp = np.sin(ph), np.cos(ph)
        sp_s = np.where(np.abs(sp) < 1e-14, 1e-14, sp)
        R = cp / sp_s / np.sqrt(1.0 - P["es"] * sp * sp)
        D = y[..., None] if ph.ndim == 2 else y
        D = D - (_mlfn(ph, sp, cp, P["en"]) - P["ml0"])
        return x[..., None] * x[..., None] + D * D - 2.0 * D * R \
            if ph.ndim == 2 else x * x + D * D - 2.0 * D * R

    m = 385
    grid = np.linspace(-HALFPI + 1e-6, HALFPI - 1e-6, m)
    gg = G(np.broadcast_to(grid, (n, m)))
    flips = np.signbit(gg[:, :-1]) != np.signbit(gg[:, 1:])
    best_phi = np.zeros(n)
    best_lam = np.zeros(n)
    best_err = np.full(n, np.inf)
    # up to 4 brackets per point (world-extent arcs curl at most twice)
    for _cand in range(4):
        idx = np.argmax(flips, axis=1)
        has = flips[np.arange(n), idx]
        flips[np.arange(n), idx] = False
        lo = grid[idx].copy()
        hi = grid[idx + 1].copy()
        for _ in range(45):
            mid = 0.5 * (lo + hi)
            gm = G(mid)
            gl = G(lo)
            left = np.signbit(gm) != np.signbit(gl)
            hi = np.where(left, mid, hi)
            lo = np.where(left, lo, mid)
        ph = 0.5 * (lo + hi)
        sp, cp = np.sin(ph), np.cos(ph)
        sp_s = np.where(np.abs(sp) < 1e-14, 1e-14, sp)
        R = cp / sp_s / np.sqrt(1.0 - P["es"] * sp * sp)
        D = y - (_mlfn(ph, sp, cp, P["en"]) - P["ml0"])
        s = np.sign(R)
        E = np.arctan2(x * s, (R - D) * s)
        lam = E / sp_s
        fx, fy = poly_fwd(lam, ph, P)
        err = np.hypot(fx - x, fy - y)
        err = np.where(has & (np.abs(lam) <= np.pi + 1e-9), err, np.inf)
        take = err < best_err
        best_phi = np.where(take, ph, best_phi)
        best_lam = np.where(take, lam, best_lam)
        best_err = np.minimum(best_err, err)
    # near-equator rows: the true root's bracket contains the R ~
    # 1/phi pole, so bisection lands on the singularity and the
    # forward check rejects it.  There |E| = |lam*sin(phi)| is tiny,
    # the map is locally monotonic, and a plain 2-D finite-difference
    # Newton from (x, A) converges — exactly the regime where the
    # global scan is blind.
    need = best_err > 1e-12
    if np.any(need):
        lam_n = x.copy()
        phi_n = np.clip(y + P["ml0"], -HALFPI + 1e-9, HALFPI - 1e-9)
        h = 1e-8
        for _ in range(12):
            fx, fy = poly_fwd(lam_n, phi_n, P)
            dxl, dyl = poly_fwd(lam_n + h, phi_n, P)
            dxp, dyp = poly_fwd(lam_n, phi_n + h, P)
            j11 = (dxl - fx) / h
            j21 = (dyl - fy) / h
            j12 = (dxp - fx) / h
            j22 = (dyp - fy) / h
            det = j11 * j22 - j12 * j21
            det = np.where(np.abs(det) < 1e-30, 1e-30, det)
            rx, ry = fx - x, fy - y
            lam_n = lam_n - (rx * j22 - ry * j12) / det
            phi_n = np.clip(phi_n - (ry * j11 - rx * j21) / det,
                            -HALFPI + 1e-9, HALFPI - 1e-9)
        fx, fy = poly_fwd(lam_n, phi_n, P)
        err_n = np.hypot(fx - x, fy - y)
        take = need & (err_n < best_err)
        best_phi = np.where(take, phi_n, best_phi)
        best_lam = np.where(take, lam_n, best_lam)
        best_err = np.where(take, err_n, best_err)
    # final polish: a few Newton steps FROM the winning candidate
    # (locally the map is regular there, so this squeezes the last
    # bisection/fallback residual to fp level); keep only improvements
    lam_p, phi_p = best_lam.copy(), best_phi.copy()
    h = 1e-8
    for _ in range(4):
        fx, fy = poly_fwd(lam_p, phi_p, P)
        dxl, dyl = poly_fwd(lam_p + h, phi_p, P)
        dxp, dyp = poly_fwd(lam_p, phi_p + h, P)
        j11 = (dxl - fx) / h
        j21 = (dyl - fy) / h
        j12 = (dxp - fx) / h
        j22 = (dyp - fy) / h
        det = j11 * j22 - j12 * j21
        det = np.where(np.abs(det) < 1e-30, 1e-30, det)
        rx, ry = fx - x, fy - y
        lam_p = lam_p - (rx * j22 - ry * j12) / det
        phi_p = np.clip(phi_p - (ry * j11 - rx * j21) / det,
                        -HALFPI + 1e-9, HALFPI - 1e-9)
    fx, fy = poly_fwd(lam_p, phi_p, P)
    err_p = np.hypot(fx - x, fy - y)
    take = err_p < best_err
    best_phi = np.where(take, phi_p, best_phi)
    best_lam = np.where(take, lam_p, best_lam)
    phi = np.where(on_eq, 0.0, best_phi)
    lam = np.where(on_eq, x, best_lam)
    return adjlon(lam), phi


# ---------------------------------------------------------------------------
# nsper / tpers — Vertical and Tilted Perspective (Snyder ch. 23,
# eqs. 23-16..23-24; PROJ nsper/tpers).  The satellite view: a sphere
# seen from height h above (lon_0, lat_0); points beyond the horizon
# circle cos(c) = 1/P are outside the projection domain (NaN).  tpers
# adds the camera tilt (omega) / azimuth (gamma) transform.
# ---------------------------------------------------------------------------
def nsper_setup(params, a, es):
    h = float(params["h"])
    if h <= 0.0:
        raise ValueError("nsper/tpers requires +h > 0")
    pn1 = h / a
    phi0 = np.radians(float(params.get("lat_0", 0.0)))
    P = {
        "pn1": pn1, "p": 1.0 + pn1, "rp": 1.0 / (1.0 + pn1),
        "h1": 1.0 / pn1, "pfact": (2.0 + pn1) / pn1,
        "sp0": float(np.sin(phi0)), "cp0": float(np.cos(phi0)),
        "tilt": False,
    }
    if "tilt" in params or "azi" in params:
        omega = np.radians(float(params.get("tilt", 0.0)))
        gamma = np.radians(float(params.get("azi", 0.0)))
        P.update(tilt=True, sw=float(np.sin(omega)), cw=float(np.cos(omega)),
                 sg=float(np.sin(gamma)), cg=float(np.cos(gamma)))
    return P


def nsper_fwd(lam, phi, P):
    sp, cp = fsin(phi), fcos(phi)
    sl, cl = fsin(lam), fcos(lam)
    cosc = P["sp0"] * sp + P["cp0"] * cp * cl
    bad = cosc < P["rp"]  # behind the horizon circle (Snyder 23-20)
    k = P["pn1"] / (P["p"] - np.where(bad, 0.0, cosc))
    x = k * cp * sl
    y = k * (P["cp0"] * sp - P["sp0"] * cp * cl)
    if P["tilt"]:
        yt = y * P["cg"] + x * P["sg"]
        ba = 1.0 / (yt * P["sw"] * P["h1"] + P["cw"])
        x, y = (x * P["cg"] - y * P["sg"]) * P["cw"] * ba, yt * ba
    return np.where(bad, np.nan, x), np.where(bad, np.nan, y)


def nsper_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64).copy()
    y = np.asarray(y, dtype=np.float64).copy()
    if P["tilt"]:
        yt = 1.0 / (P["pn1"] - y * P["sw"])
        bm = P["pn1"] * x * yt
        bq = P["pn1"] * y * P["cw"] * yt
        x = bm * P["cg"] + bq * P["sg"]
        y = bq * P["cg"] - bm * P["sg"]
    rh = np.hypot(x, y)
    arg = 1.0 - rh * rh * P["pfact"]
    bad = arg < 0.0
    safe_rh = np.where(rh > 1e-12, rh, 1.0)
    # Snyder 23-24: sin(c) from the quadratic in the view ray
    sinz = (P["p"] - np.sqrt(np.clip(arg, 0.0, None))) / (
        P["pn1"] / safe_rh + safe_rh / P["pn1"])
    cosz = np.sqrt(np.clip(1.0 - sinz * sinz, 0.0, None))
    phi = farcsin(np.clip(
        cosz * P["sp0"] + y * sinz * P["cp0"] / safe_rh, -1.0, 1.0))
    lam = np.arctan2(x * sinz * P["cp0"],
                     (cosz - P["sp0"] * fsin(phi)) * safe_rh)
    phi = np.where(rh > 1e-12, phi, farcsin(np.full_like(rh, P["sp0"])))
    lam = np.where(rh > 1e-12, lam, 0.0)
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


# ---------------------------------------------------------------------------
# tcea — Transverse Cylindrical Equal-Area (Snyder ch. 10, eqs.
# 10-1..10-7; PROJ tcea, spherical form).
# ---------------------------------------------------------------------------
def tcea_setup(params, a, es):
    return {
        "k0": float(params.get("k", params.get("k_0", 1.0))),
        "phi0": float(np.radians(float(params.get("lat_0", 0.0)))),
    }


def tcea_fwd(lam, phi, P):
    x = fcos(phi) * fsin(lam) / P["k0"]
    y = P["k0"] * (np.arctan2(ftan(phi), fcos(lam)) - P["phi0"])
    return x, y


def tcea_inv(x, y, P):
    xk = np.asarray(x, dtype=np.float64) * P["k0"]
    t = np.asarray(y, dtype=np.float64) / P["k0"] + P["phi0"]
    bad = np.abs(xk) > 1.0
    root = np.sqrt(np.clip(1.0 - xk * xk, 0.0, None))
    phi = farcsin(np.clip(root * fsin(t), -1.0, 1.0))
    lam = np.arctan2(xk, root * fcos(t))
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


# ---------------------------------------------------------------------------
# collg — Collignon (PROJ collg): the equal-area triangular world map.
# x = (2/sqrt(pi)) lam sqrt(1-sin phi), y = sqrt(pi) (1 - sqrt(1-sin phi)).
# ---------------------------------------------------------------------------
_COLLG_FXC = 2.0 / np.sqrt(np.pi)
_COLLG_FYC = np.sqrt(np.pi)


def collg_setup(params, a, es):
    return {}


def collg_fwd(lam, phi, P):
    s = np.sqrt(np.clip(1.0 - fsin(phi), 0.0, None))
    return _COLLG_FXC * np.asarray(lam, dtype=np.float64) * s, \
        _COLLG_FYC * (1.0 - s)


def collg_inv(x, y, P):
    s = 1.0 - np.asarray(y, dtype=np.float64) / _COLLG_FYC
    sinphi = 1.0 - s * s
    bad = np.abs(sinphi) > 1.0 + 1e-7
    phi = farcsin(np.clip(sinphi, -1.0, 1.0))
    denom = _COLLG_FXC * np.sqrt(np.clip(1.0 - sinphi, 0.0, None))
    lam = np.where(denom > 1e-14,
                   np.asarray(x, dtype=np.float64) / np.maximum(denom, 1e-14),
                   0.0)
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


# ---------------------------------------------------------------------------
# cc — Central Cylindrical (PROJ cc): x = lam, y = tan phi (the
# perspective cylindrical; poles diverge, masked near +-90).
# ---------------------------------------------------------------------------
def cc_setup(params, a, es):
    return {}


def cc_fwd(lam, phi, P):
    bad = np.abs(np.asarray(phi, dtype=np.float64)) > HALFPI - 1e-10
    return np.where(bad, np.nan, np.asarray(lam, dtype=np.float64)), \
        np.where(bad, np.nan, ftan(phi))


def cc_inv(x, y, P):
    return np.asarray(x, dtype=np.float64), \
        np.arctan(np.asarray(y, dtype=np.float64))


# ---------------------------------------------------------------------------
# goode — UNinterrupted Goode homolosine (PROJ goode, spherical):
# sinusoidal inside |phi| <= 40d44'11.8" (where the two projections'
# parallel scale matches), Mollweide shifted by Y_COR outside.  The
# seam constants are solved at import by igh (the interrupted twin,
# kernels._igh_seam).
# ---------------------------------------------------------------------------
def goode_setup(params, a, es):
    return {}


def goode_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    in_moll = np.abs(phi) > _IGH_PHI0
    theta = _moll_theta(phi)
    xm = _MOLL_CX * lam * fcos(theta)
    ym = _MOLL_CY * fsin(theta) - np.sign(phi) * _IGH_Y0
    return np.where(in_moll, xm, lam * fcos(phi)), \
        np.where(in_moll, ym, phi)


def goode_inv(x, y, P):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    in_moll = np.abs(y) > _IGH_PHI0
    lam_m, phi_m = moll_inv(x, y + np.sign(y) * _IGH_Y0, P)
    phi_s = y
    cs = fcos(phi_s)
    lam_s = np.where(np.abs(cs) > 1e-14, x / np.maximum(cs, 1e-14), 0.0)
    return np.where(in_moll, lam_m, lam_s), np.where(in_moll, phi_m, phi_s)


# ---------------------------------------------------------------------------
# ob_tran — general oblique transformation (PROJ ob_tran): rotate the
# sphere so the point (180d, o_lat_p) becomes the rotated-frame north
# pole (general form; o_lat_p=90, o_lon_p=0 is the identity rotation),
# then apply the +o_proj projection to the rotated coordinates.  The
# rotation is an isometry (angular distances preserved — pinned in
# tests); the base projection runs spherical, as in PROJ.
# Pole spec: +o_lat_p/+o_lon_p directly, or the two-point form
# +o_lat_1/+o_lon_1/+o_lat_2/+o_lon_2 (pole of the great circle
# through the two points).
# ---------------------------------------------------------------------------
def ob_tran_setup(params, a, es):
    name = str(params.get("o_proj", ""))
    if not name or name == "ob_tran":
        raise ValueError("ob_tran requires +o_proj=<projection>")
    if name not in PROJECTIONS:
        raise ValueError(f"ob_tran: unsupported +o_proj={name}")
    sub = {k: v for k, v in params.items()
           if not str(k).startswith("o_") and k != "proj"}
    sub["proj"] = name
    setup, fwd, inv = PROJECTIONS[name]
    base_P = dict(setup(sub, a, 0.0))  # rotation path is spherical
    if "o_alpha" in params:
        raise ValueError("ob_tran: +o_alpha form not supported "
                         "(use +o_lat_p/+o_lon_p or the two-point form)")
    lamp = math.radians(float(params.get("o_lon_p", 0.0)))
    if "o_lat_p" in params:
        # pole form: the rotated pole sits at geographic (180d, o_lat_p)
        # (its geographic longitude rides +lon_0, the NWP rotated-pole
        # convention); o_lon_p shifts the rotated-frame longitudes
        phip = math.radians(float(params["o_lat_p"]))
        lamoff = 0.0
    elif "o_lat_1" in params:
        lam1 = math.radians(float(params["o_lon_1"]))
        phi1 = math.radians(float(params["o_lat_1"]))
        lam2 = math.radians(float(params["o_lon_2"]))
        phi2 = math.radians(float(params["o_lat_2"]))
        # pole of the great circle through the two points: the cross
        # product of their unit vectors (exactly 90 deg from both, so
        # both points land on the rotated equator — pinned in tests)
        v1 = (math.cos(phi1) * math.cos(lam1),
              math.cos(phi1) * math.sin(lam1), math.sin(phi1))
        v2 = (math.cos(phi2) * math.cos(lam2),
              math.cos(phi2) * math.sin(lam2), math.sin(phi2))
        n = (v1[1] * v2[2] - v1[2] * v2[1],
             v1[2] * v2[0] - v1[0] * v2[2],
             v1[0] * v2[1] - v1[1] * v2[0])
        norm = math.sqrt(n[0] ** 2 + n[1] ** 2 + n[2] ** 2)
        if norm < 1e-10:
            raise ValueError("ob_tran: degenerate two-point pole spec "
                             "(coincident or antipodal points)")
        phip = math.asin(n[2] / norm)
        lamoff = math.atan2(n[1], n[0]) + math.pi
    else:
        raise ValueError("ob_tran: missing pole spec "
                         "(+o_lat_p/+o_lon_p or +o_lat_1/...)")
    return {
        "sphip": math.sin(phip), "cphip": math.cos(phip), "lamp": lamp,
        "lamoff": lamoff, "bfwd": fwd, "binv": inv, "bP": base_P,
    }


def _ob_rotate_fwd(lam, phi, P):
    lam = np.asarray(lam, dtype=np.float64) - P["lamoff"]
    sp, cp = fsin(phi), fcos(phi)
    sl, cl = fsin(lam), fcos(lam)
    phir = farcsin(np.clip(P["sphip"] * sp - P["cphip"] * cp * cl,
                           -1.0, 1.0))
    lamr = adjlon(np.arctan2(cp * sl, P["sphip"] * cp * cl
                             + P["cphip"] * sp) + P["lamp"])
    return lamr, phir


def _ob_rotate_inv(lamr, phir, P):
    lamr = np.asarray(lamr, dtype=np.float64) - P["lamp"]
    sp, cp = fsin(phir), fcos(phir)
    sl, cl = fsin(lamr), fcos(lamr)
    phi = farcsin(np.clip(P["sphip"] * sp + P["cphip"] * cp * cl,
                          -1.0, 1.0))
    lam = adjlon(np.arctan2(cp * sl,
                            P["sphip"] * cp * cl - P["cphip"] * sp)
                 + P["lamoff"])
    return lam, phi


def ob_tran_fwd(lam, phi, P):
    lamr, phir = _ob_rotate_fwd(lam, phi, P)
    return P["bfwd"](lamr, phir, P["bP"])


def ob_tran_inv(x, y, P):
    lamr, phir = P["binv"](x, y, P["bP"])
    return _ob_rotate_inv(lamr, phir, P)


PROJECTIONS = {
    "longlat": (longlat_setup, longlat_fwd, longlat_inv),
    "latlong": (longlat_setup, longlat_fwd, longlat_inv),
    "merc": (merc_setup, merc_fwd, merc_inv),
    "webmerc": (webmerc_setup, webmerc_fwd, webmerc_inv),
    "tmerc": (tmerc_setup, tmerc_fwd, tmerc_inv),
    "etmerc": (tmerc_setup, tmerc_fwd, tmerc_inv),
    "utm": (tmerc_setup, tmerc_fwd, tmerc_inv),
    "lcc": (lcc_setup, lcc_fwd, lcc_inv),
    "laea": (laea_setup, laea_fwd, laea_inv),
    "sterea": (sterea_setup, sterea_fwd, sterea_inv),
    "eqearth": (eqearth_setup, eqearth_fwd, eqearth_inv),
    "aea": (aea_setup, aea_fwd, aea_inv),
    "geos": (geos_setup, geos_fwd, geos_inv),
    "eqc": (eqc_setup, eqc_fwd, eqc_inv),
    "cea": (cea_setup, cea_fwd, cea_inv),
    "moll": (moll_setup, moll_fwd, moll_inv),
    "stere": (stere_setup, stere_fwd, stere_inv),
    "ups": (stere_setup, stere_fwd, stere_inv),
    "sinu": (sinu_setup, sinu_fwd, sinu_inv),
    "aeqd": (aeqd_setup, aeqd_fwd, aeqd_inv),
    "ortho": (ortho_setup, ortho_fwd, ortho_inv),
    "cass": (cass_setup, cass_fwd, cass_inv),
    "gnom": (gnom_setup, gnom_fwd, gnom_inv),
    "krovak": (krovak_setup, krovak_fwd, krovak_inv),
    "omerc": (omerc_setup, omerc_fwd, omerc_inv),
    "somerc": (somerc_setup, omerc_fwd, omerc_inv),
    "robin": (robin_setup, robin_fwd, robin_inv),
    "natearth": (natearth_setup, natearth_fwd, natearth_inv),
    "eck4": (eck4_setup, eck4_fwd, eck4_inv),
    "mill": (mill_setup, mill_fwd, mill_inv),
    "wintri": (wintri_setup, wintri_fwd, wintri_inv),
    "hammer": (hammer_setup, hammer_fwd, hammer_inv),
    "bonne": (bonne_setup, bonne_fwd, bonne_inv),
    "eqdc": (eqdc_setup, eqdc_fwd, eqdc_inv),
    "aitoff": (aitoff_setup, aitoff_fwd, aitoff_inv),
    "eck6": (eck6_setup, eck6_fwd, eck6_inv),
    "gall": (gall_setup, gall_fwd, gall_inv),
    "vandg": (vandg_setup, vandg_fwd, vandg_inv),
    "igh": (igh_setup, igh_fwd, igh_inv),
    "tpeqd": (tpeqd_setup, tpeqd_fwd, tpeqd_inv),
    "nzmg": (nzmg_setup, nzmg_fwd, nzmg_inv),
    "poly": (poly_setup, poly_fwd, poly_inv),
    "nsper": (nsper_setup, nsper_fwd, nsper_inv),
    "tpers": (nsper_setup, nsper_fwd, nsper_inv),
    "tcea": (tcea_setup, tcea_fwd, tcea_inv),
    "collg": (collg_setup, collg_fwd, collg_inv),
    "cc": (cc_setup, cc_fwd, cc_inv),
    "goode": (goode_setup, goode_fwd, goode_inv),
    "ob_tran": (ob_tran_setup, ob_tran_fwd, ob_tran_inv),
}
