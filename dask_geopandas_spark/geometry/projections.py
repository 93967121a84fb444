"""Closed-form map projections: the one reprojection path of ``to_crs``.

The reference delegates ``to_crs`` to pyproj (reference
expr.py:255-257), which this package does not depend on.  This module
implements the classic conformal/equal-area families from the published
Snyder formulas (USGS PP 1395, "Map Projections — A Working Manual")
and Karney's Krüger series:

* spherical web Mercator      — EPSG:3857
* ellipsoidal Mercator        — EPSG:3395 (World Mercator)
* transverse Mercator         — the UTM grid EPSG:326xx/327xx
* Lambert conformal conic 2SP — EPSG:2154 (RGF93 / Lambert-93)
* Albers equal-area conic     — EPSG:5070 (NAD83 / CONUS Albers)
* Lambert azimuthal equal-area— EPSG:3035 (ETRS89 / LAEA Europe)

plus ``+proj=`` strings of these families.  ``resolve`` maps a CRS
string to its label and projection (``None`` for the WGS84 lon/lat
hub); every reprojection is the hub-relative ``inverse`` of the source
followed by the ``forward`` of the destination.

Each projection is written ONCE against a math *namespace* ``M`` and
evaluated two ways:

* ``M = NP``  — vectorized numpy, used by the Arrow-batched WKB
  rewrite UDF for arbitrary geometry layers;
* ``M = FC``  — ``pyspark.sql.functions``, used for symbolic point
  layers so the whole reprojection stays inside whole-stage codegen
  (zero Python in the plan).

Inverse latitudes use the conformal→geodetic and authalic→geodetic
series (Snyder eqs. 3-5 and 3-18) — no iteration, so the same formulas
are SQL-expressible for DuckDB oracles.  Numeric agreement with pyproj
is sub-millimeter across each projection's domain of use.
"""

from __future__ import annotations

import numpy as np

# ----------------------------------------------------------------------
# math namespaces
# ----------------------------------------------------------------------


class NP:
    sin = staticmethod(np.sin)
    cos = staticmethod(np.cos)
    tan = staticmethod(np.tan)
    asin = staticmethod(np.arcsin)
    atan = staticmethod(np.arctan)
    atan2 = staticmethod(np.arctan2)
    log = staticmethod(np.log)
    exp = staticmethod(np.exp)
    sqrt = staticmethod(np.sqrt)
    pow = staticmethod(np.power)
    rad = staticmethod(np.deg2rad)
    deg = staticmethod(np.rad2deg)
    sinh = staticmethod(np.sinh)
    cosh = staticmethod(np.cosh)
    atanh = staticmethod(np.arctanh)
    asinh = staticmethod(np.arcsinh)

    @staticmethod
    def clip(v, lo, hi):
        return np.clip(v, lo, hi)

    @staticmethod
    def wrap_lon(v):
        return np.mod(v + 180.0, 360.0) - 180.0


class FC:
    """pyspark.sql.functions facade (Columns combine with Python float
    literals natively)."""

    @staticmethod
    def _f():
        from pyspark.sql import functions as F
        return F

    sin = staticmethod(lambda v: FC._f().sin(v))
    cos = staticmethod(lambda v: FC._f().cos(v))
    tan = staticmethod(lambda v: FC._f().tan(v))
    asin = staticmethod(lambda v: FC._f().asin(v))
    atan = staticmethod(lambda v: FC._f().atan(v))
    atan2 = staticmethod(lambda a, b: FC._f().atan2(a, b))
    log = staticmethod(lambda v: FC._f().log(v))
    exp = staticmethod(lambda v: FC._f().exp(v))
    sqrt = staticmethod(lambda v: FC._f().sqrt(v))
    pow = staticmethod(lambda v, p: FC._f().pow(v, p))
    rad = staticmethod(lambda v: FC._f().radians(v))
    deg = staticmethod(lambda v: FC._f().degrees(v))
    sinh = staticmethod(lambda v: FC._f().sinh(v))
    cosh = staticmethod(lambda v: FC._f().cosh(v))
    atanh = staticmethod(lambda v: FC._f().atanh(v))
    asinh = staticmethod(lambda v: FC._f().asinh(v))

    @staticmethod
    def clip(v, lo, hi):
        F = FC._f()
        return F.least(F.greatest(v, F.lit(lo)), F.lit(hi))

    @staticmethod
    def wrap_lon(v):
        F = FC._f()
        return F.pmod(v + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)


# ----------------------------------------------------------------------
# ellipsoids & latitude series
# ----------------------------------------------------------------------
WGS84 = (6378137.0, 1.0 / 298.257223563)
GRS80 = (6378137.0, 1.0 / 298.257222101)


def _e_of(f: float) -> float:
    return (f * (2.0 - f)) ** 0.5


def _conformal_series(e2: float):
    """χ → φ coefficients (Snyder 3-5): sin2χ, sin4χ, sin6χ, sin8χ."""
    return (
        e2 / 2 + 5 * e2**2 / 24 + e2**3 / 12 + 13 * e2**4 / 360,
        7 * e2**2 / 48 + 29 * e2**3 / 240 + 811 * e2**4 / 11520,
        7 * e2**3 / 120 + 81 * e2**4 / 1120,
        4279 * e2**4 / 161280,
    )


def _authalic_series(e2: float):
    """β → φ coefficients (Snyder 3-18): sin2β, sin4β, sin6β."""
    return (
        e2 / 3 + 31 * e2**2 / 180 + 517 * e2**3 / 5040,
        23 * e2**2 / 360 + 251 * e2**3 / 3780,
        761 * e2**3 / 45360,
    )


def _apply_series(M, base, coeffs):
    out = base
    for j, c in enumerate(coeffs, start=1):
        out = out + c * M.sin(2.0 * j * base)
    return out


def _t_conf(M, e: float, phi):
    """Snyder 15-9 conformal t(φ)."""
    s = M.sin(phi)
    return M.tan(np.pi / 4.0 - phi / 2.0) / M.pow(
        (1.0 - e * s) / (1.0 + e * s), e / 2.0)


def _m_of(e: float, phi: float) -> float:
    return np.cos(phi) / np.sqrt(1.0 - (e * np.sin(phi)) ** 2)


def _q_auth(M, e: float, phi):
    """Snyder 3-12 authalic q(φ)."""
    s = M.sin(phi)
    return (1.0 - e * e) * (s / (1.0 - e * e * s * s)
                            - (1.0 / (2.0 * e))
                            * M.log((1.0 - e * s) / (1.0 + e * s)))


# ----------------------------------------------------------------------
# projection classes (forward/inverse over a math namespace, degrees in,
# meters out and vice versa)
# ----------------------------------------------------------------------
class WebMercator:
    """Spherical ("web") Mercator, EPSG:3857: the WGS84 semi-major axis
    as the sphere radius.  Neither direction wraps the longitude."""

    R = WGS84[0]

    def forward(self, M, lon, lat):
        phi = M.rad(M.clip(lat, -89.9999, 89.9999))
        return (M.rad(lon) * self.R,
                M.log(M.tan(np.pi / 4.0 + phi / 2.0)) * self.R)

    def inverse(self, M, x, y):
        return (M.deg(x / self.R),
                M.deg(2.0 * M.atan(M.exp(y / self.R)) - np.pi / 2.0))


class MercatorEll:
    """Ellipsoidal Mercator (Snyder ch. 7): y = −a·k0·ln t(φ)."""

    def __init__(self, ellps=WGS84, k0: float = 1.0, lon0: float = 0.0,
                 e0: float = 0.0, n0: float = 0.0):
        self.a, f = ellps
        self.ak = self.a * k0
        self.lon0, self.E0, self.N0 = lon0, e0, n0
        self.e = _e_of(f)
        self.chi = _conformal_series(self.e ** 2)

    def forward(self, M, lon, lat):
        phi = M.rad(M.clip(lat, -89.9999, 89.9999))
        return (self.E0 + self.ak * M.rad(lon - self.lon0),
                self.N0 - self.ak * M.log(_t_conf(M, self.e, phi)))

    def inverse(self, M, x, y):
        chi = np.pi / 2.0 - 2.0 * M.atan(M.exp(-(y - self.N0) / self.ak))
        return (M.wrap_lon(self.lon0 + M.deg((x - self.E0) / self.ak)),
                M.deg(_apply_series(M, chi, self.chi)))


class LambertConformal:
    """Lambert conformal conic, two standard parallels (Snyder ch. 15)."""

    def __init__(self, phi1, phi2, phi0, lon0, e0, n0, ellps=GRS80):
        self.a, f = ellps
        self.e = _e_of(f)
        self.lon0, self.E0, self.N0 = lon0, e0, n0
        p1, p2, p0 = map(np.deg2rad, (phi1, phi2, phi0))
        t1, t2, t0 = (_t_conf(NP, self.e, np.asarray(p))
                      for p in (p1, p2, p0))
        m1, m2 = _m_of(self.e, p1), _m_of(self.e, p2)
        if abs(phi1 - phi2) < 1e-9:
            # 1SP limit of the 2SP cone constant: n -> sin(phi1)
            self.n = float(np.sin(p1))
        else:
            self.n = float((np.log(m1) - np.log(m2))
                           / (np.log(t1) - np.log(t2)))
        assert self.n > 0, "southern-parallel LCC not configured"
        self.aF = float(self.a * m1 / (self.n * t1 ** self.n))
        self.rho0 = float(self.aF * t0 ** self.n)
        self.chi = _conformal_series(self.e ** 2)

    def forward(self, M, lon, lat):
        t = _t_conf(M, self.e, M.rad(lat))
        rho = self.aF * M.pow(t, self.n)
        th = self.n * M.rad(lon - self.lon0)
        return (self.E0 + rho * M.sin(th),
                self.N0 + self.rho0 - rho * M.cos(th))

    def inverse(self, M, x, y):
        dx = x - self.E0
        dy = self.rho0 - (y - self.N0)
        rho = M.sqrt(dx * dx + dy * dy)
        t = M.pow(rho / self.aF, 1.0 / self.n)
        lon = self.lon0 + M.deg(M.atan2(dx, dy) / self.n)
        chi = np.pi / 2.0 - 2.0 * M.atan(t)
        return lon, M.deg(_apply_series(M, chi, self.chi))


class AlbersEqualArea:
    """Albers equal-area conic, two standard parallels (Snyder ch. 14)."""

    def __init__(self, phi1, phi2, phi0, lon0, e0, n0, ellps=GRS80):
        self.a, f = ellps
        self.e = _e_of(f)
        self.lon0, self.E0, self.N0 = lon0, e0, n0
        p1, p2, p0 = map(np.deg2rad, (phi1, phi2, phi0))
        m1, m2 = _m_of(self.e, p1), _m_of(self.e, p2)
        q1, q2, q0 = (_q_auth(NP, self.e, p) for p in (p1, p2, p0))
        self.n = float((m1 * m1 - m2 * m2) / (q2 - q1))
        self.C = float(m1 * m1 + self.n * q1)
        self.rho0 = float(self.a * np.sqrt(self.C - self.n * q0) / self.n)
        self.qp = _q_auth(NP, self.e, np.pi / 2.0)
        self.beta = _authalic_series(self.e ** 2)

    def forward(self, M, lon, lat):
        q = _q_auth(M, self.e, M.rad(lat))
        rho = self.a * M.sqrt(self.C - self.n * q) / self.n
        th = self.n * M.rad(lon - self.lon0)
        return (self.E0 + rho * M.sin(th),
                self.N0 + self.rho0 - rho * M.cos(th))

    def inverse(self, M, x, y):
        dx = x - self.E0
        dy = self.rho0 - (y - self.N0)
        rho = M.sqrt(dx * dx + dy * dy)
        q = (self.C - rho * rho * self.n * self.n / (self.a * self.a)) / self.n
        lon = self.lon0 + M.deg(M.atan2(dx, dy) / self.n)
        beta = M.asin(M.clip(q / self.qp, -1.0, 1.0))
        return lon, M.deg(_apply_series(M, beta, self.beta))


class LambertAzimuthalEqualArea:
    """Ellipsoidal LAEA (Snyder ch. 24, oblique aspect)."""

    def __init__(self, phi0, lon0, e0, n0, ellps=GRS80):
        self.a, f = ellps
        self.e = _e_of(f)
        self.lon0, self.E0, self.N0 = lon0, e0, n0
        p0 = np.deg2rad(phi0)
        self.qp = _q_auth(NP, self.e, np.pi / 2.0)
        b0 = np.arcsin(_q_auth(NP, self.e, p0) / self.qp)
        self.sb0, self.cb0 = float(np.sin(b0)), float(np.cos(b0))
        self.Rq = float(self.a * np.sqrt(self.qp / 2.0))
        self.D = float(self.a * _m_of(self.e, p0) / (self.Rq * self.cb0))
        self.beta = _authalic_series(self.e ** 2)

    def forward(self, M, lon, lat):
        b = M.asin(M.clip(_q_auth(M, self.e, M.rad(lat)) / self.qp,
                          -1.0, 1.0))
        dl = M.rad(lon - self.lon0)
        denom = 1.0 + self.sb0 * M.sin(b) + self.cb0 * M.cos(b) * M.cos(dl)
        B = self.Rq * M.sqrt(2.0 / denom)
        return (self.E0 + B * self.D * M.cos(b) * M.sin(dl),
                self.N0 + (B / self.D) * (self.cb0 * M.sin(b)
                                          - self.sb0 * M.cos(b) * M.cos(dl)))

    def inverse(self, M, x, y):
        dx = (x - self.E0) / self.D
        dy = (y - self.N0) * self.D
        rho = M.sqrt(dx * dx + dy * dy)
        # guard the projection center (rho→0): sin(ce)/rho → 2/(2Rq)
        ce = 2.0 * M.asin(M.clip(rho / (2.0 * self.Rq), -1.0, 1.0))
        sce, cce = M.sin(ce), M.cos(ce)
        ratio = sce / (rho + 1e-300)
        b = M.asin(M.clip(cce * self.sb0 + dy * ratio * self.cb0, -1.0, 1.0))
        lon = self.lon0 + M.deg(M.atan2(
            dx * sce, rho * self.cb0 * cce - dy * self.sb0 * sce))
        return M.wrap_lon(lon), M.deg(_apply_series(M, b, self.beta))


class TransverseMercator:
    """Ellipsoidal transverse Mercator via the Krüger series (Karney
    2011, "Transverse Mercator with an accuracy of a few nanometers",
    public formulas), for any ellipsoid / central meridian / scale /
    origin; `utm` builds the UTM zones from it."""

    def __init__(self, lat0: float = 0.0, lon0: float = 0.0,
                 k0: float = 1.0, e0: float = 0.0, n0: float = 0.0,
                 ellps=WGS84):
        self.a, f = ellps
        self.e = _e_of(f)
        self.lon0, self.k0, self.E0 = lon0, k0, e0
        n = f / (2.0 - f)
        self.A1 = self.a / (1 + n) * (1 + n**2/4 + n**4/64 + n**6/256)
        self.al = [
            n/2 - 2*n**2/3 + 5*n**3/16 + 41*n**4/180 - 127*n**5/288
            + 7891*n**6/37800,
            13*n**2/48 - 3*n**3/5 + 557*n**4/1440 + 281*n**5/630
            - 1983433*n**6/1935360,
            61*n**3/240 - 103*n**4/140 + 15061*n**5/26880
            + 167603*n**6/181440,
            49561*n**4/161280 - 179*n**5/168 + 6601661*n**6/7257600,
            34729*n**5/80640 - 3418889*n**6/1995840,
            212378941*n**6/149504000,
        ]
        self.be = [
            n/2 - 2*n**2/3 + 37*n**3/96 - n**4/360 - 81*n**5/512
            + 96199*n**6/604800,
            n**2/48 + n**3/15 - 437*n**4/1440 + 46*n**5/105
            - 1118711*n**6/3870720,
            17*n**3/480 - 37*n**4/840 - 209*n**5/4480 + 5569*n**6/90720,
            4397*n**4/161280 - 11*n**5/504 - 830251*n**6/7257600,
            4583*n**5/161280 - 108847*n**6/3991680,
            20648693*n**6/638668800,
        ]
        self.de = [
            2*n - 2*n**2/3 - 2*n**3 + 116*n**4/45,
            7*n**2/3 - 8*n**3/5 - 227*n**4/45,
            56*n**3/15 - 136*n**4/35,
            4279*n**4/315,
        ]
        # false-northing origin: proj subtracts the central-meridian
        # northing of lat_0 (0 for lat_0 = 0)
        self.N0 = n0
        self._M0 = 0.0
        if lat0:
            self._M0 = float(self._raw(NP, np.array([lon0]),
                                       np.array([lat0]))[1][0])

    def _raw(self, M, lon, lat):
        lam = M.rad(lon - self.lon0)
        phi = M.rad(lat)
        s = M.sin(phi)
        t = M.sinh(M.atanh(s) - self.e * M.atanh(self.e * s))
        cl, sl = M.cos(lam), M.sin(lam)
        xi_p = M.atan2(t, cl)
        eta_p = M.asinh(sl / M.sqrt(t * t + cl * cl))
        xi, eta = xi_p, eta_p
        for j, a in enumerate(self.al, start=1):
            xi = xi + a * M.sin(2.0 * j * xi_p) * M.cosh(2.0 * j * eta_p)
            eta = eta + a * M.cos(2.0 * j * xi_p) * M.sinh(2.0 * j * eta_p)
        return self.k0 * self.A1 * eta, self.k0 * self.A1 * xi

    def forward(self, M, lon, lat):
        x, y = self._raw(M, lon, lat)
        return self.E0 + x, self.N0 - self._M0 + y

    def inverse(self, M, x, y):
        kA = self.k0 * self.A1
        xi = (y - self.N0 + self._M0) / kA
        eta = (x - self.E0) / kA
        xi_p, eta_p = xi, eta
        for j, b in enumerate(self.be, start=1):
            xi_p = xi_p - b * M.sin(2.0 * j * xi) * M.cosh(2.0 * j * eta)
            eta_p = eta_p - b * M.cos(2.0 * j * xi) * M.sinh(2.0 * j * eta)
        chi = M.asin(M.clip(M.sin(xi_p) / M.cosh(eta_p), -1.0, 1.0))
        phi = chi
        for j, d in enumerate(self.de, start=1):
            phi = phi + d * M.sin(2.0 * j * chi)
        lon = self.lon0 + M.deg(M.atan2(M.sinh(eta_p), M.cos(xi_p)))
        return M.wrap_lon(lon), M.deg(phi)


# ----------------------------------------------------------------------
# proj-string parsing — arbitrary parameterizations of the implemented
# families (+proj=merc/lcc/aea/laea/tmerc/utm)
# ----------------------------------------------------------------------
_ELLPS = {"WGS84": WGS84, "GRS80": GRS80,
          "wgs84": WGS84, "grs80": GRS80}


def parse_projection(crs: str):
    """Build a projection object from a proj4-style parameter string
    (``+proj=lcc +lat_1=49 ...``).  Returns None when ``crs`` is not a
    proj string; raises NotImplementedError for unsupported ``+proj``
    families.  Supported: merc, lcc (1SP and 2SP), aea, laea, tmerc,
    utm — with +lat_0/+lat_1/+lat_2/+lon_0/+k_0/+x_0/+y_0 and
    +ellps=WGS84|GRS80 (or +a/+rf); +datum=WGS84/NAD83 maps to its
    ellipsoid.  These families cover the vast majority of projected
    EPSG systems in practical use."""
    s = crs.strip()
    if not s.startswith("+"):
        return None
    kv = {}
    for tok in s.split():
        tok = tok.lstrip("+")
        if "=" in tok:
            k, v = tok.split("=", 1)
            kv[k] = v
        else:
            kv[tok] = True

    proj = kv.get("proj")
    if proj is None:
        raise ValueError("proj string lacks +proj=")
    if kv.get("a") and kv.get("rf"):
        ellps = (float(kv["a"]), 1.0 / float(kv["rf"]))
    else:
        name = kv.get("ellps") or {"WGS84": "WGS84", "NAD83": "GRS80",
                                   "ETRS89": "GRS80"}.get(
                                       str(kv.get("datum")), "WGS84")
        ellps = _ELLPS.get(str(name))
        if ellps is None:
            raise NotImplementedError(f"unsupported ellipsoid {name!r}")

    g = lambda k, d=0.0: float(kv.get(k, d))  # noqa: E731
    if proj == "merc":
        if float(kv.get("lat_ts", 0.0)):
            raise NotImplementedError("merc +lat_ts not supported")
        return MercatorEll(ellps, k0=g("k_0", g("k", 1.0)),
                           lon0=g("lon_0"), e0=g("x_0"), n0=g("y_0"))
    if proj == "lcc":
        lat1 = g("lat_1", g("lat_0"))
        return LambertConformal(phi1=lat1, phi2=g("lat_2", lat1),
                                phi0=g("lat_0"), lon0=g("lon_0"),
                                e0=g("x_0"), n0=g("y_0"), ellps=ellps)
    if proj == "aea":
        return AlbersEqualArea(phi1=g("lat_1"), phi2=g("lat_2"),
                               phi0=g("lat_0"), lon0=g("lon_0"),
                               e0=g("x_0"), n0=g("y_0"), ellps=ellps)
    if proj == "laea":
        return LambertAzimuthalEqualArea(phi0=g("lat_0"), lon0=g("lon_0"),
                                         e0=g("x_0"), n0=g("y_0"),
                                         ellps=ellps)
    if proj == "tmerc":
        return TransverseMercator(lat0=g("lat_0"), lon0=g("lon_0"),
                                  k0=g("k_0", g("k", 1.0)),
                                  e0=g("x_0"), n0=g("y_0"), ellps=ellps)
    if proj == "utm":
        zone = int(kv.get("zone", 0))
        if not 1 <= zone <= 60:
            raise ValueError("utm needs +zone=1..60")
        return utm(zone, bool(kv.get("south")), ellps)
    raise NotImplementedError(
        f"+proj={proj} not supported (merc, lcc, aea, laea, tmerc, utm are)")


def utm(zone: int, south: bool, ellps=WGS84) -> TransverseMercator:
    """UTM zone 1..60: central meridian 6·zone − 183, scale 0.9996,
    false easting 500 km, false northing 10 000 km in the south."""
    return TransverseMercator(lon0=zone * 6.0 - 183.0, k0=0.9996,
                              e0=500000.0, n0=10000000.0 if south else 0.0,
                              ellps=ellps)


# ----------------------------------------------------------------------
# EPSG presets and the CRS resolver
# ----------------------------------------------------------------------
PRESETS: dict = {
    3857: WebMercator(),
    3395: MercatorEll(WGS84),
    2154: LambertConformal(phi1=49.0, phi2=44.0, phi0=46.5, lon0=3.0,
                           e0=700000.0, n0=6600000.0, ellps=GRS80),
    5070: AlbersEqualArea(phi1=29.5, phi2=45.5, phi0=23.0, lon0=-96.0,
                          e0=0.0, n0=0.0, ellps=GRS80),
    3035: LambertAzimuthalEqualArea(phi0=52.0, lon0=10.0, e0=4321000.0,
                                    n0=3210000.0, ellps=GRS80),
}

# spellings of the WGS84 longitude/latitude CRS (GeoParquet's default
# is OGC:CRS84; EPSG:4326 is the same datum with lat/lon axis order,
# which WKB layers store as lon/lat all the same)
_GEOGRAPHIC = {"EPSG:4326", "4326", "OGC:CRS84", "CRS84", "WGS84", "WGS 84"}


def is_geographic(crs) -> bool:
    """True when ``crs`` spells the WGS84 lon/lat CRS (any case)."""
    return str(crs).strip().upper() in _GEOGRAPHIC


def resolve(crs: str):
    """``(label, projection)`` for a CRS string.  The projection is None
    for the WGS84 lon/lat hub.  EPSG codes (any case, or bare digits)
    are labelled ``EPSG:<code>``; ``+proj=`` strings and the other
    geographic spellings keep their text.  Raises NotImplementedError
    for a CRS none of the implemented families covers."""
    s = str(crs).strip()
    if s.startswith("+"):
        return s, parse_projection(s)
    u = s.upper()
    code = u[5:] if u.startswith("EPSG:") else u
    if code.isdigit():
        n = int(code)
        if n == 4326:
            return "EPSG:4326", None
        if n in PRESETS:
            return f"EPSG:{n}", PRESETS[n]
        if n // 100 in (326, 327) and 1 <= n % 100 <= 60:
            return f"EPSG:{n}", utm(n % 100, n // 100 == 327)
    elif is_geographic(s):
        return s, None
    raise NotImplementedError(
        f"CRS {crs!r} is not supported without pyproj; supported: "
        "EPSG:4326/OGC:CRS84, 3857, 3395, 2154, 5070, 3035, the UTM grid "
        "EPSG:326xx/327xx, and +proj= strings of the "
        "merc/lcc/aea/laea/tmerc/utm families")
