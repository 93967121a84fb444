"""Reprojection tests (reference expr.py:255-257 accepts any pyproj CRS;
the engine implements each family closed-form in geometry/projections.py
— these pin the UTM Krüger series and the presets against independent
math, and to_crs's symbolic and WKB paths against each other)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import dask_geopandas_spark as dgs
from dask_geopandas_spark.geometry import projections as P

# WGS84 and the UTM grid scale, written out independently of the engine
_R, _WGS84_F, _UTM_K0 = 6378137.0, 1.0 / 298.257223563, 0.9996


def _utm(code: int):
    """The resolver's projection for an EPSG UTM code."""
    return P.resolve(f"EPSG:{code}")[1]


class TestUtmKernel:
    def test_meridian_arc_anchor(self):
        """Northing on the central meridian must equal k0 × the meridian
        arc — computed here by an INDEPENDENT numerical integration of
        the ellipsoid's meridian curvature radius (no shared code with
        the projection)."""
        e2 = _WGS84_F * (2 - _WGS84_F)
        for lat in (10.0, 45.0, 80.0):
            t = np.linspace(0, np.deg2rad(lat), 400001)
            arc = np.trapz(_R * (1 - e2) / (1 - e2 * np.sin(t) ** 2) ** 1.5, t)
            E, N = _utm(32632).forward(P.NP, np.array([9.0]), np.array([lat]))
            assert E[0] == pytest.approx(500000.0, abs=1e-6)
            assert N[0] == pytest.approx(_UTM_K0 * arc, abs=1e-3)

    def test_roundtrip_across_zone(self):
        rng = np.random.RandomState(0)
        lon = 9 + rng.uniform(-12, 12, 500)
        lat = rng.uniform(-80, 80, 500)
        E, N = _utm(32632).forward(P.NP, lon, lat)
        lon2, lat2 = _utm(32632).inverse(P.NP, E, N)
        assert np.abs(lon2 - lon).max() < 1e-8
        assert np.abs(lat2 - lat).max() < 1e-8

    def test_south_false_northing(self):
        E, N = _utm(32732).forward(P.NP, np.array([9.0]), np.array([-30.0]))
        En, Nn = _utm(32632).forward(P.NP, np.array([9.0]), np.array([-30.0]))
        assert N[0] == pytest.approx(Nn[0] + 10000000.0, abs=1e-9)

    def test_scale_factor_at_central_meridian(self):
        """dE/dlon at the equator on the meridian ≈ k0 × a (the defining
        0.9996 grid scale)."""
        d = 1e-6
        E1, _ = _utm(32632).forward(P.NP, np.array([9.0 - d]), np.array([0.0]))
        E2, _ = _utm(32632).forward(P.NP, np.array([9.0 + d]), np.array([0.0]))
        scale = (E2[0] - E1[0]) / (np.deg2rad(2 * d) * _R)
        assert scale == pytest.approx(_UTM_K0, rel=1e-6)


class TestToCrsUtm:
    def test_symbolic_native_matches_numpy(self, spark):
        pdf = pd.DataFrame({"id": np.arange(20, dtype="int64"),
                            "lon": np.linspace(3, 27, 20),
                            "lat": np.linspace(-60, 60, 20)})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        u = g.to_crs("EPSG:32633")
        assert u.crs == "EPSG:32633"
        got = (u.df.withColumn("E", u.x).withColumn("N", u.y)
               .select("id", "E", "N").toPandas().sort_values("id"))
        E, N = _utm(32633).forward(P.NP, pdf["lon"].to_numpy(),
                                   pdf["lat"].to_numpy())
        np.testing.assert_allclose(got["E"].to_numpy(), E, atol=1e-6)
        np.testing.assert_allclose(got["N"].to_numpy(), N, atol=1e-6)
        # native path: x/y consumers prune the (Python) WKB column away
        # entirely — the reprojection math itself is pure column algebra
        sel = (u.df.withColumn("E", u.x).withColumn("N", u.y)
               .select("id", "E", "N"))
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_wkb_udf_path_matches_symbolic(self, spark):
        """A frame whose geometry came from WKB (no symbolic hint) takes
        the Arrow-batched rewrite UDF — same numbers."""
        pdf = pd.DataFrame({"id": [0, 1, 2],
                            "lon": [5.0, 15.0, 25.0],
                            "lat": [-45.0, 0.0, 45.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        # round-trip through WKB to drop the symbolic hint
        flat = dgs.GeoDataFrame(g.df, "geometry", crs="EPSG:4326")
        u = flat.to_crs("EPSG:32633")
        got = {r["id"]: (r["E"], r["N"]) for r in
               u.df.withColumn("E", u.x).withColumn("N", u.y)
               .select("id", "E", "N").collect()}
        E, N = _utm(32633).forward(P.NP, pdf["lon"].to_numpy(),
                                   pdf["lat"].to_numpy())
        for i in range(3):
            assert got[i][0] == pytest.approx(E[i], abs=1e-6)
            assert got[i][1] == pytest.approx(N[i], abs=1e-6)

    def test_utm_inverse_to_4326(self, spark):
        pdf = pd.DataFrame({"id": [0, 1], "E": [500000.0, 300000.0],
                            "N": [4982950.4, 6000000.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "E", "N",
                               crs="EPSG:32633")
        b = g.to_crs("EPSG:4326")
        assert b.crs == "EPSG:4326"
        got = {r["id"]: (r["lon"], r["lat"]) for r in
               b.df.withColumn("lon", b.x).withColumn("lat", b.y)
               .select("id", "lon", "lat").collect()}
        lon, lat = _utm(32633).inverse(P.NP, pdf["E"].to_numpy(),
                                       pdf["N"].to_numpy())
        for i in range(2):
            assert got[i][0] == pytest.approx(lon[i], abs=1e-9)
            assert got[i][1] == pytest.approx(lat[i], abs=1e-9)

    def test_estimate_utm_crs(self, spark):
        pdf = pd.DataFrame({"lon": [14.0, 16.0], "lat": [40.0, 50.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        assert g.estimate_utm_crs() == "EPSG:32633"
        # -61° sits inside zone 20 ([-66,-60)); southern hemisphere
        pdf2 = pd.DataFrame({"lon": [-61.0], "lat": [-20.0]})
        g2 = dgs.points_from_xy(spark.createDataFrame(pdf2), "lon", "lat",
                                crs="EPSG:4326")
        assert g2.estimate_utm_crs() == "EPSG:32720"

    def test_unsupported_pair_still_raises(self, spark):
        pdf = pd.DataFrame({"lon": [0.0], "lat": [0.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        with pytest.raises(NotImplementedError):
            g.to_crs("EPSG:31370")


class TestProjectionKernels:
    """Snyder-family presets (geometry/projections.py): anchors at each
    projection's natural origin, published test values, roundtrips, and
    equal-area/conformality invariants checked by independent math."""

    def test_origins_map_to_false_offsets(self):
        import numpy as np

        from dask_geopandas_spark.geometry import projections as P

        anchors = {2154: ((3.0, 46.5), (700000.0, 6600000.0)),
                   5070: ((-96.0, 23.0), (0.0, 0.0)),
                   3035: ((10.0, 52.0), (4321000.0, 3210000.0)),
                   3395: ((0.0, 0.0), (0.0, 0.0))}
        for code, ((lo, la), (ex, ey)) in anchors.items():
            x, y = P.PRESETS[code].forward(P.NP, np.array([lo]), np.array([la]))
            assert x[0] == pytest.approx(ex, abs=1e-6)
            assert y[0] == pytest.approx(ey, abs=1e-6)

    def test_published_values(self):
        """Paris in Lambert-93 and the 3395 y(45°N) ordinate, both
        widely published."""
        from dask_geopandas_spark.geometry import projections as P

        x, y = P.PRESETS[2154].forward(P.NP, np.array([2.3522]),
                                       np.array([48.8566]))
        assert x[0] == pytest.approx(652469.02, abs=0.5)
        assert y[0] == pytest.approx(6862035.26, abs=0.5)
        _, y = P.PRESETS[3395].forward(P.NP, np.array([0.0]),
                                       np.array([45.0]))
        assert y[0] == pytest.approx(5591295.9186, abs=0.01)

    def test_roundtrips(self):
        from dask_geopandas_spark.geometry import projections as P

        rng = np.random.RandomState(7)
        lon = rng.uniform(-10, 20, 500)
        lat = rng.uniform(35, 60, 500)
        for code in (2154, 5070, 3035, 3395):
            pr = P.PRESETS[code]
            x, y = pr.forward(P.NP, lon, lat)
            lo, la = pr.inverse(P.NP, x, y)
            assert np.abs(lo - lon).max() < 1e-7
            assert np.abs(la - lat).max() < 1e-7

    def test_albers_preserves_area(self):
        """Equal-area check by independent math: the projected area of a
        small cell must equal its ellipsoidal authalic area."""
        from dask_geopandas_spark.geometry import projections as P

        pr = P.PRESETS[5070]
        d = 0.01
        lon0, lat0 = -90.0, 40.0
        corners_lon = np.array([lon0, lon0 + d, lon0 + d, lon0])
        corners_lat = np.array([lat0, lat0, lat0 + d, lat0 + d])
        x, y = pr.forward(P.NP, corners_lon, corners_lat)
        proj_area = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))
        # ellipsoidal patch area: a²(1-e²) ∫∫ cosφ/(1-e²sin²φ)² dφ dλ
        a, e = pr.a, pr.e
        phis = np.linspace(np.deg2rad(lat0), np.deg2rad(lat0 + d), 2001)
        integrand = np.cos(phis) / (1 - (e * np.sin(phis)) ** 2) ** 2
        true_area = a * a * (1 - e * e) * np.trapz(integrand, phis) * np.deg2rad(d)
        assert proj_area == pytest.approx(true_area, rel=1e-6)

    def test_lcc_scale_isotropy(self):
        """Conformality check: at any point, east and north ground-scale
        factors of the LCC must match (independent finite differences
        against ellipsoid radii)."""
        from dask_geopandas_spark.geometry import projections as P

        pr = P.PRESETS[2154]
        a, e = pr.a, pr.e
        lon0, lat0 = 2.0, 47.3
        d = 1e-6
        xE, yE = pr.forward(P.NP, np.array([lon0 - d, lon0 + d]),
                            np.array([lat0, lat0]))
        xN, yN = pr.forward(P.NP, np.array([lon0, lon0]),
                            np.array([lat0 - d, lat0 + d]))
        phi = np.deg2rad(lat0)
        W = np.sqrt(1 - (e * np.sin(phi)) ** 2)
        nu, rho = a / W, a * (1 - e * e) / W**3          # prime-vertical / meridian radii
        kE = np.hypot(xE[1] - xE[0], yE[1] - yE[0]) / (np.deg2rad(2 * d) * nu * np.cos(phi))
        kN = np.hypot(xN[1] - xN[0], yN[1] - yN[0]) / (np.deg2rad(2 * d) * rho)
        assert kE == pytest.approx(kN, rel=1e-6)


class TestToCrsPresets:
    def test_symbolic_native_matches_numpy(self, spark):
        from dask_geopandas_spark.geometry import projections as P

        pdf = pd.DataFrame({"id": np.arange(12, dtype="int64"),
                            "lon": np.linspace(-5, 9, 12),
                            "lat": np.linspace(42, 51, 12)})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        for code in (2154, 5070, 3035, 3395):
            u = g.to_crs(f"EPSG:{code}")
            assert u.crs == f"EPSG:{code}"
            got = (u.df.withColumn("E", u.x).withColumn("N", u.y)
                   .select("id", "E", "N").toPandas().sort_values("id"))
            E, N = P.PRESETS[code].forward(P.NP, pdf["lon"].to_numpy(),
                                           pdf["lat"].to_numpy())
            np.testing.assert_allclose(got["E"].to_numpy(), E, atol=1e-6)
            np.testing.assert_allclose(got["N"].to_numpy(), N, atol=1e-6)
            sel = (u.df.withColumn("E", u.x).withColumn("N", u.y)
                   .select("id", "E", "N"))
            plan = sel._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_wkb_udf_inverse_roundtrip(self, spark):
        pdf = pd.DataFrame({"id": [0, 1, 2], "lon": [2.35, -1.5, 7.0],
                            "lat": [48.85, 43.6, 48.6]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        flat = dgs.GeoDataFrame(g.df, "geometry", crs="EPSG:4326")  # drop hint
        back = flat.to_crs("EPSG:2154").to_crs("EPSG:4326")
        got = {r["id"]: (r["lon2"], r["lat2"]) for r in
               back.df.withColumn("lon2", back.x).withColumn("lat2", back.y)
               .select("id", "lon2", "lat2").collect()}
        for i in range(3):
            assert got[i][0] == pytest.approx(pdf["lon"][i], abs=1e-7)
            assert got[i][1] == pytest.approx(pdf["lat"][i], abs=1e-7)

    def test_projected_to_projected_chain(self, spark):
        """3857 → 2154 composes 3857's inverse with 2154's forward and
        stays native for symbolic layers."""
        from dask_geopandas_spark.core import _lonlat_to_mercator
        from dask_geopandas_spark.geometry import projections as P

        pdf = pd.DataFrame({"id": [0, 1], "lon": [2.35, 5.0],
                            "lat": [48.85, 45.0]})
        mx, my = _lonlat_to_mercator(pdf["lon"].to_numpy(),
                                     pdf["lat"].to_numpy())
        mdf = pd.DataFrame({"id": pdf["id"], "mx": mx, "my": my})
        g = dgs.points_from_xy(spark.createDataFrame(mdf), "mx", "my",
                               crs="EPSG:3857")
        u = g.to_crs("EPSG:2154")
        assert u.crs == "EPSG:2154"
        got = {r["id"]: (r["E"], r["N"]) for r in
               u.df.withColumn("E", u.x).withColumn("N", u.y)
               .select("id", "E", "N").collect()}
        E, N = P.PRESETS[2154].forward(P.NP, pdf["lon"].to_numpy(),
                                       pdf["lat"].to_numpy())
        for i in range(2):
            assert got[i][0] == pytest.approx(E[i], abs=1e-5)
            assert got[i][1] == pytest.approx(N[i], abs=1e-5)


class TestProjStrings:
    """+proj= parameter-string support (geometry/projections.py
    parse_projection): arbitrary parameterizations of the implemented
    families, pinned against the EPSG presets and the engine UTM path."""

    def test_lcc_string_equals_preset(self):
        from dask_geopandas_spark.geometry import projections as P

        pr = P.parse_projection(
            "+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 "
            "+x_0=700000 +y_0=6600000 +ellps=GRS80")
        lon = np.array([2.3522, -1.5]); lat = np.array([48.8566, 43.6])
        for a, b in zip(pr.forward(P.NP, lon, lat),
                        P.PRESETS[2154].forward(P.NP, lon, lat)):
            np.testing.assert_array_equal(a, b)

    def test_utm_string_equals_epsg_code(self):
        tm = P.parse_projection("+proj=utm +zone=33 +ellps=WGS84")
        lon = np.linspace(9, 21, 50); lat = np.linspace(-70, 70, 50)
        E1, N1 = tm.forward(P.NP, lon, lat)
        E2, N2 = _utm(32633).forward(P.NP, lon, lat)
        np.testing.assert_array_equal(E1, E2)
        np.testing.assert_array_equal(N1, N2)
        for a, b in zip(tm.inverse(P.NP, E1, N1),
                        _utm(32633).inverse(P.NP, E1, N1)):
            np.testing.assert_array_equal(a, b)
        south = P.parse_projection("+proj=utm +zone=33 +south +ellps=WGS84")
        _, Ns = south.forward(P.NP, np.array([15.0]), np.array([-30.0]))
        _, Nn = tm.forward(P.NP, np.array([15.0]), np.array([-30.0]))
        assert Ns[0] == pytest.approx(Nn[0] + 10000000.0, abs=1e-6)

    def test_tmerc_lat0_k0_offsets(self):
        from dask_geopandas_spark.geometry import projections as P

        gk = P.parse_projection(
            "+proj=tmerc +lat_0=40 +lon_0=10 +k_0=0.9999 "
            "+x_0=200000 +y_0=100000 +ellps=GRS80")
        x, y = gk.forward(P.NP, np.array([10.0]), np.array([40.0]))
        assert (x[0], y[0]) == (200000.0, 100000.0)  # origin anchor
        rng = np.random.RandomState(2)
        lon = rng.uniform(5, 15, 200); lat = rng.uniform(30, 55, 200)
        xx, yy = gk.forward(P.NP, lon, lat)
        lo, la = gk.inverse(P.NP, xx, yy)
        assert np.abs(lo - lon).max() < 1e-8
        assert np.abs(la - lat).max() < 1e-7

    def test_lcc_1sp_limit(self):
        from dask_geopandas_spark.geometry import projections as P

        one = P.parse_projection(
            "+proj=lcc +lat_1=45 +lat_2=45 +lat_0=45 +lon_0=0 +ellps=WGS84")
        assert one.n == pytest.approx(np.sin(np.deg2rad(45)), abs=1e-15)
        x, y = one.forward(P.NP, np.array([0.0]), np.array([45.0]))
        assert (x[0], y[0]) == (0.0, 0.0)

    def test_custom_ellipsoid_and_errors(self):
        from dask_geopandas_spark.geometry import projections as P

        pr = P.parse_projection(
            "+proj=merc +a=6378137 +rf=298.257223563")
        assert pr.a == 6378137.0
        assert P.parse_projection("EPSG:4326") is None
        with pytest.raises(NotImplementedError, match="proj=ortho"):
            P.parse_projection("+proj=ortho +lat_0=0")
        with pytest.raises(NotImplementedError, match="ellipsoid"):
            P.parse_projection("+proj=merc +ellps=bessel")

    def test_to_crs_proj_string_native(self, spark):
        """to_crs accepts a +proj string end-to-end; symbolic point
        layers stay native, and the label round-trips on .crs."""
        from dask_geopandas_spark.geometry import projections as P

        s = ("+proj=tmerc +lat_0=40 +lon_0=10 +k_0=0.9999 "
             "+x_0=200000 +y_0=100000 +ellps=GRS80")
        pdf = pd.DataFrame({"id": [0, 1, 2], "lon": [8.0, 10.0, 12.5],
                            "lat": [38.0, 40.0, 47.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "lon", "lat",
                               crs="EPSG:4326")
        u = g.to_crs(s)
        assert u.crs == s
        got = (u.df.withColumn("E", u.x).withColumn("N", u.y)
               .select("id", "E", "N").toPandas().sort_values("id"))
        E, N = P.parse_projection(s).forward(
            P.NP, pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        np.testing.assert_allclose(got["E"].to_numpy(), E, atol=1e-6)
        np.testing.assert_allclose(got["N"].to_numpy(), N, atol=1e-6)
        plan = (u.df.withColumn("E", u.x).select("id", "E")
                ._jdf.queryExecution().executedPlan().toString())
        assert "ArrowEvalPython" not in plan
        # and back again
        back = u.to_crs("EPSG:4326")
        got2 = (back.df.withColumn("lon2", back.x).withColumn("lat2", back.y)
                .select("id", "lon2", "lat2").toPandas().sort_values("id"))
        np.testing.assert_allclose(got2["lon2"], pdf["lon"], atol=1e-8)
        np.testing.assert_allclose(got2["lat2"], pdf["lat"], atol=1e-8)


# lon/lat points inside each CRS's domain of use
_DOMAIN = {"EPSG:3857": ((-170, 170), (-80, 80)),
           "EPSG:3395": ((-170, 170), (-80, 80)),
           "EPSG:32633": ((9, 21), (1, 80)),
           "EPSG:32733": ((9, 21), (-80, -1)),
           "EPSG:2154": ((-5, 9), (42, 51)),
           "EPSG:5070": ((-125, -67), (24, 49)),
           "EPSG:3035": ((-10, 30), (35, 70))}


def _xy(g):
    rows = g.df.select("id", g.x.alias("x"), g.y.alias("y")).collect()
    rows.sort(key=lambda r: r["id"])
    return np.array([[r["x"], r["y"]] for r in rows])


class TestOneReprojectionPath:
    """Every to_crs leg is the source's inverse composed with the
    destination's forward, evaluated natively for symbolic points and by
    one WKB-rewrite UDF otherwise."""

    @pytest.mark.parametrize("src,dst", [
        ("EPSG:4326", "EPSG:3857"), ("EPSG:4326", "EPSG:3395"),
        ("EPSG:4326", "EPSG:32633"), ("EPSG:4326", "EPSG:32733"),
        ("EPSG:4326", "EPSG:2154"), ("EPSG:4326", "EPSG:5070"),
        ("EPSG:4326", "EPSG:3035"), ("EPSG:3857", "EPSG:2154")])
    def test_symbolic_and_wkb_paths_agree(self, spark, src, dst):
        (x0, x1), (y0, y1) = _DOMAIN[dst]
        lonlat = np.column_stack([np.linspace(x0, x1, 12),
                                  np.linspace(y0, y1, 12)])
        x, y = lonlat.T
        if src != "EPSG:4326":
            x, y = P.resolve(src)[1].forward(P.NP, x, y)
        pdf = pd.DataFrame({"id": np.arange(12, dtype="int64"), "x": x, "y": y})
        sym = dgs.points_from_xy(spark.createDataFrame(pdf), "x", "y", crs=src)
        wkb = dgs.GeoDataFrame(sym.df, "geometry", crs=src)  # drops the hint
        a, b = sym.to_crs(dst), wkb.to_crs(dst)
        assert a._xy is not None and b._xy is None
        got = _xy(a)
        np.testing.assert_allclose(got, _xy(b), rtol=0, atol=1e-6)
        # back to 4326 on both paths; the symbolic leg restarts from the
        # projected values (nesting the inverse series in the forward one
        # only grows the plan)
        pdf2 = pd.DataFrame({"id": pdf["id"], "x": got[:, 0], "y": got[:, 1]})
        sym2 = dgs.points_from_xy(spark.createDataFrame(pdf2), "x", "y", crs=dst)
        for g in (sym2.to_crs("EPSG:4326"), b.to_crs("EPSG:4326")):
            np.testing.assert_allclose(_xy(g), lonlat, rtol=0, atol=1e-7)

    def test_projected_to_projected_wkb_is_one_udf_pass(self, spark):
        pdf = pd.DataFrame({"id": [0, 1], "x": [2.35, 5.0], "y": [48.85, 45.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "x", "y",
                               crs="EPSG:4326").to_crs("EPSG:3857")
        u = dgs.GeoDataFrame(g.df, "geometry", crs="EPSG:3857").to_crs("EPSG:2154")
        plan = u.df.select("geometry")._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("_reproject(") == 1, plan

    def test_naive_layer_raises_reference_error(self, spark):
        pdf = pd.DataFrame({"x": [0.0], "y": [0.0]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "x", "y")
        assert g.crs is None
        with pytest.raises(ValueError, match="Cannot transform naive geometries. "
                           "Please set a crs on the object first."):
            g.to_crs("EPSG:3857")

    def test_output_labels_normalised(self, spark):
        pdf = pd.DataFrame({"x": [2.35], "y": [48.85]})
        g = dgs.points_from_xy(spark.createDataFrame(pdf), "x", "y",
                               crs="EPSG:4326")
        assert g.to_crs("epsg:3857").crs == "EPSG:3857"
        assert g.to_crs("epsg:2154").crs == "EPSG:2154"
        assert g.to_crs("2154").crs == "EPSG:2154"
        s = "+proj=utm +zone=31 +ellps=WGS84"
        assert g.to_crs(s).crs == s
        assert g.to_crs("EPSG:2154").to_crs("epsg:4326").crs == "EPSG:4326"

    def test_crs84_is_the_lonlat_hub(self, spark):
        for spelling in ("OGC:CRS84", "CRS84", "EPSG:4326", "epsg:4326",
                         "4326", "WGS84", "WGS 84"):
            assert P.is_geographic(spelling)
        assert not P.is_geographic("EPSG:3857")
        assert not P.is_geographic(None)
        pdf = pd.DataFrame({"id": [0, 1], "x": [2.35, -1.5], "y": [48.85, 43.6]})
        df = spark.createDataFrame(pdf)
        crs84 = dgs.points_from_xy(df, "x", "y", crs="OGC:CRS84")
        wgs = dgs.points_from_xy(df, "x", "y", crs="EPSG:4326")
        np.testing.assert_array_equal(_xy(crs84.to_crs("EPSG:3857")),
                                      _xy(wgs.to_crs("EPSG:3857")))
        same = crs84.to_crs("EPSG:4326")
        assert same.crs == "EPSG:4326" and same._xy is crs84._xy
