"""The four pipelines, their output checks, their traced prefixes and the
per-layer numbers each one reports.

Every pipeline goes through the engine's public API, from the generated
GeoParquet files to a result on the driver, and is checked against the
reference answers ``gen`` computed without the engine.  A pipeline's
traced prefixes end in Spark's ``noop`` sink (or a count), so the time a
layer adds is the difference between consecutive prefixes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import dask_geopandas_spark as dgs
from dask_geopandas_spark.functions import core as FX
from dask_geopandas_spark.geometry import algorithms as A
from dask_geopandas_spark.geometry import booleans as B
from dask_geopandas_spark.geometry import curves as C
from dask_geopandas_spark import core as CORE
from dask_geopandas_spark.geometry import wkb as W
from dask_geopandas_spark.operators.dissolve import merge_geometries
from gen import EXTENT

# Relative tolerance of every floating-point check except the buffer area.
RTOL = 1e-9
# Dissolved areas pass through the boolean kernel, which snaps coordinates
# to a fine grid.
DISSOLVE_RTOL = 1e-6
# Buffer areas are checked against A + P*d + pi*d^2, which the engine's
# 64-gon round joins undershoot by about 0.16 % of pi*d^2.
BUFFER_RTOL = 1e-3
# Seconds each in-process kernel rate is timed for.
RATE_S = 0.2


class Ctx:
    """What a pipeline run needs: the session, the tracer, the generated
    inputs and a scratch directory that is removed with the run."""

    def __init__(self, spark, tracer, inputs: dict, scratch: str):
        self.spark = spark
        self.tr = tracer
        self.dir = inputs["dir"]
        self.expect = inputs["expect"]
        self.rows = inputs["rows"]
        self.input_bytes = inputs["input_bytes"]
        self.scratch = scratch
        self._n = 0

    def path(self, layer: str) -> str:
        return os.path.join(self.dir, layer)

    def read(self, layer: str):
        with self.tr.span("sources.read_parquet"):
            return dgs.read_parquet(self.spark, self.path(layer))

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.scratch, f"{tag}-{self._n}")


class Outcome:
    """Checks attempted and failed by one pipeline run, plus what the run
    measured on the way (query latencies, bytes written, ...)."""

    def __init__(self, attempted: int, failed: int, **info):
        self.attempted = attempted
        self.failed = failed
        self.info = info


def noop(*frames) -> None:
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


def bbox_pairs(left, right) -> int:
    """Bbox-overlap candidate pairs, counted by the benchmark's own native
    broadcast join rather than the engine's."""
    lb, rb = left.with_bbox(), right.with_bbox()
    l = lb.df.select(F.col(lb.bbox_column).alias("l"))
    r = rb.df.select(F.col(rb.bbox_column).alias("r"))
    cond = ((F.col("l.minx") <= F.col("r.maxx")) & (F.col("l.maxx") >= F.col("r.minx"))
            & (F.col("l.miny") <= F.col("r.maxy")) & (F.col("l.maxy") >= F.col("r.miny")))
    return l.join(F.broadcast(r), cond).count()


def rate(fn, items: int) -> float:
    """Items per second of ``fn`` run in-process on the driver, repeated
    for at least ``RATE_S`` after one untimed call."""
    fn()
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= RATE_S:
            return items * n / dt


def sample_wkb(path: str, n: int) -> list:
    first = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    col = pq.read_table(os.path.join(path, first), columns=["geometry"]).column(0)
    return col.slice(0, n).to_pylist()


def rings(wkbs: list) -> list:
    """Closed (n, 2) coordinate arrays of single-ring polygons."""
    b = W.parse_wkb(wkbs)
    o = b.geom_coord_starts
    return [np.column_stack([b.xs[o[i]:o[i + 1]], b.ys[o[i]:o[i + 1]]])
            for i in range(b.n)]


def rel_err(got, want) -> float:
    return abs(got - want) / max(abs(want), 1e-300)


def failed(pipe: str, ok: bool, detail: str) -> int:
    """1 when a check failed, which is then reported on stderr."""
    if not ok:
        print(f"# CHECK FAILED {pipe}: {detail}", file=sys.stderr)
    return int(not ok)


# ----------------------------------------------------------------------

class PipJoin:
    """Clustered points within star polygons: sjoin, then count per polygon."""

    name = "pip_join"
    size = {"points": 15_000, "polygons": 500}

    def run(self, c: Ctx, k: int) -> Outcome:
        pts, polys = c.read("points"), c.read("polygons")
        with c.tr.span("operators.sjoin"):
            j = dgs.sjoin(pts, polys, predicate="within")
        with c.tr.span("collect"):
            got = dict(j.df.groupBy("zone").count().collect())
        want = c.expect["counts"]
        bad = [z for z in set(got) | set(range(len(want)))
               if got.get(z, 0) != (want[z] if 0 <= z < len(want) else 0)]
        return Outcome(1, failed(self.name, not bad,
                                 f"point counts differ for {len(bad)} polygons"),
                       result_pairs=sum(got.values()))

    def stages(self, c: Ctx) -> list:
        def scan():
            noop(c.read("points").df, c.read("polygons").df)

        def bbox():
            noop(c.read("points").with_bbox().df, c.read("polygons").with_bbox().df)

        return [("sources.scan", scan), ("core.with_bbox", bbox),
                ("sjoin.candidates",
                 lambda: bbox_pairs(c.read("points"), c.read("polygons"))),
                ("full", lambda: self.run(c, 0))]

    def layers(self, c: Ctx, p: dict) -> dict:
        pts_wkb = sample_wkb(c.path("points"), 20_000)
        polys_wkb = sample_wkb(c.path("polygons"), 1_000)
        polys = W.parse_wkb(polys_wkb)
        # one probe point per polygon, drawn inside the polygon's bbox, as
        # the sjoin refinement sees its (point, polygon) candidate pairs
        bb = A.bounds(polys)
        rng = np.random.default_rng(0)
        probe = W.parse_wkb(W.points_to_wkb(rng.uniform(bb[:, 0], bb[:, 2]),
                                            rng.uniform(bb[:, 1], bb[:, 3])))
        cand = p["sjoin.candidates"]["value"]
        result = p["full"]["value"].info["result_pairs"]
        return {
            "core.with_bbox_s": p["core.with_bbox"]["self_s"],
            "sjoin.candidate_pairs": cand,
            "sjoin.result_pairs": result,
            "sjoin.refine_hit_ratio": result / cand if cand else 0.0,
            "sjoin.candidate_s": p["sjoin.candidates"]["self_s"],
            "sjoin.refine_s": p["full"]["self_s"],
            "sjoin.shuffle_bytes": p["full"]["shuffle_write_bytes"],
            "wkb.decode_points_per_s": rate(lambda: W.parse_wkb(pts_wkb), len(pts_wkb)),
            "wkb.decode_polygons_per_s": rate(lambda: W.parse_wkb(polys_wkb), polys.n),
            "algorithms.pip_pairs_per_s": rate(
                lambda: A.pairwise_contains(polys, probe), polys.n),
        }


class PolygonMap:
    """Per-partition delegation: reproject star polygons, then area, length,
    centroid, validity and simplify, summed on the driver."""

    name = "polygon_map"
    size = {"polygons": 600}
    TOLERANCE_M = 100.0

    def _frame(self, c: Ctx):
        g = c.read("polygons").set_crs("EPSG:4326")
        with c.tr.span("core.to_crs"):
            return g.to_crs("EPSG:3857")

    def run(self, c: Ctx, k: int) -> Outcome:
        m = self._frame(c)
        with c.tr.span("functions.udf_plan"):
            geom = m.geometry
            cen = FX.st_centroid(geom)
            df = m.df.select(
                m.area.alias("area"), m.length.alias("length"),
                FX.st_x(cen).alias("cx"), FX.st_y(cen).alias("cy"),
                m.is_valid.cast("long").alias("valid"),
                FX.st_area(FX.simplify(self.TOLERANCE_M)(geom)).alias("sarea"))
        with c.tr.span("collect"):
            got = df.agg(F.count("*").alias("n"),
                         *[F.sum(col).alias(col) for col in df.columns]
                         ).collect()[0].asDict()
        e = c.expect
        ok = (got["n"] == e["n"] and got["valid"] == e["n"]
              and all(rel_err(got[k_], e[k_]) <= RTOL
                      for k_ in ("area", "length", "cx", "cy"))
              # Douglas-Peucker at 100 m moves a star polygon's area
              # by well under one percent
              and rel_err(got["sarea"], e["area"]) <= 0.01)
        return Outcome(1, failed(self.name, ok, f"got {got}, want {e}"))

    def stages(self, c: Ctx) -> list:
        return [("sources.scan", lambda: noop(c.read("polygons").df)),
                ("core.to_crs", lambda: noop(self._frame(c).df)),
                ("full", lambda: self.run(c, 0))]

    def layers(self, c: Ctx, p: dict) -> dict:
        wkbs = sample_wkb(c.path("polygons"), 500)
        batch = W.parse_wkb(wkbs)
        # to_crs("EPSG:3857") runs this closed form inside its WKB-rewrite
        # UDF; the projections module is not on the pipeline's path
        x, y = CORE._lonlat_to_mercator(batch.xs, batch.ys)
        s = pd.Series(W.rewrite_coords(batch, x, y))
        simplify = FX.simplify(self.TOLERANCE_M).func

        def udfs():
            # the pipeline's UDFs, called in-process on projected rows
            FX.st_area.func(s), FX.st_length.func(s), FX.st_isvalid.func(s)
            cen = FX.st_centroid.func(s)
            FX.st_x.func(cen), FX.st_y.func(cen)
            FX.st_area.func(simplify(s))

        udf_cpu = p["full"]["run_s"] - p["core.to_crs"]["run_s"]
        return {
            "core.to_crs_s": p["core.to_crs"]["self_s"],
            "functions.udf_stage_s": p["full"]["self_s"],
            "functions.udf_overhead_ratio": udf_cpu / c.rows * rate(udfs, batch.n),
            "wkb.decode_polygons_per_s": rate(lambda: W.parse_wkb(wkbs), batch.n),
            "wkb.encode_rows_per_s": rate(
                lambda: W.rewrite_coords(batch, x, y), batch.n),
            "algorithms.area_rows_per_s": rate(lambda: A.area(batch), batch.n),
            "validity.rows_per_s": rate(lambda: FX.st_isvalid.func(s), batch.n),
            "core.mercator_coords_per_s": rate(
                lambda: CORE._lonlat_to_mercator(batch.xs, batch.ys), len(batch.xs)),
        }


class LayoutScan:
    """Hilbert-shuffle points, write GeoParquet with a bbox covering, then
    read seeded windows of mixed size back from the written dataset."""

    name = "layout_scan"
    size = {"points": 30_000, "queries": 96}
    QUERIES_PER_RUN = 3

    def _shuffled(self, c: Ctx):
        g = c.read("points")
        with c.tr.span("core.spatial_shuffle"):
            return g.spatial_shuffle("hilbert")

    def run(self, c: Ctx, k: int) -> Outcome:
        out = c.fresh_dir("layout")
        t0 = time.perf_counter()
        with c.tr.span("sources.to_parquet"):
            self._shuffled(c).to_parquet(out, write_covering=True)
        write_s = time.perf_counter() - t0
        files = [os.path.join(out, f) for f in os.listdir(out)
                 if f.endswith(".parquet")]
        rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
        stored = sum(os.path.getsize(f) for f in files)
        footer, lat, returned, bad = [], [], 0, 0
        wins, want = c.expect["windows"], c.expect["counts"]
        for q in range(k * self.QUERIES_PER_RUN, (k + 1) * self.QUERIES_PER_RUN):
            q %= len(wins)
            t0 = time.perf_counter()
            with c.tr.span("sources.read_parquet"):
                r = dgs.read_parquet(c.spark, out)
            t1 = time.perf_counter()
            with c.tr.span("core.cx"):
                n = r.cx(*wins[q]).count()
            footer.append(t1 - t0)
            lat.append(time.perf_counter() - t0)
            returned += n
            bad += failed(self.name, n == want[q],
                          f"window {wins[q]} returned {n} rows, want {want[q]}")
        shutil.rmtree(out)
        bad += failed(self.name, sum(rows) == c.rows,
                      f"wrote {sum(rows)} rows, want {c.rows}")
        return Outcome(
            1 + len(lat), bad,
            write_s=write_s, query_s=lat, footer_s=footer, returned=returned,
            stored_bytes=stored, stored_ratio=stored / c.input_bytes,
            files=len(files),
            skew=max(rows) / statistics.median(rows))

    def stages(self, c: Ctx) -> list:
        return [("sources.scan", lambda: noop(c.read("points").df)),
                ("core.with_bbox", lambda: noop(c.read("points").with_bbox().df)),
                ("core.spatial_shuffle", lambda: noop(self._shuffled(c).df)),
                ("full", lambda: self.run(c, 0))]

    def layers(self, c: Ctx, p: dict) -> dict:
        full = p["full"]
        info = full["value"].info
        x0, y0, x1, y1 = EXTENT
        rng = np.random.default_rng(0)
        x, y = rng.uniform(x0, x1, 100_000), rng.uniform(y0, y1, 100_000)
        pts_wkb = sample_wkb(c.path("points"), 20_000)
        return {
            "core.with_bbox_s": p["core.with_bbox"]["self_s"],
            "core.spatial_shuffle_s": p["core.spatial_shuffle"]["self_s"],
            "core.shuffle_bytes": full["span:sources.to_parquet"]["shuffle_write_bytes"],
            "core.partition_skew": info["skew"],
            "sources.write_s": max(full["span:sources.to_parquet"]["s"]
                                   - p["core.spatial_shuffle"]["s"], 0.0),
            "sources.bytes_written": info["stored_bytes"],
            "sources.files_written": info["files"],
            "sources.footer_s": statistics.median(info["footer_s"]),
            "sources.rows_scanned_per_row_returned":
                full["span:core.cx"]["input_records"] / max(info["returned"], 1),
            "wkb.decode_points_per_s": rate(lambda: W.parse_wkb(pts_wkb), len(pts_wkb)),
            "curves.hilbert_keys_per_s": rate(
                lambda: C.hilbert_from_bounds(x, y, x, y, EXTENT), len(x)),
        }


class PolygonBoolean:
    """Overlay two polygon layers, dissolve the pieces by group, then buffer
    a sample spread over the left layer."""

    name = "polygon_boolean"
    size = {"polygons": 48, "groups": 16, "buffered": 4}

    def _overlay(self, c: Ctx):
        a, b = c.read("left"), c.read("right")
        with c.tr.span("operators.overlay"):
            return dgs.overlay(a, b, how="intersection")

    def _dissolved(self, c: Ctx):
        ov = self._overlay(c)
        with c.tr.span("operators.dissolve"):
            dis = ov.dissolve(by="grp")
        with c.tr.span("collect"):
            return dict(dis.df.select("grp", dis.area).collect())

    def run(self, c: Ctx, k: int) -> Outcome:
        e = c.expect
        got = self._dissolved(c)
        want = {g: a for g, a in enumerate(e["group_area"]) if a > 0}
        bad = failed(self.name, set(got) == set(want) and all(
            rel_err(got[g], want[g]) <= DISSOLVE_RTOL for g in want),
            f"dissolved group areas {got}, want {want}")
        a = c.read("left")
        with c.tr.span("core.buffer"):
            buf = (a.filter(F.col("aid").isin(e["buffer_ids"]))
                   .buffer(e["buffer_distance"]))
            area = buf.df.agg(F.sum(buf.area)).collect()[0][0]
        bad |= failed(self.name, rel_err(area, e["buffer_area"]) <= BUFFER_RTOL,
                      f"buffered area {area}, want {e['buffer_area']}")
        return Outcome(1, bad)

    def stages(self, c: Ctx) -> list:
        def bbox():
            noop(c.read("left").with_bbox().df, c.read("right").with_bbox().df)

        return [("sources.scan", lambda: noop(c.read("left").df, c.read("right").df)),
                ("core.with_bbox", bbox),
                ("overlay.candidates",
                 lambda: bbox_pairs(c.read("left"), c.read("right"))),
                ("overlay", lambda: self._overlay(c).df.select("grp", "geometry").collect()),
                ("dissolve", lambda: self._dissolved(c)),
                ("full", lambda: self.run(c, 0))]

    def layers(self, c: Ctx, p: dict) -> dict:
        pieces = p["overlay"]["value"]
        cand = p["overlay.candidates"]["value"]
        # the k-th polygons of the two grid layers sit half a cell apart
        # diagonally, so their bboxes always overlap: candidate pairs
        pairs = list(zip(rings(sample_wkb(c.path("left"), 64)),
                         rings(sample_wkb(c.path("right"), 64))))
        one_group = [r["geometry"] for r in pieces if r["grp"] == pieces[0]["grp"]]
        n_buf = len(c.expect["buffer_ids"])
        return {
            "overlay.candidate_pairs": cand,
            "overlay.pieces": len(pieces),
            "overlay.hit_ratio": len(pieces) / cand if cand else 0.0,
            "overlay.s": p["overlay"]["self_s"],
            "dissolve.s": p["dissolve"]["self_s"],
            "dissolve.groups": len(p["dissolve"]["value"]),
            "dissolve.union_rows_per_s": rate(
                lambda: merge_geometries(one_group), len(one_group)),
            "booleans.overlay_pairs_per_s": rate(
                lambda: [B.overlay([ra], [rb], "intersection") for ra, rb in pairs],
                len(pairs)),
            "booleans.buffer_s_per_poly":
                (p["full"]["run_s"] - p["dissolve"]["run_s"]) / n_buf,
        }


# Two workloads of two pipelines each: one run of a workload runs both of
# its pipelines in turn (BENCHMARK.json says why).
WORKLOADS = {"points": (LayoutScan(), PipJoin()),
             "polygons": (PolygonMap(), PolygonBoolean())}
