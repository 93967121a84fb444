"""GeoDataFrame: thin wrapper over pyspark.sql.DataFrame with geometry.

Mirrors the reference's `_Frame`/`GeoDataFrame` surface (reference:
expr.py:80-853) re-expressed Spark-first:

- geometry columns are WKB ``BinaryType``; the "active" geometry column
  name is carried on the wrapper (reference `_geometry_column_name`,
  expr.py:584-598),
- CRS is a per-column string registry on the wrapper (reference carries a
  pyproj.CRS on meta, expr.py:222-241; pyproj is unavailable here so CRS
  is a string label and to_crs runs the closed forms of
  geometry/projections.py),
- every geometry column can get a ``<name>_bbox`` struct sibling
  (minx,miny,maxx,maxy).  Datasets written sorted by Hilbert key make
  Parquet min/max stats prune bbox predicates natively — this one layout
  convention replaces all three of the reference's custom pruning paths
  (SURVEY §4 #3).
- type degradation: selecting away the geometry column returns a plain
  pyspark DataFrame (reference expr.py:622-631, tests/test_core.py:1011-1023).

Accessor convention: scalar accessors (`area`, `length`, …) return pyspark
Column expressions to compose into select/filter; geometry-transforming
methods (`buffer`, `simplify`, `rotate`, …) return a new GeoDataFrame with
the active geometry replaced.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from .functions import core as FX
from .geometry import projections as PROJ


def no_pushdown(cond: Column) -> Column:
    """Optimizer barrier for a filter condition: wrapping it in a
    nondeterministic no-op stops PushDownPredicates from pushing it (and
    the Python UDFs it references) through exchanges.  Needed when the
    scan side is unsplittable (single-row-group parquet): a UDF filter
    pushed below the engine's rebalance repartition would run the whole
    Python stage on one task.  The guard must be one the optimizer can't
    fold away: Spark 4 proves ``rand() < 2`` always-true via range
    analysis, but ``monotonically_increasing_id() >= -1`` survives (and
    the whole CASE stays nondeterministic, so conjunct-splitting can't
    peel the real condition off for pushdown)."""
    return F.when(
        F.monotonically_increasing_id() >= -1, cond
    ).otherwise(F.lit(False))


class GeoDataFrame:
    # Symbolic coordinate tracking for point layers: when the active
    # geometry is a point built from native columns (points_from_xy) or
    # a native transform of one (translate/rotate/scale/skew/to_crs),
    # ``_xy`` holds (x_expr: Column, y_expr: Column, deps: tuple[str],
    # has_z: bool, depth: int).  Every bbox predicate, x/y accessor,
    # clip filter, and affine composition then runs pure-JVM; WKB
    # geometry is still materialized (from the SAME JVM-computed doubles
    # via st_point) but pruned away whenever the consumer doesn't read
    # it.  ``depth`` counts symbolic compositions: each step embeds the
    # previous (x, y) trees twice, so unbounded chaining would grow the
    # expression tree exponentially — past _XY_MAX_DEPTH the next
    # transform falls back to the WKB UDF path.
    _xy: tuple | None = None
    _XY_MAX_DEPTH = 8
    # when the active geometry was built by boxes_from_bounds, the
    # (minx, miny, maxx, maxy) source column names
    _corner_cols: tuple | None = None
    # True when the active geometry is known to equal its own envelope
    # (axis-aligned rectangle via boxes_from_bounds/envelope()); spatial
    # predicates against such geometry reduce to native bbox arithmetic
    _rect: bool = False
    # the active geometry is known to be all-Point (stored GeoParquet
    # whose geometry_types say so): clip degenerates to a row filter and
    # the bbox minx/miny ARE the coordinates
    _point: bool = False
    # driver-side per-partition/file bounding boxes (reference
    # `spatial_partitions`, expr.py:122-142) — populated by read_parquet
    # and calculate_spatial_partitions
    spatial_partitions = None

    def __init__(self, df: DataFrame, geometry: str = "geometry",
                 crs: str | None = None, crs_map: dict | None = None):
        if geometry not in df.columns:
            raise ValueError(f"geometry column {geometry!r} not in {df.columns}")
        self._df = df
        self._geometry = geometry
        self._crs = dict(crs_map or {})
        if crs is not None:
            self._crs[geometry] = crs

    # ------------------------------------------------------------------
    # plumbing
    # ------------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def columns(self):
        return self._df.columns

    @property
    def geometry_column(self) -> str:
        return self._geometry

    @property
    def crs(self) -> str | None:
        return self._crs.get(self._geometry)

    @property
    def geometry(self) -> Column:
        """The active geometry as a Column (reference `df.geometry`
        returns the active GeoSeries, expr.py:584-598; a GeoSeries maps
        to a Column here — SURVEY §1.1)."""
        return F.col(self._geometry)

    @property
    def sindex(self) -> "SpatialIndex":
        """Driver-side spatial-partition index (reference `sindex`
        exposes per-partition rtrees; the Spark analog answers the same
        planning question — WHICH partitions can intersect a box —
        from the stored per-file bbox summary)."""
        return SpatialIndex(getattr(self, "spatial_partitions", None))

    def to_dask_dataframe(self) -> DataFrame:
        """Demote to the plain engine DataFrame (reference
        `to_dask_dataframe`, expr.py:103-105 — kept under the familiar
        name for drop-in migration; identical to ``.df``)."""
        return self._df

    def set_index(self, col: str, npartitions: int | None = None) -> "GeoDataFrame":
        """Range-partition + sort by a column (the Spark expression of
        dask's ``set_index``: ``repartitionByRange`` +
        ``sortWithinPartitions``; no user-visible index exists in the
        DataFrame model — SURVEY §1.1 divisions row)."""
        df = self._df
        if npartitions:
            df = df.repartitionByRange(npartitions, F.col(col))
        else:
            df = df.repartitionByRange(F.col(col))
        return self._wrap(df.sortWithinPartitions(col))

    def _wrap(self, df: DataFrame, geometry: str | None = None) -> "GeoDataFrame":
        out = GeoDataFrame(df, geometry or self._geometry, crs_map=self._crs)
        # propagate geometry-shape hints while the source columns and the
        # active geometry survive unchanged
        if geometry is None or geometry == self._geometry:
            if self._xy and all(c in df.columns for c in self._xy[2]):
                out._xy = self._xy
            if self._corner_cols and all(
                c in df.columns for c in self._corner_cols
            ):
                out._corner_cols = self._corner_cols
            out._rect = self._rect
            out._point = self._point
        # the per-file bbox summary stays a valid COVER under row
        # subsets/projections; geometry-REPLACING paths null it out
        # explicitly after wrapping
        out.spatial_partitions = getattr(self, "spatial_partitions", None)
        return out

    def _geom(self) -> Column:
        return F.col(self._geometry)

    def __getitem__(self, key):
        if isinstance(key, list):
            out = self._df.select(*key)
            if self._geometry in key:
                return self._wrap(out)
            return out  # type degradation, reference tests/test_core.py:1011-1023
        if isinstance(key, Column):
            return self._wrap(self._df.filter(key))
        return self._df[key]

    def select(self, *cols):
        out = self._df.select(*cols)
        if self._geometry in out.columns:
            wrapped = self._wrap(out)
            # Column expressions may alias arbitrary values onto the
            # geometry or a hint source column name (e.g.
            # select(lit(0).alias('x'), ...)) — presence checks in _wrap
            # can't see that, so keep hints only for plain-string
            # projections
            if not all(isinstance(c, str) for c in cols):
                wrapped._xy = None
                wrapped._corner_cols = None
                wrapped._rect = False
                wrapped._point = False
                wrapped.spatial_partitions = None
            return wrapped
        return out

    def filter(self, cond) -> "GeoDataFrame":
        return self._wrap(self._df.filter(cond))

    where = filter

    def withColumn(self, name: str, col: Column) -> "GeoDataFrame":
        out = self._wrap(self._df.withColumn(name, col))
        if name == self._geometry:
            # geometry column overwritten with arbitrary content: every
            # shape hint (and the stored bounds summary) is invalid
            out._xy = None
            out._corner_cols = None
            out._rect = False
            out._point = False
            out.spatial_partitions = None
        if self._xy and name in self._xy[2]:
            out._xy = None  # source column overwritten; hint invalid
        if self._corner_cols and name in self._corner_cols:
            out._corner_cols = None
        return out

    def drop(self, *cols):
        out = self._df.drop(*cols)
        if self._geometry in out.columns:
            return self._wrap(out)
        return out  # degraded to plain DataFrame (reference expr.py:832-849)

    def limit(self, n: int) -> "GeoDataFrame":
        return self._wrap(self._df.limit(n))

    def cache(self) -> "GeoDataFrame":
        return self._wrap(self._df.cache())

    def count(self) -> int:
        return self._df.count()

    def collect(self):
        return self._df.collect()

    # ------------------------------------------------------------------
    # geometry column management (reference expr.py:584-620)
    # ------------------------------------------------------------------
    def set_geometry(self, col: str) -> "GeoDataFrame":
        return GeoDataFrame(self._df, col, crs_map=self._crs)

    def rename_geometry(self, new_name: str) -> "GeoDataFrame":
        df = self._df.withColumnRenamed(self._geometry, new_name)
        crs = dict(self._crs)
        if self._geometry in crs:
            crs[new_name] = crs.pop(self._geometry)
        return GeoDataFrame(df, new_name, crs_map=crs)

    def set_crs(self, crs: str, allow_override: bool = False) -> "GeoDataFrame":
        if self.crs is not None and not allow_override and crs != self.crs:
            raise ValueError(
                f"geometry already has CRS {self.crs!r}; pass allow_override=True"
            )
        m = dict(self._crs)
        m[self._geometry] = crs
        return GeoDataFrame(self._df, self._geometry, crs_map=m)

    def to_crs(self, crs: str) -> "GeoDataFrame":
        """Reprojection.  pyproj is not a dependency, so the supported
        CRSs are closed forms in geometry/projections.py
        (Snyder/Karney public formulas, sub-mm vs pyproj): the WGS84
        lon/lat hub (EPSG:4326, OGC:CRS84), web-mercator 3857,
        world-mercator 3395, the full UTM grid 326xx/327xx, Lambert-93
        2154, CONUS Albers 5070, LAEA Europe 3035, and ``+proj=``
        strings of those families.  Any pair of them composes the
        source's inverse with the destination's forward in ONE pass:
        native SQL math inside codegen for point layers with symbolic
        coordinates, one Arrow-batched WKB rewrite UDF otherwise.  Other
        CRSs raise NotImplementedError."""
        if not self.crs:
            raise ValueError("Cannot transform naive geometries. "
                             "Please set a crs on the object first.")
        src_label, src = PROJ.resolve(self.crs)
        label, dst = PROJ.resolve(crs)
        steps = ([src.inverse] if src else []) + ([dst.forward] if dst else [])
        if label == src_label or src is dst:
            steps = []   # same CRS, or two spellings of lon/lat: relabel

        def project(M, x, y):
            for step in steps:
                x, y = step(M, x, y)
            return x, y

        if not steps:
            out = self._wrap(self._df)
        elif (self._xy and not self._xy[3]
              and self._xy[4] + len(steps) <= self._XY_MAX_DEPTH):
            # point layer with symbolic coordinates: the projection is
            # native SQL math — it stays in codegen and the hint survives
            # for downstream bbox/x/y/clip consumers
            xe, ye, deps, _, depth = self._xy
            nx, ny = project(PROJ.FC, xe, ye)
            out = self._replace_geom(FX.st_point(nx, ny))
            out._xy = (nx, ny, deps, False, depth + len(steps))
        else:
            udf = _reproject_udf(lambda x, y: project(PROJ.NP, x, y))
            out = self._replace_geom(udf(self._geom()))
        out._crs = {**self._crs, self._geometry: label}
        return out

    def estimate_utm_crs(self) -> str:
        """EPSG code of the UTM zone containing the layer's bounds
        center (reference GeoDataFrame.estimate_utm_crs → pyproj
        aoi query; same zone-pick semantics for WGS84 layers).  Runs one
        ``total_bounds`` job (scan-free when spatial summaries exist)."""
        if not PROJ.is_geographic(self.crs):
            raise NotImplementedError(
                f"estimate_utm_crs needs a lon/lat layer, got {self.crs!r}")
        minx, miny, maxx, maxy = self.total_bounds()
        cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
        # Wrap longitude first so lon >= 180 lands in zone 1, not a
        # clamped zone 60.  Caveat (vs the reference's pyproj aoi
        # query): an antimeridian-straddling layer has a naive bounds
        # center near 0 — the zone pick is only meaningful when the
        # layer does not straddle ±180.
        zone = int(((cx + 180.0) % 360.0) // 6) + 1
        return f"EPSG:{(32600 if cy >= 0 else 32700) + zone}"

    # ------------------------------------------------------------------
    # scalar accessors → Column expressions
    # ------------------------------------------------------------------
    @property
    def area(self) -> Column:
        return FX.st_area(self._geom())

    @property
    def length(self) -> Column:
        return FX.st_length(self._geom())

    @property
    def geom_type(self) -> Column:
        return FX.st_geometrytype(self._geom())

    @property
    def x(self) -> Column:
        # native only for 2-D hints: a z-point's geometry (and so st_x)
        # is NULL when z is NULL, which the x/y expressions can't see
        if self._xy and not self._xy[3]:
            xe, ye = self._xy[0], self._xy[1]
            # null-guard: st_x(geom) is NULL when EITHER coordinate is
            # NULL (the point itself is NULL), so mirror that
            return F.when(xe.isNotNull() & ye.isNotNull(), xe)
        return FX.st_x(self._geom())

    @property
    def y(self) -> Column:
        if self._xy and not self._xy[3]:
            xe, ye = self._xy[0], self._xy[1]
            return F.when(xe.isNotNull() & ye.isNotNull(), ye)
        return FX.st_y(self._geom())

    @property
    def z(self) -> Column:
        return FX.st_z(self._geom())

    @property
    def is_valid(self) -> Column:
        return FX.st_isvalid(self._geom())

    @property
    def is_empty(self) -> Column:
        return FX.st_isempty(self._geom())

    @property
    def is_simple(self) -> Column:
        return FX.st_issimple(self._geom())

    @property
    def is_ring(self) -> Column:
        return FX.st_isring(self._geom())

    @property
    def has_z(self) -> Column:
        return FX.st_hasz(self._geom())

    def isna(self) -> Column:
        return self._geom().isNull()

    def fillna(self, value: bytes) -> "GeoDataFrame":
        return self._replace_geom(F.coalesce(self._geom(), F.lit(value)))

    # ------------------------------------------------------------------
    # geometry-transforming methods → new GeoDataFrame
    # ------------------------------------------------------------------
    def _replace_geom(self, col: Column) -> "GeoDataFrame":
        """Swap the active geometry.  Any materialized bbox sibling is
        dropped: transformed geometry invalidates it (buffer grows
        bounds, centroid shrinks them — the reference tracks the same
        distinction via preserve_spatial_partitions, expr.py:963-972);
        with_bbox() recomputes on demand."""
        out = self._df.withColumn(self._geometry, col)
        if self.bbox_column in out.columns:
            out = out.drop(self.bbox_column)
        wrapped = self._wrap(out)
        # geometry content changed; shape hints and stored bounds invalid
        wrapped._xy = None
        wrapped._corner_cols = None
        wrapped._rect = False
        wrapped._point = False
        wrapped.spatial_partitions = None
        return wrapped

    def buffer(self, distance: float, resolution: int = 16) -> "GeoDataFrame":
        return self._replace_geom(FX.buffer(distance, resolution)(self._geom()))

    def simplify(self, tolerance: float) -> "GeoDataFrame":
        return self._replace_geom(FX.simplify(tolerance)(self._geom()))

    def centroid(self) -> "GeoDataFrame":
        return self._replace_geom(FX.st_centroid(self._geom()))

    def envelope(self) -> "GeoDataFrame":
        out = self._replace_geom(FX.st_envelope(self._geom()))
        out._rect = True  # an envelope equals its own envelope
        return out

    def convex_hull(self) -> "GeoDataFrame":
        return self._replace_geom(FX.st_convexhull(self._geom()))

    def boundary(self) -> "GeoDataFrame":
        return self._replace_geom(FX.st_boundary(self._geom()))

    def exterior(self) -> "GeoDataFrame":
        return self._replace_geom(FX.st_exterior(self._geom()))

    @property
    def bounds(self) -> Column:
        """Per-row bbox struct (minx,miny,maxx,maxy) — reference `bounds`
        returns a 4-column frame (expr.py:947-960); here a struct Column
        usable natively downstream (Parquet min/max stats, .cx filters)."""
        return FX.st_bounds(self._geom())

    @property
    def interiors(self) -> Column:
        """Array of interior rings as WKB LineStrings (reference expr.py
        binds `interiors` per partition; tests/test_core.py:73-104)."""
        return FX.st_interiors(self._geom())

    def representative_point(self) -> "GeoDataFrame":
        return self._replace_geom(FX.st_representative_point(self._geom()))

    def _affine(self, a, b, d, e, xoff, yoff) -> "GeoDataFrame":
        """Shared 6-parameter affine.  Point layers with symbolic
        coordinates compose natively: new coordinate expressions
        ``a*x + b*y + xoff`` (same op order as the kernel,
        geometry/algorithms.py:218-223, so results are bit-identical),
        geometry rebuilt from those JVM doubles via st_point, and the
        hint survives — chains of transforms never leave codegen."""
        if self._xy and not self._xy[3] and self._xy[4] < self._XY_MAX_DEPTH:
            xe, ye, deps, _, depth = self._xy
            nx = F.lit(float(a)) * xe + F.lit(float(b)) * ye + F.lit(float(xoff))
            ny = F.lit(float(d)) * xe + F.lit(float(e)) * ye + F.lit(float(yoff))
            out = self._replace_geom(FX.st_point(nx, ny))
            out._xy = (nx, ny, deps, False, depth + 1)
            return out
        return self._replace_geom(
            FX.affine_transform(a, b, d, e, xoff, yoff)(self._geom()))

    def affine_transform(self, matrix) -> "GeoDataFrame":
        a, b, d, e, xoff, yoff = matrix
        return self._affine(a, b, d, e, xoff, yoff)

    def translate(self, xoff=0.0, yoff=0.0) -> "GeoDataFrame":
        return self._affine(*FX.translate_params(xoff, yoff))

    def rotate(self, angle, origin=(0.0, 0.0), use_radians=False) -> "GeoDataFrame":
        return self._affine(*FX.rotate_params(angle, origin, use_radians))

    def scale(self, xfact=1.0, yfact=1.0, origin=(0.0, 0.0)) -> "GeoDataFrame":
        return self._affine(*FX.scale_params(xfact, yfact, origin))

    def skew(self, xs=0.0, ys=0.0, origin=(0.0, 0.0), use_radians=False) -> "GeoDataFrame":
        return self._affine(*FX.skew_params(xs, ys, origin, use_radians))

    def interpolate(self, distance, normalized=False) -> "GeoDataFrame":
        return self._replace_geom(FX.interpolate(distance, normalized)(self._geom()))

    def to_wkt(self) -> DataFrame:
        return self._df.withColumn(self._geometry, FX.st_astext(self._geom()))

    def to_wkb(self) -> DataFrame:
        return self._df  # already WKB at rest

    # ------------------------------------------------------------------
    # elementwise binary predicates / operators against another geometry
    # column of the SAME frame ("zip by position" contract, SURVEY §7;
    # reference binds these at expr.py:983-1013)
    # ------------------------------------------------------------------
    def _other_col(self, other) -> Column:
        if isinstance(other, Column):
            return other
        if isinstance(other, str):
            return F.col(other)
        if isinstance(other, (bytes, bytearray)):
            return F.lit(bytes(other))
        raise TypeError("other must be a Column, column name, or WKB bytes")

    def intersects(self, other) -> Column:
        return FX.st_intersects(self._geom(), self._other_col(other))

    def contains(self, other) -> Column:
        return FX.st_contains(self._geom(), self._other_col(other))

    def within(self, other) -> Column:
        return FX.st_within(self._geom(), self._other_col(other))

    def covers(self, other) -> Column:
        return FX.st_covers(self._geom(), self._other_col(other))

    def covered_by(self, other) -> Column:
        return FX.st_coveredby(self._geom(), self._other_col(other))

    def disjoint(self, other) -> Column:
        return FX.st_disjoint(self._geom(), self._other_col(other))

    def touches(self, other) -> Column:
        return FX.st_touches(self._geom(), self._other_col(other))

    def crosses(self, other) -> Column:
        return FX.st_crosses(self._geom(), self._other_col(other))

    def overlaps(self, other) -> Column:
        return FX.st_overlaps(self._geom(), self._other_col(other))

    def geom_equals(self, other) -> Column:
        return FX.st_equals(self._geom(), self._other_col(other))

    def geom_equals_exact(self, other, tolerance: float) -> Column:
        return FX.st_equals_exact(tolerance)(self._geom(), self._other_col(other))

    def relate(self, other) -> Column:
        return FX.st_relate(self._geom(), self._other_col(other))

    def distance(self, other) -> Column:
        return FX.st_distance(self._geom(), self._other_col(other))

    def intersection(self, other) -> "GeoDataFrame":
        return self._replace_geom(
            FX.st_intersection(self._geom(), self._other_col(other)))

    def union(self, other) -> "GeoDataFrame":
        return self._replace_geom(
            FX.st_union_pair(self._geom(), self._other_col(other)))

    def difference(self, other) -> "GeoDataFrame":
        return self._replace_geom(
            FX.st_difference(self._geom(), self._other_col(other)))

    def symmetric_difference(self, other) -> "GeoDataFrame":
        return self._replace_geom(
            FX.st_symdifference(self._geom(), self._other_col(other)))

    def project(self, other, normalized: bool = False) -> Column:
        return FX.project(normalized)(self._geom(), self._other_col(other))

    # ------------------------------------------------------------------
    # bbox infrastructure (SURVEY §7 design invariant)
    # ------------------------------------------------------------------
    @property
    def bbox_column(self) -> str:
        return f"{self._geometry}_bbox"

    def with_bbox(self) -> "GeoDataFrame":
        """Materialize the bbox struct sibling.  Downstream bbox predicates
        (.cx, sjoin prefilter) then run natively and push to Parquet
        row-group stats when persisted.

        Fast path: geometry built by points_from_xy → the bbox IS the
        point, emitted as a pure-JVM struct from the source x/y columns
        (no Python stage at all; total_bounds/cx/sjoin prefilters over
        point layers become fully native)."""
        if self.bbox_column in self._df.columns:
            return self
        if self._xy and not self._xy[3]:
            # (2-D hints only: a z-point's geometry is NULL when z is
            # NULL, which x/y expressions can't see)
            xc, yc = self._xy[0], self._xy[1]
            # null-guard on the SOURCE expressions, not the geometry: a
            # guard referencing the st_point UDF would make every
            # downstream bbox predicate UDF-referencing and pushdown
            # would drag the Python stage below rebalance exchanges
            bbox = F.when(
                xc.isNotNull() & yc.isNotNull(),
                F.struct(xc.alias("minx"), yc.alias("miny"),
                         xc.alias("maxx"), yc.alias("maxy")),
            )
        elif self._corner_cols:
            x0, y0, x1, y1 = (F.col(c).cast("double") for c in self._corner_cols)
            bbox = F.when(
                x0.isNotNull() & y0.isNotNull() & x1.isNotNull() & y1.isNotNull(),
                F.struct(x0.alias("minx"), y0.alias("miny"),
                         x1.alias("maxx"), y1.alias("maxy")),
            )
        else:
            bbox = FX.st_bounds(self._geom())
        return self._wrap(self._df.withColumn(self.bbox_column, bbox))

    @property
    def has_native_bbox(self) -> bool:
        """True when bbox predicates need no Python: the struct is already
        materialized (stored dataset) or derivable from source columns."""
        # a z-hinted _xy does NOT count: its with_bbox falls back to the
        # st_bounds UDF (z nullability is invisible to x/y expressions),
        # so a "native" prefilter built from it would be UDF-referencing
        return (self.bbox_column in self._df.columns
                or bool(self._xy and not self._xy[3])
                or bool(self._corner_cols))

    @property
    def envelope_exact(self) -> bool:
        """True when the active geometry is known to equal its own
        envelope (points from points_from_xy, axis-aligned rectangles
        from boxes_from_bounds / envelope()).  Spatial predicates against
        such geometry are answered exactly by closed-bounds bbox
        arithmetic — sjoin then refines natively with no Python stage
        (mirrors the kernel's rect fast path, geometry/algorithms.py
        `_axis_box_mask` + closed-bounds `pairwise_contains`)."""
        return (self._rect or self._point or bool(self._xy)
                or bool(self._corner_cols))

    def total_bounds(self) -> tuple:
        """Global bbox via native min/max aggregation — no UDF in the agg
        (reference computes per-partition then nan-safe combine,
        expr.py:44-72; Spark's partial aggregation is the same shape).
        When a driver-side spatial summary exists (GeoParquet per-file
        bboxes), it answers without any scan at all."""
        sp = getattr(self, "spatial_partitions", None)
        if sp:
            # a partition of all-NULL geometries reports NULL bounds —
            # skip it (nan-safe combine, reference expr.py:44-72)
            known = [b for b in sp if b is not None and None not in b]
            if known:
                return (min(b[0] for b in known), min(b[1] for b in known),
                        max(b[2] for b in known), max(b[3] for b in known))
        g = self.with_bbox()
        b = g.bbox_column
        row = g.df.agg(
            F.min(F.col(f"{b}.minx")).alias("minx"),
            F.min(F.col(f"{b}.miny")).alias("miny"),
            F.max(F.col(f"{b}.maxx")).alias("maxx"),
            F.max(F.col(f"{b}.maxy")).alias("maxy"),
        ).collect()[0]
        return (row["minx"], row["miny"], row["maxx"], row["maxy"])

    def cx(self, xmin=None, ymin=None, xmax=None, ymax=None) -> "GeoDataFrame":
        """Coordinate-box indexer (reference `.cx`, expr.py:1022-1077):
        a *native* bbox overlap filter (prunes partitions/row-groups via
        Parquet stats when bbox is materialized), then the exact
        intersects refinement on the survivors.  A single constrained
        side is a half-plane, where the bbox test IS exact and the
        refinement is skipped; with two or more sides a geometry's bbox
        can clip the window corner the geometry itself misses."""
        if self._xy and not self._xy[3]:
            # symbolic point layer: filter the coordinate EXPRESSIONS
            # directly — plain comparisons (no null-guard CASE around a
            # bbox struct), so the predicate pushes down to parquet
            # row-group stats; on geoarrow-encoded datasets that means
            # pruning on the stored x/y columns themselves
            xe, ye = self._xy[0], self._xy[1]
            conds = [xe.isNotNull(), ye.isNotNull()]
            if xmax is not None:
                conds.append(xe <= float(xmax))
            if xmin is not None:
                conds.append(xe >= float(xmin))
            if ymax is not None:
                conds.append(ye <= float(ymax))
            if ymin is not None:
                conds.append(ye >= float(ymin))
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            return self.filter(cond)  # exact: a point is its envelope
        g = self.with_bbox()
        b = g.bbox_column
        conds = []
        if xmax is not None:
            conds.append(F.col(f"{b}.minx") <= float(xmax))
        if xmin is not None:
            conds.append(F.col(f"{b}.maxx") >= float(xmin))
        if ymax is not None:
            conds.append(F.col(f"{b}.miny") <= float(ymax))
        if ymin is not None:
            conds.append(F.col(f"{b}.maxy") >= float(ymin))
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        out = g.filter(cond)
        if len(conds) <= 1:
            return out
        if self.envelope_exact:
            # geometry equals its own envelope (points, axis-aligned
            # rectangles, stored all-Point GeoParquet datasets): the
            # native bbox test IS the intersects test, no UDF refinement
            return out
        from .geometry import wkb as GW

        big = 1e15  # sentinel for unconstrained sides
        box_wkb = GW.boxes_to_wkb(
            [xmin if xmin is not None else -big],
            [ymin if ymin is not None else -big],
            [xmax if xmax is not None else big],
            [ymax if ymax is not None else big],
        )[0]
        # no_pushdown: the refinement references a Python UDF; pushing it
        # below the rebalance exchange would serialize the Python stage on
        # an unsplittable scan (the native bbox prefilter above it still
        # pushes to the parquet stats)
        return out.filter(
            no_pushdown(FX.st_intersects(out._geom(), F.lit(box_wkb))))

    # ------------------------------------------------------------------
    # curve encoders + spatial shuffle (reference expr.py:404-539, 738-820)
    # ------------------------------------------------------------------
    def hilbert_distance(self, total_bounds=None, level: int = 16) -> Column:
        tb = total_bounds or self.total_bounds()
        return FX.hilbert_distance(tb, level)(self._geom())

    def morton_distance(self, total_bounds=None, level: int = 16) -> Column:
        tb = total_bounds or self.total_bounds()
        return FX.morton_distance(tb, level)(self._geom())

    def geohash(self, as_string: bool = True, precision: int = 12) -> Column:
        if self.crs and not PROJ.is_geographic(self.crs):
            # geohash is only defined for geographic coords (reference
            # expr.py:505-506); a naive layer is taken as lon/lat
            raise ValueError(
                f"geohash requires lon/lat coordinates, got CRS {self.crs}")
        return FX.geohash(as_string, precision)(self._geom())

    def spatial_shuffle(self, by: str = "hilbert", level: int = 16,
                        npartitions: int | None = None,
                        total_bounds=None, boundaries=None,
                        replicate: bool = False,
                        dilate: float = 0.0) -> "GeoDataFrame":
        """Spatially sort/repartition: curve key + repartitionByRange +
        sortWithinPartitions — the native Spark expression of the
        reference's set_index range shuffle (expr.py:738-820).

        ``boundaries`` (strictly ascending curve-key values) switches
        to EXPLICIT range bucketing: bucket i holds keys in
        [boundaries[i-1], boundaries[i]) — LEFT-closed, so a key
        exactly equal to a boundary lands in the UPPER bucket
        (bucket = count of boundaries <= key; boundaries typically
        come from approx quantiles of real key values, so
        boundary-equal keys occur and pruning/co-partitioning logic
        must use this convention) — computed as one native
        array-filter count, physically co-located by a hash
        repartition on the bucket id, and exposed as a
        ``_spatial_bucket`` column.  Two properties the sampled
        ``repartitionByRange`` path cannot give, and exactly the ones
        that matter at cluster scale:

        - **deterministic placement** — a pure function of the data,
          identical on every run/retry, no sampling job (one shuffle
          instead of sample-then-shuffle), and fully attestable (the
          driver oracle reproduces bucket contents bit-for-bit);
        - **co-partitioning** — two datasets shuffled with the SAME
          boundaries land bucket-aligned, so a downstream spatial
          join on them shuffles neither side; boundaries computed
          once (approx quantiles of the curve key, or reused from a
          previous run's stats) serve a whole pipeline.

        Each bucket lands wholly inside one partition (disjointness
        holds for any pruning built on it); ``npartitions`` defaults
        to ``len(boundaries) + 1``.

        ``replicate=True`` (boundaries mode, hilbert/morton only)
        prepares the frame for the CO-BUCKETED spatial join: each row
        lands in EVERY bucket its bbox can meet (`curve_bucket_sets`
        — a native superset of the buckets of cells the bbox covers),
        carrying the full set as ``_spatial_buckets`` for the join's
        pair dedup.  Point-hint frames never straddle a boundary, so
        they stay single-copy (replicate is a no-op for them beyond
        marking the metadata).  A replicated frame is a JOIN INPUT,
        not a general-purpose frame — rows are duplicated, so
        aggregate/export it only through ``sjoin`` (which enforces
        this) or after dropping replicas yourself.  Two frames
        shuffled with the SAME (by, level, total_bounds, boundaries,
        npartitions) — recorded as a hash in ``_spatial_bucket``'s
        column metadata — equi-join on the bucket id with NO Exchange
        on either side: the 100-TB shuffle happens once at layout
        time, not once per join.

        ``dilate`` (replicate mode) expands every bbox by that margin
        before the bucket-set computation, buying DISTANCE joins: a
        co-bucketed ``sjoin(predicate='dwithin', distance=d)`` is
        exact whenever EITHER side was shuffled with ``dilate >= d``
        (a pair within d has overlapping dilated-vs-plain bboxes,
        which always share a bucket).  Dilation widens replica sets,
        so pick the largest distance the pipeline actually joins at —
        recorded in the metadata and enforced by ``sjoin``."""
        tb = total_bounds or self.total_bounds()
        # envelope-exact layers carry native bounds: feed them to the
        # curve encoders as double columns instead of round-tripping
        # every row through WKB (st_point/st_make_box BUILD stage +
        # parse stage — two Python passes a 100-TB layout shuffle
        # shouldn't pay).  WKB-geometry frames keep the geometry path.
        _bb = None
        _bbox_added = None
        if self.has_native_bbox and by in ("hilbert", "morton"):
            g2 = self.with_bbox()
            bcol = g2.bbox_column
            _bbox_added = bcol if bcol not in self._df.columns else None
            _bb = [F.col(f"{bcol}.minx"), F.col(f"{bcol}.miny"),
                   F.col(f"{bcol}.maxx"), F.col(f"{bcol}.maxy")]
            self = self._wrap(g2.df)
        if by == "hilbert":
            key = (FX.hilbert_distance_bounds(tb, level)(*_bb) if _bb
                   else FX.hilbert_distance(tb, level)(self._geom()))
        elif by == "morton":
            key = (FX.morton_distance_bounds(tb, level)(*_bb) if _bb
                   else FX.morton_distance(tb, level)(self._geom()))
        elif by == "geohash":
            key = FX.geohash(False, min(level, 12))(self._geom())
        else:
            raise ValueError(f"unknown curve {by!r}")
        if "_spatial_buckets" in self._df.columns:
            # a previous replicate=True shuffle's arrays would go stale
            # against the new boundaries (withColumn below replaces
            # _spatial_bucket, but the array column would survive and
            # mislead the co-bucketed join's pair dedup)
            self = self._wrap(self._df.drop("_spatial_buckets"))
        df = self._df.withColumn("_curve_key", key)
        # helper columns to strip from every output path: the curve key
        # plus the bbox struct when it was added for the encoders only
        # (native-bbox frames recompute it for free, and the shuffled
        # frame's schema must match the geometry-path output)
        _drop = (["_curve_key"] if _bbox_added is None
                 else ["_curve_key", _bbox_added])
        if boundaries is not None:
            import hashlib

            bs = list(boundaries)
            if not bs or any(b2 <= b1 for b1, b2 in zip(bs, bs[1:])):
                raise ValueError(
                    "boundaries must be non-empty and strictly ascending")
            n = npartitions or len(bs) + 1
            if float(dilate) < 0:
                raise ValueError(f"dilate must be >= 0, got {dilate}")
            if float(dilate) > 0 and not replicate:
                raise ValueError(
                    "dilate needs replicate=True (it widens the "
                    "replica sets a co-bucketed dwithin join prunes "
                    "against)")
            # point-hint frames (degenerate bboxes) occupy exactly one
            # fine cell: the home bucket IS the full replica set —
            # unless dilation re-widens the bbox past its cell
            single = bool(self._xy and not self._xy[3]
                          and not float(dilate))
            if replicate and by not in ("hilbert", "morton"):
                raise ValueError(
                    "replicate=True needs by='hilbert' or 'morton' "
                    "(bucket sets rest on the curves' quadrant "
                    "hierarchy; geohash keys have none here)")
            sha = hashlib.sha256(repr(
                (by, int(level), tuple(float(v) for v in tb),
                 tuple(int(b) for b in bs), int(n))).encode()
            ).hexdigest()[:16]
            meta = {"dgs_cobucket_sha": sha,
                    "dgs_cobucket_single": single,
                    "dgs_cobucket_replicated": bool(replicate
                                                    and not single),
                    "dgs_cobucket_complete": bool(replicate or single),
                    "dgs_cobucket_dilate": float(dilate)}
            if replicate and not single:
                sets = (FX.curve_bucket_sets_bounds(
                            tb, bs, by, level, dilate=float(dilate))(*_bb)
                        if _bb else
                        FX.curve_bucket_sets(tb, bs, by, level,
                                             dilate=float(dilate))(
                            self._geom()))
                # explode_outer, not explode: InferFiltersFromGenerate
                # would derive a `size(sets) > 0` filter from a plain
                # explode and PUSH IT BELOW upstream exchanges — the
                # whole Python bucket-set stage then runs TWICE (once
                # for the pushed filter, once for the projection).
                # Bucket sets are never empty (every bbox meets >= 1
                # bucket), so outer semantics are identical.
                out = (
                    df.withColumn("_spatial_buckets", sets)
                    .withColumn("_spatial_bucket",
                                F.explode_outer("_spatial_buckets"))
                    .withMetadata("_spatial_bucket", meta)
                    .repartition(n, F.col("_spatial_bucket"))
                    .sortWithinPartitions("_spatial_bucket",
                                          "_curve_key")
                    .drop(*_drop)
                )
                return self._wrap(out)
            barr = F.array(*[F.lit(b) for b in bs])
            bucket = F.size(F.filter(
                barr, lambda b: b <= F.col("_curve_key")))
            out = (
                df.withColumn("_spatial_bucket", bucket.cast("int"))
                .withMetadata("_spatial_bucket", meta)
                .repartition(n, F.col("_spatial_bucket"))
                .sortWithinPartitions("_spatial_bucket", "_curve_key")
                .drop(*_drop)
            )
            return self._wrap(out)
        # default partition count without df.rdd (which forces a
        # DataFrame→RDD conversion plan just to read a number): the
        # shuffle lands on spark.sql.shuffle.partitions anyway
        n = npartitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        out = (
            df.repartitionByRange(n, "_curve_key")
            .sortWithinPartitions("_curve_key")
            .drop(*_drop)
        )
        return self._wrap(out)

    def calculate_spatial_partitions(self):
        """Per-partition bounds summary collected to the driver (reference
        expr.py:199-211 computes convex hulls; bbox is the Spark-native
        equivalent since it feeds Parquet stats pruning).  Like the
        reference, the result is also stored on the frame as
        ``spatial_partitions`` so driver-side planners (total_bounds,
        future sjoin pair pruning) answer without a scan."""
        from pyspark.sql.functions import spark_partition_id

        g = self.with_bbox()
        b = g.bbox_column
        rows = (
            g.df.withColumn("_pid", spark_partition_id())
            .groupBy("_pid")
            .agg(
                F.min(F.col(f"{b}.minx")).alias("minx"),
                F.min(F.col(f"{b}.miny")).alias("miny"),
                F.max(F.col(f"{b}.maxx")).alias("maxx"),
                F.max(F.col(f"{b}.maxy")).alias("maxy"),
            )
            .collect()
        )
        out = {r["_pid"]: (r["minx"], r["miny"], r["maxx"], r["maxy"]) for r in rows}
        # drop all-NULL partitions (NULL bounds) from the stored summary
        sp = [out[k] for k in sorted(out) if None not in out[k]]
        self.spatial_partitions = sp or None
        return out

    # ------------------------------------------------------------------
    # multi-row ops
    # ------------------------------------------------------------------
    def explode(self, index_parts: bool = False) -> "GeoDataFrame":
        from .operators.explode import explode_geometry

        return self._wrap(
            explode_geometry(self._df, self._geometry, index_parts))

    def dissolve(self, by=None, aggfunc="first",
                 split_out: int | None = None) -> "GeoDataFrame":
        """``split_out`` repartitions the aggregated result (reference
        dissolve's split_out controls output partition count,
        expr.py:652-703); group computation is always distributed."""
        from .operators.dissolve import dissolve

        out = dissolve(self._df, self._geometry, by, aggfunc)
        if split_out:
            out = out.repartition(split_out)
        return self._wrap(out)

    def union_all(self) -> bytes:
        from .operators.dissolve import union_all

        return union_all(self._df, self._geometry)

    def unary_union(self) -> bytes:
        """Deprecated reference alias of union_all (expr.py:287-299)."""
        import warnings

        warnings.warn("unary_union is deprecated; use union_all",
                      FutureWarning, stacklevel=2)
        return self.union_all()

    def sjoin(self, other: "GeoDataFrame", how: str = "inner",
              predicate: str = "intersects", **kw) -> "GeoDataFrame":
        from .operators.sjoin import sjoin

        return sjoin(self, other, how=how, predicate=predicate, **kw)

    def clip(self, mask, keep_geom_type: bool = False) -> "GeoDataFrame":
        from .operators.clip import clip

        return clip(self, mask, keep_geom_type=keep_geom_type)

    def overlay(self, other: "GeoDataFrame", how: str = "intersection",
                **kw) -> "GeoDataFrame":
        from .operators.overlay import overlay

        return overlay(self, other, how=how, **kw)

    # ------------------------------------------------------------------
    # extension points (reference §2.10: map_partitions / .apply are the
    # universal user hooks, expr.py:103-105, tests/test_core.py:666-691)
    # ------------------------------------------------------------------
    def map_partitions(self, func, schema=None):
        """Run ``func(pandas.DataFrame) -> pandas.DataFrame`` over every
        Arrow batch (the Spark analog of per-partition delegation).
        Returns a GeoDataFrame when the active geometry column survives
        in ``schema``, else a plain DataFrame (type degradation,
        reference expr.py:622-631)."""
        schema = schema or self._df.schema

        def gen(batches):
            for pdf in batches:
                yield func(pdf)

        out = self._df.mapInPandas(gen, schema=schema)
        if self._geometry in out.columns:
            return self._wrap(out)
        return out

    def apply_geometry(self, func, return_type=None):
        """Elementwise ``func`` over the active geometry column via a
        vectorized pandas UDF (reference ``.apply``); returns a Column."""
        from pyspark.sql.functions import pandas_udf

        rt = return_type or BinaryType()

        @pandas_udf(rt)
        def _apply(g: pd.Series) -> pd.Series:
            return g.map(lambda b: func(b) if b is not None else None)

        return _apply(self._geom())

    # ------------------------------------------------------------------
    # I/O
    # ------------------------------------------------------------------
    def to_parquet(self, path: str, **kw) -> None:
        from .sources.geoparquet import to_parquet

        to_parquet(self, path, **kw)

    def to_feather(self, path: str) -> None:
        """One Feather file per partition via pyarrow on the executors
        (reference io/arrow.py:347-430)."""
        from .sources.feather import to_feather

        to_feather(self, path)


# ----------------------------------------------------------------------
# constructors (reference expr.py:852-944)
# ----------------------------------------------------------------------

class SpatialIndex:
    """Driver-side partition-pruning index over the per-file bbox
    summary (the planning face of the reference's `sindex`): answers
    which stored partitions can intersect a query window.  Row-level
    filtering stays where it belongs — in the native bbox predicates
    Catalyst pushes to parquet stats."""

    def __init__(self, partitions):
        self.partitions = list(partitions) if partitions else None

    def __len__(self) -> int:
        return len(self.partitions or [])

    @property
    def valid(self) -> bool:
        return self.partitions is not None

    def query(self, minx: float, miny: float, maxx: float, maxy: float):
        """Indexes of partitions whose bbox overlaps the window.  With
        no stored summary, every partition is a candidate."""
        if not self.partitions:
            return None
        return [i for i, (x0, y0, x1, y1) in enumerate(self.partitions)
                if x0 <= maxx and x1 >= minx and y0 <= maxy and y1 >= miny]


def points_from_xy(df: DataFrame, x: str = "x", y: str = "y", z: str | None = None,
                   crs: str | None = None, geometry: str = "geometry") -> GeoDataFrame:
    if z is not None and z in df.columns:
        col = FX.st_point_z(F.col(x), F.col(y), F.col(z))
    else:
        col = FX.st_point(F.col(x), F.col(y))
    out = GeoDataFrame(df.withColumn(geometry, col), geometry, crs=crs)
    # symbolic coordinates: bbox/cx/x/y/clip/affine run natively
    has_z = z is not None and z in df.columns
    out._xy = (F.col(x).cast("double"), F.col(y).cast("double"), (x, y), has_z, 0)
    return out


def boxes_from_bounds(df: DataFrame, minx: str = "minx", miny: str = "miny",
                      maxx: str = "maxx", maxy: str = "maxy",
                      crs: str | None = None,
                      geometry: str = "geometry") -> GeoDataFrame:
    """Build axis-aligned rectangle geometries from four bound columns
    (minx <= maxx, miny <= maxy assumed).  The frame carries the corner
    columns as a shape hint: bbox materialization and sjoin predicate
    refinement against these rectangles run natively (closed-bounds
    arithmetic, no Python stage)."""
    col = FX.st_make_box(F.col(minx).cast("double"), F.col(miny).cast("double"),
                         F.col(maxx).cast("double"), F.col(maxy).cast("double"))
    out = GeoDataFrame(df.withColumn(geometry, col), geometry, crs=crs)
    out._corner_cols = (minx, miny, maxx, maxy)
    return out


def from_wkt(df: DataFrame, wkt_col: str, geometry: str = "geometry",
             crs: str | None = None) -> GeoDataFrame:
    return GeoDataFrame(
        df.withColumn(geometry, FX.st_geomfromtext(F.col(wkt_col))), geometry, crs=crs
    )


def from_wkb(df: DataFrame, wkb_col: str, geometry: str = "geometry",
             crs: str | None = None) -> GeoDataFrame:
    col = F.col(wkb_col)
    if wkb_col != geometry:
        df = df.withColumn(geometry, col)
    return GeoDataFrame(df, geometry, crs=crs)


def from_dask_dataframe(df: DataFrame, geometry: str = "geometry") -> GeoDataFrame:
    """Promote a plain DataFrame with a WKB column (reference expr.py:855-877)."""
    return GeoDataFrame(df, geometry)


def from_geopandas(spark, gdf, geometry: str | None = None,
                   npartitions: int | None = None) -> GeoDataFrame:
    """Partition an in-memory geopandas GeoDataFrame (reference
    expr.py:852 — alias of ``dd.from_pandas``).  Gated: geopandas is not
    installed in this environment; when available, geometries cross the
    boundary as WKB — the reference's own wire format (backends.py:71-78)."""
    try:
        import geopandas  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "from_geopandas requires the optional geopandas package"
        ) from e
    geometry = geometry or gdf.geometry.name
    pdf = gdf.copy()
    crs = None
    if getattr(pdf[geometry], "crs", None) is not None:
        crs = str(pdf[geometry].crs)
    pdf[geometry] = pdf[geometry].to_wkb()
    sdf = spark.createDataFrame(pdf)
    if npartitions:
        sdf = sdf.repartition(npartitions)
    return GeoDataFrame(sdf, geometry, crs=crs)


def concat(frames: list) -> GeoDataFrame:
    """Row-wise concatenation (reference: ``dd.concat`` over
    GeoDataFrames, tests/test_core.py:995-1008) — native unionByName;
    empty frames are fine (zero-row unions are no-ops)."""
    if not frames:
        raise ValueError("concat needs at least one frame")
    first = frames[0]
    out = first.df
    for g in frames[1:]:
        out = out.unionByName(g.df, allowMissingColumns=True)
    return GeoDataFrame(out, first.geometry_column,
                        crs_map=dict(getattr(first, "_crs", {})))


# ----------------------------------------------------------------------
# reprojection UDF (geometry/projections.py holds the math)
# ----------------------------------------------------------------------

# EPSG:4326 → 3857 over numpy arrays, kept as a named entry point
_lonlat_to_mercator = partial(PROJ.PRESETS[3857].forward, PROJ.NP)


def _reproject_udf(fn):
    from pyspark.sql.functions import pandas_udf

    from .geometry import wkb as W

    @pandas_udf(BinaryType())
    def _reproject(g: pd.Series) -> pd.Series:
        batch = W.parse_wkb(list(g))
        nx, ny = fn(batch.xs, batch.ys)
        return pd.Series(W.rewrite_coords(batch, nx, ny), dtype=object)

    return _reproject
