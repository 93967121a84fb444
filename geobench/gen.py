"""Seeded GeoParquet inputs and their reference answers, made without the engine.

Geometry is encoded as little-endian WKB with numpy and written with pyarrow
as GeoParquet 1.0: one ``geo`` footer entry per file (WKB encoding, geometry
types, file bbox), no bbox covering column, no CRS key (the spec default,
OGC:CRS84 longitude/latitude).  File count and row-group size are fixed
here, so the scan parallelism a pipeline sees depends on these files and
not on the engine's writer.

Every reference answer (point-in-polygon counts, shoelace sums, window
counts, clipped-overlap areas) is computed here with plain numpy, by code
that shares nothing with the engine's kernels.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Longitude/latitude extent of every generated layer (degrees).
EXTENT = (0.0, 30.0, 40.0, 60.0)
# Spherical Mercator radius used by EPSG:3857.
R_MERC = 6378137.0


# ----------------------------------------------------------------------
# WKB + GeoParquet writing
# ----------------------------------------------------------------------

_POINT_DT = np.dtype([("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])


def points_wkb(x: np.ndarray, y: np.ndarray) -> pa.Array:
    """2-D WKB points as one arrow binary array (21 bytes a row)."""
    rec = np.empty(len(x), dtype=_POINT_DT)
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    offsets = np.arange(len(x) + 1, dtype=np.int32) * _POINT_DT.itemsize
    return pa.Array.from_buffers(
        pa.binary(), len(x),
        [None, pa.py_buffer(offsets), pa.py_buffer(rec.tobytes())])


def polygons_wkb(rings: list) -> pa.Array:
    """Single-ring WKB polygons; each ring is a closed (n, 2) float array."""
    head = struct.Struct("<BIII")
    return pa.array(
        [head.pack(1, 3, 1, len(r)) + np.ascontiguousarray(r, "<f8").tobytes()
         for r in rings], type=pa.binary())


def write_geoparquet(path: str, columns: dict, geom_type: str,
                     row_group_size: int, bbox) -> int:
    """Write one GeoParquet 1.0 file; returns its size in bytes."""
    table = pa.table(columns)
    geo = {"version": "1.0.0", "primary_column": "geometry",
           "columns": {"geometry": {"encoding": "WKB",
                                    "geometry_types": [geom_type],
                                    "bbox": [float(v) for v in bbox]}}}
    table = table.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")
    return os.path.getsize(path)


def write_layer(dirpath: str, columns: dict, geom_type: str, files: int,
                row_group_size: int, bbox) -> int:
    """Split ``columns`` into ``files`` equal consecutive slices; returns the
    total bytes written."""
    os.makedirs(dirpath)
    n = len(next(iter(columns.values())))
    cuts = np.linspace(0, n, files + 1).astype(int)
    total = 0
    for k in range(files):
        part = {c: v[cuts[k]:cuts[k + 1]] for c, v in columns.items()}
        total += write_geoparquet(
            os.path.join(dirpath, f"part-{k:03d}.parquet"), part, geom_type,
            row_group_size, bbox)
    return total


# ----------------------------------------------------------------------
# Shapes
# ----------------------------------------------------------------------

def spread(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """``n`` values evenly spaced over [lo, hi], in random order: the seed
    moves shapes around but keeps the amount of work the same."""
    return rng.permutation(np.linspace(lo, hi, n))


def cycle(rng, values, n: int) -> np.ndarray:
    """``values`` repeated to length ``n``, in random order."""
    return rng.permutation(np.resize(np.asarray(values), n))


def clustered_points(rng, n: int, clusters: int, sigma: float):
    """``n`` points in ``clusters`` equal clusters, clipped to EXTENT."""
    x0, y0, x1, y1 = EXTENT
    cx = rng.uniform(x0 + 2, x1 - 2, clusters)
    cy = rng.uniform(y0 + 2, y1 - 2, clusters)
    which = cycle(rng, np.arange(clusters), n)
    x = np.clip(cx[which] + rng.normal(0, sigma, n), x0, x1)
    y = np.clip(cy[which] + rng.normal(0, sigma, n), y0, y1)
    return x, y, cx, cy


def star_ring(x: float, y: float, r: float, nv: int, rng) -> np.ndarray:
    """Closed counter-clockwise star-shaped ring: one vertex per evenly
    spaced angle, every other one pulled inwards, so the ring is simple."""
    t = np.linspace(0.0, 2 * np.pi, nv, endpoint=False) + rng.uniform(0, 1)
    rad = r * np.where(np.arange(nv) % 2 == 0, 1.0, rng.uniform(0.35, 0.8, nv))
    ring = np.column_stack([x + rad * np.cos(t), y + rad * np.sin(t)])
    return np.vstack([ring, ring[:1]])


def convex_ring(x: float, y: float, r: float, nv: int, rot: float) -> np.ndarray:
    """Closed counter-clockwise regular ``nv``-gon."""
    t = np.linspace(0.0, 2 * np.pi, nv, endpoint=False) + rot
    ring = np.column_stack([x + r * np.cos(t), y + r * np.sin(t)])
    return np.vstack([ring, ring[:1]])


def shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


def perimeter(ring: np.ndarray) -> float:
    return float(np.hypot(*np.diff(ring, axis=0).T).sum())


def ring_centroid(ring: np.ndarray):
    x, y = ring[:, 0], ring[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a6 = 3.0 * cross.sum()
    return (float(((x[:-1] + x[1:]) * cross).sum() / a6),
            float(((y[:-1] + y[1:]) * cross).sum() / a6))


def mercator(ring: np.ndarray) -> np.ndarray:
    lon, lat = np.radians(ring[:, 0]), np.radians(ring[:, 1])
    return np.column_stack([R_MERC * lon,
                            R_MERC * np.log(np.tan(np.pi / 4 + lat / 2))])


def ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of every point against one closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    for k in range(len(x1)):
        crosses = (y1[k] > py) != (y2[k] > py)
        if crosses.any():
            xi = x1[k] + (py - y1[k]) * (x2[k] - x1[k]) / (y2[k] - y1[k])
            inside ^= crosses & (px < xi)
    return inside


def clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray | None:
    """Sutherland-Hodgman intersection of two closed counter-clockwise
    convex rings; None when they do not overlap."""
    out = subject[:-1]
    for (ax, ay), (bx, by) in zip(clip[:-1], clip[1:]):
        if len(out) == 0:
            return None
        side = (bx - ax) * (out[:, 1] - ay) - (by - ay) * (out[:, 0] - ax)
        nxt = []
        for k in range(len(out)):
            p, q = out[k], out[(k + 1) % len(out)]
            sp, sq = side[k], side[(k + 1) % len(out)]
            if sp >= 0:
                nxt.append(p)
            if (sp >= 0) != (sq >= 0):
                nxt.append(p + (q - p) * (sp / (sp - sq)))
        out = np.array(nxt)
    if len(out) < 3:
        return None
    return np.vstack([out, out[:1]])


def _bbox_of(rings) -> np.ndarray:
    return np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(),
                      r[:, 1].max()] for r in rings])


def _extent(rings) -> list:
    bb = _bbox_of(rings)
    return [*bb.min(0)[:2], *bb.max(0)[2:]]


# ----------------------------------------------------------------------
# Workload inputs
# ----------------------------------------------------------------------

def gen_pip_join(rng, d: str, size: dict) -> dict:
    x, y, cx, cy = clustered_points(rng, size["points"], 48, 0.6)
    npoly = size["polygons"]
    pick = cycle(rng, np.arange(len(cx)), npoly)
    px = np.clip(cx[pick] + rng.normal(0, 0.8, npoly), EXTENT[0] + 1, EXTENT[2] - 1)
    py = np.clip(cy[pick] + rng.normal(0, 0.8, npoly), EXTENT[1] + 1, EXTENT[3] - 1)
    radius, nv = spread(rng, 0.05, 0.25, npoly), cycle(rng, range(8, 64), npoly)
    rings = [star_ring(px[i], py[i], radius[i], nv[i], rng) for i in range(npoly)]
    pbytes = write_layer(os.path.join(d, "points"),
                         {"pid": pa.array(np.arange(len(x))),
                          "geometry": points_wkb(x, y)},
                         "Point", 4, 32768, (*EXTENT,))
    gbytes = write_layer(os.path.join(d, "polygons"),
                         {"zone": pa.array(np.arange(npoly)),
                          "geometry": polygons_wkb(rings)},
                         "Polygon", 1, 1024, _extent(rings))
    order = np.argsort(x)
    xs, ys = x[order], y[order]
    counts = []
    for ring in rings:
        lo, hi = np.searchsorted(xs, [ring[:, 0].min(), ring[:, 0].max()])
        sy = ys[lo:hi]
        keep = (sy >= ring[:, 1].min()) & (sy <= ring[:, 1].max())
        counts.append(int(ray_cast(xs[lo:hi][keep], sy[keep], ring).sum()))
    return {"rows": len(x) + npoly, "input_bytes": pbytes + gbytes,
            "expect": {"counts": counts}}


def gen_polygon_map(rng, d: str, size: dict) -> dict:
    n = size["polygons"]
    x0, y0, x1, y1 = EXTENT
    radius, nv = spread(rng, 0.01, 0.05, n), cycle(rng, range(8, 64), n)
    rings = [star_ring(rng.uniform(x0 + 1, x1 - 1), rng.uniform(y0 + 1, y1 - 1),
                       radius[i], nv[i], rng) for i in range(n)]
    nbytes = write_layer(os.path.join(d, "polygons"),
                         {"pid": pa.array(np.arange(n)),
                          "geometry": polygons_wkb(rings)},
                         "Polygon", 3, 1024, _extent(rings))
    merc = [mercator(r) for r in rings]
    cents = np.array([ring_centroid(m) for m in merc])
    return {"rows": n, "input_bytes": nbytes, "expect": {
        "n": n,
        "area": sum(shoelace(m) for m in merc),
        "length": sum(perimeter(m) for m in merc),
        "cx": float(cents[:, 0].sum()), "cy": float(cents[:, 1].sum())}}


def gen_layout_scan(rng, d: str, size: dict) -> dict:
    x, y, _, _ = clustered_points(rng, size["points"], 48, 0.6)
    nbytes = write_layer(os.path.join(d, "points"),
                         {"pid": pa.array(np.arange(len(x))),
                          "geometry": points_wkb(x, y)},
                         "Point", 4, 32768, (*EXTENT,))
    # windows of mixed size (sides log-spaced over 0.05 .. 4 degrees), each
    # centred on a data point so most of them return rows
    q = size["queries"]
    at = rng.integers(0, len(x), q)
    w = np.exp(spread(rng, np.log(0.05), np.log(4.0), q))
    h = w * rng.uniform(0.5, 2.0, q)
    wins = np.column_stack([x[at] - w / 2, y[at] - h / 2,
                            x[at] + w / 2, y[at] + h / 2])
    counts = [int(((x >= a) & (x <= c) & (y >= b) & (y <= e)).sum())
              for a, b, c, e in wins]
    return {"rows": len(x), "input_bytes": nbytes,
            "expect": {"windows": wins.tolist(), "counts": counts}}


def _grid_layer(rng, n: int, cell: float, offset: float):
    """``n`` convex polygons on a square grid; radius <= 0.45 cell, so
    polygons of one layer never touch."""
    side = int(math.ceil(math.sqrt(n)))
    ij = np.array([(i, j) for i in range(side) for j in range(side)])[:n]
    cx = EXTENT[0] + 1 + (ij[:, 0] + offset) * cell
    cy = EXTENT[1] + 1 + (ij[:, 1] + offset) * cell
    radius, nv = spread(rng, 0.3 * cell, 0.45 * cell, n), cycle(rng, range(8, 33), n)
    return [convex_ring(cx[k], cy[k], radius[k], nv[k], rng.uniform(0, np.pi))
            for k in range(n)]


def gen_polygon_boolean(rng, d: str, size: dict) -> dict:
    n, groups, cell = size["polygons"], size["groups"], 0.05
    a = _grid_layer(rng, n, cell, 0.0)
    b = _grid_layer(rng, n, cell, 0.5)
    grp = cycle(rng, np.arange(groups), n)
    abytes = write_layer(os.path.join(d, "left"),
                         {"aid": pa.array(np.arange(n)),
                          "grp": pa.array(grp),
                          "geometry": polygons_wkb(a)},
                         "Polygon", 1, 512, _extent(a))
    bbytes = write_layer(os.path.join(d, "right"),
                         {"bid": pa.array(np.arange(n)),
                          "geometry": polygons_wkb(b)},
                         "Polygon", 1, 512, _extent(b))
    # overlapping pairs: polygons of one layer are disjoint, so every
    # intersection piece is disjoint from every other, and a group's
    # dissolved area is the sum of its pieces' areas
    ba, bb = _bbox_of(a), _bbox_of(b)
    order = np.argsort(bb[:, 0])
    bx = bb[order, 0]
    pieces, total = 0, 0.0
    group_area = np.zeros(groups)
    for i, box in enumerate(ba):
        hi = np.searchsorted(bx, box[2], side="right")
        for j in order[:hi]:
            if bb[j, 2] < box[0] or bb[j, 1] > box[3] or bb[j, 3] < box[1]:
                continue
            piece = clip_convex(a[i], b[j])
            if piece is not None and shoelace(piece) > 0:
                pieces += 1
                total += shoelace(piece)
                group_area[grp[i]] += shoelace(piece)
    step = max(1, n // size["buffered"])
    sample = list(range(0, n, step))[:size["buffered"]]
    dist = cell * 0.05
    buffered = sum(shoelace(a[k]) + perimeter(a[k]) * dist + np.pi * dist ** 2
                   for k in sample)
    return {"rows": 2 * n, "input_bytes": abytes + bbytes, "expect": {
        "pieces": pieces, "area": total, "group_area": group_area.tolist(),
        "buffer_ids": sample, "buffer_distance": dist,
        "buffer_area": float(buffered)}}


GENERATORS = {"pip_join": gen_pip_join, "polygon_map": gen_polygon_map,
              "layout_scan": gen_layout_scan,
              "polygon_boolean": gen_polygon_boolean}


def inputs(cache_root: str, pipeline: str, seed: int, size: dict) -> dict:
    """Generated input directory and reference answers for one pipeline,
    seed and size; generated once and then served from ``cache_root``
    (the key includes a hash of this file, so a changed generator makes
    fresh inputs)."""
    with open(__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    key = "-".join([pipeline, f"s{seed}"]
                   + [f"{k}{v}" for k, v in sorted(size.items())] + [version])
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta.update(dir=d, gen_s=0.0)
        return meta
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta = GENERATORS[pipeline](np.random.default_rng(seed), tmp, size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, d)
    meta.update(dir=d, gen_s=time.perf_counter() - t0)
    return meta
