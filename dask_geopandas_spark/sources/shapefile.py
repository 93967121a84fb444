"""ESRI Shapefile source & sink — pure Python, no GDAL.

The reference reads shapefiles through ``read_file``/pyogrio (reference
io/file.py:49-149); GDAL is absent in this environment, but the
shapefile format is a small, fully-published binary layout (the ESRI
whitepaper plus dBase III for attributes), so this module serves the
single most common ``read_file`` format natively.

Distribution model — the part list comes for free from the format:

* the ``.shx`` sidecar is a fixed-width record index (8 bytes per
  feature: byte offset + length of the corresponding ``.shp`` record),
  so the DRIVER learns the exact byte range of any run of features
  from an ``8·n``-byte read — no scan of the data file;
* the ``.dbf`` attribute file is fixed-width too (``header + i·recsize``
  addresses record ``i`` directly);
* so a chunk of ``n`` features maps to two seek+read calls, and the
  reader fans chunks out via ``mapInPandas`` exactly like the
  reference's (path, skip, count) part list — but with true O(1)
  random access instead of pyogrio's skip_features re-scan.

The attribute schema needs no sampling: the ``.dbf`` header declares
every field's name/type/width up front, so the Spark schema is exact
and driver-side.  Doubles ride in 25-char ``F`` fields written with
``repr`` (shortest round-trip form), so float round-trips are exact.

Polygon semantics follow the spec: outer rings are clockwise, holes
counter-clockwise; the reader classifies rings by shoelace sign and
assigns holes to the outer ring containing them (bbox prefilter + ray
cast), producing POLYGON for one outer and MULTIPOLYGON otherwise —
the same organize-polygons behavior GDAL applies.

Writer: one ``part-*.shp/.shx/.dbf`` triple per Spark partition inside
a directory (plus one ``.prj``), mirroring the engine's other sinks;
the reader accepts a single ``.shp`` or such a directory.
"""

from __future__ import annotations

import glob
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

from . import fs as FS
from ..geometry import wkb as W
from ..geometry.projections import is_geographic

# shapefile shape-type codes (ESRI whitepaper table 1)
_NULL = 0
_POINT, _POLYLINE, _POLYGON, _MULTIPOINT = 1, 3, 5, 8
_POINTZ, _POLYLINEZ, _POLYGONZ, _MULTIPOINTZ = 11, 13, 15, 18
_POINTM, _POLYLINEM, _POLYGONM, _MULTIPOINTM = 21, 23, 25, 28
_BASE = {_POINTZ: _POINT, _POLYLINEZ: _POLYLINE, _POLYGONZ: _POLYGON,
         _MULTIPOINTZ: _MULTIPOINT, _POINTM: _POINT, _POLYLINEM: _POLYLINE,
         _POLYGONM: _POLYGON, _MULTIPOINTM: _MULTIPOINT}

_WGS84_PRJ = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
              'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
              'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')


# ======================================================================
# sidecar helpers
# ======================================================================
def _sidecar(shp_path: str, ext: str) -> str:
    base = shp_path[:-4] if shp_path.lower().endswith(".shp") else shp_path
    return base + ext


def _read_shx(shp_path: str, filesystem=None, start: int = 0,
              count: int | None = None) -> np.ndarray:
    """(n, 2) int64 array of (byte_offset, content_bytes) per record.

    ``start``/``count`` slice the fixed-width index with a RANGE read
    (seek + 8·count bytes) — executors must never pull the whole .shx
    (8 bytes × total records) just to serve one chunk."""
    with FS.open_input(_sidecar(shp_path, ".shx"), filesystem) as f:
        if count is None:
            f.seek(100)
            raw = f.read()
        else:
            f.seek(100 + 8 * start)
            raw = f.read(8 * count)
    idx = np.frombuffer(raw, dtype=">i4").astype(np.int64).reshape(-1, 2)
    return idx * 2  # 16-bit words -> bytes


def _parse_dbf_header(raw: bytes):
    """-> (n_records, header_size, record_size, fields[name, type, len, dec])."""
    n_rec, hdr, rec = struct.unpack("<IHH", raw[4:12])
    fields = []
    pos = 32
    while raw[pos] != 0x0D:
        d = raw[pos:pos + 32]
        name = d[:11].split(b"\x00")[0].decode("ascii", "replace")
        fields.append((name, chr(d[11]), d[16], d[17]))
        pos += 32
    return n_rec, hdr, rec, fields


def _dbf_spark_type(ftype: str, dec: int):
    if ftype == "L":
        return BooleanType()
    if ftype in ("N", "F"):
        return DoubleType() if (dec > 0 or ftype == "F") else LongType()
    return StringType()  # C, D, and anything exotic ride as text


def _crs_from_prj(shp_path: str, filesystem=None) -> str | None:
    candidates = [_sidecar(shp_path, ".prj")]
    d = os.path.dirname(FS.strip_scheme(shp_path))
    if filesystem is None and not FS.has_scheme(shp_path) and os.path.isdir(d):
        candidates += sorted(glob.glob(os.path.join(d, "*.prj")))
    wkt = None
    for cand in candidates:
        try:
            with FS.open_input(cand, filesystem) as f:
                wkt = f.read().decode("utf-8", "replace").strip()
            break
        except (FileNotFoundError, OSError):
            continue
    if wkt is None:
        return None
    if "WGS_1984" in wkt and wkt.startswith("GEOGCS"):
        return "EPSG:4326"
    if "WGS_1984_Web_Mercator" in wkt or '"3857"' in wkt:
        return "EPSG:3857"
    return wkt or None


# ======================================================================
# .shp record -> WKB
# ======================================================================
def _ring_is_cw(ring: np.ndarray) -> bool:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)) < 0


def _point_in_ring(pt: np.ndarray, ring: np.ndarray) -> bool:
    x, y = float(pt[0]), float(pt[1])
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cond = (y0 <= y) != (y1 <= y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
    return bool(np.count_nonzero(cond & (x < xs)) % 2)


def _organize_rings(rings: list) -> list:
    """Spec ring soup -> list of [outer, hole, ...] per polygon."""
    if len(rings) == 1:
        return [rings]
    outers = [r for r in rings if _ring_is_cw(r)]
    holes = [r for r in rings if not _ring_is_cw(r)]
    if not outers:  # malformed orientation: first ring hosts the rest
        return [rings]
    polys = [[o] for o in outers]
    for h in holes:
        if len(polys) == 1:
            polys[0].append(h)
            continue
        hx, hy = h[0, 0], h[0, 1]
        placed = False
        for p in polys:
            o = p[0]
            if (o[:, 0].min() <= hx <= o[:, 0].max()
                    and o[:, 1].min() <= hy <= o[:, 1].max()
                    and _point_in_ring(h[0], o)):
                p.append(h)
                placed = True
                break
        if not placed:
            polys[0].append(h)
    return polys


def _shp_record_to_wkb(content: bytes) -> bytes | None:
    """One .shp record content (after the 8-byte record header) -> WKB."""
    stype = struct.unpack("<i", content[:4])[0]
    if stype == _NULL:
        return None
    base = _BASE.get(stype, stype)
    has_z = stype in (_POINTZ, _POLYLINEZ, _POLYGONZ, _MULTIPOINTZ)

    if base == _POINT:
        xy = np.frombuffer(content, dtype="<f8", count=2, offset=4)
        if has_z:
            z = np.frombuffer(content, dtype="<f8", count=1, offset=20)
            return W.serialize_geometry(W.POINT, np.r_[xy, z], True)
        return W.serialize_geometry(W.POINT, xy, False)

    if base == _MULTIPOINT:
        npts = struct.unpack("<i", content[36:40])[0]
        pts = np.frombuffer(content, dtype="<f8", count=2 * npts,
                            offset=40).reshape(-1, 2)
        if has_z:
            zoff = 40 + 16 * npts + 16  # points + z-range
            z = np.frombuffer(content, dtype="<f8", count=npts, offset=zoff)
            pts = np.column_stack([pts, z])
        return W.serialize_geometry(W.MULTIPOINT, pts, has_z)

    # PolyLine / Polygon share the parts layout
    nparts, npts = struct.unpack("<ii", content[36:44])
    parts = np.frombuffer(content, dtype="<i4", count=nparts, offset=44)
    coff = 44 + 4 * nparts
    pts = np.frombuffer(content, dtype="<f8", count=2 * npts,
                        offset=coff).reshape(-1, 2)
    if has_z:
        zoff = coff + 16 * npts + 16
        z = np.frombuffer(content, dtype="<f8", count=npts, offset=zoff)
        pts = np.column_stack([pts, z])
    bounds = np.r_[parts.astype(np.int64), npts]
    pieces = [pts[bounds[i]:bounds[i + 1]] for i in range(nparts)]

    if base == _POLYLINE:
        if nparts == 1:
            return W.serialize_geometry(W.LINESTRING, pieces[0], has_z)
        return W.serialize_geometry(W.MULTILINESTRING, pieces, has_z)

    polys = _organize_rings(pieces)
    if len(polys) == 1:
        return W.serialize_geometry(W.POLYGON, polys[0], has_z)
    return W.serialize_geometry(W.MULTIPOLYGON, polys, has_z)


# ======================================================================
# .dbf values
# ======================================================================
def _parse_dbf_chunk(raw: bytes, rec_size: int, fields, want) -> dict:
    """Fixed-width record block -> {field: list}.

    The deletion flag is ignored (rows parse regardless): the .shp file
    has no deletion concept, so skipping dbf rows would misalign
    attributes against geometries — same as GDAL's default behavior.
    """
    out: dict = {name: [] for name, *_ in fields if name in want}
    n = len(raw) // rec_size
    for i in range(n):
        rec = raw[i * rec_size:(i + 1) * rec_size]
        pos = 1
        for name, ftype, flen, dec in fields:
            cell = rec[pos:pos + flen]
            pos += flen
            if name not in out:
                continue
            txt = cell.decode("utf-8", "replace").strip()
            if ftype == "L":
                out[name].append(None if txt in ("", "?")
                                 else txt in ("T", "t", "Y", "y"))
            elif ftype in ("N", "F"):
                if not txt:
                    out[name].append(None)
                elif dec > 0 or ftype == "F":
                    out[name].append(float(txt))
                else:
                    out[name].append(int(txt))
            else:
                out[name].append(txt)
    return out


# ======================================================================
# reader
# ======================================================================
def _list_shp(path: str, filesystem=None) -> list:
    if filesystem is not None or FS.has_scheme(path):
        if FS.is_dir(path, filesystem):
            return FS.list_files(path, suffixes=(".shp",), filesystem=filesystem)
        return [path]
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.shp")))
    return sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]


def read_shapefile(spark: SparkSession, path: str, columns=None,
                   npartitions: int | None = None,
                   chunksize: int | None = None, filesystem=None,
                   geometry: str = "geometry"):
    """Read shapefile(s) -> GeoDataFrame with WKB geometry.

    ``path``: one ``.shp`` or a directory of them (the sink's layout).
    Schema comes exactly from the ``.dbf`` header (no sampling); the
    part list comes from the fixed-width ``.shx`` index, so each task
    does two range reads.  Reference parity: io/file.py:49-149.
    """
    from ..core import GeoDataFrame

    files = _list_shp(path, filesystem)
    if not files:
        raise FileNotFoundError(path)

    # driver-side schema from the first .dbf header (all parts share it)
    with FS.open_input(_sidecar(files[0], ".dbf"), filesystem) as f:
        head = f.read(32 + 32 * 128)
    _, _, _, fields = _parse_dbf_header(head)
    prop_fields = [StructField(n, _dbf_spark_type(t, d))
                   for n, t, _l, d in fields]
    if columns:
        keep = set(columns)
        prop_fields = [f for f in prop_fields if f.name in keep]
    want_geom = not columns or geometry in set(columns)
    schema = StructType(prop_fields + ([StructField(geometry, BinaryType())]
                                       if want_geom else []))
    want = {f.name for f in prop_fields}
    crs = _crs_from_prj(files[0], filesystem)

    # part list: (file, start_record, n_records).  The record COUNT is a
    # pure function of the fixed-width .shx size — one stat call per
    # file on the driver, no index read at all.
    parts = []
    for fp in files:
        fsys, p = FS.resolve_fs(_sidecar(fp, ".shx"), filesystem)
        total = (int(fsys.get_file_info(p).size) - 100) // 8
        if total == 0:
            continue
        if chunksize is None:
            per = (int(np.ceil(total / npartitions))
                   if npartitions else max(total, 1))
        else:
            per = max(int(chunksize), 1)
        for s in range(0, total, per):
            parts.append((fp, s, min(per, total - s)))
    if not parts:
        df = spark.createDataFrame([], schema)
        return GeoDataFrame(df, geometry, crs=crs) if want_geom else df

    part_df = spark.createDataFrame(
        parts, "path: string, start: long, count: long"
    ).repartition(min(len(parts), 512))
    fnames = list(schema.fieldNames())

    def read_part(batches):
        for pdf in batches:
            for p, s, c in zip(pdf["path"], pdf["start"], pdf["count"]):
                s, c = int(s), int(c)
                idx = _read_shx(p, filesystem, start=s, count=c)
                data: dict = {}
                if want:
                    with FS.open_input(_sidecar(p, ".dbf"), filesystem) as f:
                        hd = f.read(32 + 32 * 128)
                        _n, hsz, rsz, flds = _parse_dbf_header(hd)
                        f.seek(hsz + s * rsz)
                        raw = f.read(c * rsz)
                    data = _parse_dbf_chunk(raw, rsz, flds, want)
                if want_geom:
                    lo = int(idx[0, 0])
                    hi = int(idx[-1, 0]) + 8 + int(idx[-1, 1])
                    with FS.open_input(p, filesystem) as f:
                        f.seek(lo)
                        blob = f.read(hi - lo)
                    geoms = []
                    for off, ln in idx:
                        a = int(off) - lo + 8
                        geoms.append(_shp_record_to_wkb(blob[a:a + int(ln)]))
                    data[geometry] = geoms
                yield pd.DataFrame(data, columns=fnames)

    df = part_df.mapInPandas(read_part, schema=schema)
    return GeoDataFrame(df, geometry, crs=crs) if want_geom else df


# ======================================================================
# writer
# ======================================================================
def _rings_of(batch: W.GeometryBatch, lo: int, hi: int) -> list:
    out = []
    for p in range(lo, hi):
        s, e = int(batch.path_offsets[p]), int(batch.path_offsets[p + 1])
        out.append((np.column_stack([batch.xs[s:e], batch.ys[s:e]]),
                    None if batch.zs is None else batch.zs[s:e],
                    int(batch.path_part[p])))
    return out


def _oriented(ring: np.ndarray, cw: bool) -> slice:
    return slice(None, None, 1 if _ring_is_cw(ring) == cw else -1)


def _shp_geom_record(batch: W.GeometryBatch, i: int, lo: int, hi: int,
                     use_z: bool) -> bytes:
    """Geometry i (paths lo..hi) -> .shp record content bytes."""
    t = int(batch.types[i])
    if t == 0 or hi <= lo:
        return struct.pack("<i", _NULL)
    paths = _rings_of(batch, lo, hi)
    hz = use_z and batch.zs is not None

    def zcol(xy, z):
        return (np.zeros(len(xy)) if z is None else
                np.where(np.isnan(z), 0.0, z))

    if t == W.POINT:
        xy, z, _ = paths[0]
        if hz:
            return struct.pack("<i", _POINTZ) + xy[0].tobytes() + \
                struct.pack("<dd", float(zcol(xy, z)[0]), 0.0)
        return struct.pack("<i", _POINT) + xy[0].astype("<f8").tobytes()

    if t == W.MULTIPOINT:
        pts = np.vstack([p[0] for p in paths])
        zs = np.concatenate([zcol(p[0], p[1]) for p in paths])
        box = struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                          pts[:, 0].max(), pts[:, 1].max())
        body = struct.pack("<i", _MULTIPOINTZ if hz else _MULTIPOINT) + box
        body += struct.pack("<i", len(pts)) + pts.astype("<f8").tobytes()
        if hz:
            body += struct.pack("<dd", zs.min(), zs.max()) + \
                zs.astype("<f8").tobytes() + \
                struct.pack("<dd", 0.0, 0.0) + np.zeros(len(pts)).tobytes()
        return body

    if t in (W.LINESTRING, W.MULTILINESTRING):
        pieces = [(p[0], zcol(p[0], p[1])) for p in paths]
        code = _POLYLINEZ if hz else _POLYLINE
    else:  # POLYGON / MULTIPOLYGON: outer CW, holes CCW per the spec.
        # WKB convention: the first ring of each polygon part is the
        # outer ring, subsequent rings of the same part are holes.
        pieces = []
        seen_parts: set = set()
        for xy, z, part in paths:
            is_outer = part not in seen_parts
            seen_parts.add(part)
            sl = _oriented(xy, cw=is_outer)
            pieces.append((xy[sl], zcol(xy, z)[sl]))
        code = _POLYGONZ if hz else _POLYGON

    pts = np.vstack([p[0] for p in pieces])
    zs = np.concatenate([p[1] for p in pieces])
    offsets = np.cumsum([0] + [len(p[0]) for p in pieces[:-1]])
    box = struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                      pts[:, 0].max(), pts[:, 1].max())
    body = struct.pack("<i", code) + box
    body += struct.pack("<ii", len(pieces), len(pts))
    body += np.asarray(offsets, dtype="<i4").tobytes()
    body += pts.astype("<f8").tobytes()
    if hz:
        body += struct.pack("<dd", zs.min(), zs.max()) + \
            zs.astype("<f8").tobytes() + \
            struct.pack("<dd", 0.0, 0.0) + np.zeros(len(pts)).tobytes()
    return body


def _dbf_encode(pdf: pd.DataFrame, cols, types) -> bytes:
    """dBase III file bytes for the given columns."""
    specs = []  # (name, type, len, dec, fmt)
    for c in cols:
        dt = types[c]
        if isinstance(dt, BooleanType):
            specs.append((c, "L", 1, 0))
        elif isinstance(dt, LongType):
            specs.append((c, "N", 20, 0))
        elif isinstance(dt, DoubleType):
            specs.append((c, "F", 25, 17))
        else:
            width = 1
            if len(pdf):
                width = int(pdf[c].astype(str).str.encode(
                    "utf-8").str.len().max() or 1)
            specs.append((c, "C", min(max(width, 1), 254), 0))
    rec_size = 1 + sum(s[2] for s in specs)
    hdr_size = 32 + 32 * len(specs) + 1
    out = bytearray()
    out += struct.pack("<B3BIHH20x", 3, 126, 8, 14, len(pdf), hdr_size,
                       rec_size)  # date bytes are (yy since 1900, mm, dd)
    for name, ftype, flen, dec in specs:
        out += struct.pack("<11sc4xBB14x", name.encode("ascii", "replace")[:11],
                           ftype.encode(), flen, dec)
    out += b"\x0d"
    for i in range(len(pdf)):
        out += b" "
        for name, ftype, flen, dec in specs:
            v = pdf[name].iloc[i]
            isna = v is None or (isinstance(v, float) and v != v) or pd.isna(v)
            if ftype == "L":
                cell = b"?" if isna else (b"T" if v else b"F")
            elif ftype == "N":
                cell = b"" if isna else str(int(v)).encode()
                cell = cell.rjust(flen)
            elif ftype == "F":
                cell = b"" if isna else repr(float(v)).encode()
                cell = cell.rjust(flen)
            else:
                cell = ("" if isna else str(v)).encode("utf-8")[:flen]
                cell = cell.ljust(flen)
            if len(cell) > flen:
                cell = cell[:flen]
            out += cell
    out += b"\x1a"
    return bytes(out)


def _shp_encode(records: list) -> tuple[bytes, bytes]:
    """record-content list -> (.shp bytes, .shx bytes)."""
    shp = bytearray(100)
    shx = bytearray(100)
    boxes = []
    stype = _NULL
    for n, content in enumerate(records, start=1):
        if len(content) % 2:
            content += b"\x00"
        off_words = len(shp) // 2
        shp += struct.pack(">ii", n, len(content) // 2) + content
        shx += struct.pack(">ii", off_words, len(content) // 2)
        code = struct.unpack("<i", content[:4])[0]
        if code != _NULL:
            stype = code
            if code in (_POINT, _POINTZ, _POINTM):
                x, y = struct.unpack("<dd", content[4:20])
                boxes.append((x, y, x, y))
            else:
                boxes.append(struct.unpack("<4d", content[4:36]))
    if boxes:
        bs = np.asarray(boxes)
        with np.errstate(all="ignore"):
            box = (np.nanmin(bs[:, 0]), np.nanmin(bs[:, 1]),
                   np.nanmax(bs[:, 2]), np.nanmax(bs[:, 3]))
        box = tuple(0.0 if v != v else float(v) for v in box)
    else:
        box = (0.0, 0.0, 0.0, 0.0)
    for buf in (shp, shx):
        struct.pack_into(">i", buf, 0, 9994)
        struct.pack_into(">i", buf, 24, len(buf) // 2)
        struct.pack_into("<ii", buf, 28, 1000, stype)
        struct.pack_into("<4d", buf, 36, *box)
        struct.pack_into("<4d", buf, 68, 0.0, 0.0, 0.0, 0.0)
    return bytes(shp), bytes(shx)


def to_shapefile(gdf_or_df, path: str, filesystem=None,
                 use_z: bool = True) -> None:
    """Write one shapefile (.shp/.shx/.dbf) per partition into ``path``,
    plus one ``.prj`` when the frame carries a recognized CRS.

    dBase limits apply (same laundering GDAL performs): field names
    truncate to 11 bytes, strings to 254 bytes.  Doubles are written in
    ``repr`` (shortest round-trip) form, so they read back bit-exact.
    """
    df = gdf_or_df.df if hasattr(gdf_or_df, "df") else gdf_or_df
    geometry = getattr(gdf_or_df, "geometry_column", "geometry")
    crs = getattr(gdf_or_df, "crs", None)
    FS.makedirs(path, filesystem)
    if crs and is_geographic(crs):
        with FS.open_output(FS.join(path, "layer.prj"), filesystem) as f:
            f.write(_WGS84_PRJ.encode())
    elif crs:
        with FS.open_output(FS.join(path, "layer.prj"), filesystem) as f:
            f.write(str(crs).encode())
    prop_cols = [c for c in df.columns if c != geometry]
    types = {f.name: f.dataType for f in df.schema.fields}

    def write_part(batches):
        import uuid

        from dask_geopandas_spark.sources import fs as _FS
        from dask_geopandas_spark.sources.shapefile import (_dbf_encode,
                                                            _shp_encode,
                                                            _shp_geom_record)

        pdfs = list(batches)
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True)
            blobs = list(pdf[geometry]) if geometry in pdf else [None] * len(pdf)
            batch = W.parse_wkb(blobs)
            first = np.searchsorted(batch.path_geom, np.arange(batch.n), "left")
            last = np.searchsorted(batch.path_geom, np.arange(batch.n), "right")
            recs = [_shp_geom_record(batch, i, int(first[i]), int(last[i]),
                                     use_z) for i in range(batch.n)]
            shp, shx = _shp_encode(recs)
            stem = f"part-{uuid.uuid4().hex}"
            for ext, payload in ((".shp", shp), (".shx", shx),
                                 (".dbf", _dbf_encode(pdf, prop_cols, types))):
                with _FS.open_output(_FS.join(path, stem + ext),
                                     filesystem) as f:
                    f.write(payload)
        yield pd.DataFrame({"files": pd.Series([1], dtype="int64")})

    df.mapInPandas(write_part, schema="files long").collect()
