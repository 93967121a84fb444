"""GeoPackage source & sink — pure Python via stdlib sqlite3, no GDAL.

The reference reads GeoPackage through ``read_file``/pyogrio (reference
io/file.py:49-149).  GDAL is absent here, but a GeoPackage is just a
SQLite database with a published schema (OGC 12-128r19): feature tables
carry GeoPackageBinary (GPB) blobs = an 8-byte header (+ optional
envelope) followed by standard WKB, and three registry tables
(``gpkg_contents``, ``gpkg_geometry_columns``, ``gpkg_spatial_ref_sys``)
describe layers and CRS.  The stdlib ``sqlite3`` module reads all of it.

Distribution model: the driver asks SQLite for ``min(rowid)``,
``max(rowid)`` and the row count, splits the rowid range into chunks,
and each executor task opens the file read-only/immutable and pulls its
``rowid BETWEEN a AND b`` slice — SQLite supports any number of
concurrent readers, and rowid-range scans are index-free B-tree range
walks, so tasks touch disjoint pages.  Attribute schema needs no
sampling: ``PRAGMA table_info`` declares every column.

Writer: SQLite files cannot be appended concurrently, so the sink
writes one ``part-*.gpkg`` per Spark partition into a directory (the
engine's standard sink layout; the reader accepts a single file or such
a directory).  Each part is a fully valid GeoPackage (application_id
``GPKG``, registry rows, R-tree-free — readable by GDAL/QGIS).

Remote paths: SQLite needs a real file, so non-local URIs (any scheme
the fs layer resolves — s3a://, gs://, registered test schemes) are
copied once to a process-local temp file before ``sqlite3`` opens
them, cached per path for the executor-process lifetime so a task
serving many rowid chunks of one file downloads it once.  GeoPackage
is a small-file interchange format, so the copy is the pragmatic
scale answer; columnar formats remain the bulk path.
"""

from __future__ import annotations

import atexit as _atexit
import glob
import os
import sqlite3
import struct
import threading as _threading

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType)

from . import fs as FS
from ..geometry import wkb as W
from ..geometry.projections import is_geographic

_ENV_SIZE = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


# ======================================================================
# GPB <-> WKB
# ======================================================================
def gpb_to_wkb(blob: bytes | None) -> bytes | None:
    """GeoPackageBinary -> WKB (strip the GP header + envelope)."""
    if blob is None:
        return None
    if len(blob) < 8 or blob[:2] != b"GP":
        return blob  # permissive: already WKB
    flags = blob[3]
    if flags & 0x20:  # extended GPB: 4 extra magic bytes
        raise NotImplementedError("extended GeoPackageBinary not supported")
    env = _ENV_SIZE.get((flags >> 1) & 0x07)
    if env is None:
        raise ValueError("invalid GPB envelope indicator")
    if flags & 0x10:  # empty-geometry flag
        return None
    return blob[8 + env:]


def wkb_to_gpb(wkb: bytes | None, srs_id: int) -> bytes | None:
    """WKB -> GeoPackageBinary (no envelope, little-endian header)."""
    if wkb is None:
        return None
    return b"GP\x00\x01" + struct.pack("<i", srs_id) + wkb


def _srs_string(org: str | None, oid) -> str | None:
    if org is None or oid is None:
        return None
    return f"{str(org).upper()}:{int(oid)}"


def _srs_id_of(crs) -> int:
    s = str(crs or "").upper()
    if s.startswith("EPSG:"):
        try:
            return int(s.split(":")[1])
        except ValueError:
            pass
    if is_geographic(s):
        return 4326
    return 0  # undefined geographic


# ======================================================================
# reader
# ======================================================================
def _list_gpkg(path: str, filesystem=None) -> list:
    if filesystem is not None or FS.has_scheme(path):
        if FS.is_dir(path, filesystem):
            return FS.list_files(path, suffixes=(".gpkg",),
                                 filesystem=filesystem)
        return [path]
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.gpkg")))
    return sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]


# per-process cache of downloaded remote .gpkg files (executor tasks
# reading many rowid chunks of one file must download it once, not per
# chunk).  Copies are removed at process exit, and a per-path lock
# keeps concurrent tasks from racing to duplicate (and orphan) the
# same download — long-lived executors must not leak local disk.
_LOCAL_COPIES: dict = {}
_COPY_LOCKS: dict = {}
_COPY_LOCKS_GUARD = _threading.Lock()


@_atexit.register
def _cleanup_local_copies() -> None:
    for tmp in list(_LOCAL_COPIES.values()):
        try:
            os.unlink(tmp)
        except OSError:
            pass
    _LOCAL_COPIES.clear()


def _path_lock(path: str):
    with _COPY_LOCKS_GUARD:
        if path not in _COPY_LOCKS:
            _COPY_LOCKS[path] = _threading.Lock()
        return _COPY_LOCKS[path]


def _local_copy(path: str, filesystem=None) -> str:
    with _path_lock(path):
        got = _LOCAL_COPIES.get(path)
        if got and os.path.exists(got):
            return got
        import tempfile

        fd, tmp = tempfile.mkstemp(suffix=".gpkg", prefix="dgs-gpkg-")
        try:
            with os.fdopen(fd, "wb") as out, \
                    FS.open_input(path, filesystem) as f:
                while True:
                    chunk = f.read(1 << 22)
                    if not chunk:
                        break
                    out.write(chunk)
        except BaseException:
            os.unlink(tmp)
            raise
        _LOCAL_COPIES[path] = tmp
        return tmp


def _ro_connect(path: str, filesystem=None) -> sqlite3.Connection:
    if filesystem is not None or FS.has_scheme(path):
        path = _local_copy(path, filesystem)
    return sqlite3.connect(f"file:{path}?mode=ro&immutable=1", uri=True)


def _layer_info(con: sqlite3.Connection, layer: str | None):
    """-> (table, geom_col, crs_string).  Default layer = first feature
    table registered in gpkg_contents."""
    row = con.execute(
        "SELECT c.table_name, g.column_name, s.organization, "
        "       s.organization_coordsys_id "
        "FROM gpkg_contents c "
        "JOIN gpkg_geometry_columns g ON g.table_name = c.table_name "
        "LEFT JOIN gpkg_spatial_ref_sys s ON s.srs_id = g.srs_id "
        "WHERE c.data_type = 'features' "
        + ("AND c.table_name = ? " if layer else "")
        + "ORDER BY c.table_name LIMIT 1",
        (layer,) if layer else ()).fetchone()
    if row is None:
        raise ValueError(f"no feature layer {layer!r} in GeoPackage")
    return row[0], row[1], _srs_string(row[2], row[3])


def _sqlite_spark_type(decl: str):
    d = (decl or "").upper()
    if any(k in d for k in ("INT",)):
        return LongType()
    if any(k in d for k in ("REAL", "FLOA", "DOUB")):
        return DoubleType()
    if "BLOB" in d or d in ("GEOMETRY", "POINT", "LINESTRING", "POLYGON",
                            "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON",
                            "GEOMETRYCOLLECTION"):
        return BinaryType()
    return StringType()


def read_geopackage(spark: SparkSession, path: str, layer: str | None = None,
                    columns=None, npartitions: int | None = None,
                    chunksize: int | None = None, filesystem=None):
    """Read GeoPackage feature layer(s) -> GeoDataFrame with WKB
    geometry.  ``path``: one ``.gpkg`` or a directory of them (the
    sink's layout; all parts must share one schema); non-local URIs
    are copied to executor-local temp files first (see module doc).
    Reference parity: read_file on .gpkg, io/file.py:49-149."""
    from ..core import GeoDataFrame

    files = _list_gpkg(path, filesystem)
    if not files:
        raise FileNotFoundError(path)

    with _ro_connect(files[0], filesystem) as con:
        table, geom_col, crs = _layer_info(con, layer)
        cols = con.execute(f'PRAGMA table_info("{table}")').fetchall()

    fields, names = [], []
    for _cid, name, decl, _nn, _dv, pk in cols:
        if name == geom_col:
            continue
        fields.append(StructField(name, LongType() if pk else
                                  _sqlite_spark_type(decl)))
        names.append(name)
    if columns:
        keep = set(columns)
        fields = [f for f in fields if f.name in keep]
        names = [f.name for f in fields]
    want_geom = not columns or geom_col in set(columns)
    schema = StructType(fields + ([StructField(geom_col, BinaryType())]
                                  if want_geom else []))

    # part list: rowid ranges per file
    parts = []
    for fp in files:
        with _ro_connect(fp, filesystem) as con:
            lo, hi, n = con.execute(
                f'SELECT min(rowid), max(rowid), count(*) FROM "{table}"'
            ).fetchone()
        if not n:
            continue
        span = hi - lo + 1
        if chunksize is None:
            # default ~100k rows per chunk, uncapped: a billion-row
            # table must fan out to thousands of tasks, not 32 (the
            # part DataFrame itself stays tiny — 3 values per chunk)
            k = npartitions or max(1, int(np.ceil(n / 100_000)))
            per = int(np.ceil(span / k))
        else:
            per = max(int(chunksize), 1)
        for s in range(lo, hi + 1, per):
            parts.append((fp, s, min(s + per - 1, hi)))
    if not parts:
        df = spark.createDataFrame([], schema)
        return GeoDataFrame(df, geom_col, crs=crs) if want_geom else df

    part_df = spark.createDataFrame(
        parts, "path: string, lo: long, hi: long"
    ).repartition(min(len(parts), 512))
    sel = ", ".join(f'"{c}"' for c in
                    (names + ([geom_col] if want_geom else [])))
    fnames = list(schema.fieldNames())

    def read_part(batches):
        from dask_geopandas_spark.sources.geopackage import (_ro_connect,
                                                             gpb_to_wkb)

        for pdf in batches:
            for p, lo, hi in zip(pdf["path"], pdf["lo"], pdf["hi"]):
                with _ro_connect(p, filesystem) as con:
                    rows = con.execute(
                        f'SELECT {sel} FROM "{table}" '
                        f"WHERE rowid BETWEEN ? AND ?",
                        (int(lo), int(hi))).fetchall()
                data = {c: [r[i] for r in rows] for i, c in enumerate(names)}
                if want_geom:
                    gi = len(names)
                    data[geom_col] = [gpb_to_wkb(r[gi]) for r in rows]
                yield pd.DataFrame(data, columns=fnames)

    df = part_df.mapInPandas(read_part, schema=schema)
    return GeoDataFrame(df, geom_col, crs=crs) if want_geom else df


# ======================================================================
# writer
# ======================================================================
_GPKG_DDL = [
    """CREATE TABLE gpkg_spatial_ref_sys (
        srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
        organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
        definition TEXT NOT NULL, description TEXT)""",
    """CREATE TABLE gpkg_contents (
        table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
        identifier TEXT UNIQUE, description TEXT DEFAULT '',
        last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
        min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
        srs_id INTEGER)""",
    """CREATE TABLE gpkg_geometry_columns (
        table_name TEXT NOT NULL, column_name TEXT NOT NULL,
        geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
        z TINYINT NOT NULL, m TINYINT NOT NULL,
        CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))""",
]

_SRS_ROWS = [
    ("Undefined cartesian SRS", -1, "NONE", -1, "undefined", None),
    ("Undefined geographic SRS", 0, "NONE", 0, "undefined", None),
    ("WGS 84", 4326, "EPSG", 4326,
     'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
     '298.257223563]],PRIMEM["Greenwich",0],'
     'UNIT["degree",0.0174532925199433]]', None),
    ("Web Mercator", 3857, "EPSG", 3857, "PROJCS Web Mercator", None),
]


def _sqlite_decl(dt) -> str:
    from pyspark.sql.types import BooleanType, IntegerType, ShortType

    if isinstance(dt, (LongType, IntegerType, ShortType, BooleanType)):
        return "INTEGER"  # GPKG has no boolean; GDAL stores them as ints too
    if isinstance(dt, DoubleType):
        return "REAL"
    if isinstance(dt, BinaryType):
        return "BLOB"
    return "TEXT"


def _write_gpkg_file(fpath: str, layer: str, pdf: pd.DataFrame, geom_col: str,
                     prop_cols: list, decls: dict, srs_id: int,
                     bounds) -> None:
    con = sqlite3.connect(fpath)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")
        con.execute("PRAGMA user_version = 10300")
        for ddl in _GPKG_DDL:
            con.execute(ddl)
        con.executemany(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            _SRS_ROWS)
        cols_ddl = ", ".join(
            [f'"{c}" {decls[c]}' for c in prop_cols]
            + [f'"{geom_col}" BLOB'])
        con.execute(f'CREATE TABLE "{layer}" '
                    f'(fid INTEGER PRIMARY KEY AUTOINCREMENT, {cols_ddl})')
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "min_x, min_y, max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?)",
            (layer, "features", layer, *bounds, srs_id))
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (layer, geom_col, "GEOMETRY", srs_id))
        ph = ", ".join("?" * (len(prop_cols) + 1))
        cols_sql = ", ".join([f'"{c}"' for c in prop_cols] + [f'"{geom_col}"'])
        rows = []
        for i in range(len(pdf)):
            vals = []
            for c in prop_cols:
                v = pdf[c].iloc[i]
                if hasattr(v, "item"):
                    v = v.item()
                if isinstance(v, float) and v != v:
                    v = None
                if isinstance(v, bool):
                    v = int(v)
                if isinstance(v, (bytes, bytearray, memoryview)):
                    v = sqlite3.Binary(bytes(v))
                elif v is not None and not isinstance(v, (int, float, str)):
                    v = str(v)  # timestamps/dates ride as ISO text
                vals.append(v)
            g = pdf[geom_col].iloc[i] if geom_col in pdf else None
            vals.append(None if g is None
                        else sqlite3.Binary(wkb_to_gpb(bytes(g), srs_id)))
            rows.append(tuple(vals))
        con.executemany(
            f'INSERT INTO "{layer}" ({cols_sql}) VALUES ({ph})', rows)
        con.commit()
    finally:
        con.close()


def to_geopackage(gdf_or_df, path: str, layer: str = "layer") -> None:
    """Write one ``part-*.gpkg`` per partition into directory ``path``.
    Each part is a complete, standards-valid GeoPackage."""
    df = gdf_or_df.df if hasattr(gdf_or_df, "df") else gdf_or_df
    geometry = getattr(gdf_or_df, "geometry_column", "geometry")
    crs = getattr(gdf_or_df, "crs", None)
    srs_id = _srs_id_of(crs)
    os.makedirs(path, exist_ok=True)
    prop_cols = [c for c in df.columns if c != geometry]
    decls = {f.name: _sqlite_decl(f.dataType) for f in df.schema.fields}

    def write_part(batches):
        import uuid

        from dask_geopandas_spark.sources.geopackage import _write_gpkg_file

        pdfs = list(batches)
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True)
            blobs = list(pdf[geometry]) if geometry in pdf else [None] * len(pdf)
            batch = W.parse_wkb(blobs)
            ne = ~(batch.is_null() | batch.is_empty())
            if ne.any() and len(batch.xs):
                idx = np.repeat(ne, batch.geom_coord_counts())
                bounds = (float(np.nanmin(batch.xs[idx])),
                          float(np.nanmin(batch.ys[idx])),
                          float(np.nanmax(batch.xs[idx])),
                          float(np.nanmax(batch.ys[idx])))
            else:
                bounds = (None, None, None, None)
            dest = os.path.join(path, f"part-{uuid.uuid4().hex}.gpkg")
            _write_gpkg_file(dest, layer, pdf, geometry, prop_cols, decls,
                             srs_id, bounds)
        yield pd.DataFrame({"files": pd.Series([1], dtype="int64")})

    df.mapInPandas(write_part, schema="files long").collect()
