"""Real MBTiles (SQLite) ingestion — the archive the reference's fetch
path opens per request (``/root/reference/gdal-drivers/detail/
mbtiles.cpp:158-183``: ``SELECT tile_data FROM tiles WHERE
zoom_level=? AND tile_column=? AND tile_row=?``), rebuilt as a
distributed SCAN: instead of one point lookup per GDAL ``Open``, the
archive's whole ``tiles`` table becomes a DataFrame that the existing
keyed-lookup join (operators/lookup.py) and MVT proto decode consume.

Scale shape: an MBTiles file is one SQLite file, so the parallel unit
is the FILE (tile lakes ship thousands of per-region archives). Stage 1
lists each archive's distinct zoom levels (executor-side, cheap index
scan); stage 2 fans (archive, zoom) work units across the cluster, each
task range-scanning one zoom of one file with stdlib ``sqlite3``. A
single giant archive thus still splits into per-zoom tasks instead of
serializing on one executor. No driver-side SQLite access anywhere.

Row conventions preserved from the reference:
  - the stored row is TMS (bottom-up); the XYZ row ``y = 2^z − 1 −
    tms_row`` is emitted alongside (flip at ``mbtiles.cpp:154-155``);
  - payloads are returned verbatim (gzip sniff happens downstream,
    ``mbtiles.cpp:214-224`` → ``gunzip_col``, used by
    ``read_mbtiles_features`` and lookup.fetch_tiles).
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._groups import row_udf, run_batches

TILES_SCHEMA = (
    "archive string, zoom int, x long, tms_y long, y long, tile_data binary"
)


def _connect_ro(path: str) -> sqlite3.Connection:
    # read-only open, same flag as sqlite3_open_v2(..., READONLY)
    # at mbtiles.cpp:160-162
    return sqlite3.connect(f"file:{path}?mode=ro", uri=True)


def read_mbtiles(spark: SparkSession, paths: list[str] | DataFrame) -> DataFrame:
    """``.mbtiles`` file paths → tiles DataFrame.

    Two executor-side stages: (archive → zooms) then ((archive, zoom) →
    rows), so one task never holds more than one zoom level of one
    archive in memory and a single large file parallelizes by zoom.
    """
    if isinstance(paths, DataFrame):
        pdf_paths = paths
    else:
        pdf_paths = spark.createDataFrame(
            [(p,) for p in paths], "archive string"
        )

    def _zooms(g):
        for p in map(str, g["archive"]):
            # poison-archive guard: a corrupt/missing/foreign SQLite
            # file yields zero work units for that archive; the scan
            # stage survives (same philosophy as decode_stats's
            # poison rows)
            try:
                con = _connect_ro(p)
            except sqlite3.Error:
                continue
            try:
                for (z,) in con.execute("SELECT DISTINCT zoom_level FROM tiles"):
                    yield p, int(z)
            except sqlite3.Error:
                pass
            finally:
                con.close()

    units = run_batches(pdf_paths, ["archive"], _zooms, "archive string, zoom int")
    # fan the (archive, zoom) units across the cluster
    units = units.repartition("archive", "zoom")

    def _scan(g):
        for archive, zoom in zip(map(str, g["archive"]), g["zoom"]):
            # an archive that turned unreadable between stages
            # poisons only its own rows
            try:
                con = _connect_ro(archive)
            except sqlite3.Error:
                continue
            try:
                cur = con.execute(
                    "SELECT tile_column, tile_row, tile_data FROM tiles "
                    "WHERE zoom_level = ?",
                    (zoom,),
                )
                maxrow = (1 << zoom) - 1
                while True:
                    try:
                        chunk = cur.fetchmany(4096)
                    except sqlite3.Error:
                        break  # corrupt page mid-scan: keep rows so far
                    if not chunk:
                        break
                    # NULL tile_data / non-integer coords are legal
                    # SQLite (no constraints on the tiles table) but
                    # poison rows here — skip them, keep the rest
                    for x, tms_y, data in chunk:
                        if data is not None and isinstance(x, int) and isinstance(tms_y, int):
                            yield archive, zoom, x, tms_y, maxrow - tms_y, bytes(data)
            except sqlite3.Error:
                pass  # missing tiles table etc.: zero rows, no crash
            finally:
                con.close()

    return run_batches(units, ["archive", "zoom"], _scan, TILES_SCHEMA)


def read_metadata(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The archive ``metadata`` key/value table (format/name/bounds)."""
    pdf_paths = spark.createDataFrame([(p,) for p in paths], "archive string")

    def _meta(g):
        for p in map(str, g["archive"]):
            try:
                con = _connect_ro(p)
            except sqlite3.Error:
                continue  # missing/unopenable archive: zero rows
            try:
                for k, v in con.execute("SELECT name, value FROM metadata"):
                    yield p, str(k), str(v)
            except sqlite3.Error:
                pass  # optional table / not-a-database: zero rows
            finally:
                con.close()

    return run_batches(pdf_paths, ["archive"], _meta, "archive string, key string, value string")


def gunzip_col(col: Column) -> Column:
    """The ``mbtiles.cpp:214-224`` gzip sniff over a binary column
    (``core.codecs.gunzip_sniff``): gzip payloads come back inflated,
    anything else verbatim, and corrupt gzip as ``b""`` — an empty
    payload that decodes to zero rows, never a stage failure."""

    from ..core.codecs import gunzip_sniff

    return row_udf(lambda b: gunzip_sniff(b) or b"", "binary")(col)


def read_mbtiles_features(spark: SparkSession, paths: list[str] | DataFrame) -> DataFrame:
    """Archives → decoded MVT features, typed props included: the
    reference's whole read path (``gdal.Open("x.mbtiles/z-x-y")``,
    mbtiles.cpp:128-225 + mvt.cpp:732-770) over every tile at once —
    scan, gzip sniff, protobuf decode."""
    from ..operators.mvt import decode_features

    tiles = read_mbtiles(spark, paths).select(
        F.col("zoom").alias("z"), F.col("x").alias("tx"), F.col("y").alias("ty"),
        gunzip_col(F.col("tile_data")).alias("data"),
    )
    return decode_features(tiles)


def write_mbtiles(path: str, rows, metadata: dict | None = None) -> None:
    """Create an ``.mbtiles`` archive (tiles stored TMS, exactly the
    layout mbtiles.cpp reads). ``rows`` iterates (zoom, x, tms_y,
    tile_data:bytes). Single-file SQLite write = single-process by
    nature; used for fixtures and per-partition tile sinks."""
    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE IF NOT EXISTS tiles ("
            "zoom_level INTEGER, tile_column INTEGER, tile_row INTEGER, "
            "tile_data BLOB)"
        )
        con.execute(
            "CREATE UNIQUE INDEX IF NOT EXISTS tile_index ON tiles "
            "(zoom_level, tile_column, tile_row)"
        )
        con.execute(
            "CREATE TABLE IF NOT EXISTS metadata (name TEXT, value TEXT)"
        )
        con.executemany(
            "INSERT OR REPLACE INTO tiles VALUES (?, ?, ?, ?)",
            [(int(z), int(x), int(ty), sqlite3.Binary(bytes(d)))
             for z, x, ty, d in rows],
        )
        if metadata:
            con.executemany(
                "INSERT INTO metadata VALUES (?, ?)",
                sorted(metadata.items()),
            )
        con.commit()
    finally:
        con.close()


def fetch_one(path_zxy: str) -> bytes | None:
    """Reference-parity point fetch: ``<archive>.mbtiles/z-x-y`` →
    tile bytes or None (loadFromMbTilesArchive, mbtiles.cpp:128-225:
    path split on last slash, strict z-x-y parse, bounds check,
    TMS flip, single SELECT)."""
    slash = path_zxy.rfind("/")
    if slash < 0:
        raise ValueError(f"no slash in {path_zxy!r}")
    archive, tail = path_zxy[:slash], path_zxy[slash + 1:]
    parts = tail.split("-")
    if len(parts) != 3 or not all(p.isdigit() for p in parts):
        raise ValueError(f"bad z-x-y {tail!r}")
    zoom, col, row = (int(p) for p in parts)
    maxv = (1 << zoom) - 1
    if col > maxv or row > maxv:
        raise ValueError(f"z-x-y out of bounds 0-{maxv}: {tail!r}")
    row = maxv - row  # TMS flip (mbtiles.cpp:154-155)
    con = _connect_ro(archive)
    try:
        cur = con.execute(
            "SELECT tile_data FROM tiles WHERE zoom_level=? AND "
            "tile_column=? AND tile_row=?",
            (zoom, col, row),
        )
        got = cur.fetchone()
        return bytes(got[0]) if got else None
    finally:
        con.close()
