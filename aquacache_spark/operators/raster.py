"""Tiled raster algebra: ingest, zonal stats, pyramids, forecast
lifecycle.

Reference data model (R/writeRaster.R:1-45, R/insertACRaster.R:4-8):
rasters are stored tiled — many rows per raster in ``spatial.rasters``,
all linked to one row in ``spatial.rasters_reference`` carrying the
metadata (series, valid_from/valid_to, issued, flag, band names).
Tiling exists so a spatial window fetch touches only the tiles it
needs; PostGIS does that with raster constraints + GiST.

Spark-first re-expression:

- A *cells* frame ``(x, y, value)`` is the decoded-grid exchange format
  (what a connector's decode step emits).
- A *tiles* frame stores one row per tile: ``(tile_x, tile_y, tw, th,
  xmin, ymin, xmax, ymax, cells array<double>)`` with the cell values
  row-major within the tile and NULL for no-data cells.  The bbox
  columns are plain min/max ints, so parquet column statistics prune
  tiles at scan time — the Spark analog of the PostGIS spatial index:
  a ``WHERE xmin <= qx AND xmax >= qx`` clip reaches the scan as a
  pushed filter and skips whole row groups of out-of-window tiles.
- All tile math is JVM-side higher-order functions (``transform``,
  ``posexplode``, ``aggregate``) — no Python in the hot path.

At 100 TB: tiles are the unit of parallelism; a raster series
partitioned by (reference_id) with ~16k-cell tiles gives multi-MB
parquet rows that scan at full columnar speed, and every operator
below is either map-only over tiles or a single shuffle keyed by a
bounded-cardinality key (zone id, pyramid cell, reference id).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .daily import exact_mean


def tile_cells(
    cells: DataFrame,
    tile: int = 16,
    keys: Sequence[str] = (),
    x: str = "x",
    y: str = "y",
    value: str = "value",
) -> DataFrame:
    """Pack a cell-level frame into row-major tiles (writeRaster.R:20-28
    "blocks" splitting, distributed).

    One shuffle on (keys, tile_x, tile_y); within a tile the cells are
    placed by position arithmetic, absent cells become NULL (PostGIS
    no-data).  ``map_from_entries`` + ``transform(sequence(...))`` keeps
    the packing in whole-stage codegen.
    """
    kx, ky = F.col(x), F.col(y)
    placed = cells.select(
        *keys,
        F.floor(kx / tile).cast("int").alias("tile_x"),
        F.floor(ky / tile).cast("int").alias("tile_y"),
        ((ky % tile) * tile + (kx % tile)).cast("int").alias("__pos"),
        F.col(value).cast("double").alias("__v"),
    )
    n = tile * tile
    # Dense packing without a map: map element_at is a linear scan
    # (O(tile²) per lookup series), so instead concat the present
    # (pos, v) entries with one NULL filler per position, sort (struct
    # order puts the NULL filler before a real value at the same pos),
    # and keep the last entry of each pos run — array element_at is
    # O(1), total O((m + tile²) log(m + tile²)) per tile over the
    # m real entries plus tile² fillers. Two input cells at the same
    # (tile, pos) are a data contract violation (the former
    # map_from_entries packing raised on duplicate keys) — asserted
    # below, never silently last-wins.
    entries = F.collect_list(F.struct(F.col("__pos").alias("p"),
                                      F.col("__v").alias("v")))
    fillers = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.struct(i.cast("int").alias("p"),
                           F.lit(None).cast("double").alias("v")),
    )
    merged = F.array_sort(F.concat(entries, fillers))

    def last_of_run(arr):
        # F.get is 0-based and NULL past the end (ANSI-safe)
        return F.filter(
            arr,
            lambda e, i: F.coalesce(
                F.get(arr, (i + F.lit(1)).cast("int"))["p"] != e["p"],
                F.lit(True),
            ),
        )

    dup_guard = F.assert_true(
        F.col("__m") == F.col("__md"),
        F.format_string(
            "tile_cells: duplicate cell positions in tile (%s,%s)",
            F.col("tile_x"), F.col("tile_y"),
        ),
    )
    return (
        placed.groupBy(*keys, "tile_x", "tile_y")
        .agg(
            merged.alias("__all"),
            F.count(F.lit(1)).alias("__m"),
            F.count_distinct(F.col("__pos")).alias("__md"),
        )
        .select(
            *keys,
            "tile_x",
            "tile_y",
            F.lit(tile).alias("tw"),
            F.lit(tile).alias("th"),
            (F.col("tile_x") * tile).alias("xmin"),
            (F.col("tile_y") * tile).alias("ymin"),
            (F.col("tile_x") * tile + tile - 1).alias("xmax"),
            (F.col("tile_y") * tile + tile - 1).alias("ymax"),
            F.when(
                dup_guard.isNull(),
                F.transform(last_of_run(F.col("__all")), lambda e: e["v"]),
            ).alias("cells"),
        )
    )


def untile(tiles: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Explode tiles back to (x, y, value) cells, dropping no-data.

    Map-only (narrow): posexplode + position arithmetic.
    """
    return (
        tiles.select(*keys, "tile_x", "tile_y", "tw", "th",
                     F.posexplode("cells").alias("__pos", "value"))
        .where(F.col("value").isNotNull())
        .select(
            *keys,
            (F.col("tile_x") * F.col("tw") + F.col("__pos") % F.col("tw"))
            .cast("int").alias("x"),
            (F.col("tile_y") * F.col("th") + (F.col("__pos") / F.col("tw"))
             .cast("int")).cast("int").alias("y"),
            "value",
        )
    )


def zonal_stats(
    tiles: DataFrame,
    zones: DataFrame,
    keys: Sequence[str] = (),
    zone_keys: Sequence[str] = ("zone_id",),
) -> DataFrame:
    """Per-zone mean/min/max/count over axis-aligned zones.

    ``zones``: (zone_keys..., zxmin, zymin, zxmax, zymax) — catalog-sized,
    broadcast.  Stage 1 joins *tiles* (not cells) to zones on bbox
    overlap, so non-intersecting tiles never explode; stage 2 explodes
    only the touched tiles and aggregates with the exact-sum idiom
    (order-independent across partitionings).  Shuffle: one, keyed on
    the zone id.
    """
    touched = tiles.join(
        F.broadcast(zones),
        (F.col("xmin") <= F.col("zxmax")) & (F.col("xmax") >= F.col("zxmin"))
        & (F.col("ymin") <= F.col("zymax")) & (F.col("ymax") >= F.col("zymin")),
    )
    cells = (
        touched.select(
            *keys, *zone_keys, "zxmin", "zymin", "zxmax", "zymax",
            "tile_x", "tile_y", "tw", "th",
            F.posexplode("cells").alias("__pos", "value"),
        )
        .where(F.col("value").isNotNull())
        .withColumn("x", (F.col("tile_x") * F.col("tw") + F.col("__pos") % F.col("tw")).cast("int"))
        .withColumn("y", (F.col("tile_y") * F.col("th") + (F.col("__pos") / F.col("tw")).cast("int")).cast("int"))
        .where(
            (F.col("x") >= F.col("zxmin")) & (F.col("x") <= F.col("zxmax"))
            & (F.col("y") >= F.col("zymin")) & (F.col("y") <= F.col("zymax"))
        )
    )
    return cells.groupBy(*keys, *zone_keys).agg(
        exact_mean(F.col("value")).alias("zmean"),
        F.min("value").alias("zmin"),
        F.max("value").alias("zmax"),
        F.count("value").alias("zcount"),
    )


def pyramid(tiles: DataFrame, factor: int, keys: Sequence[str] = ()) -> DataFrame:
    """One overview level (createRasterPyramids.R): mean-resample cells
    into (x div factor, y div factor).

    Single shuffle keyed by the coarse cell; exact mean so the level is
    reproducible across partition layouts.  Chains: pyramid(pyramid(t,2),2)
    == pyramid(t,4) for factor powers.
    """
    c = untile(tiles, keys=keys)
    return (
        c.groupBy(
            *keys,
            F.floor(F.col("x") / factor).cast("int").alias("px"),
            F.floor(F.col("y") / factor).cast("int").alias("py"),
        )
        .agg(exact_mean(F.col("value")).alias("pvalue"),
             F.count("value").alias("pcount"))
    )


def forecast_survivors(
    reference: DataFrame,
    keep: str = "selective",
    tol_seconds: int = 5,
    series_col: str = "raster_series_id",
) -> DataFrame:
    """Forecast-replacement lifecycle (getNewRasters.R:393-447).

    For each series the newest issue (max ``issued``) is "the new
    forecast"; older rasters are deleted per ``keep``:

    - ``selective``: drop rows whose ``valid_from`` is also covered by
      the new issue and whose ``issued`` is NOT within ``tol_seconds``
      of the new issue (reference: ``issued NOT BETWEEN new-5 AND new+5``).
    - ``none``: drop every row not issued within tolerance of the new
      issue.
    - ``all``: keep everything.

    Returns the surviving reference rows.  Relational throughout: one
    window max per series + a broadcast-able semi-join on the new
    issue's valid_from set — no driver loop, so a 10k-series refresh is
    one job.
    """
    if keep not in ("selective", "all", "none"):
        raise ValueError("keep must be 'selective', 'all' or 'none'")
    if keep == "all":
        return reference
    w = Window.partitionBy(series_col)
    ref = reference.withColumn("__new_issue", F.max("issued").over(w))
    within = (
        F.abs(F.col("issued").cast("long") - F.col("__new_issue").cast("long"))
        <= tol_seconds
    )
    if keep == "none":
        return ref.where(within).drop("__new_issue")
    # survivors = rows issued within tolerance of the new issue, plus
    # rows whose valid_from the new issue does not cover
    new_valid = (
        ref.where(within)
        .select(F.col(series_col).alias("__sid"), F.col("valid_from").alias("__nvf"))
        .distinct()
        .withColumn("__covered", F.lit(True))
    )
    marked = ref.join(
        F.broadcast(new_valid),
        (F.col(series_col) == F.col("__sid")) & (F.col("valid_from") == F.col("__nvf")),
        "left",
    )
    return (
        marked.where(within | F.col("__covered").isNull())
        .drop("__new_issue", "__sid", "__nvf", "__covered")
    )


def model_asof(
    reference: DataFrame,
    series_col: str = "raster_series_id",
) -> DataFrame:
    """Best-available raster per (series, valid_from)
    (insertACRaster.R:302-345 PRELIMINARY replacement +
    insertACModelRaster issue ranking).

    Rank candidates: non-PRELIMINARY beats PRELIMINARY, then latest
    ``issued``, then highest reference_id (insertion order) — exactly
    the row the reference would have kept after its delete-and-replace
    dance, computed as one window instead of per-row DML.
    """
    w = Window.partitionBy(series_col, "valid_from").orderBy(
        F.when(F.col("flag") == "PRELIMINARY", 1).otherwise(0).asc(),
        F.col("issued").desc(),
        F.col("reference_id").desc(),
    )
    return (
        reference.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def zonal_stats_polygon(
    tiles: DataFrame,
    polygons: DataFrame,
    keys: Sequence[str] = (),
    poly_keys: Sequence[str] = ("poly_id",),
    ring: str = "ring",
) -> DataFrame:
    """Per-polygon raster statistics — the PostGIS
    ``ST_SummaryStats(ST_Clip(rast, geom))`` read path (basin-averaged
    precipitation over HRDPA tiles, getNewRasters.R consumers).

    Filter-refine over TILES first: polygons gain bboxes
    (operators/vector.with_bbox) and broadcast; only bbox-intersecting
    tiles explode to cells; the exact ray-cast (vector.point_in_ring)
    refines the sample points; one shuffle keyed on the polygon id
    with the exact-sum idiom.  Sample points are the integer cell
    coordinates nudged off the lattice (+0.137, +0.269) so a cell
    lying exactly on a polygon edge cannot flip between containment
    conventions — the boundary-cell policy PostGIS exposes as
    ST_Clip's touched/center options.
    """
    from .vector import point_in_ring, with_bbox
    from .daily import exact_mean

    polys = with_bbox(polygons, ring=ring).select(
        *poly_keys, ring,
        F.col("xmin").alias("pxmin"), F.col("xmax").alias("pxmax"),
        F.col("ymin").alias("pymin"), F.col("ymax").alias("pymax"),
    )
    touched = tiles.join(
        F.broadcast(polys),
        (F.col("xmin") <= F.col("pxmax")) & (F.col("xmax") >= F.col("pxmin"))
        & (F.col("ymin") <= F.col("pymax")) & (F.col("ymax") >= F.col("pymin")),
    )
    cells = (
        touched.select(
            *keys, *poly_keys, ring, "tile_x", "tile_y", "tw", "th",
            F.posexplode("cells").alias("__pos", "value"),
        )
        .where(F.col("value").isNotNull())
        .withColumn(
            "x",
            (F.col("tile_x") * F.col("tw") + F.col("__pos") % F.col("tw"))
            .cast("double") + F.lit(0.137),
        )
        .withColumn(
            "y",
            (F.col("tile_y") * F.col("th")
             + (F.col("__pos") / F.col("tw")).cast("int")).cast("double")
            + F.lit(0.269),
        )
        .where(point_in_ring(F.col("x"), F.col("y"), F.col(ring)))
    )
    return cells.groupBy(*keys, *poly_keys).agg(
        exact_mean(F.col("value")).alias("zmean"),
        F.min("value").alias("zmin"),
        F.max("value").alias("zmax"),
        F.count("value").alias("zcount"),
    )


def export_pgraster(
    tiles: DataFrame,
    origin_x: float = 0.0,
    origin_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = -1.0,
    srid: int = 4326,
    nodata: float = -9999.0,
    table: str = "spatial.rasters",
    keys: Sequence[str] = (),
) -> DataFrame:
    """raster2pgsql emulation (R/writeRaster.R:342-361): one PostGIS
    raster WKB per tile, hex-encoded, plus the INSERT statement the
    reference pipes to psql. Tile grid row 0 is the insertion-point
    row; the world position of tile (tx, ty) is ``origin +
    tile_index * tile_size * scale`` (scale_y negative = north-up).

    Arrow-batched kernel for the binary encode (stdlib codec,
    functions/pgraster.py); everything else — insertion points, hex,
    SQL text — is a codegen'd projection. Map-only: exporting N tiles
    costs one pass, no shuffle.
    """
    from typing import Iterator

    import pandas as pd

    from ..functions.pgraster import encode_pgraster
    from ..session import ensure_package_on_workers

    if tiles.sparkSession is not None:
        ensure_package_on_workers(tiles.sparkSession)

    base_cols = [*keys, "tile_x", "tile_y", "tw", "th"]
    src = tiles.select(
        *base_cols,
        F.col("cells"),
        (F.lit(origin_x) + F.col("tile_x") * F.col("tw") * F.lit(scale_x))
        .alias("ip_x"),
        (F.lit(origin_y) + F.col("tile_y") * F.col("th") * F.lit(scale_y))
        .alias("ip_y"),
    )
    schema = ", ".join(
        [f"`{c}` {t}" for c, t in src.drop("cells").dtypes]
        + ["wkb binary"])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            wkbs = [
                encode_pgraster(cells, int(tw), int(th), float(ipx),
                                float(ipy), scale_x, scale_y, srid,
                                nodata)
                for cells, tw, th, ipx, ipy in zip(
                    pdf["cells"], pdf["tw"], pdf["th"], pdf["ip_x"],
                    pdf["ip_y"])
            ]
            out = pdf.drop(columns=["cells"])
            out["wkb"] = wkbs
            yield out

    exported = src.mapInPandas(kernel, schema=schema)
    hexwkb = F.upper(F.hex(F.col("wkb")))
    return exported.select(
        *base_cols, "ip_x", "ip_y", "wkb",
        hexwkb.alias("hexwkb"),
        F.concat(
            F.lit(f"INSERT INTO {table} (rast) VALUES ('"),
            hexwkb, F.lit("'::raster);"),
        ).alias("sql"),
    )


def export_geotiff(
    tiles: DataFrame,
    origin_x: float = 0.0,
    origin_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = -1.0,
    nodata: float = -9999.0,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-tile GeoTIFF artifacts (the terra::writeRaster half of the
    reference's write path, R/writeRaster.R:330): same tile grid and
    georeferencing as export_pgraster, EPSG:4326 GeoKeys, GDAL_NODATA.
    Map-only Arrow kernel."""
    from typing import Iterator

    import pandas as pd

    from ..functions.geotiff import encode_geotiff
    from ..session import ensure_package_on_workers

    if tiles.sparkSession is not None:
        ensure_package_on_workers(tiles.sparkSession)

    base_cols = [*keys, "tile_x", "tile_y", "tw", "th"]
    src = tiles.select(
        *base_cols, "cells",
        (F.lit(origin_x) + F.col("tile_x") * F.col("tw") * F.lit(scale_x))
        .alias("ip_x"),
        (F.lit(origin_y) + F.col("tile_y") * F.col("th") * F.lit(scale_y))
        .alias("ip_y"),
    )
    schema = ", ".join(
        [f"`{c}` {t}" for c, t in src.drop("cells").dtypes]
        + ["tiff binary"])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tiffs = [
                encode_geotiff(cells, int(tw), int(th), float(ipx),
                               float(ipy), scale_x, scale_y, nodata)
                for cells, tw, th, ipx, ipy in zip(
                    pdf["cells"], pdf["tw"], pdf["th"], pdf["ip_x"],
                    pdf["ip_y"])
            ]
            out = pdf.drop(columns=["cells"])
            out["tiff"] = tiffs
            yield out

    return src.mapInPandas(kernel, schema=schema)


def sync_reference_cell_sizes(
    rasters: DataFrame,
    references: DataFrame,
) -> DataFrame:
    """spatial.sync_rr_cell_size_deg_{ins,upd} (patch_33.R:473-560) +
    the patch's backfill UPDATE: per ``reference_id``, the reference
    index's ``cell_size_x_deg``/``cell_size_y_deg`` become
    ``MIN(ABS(scale_x))`` / ``MIN(ABS(scale_y))`` over that
    reference's raster tiles; references with no tiles keep their
    existing values (the trigger's UPDATE ... FROM only touches
    matched rows).

    ``rasters`` carries per-tile (reference_id, scale_x, scale_y) —
    the affine terms the repo's pgraster WKB header parses
    (functions/pgraster.py); the statement-level trigger's
    new_rows/old_rows scoping collapses to one whole-table aggregate
    here (set-wise replay). One partial-aggregable groupBy on the
    reference key + a broadcast join back onto the catalog-sized
    reference index.
    """
    agg = (
        rasters.where(F.col("reference_id").isNotNull())
        .groupBy("reference_id")
        .agg(F.min(F.abs(F.col("scale_x"))).alias("__cx"),
             F.min(F.abs(F.col("scale_y"))).alias("__cy"))
    )
    out = references.join(F.broadcast(agg), "reference_id", "left")
    return out.select(
        *[c for c in references.columns
          if c not in ("cell_size_x_deg", "cell_size_y_deg")],
        F.coalesce(F.col("__cx"), F.col("cell_size_x_deg"))
        .alias("cell_size_x_deg"),
        F.coalesce(F.col("__cy"), F.col("cell_size_y_deg"))
        .alias("cell_size_y_deg"),
    )


def bilinear_sample(
    cells: DataFrame,
    points: DataFrame,
    id_col: str = "station_id",
    px_col: str = "px",
    py_col: str = "py",
) -> DataFrame:
    """Bilinear point sampling of a cell grid — extract gridded model
    values (ERA5/HRDPA class) at station coordinates.

    Each point explodes map-side into its four corner keys; ONE
    equi-join on (x, y) against the cell fact (the grid is never
    broadcast or collected — the join is keyed exactly like the zonal
    operators); a conditional-max pivot restores the four corners and
    the weighted sum is written in a FIXED parenthesization
    (t00 + t10 + t01 + t11), so the result is bit-stable without
    quantization. Points with any missing corner report
    complete=false and a NULL value.

    Output: (id, px, py, value, complete).
    """
    x0 = F.floor(F.col(px_col)).cast("int")
    y0 = F.floor(F.col(py_col)).cast("int")
    fx = F.col(px_col) - F.floor(F.col(px_col))
    fy = F.col(py_col) - F.floor(F.col(py_col))
    corners = F.array(*[
        F.struct(
            F.lit(c).alias("corner"),
            (x0 + (c % 2)).alias("x"),
            (y0 + (c // 2)).alias("y"),
            w.alias("w"),
        )
        for c, w in [
            (0, (1 - fx) * (1 - fy)),
            (1, fx * (1 - fy)),
            (2, (1 - fx) * fy),
            (3, fx * fy),
        ]
    ])
    exploded = points.select(
        F.col(id_col), F.col(px_col), F.col(py_col),
        F.explode(corners).alias("c"),
    ).select(id_col, px_col, py_col,
             F.col("c.corner").alias("corner"),
             F.col("c.x").alias("x"), F.col("c.y").alias("y"),
             F.col("c.w").alias("w"))
    j = exploded.join(cells, ["x", "y"], "left")
    # a missing corner whose weight is exactly 0 (point on the grid's
    # max row/column: fx or fy == 0) contributes a well-defined 0 term
    # and must NOT poison completeness — only missing corners with
    # nonzero weight do.
    term = F.coalesce(
        F.col("w") * F.col("value"),
        F.when(F.col("w") == 0, F.lit(0.0)))
    piv = j.groupBy(id_col, px_col, py_col).agg(*[
        F.max(F.when(F.col("corner") == c, term)).alias(f"__t{c}")
        for c in range(4)
    ])
    complete = (F.col("__t0").isNotNull() & F.col("__t1").isNotNull()
                & F.col("__t2").isNotNull() & F.col("__t3").isNotNull())
    value = (F.col("__t0") + F.col("__t1")) + F.col("__t2") \
        + F.col("__t3")
    return piv.select(
        id_col, px_col, py_col,
        F.when(complete, value).alias("value"),
        complete.alias("complete"))


def idw_interpolate(
    points: DataFrame,
    targets: DataFrame,
    value_col: str = "value",
    power_eps: float = 1.0,
) -> DataFrame:
    """Inverse-distance-squared interpolation of station values onto
    target coordinates (the gridding step for sparse gauge networks):
    v(t) = sum_i w_i v_i / sum_i w_i with w_i = 1 / (d2_i + eps).

    ``points``: (px, py, value); ``targets``: (target_id, tx, ty).
    The station set is catalog-sized -> broadcast; every target is
    map-only over it (one explode-free join, no shuffle of targets).
    Weights quantize to nano-units and values to centi-units BEFORE
    the sums, so the weighted mean is an exact integer ratio —
    independent of station iteration order on both engines.

    Output: (target_id, tx, ty, value, n_stations)."""
    st = points.select(
        F.col("px").alias("__sx"), F.col("py").alias("__sy"),
        F.floor(F.col(value_col).cast("double") * 100 + F.lit(0.5))
        .cast("long").alias("__vq"))
    j = targets.crossJoin(F.broadcast(st))
    d2 = ((F.col("tx") - F.col("__sx")) * (F.col("tx") - F.col("__sx"))
          + (F.col("ty") - F.col("__sy"))
          * (F.col("ty") - F.col("__sy")))
    wq = F.floor(F.lit(1e9) / (d2 + F.lit(power_eps)) + F.lit(0.5)) \
        .cast("long")
    agg = j.withColumn("__wq", wq).groupBy("target_id", "tx", "ty").agg(
        F.sum(F.col("__wq") * F.col("__vq")).alias("__num"),
        F.sum("__wq").alias("__den"),
        F.count(F.lit(1)).cast("long").alias("n_stations"))
    return agg.select(
        "target_id", "tx", "ty",
        F.when(F.col("__den") > 0,
               F.col("__num") / F.col("__den") / F.lit(100.0))
        .alias("value"),
        "n_stations")
