"""Gridded-model raster connectors: HRDPA / HRDPS listing normalization
and run selection (R/downloadHRDPA.R:11, R/downloadHRDPS.R:11).

The reference's four gridded connectors (ERA5/HRDPA/HRDPS/CaLDAS) are
HTTP directory scrapes + GRIB decodes. Only the network fetch remains
an environment adapter; the GRIB2 decode itself is real
(functions/grib2.py via ``grib_cells`` — a binaryFile scan fanning
files one-per-task). Everything between listing and decode — filename
parsing, analysis-vs-preliminary dedup, accumulation-window
derivation, and latest-complete-run selection — is pure relational
logic, implemented as codegen'd column expressions over a *listing*
frame so a 30-day scrape of thousands of files normalizes in one map
pass.

Downstream, the selected references flow into the tiled raster store
(sources/raster.py, operators/raster.py) exactly as the reference's
files list flows into insertACModelRaster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hrdpa_normalize(
    listing: DataFrame,
    parameter: str,
    start_datetime,
    file_col: str = "file",
    path_col: str = "path",
) -> DataFrame:
    """Normalize an HRDPA directory listing (R/downloadHRDPA.R:80-125).

    Per file: ``datetime`` parsed from the leading ``YYYYMMDDTHH``
    stamp (:83-87), ``prelim`` when the name contains 'Prelim' (:112);
    rows before ``start_datetime`` drop (:121); when a datetime has
    more than one file, every *preliminary* row of that datetime drops
    (the analysis supersedes it, :123-125 — the reference's
    ``!(prelim & duplicates)`` keeps finals and singletons only);
    ``valid_from``/``valid_to`` span the accumulation window — 6 h when
    the parameter name contains '6h', else 24 h (:173-180); flag is
    'PRELIMINARY' or NULL (:181); model 'HRDPA'.

    One window count keyed by datetime (tiny listing frame); all else
    map-only.
    """
    accum_h = 6 if "6h" in parameter else 24
    parsed = listing.select(
        F.col(file_col).alias("file"),
        F.col(path_col).alias("path"),
        F.to_timestamp(
            F.substring(F.col(file_col), 1, 11), "yyyyMMdd'T'HH"
        ).alias("datetime"),
        F.col(file_col).contains("Prelim").alias("prelim"),
    ).where(F.col("datetime") >= F.lit(start_datetime))
    from pyspark.sql import Window

    n_at = F.count(F.lit(1)).over(Window.partitionBy("datetime"))
    return (
        parsed.withColumn("__n", n_at)
        .where(~(F.col("prelim") & (F.col("__n") > 1)))
        .select(
            "file", "path", "datetime", "prelim",
            (F.col("datetime") - F.expr(f"INTERVAL {accum_h} HOURS"))
            .alias("valid_from"),
            F.col("datetime").alias("valid_to"),
            F.when(F.col("prelim"), "PRELIMINARY").alias("flag"),
            F.lit("HRDPA").alias("model"),
            F.lit(False).alias("forecast"),
        )
    )


def hrdps_select_run(
    runs: DataFrame,
    last_issued,
    min_steps: int = 48,
    issue_col: str = "issue",
    steps_col: str = "n_steps",
) -> DataFrame:
    """Latest-complete-run selection (R/downloadHRDPS.R:39-126).

    ``runs``: one row per model run directory with its available
    timestep count. A run is *complete* when it has at least
    ``min_steps`` forecast files (:53-55); the newest complete run wins
    (:124-126); nothing is emitted when the database's last issued
    forecast (``last_issued``) is already >= that run (:119-121, the
    connector's no-new-forecast exit).
    """
    complete = runs.where(F.col(steps_col) >= min_steps)
    latest = complete.orderBy(F.desc(issue_col)).limit(1)
    if last_issued is not None:
        latest = latest.where(F.col(issue_col) > F.lit(last_issued))
    return latest


def hrdps_forecast_steps(
    run: DataFrame,
    parameter: str,
    base_col: str = "base_url",
    issue_col: str = "issue",
    n_steps: int = 48,
) -> DataFrame:
    """Expand the selected run into per-step references
    (R/downloadHRDPS.R:137-199): source URL
    ``{base}/{HHH}/{YYYYMMDDTHH}Z_MSC_HRDPS_{param}_RLatLon0.0225_PT{HHH}H.grib2``
    (:148-157), hourly valid windows ``[issue + s, issue + s + 1h)``
    (:194-195), model 'HRDPS', forecast-typed. Map-only ``sequence``
    explode — no Python, no shuffle.
    """
    stamp = F.date_format(F.col(issue_col), "yyyyMMdd'T'HH")
    step = F.explode(F.sequence(F.lit(0), F.lit(n_steps))).alias("step")
    out = run.select(F.col(base_col), F.col(issue_col), stamp.alias("__stamp"), step)
    hhh = F.lpad(F.col("step").cast("string"), 3, "0")
    return out.select(
        F.col(issue_col).alias("issued"),
        F.col("step"),
        F.concat(
            F.col(base_col), F.lit("/"), hhh, F.lit("/"), F.col("__stamp"),
            F.lit(f"Z_MSC_HRDPS_{parameter}_RLatLon0.0225_PT"), hhh,
            F.lit("H.grib2"),
        ).alias("source"),
        (F.col(issue_col) + F.col("step") * F.expr("INTERVAL 1 HOUR"))
        .alias("valid_from"),
        (F.col(issue_col) + (F.col("step") + 1) * F.expr("INTERVAL 1 HOUR"))
        .alias("valid_to"),
        F.lit(None).cast("string").alias("flag"),
        F.lit("HRDPS").alias("model"),
        F.lit(True).alias("forecast"),
    )


GRIB_CELL_SCHEMA = ("file string, msg int, fhours int, x int, y int, "
                    "lon double, lat double, value double")


def grib_cells(spark, path: str) -> DataFrame:
    """Distributed GRIB2 decode: a ``binaryFile`` scan fans the staged
    files out one-per-task, and the pure-stdlib codec
    (functions/grib2.py — grid template 3.0, simple packing, bitmap)
    unpacks each to (x, y, lon, lat, value) cell rows; bitmap-masked
    cells are dropped (terra's NA trim, R/downloadHRDPA.R:168-170).
    The cells frame feeds operators/raster.tile_cells exactly as the
    reference's in-memory rast feeds writeRaster."""
    import os
    from typing import Iterator

    import pandas as pd

    from ..functions.grib2 import decode_grib2
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                frames = []
                fname = os.path.basename(path_)
                for mi, m in enumerate(decode_grib2(bytes(content))):
                    vals = m.values_np
                    keep = ~np.isnan(vals)
                    idx = np.nonzero(keep)[0]
                    j, i = np.divmod(idx, m.ni)
                    lat_sign = 1.0 if m.scan_mode & 0x40 else -1.0
                    latr = m.lat0 + lat_sign * j * m.dlat
                    lonr = m.lon0 + i * m.dlon
                    if m.rotated:
                        # vectorized unrotation (identity otherwise);
                        # same convention as Grib2Message.true_coords
                        phi_p = np.radians(-m.sp_lat)
                        lam_p = np.radians(m.sp_lon - 180.0)
                        pr, lr = np.radians(latr), np.radians(lonr)
                        ux = np.cos(pr) * np.cos(lr)
                        uy = np.cos(pr) * np.sin(lr)
                        uz = np.sin(pr)
                        sp, cp = np.sin(phi_p), np.cos(phi_p)
                        sl, cl = np.sin(lam_p), np.cos(lam_p)
                        vx = ux * (sp * cl) - uy * sl + uz * (cp * cl)
                        vy = ux * (sp * sl) + uy * cl + uz * (cp * sl)
                        vz = -ux * cp + uz * sp
                        la = np.degrees(np.arcsin(np.clip(vz, -1, 1)))
                        lo = np.degrees(np.arctan2(vy, vx)) % 360.0
                    else:
                        la, lo = latr, lonr
                    frames.append(pd.DataFrame({
                        "file": fname, "msg": mi,
                        "fhours": m.forecast_hours,
                        "x": i.astype("int32"), "y": j.astype("int32"),
                        "lon": lo, "lat": la, "value": vals[idx],
                    }))
                yield (pd.concat(frames, ignore_index=True) if frames
                       else pd.DataFrame(columns=["file", "msg", "fhours",
                                                  "x", "y", "lon", "lat",
                                                  "value"]))

    return (
        spark.read.format("binaryFile").load(path)
        .select("path", "content")
        .mapInPandas(kernel, schema=GRIB_CELL_SCHEMA)
    )


NC_CELL_SCHEMA = ("file string, hour bigint, x int, y int, "
                  "lon double, lat double, value double")


def netcdf_cells(
    spark,
    path: str,
    var: str,
    time_var: str = "time",
    lat_var: str = "latitude",
    lon_var: str = "longitude",
) -> DataFrame:
    """Distributed NetCDF decode for ERA5-style CDS payloads: binaryFile
    scan, one file per task; magic-byte dispatch picks the CDF-1/2
    classic reader (functions/netcdf3.py) or the NetCDF-4/HDF5 reader
    (functions/hdf5.py — chunked + shuffle + deflate, the netCDF-C
    default); packed shorts unscale via scale_factor/add_offset,
    _FillValue cells drop. Output one row per (time, lat, lon) cell
    with the raw time coordinate (hours since the CDS epoch) — the
    ERA5 sibling of ``grib_cells``."""
    import os
    from typing import Iterator

    import pandas as pd

    from ..functions.hdf5 import open_netcdf
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                nc = open_netcdf(bytes(content))
                hours = np.asarray(nc.read_np(time_var), dtype=np.int64)
                lats = np.asarray(nc.read_scaled_np(lat_var))
                lons = np.asarray(nc.read_scaled_np(lon_var))
                vals = nc.read_scaled_np(var)
                fname = os.path.basename(path_)
                nlat, nlon = lats.size, lons.size
                # vectorized (time, lat, lon) unravel over present
                # cells — a CDS month is ~40M cells; no Python loop
                idx = np.nonzero(~np.isnan(vals))[0]
                t, rem = np.divmod(idx, nlat * nlon)
                j, i = np.divmod(rem, nlon)
                yield pd.DataFrame({
                    "file": fname,
                    "hour": hours[t],
                    "x": i.astype("int32"), "y": j.astype("int32"),
                    "lon": lons[i], "lat": lats[j],
                    "value": vals[idx],
                })

    return (
        spark.read.format("binaryFile").load(path)
        .select("path", "content")
        .mapInPandas(kernel, schema=NC_CELL_SCHEMA)
    )


CALDAS_HOURS = (0, 3, 6, 9, 12, 15, 18, 21)


def caldas_validate_hours(hrs) -> list[int]:
    """CaLDAS 3-hourly cadence gate (R/downloadCaLDAS.R:36-51): accepts
    a comma-separated string or numeric vector; every hour must be on
    the 3-hour grid."""
    if isinstance(hrs, str):
        hrs = [h for h in hrs.split(",") if h.strip() != ""]
    hrs = [int(h) for h in hrs]
    if not hrs or any(h not in CALDAS_HOURS for h in hrs):
        raise ValueError(
            f"'hrs' must be a subset of {CALDAS_HOURS}"
        )
    return hrs


def era5_request_plan(
    ranges,
    id_col: str = "req_id",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
):
    """ERA5/CDS request batching (R/downloadERA5.R:149-200), set-wise.

    The reference walks each requested [start, end] window a month at a
    time: a month fully inside the window becomes ONE CDS request;
    partial head/tail months are requested day by day (so only the
    needed days download, and a failure loses at most one day). Here
    the walk is a months-spine explode + a days explode of the partial
    months — one generator pass for a whole catalog of ranges, no
    Python, no shuffle.

    Output: (id_col, request_type 'month'|'day', range_start,
    range_end) with day rows having range_start == range_end.
    """
    from pyspark.sql import functions as F

    s_day = F.to_date(start_col)
    e_day = F.to_date(end_col)
    m = ranges.select(
        id_col,
        s_day.alias("__s"),
        e_day.alias("__e"),
        F.explode(F.sequence(
            F.trunc(s_day, "month"), F.trunc(e_day, "month"),
            F.expr("INTERVAL 1 MONTH"),
        )).alias("__m"),
    ).select(
        id_col, "__s", "__e", "__m",
        F.last_day("__m").alias("__me"),
        F.greatest(F.col("__s"), F.col("__m")).alias("__rs"),
        F.least(F.col("__e"), F.last_day("__m")).alias("__re"),
    )
    full = (F.col("__rs") == F.col("__m")) & (F.col("__re") == F.col("__me"))
    months = m.where(full).select(
        id_col, F.lit("month").alias("request_type"),
        F.col("__rs").alias("range_start"), F.col("__re").alias("range_end"),
    )
    days = m.where(~full).select(
        id_col,
        F.explode(F.sequence("__rs", "__re", F.expr("INTERVAL 1 DAY")))
        .alias("__d"),
    ).select(
        id_col, F.lit("day").alias("request_type"),
        F.col("__d").alias("range_start"), F.col("__d").alias("range_end"),
    )
    return months.unionByName(days)
