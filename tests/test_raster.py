"""Raster subsystem: tiling round-trip, zonal stats,
pyramids, forecast lifecycle, and the decoded-grid connectors."""

import pytest
from pyspark.sql import functions as F

from aquacache_spark.operators import raster as R


def _cells(spark, w=10, h=10, holes=()):
    rows = [
        (x, y, float(x * 100 + y))
        for y in range(h) for x in range(w)
        if (x, y) not in holes
    ]
    return spark.createDataFrame(rows, "x int, y int, value double")


def test_tile_untile_roundtrip(spark):
    cells = _cells(spark, 10, 10, holes={(3, 4), (9, 9)})
    tiles = R.tile_cells(cells, tile=4)
    back = R.untile(tiles)
    a = {(r.x, r.y): r.value for r in cells.collect()}
    b = {(r.x, r.y): r.value for r in back.collect()}
    assert a == b
    # row-major packing: cell (x=5, y=6) lives in tile (1,1) at pos (6%4)*4+(5%4)=9
    t = tiles.where((F.col("tile_x") == 1) & (F.col("tile_y") == 1)).first()
    assert t.cells[9] == 5 * 100 + 6


def test_tile_bbox_metadata(spark):
    tiles = R.tile_cells(_cells(spark, 8, 8), tile=4)
    t = tiles.where((F.col("tile_x") == 1) & (F.col("tile_y") == 0)).first()
    assert (t.xmin, t.xmax, t.ymin, t.ymax) == (4, 7, 0, 3)


def test_zonal_stats_matches_bruteforce(spark):
    cells = _cells(spark, 12, 12)
    tiles = R.tile_cells(cells, tile=4)
    zones = spark.createDataFrame(
        [(1, 0, 0, 5, 5), (2, 6, 6, 11, 11), (3, 2, 2, 9, 3)],
        "zone_id int, zxmin int, zymin int, zxmax int, zymax int",
    )
    got = {r.zone_id: (r.zmean, r.zcount) for r in
           R.zonal_stats(tiles, zones).collect()}
    pdf = cells.toPandas()
    for z in zones.collect():
        sel = pdf[(pdf.x >= z.zxmin) & (pdf.x <= z.zxmax)
                  & (pdf.y >= z.zymin) & (pdf.y <= z.zymax)]
        assert got[z.zone_id][1] == len(sel)
        assert got[z.zone_id][0] == pytest.approx(sel.value.mean(), abs=1e-6)


def test_pyramid_mean_and_chaining(spark):
    cells = _cells(spark, 8, 8)
    tiles = R.tile_cells(cells, tile=4)
    p2 = R.pyramid(tiles, 2)
    got = {(r.px, r.py): r.pvalue for r in p2.collect()}
    # coarse cell (0,0) = mean of (0,0),(1,0),(0,1),(1,1)
    assert got[(0, 0)] == pytest.approx((0 + 100 + 1 + 101) / 4)
    # chaining: pyramid(pyramid(,2),2) == pyramid(,4) on the mean for
    # uniform 2x2 occupancy
    p4 = {(r.px, r.py): r.pvalue for r in R.pyramid(tiles, 4).collect()}
    p22 = (
        R.tile_cells(
            p2.select(F.col("px").alias("x"), F.col("py").alias("y"),
                      F.col("pvalue").alias("value")), tile=4)
    )
    p22 = {(r.px, r.py): r.pvalue for r in R.pyramid(p22, 2).collect()}
    assert p4 == pytest.approx(p22)


def _reference(spark):
    # series 1: forecasts issued at 00 and 06, overlapping valid 07:00
    rows = [
        # (ref_id, series, valid_from, issued, flag)
        (1, 1, "2024-03-01 01:00:00", "2024-03-01 00:00:00", "FINAL"),
        (2, 1, "2024-03-01 07:00:00", "2024-03-01 00:00:00", "FINAL"),
        (3, 1, "2024-03-01 07:00:00", "2024-03-01 06:00:00", "FINAL"),
        (4, 1, "2024-03-01 08:00:00", "2024-03-01 06:00:00", "FINAL"),
        # series 2: single old forecast, untouched by series 1's new issue
        (5, 2, "2024-03-01 01:00:00", "2024-03-01 00:00:00", "FINAL"),
    ]
    return spark.createDataFrame(
        rows, "reference_id int, raster_series_id int, valid_from string, "
              "issued string, flag string"
    ).withColumn("valid_from", F.to_timestamp("valid_from")) \
     .withColumn("issued", F.to_timestamp("issued"))


def test_forecast_survivors_selective(spark):
    ref = _reference(spark)
    out = {r.reference_id for r in
           R.forecast_survivors(ref, keep="selective").collect()}
    # ref 2 (valid 07:00, old issue) is replaced by ref 3; ref 1 survives
    # (new issue doesn't cover 01:00); series 2's newest issue is its own
    assert out == {1, 3, 4, 5}


def test_forecast_survivors_none_and_all(spark):
    ref = _reference(spark)
    assert {r.reference_id for r in
            R.forecast_survivors(ref, keep="none").collect()} == {3, 4, 5}
    assert R.forecast_survivors(ref, keep="all").count() == 5
    with pytest.raises(ValueError):
        R.forecast_survivors(ref, keep="bogus")


def test_model_asof_prefers_final_then_latest_issue(spark):
    rows = [
        (1, 1, "2024-03-01 07:00:00", "2024-03-01 06:00:00", "PRELIMINARY"),
        (2, 1, "2024-03-01 07:00:00", "2024-03-01 00:00:00", "FINAL"),
        (3, 1, "2024-03-01 08:00:00", "2024-03-01 00:00:00", "FINAL"),
        (4, 1, "2024-03-01 08:00:00", "2024-03-01 06:00:00", "FINAL"),
    ]
    ref = spark.createDataFrame(
        rows, "reference_id int, raster_series_id int, valid_from string, "
              "issued string, flag string"
    ).withColumn("valid_from", F.to_timestamp("valid_from")) \
     .withColumn("issued", F.to_timestamp("issued"))
    out = {r.valid_from.hour: r.reference_id
           for r in R.model_asof(ref).collect()}
    # 07:00 -> FINAL beats newer PRELIMINARY; 08:00 -> newest issue wins
    assert out == {7: 2, 8: 4}


def test_era5_connector_fixture(spark, repo_root):
    from aquacache_spark.sources.raster import download_era5, to_reference_and_tiles

    g = download_era5(
        spark, "APCP_Sfc", "2024-03-01 00:00:00", "2024-03-01 03:00:00",
        payload_path=str(repo_root / "fixtures/connectors/era5_apcp.csv"),
    )
    # window (00:00, 03:00] keeps 3 of 4 timesteps; PRELIMINARY step is at 04
    ref, tiles = to_reference_and_tiles(g, "ERA5:APCP_Sfc", tile=4)
    refs = ref.collect()
    assert len(refs) == 3
    assert all(r.flag == "FINAL" for r in refs)
    assert all(r.issued == r.valid_to for r in refs)  # reanalysis default
    assert all(r.n_cells == 144 for r in refs)
    assert tiles.count() == 3 * 9  # 12x12 grid / 4x4 tiles
    with pytest.raises(NotImplementedError):
        download_era5(spark, "APCP_Sfc", "2024-01-01", "2024-01-02")


def test_hrdps_connector_selective_lifecycle(spark, repo_root):
    from aquacache_spark.sources.raster import download_hrdps, to_reference_and_tiles

    g = download_hrdps(
        spark, "T2m", "2024-03-01 00:00:00", "2024-03-02 00:00:00",
        payload_path=str(repo_root / "fixtures/connectors/hrdps_t2m.csv"),
    )
    ref, _ = to_reference_and_tiles(g, "HRDPS:T2m", tile=4)
    assert ref.count() == 9  # 6 leads cycle 1 + 3 leads cycle 2
    surv = R.forecast_survivors(ref, keep="selective")
    # cycle 2 (issued 06) covers valid 07,08,09 -> cycle-1 leads for those
    # valid times die; cycle-1 leads 01..06 survive
    got = sorted((r.valid_from.hour, r.issued.hour) for r in surv.collect())
    assert got == [(1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 0),
                   (7, 6), (8, 6), (9, 6)]


def test_tile_cells_rejects_duplicate_positions(spark):
    # two cells at the same (x, y) are a data error — the packer must
    # raise, never silently keep one of them
    import pytest
    from aquacache_spark.operators.raster import tile_cells

    cells = spark.createDataFrame(
        [(1, 1, 5.0), (1, 1, 7.0), (2, 1, 1.0)],
        "x int, y int, value double",
    )
    with pytest.raises(Exception, match="duplicate cell positions"):
        tile_cells(cells, tile=4).collect()


def test_pgraster_codec_roundtrip_and_golden_header():
    import struct

    from aquacache_spark.functions.pgraster import (decode_pgraster,
                                                    encode_pgraster)

    vals = [1.5, None, 3.25, -2.0, 0.0, None]
    b = encode_pgraster(vals, 3, 2, ip_x=230.0, ip_y=64.5,
                        scale_x=0.25, scale_y=-0.5)
    d = decode_pgraster(b)
    assert d["values"] == vals
    assert (d["width"], d["height"], d["srid"]) == (3, 2, 4326)
    assert (d["ip_x"], d["ip_y"]) == (230.0, 64.5)
    # golden header layout per the PostGIS raster WKB spec
    assert b[0] == 1                                   # NDR
    assert struct.unpack_from("<H", b, 1)[0] == 0      # version
    assert struct.unpack_from("<H", b, 3)[0] == 1      # nBands
    assert struct.unpack_from("<i", b, 53)[0] == 4326  # srid
    assert struct.unpack_from("<HH", b, 57) == (3, 2)  # dims
    assert b[61] & 0x0F == 11 and b[61] & 0x40         # 64BF + hasNodata
    assert len(b) == 61 + 9 + 6 * 8
    # all-nodata tile carries the isNodataValue hint
    d2 = decode_pgraster(encode_pgraster([None] * 6, 3, 2, 0, 0, 1, -1))
    assert d2["all_nodata"] and d2["values"] == [None] * 6


def test_geotiff_codec_roundtrip():
    import pytest

    from aquacache_spark.functions.geotiff import encode_geotiff
    from helpers import decode_geotiff

    vals = [1.5, None, 3.25, -2.0, 0.0, None]
    g = encode_geotiff(vals, 3, 2, origin_x=230.0, origin_y=64.5,
                       scale_x=0.25, scale_y=0.25)
    d = decode_geotiff(g)
    assert d["values"] == vals
    assert (d["width"], d["height"], d["epsg"]) == (3, 2, 4326)
    assert (d["origin_x"], d["origin_y"]) == (230.0, 64.5)
    assert (d["scale_x"], d["scale_y"]) == (0.25, 0.25)
    with pytest.raises(ValueError, match="magic"):
        decode_geotiff(b"PK\x03\x04 not a tiff")


def test_export_operators_distributed(spark):
    from pyspark.sql import functions as F

    from aquacache_spark.functions.pgraster import decode_pgraster
    from aquacache_spark.operators.raster import (export_geotiff,
                                                  export_pgraster,
                                                  tile_cells)
    from helpers import decode_geotiff

    cells = spark.range(0, 100).select(
        (F.col("id") % 10).cast("int").alias("x"),
        (F.col("id") / 10).cast("int").alias("y"),
        (F.col("id") * 0.5).alias("value"),
    ).where(F.col("id") % 7 != 0)
    tiles = tile_cells(cells, tile=8)
    exp = export_pgraster(tiles, origin_x=100.0, origin_y=50.0,
                          scale_x=0.1, scale_y=-0.1).collect()
    assert len(exp) == 4  # 10x10 grid -> 2x2 tiles of 8
    for r in exp:
        d = decode_pgraster(bytes(r["wkb"]))
        assert d["width"] == d["height"] == 8
        assert r["hexwkb"] == bytes(r["wkb"]).hex().upper()
        assert r["sql"].startswith("INSERT INTO spatial.rasters")
        assert r["sql"].endswith("'::raster);")
        assert d["ip_x"] == 100.0 + r["tile_x"] * 8 * 0.1
    tifs = export_geotiff(tiles, origin_x=100.0, origin_y=50.0,
                          scale_x=0.1, scale_y=-0.1).collect()
    got = {(r["tile_x"], r["tile_y"]): decode_geotiff(bytes(r["tiff"]))
           for r in tifs}
    assert got[(0, 0)]["values"][0 * 8 + 1] == 0.5  # cell (1,0) = id 1
    assert got[(0, 0)]["values"][0] is None         # id 0 dropped (7|0)
    assert all(d["epsg"] == 4326 for d in got.values())


def test_bilinear_zero_weight_edge_corner_complete(spark):
    # points on the grid's max row/column (fx or fy exactly 0) have
    # zero-weight corners pointing off-grid; the result is still
    # well-defined and must be complete (ADVICE r8)
    from aquacache_spark.operators.raster import bilinear_sample

    from pyspark.sql import functions as F
    cells = spark.createDataFrame(
        [(x, y, float(10 * y + x)) for x in range(3) for y in range(3)],
        "x int, y int, value double")
    pts = spark.createDataFrame(
        [(1, 2.0, 1.5),   # fx=0 on max column: corners 1,3 off-grid, w=0
         (2, 1.5, 2.0),   # fy=0 on max row
         (3, 2.0, 2.0),   # both zero: the far corner point
         (4, 2.5, 1.0),   # fx=0.5 past the max column: true incomplete
         (5, 1.25, 0.75)],  # interior
        "station_id int, px double, py double")
    out = {r["station_id"]: r for r in
           bilinear_sample(cells, pts).collect()}
    assert out[1]["complete"] and out[1]["value"] == 17.0
    assert out[2]["complete"] and out[2]["value"] == 21.5
    assert out[3]["complete"] and out[3]["value"] == 22.0
    assert not out[4]["complete"] and out[4]["value"] is None
    assert out[5]["complete"] and abs(out[5]["value"] - 8.75) < 1e-9
