"""Vector store: WKB codec round-trip, JVM point-in-polygon, upsert
classification with geom_id recycling, NHN layer loading."""

import json

import pytest

from aquacache_spark.functions import wkb
from aquacache_spark.operators import vector as V

RING = "array<struct<x:double,y:double>>"


def test_wkb_roundtrip():
    for gt, coords in [
        ("point", [(1.5, -2.25)]),
        ("line", [(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)]),
        ("polygon", [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0)]),
    ]:
        assert wkb.decode(wkb.encode(gt, coords)) == (gt, coords)


def test_wkt_parse():
    gt, coords = wkb.parse_wkt("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))")
    assert gt == "polygon"
    assert coords == [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0)]
    assert wkb.parse_wkt("POINT (2 7)") == ("point", [(2.0, 7.0)])


def _poly_df(spark, polys):
    rows = [(pid, [{"x": float(x), "y": float(y)} for x, y in ring])
            for pid, ring in polys]
    return spark.createDataFrame(rows, f"poly_id int, ring {RING}")


def test_point_in_ring_concave(spark):
    # concave "C" shape: inside notch is outside the polygon
    ring = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 7), (7, 7), (7, 3), (0, 3)]
    polys = _poly_df(spark, [(1, ring)])
    pts = spark.createDataFrame(
        [(1, 5.0, 1.5), (2, 5.0, 5.0), (3, 8.5, 5.0), (4, 5.0, 8.5),
         (5, 11.0, 5.0), (6, -1.0, 5.0)],
        "point_id int, px double, py double",
    )
    out = V.point_in_polygon_join(pts, polys)
    got = {r.point_id for r in out.collect()}
    assert got == {1, 3, 4}  # notch point 2 excluded, outside 5/6 excluded


def test_point_in_polygon_join_bbox_prefilter(spark):
    polys = _poly_df(spark, [
        (1, [(0, 0), (4, 0), (4, 4), (0, 4)]),
        (2, [(10, 10), (14, 10), (14, 14), (10, 14)]),
    ])
    pts = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 12.0, 12.0), (3, 7.0, 7.0)],
        "point_id int, px double, py double",
    )
    got = {(r.point_id, r.poly_id)
           for r in V.point_in_polygon_join(pts, polys).collect()}
    assert got == {(1, 1), (2, 2)}


def test_prepare_features_routes_attributes(spark):
    df = spark.createDataFrame(
        [("A", "polygon", "a basin", 12.5, "YT")],
        "name string, geom_type string, description string, "
        "area_km2 double, province string",
    )
    out = V.prepare_features(
        df, "Basins", feature_name_col="name", description_col="description",
        attr_cols=["area_km2", "province"],
    ).first()
    assert out.layer_name == "Basins" and out.feature_name == "A"
    assert json.loads(out.attributes) == {"area_km2": 12.5, "province": "YT"}
    with pytest.raises(ValueError):
        V.prepare_features(df, "Basins")


def test_upsert_recycles_and_classifies(spark):
    existing = spark.createDataFrame(
        [("L", "f1", "polygon", 111), ("L", "f2", "polygon", 222)],
        "layer_name string, feature_name string, geom_type string, geom_id long",
    )
    incoming = spark.createDataFrame(
        [("L", "f1", "polygon"), ("L", "f3", "polygon")],
        "layer_name string, feature_name string, geom_type string",
    )
    ow = {r.feature_name: (r.action, r.geom_id)
          for r in V.upsert_features(existing, incoming, overwrite=True).collect()}
    assert ow["f1"] == ("update", 111)  # recycled id
    assert ow["f3"][0] == "insert" and ow["f3"][1] not in (111, 222)
    no = {r.feature_name: r.action
          for r in V.upsert_features(existing, incoming, overwrite=False).collect()}
    assert no == {"f1": "skip", "f3": "insert"}
    # deterministic insert ids across runs
    again = {r.feature_name: r.geom_id
             for r in V.upsert_features(existing, incoming, overwrite=True).collect()}
    assert again["f3"] == ow["f3"][1]


def test_load_nhn_basins_fixture(spark, repo_root):
    from aquacache_spark.sources.vector import load_nhn_layer

    empty = spark.createDataFrame(
        [], "layer_name string, feature_name string, geom_type string, geom_id long")
    out = load_nhn_layer(
        spark, "basins", empty,
        payload_path=str(repo_root / "fixtures/connectors/nhn_basins.csv"),
    )
    rows = out.collect()
    assert len(rows) == 6
    assert all(r.action == "insert" for r in rows)
    assert {r.feature_name for r in rows} == {f"NHN basin basin_{i:02d}"
                                              for i in range(6)}
    r0 = next(r for r in rows if r.feature_name == "NHN basin basin_00")
    assert json.loads(r0.attributes) == {"area_km2": 50.5, "province": "BC"}
    assert wkb.decode(bytes(r0.wkb))[0] == "polygon"
    # clip drops far-right basins
    clipped = load_nhn_layer(
        spark, "basins", empty,
        payload_path=str(repo_root / "fixtures/connectors/nhn_basins.csv"),
        clip=(0, 0, 15, 15),
    )
    assert clipped.count() == 2
    with pytest.raises(ValueError):
        load_nhn_layer(spark, "bogus", empty, payload_path="x.csv")
    with pytest.raises(NotImplementedError):
        load_nhn_layer(spark, "basins", empty)


def test_load_nhn_overwrite_semantics(spark, repo_root):
    from aquacache_spark.sources.vector import load_nhn_layer

    existing = spark.createDataFrame(
        [("National Hydro Network - Waterbodies", "NHN waterbody 1000",
          "polygon", 777)],
        "layer_name string, feature_name string, geom_type string, geom_id long",
    )
    out = load_nhn_layer(
        spark, "waterbodies", existing,
        payload_path=str(repo_root / "fixtures/connectors/nhn_waterbodies.csv"),
        overwrite=True,
    )
    acts = {r.feature_name: (r.action, r.geom_id) for r in out.collect()}
    assert acts["NHN waterbody 1000"] == ("update", 777)
    assert sum(1 for a, _ in acts.values() if a == "insert") == 7


class TestGpkgReader:
    def test_reads_layer_with_types_and_chunking(self, spark, repo_root):
        from aquacache_spark.sources.vector import read_gpkg_layer

        path = str(repo_root / "fixtures/connectors/nhn_sample.gpkg")
        # more chunks than rows: empty ranges must be harmless
        df = read_gpkg_layer(spark, path, "basins", n_chunks=64)
        assert df.schema["dataset_name"].dataType.simpleString() == "string"
        assert df.schema["area_km2"].dataType.simpleString() == "double"
        assert df.schema["fid"].dataType.simpleString() == "bigint"
        assert df.schema["geometry"].dataType.simpleString() == "binary"
        rows = df.collect()
        assert len(rows) == 6
        assert {r["dataset_name"] for r in rows} == {
            f"basin_{i:02d}" for i in range(6)
        }

    def test_gpb_header_stripping(self):
        import struct

        from aquacache_spark.functions import wkb as wkb_codec
        from aquacache_spark.sources.vector import gpb_to_wkb

        wkb = wkb_codec.encode_point(1.5, -2.5)
        no_env = b"GP" + bytes([0, 0b001]) + struct.pack("<i", 4326) + wkb
        assert gpb_to_wkb(no_env) == wkb
        # envelope code 1: 4 doubles (minx maxx miny maxy)
        env = struct.pack("<4d", 1.5, 1.5, -2.5, -2.5)
        with_env = b"GP" + bytes([0, 0b011]) + struct.pack("<i", 4326) \
            + env + wkb
        assert gpb_to_wkb(with_env) == wkb
        import pytest

        with pytest.raises(ValueError, match="not a GeoPackage"):
            gpb_to_wkb(b"XX" + no_env[2:])

    def test_non_feature_table_rejected(self, spark, repo_root):
        import pytest

        from aquacache_spark.sources.vector import read_gpkg_layer

        path = str(repo_root / "fixtures/connectors/nhn_sample.gpkg")
        with pytest.raises(ValueError, match="not a feature table"):
            read_gpkg_layer(spark, path, "gpkg_contents")

    def test_waterbodies_decode_matches_csv_payload(self, spark, repo_root):
        """Container read + GPB decode reproduces the decoded-CSV seam
        for the second layer (different schema)."""
        from aquacache_spark.sources.vector import (
            decode_gpkg_geometries, decode_wkt_geometries, read_gpkg_layer,
        )

        gp = decode_gpkg_geometries(read_gpkg_layer(
            spark, str(repo_root / "fixtures/connectors/nhn_sample.gpkg"),
            "waterbodies"))
        cs = decode_wkt_geometries(
            spark.read.option("header", True).option("inferSchema", True)
            .csv(str(repo_root / "fixtures/connectors/nhn_waterbodies.csv")))

        def key(df):
            return sorted(
                (r["waterbody_id"], r["geom_type"],
                 tuple((p["x"], p["y"]) for p in r["ring"]),
                 bytes(r["wkb"]).hex())
                for r in df.collect()
            )

        assert key(gp) == key(cs)

