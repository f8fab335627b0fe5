"""Vector feature store + spatial predicates.

Reference data model (R/insertACVector.R:5-23): one ``vectors`` table,
unique on ``(layer_name, feature_name, geom_type)``, serial ``geom_id``,
dedicated ``feature_name``/``description`` columns, every other
attribute-table field preserved in an ``attributes`` JSON column.
``overwrite = TRUE`` re-uses the existing ``geom_id`` (upsert;
insertACVector.R:263-293), otherwise conflicting incoming rows are
skipped (:312-350).

Spark-first choices:

- Geometry carries both an opaque ``wkb`` binary (interchange) and a
  ``ring array<struct<x,y>>`` (compute form).  Spatial predicates run
  on the ring with JVM higher-order functions — ``exists``/
  ``aggregate``/``filter`` over the vertex array — so point-in-polygon
  over a 100 TB point table is a broadcast join + codegen'd filter
  with NO Python in the hot path.
- bbox columns (xmin..ymax) are first-class, giving parquet min/max
  pruning and a cheap candidate pre-join exactly like the raster tiles.
- The upsert is a relational merge classification (insert/update/skip)
  with geom_id recycling, not per-row DML.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_int

UNIQUE_KEY = ("layer_name", "feature_name", "geom_type")


def with_bbox(df: DataFrame, ring: str = "ring") -> DataFrame:
    """Derive bbox columns from the ring array — JVM array aggregates."""
    r = F.col(ring)
    return (
        df.withColumn("xmin", F.array_min(F.transform(r, lambda p: p.x)))
        .withColumn("xmax", F.array_max(F.transform(r, lambda p: p.x)))
        .withColumn("ymin", F.array_min(F.transform(r, lambda p: p.y)))
        .withColumn("ymax", F.array_max(F.transform(r, lambda p: p.y)))
    )


def point_in_ring(px: Column, py: Column, ring: Column) -> Column:
    """Ray-casting (even-odd) containment, entirely in Spark SQL
    higher-order functions.

    Edges are (ring[i], ring[i+1 mod n]); a rightward ray from the
    point crosses an edge when the edge spans the point's y and the
    intersection x lies right of the point.  Odd crossing count =
    inside.  Compiles to codegen'd array loops — no UDF.
    """
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - 1)
    crossings = F.size(
        F.filter(
            idx,
            lambda i: (
                ((F.element_at(ring, i + 1).y > py)
                 != (F.element_at(ring, (i + 1) % n + 1).y > py))
                & (
                    px
                    < (F.element_at(ring, (i + 1) % n + 1).x
                       - F.element_at(ring, i + 1).x)
                    * (py - F.element_at(ring, i + 1).y)
                    / (F.element_at(ring, (i + 1) % n + 1).y
                       - F.element_at(ring, i + 1).y)
                    + F.element_at(ring, i + 1).x
                )
            ),
        )
    )
    return crossings % 2 == 1


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    px: str = "px",
    py: str = "py",
    ring: str = "ring",
) -> DataFrame:
    """points × polygons containment.

    Polygons are the catalog-sized side (layers of basins/waterbodies):
    broadcast, bbox pre-filter culls most candidates before the exact
    ray-cast refines — the classic filter-refine spatial join, with the
    big side streaming map-only."""
    polys = with_bbox(polygons, ring=ring)
    cand = points.join(
        F.broadcast(polys),
        (F.col(px) >= F.col("xmin")) & (F.col(px) <= F.col("xmax"))
        & (F.col(py) >= F.col("ymin")) & (F.col(py) <= F.col("ymax")),
    )
    return cand.where(point_in_ring(F.col(px), F.col(py), F.col(ring)))


def prepare_features(
    df: DataFrame,
    layer_name: str,
    feature_name_col: str | None = None,
    feature_name: str | None = None,
    description_col: str | None = None,
    description: str | None = None,
    attr_cols: Sequence[str] = (),
) -> DataFrame:
    """insertACVector's column routing (R/insertACVector.R:11,38-59):
    feature_name/description from a column or a constant, every other
    attribute field preserved as JSON (key order = ``attr_cols`` order,
    mirrored in oracles)."""
    if (feature_name_col is None) == (feature_name is None):
        raise ValueError("exactly one of feature_name / feature_name_col")
    fname = F.col(feature_name_col) if feature_name_col else F.lit(feature_name)
    desc = (F.col(description_col) if description_col
            else F.lit(description).cast("string"))
    attrs = (F.to_json(F.struct(*[F.col(c) for c in attr_cols]))
             if attr_cols else F.lit(None).cast("string"))
    return df.select(
        F.lit(layer_name).alias("layer_name"),
        fname.cast("string").alias("feature_name"),
        F.col("geom_type"),
        desc.alias("description"),
        attrs.alias("attributes"),
        *[c for c in ("wkb", "ring") if c in df.columns],
    )


def upsert_features(
    existing: DataFrame, incoming: DataFrame, overwrite: bool = False
) -> DataFrame:
    """Merge classification on the unique key (insertACVector.R:263-350).

    - no existing row              -> action 'insert', new deterministic
      geom_id (portable md5-int of the unique key — stable across
      re-runs, unlike the reference's serial)
    - existing row + overwrite     -> action 'update', geom_id recycled
    - existing row + no overwrite  -> action 'skip' (reference warns and
      leaves the old feature)

    One broadcast-able left join keyed on the unique key; no DML loop.
    """
    ex = existing.select(
        *UNIQUE_KEY, F.col("geom_id").alias("__ex_id")
    )
    joined = incoming.join(F.broadcast(ex), on=list(UNIQUE_KEY), how="left")
    action = (
        F.when(F.col("__ex_id").isNull(), "insert")
        .when(F.lit(overwrite), "update")
        .otherwise("skip")
    )
    new_id = md5_int(F.concat_ws("|", *UNIQUE_KEY))
    return (
        joined.withColumn("action", action)
        .withColumn("geom_id", F.coalesce(F.col("__ex_id"), new_id))
        .drop("__ex_id")
    )

