"""aquacache_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference hydrometeorological store
(YukonWRB/AquaCache, surveyed in SURVEY.md).

Architecture: catalog-driven lakehouse. Dimension + fact tables in
Parquet/Delta, a thin Python API layer of DataFrame-returning functions
mirroring the reference's table-valued SQL functions, and all compute
expressed as Catalyst-optimizable DataFrame plans. Python UDFs are used
only where a true sequential scan is required (cumulative reset-aware
increments, change-point detection), always as Arrow-batched
``applyInPandas`` per-series groups.
"""
