"""Null-safety / cleaning expressions (§2.9).

- ``inf_to_na``: ±Inf/NaN -> NULL (reference R/utils.R:785)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")


def inf_to_na(col: Column) -> Column:
    return F.when(
        F.isnan(col) | (col == F.lit(_INF)) | (col == F.lit(-_INF)), F.lit(None)
    ).otherwise(col)
