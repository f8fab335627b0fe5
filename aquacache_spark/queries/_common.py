"""Shared query-registry core: the registry itself, the
determinism helpers, and every fixture/oracle fragment used by
more than one tier module.

Original module docstring:

Query registry: every SURVEY.md §2 operator as a (Spark plan, DuckDB
oracle SQL) pair over the driver's parquet tables.

Determinism conventions (these make the driver's order-insensitive
value-hash reproducible across engines and partition layouts):

- Rounding is the explicit idiom ``floor(v * 10^n + 0.5) / 10^n`` on
  BOTH sides — engine ``round()`` implementations disagree on exact
  half-way doubles, this formula cannot.
- Sums/means over many doubles accumulate through an exact DECIMAL and
  cast back to double, so results do not depend on accumulation order
  (partition count, AQE coalescing) — see operators/daily.py.
- Percentiles are exact (``percentile`` / ``quantile_cont``), never
  approximate.
- ``events.ts`` is nanosecond-precision parquet; both sides truncate to
  microseconds (see catalog.table).

Table roles: ``events`` (ts, user_id, event_type, value) plays the
continuous-measurement fact (event_type ≈ series key for QC operators);
``orders`` is the multi-year fact for day-of-year history; ``documents``
/ ``embeddings`` feed the training-data operators.
"""

from __future__ import annotations

import pathlib as _pathlib
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            # a silent overwrite evicts a validated query from the
            # registry with no failure anywhere (r12 review find: a
            # second flow_duration_curve registration shadowed the
            # original and its oracle)
            raise ValueError(
                f"duplicate query registration: {name!r} already maps "
                f"to {QUERIES[name].__module__}.{QUERIES[name].__name__}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.table(spark, sf_dir, name)


def _round(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    """Deterministic half-up rounding: floor(v*10^n + 0.5)/10^n."""
    for c, n in cols.items():
        scale = float(10**n)
        df = df.withColumn(
            c, F.floor(F.col(c).cast("double") * scale + F.lit(0.5)) / scale
        )
    return df


def _exact_sum_col(col: str):
    """Order-independent double sum (see operators/daily.exact_sum):
    partition-merge order perturbs a raw float sum in the last ulps,
    which can flip the rounding quantum vs the single-threaded oracle."""
    from ..operators.daily import exact_sum

    return exact_sum(F.col(col))


def _exact_mean_of(col):
    """Order-independent mean of a double expression (micro-quantized);
    see _exact_sum_col."""
    from ..operators.daily import exact_mean

    return exact_mean(col)


def R(expr: str, n: int) -> str:
    """The same deterministic rounding idiom, as oracle SQL text."""
    return f"floor(({expr}) * {10**n} + 0.5) / {10**n}"


def DSUM(col: str) -> str:
    """Order-independent exact sum in DuckDB (matches
    operators/daily.py exact_sum): integer micro-unit accumulation,
    exact for values with <= 6 decimals."""
    return f"sum(CAST(floor(({col}) * 1000000 + 0.5) AS BIGINT)) / 1000000.0"


def _lang_filter_sql(lang: str) -> str:
    from ..functions.text import LANG_STOPWORDS

    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (f"CAST(len(list_filter(toks, t -> t IN ({words}))) AS DOUBLE)"
            f" / greatest(len(toks), 1)")


_FIXDIR = _pathlib.Path(__file__).resolve().parent.parent.parent / "fixtures" / "connectors"


_REFRESH_LADDER_AVG = ("q90", "q75", "q50", "q25", "q10", "mean")


def _refresh_tail_sql(last_raw_sql: str) -> str:
    """The refresh_calculated_daily ladder tail as DuckDB SQL
    (patch_48.R:215-702): dense per-series spine -> DOY historical
    stats -> hist-count NULL ladder -> Feb-29 smoothing -> tail trim.

    Continues a WITH chain whose (still-open) last CTE is
    ``daily(priority, date, value)`` — the returned text closes it.
    ``last_raw_sql`` supplies the per-series last real-measurement
    day (the trim bound), which differs per caller: raw facts for
    the live refresh, the as-of snapshot for point-in-time replay."""
    return (
        f"""
    ), bounds AS (
      SELECT priority, min(date) AS min_d FROM daily GROUP BY 1
    ), spine AS (
      SELECT priority,
             CAST(unnest(generate_series(CAST(min_d AS TIMESTAMP),
                  (SELECT CAST(max(date) AS TIMESTAMP) FROM daily),
                  INTERVAL 1 DAY)) AS DATE) AS date
      FROM bounds
    ), sp AS (
      SELECT s.priority, s.date, d.value
      FROM spine s LEFT JOIN daily d USING (priority, date)
    ), dd AS (
      SELECT *,
             CAST(CASE
               WHEN month(date) = 2 AND day(date) = 29 THEN NULL
               WHEN (year(date) % 4 = 0 AND (year(date) % 100 <> 0 OR year(date) % 400 = 0))
                    AND dayofyear(date) > 60 THEN dayofyear(date) - 1
               ELSE dayofyear(date) END AS INTEGER) AS doy
      FROM sp
    ), hist AS (
      SELECT t.priority, t.date, t.value, t.doy,
             count(h.value)               AS hist_count,
             min(h.value)                 AS hist_min,
             max(h.value)                 AS hist_max,
             {DSUM('h.value')} / count(h.value) AS hist_mean,
             quantile_cont(h.value, 0.10) AS q10,
             quantile_cont(h.value, 0.25) AS q25,
             quantile_cont(h.value, 0.50) AS q50,
             quantile_cont(h.value, 0.75) AS q75,
             quantile_cont(h.value, 0.90) AS q90
      FROM dd t
      LEFT JOIN dd h
        ON h.priority = t.priority AND h.doy = t.doy
       AND h.date < t.date AND h.value IS NOT NULL
      GROUP BY 1, 2, 3, 4
    ), lad AS (
      SELECT priority, date, value, doy,
        CASE WHEN hist_count > 1 AND value IS NOT NULL
             THEN (value - hist_min) / NULLIF(hist_max - hist_min, 0) * 100
        END AS percent_historic_range,
        CASE WHEN hist_count = 0 AND value IS NOT NULL THEN value
             WHEN hist_count > 0 THEN hist_max END AS max,
        CASE WHEN hist_count = 0 AND value IS NOT NULL THEN value
             WHEN hist_count > 0 THEN hist_min END AS min,
        CASE WHEN hist_count > 0 THEN hist_mean END AS mean,
        CASE WHEN hist_count > 0 THEN q10 END AS q10,
        CASE WHEN hist_count > 0 THEN q25 END AS q25,
        CASE WHEN hist_count > 0 THEN q50 END AS q50,
        CASE WHEN hist_count > 0 THEN q75 END AS q75,
        CASE WHEN hist_count > 0 THEN q90 END AS q90,
        CAST(CASE WHEN hist_count = 0 AND value IS NOT NULL THEN 1
                  WHEN hist_count > 0 THEN hist_count
                       + CASE WHEN value IS NULL THEN 0 ELSE 1 END
        END AS BIGINT) AS doy_count
      FROM hist
    ), sm AS (
      SELECT f.priority, f.date, f.value, f.doy,
        CASE WHEN b.percent_historic_range IS NOT NULL
                  AND a.percent_historic_range IS NOT NULL
             THEN (b.percent_historic_range + a.percent_historic_range) / 2
        END AS percent_historic_range,
        CASE WHEN b.max IS NOT NULL AND a.max IS NOT NULL THEN (b.max + a.max) / 2
             WHEN b.max IS NULL AND a.max IS NULL AND f.value IS NOT NULL
             THEN f.value END AS max,
        CASE WHEN b.min IS NOT NULL AND a.min IS NOT NULL THEN (b.min + a.min) / 2
             WHEN b.min IS NULL AND a.min IS NULL AND f.value IS NOT NULL
             THEN f.value END AS min,
        """
        + ",\n        ".join(
            f"CASE WHEN b.{c} IS NOT NULL AND a.{c} IS NOT NULL"
            f" THEN (b.{c} + a.{c}) / 2 END AS {c}"
            for c in _REFRESH_LADDER_AVG
        )
        + f""",
        CAST(CASE WHEN b.doy_count IS NOT NULL AND a.doy_count IS NOT NULL
                  THEN LEAST(b.doy_count, a.doy_count)
                  WHEN b.doy_count IS NULL AND a.doy_count IS NULL
                       AND f.value IS NOT NULL THEN 1
        END AS BIGINT) AS doy_count
      FROM (SELECT * FROM lad WHERE month(date) = 2 AND day(date) = 29) f
      LEFT JOIN lad b ON b.priority = f.priority AND b.date = f.date - 1
      LEFT JOIN lad a ON a.priority = f.priority AND a.date = f.date + 1
    ), final AS (
      SELECT * FROM lad WHERE NOT (month(date) = 2 AND day(date) = 29)
      UNION ALL BY NAME
      SELECT * FROM sm
    ), last_raw AS (
      {last_raw_sql}
    )
    SELECT f.priority, f.date, {R('f.value', 4)} AS value, f.doy,
           {R('f.percent_historic_range', 4)} AS percent_historic_range,
           {R('f.max', 4)} AS max, {R('f.min', 4)} AS min,
           {R('f.mean', 4)} AS mean,
           {R('f.q10', 4)} AS q10, {R('f.q25', 4)} AS q25,
           {R('f.q50', 4)} AS q50, {R('f.q75', 4)} AS q75,
           {R('f.q90', 4)} AS q90, f.doy_count
    FROM final f JOIN last_raw l ON l.priority = f.priority
    WHERE f.date <= l.last_d
"""
    )


_RASTER_CELLS_SQL = """
      SELECT (event_id % 100) AS x,
             CAST(floor(event_id / 100) AS INT) AS y,
             value
      FROM events
"""


def _raster_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (F.col("event_id") % 100).cast("int").alias("x"),
        F.floor(F.col("event_id") / 100).cast("int").alias("y"),
        "value",
    )

