"""SparkSession factory tuned for this engine.

Scale notes (100 TB target):
- AQE on: runtime coalesce + skew-join splitting replace hand-tuned
  partition counts on a real cluster.
- shuffle.partitions defaults to the local core count for tests; on a
  cluster this is overridden (AQE coalesces anyway).
- Session timezone pinned to UTC — the reference runs every connection
  with ``SET timezone = 'UTC'`` (reference R/AquaConnect.R:45); all
  datetime semantics here assume it.
- Arrow enabled: every pandas_udf / applyInPandas boundary is
  Arrow-batched, never row-pickled.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Arrow-batched kernels (applyInPandas / mapInPandas) pickle closures
    *by reference* to this module; workers must be able to import it.
    In a pytest run the repo cwd happens to be importable, but a driver
    embedding us from elsewhere (or a real cluster) is not — so we zip
    the package once per SparkContext and register it. This is the
    standard deployment idiom (py-files) done self-service.
    """
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="aquacache_spark_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))


def get_spark(app_name: str = "aquacache-spark", cpus: str | int | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    return configure(
        SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    ).getOrCreate()


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to any builder (shared by tests/bench/driver)."""
    return (
        builder.config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps without isAdjustedToUTC read as TIMESTAMP
        # (UTC wall clock), never TIMESTAMP_NTZ — one timestamp type
        # engine-wide; catalog.table also casts defensively for
        # sessions built outside this factory
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # NOTE (bucketed deployments): setting
        # spark.sql.requireAllClusterKeysForCoPartition=false lets a
        # table bucketed on a SUBSET of a join's keys satisfy
        # co-partitioning — the DOY (series, doy) self-join and its
        # aggregate then run with ZERO exchanges over a series-bucketed
        # daily store (plan pinned in tests/test_bucketing.py). It is
        # deliberately NOT the session default: join parallelism drops
        # to the subset-key partition count, which on a low-cardinality
        # key (measured: the 5-series bench fact) costs 5x. Enable it
        # together with a bucketed store sized for the cluster.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate copies the GENERATOR EXPRESSION into
        # a pushed-down `size(e) > 0 AND isnotnull(e)` filter below
        # every explode. For this engine's explodes the generator is
        # the expensive part (an md5 per gram/shingle inside a
        # transform()), so the inferred filter re-evaluates the whole
        # hash array once per row just to test emptiness and the gram
        # hashing runs 2x per explode (measured: the pushed filters
        # re-evaluated the full 8-gram md5 transform of the Generates
        # below them). The rule only ever saves work when skipping
        # empty-array rows is cheaper than generating them — never true
        # here; Generate itself already emits nothing for empty arrays
        # (guide §4.4's duplicated-evaluation class, expression form).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # Whole-stage codegen emits one or more generated classes per
        # stage; a 300-query batch JIT-compiles thousands of them and
        # fills the JVM's default 240 MB reserved code cache (measured:
        # 201 MB used at the end of a full bench run). Near the cap the
        # sweeper evicts warm compiled methods and random CPU-bound
        # queries degrade 5-10x run-to-run (measured: two CPU-bound
        # queries 16x and 11x slower across two otherwise-identical
        # full-bench runs). 512 MB gives the codegen workload headroom
        # at any scale — this is a per-JVM constant, not a
        # data-size-dependent tunable.
        # Whole-stage codegen over very wide stages emits one enormous
        # generated method per span: the results-metadata star (11
        # broadcast joins, 76+ output columns in one span) compiles
        # for seconds under C2 AND runs ~35% slower steady-state than
        # the Volcano + per-expression-codegen fallback (measured at
        # sf0.1: 2.9-3.1s/run codegen'd vs 1.9-2.0s with the stage
        # fallback; the generated method blows past JIT inline/compile
        # budgets — a width property, not a data-size property, so the
        # same applies at 100 TB). 64 keeps every measurement-fact
        # stage codegen'd (only the two 66+-column metadata stars
        # fall back).
        .config("spark.sql.codegen.maxFields", "64")
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m "
                + os.environ.get("SPARK_GRAFT_DRIVER_XOPTS", ""))
        .config("spark.executor.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )


def local_df(spark: SparkSession, data, schema):
    """Small local frame as a LocalRelation (no Python-RDD scan job).

    ``createDataFrame(list-of-tuples)`` plans a ``Scan ExistingRDD``;
    every broadcast of it then runs a separate Spark job through the
    Py4J RDD path (~0.2-0.4 s fixed cost each, and it blocks
    whole-stage codegen for the joined stage). Routing the rows through
    pandas + Arrow folds them into a ``LocalRelation``: broadcasting
    becomes driver-side with no job at all. Falls back to the vanilla
    path for inputs the Arrow converter rejects.
    """
    import pandas as pd

    try:
        if isinstance(schema, (list, tuple)):
            # pandas would widen an int column containing None to
            # float64 (silent long->double schema drift vs the
            # createDataFrame(list, names) path); infer the Spark
            # schema from the rows with the same rules as that path,
            # then let Arrow pack the object-dtype frame.
            names = list(schema)
            struct = spark._inferSchemaFromList(data, names)
            pdf = pd.DataFrame(data, columns=names, dtype=object)
            return spark.createDataFrame(pdf, schema=struct)
        # dtype=object keeps None as None: pandas would otherwise
        # widen a numeric column containing None to float64/NaN, and
        # the non-Arrow converter (sessions built outside configure())
        # ships that NaN as a double NaN, not NULL — so the same
        # fixture would be NULL-valued under Arrow and NaN-valued
        # without it, silently changing isNull() ladders cross-session.
        pdf = (data if isinstance(data, pd.DataFrame)
               else pd.DataFrame(data, dtype=object))
        return spark.createDataFrame(pdf, schema=schema)
    except Exception as exc:  # Arrow converter rejections are varied
        import warnings

        warnings.warn(
            "local_df: LocalRelation fast path fell back to the "
            f"RDD scan path ({exc!r})"
        )
        return spark.createDataFrame(data, schema)
