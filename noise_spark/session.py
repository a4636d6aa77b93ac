"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[N] sandbox but expressed the way a
1000-executor cluster job would set them: AQE on (runtime coalesce +
skew-join handling), Arrow transfers on, shuffle partitions sized to the
parallelism level instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "noise_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("NOISE_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark 4 records the Python call site of every DataFrame and
        # Column call (about 5 extra py4j round trips each) so analysis
        # errors can name the user's line; every query plan built on
        # the driver pays that on each call (README: Requirements)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Sandbox-scale default: the test corpora are a few hundred MB, so
        # the 128MB default packs everything into a handful of input
        # splits and caps scan/tokenize parallelism at ~4 tasks. 4MB keeps
        # all local[N] cores busy; a real 100TB job overrides this back up
        # via the env var (input splits are plentiful there).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("NOISE_SPARK_MAX_PARTITION_BYTES", "4m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One-time engine warm-up at session creation (opt out with
    NOISE_SPARK_WARM_SESSION=0): spin up the Python worker pool, JIT the
    Arrow serialization path, and exercise one shuffle + codegen pass so
    the first real job does not pay JVM/worker cold-start. Touches no
    user data — the cluster-side equivalent is a warm executor pool,
    which production clusters keep for exactly this reason."""
    if os.environ.get("NOISE_SPARK_WARM_SESSION", "1") == "0":
        return
    if getattr(spark, "_noise_warmed", False):
        return
    spark._noise_warmed = True  # type: ignore[attr-defined]
    try:
        import shutil
        import tempfile

        p = spark.sparkContext.defaultParallelism

        def _identity(batches):
            yield from batches

        # Python workers + Arrow lanes (mapInPandas) and a shuffle with
        # a hash aggregate — the two stage shapes every job here uses
        (
            spark.range(0, p * 4, 1, p)
            .mapInPandas(_identity, schema="id long")
            .selectExpr("pmod(id, 13) AS k")
            .groupBy("k")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # the scored-aggregation expression shape (literal map lookup +
        # collect_list/array_sort + HOF fold): compiles the codegen
        # classes the first real query would otherwise pay for
        from pyspark.sql import functions as F

        (
            spark.range(0, p * 4, 1, p)
            .select("id", F.create_map(F.lit("t"), F.lit(1.0))[F.lit("t")].alias("w"))
            .groupBy("id")
            .agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.lit("t").alias("term"), F.col("w").alias("contrib"))
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("s"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # grouped-map (applyInPandas) lane + range partitioner — the
        # other two stage shapes (segment merge, docID numbering)
        (
            spark.range(0, p * 4, 1, 4)
            .repartitionByRange(4, "id")
            .groupBy("id")
            .applyInPandas(lambda k, g: g, schema="id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # parquet writer/reader + output committer JIT on a 2-row table
        d = tempfile.mkdtemp(prefix="noise_spark_warm_")
        try:
            spark.range(0, 2).write.mode("overwrite").parquet(d)
            spark.read.parquet(d).count()
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:  # noqa: BLE001 — warm-up must never fail a session
        pass
