"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same configuration keys are the ones
that matter on a 1000-executor cluster (AQE, adaptive skew-join handling,
Arrow for pandas UDF exchange, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "deeptime-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are chosen for correctness *and* scale:

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
    - Arrow on: pandas UDFs exchange columnar batches, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics vs the oracle.
    - driver heap 8g, or ``$SPARK_DRIVER_MEMORY``; 1g JIT code cache (below).
    - shuffle partitions default to local core count; on a real cluster this
      is overridden to ~2-3x total cores (or left to AQE coalescing from a
      high initial value).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the harness events table stores TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects by default — read as long nanos instead
        # (normalized back to timestamp in load_tables)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # A long-lived session compiles thousands of whole-stage-codegen
        # units; the JVM's default 240MB reserved code cache fills, the JIT
        # stops compiling and DEOPTIMIZES hot methods, and the widest
        # codegen plans (the dedup family's 32/64-column hash aggregates)
        # crawl at 3-5x on late passes. Measured in the bench session
        # (bench.py): corpus_tuned_dedup's warm trials read 38 s there vs
        # 8 s in an idle session; 512m held 138 queries but overflowed
        # again at 147 wide-codegen plans x 3 passes (26 s vs 6.4 s);
        # 1g holds the whole compiled-plan working set.
        # A --driver-java-options in PYSPARK_SUBMIT_ARGS replaces this.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Register the harness parquet tables as temp views; return dict of DataFrames.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (TESTDATA.md).
    """
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    from pyspark.sql import functions as F

    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                # nanosAsLong read: restore a usable timestamp. Integer DIV,
                # not fp division — ns epoch values (~1.7e18) exceed 2^53, so
                # a double round-trip would be off by up to ~1 microsecond vs
                # the oracle's exact ns->us truncation.
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                # timestamp[us] with no tz metadata reads as TIMESTAMP_NTZ;
                # session tz is UTC, so the cast is a pure type change (same
                # micros) and restores unix_micros()/window() compatibility.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
