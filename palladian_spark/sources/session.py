"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "palladian-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session with AQE, Arrow, and sane shuffle sizing.

    On a real cluster the master/resource/parallelism flags come from
    spark-submit and MUST win: builder options override submitted conf.
    Running under spark-submit is detected via PYSPARK_GATEWAY_PORT (how
    pyspark hands the already-running driver JVM to Python) — in that
    case no local master/shuffle/driver-memory default is applied unless
    an explicit argument or SPARK_GRAFT_* env (bench-local knobs, unset
    on a cluster) asks for one. Under plain ``python`` the JVM launches
    at getOrCreate and the builder conf — including driver memory, which
    only works pre-launch — feeds the launch command, so the local
    defaults apply there.

    The unconditional knobs (AQE, skew-join handling, Arrow batching) are
    the ones that matter at 100 TB as much as on local[*]. ``extra_conf``
    entries apply last (caller overrides), so harnesses like bench.py can
    layer host-specific settings on the SAME engine configuration the
    contract check verifies.
    """
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    builder = SparkSession.builder.appName(app_name)

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        None if under_submit else f"local[{cpus or '*'}]"
    )
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None and not under_submit:
        shuffle_partitions = int(cpus) if cpus else 32
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    builder = (
        builder
        # Adaptive execution: runtime shuffle coalescing + skew-join splits.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs; bound batches by rows — `content` blobs can
        # be MBs each, so keep batches small enough to fit executor memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # Broadcast dictionaries up to 64 MB before falling back to shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if not under_submit:
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

