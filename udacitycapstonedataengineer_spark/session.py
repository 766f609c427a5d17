"""SparkSession factory.

Mirrors the reference's ``create_spark_session`` (etl.py:21-27) minus the
sas7bdat package and Hive support, with the settings a large cluster
actually needs: AQE (runtime re-planning, skew-join handling, partition
coalescing), UTC session timezone (deterministic date semantics vs the
DuckDB oracle), and shuffle partitions sized to the parallelism at hand
instead of the 200 default the reference silently used over 3M rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB these are cluster-submit-time settings; the factory exposes
# them so local tests and a real deployment share one code path.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the few pandas-UDF operators (minhash, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB scan splits — keeps partition count sane at large SF.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Never write INT96 timestamps: they carry NO min/max statistics,
    # which silently disables parquet file/row-group skipping on every
    # time predicate — at 100 TB that's full scans of time-series data.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Cap plan-tree STRINGS. Composed-index plans (IVF-PQ recall@k:
    # a 4-query union over the unrolled k-means + PQ build tree) can
    # stringify to hundreds of MB because tree printing repeats shared
    # subplans; SQLExecutionStart computes that string on EVERY action
    # and the UI retains one per execution — observed as a driver-heap
    # OOM inside QueryExecution.explainString during a long bench
    # session (round 13). 1 MB keeps plans readable for debugging
    # while bounding the per-action cost; execution semantics are
    # untouched.
    "spark.sql.maxPlanStringLength": str(1024 * 1024),
    # …and bound how many of those the live UI holds.
    "spark.sql.ui.retainedExecutions": "50",
    # Keep generated classes across queries. One IVF-PQ + SemDeDup
    # pass compiles ~170 classes, more than the 100-entry default
    # holds, so every pass recompiled all of them (~1.5 s of janino
    # plus JIT warm-up). Model literals fold into the classes'
    # references, so the cache serves repeated query SHAPES, not only
    # identical models. Static: read once, at session start.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "udacitycapstonedataengineer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` so tests,
    bench, and the driver share one factory; on a real cluster the
    submitter sets master and this arg is left None with
    ``spark.master`` already present.
    """
    # before the JVM starts: protobuf bootstrap for TWS (exports
    # PYTHONPATH to the python workers; no-op where protobuf is
    # properly installed — see compat.py)
    from .compat import ensure_protobuf_runtime, pbshim_dir

    pb_ok = ensure_protobuf_runtime()
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if pb_ok and not master.startswith("local"):
        # cluster executors don't inherit the driver's environment;
        # ship the shim dir the SCOPED way (executor env only) there.
        # Local mode relies on the process-env export in compat.py.
        conf.setdefault(
            "spark.executorEnv.PYTHONPATH",
            pbshim_dir()
            + os.pathsep
            + "{{PWD}}",  # keep YARN's default expansion intact
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def s3a_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    role_arn: str | None = None,
) -> dict[str, str]:
    """Worked S3A object-store configuration (SURVEY §2.1 S7; reference
    etl.py:84-85 writes to s3a:// with credentials from config.cfg —
    which the reference committed in plaintext; here credentials come
    from the environment/instance profile, never from files).

    Returns ``spark.hadoop.fs.s3a.*`` keys for ``get_spark(extra_conf=
    s3a_conf(...))`` or spark-submit ``--conf``. The sandbox has no
    object store or hadoop-aws jars, so this stays a pure conf builder;
    on a real cluster add hadoop-aws + aws bundle to the classpath.
    """
    conf = {
        # committers: the "magic" committer avoids the O(data) rename
        # commit that cripples s3a output at scale
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        # connection pool sized for wide scans
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.threads.max": "64",
        # read policy for columnar formats: random beats sequential
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
    }
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    elif role_arn:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider"
        )
        conf["spark.hadoop.fs.s3a.assumed.role.arn"] = role_arn
    else:
        # instance profile / env chain — the default and preferred path
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
        )
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return conf


def configure_s3a(spark: SparkSession, **kwargs) -> SparkSession:
    """Apply ``s3a_conf``'s hadoop keys to a LIVE session:
    ``spark.hadoop.*`` is start-time-only through the builder, but
    writing into the context's hadoopConfiguration affects every
    FileSystem created afterwards — the way to point an already-running
    session at an object store. The committer-protocol SQL confs are
    NOT applied here: their classes live in the spark-hadoop-cloud
    module and must be on the classpath at submit time (use
    ``get_spark(extra_conf=s3a_conf(...))`` on a cloud-equipped
    cluster)."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in s3a_conf(**kwargs).items():
        if k.startswith("spark.hadoop."):
            hconf.set(k[len("spark.hadoop.") :], v)
    return spark


def enable_runtime_bloom(
    spark: SparkSession, application_side_scan_threshold: str = "10GB"
) -> SparkSession:
    """Runtime Bloom-filter join pruning: when a shuffle join's small
    side carries a selective filter, Spark builds a Bloom filter from
    it and semi-prunes the BIG side's shuffle — often the single
    biggest win on selective fact⋈filtered-dim joins that are too big
    to broadcast. Defaults are conservative (application side must
    scan >10GB); lower the threshold on clusters where shuffle is the
    bottleneck. Pinned by tests/test_spark4_surfaces.py."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_scan_threshold,
    )
    return spark


def pin_oracle_semantics(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs every oracle-compared query depends on.

    The driver owns the SparkSession passed to ``queries()`` callables,
    so we re-pin per call rather than trusting the factory ran.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
