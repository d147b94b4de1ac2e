"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every setting is chosen so the same
code runs unchanged on a multi-executor cluster: AQE on (runtime partition
coalescing + skew-join handling), shuffle partitions sized to cores locally
(overridable via env for cluster runs), UTC session timezone for oracle
parity, Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: AQE's per-partition build-side cap for rewriting a sort-merge join to a
#: shuffled hash join; set by ``get_spark`` and by ``queries.tune_session``
#: on sessions the engine did not build
SHJ_LOCAL_MAP = "64m"


def session_key(spark: SparkSession) -> str:
    """Stable per-session key of the engine's session artifacts
    (``core/artifacts``).

    ``id(spark)`` is NOT safe here: CPython recycles object ids after a
    torn-down session is garbage-collected, so a long-lived process that
    recreates sessions could be served another session's cached artifact
    (stale probe routes, checkpointed frames bound to a dead context).
    The application id embeds the context start time and is unique per
    SparkContext on any deployment (``local-<startTime>`` locally,
    ``app-...``/``application_...`` on a cluster)."""
    return spark.sparkContext.applicationId


def get_spark(app_name: str = "columnflow_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Return (or create) the process-wide SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``);
    ``shuffle_partitions`` defaults to the core count so local shuffles are
    neither over- nor under-parallelized.  On a real cluster these come from
    spark-submit conf instead and this builder is a no-op passthrough.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # r13 (optimization guide §3.1/§9): let the planner pick shuffled
        # hash join over sort-merge when the per-partition build side fits
        # (skips both sort passes), and let AQE rewrite SMJ->SHJ at
        # runtime when every post-shuffle partition is under the local-map
        # threshold.  Both are size-gated, spill-safe defaults on any
        # deployment; override per-cluster via spark-submit conf.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", SHJ_LOCAL_MAP)
        # r13 (guide §6): zstd parquet for everything the engine writes —
        # smaller store/sink bytes at similar read speed (codec is
        # per-file metadata, so existing snappy stores keep reading fine)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # r13 (guide §4.3): Arrow serialization for any scalar Python UDF
        # (the engine's own kernels are already pandas/Arrow-native; this
        # covers user extensions at the session level)
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # one Python worker pool per session: a simplified traceback adds
        # SPARK_SIMPLIFIED_TRACEBACK=1 to the SQL UDF workers' env, and
        # the env keys the pyspark.daemon, so plain Python RDDs (a
        # caller's list createDataFrame) started a SECOND daemon with its
        # own workers; its first use in a session cost ~1.4 s at local[4]
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        # reliable-checkpoint retention (core/state.py switch): without
        # this the ContextCleaner never deletes checkpointed RDD data, so
        # a long job under SPARK_GRAFT_RELIABLE_CHECKPOINT=1 accumulates
        # unbounded checkpoint storage; must be set at context start
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def count_jobs(spark: SparkSession, fn, label: str = "count-jobs"):
    """``(fn(), n_jobs)``: run ``fn`` under a fresh job group (described
    as ``label``) and count the Spark jobs it started, read from the
    status tracker (which keeps job records with the UI off).  The
    caller's job group, if any, is restored afterwards."""
    import uuid  # noqa: PLC0415

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [sc.getLocalProperty(k) for k in keys]
    group = f"{label}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, label)
    try:
        out = fn()
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
