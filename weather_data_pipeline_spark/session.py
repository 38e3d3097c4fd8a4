"""SparkSession factory.

Local testing runs one JVM with N threads; the configs below are chosen so the
same code is correct on a real cluster (AQE, shuffle-partition sizing, Arrow
for pandas-UDF exchange, UTC session time so results are oracle-comparable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
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


def resolve_cpus(cpus: int | None = None) -> int:
    """Effective local core count: explicit arg > $SPARK_GRAFT_CPUS >
    os.cpu_count(). Pure and test-pinnable, so a caller can report the
    width get_spark builds — `local[resolve_cpus()]` when no external
    master is set."""
    return cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def get_spark(
    app_name: str = "weather_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes: on a real cluster ``master`` comes from spark-submit and
    ``spark.sql.shuffle.partitions`` should be ~2-3× total cores (or left to
    AQE coalescing, which is enabled here). Locally we match the core count so
    tiny test data isn't over-parallelized.
    """
    cpus = resolve_cpus(cpus)
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # literal_df's no-ExistingRDD guarantee rides on Arrow conversion
        # SUCCEEDING; the default silent fallback to the pickled-RDD path
        # would quietly reintroduce per-action Python-worker scans
        # (ADVICE r11) — fail loudly instead
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Only force a master when none is configured (spark-submit on a cluster
    # sets it; local runs default to local[cpus]).
    if not os.environ.get("SPARK_MASTER") and "MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python-worker pool prewarm (VERDICT r09 #3): without it, the FIRST
    # wide python-task query of a fresh local session pays the pool's cold
    # start — fork + numpy/pandas import across up to N workers, measured
    # 4-6 s idle / 10-18 s under load (SIM_PROBE.json root-caused this as
    # the only source of the historical cosine_near_dup 3-18 s outliers).
    # Default ON for local masters so any consumer's first query matches
    # steady state, not just the bench; cost is one trivial full-width
    # mapInPandas at session build (~1-2 s) plus ~4 GB RSS of resident
    # workers at local[32]. SPARK_GRAFT_NO_PREWARM=1 disables. On a real
    # cluster (non-local master) long-lived executors amortize the
    # transient across the app, so it is OFF there.
    is_local = spark.sparkContext.master.startswith("local")
    if is_local and not os.environ.get("SPARK_GRAFT_NO_PREWARM"):
        # best-effort: the prewarm is an optimization, and session BUILD
        # must not fail because of it (e.g. the parquet round-trip in a
        # read-only / full-tmp environment)
        try:
            prewarm_python_workers(spark)
        except Exception as exc:  # pragma: no cover - environment-specific
            import sys

            print(
                f"get_spark: worker-pool prewarm failed ({exc!r}); "
                "continuing without it — first wide Pandas-UDF query will "
                "pay the pool cold start",
                file=sys.stderr,
            )
    return spark


def _warm_jvm_infra(spark: SparkSession) -> None:
    """Generic (query-independent) JVM warmup: load the janino/whole-stage-
    codegen machinery, the hash-aggregate + shuffle paths, localCheckpoint
    block storage, and the parquet read/write stack (footer parse, column
    readers, codec) via a throwaway round-trip in a temp dir. Measured
    (PREWARM_PROBE.json): a fresh session's first Pandas-UDF query paid
    ~5 s of this class-loading on top of the worker-pool fork+import — the
    pool prewarm alone left the first draw at 3.3x the steady median."""
    import tempfile

    df = spark.range(1024).selectExpr(
        "id", "id % 7 AS k", "cast(id as double) AS x", "cast(id as string) AS s"
    )
    df.groupBy("k").agg({"x": "sum"}).count()
    df.localCheckpoint(eager=True).count()
    with tempfile.TemporaryDirectory(prefix="wdp-warm-") as d:
        p = os.path.join(d, "warm.parquet")
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p).where("id > 1").count()


# applicationIds whose worker pool this process already grew to full width —
# getOrCreate() hands the same session back to every get_spark call, and the
# prewarm job must run once per session, not once per call
_PREWARMED: set = set()

def prewarm_python_workers(spark: SparkSession, partitions: int | None = None) -> bool:
    """Grow the session's Python worker pool to full width, once.

    One trivial ``mapInPandas`` over ``partitions`` (default
    ``defaultParallelism``) partitions forks every daemon worker the session
    will ever run concurrently and warms their numpy/pandas imports; the pool
    persists (reuse on, no idle timeout), so every later Pandas-UDF query
    starts from steady state. Returns True when the prewarm job actually ran
    (successfully or not), False when this session was already attempted.

    At-most-once per session INCLUDING failures (ADVICE r10): the session is
    marked attempted BEFORE the jobs run, so a persistently broken
    environment pays the failing prewarm (and get_spark's warning) once,
    not multi-seconds on every later get_spark() call against the same
    live session."""
    app = spark.sparkContext.applicationId
    if app in _PREWARMED:
        return False
    _PREWARMED.add(app)
    try:
        _warm_jvm_infra(spark)
    except Exception:
        # opportunistic (e.g. the parquet round-trip in a read-only temp
        # env); the pool prewarm below is the load-bearing part — run it
        pass
    par = partitions or spark.sparkContext.defaultParallelism

    def _prewarm(batches):
        import numpy  # noqa: F401  (the Pandas-UDF hot paths need it warm)

        yield from batches

    spark.range(2 * par, numPartitions=par).mapInPandas(
        _prewarm, "id long"
    ).count()
    return True


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Read every star-schema table under ``sf_dir`` as a DataFrame."""
    from .sources.tables import load_table

    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
