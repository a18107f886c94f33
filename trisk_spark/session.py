"""SparkSession construction and per-session tuning.

Two paths:
  * ``get_spark()`` — build our own session (tests, bench.py).
  * ``prepare(spark)`` — runtime-settable confs applied to a session we
    did not build (the driver passes its own session into
    ``__spark_entry__.entry``/``queries``).

Library code that needs other settings for a bounded piece of work runs
it on a ``sibling_session`` instead of writing the caller's conf, and
hands its frames back with ``rebind``.

Scale notes (100 TB / 1000 executors): every conf here is also valid on a
real cluster; the only local-mode-specific bits are master and driver
memory. Shuffle partitions default to the core count locally but should
be ~2-3x total cores on a cluster — AQE coalesces the excess, so we set
a generous initial number and let AQE shrink it.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

ICU_CASE_CONF = "spark.sql.icu.caseMappings.enabled"
#: Default-locale languages under which ICU's case mapping differs from
#: the JVM's on more than the letters newer than JDK 17's Unicode 13
#: (ICU's upper() drops Greek accents under el and spells U+0587 as ԵՎ
#: under hy); on such a JVM ``prepare`` keeps ICU case mappings on. Both
#: mappings follow the default locale, and under tr, az and lt they
#: agree (PERF_NOTES.md).
ICU_CASE_LANGUAGES = frozenset({"el", "hy"})

#: Confs that can be changed on a live session (runtime-settable).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp arithmetic: all epoch math assumes UTC so
    # results match the DuckDB oracle (naive timestamps == UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE re-plans at runtime: coalesces small shuffle partitions,
    # converts SMJ->broadcast when a side turns out small, splits skewed
    # partitions. Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas UDF / toPandas exchange (10-100x vs pickle).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Session windows / stateful ops need a sane state store locally.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read
    # natively; read as long and convert in catalog.table (DuckDB
    # truncates ns→µs on read, we mirror that exactly).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The driver's parquet writes timestamps with isAdjustedToUTC=false;
    # Spark 4 infers those as TIMESTAMP_NTZ, which breaks unix_millis()
    # and withWatermark() (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Read
    # them as plain TIMESTAMP instead — value-preserving because the
    # session time zone is pinned UTC above and the DuckDB oracle also
    # treats naive timestamps as UTC. catalog.table() additionally casts
    # any residual NTZ column for sessions where this conf can't be set.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # lower()/upper() through the JVM's case mapping, not ICU's: the
    # first ICU case mapping in a JVM title-cases all 1,114,112 code
    # points to fill a lookup table, about 2.5 s of CPU even on ASCII
    # input (PERF_NOTES.md, "ICU case mapping"). The two differ only on
    # letters newer than JDK 17's Unicode 13, which the JVM leaves as
    # they are, two final-sigma contexts, and under the
    # ``ICU_CASE_LANGUAGES`` locales, where ``prepare`` keeps ICU.
    ICU_CASE_CONF: "false",
}


_PKG_SHIPPED: set[int] = set()


@functools.cache
def _package_zip() -> str:
    """This process's zip of the package, in a directory only it
    writes: a process started from another checkout never overwrites
    the archive this process's SparkContext ships."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = tempfile.mkdtemp(prefix="trisk-spark-pkg-")
    atexit.register(shutil.rmtree, out, True)
    base = os.path.join(out, "trisk_spark_pkg")
    return shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "trisk_spark")


def _ship_package(spark: SparkSession) -> None:
    """Make trisk_spark importable on executor Python workers regardless
    of the driver process's cwd: zip the package and addPyFile it.
    Without this, applyInPandas UDFs that reference module-level
    functions fail to unpickle on workers (ModuleNotFoundError)."""
    key = id(spark)
    if key in _PKG_SHIPPED:
        return
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # e.g. Spark Connect session without sparkContext
    _PKG_SHIPPED.add(key)


def _jvm_case_mapping(spark: SparkSession) -> bool:
    """Whether the JVM's case mapping may stand in for ICU's: not under
    a default locale where the two differ, nor where the locale cannot
    be read (no JVM in this process). The driver's locale stands for the
    executors' (one JVM in local mode)."""
    try:
        lang = spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
    except Exception:
        return False
    return lang not in ICU_CASE_LANGUAGES


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session."""
    confs = RUNTIME_CONFS
    if not _jvm_case_mapping(spark):
        confs = {**confs, ICU_CASE_CONF: "true"}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; defaults are acceptable
    _ship_package(spark)
    return spark


def sibling_session(spark: SparkSession, overrides: dict[str, str]) -> SparkSession:
    """A session that shares ``spark``'s SparkContext (and so its
    executors, cache and shipped package) but owns its SQLConf: every
    modifiable conf of ``spark`` copied, then ``overrides`` applied.
    ``newSession()`` alone inherits none of the ``prepare`` confs, which
    would silently change plans. The caller's session is never written,
    so queries planned meanwhile on other driver threads, streams or
    ``foreachBatch`` keep its settings — the Structured Streaming model
    of one cloned session per query.

    The iterative loops (components labels, PQ Lloyd, IVF refinement)
    run here with AQE off and a fan derived from their input
    (``loop_session``): their frames are id- or model-sized, and AQE
    turns every loop exchange into a separately scheduled stage-job
    over a near-empty shuffle, so a round pays several job floors
    instead of one. The corpus-sized work feeding a loop keeps the
    caller's AQE."""
    sib = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            sib.conf.set(k, v)
    for k, v in overrides.items():
        sib.conf.set(k, v)
    return sib


def loop_session(spark: SparkSession, fan: int) -> SparkSession:
    """The sibling an iterative loop runs in: AQE off, ``fan`` shuffle
    partitions (see ``sibling_session``)."""
    return sibling_session(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(fan),
        },
    )


def partial_agg_fan(df: DataFrame, block_rows: int) -> int:
    """Reduce fan for a loop whose exchanges aggregate map-side
    combined blocks of at most ``block_rows`` rows per input partition:
    ~2M rows per reduce partition, in [1, 2048], so a large scan still
    fans its partial-agg reduce out."""
    parts = df.rdd.getNumPartitions()
    return max(1, min(2048, parts * block_rows // 2_000_000 + 1))


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark``: no job runs, and
    the plan (statistics of checkpointed inputs included) is planned
    and executed under ``spark``'s conf. Moves loop inputs into a
    sibling session and loop results back to the caller's."""
    jvm = spark.sparkContext._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, spark)


def get_spark(app_name: str = "trisk-spark") -> SparkSession:
    """Build a tuned local session. Honors SPARK_GRAFT_CPUS (default 32)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/trisk-spark-warehouse")
        # Read-side parallelism: keep file splits small enough that sf0.1
        # parquet still fans out across cores; on a cluster the default
        # 128m is right, so only tests override this.
        .config("spark.sql.files.maxPartitionBytes", "32m")
    )
    spark = builder.getOrCreate()
    return prepare(spark)
