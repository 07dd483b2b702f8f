"""SparkSession factory tuned for the warehouse workload.

Local testing uses local[N]; the same configs are the ones that matter
on a 1000-executor cluster: AQE for runtime re-planning (skew joins,
partition coalescing), a shuffle-partition count sized to the data,
and Arrow for any Pandas-UDF exchange.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def get_spark(app_name: str = "btdw-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime partition coalescing + skew-join splitting — the
        # safety net that keeps the same plan healthy at 1000x data.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory size when coalescing (parallelismFirst
        # =false): the default "max parallelism first" floor keeps
        # dozens of sub-MB reduce tasks alive on small shuffles, and
        # the r15 A/B measured the suite ~7% faster with real sizing
        # (guide §2.2 — partitions sized by data, AQE coalescing).
        # Advisory default 16m locally (A/B over 64m/16m/8m; the 8-60
        # MB aggregate shuffles keep a few parallel reducers while
        # tiny shuffles still collapse to one task); production sets
        # BTDW_AQE_ADVISORY_BYTES=256m per the guide's §9 baseline.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("BTDW_AQE_ADVISORY_BYTES", "16m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        # deterministic wall-clock semantics across engines
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for Pandas-UDF paths (multimodal, ANN rerank).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims in this schema are tiny relative to facts; let Spark
        # auto-broadcast generously (we also broadcast() explicitly).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("BTDW_DRIVER_MEM", "8g"))
        # managed (bucketed) tables land outside the repo; static conf,
        # so it must be set at session build time
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("BTDW_WAREHOUSE_DIR", "/tmp/btdw-spark-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # lower() through UTF8String's ASCII fast path and the JVM's
        # Unicode mapping, not ICU: the first ICU case mapping in a JVM
        # builds CollationAwareUTF8String's title-case table (ICU
        # toTitleCase over all 1,114,112 code points).  Measured at 4
        # cores, sf0.01: perfbench corpus_curation's vocab_growth, the
        # first lower() of its pass, 2.01 → 1.04 s exec (traced), and
        # stream_ingest run_cpu_s 33.3 → 29.7 s (median of 8 pairs).
        # The JVM route reads the default locale (a tr-TR JVM lowers
        # 'I' to a dotless 'ı'), so the driver JVM, which runs the
        # local executors too, is pinned to en-US.  defaultJavaOptions
        # comes before extraJavaOptions on the JVM's command line, so a
        # user's extraJavaOptions still applies (and wins on a clash).
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.driver.defaultJavaOptions", "-Duser.language=en -Duser.country=US")
    )
    return builder.getOrCreate()


# session -> {key: value}, weakly keyed so the memo itself keeps no
# session alive (a memoized DataFrame still references its session).
_BUILD_STATS = weakref.WeakKeyDictionary()


def build_stat(spark: SparkSession, key, compute):
    """Plan-build memo: ``compute()`` once per (session, key).

    Plan builds read source frames and split/row counts, and bake
    model-sized stats into plans as literals (surrogate-key bucket
    offsets, kmeans/PQ codebooks, score histograms); a rebuild of the
    same plan in the same session reuses them and launches no job.

    Contract: only for values derived from IMMUTABLE inputs (the
    read-only testdata), never from a frame whose contents can change
    between builds; ``key`` starts with the input's ``sf_dir`` and
    holds every parameter the value depends on.  A ``None`` result is
    returned but not stored, so a caller can decline to memoize (e.g.
    an empty snapshot).  Per session, because a DataFrame belongs to
    its session."""
    memo = _BUILD_STATS.setdefault(spark, {})
    if key in memo:
        return memo[key]
    value = compute()
    if value is not None:
        memo[key] = value
    return value
