"""SparkSession factory with the engine's required settings.

Pins the session timezone to UTC (the reference's datetime semantics assume
it, tests/spark/conftest.py:174), enables AQE + Arrow, and sizes shuffle
partitions to the core count rather than the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable

from pyspark.sql import SparkSession


class SessionCache:
    """Bounded cache of objects that live and die with one Spark application,
    such as broadcasts.

    Entries are keyed on ``sc.applicationId`` as well as the caller's key: a
    restarted SparkContext reuses the py4j gateway but none of the old
    application's objects, so a miss first drops every other application's
    entries (nothing is left to release). A hit makes its entry the newest;
    once ``cap`` entries are held, the least recently used one is evicted and
    handed to ``release``.
    """

    def __init__(self, cap: int, release: Callable[[object], None]):
        self.cap = cap
        self.release = release
        self.entries: dict[tuple[str, Hashable], object] = {}

    def get(self, sc, key: Hashable, make: Callable[[], object]):
        full = (sc.applicationId, key)
        if full in self.entries:
            value = self.entries[full] = self.entries.pop(full)
            return value
        for stale in [k for k in self.entries if k[0] != full[0]]:
            del self.entries[stale]
        while len(self.entries) >= self.cap:
            old = self.entries.pop(next(iter(self.entries)))
            try:
                self.release(old)
            except Exception:
                pass
        value = self.entries[full] = make()
        return value


def engine_conf() -> dict[str, str]:
    """The engine's REQUIRED semantic configs — every session (local factory
    below, spark-submit jobs, notebooks) must apply these.

    - UTC session timezone: the reference's datetime semantics assume it
      (tests/spark/conftest.py:174).
    - Non-ANSI: a data-quality engine must keep evaluating in the presence of
      bad data — classic semantics turn overflow / bad casts / div-by-zero
      into NULLs the rule algebra counts as failures or skips, instead of
      aborting a 10^12-row job on one malformed row (ANSI is the default on
      Spark 4.x clusters, so this must be set explicitly).
    - Arrow on, with modest batches: pandas-UDF workers reuse their malloc
      arena between batches instead of mmap-ing fresh pages per batch.
      Measured on this host: 2048-row batches are ~3x faster than 10k AND
      restore near-linear 2->8 core scaling (page faults, not CPU, are the
      contended resource).
    - AQE + skew-join: runtime re-plan / skew splitting at cluster scale.
    """
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # Scan split sizing (r6, measured): the defaults (128 MB split, 4 MB
        # open cost) read the 217 MB scaling table as ~10 partitions — at 8
        # cores that is one full task wave plus a 2-task straggler wave (~20%
        # idle; 2->8 pipeline efficiency 0.72), and an 11 MB single-file
        # table scans as ~3 partitions on a 32-core session. 16 MB splits /
        # 128 KB open cost give every leg 2+ task waves (8-core scaling leg
        # 12.1 -> 10.1 s; pair efficiency 0.72 -> 0.87) without changing the
        # 32-core headline scan (still 32 partitions; bytes-per-core binds).
        # SCALE NOTE: these are local-mode values — on a real cluster with
        # thousands of scan partitions, larger splits (256 MB - 1 GB) cut
        # task-scheduling and shuffle-block overhead (guide §2.2/§6); both
        # knobs are env-overridable for cluster deploys.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "16777216"
        ),
        "spark.sql.files.openCostInBytes": os.environ.get(
            "SPARK_GRAFT_OPEN_COST_BYTES", "131072"
        ),
    }


def get_spark(
    cores: int | None = None,
    app_name: str = "gchq_data_quality_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            ("-Duser.timezone=UTC " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")).strip(),
        )
        .config(
            "spark.executor.extraJavaOptions",
            ("-Duser.timezone=UTC " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")).strip(),
        )
    )
    for key, value in engine_conf().items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
