"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters at 100TB+; locally we run
``local[N]``.  All tuning is config-level (no custom Catalyst rules):
AQE for runtime re-planning and skew-join splitting, Arrow for the one
pandas-UDF kernel, partition counts sized by parallelism.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


LOCAL_AUTO = "local-auto"


def build_session(
    app_name: str = "record-linkage-ldu-spark",
    master: str | None = LOCAL_AUTO,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores).
    Pass ``master=None`` to leave the master UNSET so that
    ``spark-submit`` (cluster deploy) supplies it — the engine never
    overrides a cluster manager.  ``shuffle_partitions`` defaults to
    2x parallelism — small enough to avoid tiny-task overhead locally,
    and AQE coalesces further at runtime; on a real cluster pass
    cores*2..3 (or rely on AQE + the submit conf).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master == LOCAL_AUTO:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            n = _master_parallelism(master or "", cpus)
            shuffle_partitions = max(2 * n, 8)

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    # compiled similarity kernels (Ratcliff-Obershelp / Jaro-Winkler as
    # Java UDFs — ~50x the Arrow-UDF fallback); spark.jars distributes
    # the jar to executors on a real cluster too
    kernels_jar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "jvm", "kernels.jar"
    )
    if os.path.exists(kernels_jar):
        builder = builder.config("spark.jars", kernels_jar)
    builder = (
        builder
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transport for the pandas-UDF similarity kernel; batches
        # kept moderate because pair rows carry wide strings.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast the small lookup/dimension sides aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spill-aware input sizing: 128MB scan splits x the ~2-4x
        # decode/normalize expansion of the span payload stay well
        # inside a multi-GB executor heap at any SF (pinned explicitly
        # so a deploy-side conf can't silently produce 1GB+ splits);
        # shuffle-side sizing is AQE's advisory target, and the
        # CPU-heavy pair stage overrides byte sizing with explicit
        # widths (LinkageConfig.score_partitions_per_core).
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _master_parallelism(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    if master.startswith("local-cluster["):
        # local-cluster[n,cores,mem] — n separate executor JVMs
        try:
            n, cores, _ = master[len("local-cluster[") : -1].split(",")
            return int(n) * int(cores)
        except ValueError:
            return default
    return default


# built_once's cache is process-wide like the gateway it belongs to;
# the lock makes the gateway check and the build one step (reentrant:
# a build may call built_once for its own parts)
_BUILT: dict = {}
_BUILT_GATEWAY: list = [None]
_BUILT_LOCK = threading.RLock()


def built_once(key, build):
    """``build()`` once per live py4j gateway, then the cached value.

    For Column trees and JVM literals a plan rebuilds on every call:
    a Column is an unresolved expression tree, so one built tree binds
    to any DataFrame of any session on the same JVM, while building it
    costs a py4j round-trip per node (~700 for one stopword filter).
    ``key`` must name everything the build reads, and callers must not
    mutate the value.  A new gateway (a restarted JVM) starts from an
    empty cache, so JVM objects of a shut-down gateway are never handed
    to a live one."""
    from pyspark import SparkContext

    with _BUILT_LOCK:
        gateway = SparkContext._gateway
        if _BUILT_GATEWAY[0] is not gateway:
            _BUILT.clear()
            _BUILT_GATEWAY[0] = gateway
        if key not in _BUILT:
            _BUILT[key] = build()
        return _BUILT[key]


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes on, the
    default), for expressions built as one ``F.expr`` string: a single
    py4j round-trip where the same tree built Column by Column costs
    several per node."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
