"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the
same code scales to a large cluster: AQE handles runtime re-planning and
skew joins, shuffle partitions default small locally but should be sized
to ~128 MB per partition at cluster scale, and Arrow is enabled so any
pandas-UDF path is batch-vectorized.

The driver JVM starts with a throttled C2 (tier-4) compiler
(``JIT_FLAGS``): one C2 thread, and a steeper load feedback. HotSpot
multiplies the tier-4 thresholds by 1 + queued C2 methods / (C2 threads
x ``Tier4LoadFeedback``). With one thread and a feedback of 1, ten
queued methods raise them 11-fold, where HotSpot's own choice on 4 CPUs
(two threads, feedback 3) raises them 2.7-fold. A dashboard request and
a streaming micro-batch run in a JVM a minute old: at HotSpot's
defaults, compiler threads were about half of its CPU in both perfbench
windows, most of it C2 (84% of JIT compile time, JFR) on lukewarm
Catalyst, Janino, closure-cleaner and serializer code. When the queue is
empty the thresholds are HotSpot's defaults, so code that stays hot
still reaches C2.

Rejected, with numbers in CHANGES.md: static tier-4 thresholds
(``Tier4InvocationThreshold`` and its two siblings at 3x, 10x and 30x)
cut the perfbench CPU by 14-34%, but their ``bench.py`` sf0.1 runs read
207-226 s warm against 197-206 s in three runs at the defaults (a
fourth read 221 s), the gap opening after the JVM's first minutes;
exempting the data path (generated code,
``sql.execution``, ``unsafe``, parquet) with a per-method
``CompileThresholdScaling`` read 225 s. C1 only
(``-XX:TieredStopAtLevel=1``) runs warm sf0.1 queries 2-3x slower;
``-XX:-DontCompileHugeMethods`` and
``spark.sql.codegen.hugeMethodLimit=8000`` were a wash or worse.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One C1 and one C2 compiler thread (HotSpot picks 1 + 2 on 4 CPUs and
# more on bigger boxes), and a tier-4 load feedback of 1 (default 3).
JIT_FLAGS = "-XX:CICompilerCount=2 -XX:Tier4LoadFeedback=1"


def get_spark(
    app_name: str = "hrfco-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are safe for a 1000-executor cluster as well as local[N]:
    AQE on (coalesces small shuffle partitions, rewrites skew joins),
    broadcast threshold generous enough to broadcast dimension tables,
    Arrow on for any pandas interop, and the driver JVM's C2 throttled
    while its queue is long. ``JIT_FLAGS`` ride on
    ``spark.driver.defaultJavaOptions``: a caller's
    ``spark.driver.extraJavaOptions`` reaches the JVM next to them, but a
    ``spark.driver.defaultJavaOptions`` from an administrator's
    ``spark-defaults.conf`` is replaced.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # sources/wire_datasource.py pushes station filters into the reader
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Floor on scan splits: small inputs (single sub-128MB parquet
        # file) would otherwise scan in ONE task, idling every other
        # core. At cluster scale files outnumber cores and this floor is
        # inert; locally it saturates local[N] on the driver testdata.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions", JIT_FLAGS)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
