"""SparkSession factory tuned for the pipeline.

Mirrors the reference's manual physical tuning (stream threads, RocksDB caches,
pre-keying; see SURVEY.md §4) with the Spark-native equivalents: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow-vectorized
Python interop, and a shuffle-partition count sized to the local core count
rather than the 200 default.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _parse_mem_mb(mem: str) -> int:
    """Resolve a Spark-style memory string ('16g', '512m', '16384m',
    '2048k', bare MiB) to whole megabytes. A suffix-less number is MiB —
    matching Spark's own JavaUtils.byteStringAsMb, which spark.driver.memory
    goes through — so '4096' pins the same heap Spark allocates (round-4
    review find: treating it as bytes rejected valid Spark conf strings).
    Raises on unparseable input instead of silently guessing — a guessed
    -Xms larger than spark.driver.memory's -Xmx would refuse to start the
    JVM, and a smaller one silently drops the Xms=Xmx variance pin
    (round-3 ADVICE)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", mem.lower())
    if not m:
        raise ValueError(
            f"unparseable memory size {mem!r} for SPARK_GRAFT_DRIVER_MEM "
            "(expected e.g. '16g', '512m')"
        )
    n, unit = int(m.group(1)), m.group(2)
    scale_mb = {"": 1, "k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    mb = int(n * scale_mb[unit])
    if mb < 1:
        raise ValueError(f"memory size {mem!r} is below 1 MB")
    return mb


def _driver_java_opts(driver_mem: str) -> str:
    override = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if override is not None:
        return override
    # -Xms/-Xmn derive from the SAME resolved byte count spark.driver.memory
    # uses (get_spark passes the identical EFFECTIVE string — a caller's
    # extra_conf override included, round-4 fix: an env-derived -Xms16g
    # with a caller's spark.driver.memory=8g refused to start the JVM in
    # the local-cluster scaling bench), so the pin holds for any unit
    # suffix ('512m', '16384m', ...), not just plain gigabytes.
    heap_mb = _parse_mem_mb(driver_mem)
    young_mb = max(heap_mb // 3, 64)
    # -Xms pinned to -Xmx: this sandbox's hypervisor episodically collapses
    # page-fault bandwidth (measured 1.7 GB/s → 144 MB/s for minutes at a
    # time; a 48 GB AlwaysPreTouch took 7+ minutes mid-episode). With the
    # default growable heap, ParallelGC's adaptive sizing grows/shrinks the
    # committed heap across jobs and every regrowth re-faults pages — one
    # measured series ran 85/176/33/19 s for IDENTICAL back-to-back jobs.
    # Pinning Xms=Xmx faults each page once and never releases it: the same
    # job series stabilizes to ±12%. The heap itself is sized modest (16 GB
    # default, env-overridable) to keep the fault surface small; at bench
    # scale the pipeline never spills at 16 GB.
    return f"-XX:+UseParallelGC -Xmn{young_mb}m -Xms{heap_mb}m"


def get_spark(
    app_name: str = "hypertrace_ingester_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    On a real cluster the same configs apply; only ``master`` and memory
    sizing change (spark-submit supplies them). Local mode is a single JVM,
    so ``spark.driver.memory`` is the one memory knob.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # effective driver memory: a caller override (extra_conf) wins over the
    # env knob; the heap-pin java opts MUST derive from the same value
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-plan — coalesce small partitions, split skewed ones.
        # Replaces the reference's hand-rolled weighted group partitioner
        # (raw-spans-grouper/.../RawSpansGrouper.java:112-123).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / toPandas hop (input_hint: vectorized only).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Tag-key lowercasing (P3) can produce duplicate map keys; the
        # reference's HashMap.put is last-wins (JaegerSpanPreProcessor
        # .java:100-106). Spark's default policy EXCEPTIONs instead.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Broadcast threshold generous: every enrichment dim is a small table.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The parse stage's regex-heavy projections + 3 chained broadcast
        # joins generate whole-stage methods past the JVM JIT's ~8KB
        # compile limit; the default 65535 lets those run in the BYTECODE
        # INTERPRETER (measured 30x slower carrying a wide token payload).
        # 8000 makes Spark fall back to its vectorized-interpreted path for
        # oversized stages only — small stages keep codegen.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Dynamic-partition writes normally SORT each task's rows by the
        # partition column first — a full-payload local sort. With a small
        # bounded sink count, concurrent writers (one open file per sink)
        # skip that sort entirely: ~5% at local[32], and the win grows with
        # payload width and sink count on a real cluster.
        .config("spark.sql.maxConcurrentOutputFileWriters", "8")
        # Throughput GC: this is a batch engine — ParallelGC with a sized
        # young gen (1/3 of heap) beats G1's latency-oriented heuristics
        # for the allocation-heavy parse/enrich stages (measured +10%
        # scaling efficiency at 32 threads). Executors override via
        # spark.executor.extraJavaOptions on a cluster.
        .config("spark.driver.extraJavaOptions", _driver_java_opts(driver_mem))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

