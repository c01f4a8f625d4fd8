"""SparkSession construction and runtime configuration.

The driver-generated parquet stores TIMESTAMP(NANOS) which Spark cannot read
natively, so every session that touches the testdata needs
``spark.sql.legacy.parquet.nanosAsLong=true`` — a *runtime* SQL conf we set
defensively in the loader path too (the correctness driver supplies its own
session). All time arithmetic in query outputs is done on integer epoch
values so Spark and the DuckDB oracle agree bit-for-bit regardless of
timezone or timestamp-precision differences.

Scale posture (tuned for a real cluster even though tests run local[N]):
AQE on (runtime coalescing, skew-join splitting), broadcast threshold left
to Spark's default, shuffle partitions sized from the local core budget.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set at runtime on any session.
RUNTIME_CONFS: dict[str, str] = {
    # testdata parquet uses TIMESTAMP(NANOS); read them as epoch-nano longs
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic time semantics across engines
    "spark.sql.session.timeZone": "UTC",
    # adaptive execution: runtime partition coalescing + skew-join handling
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # arrow for any pandas-UDF path
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # surface sorted-bucket ordering to the planner (bucketed_colocated_join
    # writes one file per bucket, making the sort elimination sound). Set
    # here at construction rather than mutated mid-run by the layout entry
    # (ADVICE r6) — it only affects bucketed scans, and the only bucketed
    # tables in this engine are the layout tier's own.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def _runtime_confs() -> dict[str, str]:
    confs = dict(RUNTIME_CONFS)
    # size shuffles to the local core budget (Spark's 200 default makes
    # 200-task micro-batches on small replays); AQE still coalesces further
    confs["spark.sql.shuffle.partitions"] = str(
        max(int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))), 8)
    )
    return confs


# runtime-conf marker: set the first time configure_runtime touches a
# session, so repeat calls can tell "stock 200 default" from "a caller
# deliberately set 200 after we configured" (ADVICE r3: value-matching
# alone stomped exactly that case)
_CONFIGURED_MARKER = "spark.nexmarkVanillaFlinkSpark.runtimeConfigured"


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours).

    ``spark.sql.shuffle.partitions`` is only resized on the FIRST call per
    session, and then only when it still carries Spark's stock 200 default:
    callers that tuned it (bench.py's SF-sized value, a test, a per-query
    pin) must keep their choice — this function runs on EVERY
    streaming-source construction, and an unconditional reset silently
    stomped the session tuning mid-sweep (found in r3: every bench
    streaming entry reset the remaining sweep, and the stream-stream join
    replays ran 3× slower at the reset value — 8 state partitions: 2.6 s,
    32: 6.3 s on the QX replay at sf0.1). After the first call a marker
    conf records that this session was configured, so a caller that LATER
    deliberately sets 200 is never mistaken for the stock default.
    Residual edge (documented): a session tuned to exactly 200 BEFORE our
    first touch is indistinguishable from the stock default and gets
    resized once — such a caller should set the value after construction
    or pass ``shuffle_partitions`` explicitly."""
    try:
        already = spark.conf.get(_CONFIGURED_MARKER, "0") == "1"
    except Exception:
        already = False
    for key, value in _runtime_confs().items():
        if key == "spark.sql.shuffle.partitions":
            try:
                if already or spark.conf.get(key) != "200":
                    continue
            except Exception:
                pass
        try:
            spark.conf.set(key, value)
        except Exception:
            # immutable in this session build; trust the session default
            pass
    try:
        spark.conf.set(_CONFIGURED_MARKER, "1")
    except Exception:
        pass
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_session(
    app_name: str = "nexmark-vanilla-flink-spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized from SPARK_GRAFT_CPUS.

    On a real cluster the same code runs unchanged: only master/partition
    counts change, and those come from the environment.
    """
    cores = default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(cores, 8)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    if master.startswith("local"):
        # local-mode I/O, irrelevant on a real cluster (checkpoints live on
        # HDFS/S3, not file://), so gated on a local master:
        # - RawLocalFileSystem skips Hadoop's .crc sidecar files for file://
        #   — every write otherwise pays a second ChecksumFileSystem write.
        #   Measured on the bounded-replay floor: 0.59 -> 0.38 s; parquet
        #   carries its own page checksums either way.
        # - Checkpoints go through the FileSystem API, not Spark's default
        #   FileContext manager. This pyspark ships without libhadoop
        #   (NativeIO unavailable), so Hadoop's local file ops fall back to
        #   shell commands: under FileContext each rename runs `readlink`
        #   on source and destination and each create runs `chmod` — 10
        #   process spawns and ~22 ms per checkpoint file, ~197 spawns per
        #   q5 micro-batch (4-core VM). FileSystem.create +
        #   RawLocalFileSystem.rename (a plain rename(2)) costs 2 spawns and
        #   ~7 ms per file, ~45 per batch; summed state commit time per q5
        #   batch fell ~340 -> ~35 ms. Offset/commit logs keep their
        #   no-overwrite check (both managers stat the destination before
        #   renaming on a local fs), and Spark's ChecksumCheckpointFileManager
        #   wraps either manager, so checkpoint checksum files are still
        #   written and verified.
        builder = builder.config(
            "spark.hadoop.fs.file.impl",
            "org.apache.hadoop.fs.RawLocalFileSystem",
        ).config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    configure_runtime(spark)
    if shuffle_partitions is not None:
        # explicit caller choice wins over the runtime default
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
