"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same config block is what we'd
ship to a 1000-executor cluster (AQE on, skew-join handling on, Arrow
for the pandas-UDF kernels, UTC so timestamp semantics match the DuckDB
oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pl-fuzzy-frame-match-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when the per-partition
        # build side fits (guide §3.1): round-12 in-session toggle A/B —
        # graph_kcore 5.07 -> 4.09 s, dedup_clusters_minhash 3.32 ->
        # 2.66 s, fuzzy_join_lev 9.64 -> 7.32 s median, no query worse
        # beyond noise. Safe at scale: AQE advisory partition sizing
        # bounds the per-partition build, and the 64 MB local-map
        # threshold only rewrites a sort-merge join when every
        # post-shuffle partition is provably below it.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64MB",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches default to 10k rows; per-batch Python fixed
        # cost then dominates scan-shaped pandas UDFs (measured: the
        # Bloom probe over 60M longs drops 42s -> 13s at 256k rows).
        # 64k balances that against per-thread batch memory for wide
        # document rows (64k x ~1KB text = 64MB per in-flight batch).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode driver == the only JVM: all 32 task threads share
        # this heap. Sized to the measured working set, NOT "as big as
        # the box": this sandbox supplies never-touched pages at only
        # ~70-250 MB/s (Firecracker-class lazy host paging, measured
        # round 12 — /proc sampling showed 0% user + 10-28% sys during
        # multi-GB heap growth bursts, turning 5 s queries into 70-100 s
        # stalls). A 48g ceiling let G1 grow RSS past 13 GB instead of
        # collecting; pinning -Xms to a bounded heap keeps the JVM
        # reusing already-faulted pages — graph_triangles trials went
        # from [5.3, 82.8, 102.3, 72.4] to a stable 5.5-8.9 s band
        # (OPTIMIZATION_r12.md). Override via SPARK_GRAFT_DRIVER_MEM
        # for memory-heavier ad-hoc work.
        #
        # NewRatio=3 fixes G1's young generation at a quarter of the
        # heap. Left adaptive, G1 starts eden small and widens it GC by
        # GC, so a process's touched heap (its RSS) depends on how many
        # collections it has seen, i.e. on timing: the fuzzy join's
        # fused scans allocate little on the heap, and fuzzbench's
        # peak_rss_mb spread by 0.4-0.9 GB (quartile range) from run to
        # run. With a fixed young generation the footprint reaches its
        # steady size within the first collections (4g heap, 4-core
        # host, 10 seeds each: exact_names 2.83-2.98 GB, ann_names
        # 2.72-2.78 GB, join times within noise of the adaptive runs).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g") + " -XX:NewRatio=3",
        )
        .config("spark.sql.crossJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 8,
    target_partition_mb: int = 256,
    input_tb: float = 100.0,
) -> dict:
    """Recommended Spark conf for the REAL deployment target (a
    1000-executor cluster over ~100 TB) as a plain dict — pass to
    ``SparkSession.builder.config(map=...)`` or a spark-submit conf
    file. Local testing uses :func:`get_spark`; this documents how the
    same engine is sized when the cluster is real.

    Rationale per knob:
    - ``shuffle.partitions``: the larger of (~2 tasks per core, so
      stragglers overlap and AQE can coalesce back down) and
      (total input / target partition size, so a full-input shuffle
      lands at ~target_partition_mb per partition — far below the
      2 GB per-partition block limit). At the 100 TB default the
      data term dominates: 100 TB / 256 MB ~= 409600 partitions;
      cores*2 alone (16000) would mean ~6.4 GB per shuffle
      partition, over the block limit.
    - ``files.maxPartitionBytes``: scan splits sized to the shuffle
      target so the map side neither explodes the task count nor
      builds multi-GB partitions that spill.
    - AQE + skewJoin: runtime re-planning is the first line of defense
      for skewed keys (banding buckets, hot shingles) before the
      explicit salting operators (`operators/skew.py`) are needed.
    - ``autoBroadcastJoinThreshold`` stays DEFAULT (10 MB-class):
      operator code broadcasts bounded frames explicitly and leaves
      SF-proportional sides to AQE's runtime size check.
    - ``sql.parquet.aggregatePushdown``: count/min/max satisfied from
      parquet footers where possible — free for validation audits.
    """
    cores = executors * cores_per_executor
    # partitions needed so a full-input shuffle hits ~target MB each:
    # 100 TB / 256 MB -> ~409600 (ADVICE r3: the old formula had a
    # stray /64 and used cores*2 unconditionally -> 6.4 GB partitions)
    data_partitions = int(input_tb * 1024 * 1024 / target_partition_mb)
    shuffle_partitions = max(cores * 2, data_partitions)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        # shuffled-hash preference (guide §3.1, measured round 12 —
        # see get_spark): per-partition builds are bounded by the
        # advisory partition size above, and the AQE rewrite
        # threshold stays well under it so the runtime only converts
        # sort-merge joins whose partitions provably fit in memory
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.shuffle.file.buffer": "1m",
        "spark.reducer.maxSizeInFlight": "96m",
        # headroom note, not a conf: fanout stages may want up to
        # {shuffle_partitions} partitions via explicit repartition
        # (max of the cores term and the data-size term)
        "_advisory.fanout_partitions": str(shuffle_partitions),
    }
