"""SparkSession factory tuned for this engine.

Defaults target correctness-vs-DuckDB parity (UTC session timezone,
Arrow transfers) and scale hygiene (AQE, partition coalescing, skew
join handling). On a real cluster the same settings apply; only
``master`` / memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from frinesis_spark.tuning import fine_split_defaults


def get_spark(app_name: str = "frinesis_spark") -> SparkSession:
    """Build (or reuse) the SparkSession.

    local[`SPARK_GRAFT_CPUS`] (default local[*]) for tests/bench; the
    config block is cluster-safe — nothing here is local-mode-only.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or (
        cpus if cpus != "*" else str(os.cpu_count() or 8)
    )
    fine_floor, fine_open = fine_split_defaults()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Right-size shuffles for the local test box; AQE coalesces
        # further at runtime, and on a 1000-executor cluster this would
        # be set to ~2-3x total cores instead.
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor (r15, guide §2.2): the default 1 MiB
        # minPartitionSize is a bytes-first guard that assumes shuffle
        # overhead dominates — but this engine's evaluator-dense stages
        # (trailing-frame quantiles, hash graders, distance re-ranks)
        # carry heavy per-ROW cost on few bytes, and the 1 MiB floor
        # coalesced them to 1-3 tasks, serializing CPU-bound work
        # (measured: window_rolling_quantile's final stage ran 2 tasks
        # on 32 cores; 1.9 s → 1.0 s with the lower floor). 64 KiB
        # keeps AQE's parallelism-first targeting effective on small
        # intermediates while still merging genuinely tiny partitions.
        # Scale note: with parallelismFirst (default on) the coalescing
        # target is max(total/defaultParallelism, THIS), so on cluster-
        # sized shuffles (total/cores ≫ 1 MiB) the floor never binds —
        # it only changes sub-(cores × 1 MiB) intermediates, which are
        # exactly the stages where task overhead is cheaper than idle
        # cores. Parameterised for deployments that want it back up.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            fine_floor,
        )
        # Scan split floor (r15, guide §6): maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)),
        # so the default 4 MiB open cost floors every split at 4 MiB —
        # a sub-128 MiB table can never scan with more than ~size/4MiB
        # tasks, serializing the scan-fused stages (filter, project,
        # partial agg, ArrowEvalPython) of small inputs. 1 MiB is the
        # measured sweet spot (interleaved A/B over both the scan-dense
        # winners and the multi-stage sub-second tail): the first cut
        # to 128 KiB over-split the small joins/multi-stage queries
        # into ~300 KiB tasks whose scheduling overhead exceeded their
        # scan work (sql_tpch_q15/q2/q11, merge_upsert regressed ~2x),
        # while 1 MiB keeps every split-staging win (sql_tpch_q1,
        # udf_python, dedup graders) AND recovers the tail. Only small
        # tables/splits are affected: above ~cores x 4 MiB,
        # bytes/minPartitionNum dominates and the floor never binds.
        # Pairs with the row-group relayout in
        # catalog._split_staged_path (a split without a row-group
        # boundary inside it is still one task's work).
        .config("spark.sql.files.openCostInBytes", fine_open)
        # Deterministic timestamp semantics vs the DuckDB oracle
        # (DuckDB timestamps are UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches amortize the Python hop for pandas UDFs
        # and mapInPandas (default 10k → many tiny round-trips).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Off-heap streaming state (r14): the default HDFS-backed provider
    # keeps every state version in the JVM heap — measured at the GC
    # wall at 100M unbounded-dedup keys in one local JVM (sf100
    # decade; BENCH_scaling_sf100.json). RocksDB is the documented OSS
    # remedy and what a production deployment at state volume runs;
    # env-gated so default-config measurements stay comparable across
    # rounds, and query RESULTS are identical either way.
    if os.environ.get("SPARK_GRAFT_STATESTORE") == "rocksdb":
        builder = (
            builder.config(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            # Changelog checkpointing (r16): commit the per-batch
            # CHANGELOG instead of a full snapshot zip per store per
            # batch — the documented production pairing for RocksDB
            # state at scale; snapshots still happen, just async and
            # less often. Exactly-once and watermark semantics are
            # unchanged (the checkpoint contract is the same).
            .config(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "true",
            )
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
