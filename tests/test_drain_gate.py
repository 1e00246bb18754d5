"""Size-gated drained-result handoff (VERDICT r11 task 2).

The memory sink's view is always dropped (the r11 driver-OOM fix), but
the unconditional localCheckpoint that replaced it cost a measured 1.9x
on queries whose drained result is tiny. _drain_sink now hands results
at or under the row AND byte bounds back as the sink's own DataFrame,
whose plan scans the sink's rows in the JVM (LocalTableScan: no job to
build it, no Python-RDD scan to run it), and checkpoints only above
them. Either leg must produce identical rows; which leg fired is
asserted via _DRAIN_STATS, not inferred.
"""
from __future__ import annotations

from dig_aggregator_core_spark.streaming import stateful
from dig_aggregator_core_spark.streaming.stateful import (
    stream_dedup_watermark,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_small_drain_stays_local(spark, sf_dir):
    before = dict(stateful._DRAIN_STATS)
    got = stream_dedup_watermark(spark, sf_dir)
    assert stateful._DRAIN_STATS["local"] == before["local"] + 1
    assert stateful._DRAIN_STATS["checkpoint"] == before["checkpoint"]
    # in-JVM handoff: nothing pinned in the block manager (the
    # checkpoint leg would persist RDD blocks), and the plan is a local
    # scan of the sink's rows — not a Python-RDD scan, which starts
    # Python workers every time the result runs
    assert got.storageLevel.useMemory is False
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert len(_rows(got)) > 0


def test_over_bound_drain_checkpoints_with_equal_rows(
    spark, sf_dir, monkeypatch
):
    baseline = _rows(stream_dedup_watermark(spark, sf_dir))
    monkeypatch.setattr(stateful, "_DRAIN_LOCAL_MAX_ROWS", 0)
    before = dict(stateful._DRAIN_STATS)
    got = stream_dedup_watermark(spark, sf_dir)
    assert stateful._DRAIN_STATS["checkpoint"] == before["checkpoint"] + 1
    assert _rows(got) == baseline


def test_wide_rows_ride_the_byte_bound(spark, sf_dir, monkeypatch):
    """Row count under the row bound but bytes over the byte bound must
    still checkpoint (wide document-text results must not pin the
    driver)."""
    baseline = _rows(stream_dedup_watermark(spark, sf_dir))
    monkeypatch.setattr(stateful, "_DRAIN_LOCAL_MAX_BYTES", 1)
    before = dict(stateful._DRAIN_STATS)
    got = stream_dedup_watermark(spark, sf_dir)
    assert stateful._DRAIN_STATS["checkpoint"] == before["checkpoint"] + 1
    assert _rows(got) == baseline
