"""State-partition rule: a stream runs on min(family cap,
defaultParallelism) state partitions.

Read from what the stream really ran with — the numShufflePartitions of
its progress stateOperators, delivered to a StreamingQueryListener —
not from the conf _run_to_memory sets. Past the task slots each extra
partition is one more task wave; under them each family keeps its cap.
"""
from __future__ import annotations

import json
import time

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from dig_aggregator_core_spark.streaming import stateful, windows


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.progress = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def _state_partitions(spark, op, sf_dir):
    """The set of numShufflePartitions over every state operator of
    every micro-batch `op` ran."""
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        op(spark, sf_dir)
        # listener events arrive on the bus after awaitTermination
        # returns; the terminated event follows the query's last progress
        deadline = time.monotonic() + 30
        while listener.terminated < 1 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    assert listener.terminated == 1
    return {
        s["numShufflePartitions"]
        for p in listener.progress
        for s in p["stateOperators"]
    }


@pytest.mark.parametrize(
    "op, cap",
    [
        (stateful.stream_stateful_user_stats, stateful._FOLD_STATE_PARTS),
        (stateful.stream_dedup_watermark, stateful._JOIN_STATE_PARTS),
        (windows.stream_tumbling_availablenow, stateful._JOIN_STATE_PARTS),
    ],
    ids=["pandas_fold", "jvm_dedup", "jvm_window"],
)
def test_state_partitions_capped_at_task_slots(spark, sf_dir, op, cap):
    want = min(cap, spark.sparkContext.defaultParallelism)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert _state_partitions(spark, op, sf_dir) == {want}
    # the pinned count is scoped to the stream
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
