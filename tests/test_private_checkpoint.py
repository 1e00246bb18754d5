"""Checkpoint-manager rule: a stream whose checkpoint is private to the
call writes it through FileSystemBasedCheckpointFileManager (a local
rename is one rename(2)); a durable checkpoint shared across runs keeps
Spark's default FileContextBasedCheckpointFileManager, whose
no-overwrite rename detects a second writer.

Read from the started queries themselves — the file manager of their
offset log and commit log — not from the conf the helper sets. The
session conf must read the same afterwards, also when the stream raises.
"""
from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.readwriter import DataStreamWriter

from dig_aggregator_core_spark.plans.ledger import RunsLedger
from dig_aggregator_core_spark.streaming import stateful
from dig_aggregator_core_spark.streaming.incremental import run_incremental

_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS = "FileSystemBasedCheckpointFileManager"
_FC = "FileContextBasedCheckpointFileManager"


@pytest.fixture
def started(monkeypatch):
    """Every query started while the test runs."""
    queries = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return queries


def _managers(queries) -> set:
    """Short class names of the offset-log and commit-log file managers
    of every started query."""
    out = set()
    for q in queries:
        sq = q._jsq.streamingQuery()
        for log in (sq.offsetLog(), sq.commitLog()):
            out.add(log.fileManager().getClass().getSimpleName())
    return out


def _conf(spark) -> tuple:
    return (
        spark.conf.get(_KEY, None),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _cdc_stream(spark, sf_dir):
    return stateful._events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )


def test_run_to_memory_stream_uses_filesystem_manager(spark, sf_dir, started):
    before = _conf(spark)
    out = stateful.stream_dedup_watermark(spark, sf_dir)
    assert out.count() > 0
    assert len(started) == 1
    assert _managers(started) == {_FS}
    assert _conf(spark) == before


def test_cdc_apply_temp_checkpoint_uses_filesystem_manager(
    spark, sf_dir, started
):
    before = _conf(spark)
    final = stateful._cdc_apply(spark, _cdc_stream(spark, sf_dir))
    assert final is not None and final.count() > 0
    assert len(started) == 1
    assert _managers(started) == {_FS}
    assert _conf(spark) == before


def test_cdc_apply_durable_checkpoint_keeps_default(
    spark, sf_dir, started, tmp_path
):
    before = _conf(spark)
    ckpt = str(tmp_path / "chk")
    final = stateful._cdc_apply(spark, _cdc_stream(spark, sf_dir), ckpt)
    assert final is not None and final.count() > 0
    assert os.path.isdir(os.path.join(ckpt, "offsets"))
    assert _managers(started) == {_FC}
    assert _conf(spark) == before


def test_incremental_runner_keeps_default(spark, started, tmp_path):
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], schema).coalesce(1).write.parquet(src)
    ledger = RunsLedger(spark, str(tmp_path / "runs"), "proj", "meth")
    ledger.migrate()
    before = _conf(spark)
    epochs = run_incremental(
        spark,
        source_dir=src,
        schema=schema,
        transform=lambda df: df.withColumn("k2", F.col("k") * 2),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        ledger=ledger,
        stage="s",
        output_name="o",
    )
    assert epochs == 1
    assert _managers(started) == {_FC}
    assert _conf(spark) == before


@pytest.mark.parametrize("preset", [False, True], ids=["unset", "preset"])
def test_conf_restored_when_stream_raises(spark, sf_dir, started, preset):
    if preset:
        # a caller's own setting survives: the default manager, by name
        spark.conf.set(
            _KEY,
            "org.apache.spark.sql.execution.streaming.checkpointing."
            + _FC,
        )
    try:
        before = _conf(spark)

        def boom(batch, epoch_id):
            raise RuntimeError("batch failed")

        writer = _cdc_stream(spark, sf_dir).writeStream.foreachBatch(boom)
        with pytest.raises(StreamingQueryException):
            stateful._run_private(spark, writer, shuffle_partitions=1)
        assert _managers(started) == {_FS}
        assert _conf(spark) == before
    finally:
        spark.conf.unset(_KEY)
