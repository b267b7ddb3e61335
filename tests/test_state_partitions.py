"""The session's state-partition rule (session.state_partitions) at every
place a streaming query starts: the count a new query's state operators
run with, the session conf left behind, and a restart from an existing
checkpoint, which keeps the count recorded there."""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pytest

from flink_notebooks_spark.session import state_partitions

CONF = "spark.sql.shuffle.partitions"
SENTINEL = "7"  # a batch value no start site would pick by accident


@pytest.fixture()
def session_conf(spark):
    """Pin the session's batch shuffle count to SENTINEL for the test and
    put the original back afterwards."""
    prev = spark.conf.get(CONF)
    spark.conf.set(CONF, SENTINEL)
    yield
    spark.conf.set(CONF, prev)


@pytest.fixture()
def started(monkeypatch):
    """Every StreamingQuery started during the test, in start order."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    queries = []
    orig = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = orig(self, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return queries


def _state_partition_counts(q) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p.get("stateOperators") or []
    }


def _ckpt_partitions(ckpt: str) -> int:
    """The shuffle-partition count recorded in a checkpoint's first offset
    log entry — the value Spark restores on restart."""
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"][CONF])


def _write(path, rows):
    pd.DataFrame(rows, columns=["k", "v"]).astype("int64").to_parquet(path)


@pytest.fixture()
def keyed_dir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    _write(d / "a.parquet", [(1, 10), (2, 20), (1, 11), (3, 30)])
    return str(d)


def _keyed_stream(spark, path):
    return spark.readStream.schema("k bigint, v bigint").parquet(path)


def test_rule_is_one_wave_at_most_and_data_sized(spark):
    par = spark.sparkContext.defaultParallelism
    assert state_partitions(spark) == par
    assert state_partitions(spark, 0) == 1
    assert state_partitions(spark, 1) == 1
    assert state_partitions(spark, 10**12) == par


@pytest.mark.parametrize("rows", [None, 1])
def test_run_to_memory_uses_rule(spark, keyed_dir, session_conf, started, rows):
    from flink_notebooks_spark.queries.streaming import _run_to_memory

    dedup = _keyed_stream(spark, keyed_dir).dropDuplicates(["k"]).select("k")
    out = _run_to_memory(dedup, "append", rows=rows)
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]
    assert spark.conf.get(CONF) == SENTINEL
    assert _state_partition_counts(started[-1]) == {state_partitions(spark, rows)}


def test_incremental_topn_uses_rule(spark, keyed_dir, session_conf, started):
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    agg = (
        _keyed_stream(spark, keyed_dir)
        .groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("*").alias("n"))
    )
    rows, _ = _incremental_topn(agg, n=2, source_rows=1)
    assert [r[0] for r in rows] == [3, 1]
    assert spark.conf.get(CONF) == SENTINEL
    assert _state_partition_counts(started[-1]) == {state_partitions(spark, 1)}


def test_cdc_apply_uses_rule(spark, sf_dir, session_conf):
    """The CDC apply keeps no Spark state operator (its state is a parquet
    table written per trigger), so the count shows in the conf its
    checkpoint recorded — the one its per-trigger upserts shuffle with."""
    from flink_notebooks_spark.queries import streaming
    from flink_notebooks_spark.queries.streaming import (
        _table_rowcount,
        streaming_cdc_apply,
    )

    assert streaming_cdc_apply(spark, sf_dir).count() > 0
    assert spark.conf.get(CONF) == SENTINEL
    workdir = streaming._CDC_RUN_DIRS[(spark.sparkContext.applicationId, sf_dir)]
    want = state_partitions(spark, _table_rowcount(spark, sf_dir, "orders"))
    assert _ckpt_partitions(os.path.join(workdir, "ckpt")) == want


def test_engine_streaming_select_uses_rule(spark, keyed_dir, session_conf):
    from flink_notebooks_spark.engine import Engine

    eng = Engine(spark)  # default runtime mode: streaming
    try:
        eng.execute_sql(
            "CREATE TABLE sp_src (k BIGINT, v BIGINT) WITH ("
            f"'connector' = 'filesystem', 'path' = '{keyed_dir}', "
            "'format' = 'parquet')"
        )
        stmt = eng.execute_sql("SELECT k, COUNT(*) AS c FROM sp_src GROUP BY k")
        try:
            assert spark.conf.get(CONF) == SENTINEL
            deadline = time.time() + 60
            while not _state_partition_counts(stmt.query) and time.time() < deadline:
                time.sleep(0.3)
            assert _state_partition_counts(stmt.query) == {state_partitions(spark)}
        finally:
            stmt.cancel()
    finally:
        eng.close()


def test_start_sink_restart_keeps_checkpoint_count(
    spark, keyed_dir, tmp_path, started
):
    """A new checkpoint gets the rule's count; a restart from a checkpoint
    written with another count keeps that one (Spark restores it from the
    offset log), so the rule only sizes new checkpoints."""
    from flink_notebooks_spark.streaming.runner import SinkSpec, drain

    recorded = state_partitions(spark) + 1

    def dedup():
        return _keyed_stream(spark, keyed_dir).dropDuplicates(["k"])

    def spec(name):
        return SinkSpec(
            fmt="parquet",
            path=str(tmp_path / f"{name}_out"),
            checkpoint=str(tmp_path / f"{name}_ckpt"),
        )

    # a checkpoint written under another count, e.g. before the rule
    old = spec("old")
    prev = spark.conf.get(CONF)
    spark.conf.set(CONF, str(recorded))
    try:
        q = (
            dedup()
            .writeStream.format("parquet")
            .option("path", old.path)
            .option("checkpointLocation", old.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(CONF, prev)
    q.awaitTermination()
    assert _state_partition_counts(q) == {recorded}

    _write(os.path.join(keyed_dir, "b.parquet"), [(4, 40), (1, 12)])
    drain(dedup(), old)
    assert _state_partition_counts(started[-1]) == {recorded}
    got = sorted(r["k"] for r in spark.read.parquet(old.path).collect())
    assert got == [1, 2, 3, 4]

    new = spec("new")
    drain(dedup(), new)
    assert _state_partition_counts(started[-1]) == {state_partitions(spark)}
    assert _ckpt_partitions(new.checkpoint) == state_partitions(spark)
