"""Production streaming sink path: checkpointed writeStream management.

The memory sink in the query layer is only the notebook *display* path
(capped rows, reference flinkNotebookController.ts:427-428). Pipelines write
to durable sinks with checkpointing — the Spark analog of the reference's
exactly-once checkpoint config (reference flink-runtime/conf/
flink-conf.yaml:61-63): file sinks are exactly-once via the commit log;
Kafka sinks are at-least-once (idempotent downstream consumers).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..session import state_partitions_at_start


@dataclass
class SinkSpec:
    """Where a streaming query lands. ``fmt``: parquet/csv/json/kafka/noop."""

    fmt: str
    path: str | None = None  # file sinks
    checkpoint: str | None = None
    options: dict[str, str] | None = None
    output_mode: str = "append"
    trigger_interval: str | None = None  # e.g. "10 seconds"; None = ASAP
    available_now: bool = False  # bounded drain (backfill/replay)


def start_sink(df: DataFrame, spec: SinkSpec, query_name: str | None = None) -> StreamingQuery:
    """Start a checkpointed streaming write. The checkpoint directory is the
    unit of exactly-once recovery — reusing it resumes from the last commit;
    a new one reprocesses from the source's earliest offsets.

    A new checkpoint gets one task wave of state partitions
    (:func:`session.state_partitions`, an unbounded source has no row
    count); a reused one keeps the count recorded in its offset log, since
    Spark restores it from there."""
    if not spec.checkpoint:
        raise ValueError("SinkSpec.checkpoint is required for durable sinks")
    w = (
        df.writeStream.format(spec.fmt)
        .outputMode(spec.output_mode)
        .option("checkpointLocation", spec.checkpoint)
    )
    if spec.path:
        w = w.option("path", spec.path)
    for k, v in (spec.options or {}).items():
        w = w.option(k, v)
    if query_name:
        w = w.queryName(query_name)
    if spec.available_now:
        w = w.trigger(availableNow=True)
    elif spec.trigger_interval:
        w = w.trigger(processingTime=spec.trigger_interval)
    with state_partitions_at_start(df.sparkSession):
        return w.start()


def drain(df: DataFrame, spec: SinkSpec, query_name: str | None = None) -> None:
    """Run a bounded (AvailableNow) write to completion — the replay /
    backfill primitive used by tests and batch-catchup jobs."""
    q = start_sink(
        df,
        SinkSpec(**{**spec.__dict__, "available_now": True}),
        query_name,
    )
    q.awaitTermination()
