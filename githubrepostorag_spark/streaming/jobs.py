"""Streaming job/event plane (SURVEY §2.10, S8-S10).

The reference's serving loop is an ARQ/Redis job queue: REST enqueues
`run_rag_job(job_id, req)`, a worker dequeues (max_jobs=10), runs the
agent, and publishes per-stage progress + the final answer over Redis
pub/sub, with a cooperative cancel flag checked before expensive work
(rag_shared/bus.py:5-41, worker.py:99-187, jobs_controller.py:15-32).

Structured Streaming equivalent:

    queries stream (file/Kafka source, schema = QueryRequest)
      → foreachBatch: cancel-filter → GraphRAGAgent.run_batch
      → one file per trigger in an `answers` sink and a per-stage
        `events` sink

- S8 queue: the streaming source IS the queue; `maxFilesPerTrigger`
  (or Kafka `maxOffsetsPerTrigger`) caps jobs per micro-batch like the
  reference's max_jobs.
- S9 event bus: the agent's per-stage events land in the events sink
  (job_id, seq, event, data) — consumers tail it exactly like the
  Redis channel; SSE framing stays API-layer, out of engine scope.
- S10 cancel: `CancelFlags` is a flag-file directory (any process can
  cancel by touching `{dir}/{job_id}`); checked cooperatively before
  the agent runs, mirroring worker.py:121-124. Cancelled jobs emit a
  `final {cancelled: true}` event and an empty answer.

Each job is answered once, also across a restart. foreachBatch is
at-least-once: an epoch whose sink writes landed before its checkpoint
commit runs again after a restart. So the driver, which holds a
trigger's rows anyway (one per job or event), writes each sink's file
itself, named by the epoch id and a hash of the checkpoint path, under
a hidden temp name renamed over the final one:
- a replayed epoch replaces its own two files;
- a reader of a sink (Spark and pyarrow both skip hidden names) sees
  all of a trigger's rows or none;
- two job streams with different checkpoints can share a sink.
A trigger runs one Spark job, the dequeue `collect`; below the store's
snapshot bound the agent runs none (`operators.retrieval.store_snapshot`).
A parquet-scan store, such as a fresh `read_latest_store` view, loads
its snapshot with no Spark job either: pyarrow reads its files, the
snapshot is keyed on them, and a view of a new version reads only the
files that changed.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from githubrepostorag_spark.plans.agent import GraphRAGAgent

QUERY_SCHEMA = "job_id string, query string, namespace string, force_level string"
ANSWER_SCHEMA = pa.schema(
    [("job_id", pa.string()), ("answer", pa.string()),
     ("scope", pa.string()), ("sources", pa.string())]
)
EVENT_SCHEMA = pa.schema(
    [("job_id", pa.string()), ("seq", pa.int32()),
     ("event", pa.string()), ("data", pa.string())]
)


def _commit(rows: list[tuple], schema: pa.Schema, sink: str, name: str) -> None:
    """Write `rows` (tuples in `schema` order) as the one file `name` of
    the parquet sink at `sink`: written under a hidden temp name, then
    renamed over `name`, so a rewrite replaces it whole."""
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    fs, root = pafs.FileSystem.from_uri(sink if urlparse(sink).scheme else os.path.abspath(sink))
    fs.create_dir(root, recursive=True)
    tmp = f"{root}/.{name}.tmp"
    pq.write_table(table, tmp, filesystem=fs)
    fs.move(tmp, f"{root}/{name}")


class CancelFlags:
    """S10 cancel flag — flag-file per job_id (the reference uses a
    Redis key with TTL 3600; a shared directory is the engine-local
    equivalent any process can write)."""

    def __init__(self, flag_dir: str) -> None:
        self.flag_dir = flag_dir
        os.makedirs(flag_dir, exist_ok=True)

    def _path(self, job_id: str) -> str:
        return os.path.join(self.flag_dir, job_id)

    def cancel(self, job_id: str) -> None:
        with open(self._path(job_id), "w") as f:
            f.write("1")

    def is_cancelled(self, job_id: str) -> bool:
        return os.path.exists(self._path(job_id))


def read_query_stream(
    spark: SparkSession, input_path: str, max_jobs_per_trigger: int = 10
) -> DataFrame:
    """S8 queue source: JSON files of QueryRequest rows; the per-trigger
    file cap is the reference's worker max_jobs=10."""
    return (
        spark.readStream.schema(QUERY_SCHEMA)
        .option("maxFilesPerTrigger", max_jobs_per_trigger)
        .json(input_path)
    )


def run_job_stream(
    queries: DataFrame,
    store: DataFrame,
    llm_factory: Callable,
    *,
    answers_path: str,
    events_path: str,
    checkpoint_path: str,
    cancel_flags: CancelFlags | None = None,
    available_now: bool = False,
):
    """Wire the query stream through the agent into answers/events sinks.

    Returns the started StreamingQuery; `query.stop()` is the engine's
    job-plane shutdown (the reference's worker SIGTERM).
    """
    spark = queries.sparkSession
    # names the stream's files in a shared sink; a restart from the same
    # checkpoint reproduces them, so a replayed epoch overwrites its own
    tag = hashlib.sha1(os.path.normpath(checkpoint_path).encode()).hexdigest()[:8]

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # job rows are control-plane small — collecting them IS the
        # dequeue step (the data plane stays distributed inside run_batch).
        # Bound: one row per submitted job, capped per micro-batch by the
        # source's maxFilesPerTrigger / maxOffsetsPerTrigger (the
        # reference worker's max_jobs=10); even an uncapped burst is
        # O(jobs), never O(corpus) — see test_job_stream_burst.
        jobs = [r.asDict() for r in batch_df.collect()]
        if not jobs:
            return
        cancelled = [
            j for j in jobs if cancel_flags is not None and cancel_flags.is_cancelled(j["job_id"])
        ]
        live = [j for j in jobs if j not in cancelled]

        answer_rows: list[tuple] = []
        event_rows: list[tuple] = []
        for j in cancelled:
            # worker.py:121-124: cancelled before work → empty final
            answer_rows.append((j["job_id"], "", "", json.dumps(None)))
            event_rows.append(
                (j["job_id"], 0, "final", json.dumps({"cancelled": True}))
            )
        if live:
            agent = GraphRAGAgent(spark, store, llm_factory())
            states = agent.run_batch(live)
            for st in states:
                answer_rows.append(
                    (st.job_id, st.answer or "", st.scope, json.dumps(st.sources))
                )
                for e in st.events:
                    e = dict(e)
                    event_rows.append(
                        (e.pop("job_id"), e.pop("seq"), e.pop("event"), json.dumps(e, default=str))
                    )
        name = f"part-{epoch_id:05d}-{tag}.parquet"
        _commit(answer_rows, ANSWER_SCHEMA, answers_path, name)
        _commit(event_rows, EVENT_SCHEMA, events_path, name)

    writer = (
        queries.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
