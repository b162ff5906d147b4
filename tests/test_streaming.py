"""Streaming job/event plane test (SURVEY §2.10, S8-S10).

File-source query stream → foreachBatch agent → answers/events parquet
sinks, with a cooperatively-cancelled job (reference worker.py:121-124)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.plans.ingest import ingest_pipeline
from githubrepostorag_spark.streaming import (
    CancelFlags,
    read_query_stream,
    run_job_stream,
)
from tests.fixtures_corpus import corpus_df


@pytest.fixture(scope="module")
def store(spark):
    res = ingest_pipeline(
        corpus_df(spark), ingest_run_id="run-stream", llm_factory=DeterministicLLM,
        namespace="default",
    )
    rows = res.rows.persist()
    rows.count()
    yield rows
    rows.unpersist()


def test_job_stream_end_to_end(spark, store, tmp_path):
    qdir = tmp_path / "queries"
    qdir.mkdir()
    jobs = [
        {"job_id": "s1", "query": "tell me about the projects", "namespace": "default"},
        {"job_id": "s2", "query": "how does the core run method work", "namespace": "default"},
        {"job_id": "s3", "query": "cancel me please", "namespace": "default"},
    ]
    for j in jobs:
        with open(qdir / f"{j['job_id']}.json", "w") as f:
            f.write(json.dumps(j))

    flags = CancelFlags(str(tmp_path / "flags"))
    flags.cancel("s3")  # S10: cancelled before the worker picks it up

    q = run_job_stream(
        read_query_stream(spark, str(qdir)),
        store,
        DeterministicLLM,
        answers_path=str(tmp_path / "answers"),
        events_path=str(tmp_path / "events"),
        checkpoint_path=str(tmp_path / "ckpt"),
        cancel_flags=flags,
        available_now=True,
    )
    q.awaitTermination(300)

    answers = {
        r["job_id"]: r.asDict()
        for r in spark.read.parquet(str(tmp_path / "answers")).collect()
    }
    assert set(answers) == {"s1", "s2", "s3"}
    assert answers["s1"]["answer"] and "[1]" in answers["s1"]["answer"]
    assert json.loads(answers["s1"]["sources"])  # non-empty source list
    assert answers["s3"]["answer"] == ""  # cancelled → empty final

    # one trigger appends one file to each sink, in the sinks' schemas
    for sink, ddl in (
        ("answers", "job_id string, answer string, scope string, sources string"),
        ("events", "job_id string, seq int, event string, data string"),
    ):
        assert len(list((tmp_path / sink).glob("part-*.parquet"))) == 1
        assert spark.read.parquet(str(tmp_path / sink)).schema == spark.createDataFrame([], ddl).schema

    events = spark.read.parquet(str(tmp_path / "events"))
    s1_events = [
        r["event"]
        for r in events.filter(F.col("job_id") == "s1").orderBy("seq").collect()
    ]
    assert s1_events[0] == "started" and s1_events[-1] == "final"
    s3_final = events.filter(F.col("job_id") == "s3").collect()
    assert len(s3_final) == 1
    assert json.loads(s3_final[0]["data"])["cancelled"] is True


@pytest.mark.slow
def test_job_stream_burst(spark, store, tmp_path):
    """S8 degradation: 1000 queued queries landing in ONE micro-batch
    (no per-trigger cap) must drain in a single foreachBatch call —
    the driver-side dequeue is O(jobs) rows and the agent's plan cost
    is batched, not per-job."""
    qdir = tmp_path / "queries"
    qdir.mkdir()
    lines = [
        json.dumps(
            {"job_id": f"b{i}", "query": f"tell me about project {i % 7}", "namespace": "default"}
        )
        for i in range(1000)
    ]
    with open(qdir / "burst.json", "w") as f:
        f.write("\n".join(lines))

    q = run_job_stream(
        read_query_stream(spark, str(qdir), max_jobs_per_trigger=2000),
        store,
        DeterministicLLM,
        answers_path=str(tmp_path / "answers"),
        events_path=str(tmp_path / "events"),
        checkpoint_path=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(1200)
    answers = spark.read.parquet(str(tmp_path / "answers"))
    assert answers.count() == 1000
    assert answers.filter(F.length("answer") > 0).count() == 1000


def _job_stream(spark, store, tmp_path, jobs, queue="queries", ckpt="ckpt"):
    """Queue `jobs` (one file each) and answer them in one available-now
    run of the job stream into `answers`/`events`; returns the stopped
    query."""
    qdir = tmp_path / queue
    qdir.mkdir(exist_ok=True)
    for j in jobs:
        (qdir / f"{j['job_id']}.json").write_text(json.dumps({**j, "namespace": "default"}))
    q = run_job_stream(
        read_query_stream(spark, str(qdir)),
        store,
        DeterministicLLM,
        answers_path=str(tmp_path / "answers"),
        events_path=str(tmp_path / "events"),
        checkpoint_path=str(tmp_path / ckpt),
        available_now=True,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    return q


def test_job_stream_replayed_epoch_replaces_its_answers(spark, store, tmp_path):
    """An epoch re-run after a restart (its sink files written, its
    checkpoint commit lost) replaces its answers and events instead of
    adding a second copy; a torn temp file is invisible to readers."""
    jobs = [{"job_id": "r1", "query": "tell me about the projects"},
            {"job_id": "r2", "query": "how does the core run method work"}]
    _job_stream(spark, store, tmp_path, jobs)
    for name in ("0", ".0.crc"):
        os.remove(tmp_path / "ckpt" / "commits" / name)
    _job_stream(spark, store, tmp_path, [])  # epoch 0 replays
    (tmp_path / "answers" / ".part-00001-0000.parquet.tmp").write_bytes(b"PAR1")  # a torn write
    answers = spark.read.parquet(str(tmp_path / "answers"))
    assert sorted(r.job_id for r in answers.collect()) == ["r1", "r2"]
    finals = spark.read.parquet(str(tmp_path / "events")).filter(F.col("event") == "final")
    assert sorted(r.job_id for r in finals.collect()) == ["r1", "r2"]


def test_job_streams_share_a_sink(spark, store, tmp_path):
    """Two job streams with their own checkpoints write epoch 0 into one
    answers path; both triggers' rows survive."""
    for s in "ab":
        _job_stream(spark, store, tmp_path, [{"job_id": f"{s}1", "query": "tell me about the projects"}],
                    queue=f"queries-{s}", ckpt=f"ckpt-{s}")
    got = spark.read.parquet(str(tmp_path / "answers")).collect()
    assert sorted(r.job_id for r in got) == ["a1", "b1"]


def test_warmed_trigger_runs_one_spark_job(spark, store, tmp_path):
    """Once the agent is warm, a trigger runs one Spark job: the dequeue
    `collect`. The sink writes run none."""
    _job_stream(spark, store, tmp_path, [{"job_id": "w0", "query": "tell me about the projects"}])
    q = _job_stream(spark, store, tmp_path, [{"job_id": "w1", "query": "how does the core run method work"}])
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [1]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 1


def test_stream_dedup_exact_keeps_one_per_fingerprint(spark, tmp_path):
    from pyspark.sql import functions as F

    from githubrepostorag_spark.streaming.events import stream_dedup_exact

    rows = [
        (1, "the same   text", "2026-01-01 00:00:00"),
        (2, "THE SAME TEXT", "2026-01-01 00:10:00"),  # dup after normalize
        (3, "different text", "2026-01-01 00:20:00"),
        (4, "the same text", "2026-01-01 00:30:00"),  # dup again
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, ts_s string").select(
        "doc_id", "text", F.col("ts_s").cast("timestamp").alias("ts")
    )
    src = str(tmp_path / "docs_src")
    docs.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        stream_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("dedup_mem").select("doc_id", "fingerprint").collect()
    # one survivor per fingerprint; survivors are 2 distinct contents
    assert len(got) == 2
    assert len({r.fingerprint for r in got}) == 2


def test_stream_ingest_versions_repos_latest_wins(spark, tmp_path):
    from githubrepostorag_spark.streaming.ingest import (
        read_latest_store,
        stream_ingest_docs,
    )

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "vec_store")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, file_path string, text string"

    # batch 1: repos A and B
    spark.createDataFrame(
        [
            ("repoA", "m0/a.py", "def a():\n    return 1\n" * 300),
            ("repoB", "m0/b.py", "def b():\n    return 2\n" * 300),
        ],
        schema,
    ).write.mode("overwrite").json(src)
    q = stream_ingest_docs(
        spark.readStream.schema(schema).json(src), store, ckpt
    )
    q.awaitTermination(300)

    first = read_latest_store(spark, store)
    assert {r.repo for r in first.select("repo").distinct().collect()} == {
        "repoA", "repoB",
    }
    a_v1 = {r.row_id for r in first.filter("repo = 'repoA'").collect()}
    assert a_v1  # chunks landed with stable ids + vectors
    assert first.filter("size(vector) != 384").count() == 0

    # batch 2: repoA re-ingested with fewer files (B untouched)
    spark.createDataFrame(
        [("repoA", "m0/a.py", "def a():\n    return 99\n")], schema
    ).write.mode("append").json(src)
    q = stream_ingest_docs(
        spark.readStream.schema(schema).json(src), store, ckpt
    )
    q.awaitTermination(300)

    latest = read_latest_store(spark, store)
    a_rows = latest.filter("repo = 'repoA'").collect()
    b_rows = latest.filter("repo = 'repoB'").collect()
    # repoA replaced wholesale: the shrunken re-ingest has fewer chunks
    assert 0 < len(a_rows) < len(a_v1)
    # repoB's ORIGINAL version survives (no re-ingest in batch 2)
    assert {r.row_id for r in b_rows} == {
        r.row_id for r in first.filter("repo = 'repoB'").collect()
    }


def test_jsonl_roundtrip_and_corrupt_audit(spark, tmp_path):
    from githubrepostorag_spark.sources.textfiles import (
        corrupt_line_audit,
        read_jsonl_documents,
        write_jsonl_documents,
    )
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl_documents(docs, path, rows_per_shard=100)

    back = read_jsonl_documents(spark, path)
    audit = corrupt_line_audit(back).collect()[0]
    assert audit.n_ok == docs.count() and audit.n_corrupt == 0
    # value-faithful roundtrip
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r)[:-1] for r in back.collect()}  # drop _corrupt_record
    assert a == b

    # a broken line is captured, not fatal
    with open(f"{path}/broken.json", "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n{not json at all\n')
    audit2 = corrupt_line_audit(read_jsonl_documents(spark, path)).collect()[0]
    assert audit2.n_corrupt == 1
    assert audit2.n_ok == docs.count() + 1


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """Pin the watermark claim: an event older than (max ts seen -
    watermark horizon) arriving in a later micro-batch run is DROPPED
    from the windowed aggregate. The watermark survives restarts via
    the checkpoint, so run 2 starts with run 1's horizon."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.streaming.events import stream_tumbling_counts

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def write_batch(rows, mode):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, event_type string, value double"
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )
        df.coalesce(1).write.mode(mode).parquet(src)

    src = str(tmp_path / "ev_src")
    ckpt = str(tmp_path / "ev_ckpt")

    out = str(tmp_path / "ev_out")

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            stream_tumbling_counts(stream, window="1 hour", watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: events at 00:30 and 10:30 -> watermark advances to 08:30,
    # closing (and emitting) the 00:00 window
    write_batch(
        [(1, "2026-01-01 00:30:00", 1, "click", 1.0),
         (2, "2026-01-01 10:30:00", 1, "click", 1.0)],
        "overwrite",
    )
    run()
    emitted_1 = {
        (str(r.window_start), r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert ("2026-01-01 00:00:00", 1) in emitted_1

    # run 2: one LATE event for the already-closed 00:00 window plus one
    # fresh event far ahead (advances the watermark so 10:00 emits too)
    write_batch(
        [(3, "2026-01-01 00:45:00", 1, "click", 1.0),   # late: dropped
         (4, "2026-01-01 20:30:00", 1, "click", 1.0)],
        "append",
    )
    run()
    emitted_2 = {
        (str(r.window_start), r.n_events) for r in spark.read.parquet(out).collect()
    }
    # the 00:00 window was emitted ONCE with count 1 — the late event
    # neither re-emitted nor incremented it
    assert ("2026-01-01 00:00:00", 1) in emitted_2
    assert ("2026-01-01 00:00:00", 2) not in emitted_2
    # the 10:00 window closed in run 2 and contains only its own event
    assert ("2026-01-01 10:00:00", 1) in emitted_2


def test_stream_static_enrichment_join(spark, tmp_path):
    from githubrepostorag_spark.streaming.events import stream_enrich_static

    dim = spark.createDataFrame(
        [(1, "pro"), (2, "free")], "user_id long, tier string"
    )
    events = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 1, "click"),
         (2, "2026-01-01 00:01:00", 2, "view"),
         (3, "2026-01-01 00:02:00", 9, "view")],  # no dim row
        "event_id long, ts_s string, user_id long, event_type string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type")
    src = str(tmp_path / "ev_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_enrich_static(stream, dim)
        .writeStream.format("memory")
        .queryName("enrich_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.event_id: r.tier for r in spark.table("enrich_mem").collect()}
    assert got == {1: "pro", 2: "free", 3: None}


def test_compact_store_drops_superseded_versions(spark, tmp_path):
    from githubrepostorag_spark.streaming.ingest import (
        compact_store,
        read_latest_store,
        stream_ingest_docs,
    )

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "vec_store")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, file_path string, text string"

    spark.createDataFrame(
        [("repoA", "m0/a.py", "def a():\n    return 1\n" * 100),
         ("repoB", "m0/b.py", "def b():\n    return 2\n" * 100)],
        schema,
    ).write.mode("overwrite").json(src)
    q = stream_ingest_docs(spark.readStream.schema(schema).json(src), store, ckpt)
    q.awaitTermination(300)
    spark.createDataFrame(
        [("repoA", "m0/a.py", "def a():\n    return 9\n" * 50)], schema
    ).write.mode("append").json(src)
    q = stream_ingest_docs(spark.readStream.schema(schema).json(src), store, ckpt)
    q.awaitTermination(300)

    before = {
        (r.row_id, r.batch_id) for r in read_latest_store(spark, store).collect()
    }
    raw_before = spark.read.parquet(store).count()
    compact_store(spark, store)
    after = {
        (r.row_id, r.batch_id) for r in read_latest_store(spark, store).collect()
    }
    raw_after = spark.read.parquet(store).count()

    assert after == before               # the logical view is unchanged
    assert raw_after < raw_before        # repoA's superseded version is gone
    assert raw_after == len(after)       # nothing but latest versions remain
    # idempotent: a second compaction is a no-op
    compact_store(spark, store)
    assert spark.read.parquet(store).count() == raw_after


def _two_version_store(spark, tmp_path):
    """A stream store holding repoA at batches 0 and 1, repoB at 0."""
    from githubrepostorag_spark.streaming.ingest import stream_ingest_docs

    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    schema = "repo string, file_path string, text string"
    for rows in (
        [("repoA", "m0/a.py", "def a():\n    return 1\n" * 100),
         ("repoB", "m0/b.py", "def b():\n    return 2\n" * 100)],
        [("repoA", "m0/a.py", "def a():\n    return 9\n" * 50)],
    ):
        spark.createDataFrame(rows, schema).write.mode("append").json(src)
        stream_ingest_docs(spark.readStream.schema(schema).json(src), store, ckpt).awaitTermination(300)
    return store


def test_stream_replayed_batch_overwrites_its_own_version(spark, tmp_path):
    """A batch id re-delivered after its parquet commit (the checkpoint
    commit lost) replaces its own version instead of adding a copy."""
    from githubrepostorag_spark.streaming.ingest import (
        read_latest_store,
        stream_ingest_docs,
    )

    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    schema = "repo string, file_path string, text string"
    spark.createDataFrame(
        [("repoA", "m0/a.py", "def a():\n    return 1\n"),
         ("repoB", "m0/b.py", "def b():\n    return 2\n")],
        schema,
    ).write.json(src)

    def run():
        stream_ingest_docs(spark.readStream.schema(schema).json(src), store, ckpt).awaitTermination(300)

    run()
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    run()  # batch 0 replays
    ids = [r.row_id for r in read_latest_store(spark, store).select("row_id").collect()]
    assert len(ids) == len(set(ids)) == 2


def test_latest_view_resolved_before_compaction_still_reads(spark, tmp_path):
    from githubrepostorag_spark.streaming.ingest import compact_store, read_latest_store

    store = _two_version_store(spark, tmp_path)

    def facts(df):
        return sorted(df.select("repo", "batch_id", "row_id", F.md5("body")).collect())

    want = facts(read_latest_store(spark, store))
    view = read_latest_store(spark, store)  # resolved, not run
    compact_store(spark, store)
    assert facts(view) == want
    assert facts(read_latest_store(spark, store)) == want


def test_latest_view_is_a_scan_of_the_newest_versions(spark, tmp_path):
    """The latest view is a plain scan of each repo's newest version
    directory, and compaction runs no Spark job."""
    from githubrepostorag_spark.streaming.ingest import compact_store, read_latest_store

    store = _two_version_store(spark, tmp_path)
    newest = {
        os.path.join(d, f)
        for d in (f"{store}/repo=repoA/batch_id=1", f"{store}/repo=repoB/batch_id=0")
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }
    view = read_latest_store(spark, store)
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    assert {os.path.normpath(f.split("file:", 1)[1]) for f in view.inputFiles()} == newest

    sc = spark.sparkContext
    sc.setJobGroup("stream-compact", "stream-compact")
    try:
        compact_store(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("stream-compact") == []
    assert not os.path.exists(f"{store}/repo=repoA/batch_id=0")


def test_stream_heavy_hitters_mg_guarantee_across_batches(spark, tmp_path):
    """Misra-Gries state carries across micro-batches: after the whole
    (bounded) stream, every user whose TRUE count exceeds
    n_seen/capacity must appear in the final candidate set, and
    mg_count never exceeds the true count (lower-bound property)."""
    from githubrepostorag_spark.sources.testdata import load_table
    from githubrepostorag_spark.streaming.events import (
        HH_STATE_CAPACITY,
        stream_heavy_hitters,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "hh_src")
    # two files → two micro-batches
    import time as _time

    half = events.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    events.filter(F.col("event_id") <= half).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    events.filter(F.col("event_id") > half).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_heavy_hitters(stream)
        .writeStream.format("memory")
        .queryName("hh_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.table("hh_mem").toPandas()
    # final emission per type = the rows with the max n_seen
    final = got.merge(
        got.groupby("event_type")["n_seen"].max().rename("max_seen"),
        on="event_type",
    )
    final = final[final["n_seen"] == final["max_seen"]]

    truth = (
        events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    true_counts = {(r.event_type, r.user_id): r.n for r in truth}
    totals = {}
    for (et, _), n in true_counts.items():
        totals[et] = totals.get(et, 0) + n

    cands = {
        (r.event_type, r.user_id): r.mg_count for _, r in final.iterrows()
    }
    for (et, uid), n in true_counts.items():
        if n > totals[et] / HH_STATE_CAPACITY:
            assert (et, uid) in cands, f"missed guaranteed heavy hitter {et}/{uid}"
    for (et, uid), c in cands.items():
        assert c <= true_counts[(et, uid)]  # lower bound, never inflated


def test_stream_dedup_gate_admits_fresh_rejects_near_dups(spark, tmp_path):
    from githubrepostorag_spark.operators.dedup import write_dedup_store
    from githubrepostorag_spark.streaming.ingest import stream_dedup_gate

    base_text = "the quick brown fox jumps over the lazy dog " * 30
    fresh_text = "completely different content about spark shuffles " * 30
    later_text = "yet another unrelated corpus document body here " * 30
    store = str(tmp_path / "dedup_store")
    src = str(tmp_path / "src")
    acc = str(tmp_path / "accepted")
    rej = str(tmp_path / "rejected")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    write_dedup_store(
        spark.createDataFrame([(1, base_text)], schema), store
    )

    # batch 1: a near-copy of stored doc 1 + a fresh doc
    spark.createDataFrame(
        [(100, base_text + " tail"), (101, fresh_text)], schema
    ).write.mode("overwrite").json(src)
    q = stream_dedup_gate(
        spark.readStream.schema(schema).json(src), store, acc, rej, ckpt
    )
    q.awaitTermination(300)
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    rejected = {(r.new_id, r.old_id) for r in spark.read.parquet(rej).collect()}
    assert accepted == {101}
    assert rejected == {(100, 1)}

    # batch 2: a near-copy of batch 1's ACCEPTED doc must now be
    # rejected (the store append made 101 visible), plus a fresh doc
    spark.createDataFrame(
        [(200, fresh_text + " v2"), (201, later_text)], schema
    ).write.mode("append").json(src)
    q = stream_dedup_gate(
        spark.readStream.schema(schema).json(src), store, acc, rej, ckpt
    )
    q.awaitTermination(300)
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    rejected = {(r.new_id, r.old_id) for r in spark.read.parquet(rej).collect()}
    assert accepted == {101, 201}
    assert (200, 101) in rejected


def test_stream_contract_gate_quarantines_and_reports(spark, tmp_path):
    from githubrepostorag_spark.streaming.ingest import stream_contract_gate

    src = str(tmp_path / "src")
    acc = str(tmp_path / "acc")
    quar = str(tmp_path / "quar")
    rep = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [
            (1, "good row one"),
            (2, None),              # null_text
            (None, "no id"),        # null_id
            (4, ""),                # short_text
            (5, "dup"), (5, "dup"), # dup_id_in_batch (both copies)
            (6, "good row two"),
        ],
        schema,
    ).write.mode("overwrite").json(src)
    q = stream_contract_gate(
        spark.readStream.schema(schema).json(src), acc, quar, rep, ckpt
    )
    q.awaitTermination(300)
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    assert accepted == {1, 6}
    quarantined = {(r.doc_id, r.violation) for r in spark.read.parquet(quar).collect()}
    assert (None, "null_id") in quarantined
    assert (2, "null_text") in quarantined and (4, "short_text") in quarantined
    assert (5, "dup_id_in_batch") in quarantined
    report = {r.violation: r.n_violations for r in spark.read.parquet(rep).collect()}
    assert report == {
        "null_id": 1, "null_text": 1, "short_text": 1, "dup_id_in_batch": 2,
    }


def test_stream_hygiene_gate_quarantines_and_reports(spark, tmp_path):
    from githubrepostorag_spark.streaming.ingest import stream_hygiene_gate

    src = str(tmp_path / "hsrc")
    acc = str(tmp_path / "hacc")
    quar = str(tmp_path / "hquar")
    rep = str(tmp_path / "hrep")
    ckpt = str(tmp_path / "hckpt")
    schema = "doc_id long, text string"
    clean = "short line\nanother fine line\na third one\nand a fourth"
    spark.createDataFrame(
        [
            (1, clean),
            (2, "x" * 1500),                                  # long_line
            (3, "// @generated\nok line\nmore\nlines\nhere"), # autogen
            (4, clean + "\nkey: a1b2c3d4e5f60718293a4b5cdead"),  # secret
            (5, clean + " extra"),
        ],
        schema,
    ).write.mode("overwrite").json(src)
    q = stream_hygiene_gate(
        spark.readStream.schema(schema).json(src), acc, quar, rep, ckpt
    )
    q.awaitTermination(300)
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    assert accepted == {1, 5}
    quarantined = {(r.doc_id, r.violation) for r in spark.read.parquet(quar).collect()}
    assert (2, "long_line") in quarantined
    assert (3, "autogen") in quarantined
    assert (4, "secret_candidate") in quarantined
    report = {r.violation: r.n_violations for r in spark.read.parquet(rep).collect()}
    assert report["long_line"] == 1 and report["secret_candidate"] == 1


@pytest.mark.slow
def test_stream_dedup_gate_sustained_multibatch_throughput(spark, tmp_path):
    """Sustained firehose smoke (round-6 verdict #5): drive the dedup
    admission gate over N micro-batches (maxFilesPerTrigger=1) and pin

    1. correctness under sustained load — every cross-batch near-copy
       is rejected against the store state its batch observes, so the
       accepted set has no near-dup pair in it, and
    2. a LOOSE throughput floor (docs/sec) so a regression that makes
       the per-batch store probe quadratic fails loudly rather than
       silently doubling wall-clock.

    The reference envelope this mirrors: the worker consumes jobs
    continuously at 10-concurrent / 300 s-timeout
    (rag_worker/src/worker/worker.py:182-187).
    """
    import time

    from githubrepostorag_spark.operators.dedup import write_dedup_store
    from githubrepostorag_spark.streaming.ingest import stream_dedup_gate

    schema = "doc_id long, text string"
    n_batches = 6
    docs_per_batch = 40

    import hashlib

    def fresh_text(i: int) -> str:
        # md5-derived tokens: docs share no char-4-gram shingles, so
        # "fresh" really is fresh to the LSH gate (plain f"tok{i}w{j}"
        # words make every pair of docs a near-dup at the char grain)
        return " ".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:12] for j in range(30)
        )

    store = str(tmp_path / "store")
    write_dedup_store(
        spark.createDataFrame([(0, fresh_text(0))], schema), store
    )

    # batch b carries: mostly-fresh docs + one near-copy of a doc from
    # batch b-1 (accepted there, appended to the store, so it MUST be
    # rejected here) — state has to flow across micro-batches.
    src = str(tmp_path / "src")
    rows_by_batch = []
    for b in range(n_batches):
        rows = [
            (b * 1000 + i, fresh_text(b * 1000 + i))
            for i in range(docs_per_batch - 1)
        ]
        prev_base = (b - 1) * 1000 if b > 0 else 0
        rows.append((b * 1000 + 999, fresh_text(prev_base) + " tail"))
        rows_by_batch.append(rows)
        # one json file per batch => one micro-batch per file
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).json(src)

    t0 = time.time()
    q = stream_dedup_gate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        store,
        str(tmp_path / "acc"),
        str(tmp_path / "rej"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    elapsed = time.time() - t0

    batches = [p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0]
    assert len(batches) >= n_batches  # genuinely multi-batch, not one gulp

    accepted = {r.doc_id for r in spark.read.parquet(str(tmp_path / "acc")).collect()}
    rejected = {r.new_id for r in spark.read.parquet(str(tmp_path / "rej")).collect()}
    n_docs = n_batches * docs_per_batch
    # every near-copy rejected, everything fresh accepted
    expected_rejects = {b * 1000 + 999 for b in range(n_batches)}
    assert rejected == expected_rejects
    assert len(accepted) == n_docs - n_batches
    assert accepted.isdisjoint(rejected)

    # loose floor: tiny batches on local[32] clear this by an order of
    # magnitude; a quadratic store probe or per-batch replan would not
    docs_per_sec = n_docs / elapsed
    assert docs_per_sec > 3.0, f"sustained gate throughput {docs_per_sec:.1f} docs/s"


def test_stream_embedding_gate_semantic_admission(spark, tmp_path):
    """The embedding-plane admission gate: near-copies of STORED
    vectors are rejected with their matched store id; fresh vectors are
    accepted and become visible to the NEXT batch via the store append."""
    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.streaming.ingest import stream_embedding_gate

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    src = str(tmp_path / "vsrc")
    acc = str(tmp_path / "vacc")
    rej = str(tmp_path / "vrej")
    ckpt = str(tmp_path / "vckpt")

    # store: two well-separated unit vectors in two label cells
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])],
            schema,
        ),
        store,
    )

    # batch 1: a near-copy of stored vec 1 + an orthogonal fresh vector
    spark.createDataFrame(
        [(100, 0, [0.999, 0.02, 0.0, 0.0]), (101, 0, [0.0, 0.02, 0.999, 0.0])],
        schema,
    ).coalesce(1).write.mode("append").json(src)
    q = stream_embedding_gate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        store, acc, rej, ckpt,
    )
    q.awaitTermination(300)
    accepted = {r.vec_id for r in spark.read.parquet(acc).collect()}
    rejected = {(r.new_id, r.store_id) for r in spark.read.parquet(rej).collect()}
    assert accepted == {101}
    assert rejected == {(100, 1)}

    # batch 2: a near-copy of batch 1's ACCEPTED vector must now be
    # rejected against the appended store, plus another fresh vector
    spark.createDataFrame(
        [(200, 0, [0.01, 0.0, 1.0, 0.01]), (201, 1, [0.0, 0.0, 0.0, 1.0])],
        schema,
    ).coalesce(1).write.mode("append").json(src)
    q = stream_embedding_gate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        store, acc, rej, ckpt,
    )
    q.awaitTermination(300)
    accepted = {r.vec_id for r in spark.read.parquet(acc).collect()}
    rejected = {(r.new_id, r.store_id) for r in spark.read.parquet(rej).collect()}
    assert accepted == {101, 201}
    assert (200, 101) in rejected


def _formatted_plan(df) -> str:
    """Formatted physical plan string (what `df.explain('formatted')`
    prints) — used to pin file-index partition pruning."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_embedding_gate_store_side_cell_pruned(spark, tmp_path):
    """The gate's scoring scan must read ONLY the batch's cell
    directories: the isin on the partition column has to land in the
    scan's PartitionFilters (file-index pruning — untouched cells are
    never opened), not as a post-scan Filter. Pins VERDICT r7 'What's
    wrong #1': before the fix the probe's store side was unfiltered
    and every micro-batch shuffled the whole store."""
    from githubrepostorag_spark.operators.similarity import write_ivf_store

    schema = "vec_id long, label int, embedding array<float>"
    path = str(tmp_path / "ivf")
    write_ivf_store(
        spark.createDataFrame(
            [
                (1, 0, [1.0, 0.0, 0.0, 0.0]),
                (2, 1, [0.0, 1.0, 0.0, 0.0]),
                (3, 2, [0.0, 0.0, 1.0, 0.0]),
            ],
            schema,
        ),
        path,
    )
    cells = sorted(
        r.cell for r in spark.read.parquet(path).select("cell").distinct().collect()
    )
    assert len(cells) == 3
    # the exact store-side expression _embedding_gate_batch builds
    batch_cells = cells[:2]
    untouched = cells[2]
    probe_side = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(batch_cells))
        .filter(F.col("batch_id") != F.lit(0))
        .select("cell", "vec_id", F.col("ve").alias("embedding"))
    )
    plan = _formatted_plan(probe_side)
    # one scan node; its PartitionFilters must carry the batch's cells
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, plan
    pf = pf_lines[0]
    assert "cell#" in pf, pf
    # the IN-list must be EXACTLY the batch's cells — untouched absent
    import re as _re

    m = _re.search(r"cell#\d+ IN \(([^)]*)\)", pf)
    assert m, pf
    in_vals = {int(v) for v in m.group(1).split(",")}
    assert in_vals == set(batch_cells), (in_vals, batch_cells, pf)
    assert untouched not in in_vals
    # and the batch_id exclusion is a DATA filter, not a partition one
    assert "batch_id" not in pf, pf


def test_embedding_gate_replay_idempotent(spark, tmp_path):
    """At-least-once replay safety (ADVICE r7 medium): if the first
    attempt crashed AFTER the store append but BEFORE the checkpoint
    commit, the replayed batch must re-derive the SAME decisions — its
    own appended vectors are excluded from the probe by batch_id, so
    they cannot self-match at cosine 1.0 and flip accepted→rejected.
    Runs the per-batch function twice with the same batch_id and
    asserts no vec_id ever appears in both logs, and that the sidecar
    fold stays equal to the single-append state."""
    from githubrepostorag_spark.operators.similarity import (
        fold_partials,
        read_ivf_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    acc, rej = str(tmp_path / "acc"), str(tmp_path / "rej")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])], schema
        ),
        store,
    )
    batch = spark.createDataFrame(
        [(100, 0, [0.999, 0.02, 0.0, 0.0]), (101, 0, [0.0, 0.02, 0.999, 0.0])],
        schema,
    )
    for _attempt in range(2):  # second call = replay after store append
        _embedding_gate_batch(batch, 0, store, acc, rej, max_cos=0.95)
        accepted = {r.vec_id for r in spark.read.parquet(acc).collect()}
        rejected = {r.new_id for r in spark.read.parquet(rej).collect()}
        assert accepted == {101}, accepted
        assert rejected == {100}, rejected
        assert not (accepted & rejected)
    # duplicate — never contradictory — rows; store dedups on (vec_id, batch_id)
    srows = spark.read.parquet(store)
    assert srows.filter(F.col("vec_id") == 101).count() == 2
    assert srows.dropDuplicates(["vec_id", "batch_id"]).count() == 3
    # sidecar read reconciles the replayed partial on (cell, batch_id):
    # total folded count equals the deduped store, not the raw appends
    folded = fold_partials(read_ivf_sidecar(spark, store))
    assert folded.agg(F.sum("n")).collect()[0][0] == 3


def test_embedding_gate_replay_reads_prebatch_centroids(spark, tmp_path):
    """ADVICE r8 medium: a REPLAYED micro-batch must derive its frozen
    centroids EXCLUDING its own first attempt's sidecar partials (which
    landed if the crash hit between the sidecar append and the
    checkpoint commit). Pins the exclusion directly — the replay's
    codebook equals the pre-batch codebook bit-for-bit — instead of
    relying on a toy drift being large enough to flip a decision."""
    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])], schema
        ),
        store,
    )
    before = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store).collect()
    }
    # first attempt: an ACCEPTED vector (cos 0.848 < 0.95 to its best
    # store neighbor) that lands store rows AND sidecar partials for
    # batch 3, dragging its cell's mean if included in a later fold
    batch = spark.createDataFrame([(100, 0, [0.5, 0.8, 0.0, 0.0])], schema)
    _embedding_gate_batch(
        batch, 3, store, str(tmp_path / "a"), str(tmp_path / "r"), max_cos=0.95
    )
    # the UNEXCLUDED fold now differs (the batch moved its cell) ...
    after = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store).collect()
    }
    assert after != before
    # ... but the replay's view (exclude_batch_id=3) is the pre-batch
    # codebook exactly — identical assignment, identical decisions
    replay_view = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store, exclude_batch_id=3).collect()
    }
    assert replay_view == before


def test_pre_sidecar_store_upgrades_in_place(spark, tmp_path):
    """ADVICE r8 medium: the three MUTATING entry points (gate,
    maintenance, compaction) must accept a store written before the
    sidecar/batch_id existed — one in-place upgrade, then business as
    usual. Builds the OLD layout (no sidecar, no batch_id column),
    runs the gate, and checks the upgrade preserved cells verbatim."""
    from githubrepostorag_spark.functions import vectors as V
    from githubrepostorag_spark.operators.similarity import (
        _assign_cells,
        _centroid_arrays,
        _sidecar_exists,
        compact_ivf_store,
        upgrade_ivf_store,
    )
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    emb = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0, 0.0]),
            (2, 1, [0.0, 1.0, 0.0, 0.0]),
            (3, 2, [0.0, 0.0, 1.0, 0.0]),
        ],
        schema,
    )
    path = str(tmp_path / "old_ivf")
    # the PRE-sidecar writer layout: cell-partitioned prepared rows,
    # no batch_id column, no sidecar directory
    old = V.prepare(_assign_cells(emb, _centroid_arrays(emb)), "embedding", "ve", "vn")
    old.select("vec_id", "label", "ve", "vn", "cell").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(path)
    assert not _sidecar_exists(spark, path)
    cells_before = {
        r.vec_id: r.cell for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    }
    # the gate upgrades lazily, then gates normally
    _embedding_gate_batch(
        spark.createDataFrame([(100, 0, [0.7, 0.7, 0.0, 0.0])], schema),
        0,
        path,
        str(tmp_path / "a"),
        str(tmp_path / "r"),
        max_cos=0.95,
    )
    assert _sidecar_exists(spark, path)
    upgraded = spark.read.parquet(path)
    assert "batch_id" in upgraded.columns
    # original rows: batch_id stamped -1, cell assignments verbatim
    base = upgraded.filter(F.col("vec_id") < 100)
    assert {r.vec_id: r.cell for r in base.select("vec_id", "cell").collect()} == (
        cells_before
    )
    assert {r.batch_id for r in base.select("batch_id").collect()} == {-1}
    # idempotent: second call is a no-op
    assert upgrade_ivf_store(spark, path) is False
    # and compaction (dropDuplicates on batch_id) runs clean post-upgrade
    compact_ivf_store(spark, path)
    assert spark.read.parquet(path).count() == 4


def test_embedding_gate_empty_batch_is_noop(spark, tmp_path):
    """An empty micro-batch (foreachBatch delivers these on replays and
    idle triggers) must be a clean no-op: no logs written, no store
    mutation, no sidecar append — and no crash in the driver-side
    assignment path (np.stack on zero rows would throw)."""
    import glob

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    write_ivf_store(
        spark.createDataFrame([(1, 0, [1.0, 0.0, 0.0, 0.0])], schema), store
    )
    files_before = sorted(glob.glob(str(tmp_path / "ivf" / "**" / "*.parquet"),
                                    recursive=True))
    empty = spark.createDataFrame([], schema)
    _embedding_gate_batch(
        empty, 9, store, str(tmp_path / "a"), str(tmp_path / "r"), max_cos=0.95
    )
    assert not (tmp_path / "a").exists()
    assert not (tmp_path / "r").exists()
    assert files_before == sorted(
        glob.glob(str(tmp_path / "ivf" / "**" / "*.parquet"), recursive=True)
    )


def test_upgrade_rebuilds_lost_sidecar_without_store_rewrite(spark, tmp_path):
    """A CURRENT-layout store whose sidecar was lost (wiped cache dir,
    partial restore) upgrades by rebuilding the sidecar only — the
    store's data files are untouched because batch_id is already
    present."""
    import glob
    import shutil

    from githubrepostorag_spark.operators.similarity import (
        _sidecar_exists,
        centroids_from_sidecar,
        ivf_sidecar_path,
        upgrade_ivf_store,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import _cell_centroids

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])], schema
        ),
        store,
    )
    files_before = sorted(glob.glob(store + "/cell=*/*.parquet"))
    shutil.rmtree(ivf_sidecar_path(store))
    assert upgrade_ivf_store(spark, store) is True
    assert _sidecar_exists(spark, store)
    # store data files byte-identical — only the sidecar was rebuilt
    assert sorted(glob.glob(store + "/cell=*/*.parquet")) == files_before
    got = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store).collect()
    }
    want = {
        r.centroid_label: list(r.centroid)
        for r in _cell_centroids(spark.read.parquet(store)).collect()
    }
    assert got == want


def test_ivf_sidecar_centroids_match_store_scan(spark, tmp_path):
    """The sidecar fold (sum-of-sums / sum-of-counts, 6dp) must equal
    the full-store recompute (`_cell_centroids`) exactly — including
    after a streaming append extended a cell. This is the parity that
    lets every centroid read skip the store scan."""
    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import _cell_centroids
    from githubrepostorag_spark.sources.testdata import load_table
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    path = str(tmp_path / "ivf")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(emb.filter(F.col("vec_id") % 5 != 0), path)
    batch = emb.filter(F.col("vec_id") % 5 == 0).limit(40)
    _embedding_gate_batch(
        batch, 7, path, str(tmp_path / "a"), str(tmp_path / "r"), max_cos=0.999
    )
    got = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path).collect()
    }
    want = {
        r.centroid_label: r.centroid
        for r in _cell_centroids(spark.read.parquet(path)).collect()
    }
    assert set(got) == set(want)
    for cell, c in want.items():
        assert got[cell] == pytest.approx(c, abs=1e-9), cell


@pytest.mark.slow
def test_stream_embedding_gate_sustained_flat_per_batch(spark, tmp_path):
    """Sustained embedding-gate smoke (round-7 verdict #3): N
    micro-batches against a store ~100x each batch. With sidecar
    centroids + the cell-pruned probe, per-batch cost is bounded by
    the BATCH (its cells), not the store — per-batch trigger times
    must stay flat across the run (loose bound: the max of the last
    half may not exceed 4x the median of the first half, warmup
    included in the first half)."""
    import hashlib
    import statistics
    import time

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.sources.testdata import load_table
    from githubrepostorag_spark.streaming.ingest import stream_embedding_gate

    store_path = str(tmp_path / "ivf")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(emb, store_path)  # 500 vectors
    dim = len(emb.first()["embedding"])

    def sign_vec(i: int) -> list[float]:
        # deterministic random-sign vector: cos ~ N(0, 1/sqrt(dim)) to
        # every store vector and to every other sign vector — far from
        # the 0.95 rejection bar, so all batches are fully accepted
        h = b"".join(
            hashlib.md5(f"{i}:{blk}".encode()).digest() for blk in range(dim // 16 + 1)
        )
        return [1.0 if (h[j // 8] >> (j % 8)) & 1 else -1.0 for j in range(dim)]

    n_batches, per_batch = 8, 5
    schema = "vec_id long, label int, embedding array<float>"
    src = str(tmp_path / "src")
    for b in range(n_batches):
        rows = [
            (9_000_000 + b * 100 + i, 0, sign_vec(b * per_batch + i))
            for i in range(per_batch)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").json(src)

    t0 = time.time()
    q = stream_embedding_gate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        store_path,
        str(tmp_path / "acc"),
        str(tmp_path / "rej"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    elapsed = time.time() - t0

    batches = [p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0]
    assert len(batches) >= n_batches  # genuinely multi-batch
    accepted = {r.vec_id for r in spark.read.parquet(str(tmp_path / "acc")).collect()}
    assert len(accepted) == n_batches * per_batch
    assert not os.path.exists(str(tmp_path / "rej")) or (
        spark.read.parquet(str(tmp_path / "rej")).count() == 0
    )

    trig = [
        int(p["durationMs"]["triggerExecution"])
        for p in batches
        if "durationMs" in p
    ]
    assert len(trig) >= n_batches
    half = len(trig) // 2
    head_median = statistics.median(trig[:half])
    assert max(trig[half:]) <= 4 * head_median + 500, trig
    docs_per_sec = (n_batches * per_batch) / elapsed
    # LOOSE floor: a quadratic store probe would land far below this
    # even on an idle box; a shared-load run must not flake it (observed
    # 0.58 docs/s under loadavg 11 with two concurrent Spark suites —
    # the flatness assertion above is the real regression pin, and
    # bench's stream_embedding_sustained entry records true throughput)
    assert docs_per_sec > 0.2, f"sustained embedding gate {docs_per_sec:.1f} docs/s"


def test_dedup_gate_probe_excludes_own_batch_on_replay(spark, tmp_path):
    """ADVICE r7 medium (text-gate side): after a crash between the
    store append and the checkpoint commit, the replayed batch's probe
    must EXCLUDE the rows its first attempt appended (batch_id stamp).
    Same-ID self-matches are already blocked by the probe's id
    inequality; the real window is TWO intra-batch near-dups — both
    pass the gate (LSH probing is batch-vs-store by design), both get
    appended, and an unguarded replay then matches each against the
    OTHER's appended copy, flipping both accepted→rejected."""
    from githubrepostorag_spark.operators.dedup import (
        append_to_dedup_store,
        incremental_near_dups,
        write_dedup_store,
    )

    schema = "doc_id long, text string"
    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog again and again"
    fresh = "completely fresh unrelated words appear in this document body"
    write_dedup_store(spark.createDataFrame([(1, base)], schema), store)
    # 100 near-copies the STORE doc; 101/102 near-copy EACH OTHER only
    batch = spark.createDataFrame(
        [(100, base + " tail"), (101, fresh), (102, fresh + " tail")],
        schema,
    )
    # decisions on the pre-append store: only 100 is a near-copy
    first = {
        r.new_id
        for r in incremental_near_dups(
            spark, store, batch, exclude_batch_id=0
        ).collect()
    }
    assert first == {100}
    # simulate the first attempt's append landing before the crash
    append_to_dedup_store(
        batch.filter(F.col("doc_id").isin([101, 102])), store, batch_id=0
    )
    # replay with the exclusion: identical decisions (101/102 not flipped)
    replay = {
        r.new_id
        for r in incremental_near_dups(
            spark, store, batch, exclude_batch_id=0
        ).collect()
    }
    assert replay == {100}
    # without the exclusion the replay matches 101 and 102 against each
    # other's appended copies — the contradictory-logs failure mode
    unguarded = {
        r.new_id for r in incremental_near_dups(spark, store, batch).collect()
    }
    assert unguarded == {100, 101, 102}


def test_takedown_during_replay_not_resurrected_embedding_gate(spark, tmp_path):
    """r11 verdict ask #3 (embedding side): a takedown BETWEEN a
    batch's first attempt and its at-least-once replay must not be
    undone by the replay. The guard written by delete_from_ivf_store
    makes the replayed batch drop the deleted vec_ids; a GENUINE
    resubmission in a LATER batch passes (watermark semantics)."""
    from githubrepostorag_spark.operators.similarity import (
        delete_from_ivf_store,
        write_ivf_store,
    )
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    acc, rej = str(tmp_path / "acc"), str(tmp_path / "rej")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])],
            schema,
        ),
        store,
    )
    batch = spark.createDataFrame(
        [(100, 0, [0.0, 0.0, 1.0, 0.0]), (101, 0, [0.0, 0.0, 0.0, 1.0])],
        schema,
    )
    # first attempt: both fresh vectors append (crash before ckpt commit)
    _embedding_gate_batch(batch, 5, store, acc, rej, max_cos=0.95)
    assert {
        r.vec_id for r in spark.read.parquet(store).collect()
    } == {1, 2, 100, 101}
    # takedown lands between the attempt and the replay
    assert delete_from_ivf_store(spark, store, F.col("vec_id") == 101) == 1
    n_acc_101 = spark.read.parquet(acc).filter("vec_id = 101").count()
    # the REPLAY (same batch_id): guard drops 101, 100 re-derives
    _embedding_gate_batch(batch, 5, store, acc, rej, max_cos=0.95)
    live = spark.read.parquet(store)
    assert live.filter("vec_id = 101").count() == 0  # NOT resurrected
    assert live.filter("vec_id = 100").count() == 2  # dup rows, read-deduped
    # no new accept-log row for the deleted vec either
    assert spark.read.parquet(acc).filter("vec_id = 101").count() == n_acc_101
    # a LATER batch resubmitting vec 101 is a fresh decision: admitted
    resub = spark.createDataFrame(
        [(101, 0, [0.0, 0.0, 0.0, 1.0])], schema
    )
    _embedding_gate_batch(resub, 6, store, acc, rej, max_cos=0.95)
    assert spark.read.parquet(store).filter("vec_id = 101").count() == 1


def test_takedown_during_replay_not_resurrected_dedup_gate(spark, tmp_path):
    """r11 verdict ask #3 (text side): run the REAL stream_dedup_gate,
    take down an accepted doc, then force a full replay of the same
    batch (fresh checkpoint over the same source). The tombstone-aware
    gate drops the taken-down doc (watermark covers the replayed
    batch_id), so neither the store nor the accept log resurrects it;
    and post-takedown probe decisions equal a from-scratch store
    rebuilt from the surviving corpus."""
    import shutil

    from githubrepostorag_spark.operators.dedup import (
        compact_dedup_store,
        incremental_near_dups,
        write_dedup_store,
    )
    from githubrepostorag_spark.plans.index_lifecycle import takedown
    from githubrepostorag_spark.streaming.ingest import stream_dedup_gate

    doomed_text = "the quick brown fox jumps over the lazy dog " * 30
    fresh_text = "completely different content about spark shuffles " * 30
    store = str(tmp_path / "dedup_store")
    corpus = str(tmp_path / "corpus")
    src = str(tmp_path / "src")
    acc = str(tmp_path / "accepted")
    rej = str(tmp_path / "rejected")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    write_dedup_store(spark.createDataFrame([(1, fresh_text)], schema), store)
    spark.createDataFrame(
        [(1, "s", fresh_text)], "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(corpus)
    # batch 0: doc 100 (doomed-to-be) + near-copy guard doc
    spark.createDataFrame([(100, doomed_text)], schema).write.mode(
        "overwrite"
    ).json(src)
    q = stream_dedup_gate(
        spark.readStream.schema(schema).json(src), store, acc, rej, ckpt
    )
    q.awaitTermination(300)
    assert {r.doc_id for r in spark.read.parquet(acc).collect()} == {100}
    n_acc_before = spark.read.parquet(acc).count()

    # the composed takedown (corpus + dedup store; no IVF here)
    audit = {
        r.step: r.value
        for r in takedown(spark, corpus, None, store, [100]).collect()
    }
    assert audit["n_requested"] == 1 and audit["n_tombstoned"] == 1
    assert audit["n_ivf_deleted"] == -1  # skipped store audited as -1
    # doc 100 was never in the corpus parquet: nothing removed there
    assert audit["n_corpus_removed"] == 0

    # REPLAY: wipe the checkpoint so the same source re-processes as
    # the same batch id — the at-least-once worst case
    shutil.rmtree(ckpt)
    q = stream_dedup_gate(
        spark.readStream.schema(schema).json(src), store, acc, rej, ckpt
    )
    q.awaitTermination(300)
    # not resurrected: no NEW accept row, no live store row
    assert spark.read.parquet(acc).count() == n_acc_before
    probe = spark.createDataFrame([(999, doomed_text + " tail")], schema)
    assert (
        incremental_near_dups(spark, store, probe, min_est_jaccard=0.5).count()
        == 0
    )
    # probe decisions equal a from-scratch rebuild of the survivors
    rebuilt = str(tmp_path / "rebuilt")
    write_dedup_store(
        spark.read.parquet(corpus).select("doc_id", "text"), rebuilt
    )
    for p in (
        probe,
        spark.createDataFrame([(998, fresh_text + " tail")], schema),
    ):
        got = {
            (r.new_id, r.old_id)
            for r in incremental_near_dups(
                spark, store, p, min_est_jaccard=0.5
            ).collect()
        }
        want = {
            (r.new_id, r.old_id)
            for r in incremental_near_dups(
                spark, rebuilt, p, min_est_jaccard=0.5
            ).collect()
        }
        assert got == want
    # compaction purges the masked rows physically; decisions unchanged
    compact_dedup_store(spark, store)
    assert (
        incremental_near_dups(spark, store, probe, min_est_jaccard=0.5).count()
        == 0
    )


def test_compact_ivf_store_preserves_decisions_and_shrinks_files(spark, tmp_path):
    """Compaction must (a) cut the per-cell file count the gate's
    appends accumulated, (b) keep centroids bit-identical, (c) keep
    probe decisions identical, and (d) reconcile replay duplicates."""
    import glob
    import os as _os

    from githubrepostorag_spark.operators.similarity import (
        broadcast_knn_probe,
        centroids_from_sidecar,
        compact_ivf_store,
        write_ivf_store,
    )
    from githubrepostorag_spark.sources.testdata import load_table
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    path = str(tmp_path / "ivf")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(emb.filter(F.col("vec_id") % 5 != 0), path)
    # several appends + one simulated replay (duplicate rows on disk)
    held = emb.filter(F.col("vec_id") % 5 == 0).limit(30).collect()
    for b in range(3):
        rows = held[b * 10:(b + 1) * 10]
        batch = spark.createDataFrame(rows, emb.schema)
        _embedding_gate_batch(
            batch, b, path, str(tmp_path / "a"), str(tmp_path / "r"), 0.9999
        )
    batch = spark.createDataFrame(held[20:30], emb.schema)
    _embedding_gate_batch(  # replay of batch 2
        batch, 2, path, str(tmp_path / "a"), str(tmp_path / "r"), 0.9999
    )

    cents_before = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path).collect()
    }
    n_logical = spark.read.parquet(path).dropDuplicates(
        ["vec_id", "batch_id"]
    ).count()
    files_before = len(glob.glob(_os.path.join(path, "cell=*", "*.parquet")))

    compact_ivf_store(spark, path)

    files_after = len(glob.glob(_os.path.join(path, "cell=*", "*.parquet")))
    assert files_after < files_before
    post = spark.read.parquet(path)
    assert post.count() == n_logical  # replay duplicates reconciled
    assert post.select("batch_id").distinct().collect()[0][0] == -1
    cents_after = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path).collect()
    }
    assert set(cents_after) == set(cents_before)
    for c in cents_before:
        assert cents_after[c] == pytest.approx(cents_before[c], abs=1e-12), c
    # probe decisions unchanged through compaction
    probe_batch = spark.createDataFrame(held[:5], emb.schema)
    from githubrepostorag_spark.operators.similarity import _assign_cells

    frozen = centroids_from_sidecar(spark, path)
    assigned = _assign_cells(probe_batch, frozen).select(
        "cell", "vec_id", "embedding"
    )
    got = broadcast_knn_probe(
        post.select("cell", "vec_id", F.col("ve").alias("embedding")), assigned, k=1
    ).collect()
    # every probed vector finds its own first-append twin at cosine 1.0
    assert {r.vec_id for r in got} == {r["vec_id"] for r in held[:5]}
    assert all(r.score == 1.0 for r in got)


def test_compact_dedup_store_preserves_probe(spark, tmp_path):
    """Text-store twin: compaction dedups replayed appends, folds
    batch_id, and the incremental probe returns identical hits."""
    from githubrepostorag_spark.operators.dedup import (
        append_to_dedup_store,
        compact_dedup_store,
        incremental_near_dups,
        write_dedup_store,
    )

    schema = "doc_id long, text string"
    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog again and again"
    write_dedup_store(spark.createDataFrame([(1, base)], schema), store)
    extra = spark.createDataFrame(
        [(2, "some completely fresh words live here in this body")], schema
    )
    append_to_dedup_store(extra, store, batch_id=0)
    append_to_dedup_store(extra, store, batch_id=0)  # replay duplicate

    probe = spark.createDataFrame([(100, base + " tail")], schema)
    before = sorted(
        map(tuple, incremental_near_dups(spark, store, probe).collect())
    )
    compact_dedup_store(spark, store)
    sigs = spark.read.parquet(store + "/signatures")
    assert sigs.count() == 2  # replay duplicate reconciled
    assert sigs.select("batch_id").distinct().collect()[0][0] == -1
    after = sorted(
        map(tuple, incremental_near_dups(spark, store, probe).collect())
    )
    assert after == before and len(after) == 1


def test_upgrade_rebuild_reconciles_replay_duplicates(spark, tmp_path):
    """A lost-sidecar rebuild over a store holding replay-duplicated
    (vec_id, batch_id) rows must reproduce the READ-side reconciled
    centroids — counting the copies twice would silently shift every
    rebuilt centroid — and must keep per-batch partial keys so a
    still-pending replay's exclude_batch_id still removes its first
    attempt's contribution."""
    import shutil

    import pytest as _pt

    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        ivf_sidecar_path,
        read_ivf_sidecar,
        upgrade_ivf_store,
        write_ivf_store,
    )
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    acc, rej = str(tmp_path / "acc"), str(tmp_path / "rej")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])], schema
        ),
        store,
    )
    batch = spark.createDataFrame(
        [(100, 0, [0.7, 0.7, 0.0, 0.0]), (101, 1, [0.0, 0.02, 0.999, 0.0])], schema
    )
    for _attempt in range(2):  # replay: duplicate (vec_id, batch_id=5) rows
        _embedding_gate_batch(batch, 5, store, acc, rej, max_cos=0.9999)
    assert (
        spark.read.parquet(store).count()
        > spark.read.parquet(store).dropDuplicates(["vec_id", "batch_id"]).count()
    ), "fixture must actually contain replay duplicates"
    want = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store).collect()
    }
    want_ex = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store, exclude_batch_id=5).collect()
    }
    shutil.rmtree(ivf_sidecar_path(store))
    assert upgrade_ivf_store(spark, store) is True
    got = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store).collect()
    }
    assert set(got) == set(want)
    for c in want:
        assert got[c] == _pt.approx(want[c], abs=1e-9), c
    # replay-exclusion keys survived: excluding the batch still recovers
    # the pre-batch codebook, and the rebuilt sidecar is per-batch keyed
    got_ex = {
        r.centroid_label: list(r.centroid)
        for r in centroids_from_sidecar(spark, store, exclude_batch_id=5).collect()
    }
    assert set(got_ex) == set(want_ex)
    for c in want_ex:
        assert got_ex[c] == _pt.approx(want_ex[c], abs=1e-9), c
    bids = {
        r.batch_id
        for r in read_ivf_sidecar(spark, store).select("batch_id").distinct().collect()
    }
    assert bids == {-1, 5}, bids


def test_np_assign_cells_matches_spark_on_degenerate_codebook(spark):
    """The driver-side numpy assignment and the Spark kernel
    (_assign_cells) must agree on hostile inputs: a zero-norm centroid
    (NULL cosine in Spark, NaN in raw numpy) must never win, a
    zero-norm batch row falls to the smallest cell id, and a negative
    finite sim still beats a degenerate one."""
    import numpy as np

    from githubrepostorag_spark.operators.similarity import _assign_cells
    from githubrepostorag_spark.streaming.ingest import np_assign_cells

    cent_cells = [0, 1, 2]
    C = np.array(
        [
            [0.0, 0.0, 0.0, 0.0],  # degenerate centroid
            [1.0, 0.0, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0],
        ]
    )
    B = np.array(
        [
            [0.9, 0.1, 0.0, 0.0],  # clear finite winner (cell 1)
            [0.1, 0.9, 0.0, 0.0],  # clear finite winner (cell 2)
            [0.0, 0.0, 0.0, 0.0],  # zero row: every sim degenerate
            [-1.0, 0.0, 0.0, 0.0],  # best FINITE sim is 0.0 (cell 2)
        ]
    )
    got = list(np_assign_cells(B, cent_cells, C))
    emb = spark.createDataFrame(
        [(i, 0, [float(x) for x in row]) for i, row in enumerate(B)],
        "vec_id long, label int, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(c, [float(x) for x in C[j]]) for j, c in enumerate(cent_cells)],
        "centroid_label int, centroid array<double>",
    )
    want = {
        r.vec_id: r.cell for r in _assign_cells(emb, cents).collect()
    }
    assert got == [want[i] for i in range(len(B))]
    assert got == [1, 2, 0, 2]


@pytest.mark.slow
def test_embedding_gate_batch_size_amortizes_fixed_cost(spark, tmp_path):
    """The gate's per-trigger cost is FIXED + O(batch): processing the
    same 40 vectors as one batch must be decisively cheaper than as
    eight 5-vector batches (which pay the sidecar read, probe job and
    four writes eight times) — the amortization story behind the low
    absolute docs/s of the small-batch sustained bench. Decisions are
    identical either way."""
    import hashlib
    import time

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.sources.testdata import load_table
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(emb.first()["embedding"])

    def sign_vec(i: int) -> list[float]:
        h = b"".join(
            hashlib.md5(f"{i}:{blk}".encode()).digest()
            for blk in range(dim // 16 + 1)
        )
        return [1.0 if (h[j // 8] >> (j % 8)) & 1 else -1.0 for j in range(dim)]

    schema = "vec_id long, label int, embedding array<float>"
    rows = [(9_000_000 + i, 0, sign_vec(i)) for i in range(40)]

    stores = {}
    for name in ("many", "one"):
        p = str(tmp_path / f"ivf_{name}")
        write_ivf_store(emb, p)
        stores[name] = p

    t0 = time.time()
    for b in range(8):
        _embedding_gate_batch(
            spark.createDataFrame(rows[b * 5 : (b + 1) * 5], schema),
            b,
            stores["many"],
            str(tmp_path / "acc_many"),
            str(tmp_path / "rej_many"),
            max_cos=0.95,
        )
    t_many = time.time() - t0

    t0 = time.time()
    _embedding_gate_batch(
        spark.createDataFrame(rows, schema),
        0,
        stores["one"],
        str(tmp_path / "acc_one"),
        str(tmp_path / "rej_one"),
        max_cos=0.95,
    )
    t_one = time.time() - t0

    acc_many = {r.vec_id for r in spark.read.parquet(str(tmp_path / "acc_many")).collect()}
    acc_one = {r.vec_id for r in spark.read.parquet(str(tmp_path / "acc_one")).collect()}
    assert acc_many == acc_one == {r[0] for r in rows}
    # generous margin so shared-box load can't flake it: 8x the fixed
    # overhead must show up as AT LEAST a 20% gap
    assert t_one < 0.8 * t_many, (t_one, t_many)


def test_stream_psi_monitor_identical_zero_shifted_flagged(spark, tmp_path):
    """r9 verdict ask #5: the always-on PSI monitor scores every
    micro-batch against decile edges frozen on the history side. A
    batch that IS the history distribution scores PSI = 0.0 exactly
    (b2 == b1, n2 == n1 → every smoothed term vanishes) and is not
    alarmed; a trigger whose mass shifted past every fitted edge is
    alarmed; an event type the history never saw gets its own alarmed
    report row (psi NULL) instead of being silently unscored."""
    from githubrepostorag_spark.streaming.events import stream_psi_monitor

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, event_type string, value double"
    hist_rows = [(i, "pay", float(i % 100)) for i in range(1000)] + [
        (10_000 + i, "tip", float(i % 10)) for i in range(200)
    ]
    history = spark.createDataFrame(hist_rows, schema)

    # trigger 1: the history distribution itself
    spark.createDataFrame(hist_rows, schema).write.mode("overwrite").json(src)
    q = stream_psi_monitor(
        spark.readStream.schema(schema).json(src), history, rep, ckpt
    )
    q.awaitTermination(300)
    r1 = {r.event_type: r for r in spark.read.parquet(rep).collect()}
    assert r1["pay"].psi == 0.0 and not r1["pay"].alarmed
    assert r1["tip"].psi == 0.0 and not r1["tip"].alarmed
    assert r1["pay"].n_hist == 1000 and r1["pay"].n_batch == 1000

    # trigger 2: 'pay' mass shifted past every edge + an unseen type
    shifted = [(50_000 + i, "pay", 1e6 + i) for i in range(500)] + [
        (60_000 + i, "refund", float(i)) for i in range(50)
    ]
    spark.createDataFrame(shifted, schema).write.mode("append").json(src)
    q2 = stream_psi_monitor(
        spark.readStream.schema(schema).json(src), history, rep, ckpt
    )
    q2.awaitTermination(300)
    rows = spark.read.parquet(rep).collect()
    b2 = max(r.batch_id for r in rows)
    r2 = {r.event_type: r for r in rows if r.batch_id == b2}
    assert r2["pay"].alarmed and r2["pay"].psi > 0.25
    assert r2["refund"].alarmed and r2["refund"].psi is None
    assert r2["refund"].n_hist == 0 and r2["refund"].n_batch == 50
    assert "tip" not in r2  # absent from the trigger → nothing to score


def test_embedding_gate_psi_identical_zero_shifted_flagged(spark, tmp_path):
    """r10 verdict ask #5: the embedding gate's per-trigger PSI over
    the distance-to-assigned-centroid distribution. A batch whose
    distance distribution IS the store's (the store's own vectors
    re-arriving) scores PSI = 0.0 exactly; a batch of far-off-centroid
    vectors lands its whole mass in the top decile and alarms."""
    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.streaming.ingest import (
        _embedding_gate_batch,
        embedding_psi_reference,
    )

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    # two clusters with per-vector jitter so the distance distribution
    # has real spread (distinct deciles, not a single point mass)
    rows = []
    for i in range(20):
        rows.append((i, 0, [1.0, 0.01 * (i % 7), 0.002 * i, 0.0]))
        rows.append((100 + i, 1, [0.01 * (i % 5), 1.0, 0.0, 0.003 * i]))
    base = spark.createDataFrame(rows, schema)
    write_ivf_store(base, store)
    ref = embedding_psi_reference(spark, store)
    assert len(ref.edges) == 9 and len(ref.b1) == 10
    assert ref.n_hist == 40 and sum(ref.b1) == 40

    audit = str(tmp_path / "psi_audit")
    acc, rej = str(tmp_path / "acc"), str(tmp_path / "rej")
    # identical distribution: the store's own vectors as the batch
    _embedding_gate_batch(
        base, 7, store, acc, rej, max_cos=2.0,  # max_cos>1: nothing rejected,
        psi_ref=ref, psi_audit_path=audit,      # gate outcome irrelevant here
    )
    got = {r.batch_id: r for r in spark.read.parquet(audit).collect()}
    assert got[7].n_batch == 40
    assert got[7].psi == 0.0
    assert got[7].alarmed is False

    # shifted: vectors near-orthogonal to both centroids -> top decile
    far = spark.createDataFrame(
        [(500 + i, 0, [0.0, 0.01 * i, 1.0, 0.5]) for i in range(10)], schema
    )
    _embedding_gate_batch(
        far, 8, store, acc, rej, max_cos=2.0,
        psi_ref=ref, psi_audit_path=audit,
    )
    got = {r.batch_id: r for r in spark.read.parquet(audit).collect()}
    assert got[8].n_batch == 10
    assert got[8].psi is not None and got[8].psi > 0.25
    assert got[8].alarmed is True


def test_stream_embedding_gate_psi_wiring(spark, tmp_path):
    """stream_embedding_gate(psi_audit_path=...) fits the frozen grid
    once at setup and appends one PSI row per trigger; without the
    opt-in no audit directory appears."""
    import os

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.streaming.ingest import stream_embedding_gate

    schema = "vec_id long, label int, embedding array<float>"
    store = str(tmp_path / "ivf")
    src = str(tmp_path / "vsrc")
    acc, rej = str(tmp_path / "vacc"), str(tmp_path / "vrej")
    ckpt = str(tmp_path / "vckpt")
    audit = str(tmp_path / "psi")
    write_ivf_store(
        spark.createDataFrame(
            [(i, i % 2, [1.0 + 0.01 * i, float(i % 3), 0.0, 0.0])
             for i in range(8)],
            schema,
        ),
        store,
    )
    spark.createDataFrame(
        [(100, 0, [0.999, 0.02, 0.0, 0.0]), (101, 0, [0.0, 0.02, 0.999, 0.0])],
        schema,
    ).coalesce(1).write.mode("append").json(src)
    q = stream_embedding_gate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        store, acc, rej, ckpt, psi_audit_path=audit,
    )
    q.awaitTermination(300)
    rows = spark.read.parquet(audit).collect()
    assert len(rows) == 1 and rows[0].n_batch == 2
    assert rows[0].psi is not None
    # the gate itself still worked (one accept or reject per vector)
    n_acc = spark.read.parquet(acc).count()
    assert n_acc >= 1


def test_embedding_psi_reference_refuses_degenerate_store(spark, tmp_path):
    """Round-11 ADVICE close: a store whose EVERY row has a degenerate
    (zero-norm -> NULL-cosine) distance must make the PSI fit REFUSE
    (ValueError), not return a pure-smoothing reference that scores
    every batch with finite-but-meaningless PSI."""
    import pytest as _pytest

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.streaming.ingest import embedding_psi_reference

    store = str(tmp_path / "ivf_degen")
    rows = [(i, 0, [0.0, 0.0, 0.0, 0.0]) for i in range(8)]
    base = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    write_ivf_store(base, store)
    with _pytest.raises(ValueError, match="no finite-distance rows"):
        embedding_psi_reference(spark, store)
