"""Component tests for the round-2 surface additions: D3 selector
repair, J2 drill-down, V6/S7 health, S1 repo-directory source, S3 raw
dump, and the watermarked streaming event aggregate."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.llm.stub import (
    DeterministicLLM,
    clean_selector_response,
    is_selector_prompt,
)
from githubrepostorag_spark.plans.health import health_check
from githubrepostorag_spark.plans.ingest import ingest_pipeline
from githubrepostorag_spark.plans.parity import drilldown
from githubrepostorag_spark.sources.repodir import (
    read_repo_directories,
    read_repo_directory,
)
from githubrepostorag_spark.sources.testdata import load_table
from githubrepostorag_spark.streaming.events import stream_tumbling_counts
from tests.fixtures_corpus import CORPUS, corpus_df

SF = "/root/testdata/sf0.001"


# ---------------- D3 selector repair (qwen_llm.py:26-102) ----------------


def test_selector_prompt_detection():
    assert is_selector_prompt("Choice 1: foo\nChoice 2: bar\npick one")
    assert not is_selector_prompt("Summarize this file")


def test_selector_response_ladder():
    # repeated-line dedup caps at 3 unique lines, then number extraction
    assert clean_selector_response("2\n2\n2\n2") == "2"
    assert clean_selector_response('{"choice": 3, "reason": "best"}') == "3"
    assert clean_selector_response("I think option 4 fits") == "4"
    assert clean_selector_response("") == "1"
    assert clean_selector_response("no digits here at all") == "1"


# ---------------- J2 drill-down ----------------


def test_drill_down_roundtrip(spark):
    docs = load_table(spark, SF, "documents")
    dd = drilldown(docs)
    from githubrepostorag_spark.plans.parity import _chunks_with_ids

    n_chunks = _chunks_with_ids(docs).count()
    # every chunk reappears exactly once under its file's rollup
    assert dd.count() == n_chunks
    assert dd.select("node_id").distinct().count() == n_chunks


# ---------------- V6/S7 health ----------------


@pytest.fixture(scope="module")
def store(spark):
    res = ingest_pipeline(
        corpus_df(spark), ingest_run_id="run-health", llm_factory=DeterministicLLM,
        namespace="default",
    )
    rows = res.rows.persist()
    rows.count()
    yield rows
    rows.unpersist()


def test_health_check_up(spark, store):
    h = health_check(spark, store, DeterministicLLM())
    assert h["status"] == "UP"
    assert h["checks"]["storage"]["scope_counts"]["chunk"] > 0
    assert h["checks"]["retrieval"]["hits"] == 1  # k=1 probe
    assert h["checks"]["llm"]["status"] == "UP"


# ---------------- S1 repo-directory source + S3 dump ----------------


def test_repodir_source_roundtrip(spark, tmp_path):
    base = tmp_path / "workspace"
    for repo, file_path, text in CORPUS:
        p = base / repo / file_path
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)

    one = read_repo_directory(spark, str(base / "alpha"))
    rows = {r["file_path"]: r for r in one.collect()}
    assert set(rows) == {fp for rp, fp, _ in CORPUS if rp == "alpha"}
    assert rows["src/util.py"]["text"].startswith("def helper")
    assert rows["src/util.py"]["repo"] == "alpha"

    docs = read_repo_directories(spark, str(base))
    assert docs.count() == len(CORPUS)

    # the source feeds the real pipeline, incl. the S3 raw dump
    dump = str(tmp_path / "raw_dump")
    res = ingest_pipeline(
        docs.drop("branch"),
        ingest_run_id="run-dir",
        llm_factory=DeterministicLLM,
        raw_dump_path=dump,
    )
    assert res.chunks.count() > 0
    dumped = spark.read.json(dump)
    assert dumped.count() == len(CORPUS)


def test_repodir_workspace_is_one_scan(spark, tmp_path):
    """Every repo of a workspace comes from one binaryFile scan; the
    repo and repo-relative path come from each file's path."""
    base = tmp_path / "work space+1"
    for repo, file_path, text in CORPUS + [("gamma", "lib/x.py", "x = 1\n")]:
        p = base / repo / file_path
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    (base / "stray.txt").write_text("not a repo")

    docs = read_repo_directories(spark, str(base))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan binaryFile") == 1
    assert docs.columns == ["repo", "branch", "file_path", "text"]
    got = sorted((r.repo, r.file_path, r.text) for r in docs.collect())
    assert got == sorted(CORPUS + [("gamma", "lib/x.py", "x = 1\n")])

    empty = tmp_path / "empty_ws"
    empty.mkdir()
    with pytest.raises(ValueError):
        read_repo_directories(spark, str(empty))


def test_repodir_skips_files_that_are_not_utf8(spark, tmp_path):
    """A binary file the skip lists miss (a font) yields no document,
    and the workspace around it still ingests."""
    src = tmp_path / "ws" / "r1" / "src"
    src.mkdir(parents=True)
    (src / "font.woff").write_bytes(bytes.fromhex("fffe006162638081"))
    (src / "app.py").write_text("def app():\n    return 1\n")

    docs = read_repo_directories(spark, str(tmp_path / "ws"))
    res = ingest_pipeline(
        docs.drop("branch"), ingest_run_id="run-utf8", llm_factory=DeterministicLLM
    )
    stored = {(r.scope, r.file_path) for r in res.rows.select("scope", "file_path").collect()}
    assert ("chunk", "src/app.py") in stored
    assert [r.file_path for r in docs.collect()] == ["src/app.py"]


# ---------------- notebook helpers ----------------


def test_kernel_language_detection():
    from githubrepostorag_spark.operators.chunking import (
        detect_kernel_language,
        normalize_notebook_text,
    )
    from tests.fixtures_corpus import NOTEBOOK

    assert detect_kernel_language(NOTEBOOK) == "python"
    assert detect_kernel_language("not json") == "python"  # reference default
    # malformed notebook → raw passthrough (transform_service fallback)
    assert normalize_notebook_text("{broken") == "{broken"


# ---------------- streaming events (watermarked tumbling) ----------------


def test_stream_sessionize_stateful_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: state carries across
    micro-batches; the final per-user totals equal batch sessionize."""
    from githubrepostorag_spark.operators.eventops import sessionize
    from githubrepostorag_spark.streaming.events import stream_sessionize

    import time as _time

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "sess_src")
    # three TIME-ORDERED files → three micro-batches in event-time order
    # (gap sessions are order-sensitive; the file source replays files
    # by modification time) → real cross-batch state carry-over
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    bounds = [lo, lo + span, lo + 2 * span, hi]
    for i in range(3):
        upper_ok = (
            F.col("ts") <= bounds[i + 1] if i == 2 else F.col("ts") < bounds[i + 1]
        )
        events.filter((F.col("ts") >= bounds[i]) & upper_ok).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)  # distinct mtimes → deterministic replay order

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got_df = spark.table("sess_mem").toPandas()
    # update mode emits one row per (user, batch); n_events grows
    # monotonically, so the max-n_events row is the final state
    got_final = {
        int(r["user_id"]): (int(r["n_sessions"]), int(r["n_events"]))
        for _, r in got_df.sort_values("n_events").iterrows()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in sessionize(events).collect()
    }
    assert got_final == want


def test_stream_tumbling_matches_batch(spark, tmp_path):
    from githubrepostorag_spark.operators.eventops import tumbling_counts

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("tumbling_mem").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_counts(events).collect()
    }
    assert got == want


def test_stream_sliding_matches_batch(spark, tmp_path):
    from githubrepostorag_spark.operators.eventops import sliding_counts
    from githubrepostorag_spark.streaming.events import stream_sliding_counts

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "events_sliding_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_sliding_counts(stream)
        .writeStream.format("memory")
        .queryName("sliding_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.table("sliding_mem").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in sliding_counts(events).collect()
    }
    assert got == want


def test_stream_interval_join_attributes_within_lag(spark, tmp_path):
    from githubrepostorag_spark.streaming.events import stream_interval_join

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    clicks = spark.createDataFrame(
        [
            (1, "2024-01-01 01:00:00", 7, "click"),
            (2, "2024-01-01 03:00:00", 7, "click"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    views = spark.createDataFrame(
        [
            (10, "2024-01-01 00:45:00", 7, "view"),   # within 30 min of click 1
            (11, "2024-01-01 00:10:00", 7, "view"),   # too early for click 1
            (12, "2024-01-01 02:59:00", 7, "view"),   # within 30 min of click 2
            (13, "2024-01-01 02:59:00", 8, "view"),   # other user
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))

    c_src, v_src = str(tmp_path / "clicks"), str(tmp_path / "views")
    clicks.write.parquet(c_src)
    views.write.parquet(v_src)
    c_stream = spark.readStream.schema(spark.read.parquet(c_src).schema).parquet(c_src)
    v_stream = spark.readStream.schema(spark.read.parquet(v_src).schema).parquet(v_src)

    q = (
        stream_interval_join(c_stream, v_stream)
        .writeStream.format("memory")
        .queryName("attr_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {(r["click_id"], r["view_id"]) for r in spark.table("attr_mem").collect()}
    assert got == {(1, 10), (2, 12)}


def test_corpus_formats_roundtrip(spark, tmp_path):
    """parquet/ORC/JSON/CSV corpus round-trips preserve rows and schema
    — including CSV text payloads with embedded newlines and quotes
    (the interchange case that breaks naive readers)."""
    from githubrepostorag_spark.sources.formats import read_corpus, write_corpus

    rows = [
        (1, 'line one\nline "two" with, commas', "en", "s0", 33),
        (2, "plain", "en", "s1", 5),
        (3, "", "zh", "s0", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    want = sorted(rows)
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / f"corpus_{fmt}")
        write_corpus(df, path, fmt)
        back = read_corpus(spark, path, fmt)
        got = sorted(
            (r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in back.collect()
        )
        if fmt in ("json", "csv"):
            # both serialize empty string indistinguishably from null —
            # a documented interchange caveat, not silent corruption
            got = [(a, b if b is not None else "", c, d, e) for a, b, c, d, e in got]
        assert got == want, fmt
        assert back.schema == df.schema, fmt


def test_store_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on a parquet store: a new writer generation
    adds a column; mergeSchema reads span both generations with nulls
    backfilled for the old files — the store can evolve without a
    rewrite (the production concern every long-lived dataset hits)."""
    path = str(tmp_path / "evolve")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(3, "c", 0.9)], "id long, name string, quality double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "quality"}
    rows = {r.id: r.quality for r in merged.collect()}
    assert rows[3] == 0.9 and rows[1] is None and rows[2] is None
    # without mergeSchema the footer-picked schema may omit the new
    # column — the test pins that the OPTION is what makes it safe


def test_parse_mem_bytes_unitless_is_mib():
    """Unit-less spark.driver.memory is MiB in Spark (byteStringAsMb);
    parsing '2048' as bytes would collapse driver_bound_rows to its
    floor and silently disable every driver fast path (advisor r4)."""
    from githubrepostorag_spark.session import _parse_mem_bytes

    assert _parse_mem_bytes("2048") == 2048 * (1 << 20)
    assert _parse_mem_bytes("16g") == 16 * (1 << 30)
    assert _parse_mem_bytes("2048m") == 2048 * (1 << 20)
    assert _parse_mem_bytes("512b") == 512


def test_pagerank_guard_accepts_integral_rejects_string(spark):
    """The driver fast-path guard must be isinstance-based (str(dtype)
    repr varies across PySpark versions) and must check BOTH endpoints:
    a string dst reaching np.unique would poison the concatenation."""
    from githubrepostorag_spark.operators.graph import pagerank

    e_int = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = pagerank(e_int, iters=2)
    assert {r.node for r in out.collect()} == {1, 2}
    # mixed: integral src, string dst -> distributed path, same contract
    e_str = spark.createDataFrame(
        [(1, "b"), (2, "a")], "src long, dst string"
    )
    out2 = pagerank(
        e_str.selectExpr("cast(src as string) src", "dst"), iters=2
    )
    assert out2.count() == 4  # {1,2,a,b}


def test_compare_bench_handles_disjoint_files(tmp_path):
    """BENCH_ONLY adjudication partials can share zero entries with a
    full run — the comparator must still print added/removed instead of
    crashing on the empty shared-median index."""
    import json
    import subprocess
    import sys

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"value": 1.0, "queries": {"a": 1.0}}))
    new.write_text(json.dumps({"value": 2.0, "queries": {"b": 2.0}}))
    out = subprocess.run(
        [sys.executable, "tools/compare_bench.py", str(old), str(new)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    assert "new entries (1)" in out.stdout and "removed entries (1)" in out.stdout
