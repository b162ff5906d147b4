"""Agent-loop golden tests (reference: agent_graph.py:178-543).

Runs GraphRAGAgent.run_batch over the ingested fixture store with
scripted LLMs, asserting the observable control-flow semantics: event
sequences, heuristic fallbacks on malformed LLM output, the fixed
stage-down ladder, filter accretion, the ≤3 attempt cap, and
cross-run determinism."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.operators import retrieval as R
from githubrepostorag_spark.plans.agent import GraphRAGAgent
from githubrepostorag_spark.plans.ingest import ingest_pipeline
from tests.fixtures_corpus import corpus_df


class SeqLLM:
    """Per-pattern response sequences (last response repeats); falls
    back to the DeterministicLLM defaults for unmatched prompts."""

    def __init__(self, script):
        self.script = [(re.compile(pat, re.S), list(resps)) for pat, resps in script]
        self.base = DeterministicLLM()

    def complete(self, prompt: str) -> str:
        for pat, resps in self.script:
            if pat.search(prompt):
                return resps.pop(0) if len(resps) > 1 else resps[0]
        return self.base.complete(prompt)


@pytest.fixture(scope="module")
def store(spark):
    res = ingest_pipeline(
        corpus_df(spark), ingest_run_id="run-agent", llm_factory=DeterministicLLM,
        namespace="default",
    )
    rows = res.rows.persist()
    rows.count()
    yield rows
    rows.unpersist()


def test_happy_path_events_and_citations(spark, store):
    agent = GraphRAGAgent(spark, store, DeterministicLLM())
    [st] = agent.run_batch(
        [{"job_id": "j1", "query": "Tell me about the projects in this workspace"}]
    )
    names = [e["event"] for e in st.events]
    assert names[:2] == ["started", "plan"]
    assert names[-2:] == ["synthesize", "final"]
    assert "retrieve" in names and "judge" in names
    # overview question → project scope (stub L7 contract)
    assert st.events[1]["scope"] == "project"
    assert st.docs, "retrieval returned no documents"
    assert "[1]" in st.answer  # synthesized citations
    assert st.sources and st.sources[0]["block"] == 1
    assert st.sources[0]["metadata"]["scope"] == "repo"
    assert len(st.sources[0]["text"]) <= 1200


def test_malformed_llm_stage_down_ladder(spark, store):
    # plan + judge always return garbage → heuristic scope, then the
    # reference's fixed stage-down coverages 0.2/0.3/0.4
    llm = SeqLLM(
        [
            ("Choose the best search scope", ["not json at all"]),
            ("Judge if the retrieved content", ["<garbage/>"]),
            ("Rewrite this codebase question", ["x"]),  # <10 chars → fallback
            ("Generate 3-4 semantically related", ["not a json array"]),
        ]
    )
    agent = GraphRAGAgent(spark, store, llm)
    [st] = agent.run_batch([{"job_id": "j2", "query": "how are documents stored"}])
    plans = [e for e in st.events if e["event"] == "plan"]
    judges = [e for e in st.events if e["event"] == "judge"]
    # non-codey query → heuristic 'project'
    assert plans[0]["scope"] == "project"
    # ladder: project(0.2→package) → package(0.3→file) → file(0.4, stop)
    assert [j["decision"]["coverage"] for j in judges] == [0.2, 0.3, 0.4]
    assert [j["decision"].get("stage_down") for j in judges] == ["package", "file", None]
    assert st.scope == "file"
    assert st.attempt == 2  # two retries, under the ≤3 cap
    assert st.answer is not None


def test_codey_heuristic_and_force_level(spark, store):
    llm = SeqLLM([("Choose the best search scope", ["nope"])])
    agent = GraphRAGAgent(spark, store, llm)
    st_code, st_forced = agent.run_batch(
        [
            {"job_id": "j3", "query": "stacktrace NullPointer exception in handler"},
            {"job_id": "j4", "query": "anything at all", "force_level": "package"},
        ]
    )
    assert st_code.events[1]["scope"] == "code"  # looks_codey fallback
    assert st_forced.events[1]["scope"] == "package"  # force_level wins


def test_filter_accretion_and_repo_hint(spark, store):
    llm = SeqLLM(
        [
            (
                "Judge if the retrieved content",
                [
                    '{"coverage": 0.2, "needs_more": true, '
                    '"suggest_filters": {"repos": ["alpha"]}, "stage_down": "file"}',
                    '{"coverage": 0.9, "needs_more": false, "semantic_match": true}',
                ],
            ),
        ]
    )
    agent = GraphRAGAgent(spark, store, llm)
    [st] = agent.run_batch(
        [{"job_id": "j5", "query": "repo: beta how does core run work"}]
    )
    # F8 regex hint seeds repo=beta; judge suggestion (list-valued,
    # plural key) overwrites with singular repo=alpha
    assert st.filters["repo"] == "alpha"
    assert any(e["event"] == "rewrite" for e in st.events)
    assert st.scope == "file"


def test_deterministic_across_runs(spark, store):
    def run():
        agent = GraphRAGAgent(spark, store, DeterministicLLM())
        [st] = agent.run_batch([{"job_id": "jd", "query": "describe the alpha service"}])
        return st.answer, [e["event"] for e in st.events], [s["metadata"] for s in st.sources]

    assert run() == run()  # md5 content keys → no PYTHONHASHSEED flake


@pytest.mark.slow
def test_agent_batch100_completes_and_jobs_stay_bounded(spark, store):
    """Round-6 verdict #6: run_batch folds every scope/expansion into
    shared Spark jobs, so the SPARK JOB COUNT must scale with the
    attempt rounds (≤3), never with the number of queries. Prove it at
    25× the bench batch: 100 queries answer correctly and schedule at
    most a small constant factor more jobs than the 4-query batch —
    a per-query job (or per-query collect) would blow straight through
    the bound."""
    agent = GraphRAGAgent(spark, store, DeterministicLLM())
    agent.run_batch([{"job_id": "w", "query": "warmup probe"}])
    sc = spark.sparkContext

    def run_counted(group: str, jobs):
        sc.setJobGroup(group, group)
        try:
            states = agent.run_batch(jobs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return states, len(sc.statusTracker().getJobIdsForGroup(group))

    templates = [
        "tell me about the projects variant {i}",
        "how is the cache configured in part {i}",
        "stacktrace timeout exception in stream {i}",
        "repo: src1 what does module m3 contain about {i}",
    ]
    small = [
        {"job_id": f"s{i}", "query": templates[i % 4].format(i=i)} for i in range(4)
    ]
    big = [
        {"job_id": f"b{i}", "query": templates[i % 4].format(i=i)} for i in range(100)
    ]
    _, jobs_small = run_counted("agent-small", small)
    states, jobs_big = run_counted("agent-big", big)

    assert len(states) == 100
    assert all(st.answer for st in states)
    # the fixture corpus is tiny, so some templated variants legitimately
    # retrieve nothing (the agent still answers via its no-context path);
    # the batch as a whole must be served, not starved
    assert sum(1 for st in states if st.docs) >= 75
    # O(attempts) scheduling: the big batch may take at most the full
    # 3-attempt ladder where the small batch converged earlier, plus
    # the rare late-expansion job per round — but NEVER a per-query
    # term. 100 per-query jobs would need jobs_big >= 100.
    assert jobs_big <= 3 * jobs_small + 10, (jobs_small, jobs_big)
    assert jobs_big < 100


QUERIES = (
    "tell me about the projects",
    "stacktrace timeout exception in the event handler",
)
FILTERS = (
    {},
    {"namespace": "default"},
    {"repo": "alpha"},
    {"repo": "beta", "module": "lib"},
    {"module": "src"},
    {"topics": "activemq"},
    {"namespace": "default", "topics": "activemq"},
    {"repo": "nope"},  # zero hits
)


@pytest.fixture(scope="module")
def rich_store(store):
    """The ingested store with topics on some rows (one holding a NULL
    element, one a NULL array) and a chunk vector holding a NULL."""
    first_chunk = (
        store.filter("scope = 'chunk'").agg(F.min("row_id")).first()[0]
    )
    rich = store.withColumn(
        "topics",
        F.when(
            F.col("module") == "src",
            F.array(F.lit("activemq"), F.lit(None).cast("string")),
        )
        .when(F.col("module") == "lib", F.lit(None))
        .when(F.col("module") == "docs", F.array(F.lit("activemq")))
        .otherwise(F.col("topics")),
    ).withColumn(
        "vector",
        F.when(
            F.col("row_id") == first_chunk,
            F.concat(F.slice("vector", 1, 383), F.array(F.lit(None).cast("float"))),
        ).otherwise(F.col("vector")),
    ).persist()
    rich.count()
    yield rich
    rich.unpersist()


def _spark_rows(spark, store, meta):
    qdf = spark.createDataFrame(
        [tuple(m[c] for c in R.QUERY_COLS) for m in meta], R.QUERY_SCHEMA
    )
    return [r.asDict() for r in R.retrieve_batch_multi(store, qdf, query_meta=meta).collect()]


def _key(r):
    return tuple(
        tuple(v) if isinstance(v, list) else v
        for v in (r[c] for c in ("query_id", *R._DOC_COLS, "score", "hop"))
    )


def test_snapshot_matches_spark_path_all_scopes(spark, rich_store):
    """One mixed-scope batch — four scopes × namespace/repo/module/topics
    filters, zero-hit queries included — returns exactly the rows of
    the agent's Spark path, ≤k per query. (Their scorer equals the
    inline `V.dot` expression: `tests/test_retrieval.py`.)"""
    entries = [
        (f"q{i}", text, flt, scope)
        for i, (text, flt, scope) in enumerate(
            (t, f, s) for t in QUERIES for f in FILTERS for s in R.SCOPE_PARAMS
        )
    ]
    meta = GraphRAGAgent._query_meta(entries)
    assert all(tuple(m) == R.QUERY_COLS for m in meta)
    snap = R.store_snapshot(rich_store)
    assert snap is not None
    got = snap.retrieve(meta)
    assert sorted(map(_key, got)) == sorted(map(_key, _spark_rows(spark, rich_store, meta)))
    per_q = {m["query_id"]: 0 for m in meta}
    for r in got:
        per_q[r["query_id"]] += 1
    assert all(per_q[m["query_id"]] <= m["p_k"] for m in meta)
    assert sum(n > 0 for n in per_q.values()) > len(meta) // 2
    assert all(per_q[m["query_id"]] == 0 for m in meta if m["flt_repo"] == "nope")
    assert {r["hop"] for r in got} >= {0, 1}
    assert any(r["score"] is None for r in got)  # the NULL-element vector
    zero_hit = [m for m in meta if m["flt_repo"] == "nope"]
    assert snap.retrieve(zero_hit) == [] == _spark_rows(spark, rich_store, zero_hit)
    assert snap.retrieve([]) == []


def _answers(states):
    return [(st.job_id, st.scope, st.answer, st.sources, st.events) for st in states]


JOBS = [
    {"job_id": "s1", "query": "Tell me about the projects in this workspace"},
    {"job_id": "s2", "query": "stacktrace timeout exception in stream handler"},
    {"job_id": "s3", "query": "repo: alpha what does the src module contain"},
    {"job_id": "s4", "query": "how is the cache configured", "force_level": "package"},
]


def test_second_run_batch_schedules_no_spark_jobs(spark, store):
    """Below the driver bound the store loads once; a later batch over
    the same store DataFrame runs no Spark job at all."""
    agent = GraphRAGAgent(spark, store, DeterministicLLM())
    first = agent.run_batch(JOBS)
    sc = spark.sparkContext
    sc.setJobGroup("agent-snapshot-warm", "agent-snapshot-warm")
    try:
        again = GraphRAGAgent(spark, store, DeterministicLLM()).run_batch(JOBS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("agent-snapshot-warm") == []
    assert _answers(again) == _answers(first)
    assert all(st.docs for st in again)


def test_above_bound_spark_path_same_answers(spark, store, monkeypatch):
    """With the bound below the store's size the store stays on the
    Spark path (the verdict is cached per DataFrame) and the agent
    answers exactly as from the snapshot."""
    want = GraphRAGAgent(spark, store, DeterministicLLM()).run_batch(JOBS)
    monkeypatch.setattr(R, "snapshot_bound", lambda spark: 3)
    big = store.select("*")
    assert R.store_snapshot(big) is None
    got = GraphRAGAgent(spark, big, DeterministicLLM()).run_batch(JOBS)
    assert _answers(got) == _answers(want)


def test_snapshot_outlives_compaction(spark, tmp_path):
    """An agent whose snapshot loaded before `compact_store` rewrote the
    store answers identically after it; a fresh view agrees."""
    from githubrepostorag_spark.streaming.ingest import (
        compact_store,
        read_latest_store,
        stream_ingest_docs,
    )

    src, path, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    schema = "repo string, namespace string, file_path string, text string"
    for rows in (
        [("repoA", "default", "m0/a.py", "def retry_timeout():\n    raise Exception(1)\n" * 60),
         ("repoB", "default", "m0/b.py", "def handler_error():\n    return 2\n" * 60)],
        [("repoA", "default", "m0/a.py", "def retry_timeout():\n    return 9\n" * 30)],
    ):
        spark.createDataFrame(rows, schema).write.mode("append").json(src)
        stream_ingest_docs(spark.readStream.schema(schema).json(src), path, ckpt).awaitTermination(300)

    jobs = [{"job_id": "c1", "query": "stacktrace timeout exception in retry"}]
    agent = GraphRAGAgent(spark, read_latest_store(spark, path), DeterministicLLM())
    before = agent.run_batch(jobs)
    assert before[0].docs
    compact_store(spark, path)
    assert _answers(agent.run_batch(jobs)) == _answers(before)
    fresh = GraphRAGAgent(spark, read_latest_store(spark, path), DeterministicLLM())
    assert _answers(fresh.run_batch(jobs)) == _answers(before)
