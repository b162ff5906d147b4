"""Outside-in tracing for the benchmark's traced mode (``--trace 1``).

Nothing in the engine is edited: `install` replaces public functions
and methods with wrappers at import time, and only in traced mode.

- Spans (name, start, end, parent, request id) are kept in memory and
  written out when the run ends; a span's self time is its duration
  minus the time its child spans cover.
- Ingest stages are FORCED in dependency order: each wrapper persists
  the stage's DataFrame and counts it under its own Spark job group, so
  the stage's compute lands in its own span (pipelining across stages
  is lost — that is part of the tracing overhead).
- Spark jobs, stages and tasks per operation come from the job group
  and `statusTracker`, read right after the operation (the session
  retains only the most recent jobs).
- LLM calls made inside Python workers (ingest enrichment and rollups)
  are counted through an accumulator-backed `llm_factory`
  (`CountingLLMFactory`); driver-side calls (the agent) are spans on
  `DeterministicLLM.complete`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from githubrepostorag_spark.llm.stub import DeterministicLLM


class _CountingLLM:
    def __init__(self, acc):
        self._llm = DeterministicLLM()
        self._acc = acc

    def complete(self, prompt: str) -> str:
        self._acc.add(1)
        return self._llm.complete(prompt)


class CountingLLMFactory:
    """Picklable `llm_factory` whose LLMs add 1 to a Spark accumulator
    per `complete` call — counts calls made on executors."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self):
        return _CountingLLM(self.acc)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.llm_acc = self.sc.accumulator(0)
        self._forced: list = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, req: str | None = None, group: bool = False):
        """Record one span; with `group`, run it under its own Spark job
        group and attach the jobs/stages/tasks it launched."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1]["id"] if stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "req": req if req is not None else (stack[-1]["req"] if stack else None),
               "thread": threading.get_ident()}
        prev_group = None
        gid = f"pb-{sid}"
        if group:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(gid, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                rec.update(self._jobs_of(gid))
                if prev_group:
                    self.sc.setJobGroup(prev_group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def _jobs_of(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += value

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, *, group: bool = False, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, group=group) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    out = after(out, rec, args, kwargs)
                return out

        setattr(owner, attr, wrapper)

    def force(self, df):
        """Persist + count: the stage's compute happens now, under the
        caller's span and job group."""
        df = df.persist()
        n = df.count()
        self._forced.append(df)
        return df, n

    def release(self) -> None:
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    # ---------------------------------------------------------- results
    def in_window(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if s["start"] >= t0 and s["end"] <= t1]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, t_origin: float) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s, start=s["start"] - t_origin, end=s["end"] - t_origin)
                f.write(json.dumps(row, default=str) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap every traced layer's public entry points."""
    from githubrepostorag_spark.plans import agent as agent_mod
    from githubrepostorag_spark.plans import ingest as ingest_mod
    from githubrepostorag_spark.sources import repodir
    from githubrepostorag_spark.streaming import ingest as sing

    def forced(kind: str):
        def after(out, rec, args, kwargs):
            df, n = tracer.force(out)
            rec["rows"] = n
            tracer.add(f"rows.{kind}", n)
            return df
        return after

    def forced_first(out, rec, args, kwargs):
        df, n = tracer.force(out[0])
        rec["rows"] = n
        return (df,) + tuple(out[1:])

    tracer.wrap(repodir, "read_repo_directories", "sources.read", group=True, after=forced("docs"))
    tracer.wrap(ingest_mod, "preprocess", "filters.preprocess", group=True, after=forced_first)
    tracer.wrap(ingest_mod, "split_code_documents", "chunking.split", group=True, after=forced("chunks"))
    for fn in ("enrich_chunks", "file_summaries", "module_summaries", "repo_overviews", "catalog_docs"):
        layer = "enrich.enrich" if fn == "enrich_chunks" else "hierarchy.rollup"
        tracer.wrap(ingest_mod, fn, layer, group=True, after=_llm_counted(tracer, forced(fn)))
    tracer.wrap(ingest_mod, "finalize_vectors", "embed.embed", group=True, after=forced("embedded"))
    tracer.wrap(ingest_mod, "write_vector_tables", "vector_write.write", group=True)

    # streaming ingest: trigger timings come from recentProgress; the
    # latest-version view is forced so its resolution is one span
    tracer.wrap(sing, "read_latest_store", "stream_ingest.read_latest", group=True,
                after=forced("latest"))
    tracer.wrap(sing, "compact_store", "stream_ingest.compact", group=True)

    # serving
    A = agent_mod.GraphRAGAgent
    tracer.wrap(A, "run_batch", "agent.run_batch", after=_batch_counted(tracer))
    for m in ("plan", "retrieve", "judge", "rewrite_or_end", "synthesize"):
        tracer.wrap(A, m, f"agent.{m}")
    tracer.wrap(agent_mod, "retrieve_batch_multi", "retrieval.call", group=True,
                after=_retrieval_collected)
    tracer.wrap(agent_mod, "embed_text", "embed.query_embed")
    tracer.wrap(DeterministicLLM, "complete", "llm.complete")


def _llm_counted(tracer: Tracer, inner):
    """Attach the accumulator delta (executor-side LLM calls) to the span."""
    def after(out, rec, args, kwargs):
        before = tracer.llm_acc.value
        df = inner(out, rec, args, kwargs)
        rec["llm_calls"] = tracer.llm_acc.value - before
        return df
    return after


def _batch_counted(tracer: Tracer):
    def after(states, rec, args, kwargs):
        rec["queries"] = len(states)
        rec["rounds"] = sum(
            sum(1 for e in st.events if e["event"] == "retrieve") for st in states
        )
        rec["hits"] = sum(len(st.docs) for st in states)
        rec["with_sources"] = sum(1 for st in states if st.sources)
        rec["req"] = ",".join(st.job_id for st in states)
        return states
    return after


def _retrieval_collected(out, rec, args, kwargs):
    """Collect inside the span so the call's Spark jobs land in its job
    group; hand the agent an equivalent local DataFrame."""
    rows = out.collect()
    meta = kwargs.get("query_meta") or []
    rec["entries"] = len(meta)
    got = {r["query_id"] for r in rows}
    rec["empty"] = sum(1 for m in meta if m["query_id"] not in got)
    return out.sparkSession.createDataFrame(rows, out.schema)


# ------------------------------------------------------------ layer metrics

# Counts that must repeat exactly for one seed (batch sizes, rounds and
# LLM calls are fixed by the inputs, not by timing): the traced run
# records them beside the output digests and checks them on later runs.
EXACT = {
    "ingest_corpus": (
        "chunking.chunks_per_doc", "enrich.llm_calls_per_chunk", "hierarchy.llm_calls",
        "embed.rows_embedded", "vector_write.files_written", "vector_write.rows.chunk",
        "vector_write.rows.file", "vector_write.rows.module", "vector_write.rows.repo",
        "vector_write.rows.catalog", "vector_write.dup_row_id_frac", "jobs.triggers",
        "jobs.batch_size_mean", "agent.rounds_per_query", "agent.hits_per_query",
        "retrieval.calls_per_batch", "retrieval.entries_per_call", "llm.calls_per_query",
    ),
    "ingest_stream_serve": ("stream_ingest.docs_per_trigger",),
}


def _progress(run, kind: str) -> list[dict]:
    """Non-empty triggers of this kind's stream queries inside the
    measured window (progress timestamps are wall clock)."""
    from perfbench.workloads import progress_epoch

    t0, t1 = run.window
    return [
        p
        for k, q in run.stream_queries if k == kind
        for p in q.recentProgress or []
        if p.get("numInputRows") and t0 <= progress_epoch(p["timestamp"]) - run.offset <= t1
    ]


def layer_metrics(run, tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Per-layer figures over the measured window (compaction, which
    runs after it, over the whole run). A layer the workload does not
    use reads 0."""
    from perfbench.workloads import progress_epoch

    t0, t1 = run.window
    spans = tracer.in_window(t0, t1)
    selft = Tracer.self_times(spans)

    def named(name, among=spans):
        return [s for s in among if s["name"] == name]

    def total(name, among=spans):
        return sum(s["end"] - s["start"] for s in named(name, among))

    def key_sum(name, key):
        return sum(s.get(key, 0) for s in named(name))

    def ratio(a, b):
        return a / b if b else 0.0

    passes = len(named("vector_write.write"))
    batches = named("agent.run_batch")
    nb = len(batches)
    queries = sum(s.get("queries", 0) for s in batches)
    rolls = named("hierarchy.rollup")
    calls = named("retrieval.call")
    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (run.info["session_start_s"], "s")
    m["session.warmup_s"] = (run.info["warmup_s"], "s")
    m["sources.read_s"] = (ratio(total("sources.read"), passes), "s")
    m["filters.preprocess_s"] = (ratio(total("filters.preprocess"), passes), "s")
    m["chunking.split_s"] = (ratio(total("chunking.split"), passes), "s")
    m["chunking.chunks_per_doc"] = (
        ratio(key_sum("chunking.split", "rows"), key_sum("sources.read", "rows")), "ratio")
    m["enrich.enrich_s"] = (ratio(total("enrich.enrich"), passes), "s")
    m["enrich.llm_calls_per_chunk"] = (
        ratio(key_sum("enrich.enrich", "llm_calls"), key_sum("enrich.enrich", "rows")), "ratio")
    m["hierarchy.rollup_s"] = (ratio(sum(s["end"] - s["start"] for s in rolls), passes), "s")
    m["hierarchy.llm_calls"] = (ratio(sum(s.get("llm_calls", 0) for s in rolls), passes), "count")
    m["embed.embed_s"] = (ratio(total("embed.embed"), passes), "s")
    m["embed.rows_embedded"] = (ratio(key_sum("embed.embed", "rows"), passes), "count")
    m["embed.query_embed_s"] = (ratio(total("embed.query_embed"), nb), "s")
    m["vector_write.write_s"] = (ratio(total("vector_write.write"), passes), "s")
    st = run.info.get("store") or {}
    m["vector_write.bytes_per_input_byte"] = (
        ratio(st.get("bytes", 0), run.info.get("input_bytes", 0)), "ratio")
    m["vector_write.store_bytes"] = (st.get("bytes", 0), "bytes")
    m["vector_write.files_written"] = (st.get("files", 0), "count")
    for scope in ("chunk", "file", "module", "repo", "catalog"):
        m[f"vector_write.rows.{scope}"] = (st.get("counts", {}).get(scope, 0), "count")
    m["vector_write.dup_row_id_frac"] = (ratio(st.get("dup_row_ids", 0), st.get("chunk_rows", 0)),
                                         "ratio")

    trig = _progress(run, "jobs")
    n_trig = len(trig)
    trig_s = sum(p["durationMs"].get("triggerExecution", 0) for p in trig) / 1000.0
    batch_s = sum(s["end"] - s["start"] for s in batches)
    # overhead: trigger time not spent inside the run_batch it hosted
    # (the job plane's batches: those whose jobs came through the queue)
    hosted = [s for s in batches
              if set((s.get("req") or "").split(",")) <= run.queued]
    overhead = []
    for p in trig:
        start = progress_epoch(p["timestamp"]) - run.offset
        dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
        inside = [s["end"] - s["start"] for s in hosted if start <= s["start"] <= start + dur]
        if inside:
            overhead.append(dur - sum(inside))
    waits = [s["start"] - run.due[j] for s in batches
             for j in (s.get("req") or "").split(",") if j in run.due]
    m["jobs.triggers"] = (n_trig, "count")
    m["jobs.batch_size_mean"] = (ratio(sum(p["numInputRows"] for p in trig), n_trig), "count")
    m["jobs.trigger_s"] = (ratio(trig_s, n_trig), "s")
    m["jobs.queue_wait_s"] = (ratio(sum(waits), len(waits)), "s")
    m["jobs.overhead_s"] = (ratio(sum(overhead), len(overhead)), "s")

    m["agent.run_batch_s"] = (ratio(batch_s, nb), "s")
    for name, key in (("plan", "plan"), ("retrieve", "retrieve"), ("judge", "judge"),
                      ("rewrite", "rewrite_or_end"), ("synthesize", "synthesize")):
        m[f"agent.{name}_s"] = (ratio(sum(selft[s["id"]] for s in named(f"agent.{key}")), nb), "s")
    m["agent.rounds_per_query"] = (ratio(sum(s.get("rounds", 0) for s in batches), queries), "ratio")
    m["agent.hits_per_query"] = (ratio(sum(s.get("hits", 0) for s in batches), queries), "ratio")
    m["agent.answered_with_sources_frac"] = (
        ratio(sum(s.get("with_sources", 0) for s in batches), queries), "ratio")
    m["agent.spark_jobs_per_batch"] = (ratio(sum(s.get("jobs", 0) for s in calls), nb), "count")

    entries = sum(s.get("entries", 0) for s in calls)
    m["retrieval.calls_per_batch"] = (ratio(len(calls), nb), "count")
    m["retrieval.call_s"] = (ratio(sum(s["end"] - s["start"] for s in calls), len(calls)), "s")
    m["retrieval.entries_per_call"] = (ratio(entries, len(calls)), "count")
    m["retrieval.empty_frac"] = (ratio(sum(s.get("empty", 0) for s in calls), entries), "ratio")
    m["retrieval.spark_jobs_per_call"] = (
        ratio(sum(s.get("jobs", 0) for s in calls), len(calls)), "count")
    m["retrieval.spark_tasks_per_call"] = (
        ratio(sum(s.get("tasks", 0) for s in calls), len(calls)), "count")

    m["llm.calls_per_query"] = (ratio(len(named("llm.complete")), queries), "ratio")
    m["llm.complete_s"] = (ratio(total("llm.complete"), queries), "s")

    ing = _progress(run, "ingest")
    m["stream_ingest.trigger_s"] = (
        ratio(sum(p["durationMs"].get("triggerExecution", 0) for p in ing) / 1000.0, len(ing)), "s")
    m["stream_ingest.docs_per_trigger"] = (
        ratio(sum(p["numInputRows"] for p in ing), len(ing)), "count")
    compacts = named("stream_ingest.compact", tracer.spans)
    m["stream_ingest.compact_s"] = (
        ratio(total("stream_ingest.compact", tracer.spans), len(compacts)), "s")
    reads = [s for s in named("stream_ingest.read_latest") if s["parent"] is None]
    m["stream_ingest.read_latest_s"] = (
        ratio(sum(s["end"] - s["start"] for s in reads), len(reads)), "s")
    n_files, n_bytes = run.info.get("stream_files", (0, 0))
    m["stream_ingest.store_files"] = (n_files, "count")
    m["stream_ingest.store_bytes"] = (n_bytes, "bytes")

    m["spark.jobs"] = (sum(s.get("jobs", 0) for s in spans), "count")
    m["spark.stages"] = (sum(s.get("stages", 0) for s in spans), "count")
    m["spark.tasks"] = (sum(s.get("tasks", 0) for s in spans), "count")
    m["gen.vocab_tokens"] = (run.info.get("vocab_tokens", 0), "count")
    m["trace.spans"] = (len(spans), "count")
    return m


def exact_counts_digest(workload: str, m: dict[str, tuple[float, str]]) -> str:
    from perfbench.workloads import digest

    return digest(f"{k}={m[k][0]:.6g}" for k in EXACT.get(workload, ()))
