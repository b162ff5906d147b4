"""The benchmark's workloads, their correctness checks and metrics.

Two workloads (README.md says why two, not four), each a fixed
sequence of phases:

``ingest_corpus``  a batch ingest job, then a hard burst over its store
    setup     session start; write the seeded repo tree
    measured  ingest passes (`read_repo_directories` →
              `ingest_pipeline(output_path=…)`) into fresh stores until
              `seconds` have passed (at least one; the first is the
              process's first Spark work); then one warm-up job and the
              zero-hit burst, enqueued at once and answered by
              `run_job_stream` (`max_jobs_per_trigger=10`, available-now)
              over the store the last pass wrote

``ingest_stream_serve``  streaming ingest beside open-loop queries
    setup     the base corpus lands as batch 0 of a streaming store
              (`stream_ingest_docs`); one warm-up job through the job
              plane (`run_job_stream`) warms the read path
    measured  thread B lands repo versions on a fixed tick schedule
              (`stream_ingest_docs` per tick, visibility read through
              `read_latest_store`); the main thread sends codey queries
              on a fixed-rate schedule, each batch of due queries (≤ 10)
              answered by `GraphRAGAgent.run_batch` over a freshly
              resolved `read_latest_store`; then a burst of codey jobs,
              enqueued at once, is answered by the job plane over the
              latest view
    after     `compact_store`, then the latest-view checks

Every latency is taken from the time the input was DUE, so a stalled
batch delays every later request it holds up.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import threading
import time

from perfbench import gen

SIZES = {
    "full": dict(repos=3, modules=2, files=4, burst=10,
                 rate=1.0, tick_s=1.5, tick_repos=1, stream_burst=6,
                 commit_tokens=gen.COMMIT_TOKENS),
    "tiny": dict(repos=2, modules=1, files=1, burst=2,
                 rate=2.0, tick_s=1.0, tick_repos=1, stream_burst=2,
                 commit_tokens=50),
}

# docs carry their namespace, so the chunk rows the stream writes are
# found by the agent's namespace filter
DOC_SCHEMA = "namespace string, repo string, file_path string, text string"
ANSWER_TIMEOUT_S = 90.0
MAX_JOBS_PER_TRIGGER = 10
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# chunking windows of `operators/chunking.py`, restated as the oracle
CODE_LINES, CODE_STRIDE = 200, 190
TEXT_CHARS, TEXT_STRIDE = 4000, 3800


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))]


def digest(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:16]


# ------------------------------------------------------------------ run state

class Run:
    """One benchmark run: session, work dir, tracer, failure ledger."""

    def __init__(self, spark, work: str, workload: str, seed: int, seconds: float, size: str,
                 tracer=None, corrupt: bool = False):
        self.spark = spark
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.p = SIZES[size]
        self.tracer = tracer
        self.corrupt = corrupt
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: dict = {}
        self.digests: dict[str, str] = {}
        self.window = (0.0, 0.0)
        self.stream_queries: list = []  # (kind, StreamingQuery) for trace readout
        self.due: dict[str, float] = {}  # job_id -> due time
        self.queued: set[str] = set()  # job_ids sent through the job plane
        self.marks: list[tuple[str, float]] = [("start", time.perf_counter())]
        self.offset = time.time() - time.perf_counter()  # epoch - perf_counter

    def mark(self, name: str) -> None:
        """Phase boundary, reported as seconds since the previous mark."""
        self.marks.append((name, time.perf_counter()))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def llm_factory(self):
        from githubrepostorag_spark.llm.stub import DeterministicLLM

        if self.tracer is None:
            return DeterministicLLM
        from perfbench.tracing import CountingLLMFactory

        return CountingLLMFactory(self.tracer.llm_acc)

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; record it as failed when not ok."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def expected_key(self) -> str:
        traced = "/traced" if self.tracer is not None else ""
        return f"{self.workload}/{self.size}/{self.seconds:g}/{self.seed}{traced}"

    def check_recorded(self) -> None:
        """Digests must match the ones recorded for this seed, size and
        run length in expected.json (when recorded): outputs of one seed
        are identical across runs."""
        try:
            with open(EXPECTED_PATH) as f:
                want = json.load(f).get(self.expected_key())
        except FileNotFoundError:
            want = None
        self.info["recorded_digests"] = "checked" if want else "not recorded for this seed"
        for k, v in (want or {}).items():
            self.op(self.digests.get(k) == v,
                    f"{k} digest {self.digests.get(k)} differs from recorded {v}")

    def record(self) -> None:
        try:
            with open(EXPECTED_PATH) as f:
                data = json.load(f)
        except FileNotFoundError:
            data = {}
        data[self.expected_key()] = self.digests
        with open(EXPECTED_PATH, "w") as f:
            json.dump(dict(sorted(data.items())), f, indent=1)
            f.write("\n")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (driver
    Python, the JVM, Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            for task in glob.glob(f"/proc/{p}/task/*/children"):
                try:
                    with open(task) as f:
                        todo += [int(c) for c in f.read().split()]
                except OSError:
                    pass
        return out

    def sample(self) -> None:
        total = 0
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(0.2)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ queue + answers

class JobQueue:
    """The job stream's source directory: one JSON file per job, moved
    in atomically so the file source never sees a partial file."""

    def __init__(self, run: Run, name: str):
        self.run = run
        self.dir = run.path(name, "queue")
        self.tmp = run.path(name, "tmp")
        self.answers = run.path(name, "answers")
        self.events = run.path(name, "events")
        self.ckpt = run.path(name, "ckpt")
        os.makedirs(self.dir)
        os.makedirs(self.tmp)

    def send(self, jobs: list[dict], due: float) -> None:
        for job in jobs:
            tmp = os.path.join(self.tmp, job["job_id"] + ".json")
            with open(tmp, "w") as f:
                f.write(json.dumps(job))
            os.rename(tmp, os.path.join(self.dir, job["job_id"] + ".json"))
            self.run.due[job["job_id"]] = due
            self.run.queued.add(job["job_id"])

    def start(self, store, kind: str = "jobs"):
        """One available-now run of the job stream over `store`: it
        answers every queued job (the checkpoint skips jobs answered
        before) and stops. `kind` files it for the traced readout."""
        from githubrepostorag_spark.streaming.jobs import read_query_stream, run_job_stream

        q = run_job_stream(
            read_query_stream(self.run.spark, self.dir, max_jobs_per_trigger=MAX_JOBS_PER_TRIGGER),
            store,
            self.run.llm_factory(),
            answers_path=self.answers,
            events_path=self.events,
            checkpoint_path=self.ckpt,
            available_now=True,
        )
        self.run.stream_queries.append((kind, q))
        return q

    def finish(self, q, due: float) -> list[float]:
        """Wait for the run to stop; latency of every job it answered,
        from `due` to the end of the trigger that answered it (answers
        are committed inside the trigger)."""
        q.awaitTermination(ANSWER_TIMEOUT_S)
        lat = []
        for pr in q.recentProgress:
            if pr.get("numInputRows"):
                end = (progress_epoch(pr["timestamp"]) - self.run.offset
                       + pr["durationMs"]["triggerExecution"] / 1000.0)
                lat += [end - due] * int(pr["numInputRows"])
        return sorted(lat)


def progress_epoch(stamp: str) -> float:
    """Streaming progress timestamp (ISO 8601, UTC) -> epoch seconds."""
    import datetime as dt

    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def answer_ok(answer) -> bool:
    return bool(answer) and "(LLM error)" not in answer


def check_answers(run: Run, queue: JobQueue, jobs: list[dict], label: str) -> str:
    """Every job answered exactly once, non-empty, no LLM error. Returns
    an order-independent digest of (job_id, answer)."""
    import pyarrow.parquet as pq

    rows = []
    for fn in glob.glob(os.path.join(queue.answers, "part-*.parquet")):
        rows += pq.read_table(fn, columns=["job_id", "answer"]).to_pylist()
    by_id: dict[str, list] = {}
    for r in rows:
        by_id.setdefault(r["job_id"], []).append(r)
    for j in jobs:
        got = by_id.get(j["job_id"], [])
        run.op(len(got) == 1 and answer_ok(got[0]["answer"]),
               f"{label}: job {j['job_id']} answered {len(got)}x")
    ids = {j["job_id"] for j in jobs}
    return digest(f"{r['job_id']}|{r['answer']}" for r in rows if r["job_id"] in ids)


def check_states(run: Run, states, jobs: list[dict], label: str) -> str:
    """`run_batch` output: exactly one state per job, each with a valid
    answer. Returns a digest of (job_id, answer)."""
    by_id: dict[str, list] = {}
    for st in states:
        by_id.setdefault(st.job_id, []).append(st)
    for j in jobs:
        got = by_id.get(j["job_id"], [])
        run.op(len(got) == 1 and answer_ok(got[0].answer),
               f"{label}: job {j['job_id']} answered {len(got)}x")
    return digest(f"{st.job_id}|{st.answer}" for st in states)


# --------------------------------------------------------------- store checks

def n_chunks(text: str, line_windows: bool) -> int:
    """Chunks the engine's splitter cuts `text` into: 200-line windows
    (stride 190) for code, 4,000-char windows (stride 3,800) otherwise."""
    if line_windows:
        n, size, stride = len(text.split("\n")), CODE_LINES, CODE_STRIDE
    else:
        n, size, stride = len(text), TEXT_CHARS, TEXT_STRIDE
    return 1 if n <= size else 1 + math.ceil((n - size) / stride)


def expected_counts(corpus: dict[str, dict[str, str]]) -> dict[str, int]:
    """Per-scope row counts the batch ingest must write: F1 drops
    `.gitignore`/`data.json`; code files (``.py``, ``.ipynb``) chunk by
    lines, the rest by characters; one file row per kept file; one
    module row per (repo, top-level path segment); one repo and one
    catalog row per repo."""
    kept = {r: {p: t for p, t in files.items() if os.path.basename(p) not in gen.DROPPED}
            for r, files in corpus.items()}
    chunks = sum(n_chunks(t, p.endswith((".py", ".ipynb")))
                 for files in kept.values() for p, t in files.items())
    return {"chunk": chunks, "file": sum(len(v) for v in kept.values()),
            "module": sum(len({p.split("/")[0] for p in v}) for v in kept.values()),
            "repo": len(corpus), "catalog": len(corpus)}


def stream_chunks(files: dict[str, str]) -> int:
    """Chunk rows one repo version adds to the streaming store: no
    filter, no language, so every file is cut in character windows."""
    return sum(n_chunks(t, False) for t in files.values())


def vectors_ok(df) -> bool:
    """On a sample of rows, vectors are 384-d with unit norm."""
    import numpy as np

    sample = df.select("row_id", "vector").orderBy("row_id").limit(24).collect()
    return bool(sample) and all(
        len(r["vector"]) == 384 and abs(float(np.linalg.norm(r["vector"])) - 1.0) < 1e-3
        for r in sample
    )


def store_facts(df) -> tuple[dict[str, int], str, int, int]:
    """(per-scope counts, digest over (scope, row_id, md5(body)),
    duplicate chunk row_ids, chunk rows) of a vector-table DataFrame."""
    from pyspark.sql import functions as F

    rows = df.select("scope", "row_id", F.md5("body").alias("h")).collect()
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["scope"]] = counts.get(r["scope"], 0) + 1
    chunk_ids = [r["row_id"] for r in rows if r["scope"] == "chunk"]
    return (counts, digest(f"{r['scope']}|{r['row_id']}|{r['h']}" for r in rows),
            len(chunk_ids) - len(set(chunk_ids)), len(chunk_ids))


def files_and_bytes(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def check_store(run: Run, path: str, expected: dict[str, int], label: str,
                want_digest: str | None = None) -> dict:
    """Per-scope counts against the oracle, 384-d unit vectors on a
    sample, and (when given) the digest of another pass over the same
    corpus. The duplicate-row_id count is recorded, never failed on."""
    from githubrepostorag_spark.operators.vector_write import read_vector_tables

    store = read_vector_tables(run.spark, path)
    counts, dg, dup, n_chunk = store_facts(store)
    vec = vectors_ok(store)
    same = want_digest is None or dg == want_digest
    run.op(counts == expected and vec and same,
           f"{label}: counts {counts} expected {expected}, vectors ok={vec}, "
           f"digest {dg} vs {want_digest}")
    n_files, n_bytes = files_and_bytes(path)
    return {"counts": counts, "digest": dg, "dup_row_ids": dup, "chunk_rows": n_chunk,
            "files": n_files, "bytes": n_bytes}


def tree_bytes(base: str) -> tuple[int, int]:
    n = b = 0
    for root, _, files in os.walk(base):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def corrupt_store(path: str) -> None:
    """Self-test hook: drop the largest data file of a store."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    os.remove(max(files, key=os.path.getsize))


# ------------------------------------------------------------- ingest_corpus

def ingest_to(run: Run, base: str, out: str) -> None:
    """`read_repo_directories` → `ingest_pipeline(output_path=out)`."""
    from githubrepostorag_spark.plans.ingest import ingest_pipeline
    from githubrepostorag_spark.sources import repodir

    docs = repodir.read_repo_directories(run.spark, base)
    ingest_pipeline(
        docs.drop("branch"),
        ingest_run_id=f"perfbench-{run.seed}",
        llm_factory=run.llm_factory(),
        output_path=out,
    ).unpersist()
    if run.tracer is not None:
        run.tracer.release()


def ingest_corpus(run: Run) -> None:
    from githubrepostorag_spark.operators.vector_write import read_vector_tables

    p = run.p
    corpus = gen.make_corpus(run.seed, p["repos"], p["modules"], p["files"])
    base = run.path("repos")
    for repo, files in corpus.items():
        gen.write_tree(base, repo, files)
    n_docs, in_bytes = tree_bytes(base)
    expected = expected_counts(corpus)
    burst = gen.zero_hit_queries(run.seed, p["burst"])
    warm = gen.zero_hit_queries(run.seed + 1, 1, prefix="w")
    run.info.update(docs=n_docs, input_bytes=in_bytes, vocab_tokens=gen.token_count(corpus),
                    expected_rows=expected)

    # measured: ingest passes into fresh stores until `seconds` have
    # passed (at least one). The first is the process's first Spark work,
    # as for a batch ingest job, which runs as its own Spark application:
    # its JIT, codegen and Python-worker start are part of the job's
    # cost (README.md, "Run-time budget"). Then read-your-writes: after
    # one warm-up job (not timed) the zero-hit burst is enqueued at once
    # and the job plane (`run_job_stream`, available-now, ≤ 10 jobs per
    # trigger) answers it over the store the last pass wrote.
    t_m0 = time.perf_counter()
    run.window = (t_m0, None)
    sampler = RssSampler()
    sampler.start()
    pass_s, fresh_s, stores = [], [], []
    while not stores or time.perf_counter() - t_m0 < run.seconds:
        out = run.path(f"store_{len(stores)}")
        t0 = time.perf_counter()
        ingest_to(run, base, out)
        done = time.perf_counter()
        read_vector_tables(run.spark, out).count()
        fresh_s.append(time.perf_counter() - t0)
        pass_s.append(done - t0)
        stores.append(out)
        run.mark(f"pass_{len(stores)}")
    queue = JobQueue(run, "jobs")
    store = read_vector_tables(run.spark, stores[-1])
    queue.send(warm, time.perf_counter())
    queue.finish(queue.start(store, kind="warm-up"), 0.0)
    run.mark("warm_job")
    t_b = time.perf_counter()
    queue.send(burst, t_b)
    lat = queue.finish(queue.start(store), t_b) or [ANSWER_TIMEOUT_S]
    run.mark("burst")
    run.window = (t_m0, time.perf_counter())
    peak = sampler.stop()

    if run.corrupt:
        corrupt_store(stores[-1])
    first = None
    for k, out in enumerate(stores):
        st = check_store(run, out, expected, f"ingest pass {k}", want_digest=first)
        first = first or st["digest"]
    check_answers(run, queue, warm, "warm-up")
    run.digests = {"store": first, "answers": check_answers(run, queue, burst, "burst")}
    run.info.update(store=st, passes=len(stores), pass_s=[round(x, 2) for x in pass_s],
                    burst_lat_s=[round(x, 2) for x in lat])

    run.metrics.update(
        peak_rss_mb=(peak, "MB"),
        ingest_docs_per_s=(n_docs / statistics.median(pass_s), "docs/s"),
        freshness_p50_s=(statistics.median(fresh_s), "s"),
        query_p50_s=(pct(lat, 50), "s"),
        query_p90_s=(pct(lat, 90), "s"),
        burst_qps=(len(burst) / max(lat), "q/s"),
    )


# -------------------------------------------------------- ingest_stream_serve

def _tick_file(src: str, name: str, versions: dict[str, dict[str, str]]) -> None:
    tmp = os.path.join(os.path.dirname(src), name + ".tmp")
    with open(tmp, "w") as f:
        for repo, files in sorted(versions.items()):
            for path, text in sorted(files.items()):
                f.write(json.dumps({"namespace": "default", "repo": repo,
                                    "file_path": path, "text": text}) + "\n")
    os.rename(tmp, os.path.join(src, name + ".json"))


class StreamIngest:
    """Streaming ingest state: source dir, store, checkpoint, and the
    newest version expected for each repo."""

    def __init__(self, run: Run):
        self.run = run
        self.src = run.path("stream", "src")
        self.store = run.path("stream", "store")
        self.ckpt = run.path("stream", "ckpt")
        os.makedirs(self.src)
        self.newest: dict[str, tuple[int, int, str]] = {}  # repo -> (batch, rows, readme tag)
        self.tick_s: list[float] = []
        self.docs = 0

    def land(self, name: str, versions: dict[str, dict[str, str]]) -> int:
        """Write one tick's file and run the stream over it; returns the
        batch id it was stamped with."""
        from githubrepostorag_spark.streaming.ingest import stream_ingest_docs

        _tick_file(self.src, name, versions)
        t0 = time.perf_counter()
        q = stream_ingest_docs(
            self.run.spark.readStream.schema(DOC_SCHEMA).json(self.src), self.store, self.ckpt
        )
        q.awaitTermination(ANSWER_TIMEOUT_S)
        self.tick_s.append(time.perf_counter() - t0)
        self.run.stream_queries.append(("ingest", q))
        batch = int(q.lastProgress["batchId"]) if q.lastProgress else -1
        for repo, files in versions.items():
            tag = files["README.md"].split("\n", 1)[0]
            self.newest[repo] = (batch, stream_chunks(files), tag)
            self.docs += len(files)
        return batch

    def latest(self):
        from githubrepostorag_spark.streaming.ingest import read_latest_store

        return read_latest_store(self.run.spark, self.store)

    def visible(self, repos: list[str], batch: int) -> bool:
        from pyspark.sql import functions as F

        got = {
            r["repo"]: r["b"]
            for r in self.latest().filter(F.col("repo").isin(repos))
            .groupBy("repo").agg(F.max("batch_id").alias("b")).collect()
        }
        return all(got.get(r) == batch for r in repos)

    def check_latest(self, label: str) -> str:
        """The latest view holds exactly the newest version of each repo
        (its batch, its chunk-row count, its README); returns the digest
        of the view's (scope, row_id, md5(body))."""
        from pyspark.sql import functions as F

        latest = self.latest()
        rows = latest.groupBy("repo").agg(
            F.min("batch_id").alias("b0"), F.max("batch_id").alias("b1"),
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("file_path") == "README.md", F.col("body"))).alias("readme"),
        ).collect()
        got = {r["repo"]: r for r in rows}
        bad = sorted(set(got) ^ set(self.newest))
        for repo, (batch, n_rows, tag) in self.newest.items():
            r = got.get(repo)
            if not (r is not None and r["b0"] == r["b1"] == batch and r["n"] == n_rows
                    and (r["readme"] or "").startswith(tag)):
                bad.append(repo)
        vec = vectors_ok(latest)
        self.run.op(not bad and vec,
                    f"{label}: latest view wrong for repos {bad}, vectors ok={vec}")
        return store_facts(latest)[1]


def ingest_stream_serve(run: Run) -> None:
    from githubrepostorag_spark.plans.agent import GraphRAGAgent
    from githubrepostorag_spark.streaming import ingest as sing

    p = run.p
    corpus = gen.make_corpus(run.seed, p["repos"], p["modules"], p["files"],
                             commit_tokens=p["commit_tokens"])
    repos = sorted(corpus)
    n_ticks = max(1, round(run.seconds / p["tick_s"]))
    ticks = gen.version_schedule(run.seed, repos, n_ticks, p["tick_repos"],
                                 p["modules"], p["files"])
    n_q = max(1, round(run.seconds * p["rate"]))
    mixed = gen.code_queries(run.seed, repos, n_q)
    warm = gen.code_queries(run.seed + 1, repos, 1, prefix="w")
    burst = gen.code_queries(run.seed + 2, repos, p["stream_burst"], prefix="b")
    run.info.update(docs=gen.doc_count(corpus),
                    vocab_tokens=gen.token_count(corpus, *ticks),
                    stream_store=run.path("stream", "store"))

    def answer(jobs: list[dict]):
        agent = GraphRAGAgent(run.spark, stream.latest(), run.llm_factory()())
        return agent.run_batch(jobs)

    # set-up: the base corpus lands as batch 0 (the cold start of the
    # stream path); one job through the job plane over the latest view
    # warms the read path, `run_batch` and the job plane, so neither the
    # open loop nor the burst pays their first use
    stream = StreamIngest(run)
    stream.land("t000", corpus)
    run.mark("seed_store")
    queue = JobQueue(run, "jobs")
    queue.send(warm, time.perf_counter())
    queue.finish(queue.start(stream.latest(), kind="warm-up"), 0.0)
    run.mark("warm_job")
    stream.tick_s.clear()
    stream.docs = 0

    # measured: thread B lands repo versions on a fixed tick schedule
    # while the main thread sends codey queries on a fixed-rate schedule,
    # each batch of due queries (≤ 10) answered by `run_batch` over a
    # freshly resolved latest view (appends never delete files, so every
    # reader stays valid while ticks land); then a burst of codey jobs,
    # enqueued at once, is answered by the job plane over the latest view
    t_m0 = time.perf_counter()
    run.window = (t_m0, None)
    sampler = RssSampler()
    sampler.start()
    fresh: list[float] = []
    lat: list[float] = []
    errors: list[BaseException] = []

    def land_ticks():
        try:
            for k, versions in enumerate(ticks):
                due = t_m0 + (k + 0.5) * p["tick_s"]
                time.sleep(max(0.0, due - time.perf_counter()))
                batch = stream.land(f"t{k + 1:03d}", versions)
                ok = stream.visible(sorted(versions), batch)
                fresh.append(time.perf_counter() - due)
                run.op(ok, f"tick {k + 1}: rows not visible in the latest view")
        except BaseException as e:  # surfaced after join
            errors.append(e)

    writer = threading.Thread(target=land_ticks)
    writer.start()
    for i, j in enumerate(mixed):
        run.due[j["job_id"]] = t_m0 + i / p["rate"]
    pending, states, batches, late = list(mixed), [], [], [0.0]
    while pending:
        now = time.perf_counter()
        if run.due[pending[0]["job_id"]] > now:
            time.sleep(run.due[pending[0]["job_id"]] - now)
            late.append(time.perf_counter() - run.due[pending[0]["job_id"]])
            continue
        batch = [j for j in pending[:MAX_JOBS_PER_TRIGGER] if run.due[j["job_id"]] <= now]
        pending = pending[len(batch):]
        states += answer(batch)
        done = time.perf_counter()
        lat += [done - run.due[j["job_id"]] for j in batch]
        batches.append(f"{len(batch)}@{done - now:.1f}")
    writer.join()
    if errors:
        raise errors[0]
    run.mark("mixed")
    t_b = time.perf_counter()
    queue.send(burst, t_b)
    burst_lat = queue.finish(queue.start(stream.latest()), t_b) or [ANSWER_TIMEOUT_S]
    run.window = (t_m0, time.perf_counter())
    peak = sampler.stop()
    run.info["stream_files"] = files_and_bytes(stream.store)
    run.mark("burst")

    # `compact_store` overwrites repo partitions in place, and a reader
    # that resolved the latest view before it fails on the deleted
    # files: it runs once every reader is done, and the latest view
    # must hold exactly the newest version of each repo after it
    t_c = time.perf_counter()
    sing.compact_store(run.spark, stream.store)
    compact_s = time.perf_counter() - t_c
    run.mark("compact")

    if run.corrupt:
        corrupt_store(stream.store)
    check_answers(run, queue, warm, "warm-up")
    check_states(run, states, mixed, "mixed")
    run.digests = {"latest_store": stream.check_latest("stream store"),
                   "answers": check_answers(run, queue, burst, "burst")}
    run.info.update(ticks=len(ticks), tick_s=[round(x, 2) for x in stream.tick_s],
                    compact_s=round(compact_s, 2), fresh_s=[round(x, 2) for x in fresh],
                    batches=" ".join(batches), burst_lat_s=[round(x, 2) for x in burst_lat],
                    generator_late_s=round(max(late), 3))

    # query_*: job-plane latency (file due → answer in the sink), as on
    # ingest_corpus; the open loop's latency beside the writes, which
    # hangs on how two or three contended batches fall, is mixed_query_*
    run.metrics.update(
        peak_rss_mb=(peak, "MB"),
        ingest_docs_per_s=(stream.docs / sum(stream.tick_s), "docs/s"),
        freshness_p50_s=(statistics.median(fresh), "s"),
        query_p50_s=(pct(burst_lat, 50), "s"),
        query_p90_s=(pct(burst_lat, 90), "s"),
        burst_qps=(len(burst) / max(burst_lat), "q/s"),
        mixed_query_p50_s=(pct(lat, 50), "s"),
        mixed_query_p90_s=(pct(lat, 90), "s"),
    )


WORKLOADS = {"ingest_corpus": ingest_corpus, "ingest_stream_serve": ingest_stream_serve}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
