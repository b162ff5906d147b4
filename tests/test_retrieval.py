"""Retrieval tests: the one ranker shared by the driver snapshot and
the Spark path, and its scoring kernel against the inline JVM
expression `F.round(V.dot(V.as_double(vector), V.as_double(qvec)), 6)`."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import vectors as V
from githubrepostorag_spark.operators.retrieval import (
    retrieve_batch,
    with_scope_params,
)
from githubrepostorag_spark.plans.parity import fixture_queries, fixture_store
from githubrepostorag_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark):
    s = fixture_store(
        load_table(spark, SF, "documents"), load_table(spark, SF, "embeddings")
    ).persist()
    s.count()
    yield s
    s.unpersist()


@pytest.fixture(scope="module")
def queries(spark):
    return fixture_queries(load_table(spark, SF, "embeddings"))


def _jvm_scored(store, queries):
    """Reference scores, independent of the engine's kernel: the inline
    JVM expression over a cross join, each query's scope and filters
    applied here."""
    s, q = store.alias("s"), queries.alias("q")
    keep = F.col("s.scope") == F.col("q.q_scope")
    for k in ("namespace", "repo", "module"):
        keep &= F.col(f"q.flt_{k}").isNull() | (F.col(f"s.{k}") == F.col(f"q.flt_{k}"))
    keep &= F.col("q.flt_topics").isNull() | F.array_contains(
        F.coalesce(F.col("s.topics"), F.array()), F.col("q.flt_topics")
    )
    return s.crossJoin(q).filter(keep).select(
        F.col("q.query_id").alias("query_id"),
        *[F.col(f"s.{c}").alias(c) for c in ("row_id", "namespace", "repo", "module", "file_path")],
        F.round(V.dot(V.as_double(F.col("s.vector")), V.as_double(F.col("q.qvec"))), 6).alias(
            "score"
        ),
    )


def _same_rows(a, b):
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_empty_query_batch(spark, store, queries):
    out = retrieve_batch(store, queries.limit(0), "code")
    assert out.count() == 0
    assert "query_id" in out.columns and "score" in out.columns


def test_scored_np_matches_join_kernel(spark, store, queries):
    """The Arrow scorer (`_scored_np`) emits exactly the reference's
    rows, score for score, for array<float> queries (the agent's
    `QUERY_SCHEMA`): same candidate multiset under the same filters."""
    from githubrepostorag_spark.operators.retrieval import _scored_np

    q = with_scope_params(
        queries.withColumn("qvec", F.col("qvec").cast("array<float>")), "code"
    )
    _same_rows(_scored_np(store, [r.asDict() for r in q.collect()]), _jvm_scored(store, q))


def test_double_query_scores_match_jvm_expression(spark, store, queries):
    """An array<double> query (q40's `fixture_queries`) scores with its
    vector as given, bit-identical to the reference; rounding it
    through float32 would change some scores."""
    from githubrepostorag_spark.operators.retrieval import _scored_np

    q = with_scope_params(queries, "code")
    assert dict(q.dtypes)["qvec"] == "array<double>"
    meta = [r.asDict() for r in q.collect()]
    scored = _scored_np(store, meta)
    _same_rows(scored, _jvm_scored(store, q))
    as_f32 = [dict(m, qvec=np.float32(m["qvec"]).tolist()) for m in meta]
    assert scored.exceptAll(_scored_np(store, as_f32)).count() > 0


def test_retrieve_np_kernel_end_to_end_identical(spark, store, queries):
    """`retrieve_batch` — q40's entry, which collects its query rows and
    array<double> vectors from the caller's columns — returns the rows
    the driver snapshot ranks for the same queries."""
    from githubrepostorag_spark.operators.retrieval import store_snapshot

    meta = [r.asDict() for r in with_scope_params(queries, "code").collect()]
    key = lambda r: (r["query_id"], r["row_id"], r["score"], r["hop"])
    want = sorted(map(key, store_snapshot(store).retrieve(meta)))
    got = sorted(map(key, retrieve_batch(store, queries, "code").collect()))
    assert got == want and len(got) > 0


def _meta(queries):
    q = with_scope_params(
        queries.withColumn("qvec", F.col("qvec").cast("array<float>")), "code"
    )
    return q, [r.asDict() for r in q.collect()]


def _row_key(r):
    return (
        r["query_id"], r["row_id"], r["score"], r["hop"], r["body"], r["scope"],
        r["namespace"], r["repo"], r["module"], r["file_path"], r["language"],
        None if r["topics"] is None else tuple(r["topics"]),
    )


def test_snapshot_matches_spark_paths(spark, store, queries):
    """The driver snapshot returns exactly the rows — ids, scores, hops
    and doc columns — of the Spark path, and each query's rows come
    score-desc."""
    from githubrepostorag_spark.operators.retrieval import (
        retrieve_batch_multi,
        store_snapshot,
    )

    q, meta = _meta(queries)
    snap = store_snapshot(store)
    assert snap is not None
    got = snap.retrieve(meta)
    want = retrieve_batch_multi(store, q, query_meta=meta).collect()
    assert sorted(map(_row_key, got)) == sorted(_row_key(r.asDict()) for r in want)
    for qid in {r["query_id"] for r in got}:
        scores = [r["score"] for r in got if r["query_id"] == qid]
        assert scores == sorted(scores, reverse=True)
    assert {r["hop"] for r in got} == {0, 1, 2}
    assert snap.retrieve([]) == []


def test_snapshot_at_most_k_rows_on_duplicated_row_ids(spark, store, queries):
    """A duplicated chunk row_id fans out in `_fetch_docs`'s join, past
    k rows for its query. The snapshot fetches by position: it returns
    the same (row_id, score, hop) set and never more than k rows."""
    from githubrepostorag_spark.operators.retrieval import (
        retrieve_batch_multi,
        store_snapshot,
    )

    dup = store.unionByName(store)
    q, meta = _meta(queries)
    got = store_snapshot(dup).retrieve(meta)
    want = retrieve_batch_multi(dup, q, query_meta=meta).collect()
    key = lambda r: (r["query_id"], r["row_id"], r["score"], r["hop"])
    assert set(map(key, got)) == set(map(key, want))
    for m in meta:
        assert 0 < sum(r["query_id"] == m["query_id"] for r in got) <= m["p_k"]


def _tiny_store(spark, rows):
    return spark.createDataFrame(
        [
            (rid, f"body {rid}", "chunk", "ns", "r", "m", f"m/{rid}.py", "py", ["t"], vec)
            for rid, vec in rows
        ],
        "row_id string, body string, scope string, namespace string, repo string, "
        "module string, file_path string, language string, topics array<string>, "
        "vector array<float>",
    )


def _tiny_meta(qid, qvec, **params):
    return {
        "query_id": qid, "qvec": qvec, "flt_namespace": None, "flt_repo": None,
        "flt_module": None, "flt_topics": None, "q_scope": "chunk",
        "p_k": 10, "p_start_k": 3, "p_adjacent_k": 8, "p_max_depth": 2, **params,
    }


def test_null_vector_element_scores_null(spark):
    """A vector holding a NULL element scores NULL, as the reference's
    null-poisoned aggregate does, in the Arrow kernel and the snapshot
    alike — never NaN, which would rank first. NULL and off-dimension
    vectors score NULL too."""
    from githubrepostorag_spark.operators.retrieval import (
        QUERY_COLS,
        QUERY_SCHEMA,
        _scored_np,
        store_snapshot,
    )

    st = _tiny_store(
        spark,
        [
            ("a", [1.0, 0.0, 0.0]),
            ("b", [0.5, None, 0.5]),
            ("c", None),
            ("d", [1.0, 0.0]),
            ("e", [0.0, 1.0, 0.0]),
        ],
    )
    meta = [_tiny_meta("q", [1.0, 0.0, 0.0])]
    qdf = spark.createDataFrame([tuple(m[c] for c in QUERY_COLS) for m in meta], QUERY_SCHEMA)
    fold = {r["row_id"]: r["score"] for r in _jvm_scored(st, qdf).collect()}
    arrow = {r["row_id"]: r["score"] for r in _scored_np(st, meta).collect()}
    assert fold == arrow == {"a": 1.0, "b": None, "c": None, "d": None, "e": 0.0}
    # vectors of mixed length keep the Spark path; without "d" the
    # snapshot serves the store and ranks the NULL scores last
    assert store_snapshot(st) is None
    got = store_snapshot(st.filter("row_id != 'd'")).retrieve(meta)
    assert [(r["row_id"], r["score"]) for r in got] == [
        ("a", 1.0), ("e", 0.0), ("b", None), ("c", None),
    ]


def test_bound_verdict_ships_no_rows(spark, tmp_path, monkeypatch):
    """Below the bound a parquet store loads with no Spark job, its
    footers having counted it. Above the bound a store is found so
    before any body or vector reaches the driver — by its footers, or
    by a count of row_ids when it has no file list — and keeps the
    Spark path: neither `toArrow` nor the file reader runs. A filter
    the footers over-count is settled by that count."""
    from githubrepostorag_spark.operators import retrieval as R

    rows = [(f"r{i}", [float(i), 1.0, 0.0]) for i in range(6)]
    path = str(tmp_path / "store")
    _tiny_store(spark, rows).write.parquet(path)
    assert R._footer_rows(spark.read.parquet(path)) == 6
    assert R._footer_rows(_tiny_store(spark, rows)) is None
    fresh = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-load", "snapshot-load")
    try:
        assert R.store_snapshot(fresh) is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("snapshot-load")) == 0

    monkeypatch.setattr(R, "snapshot_bound", lambda spark: 5)
    snap = R.store_snapshot(spark.read.parquet(path).filter("row_id < 'r3'"))
    assert snap is not None and len(snap.docs["row_id"]) == 3

    def no_load(*_):
        raise AssertionError("an above-bound store shipped to the driver")

    monkeypatch.setattr(type(_tiny_store(spark, rows)), "toArrow", no_load)
    monkeypatch.setattr(R, "_read_file", no_load)
    assert R.store_snapshot(spark.read.parquet(path)) is None
    assert R.store_snapshot(_tiny_store(spark, rows)) is None


def test_mixed_query_dims_raise_value_error(spark):
    """A batch whose query vectors differ in length is refused with
    ValueError (an assert would vanish under ``python -O``)."""
    from githubrepostorag_spark.operators.retrieval import (
        _query_block,
        _scored_np,
        store_snapshot,
    )

    st = _tiny_store(spark, [("a", [1.0, 0.0, 0.0])])
    meta = [_tiny_meta("q1", [1.0, 0.0, 0.0]), _tiny_meta("q2", [1.0, 0.0])]
    for call in (
        lambda: _query_block([m["qvec"] for m in meta]),
        lambda: _scored_np(st, meta),
        lambda: store_snapshot(st).retrieve(meta),
    ):
        with pytest.raises(ValueError, match="mixed query dims"):
            call()


def test_round6_matches_spark_round(spark):
    """`_round6` reproduces `F.round(x, 6)` (HALF_UP on the double's
    decimal string) bit for bit on 10⁵+ doubles: scores in [-1, 1],
    exact 6-decimal ties and their neighbours, and wide magnitudes."""
    import pandas as pd

    from githubrepostorag_spark.operators.retrieval import _round6

    rng = np.random.default_rng(7)
    ties = np.array(
        [float(f"{m / 1e6:.6f}5") for m in rng.integers(-999_999, 1_000_000, 20_000)]
    )
    xs = np.concatenate(
        [
            rng.uniform(-1.0, 1.0, 60_000),
            ties,
            np.nextafter(ties, np.inf),
            np.nextafter(ties, -np.inf),
            rng.standard_normal(10_000) * 10.0 ** rng.integers(-12, 14, 10_000),
            [0.0, -0.0, -1e-9, 5e-7, -5e-7, 0.5, 1e300, -1e300, np.inf, -np.inf, np.nan],
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(xs)), "x": xs}))
    rows = df.select("i", F.round("x", 6).alias("r")).collect()
    want = np.empty(len(xs))
    for r in rows:
        want[r["i"]] = r["r"]
    got = _round6(xs)
    same = (got.view(np.int64) == want.view(np.int64)) | (np.isnan(got) & np.isnan(want))
    assert len(xs) >= 100_000
    assert same.all(), [(x, g, w) for x, g, w in zip(xs[~same], got[~same], want[~same])][:5]


def test_snapshot_cache_shared_across_threads(spark):
    """More threads than cores racing on one store DataFrame all get the
    same cached snapshot, and every retrieve from it agrees."""
    import sys
    import threading

    from githubrepostorag_spark.operators.retrieval import store_snapshot

    st = _tiny_store(spark, [(f"r{i}", [float(i % 3), 1.0, 0.5]) for i in range(12)])
    meta = [_tiny_meta("q", [1.0, 0.0, 0.0])]
    got: list = []
    lock = threading.Lock()

    def worker():
        snap = store_snapshot(st)
        rows = snap.retrieve(meta)
        with lock:
            got.append((snap, rows))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 12
    assert all(s is got[0][0] for s, _ in got)
    assert all(rows == got[0][1] and rows for _, rows in got)


# ---------------- the file reader: a parquet-scan store with no Spark job


def _file_read(store):
    """The file reader's table for `store`: each scanned file read by
    `_read_file`, concatenated."""
    from githubrepostorag_spark.operators import retrieval as R

    paths, names = R._parquet_scan(store)
    schema = R._arrow_schema(store)
    return pa.concat_tables([R._read_file(p, names, schema) for p in paths])


def _sorted(table):
    keys = ("row_id", "body", "scope", "namespace", "repo", "module", "file_path", "language")
    return table.sort_by([(k, "ascending") for k in keys])


def _stream_store(spark, tmp_path, ticks):
    """A stream store landed tick by tick: each tick is a list of
    (repo, file_path, text) rows, one `stream_ingest_docs` run each."""
    from githubrepostorag_spark.streaming.ingest import stream_ingest_docs

    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    schema = "repo string, file_path string, text string"

    def land(rows):
        spark.createDataFrame(rows, schema).write.mode("append").json(src)
        stream_ingest_docs(spark.readStream.schema(schema).json(src), store, ckpt).awaitTermination(300)

    for rows in ticks:
        land(rows)
    return store, land


_BASE = [
    ("repoA", "m0/a.py", "def retry_timeout():\n    raise Exception(1)\n" * 60),
    ("repoB", "m0/b.py", "def handler_error():\n    return 2\n" * 60),
    ("repoB", "m1/c.py", "class Cache:\n    size = 3\n" * 40),
]
_TICK = [("repoA", "m0/a.py", "def retry_timeout():\n    return 9\n" * 30)]


def _stream_meta():
    from githubrepostorag_spark.plans.agent import GraphRAGAgent

    texts = ("stacktrace timeout exception in retry", "cache size handler", "error")
    filters = ({}, {"repo": "repoB"}, {"module": "m0"})
    return GraphRAGAgent._query_meta(
        [(f"q{i}-{j}", t, f, "code") for i, t in enumerate(texts) for j, f in enumerate(filters)]
    )


class _Counting:
    """Wraps `_read_file`, counting the paths it reads."""

    def __init__(self, read, pause=0.0):
        self.read, self.pause, self.paths = read, pause, []

    def __call__(self, path, names, schema):
        self.paths.append(path)
        time.sleep(self.pause)
        return self.read(path, names, schema)


def _jobs(spark, group, call):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_file_read_equals_spark_load_batch_store(spark, tmp_path):
    """The batch store `ingest_pipeline` writes, partitioned by
    (scope, namespace): the file reader returns exactly the rows and
    Arrow types of `store.select(*_SNAPSHOT_COLS).toArrow()`."""
    from githubrepostorag_spark.llm.stub import DeterministicLLM
    from githubrepostorag_spark.operators import retrieval as R
    from githubrepostorag_spark.operators.vector_write import read_vector_tables
    from githubrepostorag_spark.plans.ingest import ingest_pipeline
    from tests.fixtures_corpus import corpus_df

    path = str(tmp_path / "store")
    ingest_pipeline(corpus_df(spark), ingest_run_id="run-files", llm_factory=DeterministicLLM,
                    output_path=path)
    store = read_vector_tables(spark, path)
    got, want = _file_read(store), store.select(*R._SNAPSHOT_COLS).toArrow()
    assert got.schema.equals(want.schema)
    assert _sorted(got).equals(_sorted(want)) and got.num_rows > 0
    assert set(got.column("scope").to_pylist()) == {"chunk", "file", "module", "repo", "catalog"}


def test_file_read_equals_spark_load_stream_view(spark, tmp_path):
    """A stream latest view (`repo=R/batch_id=N` directories, `repo` a
    partition column): the file reader equals the Spark load."""
    from githubrepostorag_spark.operators import retrieval as R
    from githubrepostorag_spark.streaming.ingest import read_latest_store

    store, _ = _stream_store(spark, tmp_path, [_BASE, _TICK])
    view = read_latest_store(spark, store)
    got, want = _file_read(view), view.select(*R._SNAPSHOT_COLS).toArrow()
    assert got.schema.equals(want.schema)
    assert _sorted(got).equals(_sorted(want))
    assert set(got.column("repo").to_pylist()) == {"repoA", "repoB"}


def test_file_read_equals_spark_load_escaped_partition_values(spark, tmp_path):
    """Partition values Spark escapes in directory names (space, `/`,
    `%`, `=`), a NULL (`__HIVE_DEFAULT_PARTITION__`) and a
    numeric-looking `007` (a string here, beside the others) read back
    as Spark reads them."""
    from githubrepostorag_spark.operators import retrieval as R

    names = ["a b", "x/y", "p%q", "k=v", None, "007"]
    rows = [
        (f"r{i}", f"body {i}", "chunk", ns, "repo", "m", f"m/{i}.py", "py", ["t"], [float(i), 1.0])
        for i, ns in enumerate(names)
    ]
    path = str(tmp_path / "store")
    spark.createDataFrame(
        rows,
        "row_id string, body string, scope string, namespace string, repo string, "
        "module string, file_path string, language string, topics array<string>, "
        "vector array<float>",
    ).write.partitionBy("namespace").parquet(path)
    store = spark.read.parquet(path)
    got, want = _file_read(store), store.select(*R._SNAPSHOT_COLS).toArrow()
    assert got.schema.equals(want.schema)
    assert _sorted(got).equals(_sorted(want))
    assert sorted(got.column("namespace").to_pylist(), key=str) == sorted(names, key=str)


def test_fresh_views_of_one_version_share_a_snapshot(spark, tmp_path, monkeypatch):
    """Two freshly resolved latest views of one store version return the
    same snapshot: the second runs no Spark job and reads no file."""
    from githubrepostorag_spark.operators import retrieval as R
    from githubrepostorag_spark.streaming.ingest import read_latest_store

    store, _ = _stream_store(spark, tmp_path, [_BASE])
    reads = _Counting(R._read_file)
    monkeypatch.setattr(R, "_read_file", reads)
    view = read_latest_store(spark, store)
    first, jobs = _jobs(spark, "snap-first", lambda: R.store_snapshot(view))
    assert first is not None and jobs == 0 and len(reads.paths) == len(set(reads.paths)) > 0
    reads.paths.clear()
    view = read_latest_store(spark, store)
    again, jobs = _jobs(spark, "snap-again", lambda: R.store_snapshot(view))
    assert again is first and jobs == 0 and reads.paths == []


def _one_repo_tick(spark, tmp_path, monkeypatch):
    """A stream store, its snapshot before a one-repo tick, the view
    after it, that view's snapshot and the files its refresh read (with
    the refresh's Spark job count)."""
    from githubrepostorag_spark.operators import retrieval as R
    from githubrepostorag_spark.streaming.ingest import read_latest_store

    store, land = _stream_store(spark, tmp_path, [_BASE])
    before = R.store_snapshot(read_latest_store(spark, store))
    land(_TICK)
    view = read_latest_store(spark, store)
    reads = _Counting(R._read_file)
    monkeypatch.setattr(R, "_read_file", reads)
    snap, jobs = _jobs(spark, "snap-tick", lambda: R.store_snapshot(view))
    return store, before, view, snap, reads.paths, jobs


def test_one_repo_tick_refreshes_only_its_files(spark, tmp_path, monkeypatch):
    """After a tick that lands one repo, the refreshed snapshot runs no
    Spark job and reads only that repo's new version; it equals a fresh
    Spark load in rows and in bit-identical `retrieve` output."""
    from githubrepostorag_spark.operators import retrieval as R

    store, before, view, snap, paths, jobs = _one_repo_tick(spark, tmp_path, monkeypatch)
    new_dir = os.path.join(store, "repo=repoA", "batch_id=1")
    assert jobs == 0 and paths
    assert {os.path.dirname(p) for p in paths} == {new_dir}
    assert sorted(paths) == sorted(
        os.path.join(new_dir, f) for f in os.listdir(new_dir) if f.endswith(".parquet")
    )
    assert snap is not before
    table = view.select(*R._SNAPSHOT_COLS).toArrow()
    fresh = R._built([(0, R._Rows(table))], table.num_rows)
    assert _sorted(snap.docs).equals(_sorted(fresh.docs))
    meta = _stream_meta()
    got, want = snap.retrieve(meta), fresh.retrieve(meta)
    assert got == want and len(got) > len(meta)
    assert {r["repo"] for r in got} == {"repoA", "repoB"}


def test_spliced_snapshot_answers_after_compaction(spark, tmp_path, monkeypatch):
    """A snapshot spliced from cached files (repoB's) and a new one
    (repoA's) answers the same after `compact_store` deletes repoA's
    old version, and a view resolved after compaction shares it."""
    from githubrepostorag_spark.operators import retrieval as R
    from githubrepostorag_spark.streaming.ingest import compact_store, read_latest_store

    store, _, view, snap, paths, _ = _one_repo_tick(spark, tmp_path, monkeypatch)
    meta = _stream_meta()
    want = snap.retrieve(meta)
    compact_store(spark, store)
    assert not os.path.exists(os.path.join(store, "repo=repoA", "batch_id=0"))
    assert R.store_snapshot(view).retrieve(meta) == want and want
    n = len(paths)
    assert R.store_snapshot(read_latest_store(spark, store)) is snap
    assert len(paths) == n


def test_concurrent_asks_load_a_version_once(spark, tmp_path, monkeypatch):
    """Two threads asking at once for the snapshot of one version — two
    fresh views of its files, or one in-memory frame — load it once:
    the second waits for the first's load instead of running its own."""
    import threading

    from githubrepostorag_spark.operators import retrieval as R

    path = str(tmp_path / "store")
    _tiny_store(spark, [(f"r{i}", [float(i), 1.0, 0.5]) for i in range(8)]).repartition(3).write.parquet(path)
    reads = _Counting(R._read_file, pause=0.2)
    monkeypatch.setattr(R, "_read_file", reads)
    loads = []
    to_arrow = type(_tiny_store(spark, [])).toArrow

    def counting_to_arrow(df):
        loads.append(df)
        time.sleep(0.2)
        return to_arrow(df)

    monkeypatch.setattr(type(_tiny_store(spark, [])), "toArrow", counting_to_arrow)
    mem = _tiny_store(spark, [(f"m{i}", [1.0, float(i), 0.0]) for i in range(5)])
    for stores in ([spark.read.parquet(path), spark.read.parquet(path)], [mem, mem]):
        got = []
        threads = [threading.Thread(target=lambda s=s: got.append(R.store_snapshot(s))) for s in stores]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(got) == 2 and got[0] is got[1] is not None
    n_files = len(spark.read.parquet(path).inputFiles())
    assert sorted(reads.paths) == sorted(set(reads.paths)) and len(reads.paths) == n_files
    assert len(loads) == 1
