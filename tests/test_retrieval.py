"""Retrieval tests: the one ranker shared by the driver snapshot and
the Spark path, and its scoring kernel against the inline JVM
expression `F.round(V.dot(V.as_double(vector), V.as_double(qvec)), 6)`."""

from __future__ import annotations

import numpy as np
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
    """Below the bound a parquet store loads with one job, its footers
    having counted it. Above the bound a store is found so before any
    body or vector reaches the driver — by its footers, or by a count
    of row_ids when it has no file list — and keeps the Spark path. A
    filter the footers over-count is settled by that count."""
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
    assert len(sc.statusTracker().getJobIdsForGroup("snapshot-load")) == 1

    monkeypatch.setattr(R, "snapshot_bound", lambda spark: 5)
    snap = R.store_snapshot(spark.read.parquet(path).filter("row_id < 'r3'"))
    assert snap is not None and len(snap.docs["row_id"]) == 3

    def no_load(self):
        raise AssertionError("an above-bound store shipped to the driver")

    monkeypatch.setattr(type(_tiny_store(spark, rows)), "toArrow", no_load)
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
