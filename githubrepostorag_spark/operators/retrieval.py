"""Graph-RAG retrieval (SURVEY V2/V3/V5, J1).

Reference behavior (graph_rag_retrievers.py:104-134, agent_graph.py:171-176):
seed via metadata-filtered cosine top-`start_k`, expand ≤`max_depth`
hops over metadata-equality edges (namespace/repo/module/file_path),
collect `adjacent_k` per hop, return ≤`k` by score. Per-scope params:

    project (repo table):   k=10, start_k=2, adjacent_k=6, max_depth=2
    package (module table): k=8,  start_k=2, adjacent_k=6, max_depth=2
    file:                   k=8,  start_k=2, adjacent_k=6, max_depth=2
    code (chunk table):     k=10, start_k=3, adjacent_k=8, max_depth=2

Engine shape, two paths with the same answers:

- Snapshot (serving stores up to a driver bound): `store_snapshot`
  loads the slim store — vectors as float64, edge keys, topics, doc
  columns — into the driver ONCE per store DataFrame with one job, and
  `StoreSnapshot.retrieve` runs seed → ≤2 hops → top-k → doc fetch for
  a whole mixed-scope batch in numpy. No Spark job runs per call. The
  bound is `session.driver_bound_rows` at the measured peak bytes per
  snapshot row (`snapshot_bound`). A store above it stays on the Spark
  path, and is found above it before any body ships: by its parquet
  footers, else by a count of row_ids. A DataFrame's file list is
  fixed when it is created, so a snapshot sees exactly what a scan of
  the same DataFrame would.
- Spark (`retrieve_batch_multi`): queries hash-join the scope
  partitions (partition-pruned, filter pushdown), score = dot on unit
  vectors into a narrow cached (query_id, row_id, edge keys, score)
  table, then a bounded driver loop walks the hops: each ≤batch×k
  frontier row set is pushed back as literal isin predicates over the
  cached scores, and the final ≤k ids fetch doc bodies with one
  broadcast hash join. The store never shuffles.

Both score with one kernel (`_dot_dimseq`: dim-sequential float64
accumulation, bit-identical to the JVM fold) and round like
`F.round(score, 6)`; both rank score desc NULLS LAST, then row_id asc.
"""

from __future__ import annotations

import math
import threading
import weakref
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Context, Decimal
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import vectors as V
from githubrepostorag_spark.session import driver_bound_rows

FILTER_KEYS = ("namespace", "repo", "module")


@dataclass(frozen=True)
class ScopeParams:
    k: int
    start_k: int
    adjacent_k: int
    max_depth: int


SCOPE_PARAMS: dict[str, ScopeParams] = {
    "project": ScopeParams(10, 2, 6, 2),
    "package": ScopeParams(8, 2, 6, 2),
    "file": ScopeParams(8, 2, 6, 2),
    "code": ScopeParams(10, 3, 8, 2),
}

# agent scope name → storage scope partition (worker builders
# for_repo/for_module/for_file/for_chunk)
SCOPE_TO_TABLE = {
    "project": "repo",
    "package": "module",
    "file": "file",
    "code": "chunk",
}

EDGE_KEYS = ("namespace", "repo", "module", "file_path")  # graph_rag_retrievers.py:82-100

_DOC_COLS = (
    "row_id",
    "body",
    "scope",
    "namespace",
    "repo",
    "module",
    "file_path",
    "language",
    "topics",
)

# per-query ranking params carried as columns on the query batch — the
# driver reads them (via query_meta or a collect) so queries against
# DIFFERENT scopes (different k/start_k/adjacent_k) rank correctly
# inside one shared job
_PARAM_COLS = ("p_k", "p_start_k", "p_adjacent_k", "p_max_depth")

# slim scoring schema: ranking + hop expansion need only ids, edge
# keys, and the score — doc bodies are fetched once for the final ≤k
# rows, so the cached score table stays narrow at any store size
_SLIM_COLS = ("row_id", "namespace", "repo", "module", "file_path")


# a query batch as DataFrame columns; the agent's query meta dicts
# carry these keys, and `QUERY_COLS` orders them into rows
QUERY_SCHEMA = (
    "query_id string, qvec array<float>, flt_namespace string, "
    "flt_repo string, flt_module string, flt_topics string, "
    "q_scope string, p_k int, p_start_k int, p_adjacent_k int, p_max_depth int"
)
QUERY_COLS = tuple(f.split()[0] for f in QUERY_SCHEMA.split(", "))


def with_scope_params(
    queries: DataFrame, scope: str, params: "ScopeParams | None" = None
) -> DataFrame:
    """Attach the table-scope + ranking-param columns for one agent
    scope, turning a plain query batch into multi-scope form."""
    p = params or SCOPE_PARAMS[scope]
    return (
        queries.withColumn("q_scope", F.lit(SCOPE_TO_TABLE.get(scope, scope)))
        .withColumn("p_k", F.lit(p.k))
        .withColumn("p_start_k", F.lit(p.start_k))
        .withColumn("p_adjacent_k", F.lit(p.adjacent_k))
        .withColumn("p_max_depth", F.lit(p.max_depth))
    )


def _or_tree(conds: list):
    """Balanced OR of a condition list. A left-deep ``c0 | c1 | ...``
    fold nests O(n) deep and overflows the JVM stack during
    Column→Expression conversion at ~1000 branches (observed with a
    1000-query burst batch); pairwise reduction keeps the tree
    log₂(n) deep, so batch size is bounded by plan-analysis cost, not
    by stack depth."""
    while len(conds) > 1:
        conds = [
            conds[i] | conds[i + 1] if i + 1 < len(conds) else conds[i]
            for i in range(0, len(conds), 2)
        ]
    return conds[0]


def _scored(
    store: DataFrame,
    queries: DataFrame,
    query_meta: list[dict] | None = None,
) -> DataFrame:
    """All (query × candidate) scores under the query's filters (SURVEY
    F10). Vectors are unit-normalized at write → cosine == dot.

    Scale plan: a single null-or-equal join over every filter key is a
    non-equi predicate, which Spark can only execute as a broadcast
    nested-loop over the whole scope partition. Instead the (tiny)
    query batch is split by WHICH filter keys are non-null — one tiny
    driver-side pass over the query rows — and each group joins the
    store on scope + its equality keys as a broadcast HASH join (the
    store side never shuffles; provided keys prune candidates before
    any vector math). The scope column is always an equality key, so
    even the filterless group hash-joins instead of nested-looping.
    `flt_topics` is a list-membership test, applied post-join per group.
    """
    meta_rows = (
        query_meta
        if query_meta is not None
        else queries.select(
            "query_id", *[f"flt_{k}" for k in FILTER_KEYS], "flt_topics", "q_scope"
        ).collect()
    )
    # static scan pruning to the scopes this batch touches
    scopes = sorted({r["q_scope"] for r in meta_rows})
    groups: dict[tuple[str, ...], list[str]] = {}
    topic_ids = set()
    for r in meta_rows:
        keys = tuple(k for k in FILTER_KEYS if r[f"flt_{k}"] is not None)
        groups.setdefault(keys, []).append(r["query_id"])
        if r["flt_topics"] is not None:
            topic_ids.add(r["query_id"])

    out: DataFrame | None = None
    st = store.filter(F.col("scope").isin(scopes)).alias("s")
    for keys, qids in groups.items():
        q = F.broadcast(queries.filter(F.col("query_id").isin(qids)).alias("q"))
        cond = F.col("s.scope") == F.col("q.q_scope")
        for k in keys:
            cond = cond & (F.col(f"s.{k}") == F.col(f"q.flt_{k}"))
        joined = st.join(q, cond)
        if topic_ids.intersection(qids):
            joined = joined.filter(
                F.col("q.flt_topics").isNull()
                | F.array_contains(
                    F.coalesce(F.col("s.topics"), F.array()), F.col("q.flt_topics")
                )
            )
        part = joined.select(
            F.col("q.query_id").alias("query_id"),
            *[F.col(f"s.{c}").alias(c) for c in _SLIM_COLS],
            F.round(
                V.dot(V.as_double(F.col("s.vector")), V.as_double(F.col("q.qvec"))), 6
            ).alias("score"),
        )
        out = part if out is None else out.unionByName(part)
    if out is None:  # empty query batch
        empty = _scored_schema_like(store, queries)
        return empty
    return out


def _query_block(qvecs: list) -> np.ndarray:
    """(queries × dim) float64 block of query vectors, round-tripped
    through float32 exactly as the array<float> query column stores
    them. A batch must share one dim."""
    dims = {len(v) for v in qvecs}
    if len(dims) > 1:
        raise ValueError(f"mixed query dims unsupported: {sorted(dims)}")
    dim = dims.pop() if dims else 0
    return np.asarray(qvecs, dtype=np.float32).astype(np.float64).reshape(len(qvecs), dim)


def _vector_block(vecs: pa.Array | pa.ChunkedArray, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(valid, M) for an Arrow column of store vectors: `valid` marks
    the rows the JVM fold scores — vector non-NULL, `dim` long, no NULL
    element (zip_with pads a short side with NULL, and a NULL product
    poisons the aggregate) — and M holds those rows as (n_valid × dim)
    float64. Every other row scores NULL."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    lens = pc.list_value_length(vecs).fill_null(0).to_numpy(zero_copy_only=False)
    lens = lens.astype(np.int64)
    valid = ~vecs.is_null().to_numpy(zero_copy_only=False) & (lens == dim)
    flat = vecs.flatten()  # elements of the non-NULL rows, in row order
    owner = np.repeat(np.arange(len(vecs)), lens)
    valid[owner[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    return valid, vals[valid[owner]].reshape(int(valid.sum()), dim)


def _dot_dimseq(M: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(rows × queries) dot products, accumulated dim-sequentially in
    float64 (acc += v[:, i] * q[i], no fused multiply-add): per element
    the JVM fold's exact left-to-right order, so scores are
    bit-identical to `V.dot`. A Fortran-ordered M makes each column
    read contiguous."""
    S = np.zeros((M.shape[0], Q.shape[0]), dtype=np.float64)
    for i in range(Q.shape[1]):
        S += M[:, i : i + 1] * Q[:, i]
    return S


_ROUND_CTX = Context(prec=40)
_ROUND_STEP = Decimal("1e-6")


def _round6_exact(v: float) -> float:
    """`F.round(v, 6)` for one double: HALF_UP on its decimal string.
    Beyond 1e11 a double's shortest decimal has no 6th decimal digit,
    so rounding is the identity there."""
    if not math.isfinite(v) or abs(v) >= 1e11:
        return v
    d = Decimal(repr(v)).quantize(_ROUND_STEP, rounding=ROUND_HALF_UP, context=_ROUND_CTX)
    return float(d) + 0.0  # BigDecimal has no -0


def _round6(x: np.ndarray) -> np.ndarray:
    """`F.round(x, 6)` over a float64 array. Spark rounds HALF_UP on
    the double's decimal string, then converts back correctly rounded.
    For |x| < 1e3 and a 6-decimal fraction more than 1e-6 from a tie,
    the scaled double decides the side of the tie (its error is below
    2e-7) and m / 1e6 is the correctly rounded double of m·10⁻⁶; the
    rest — near ties, large and non-finite values — takes the decimal
    route."""
    with np.errstate(invalid="ignore"):
        a = np.abs(x) * 1e6
        f = np.floor(a)
        frac = a - f
        out = np.copysign(f + (frac >= 0.5), x) / 1e6 + 0.0
        slow = ~(np.abs(x) < 1e3) | (np.abs(frac - 0.5) < 1e-6)
    for i in np.flatnonzero(slow):
        out.flat[i] = _round6_exact(float(x.flat[i]))
    return out


def _scored_np(store: DataFrame, meta_rows: list[dict]) -> DataFrame:
    """`_scored` computed through the Arrow boundary (guide §4.2/§8):
    ONE pass over the slim store ships each candidate row into numpy
    once, scores it against the whole (broadcast-in-closure) query
    block, and emits exactly the rows the per-group broadcast hash
    joins would — same filters, same null semantics, bit-identical
    scores.

    Why: the agent's batches are many-queries × small-store, so the
    join shape evaluates the interpreted `zip_with`+`aggregate` dot
    fold once per (query, candidate) pair. Here each pair's score comes
    from the shared `_dot_dimseq` kernel; rows `_vector_block` marks
    invalid (NULL, off-dimension, or holding a NULL element) yield a
    NULL score. Rounding stays JVM-side (`F.round`) so the decimal
    discipline is byte-identical to `_scored`'s.

    `meta_rows` must carry ``qvec`` in addition to `_scored`'s meta
    (the agent passes its own embeddings; `_query_block` round-trips
    them through float32 exactly as the array<float> query column
    stores them)."""
    scopes = sorted({r["q_scope"] for r in meta_rows})
    # plain-python payload captured by the closure (no DataFrames):
    # (query_id, scope, {filter key: value}, topics-or-None)
    payload = [
        (
            r["query_id"],
            r["q_scope"],
            {k: r[f"flt_{k}"] for k in FILTER_KEYS if r[f"flt_{k}"] is not None},
            r["flt_topics"],
        )
        for r in meta_rows
    ]
    Q = _query_block([r["qvec"] for r in meta_rows])
    dim = Q.shape[1]

    slim = store.filter(F.col("scope").isin(scopes)).select(
        "scope", *_SLIM_COLS, "topics", "vector"
    )

    def score_batches(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {c: batch.column(c).to_pylist() for c in ("scope", *_SLIM_COLS, "topics")}
            valid, M = _vector_block(batch.column("vector"), dim)
            S = _dot_dimseq(np.asfortranarray(M), Q)
            valid_pos = np.cumsum(valid) - 1  # row idx -> M/S row
            scope_arr = np.asarray(cols["scope"], dtype=object)
            key_arrs = {
                k: np.asarray(cols[k], dtype=object) for k in FILTER_KEYS
            }
            topics_masks: dict[str, np.ndarray] = {}
            out_cols: dict[str, list] = {c: [] for c in ("query_id", *_SLIM_COLS)}
            out_scores: list = []
            src = {c: np.asarray(cols[c], dtype=object) for c in _SLIM_COLS}
            for qi, (qid, qscope, flt, topics_val) in enumerate(payload):
                mask = scope_arr == qscope
                for k, v in flt.items():
                    mask = mask & (key_arrs[k] == v)
                if topics_val is not None:
                    tm = topics_masks.get(topics_val)
                    if tm is None:
                        tm = np.fromiter(
                            (topics_val in (t or []) for t in cols["topics"]),
                            dtype=bool,
                            count=n,
                        )
                        topics_masks[topics_val] = tm
                    mask = mask & tm
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                out_cols["query_id"].extend([qid] * idx.size)
                for c in _SLIM_COLS:
                    out_cols[c].extend(src[c][idx].tolist())
                out_scores.extend(
                    float(S[valid_pos[j], qi]) if valid[j] else None
                    for j in idx
                )
            if not out_scores:
                continue
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": pa.array(out_cols["query_id"], type=pa.string()),
                    **{
                        c: pa.array(out_cols[c], type=pa.string())
                        for c in _SLIM_COLS
                    },
                    "score": pa.array(out_scores, type=pa.float64()),
                }
            )

    raw = slim.mapInArrow(
        score_batches,
        "query_id string, "
        + ", ".join(f"{c} string" for c in _SLIM_COLS)
        + ", score double",
    )
    return raw.select(
        "query_id", *_SLIM_COLS, F.round(F.col("score"), 6).alias("score")
    )


def _scored_schema_like(store: DataFrame, queries: DataFrame) -> DataFrame:
    st = store.alias("s")
    q = queries.alias("q")
    return (
        st.crossJoin(q)
        .select(
            F.col("q.query_id").alias("query_id"),
            *[F.col(f"s.{c}").alias(c) for c in _SLIM_COLS],
            F.lit(0.0).alias("score"),
        )
        .limit(0)
    )


@dataclass
class IvfIndex:
    """Coarse-quantization index over one store scope: a sampled
    codebook plus per-row cell assignments (both precomputed once per
    store version — the engine analog of the reference's SAI index
    build at write time)."""

    centroids: DataFrame  # (cell long, centroid array<double>)
    assignments: DataFrame  # (row_id string, cell long)


def build_ivf_index(store: DataFrame, n_cells: int = 16) -> IvfIndex:
    """Deterministic IVF codebook: the `n_cells` lowest-row_id vectors
    seed the cells; every row is assigned to its nearest centroid.

    One broadcast of the tiny codebook; the store scan never shuffles.
    (A k-means refinement loop slots in here without changing the
    index shape.)
    """
    # orderBy+limit = TakeOrderedAndProject (top-k per partition + merge,
    # no global sort); the row_number window then runs over n_cells rows
    seeds = store.select("row_id", "vector").orderBy("row_id").limit(n_cells)
    cents = (
        seeds.withColumn("rn", F.row_number().over(Window.orderBy("row_id")))
        .select(
            (F.col("rn") - 1).cast("long").alias("cell"),
            V.as_double("vector").alias("centroid"),
        )
    )
    scored = store.select("row_id", "vector").crossJoin(F.broadcast(cents)).select(
        "row_id", "cell", V.dot(V.as_double("vector"), F.col("centroid")).alias("sim")
    )
    wa = Window.partitionBy("row_id").orderBy(F.desc("sim"), F.asc("cell"))
    assignments = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("row_id", "cell")
    )
    return IvfIndex(centroids=cents, assignments=assignments)


def _scored_ivf(
    store: DataFrame, queries: DataFrame, ivf: IvfIndex, n_probes: int
) -> DataFrame:
    """IVF-pruned candidate scoring: each query scores ONLY rows whose
    cell is among its `n_probes` nearest centroids — the 100 TB serving
    plan (scan cost ~ n_probes/n_cells of the scope; all joins hash).
    Equality/topics filters apply on the pruned candidates."""
    probes = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(ivf.centroids))
        .select(
            "query_id", "cell", V.dot(F.col("centroid"), V.as_double("qvec")).alias("sim")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
            ),
        )
        .filter(F.col("rn") <= n_probes)
        .select("query_id", "cell")
    )
    cand = (
        store.join(ivf.assignments, "row_id")
        .join(F.broadcast(probes), "cell")
        .alias("s")
        .join(F.broadcast(queries.alias("q")), F.col("s.query_id") == F.col("q.query_id"))
    )
    filt = F.lit(True)
    for k in FILTER_KEYS:
        filt = filt & (F.col(f"q.flt_{k}").isNull() | (F.col(f"s.{k}") == F.col(f"q.flt_{k}")))
    filt = filt & (
        F.col("q.flt_topics").isNull()
        | F.array_contains(F.coalesce(F.col("s.topics"), F.array()), F.col("q.flt_topics"))
    )
    return cand.filter(filt).select(
        F.col("s.query_id").alias("query_id"),
        *[F.col(f"s.{c}").alias(c) for c in _SLIM_COLS],
        F.round(V.dot(V.as_double(F.col("s.vector")), V.as_double(F.col("q.qvec"))), 6).alias(
            "score"
        ),
    )


def retrieve_batch_multi(
    store: DataFrame,
    queries: DataFrame,
    ivf: dict[str, IvfIndex] | None = None,
    n_probes: int = 3,
    query_meta: list[dict] | None = None,
    max_depth: int = 2,
    np_kernel: bool = False,
) -> DataFrame:
    """Seed-and-expand retrieval for a batch of queries spanning ANY mix
    of scopes — the whole batch runs as ONE Spark job.

    queries: (query_id string, qvec array<float>, flt_namespace,
    flt_repo, flt_module, flt_topics — nullable strings, q_scope string
    = TABLE scope, p_k/p_start_k/p_adjacent_k/p_max_depth ints); use
    `with_scope_params` to attach the last five. Returns ≤p_k rows per
    query with hop + score, score-desc ranked.

    `ivf` maps TABLE scope → IvfIndex; queries on indexed scopes score
    only their probe cells (approximate, like the reference's ANN
    index), the rest score exactly with hash-join filter pruning.
    The per-hop loop bound is `max_depth` globally with per-query
    p_max_depth gating, so mixed-depth batches rank correctly. Callers
    holding filter metadata driver-side (the agent does) pass
    `query_meta` (with q_scope per row) to skip the metadata collect.

    ``np_kernel``: opt-in vectorized scorer for the exact path — the
    caller must pass `query_meta` rows that ALSO carry the query's
    ``qvec``. Scoring then runs as one Arrow pass over the slim store
    (`_scored_np`): each store row ships through the Python boundary
    once and is scored against the whole broadcast query block in
    numpy, instead of being joined and re-scored per query by the
    interpreted higher-order fold. Scores are bit-identical (see
    `_scored_np`); rounding stays JVM-side. The agent turns this on —
    its batches are exactly the many-queries×small-store shape the
    fold is slowest at. Oracle-parity callers (q40's retrieve_batch)
    keep the default JVM fold.
    """
    ivf = ivf or {}
    meta_rows = (
        query_meta
        if query_meta is not None
        else queries.select(
            "query_id",
            *[f"flt_{k}" for k in FILTER_KEYS],
            "flt_topics",
            "q_scope",
            *_PARAM_COLS,
        ).collect()
    )
    params = {
        r["query_id"]: (r["p_k"], r["p_start_k"], r["p_adjacent_k"], r["p_max_depth"])
        for r in meta_rows
    }

    ids_schema = "query_id string, row_id string, score double, hop int"
    batch_scopes = sorted({r["q_scope"] for r in meta_rows})
    if not meta_rows:
        ids = store.sparkSession.createDataFrame([], ids_schema)
        return _fetch_docs(store, ids, batch_scopes)

    exact_meta = [r for r in meta_rows if r["q_scope"] not in ivf]
    parts: list[DataFrame] = []
    if exact_meta:
        exact_ids = [r["query_id"] for r in exact_meta]
        sub = queries if not ivf else queries.filter(F.col("query_id").isin(exact_ids))
        parts.append(
            _scored_np(store, exact_meta)
            if np_kernel
            else _scored(store, sub, exact_meta)
        )
    for tscope, index in ivf.items():
        qids = [r["query_id"] for r in meta_rows if r["q_scope"] == tscope]
        if not qids:
            continue
        sub = queries.filter(F.col("query_id").isin(qids))
        parts.append(
            _scored_ivf(store.filter(F.col("scope") == tscope), sub, index, n_probes)
        )
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionByName(p)
    # the slim score table is scanned once per hop plus once for seeds;
    # cap its cached partition count at cluster parallelism (coalesce is
    # narrow — no shuffle) so those rescans don't pay per-partition task
    # overhead proportional to the store's write-time partitioning
    n_slots = store.sparkSession.sparkContext.defaultParallelism
    scored = scored.coalesce(max(1, n_slots)).cache()
    try:
        # --- seeds: one job ranks every query's top start_k ---
        max_start = max(p[1] for p in params.values())
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("row_id"))
        seed_rows = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_start)
            .drop("rn")
            .collect()
        )
        by_q: dict[str, list] = {}
        for r in seed_rows:
            by_q.setdefault(r["query_id"], []).append(r)

        def rank_key(r):
            # Spark desc() is NULLS LAST; mirror it driver-side
            return (r["score"] is None, -(r["score"] or 0.0), r["row_id"])
        reached: dict[str, list[tuple]] = {}  # qid -> [(row_id, score, hop)]
        frontier: dict[str, list] = {}
        for qid, (k, start_k, adj_k, depth_q) in params.items():
            top = sorted(by_q.get(qid, []), key=rank_key)[:start_k]
            reached[qid] = [(r["row_id"], r["score"], 0) for r in top]
            frontier[qid] = top

        # --- hops: the frontier is ≤ batch×k rows by construction, so
        # it travels driver→executors as literal isin predicates over
        # the cached slim score table — no broadcast joins, no
        # re-computation of prior hops (the old lineage-recursive plan
        # re-ran hop N-1's subplan once per later reference) ---
        for depth in range(1, max_depth + 1):
            conds = []
            active_adj: dict[str, int] = {}
            for qid, (k, start_k, adj_k, depth_q) in params.items():
                fr = frontier.get(qid) or []
                if depth > depth_q or not fr:
                    continue
                key_sets = {
                    key: sorted({r[key] for r in fr if r[key] is not None})
                    for key in EDGE_KEYS
                }
                edge_cond = None
                for key, vals in key_sets.items():
                    if not vals:
                        continue
                    c = F.col(key).isin(vals)
                    edge_cond = c if edge_cond is None else edge_cond | c
                if edge_cond is None:
                    continue
                seen_ids = [row_id for row_id, _, _ in reached[qid]]
                conds.append(
                    (F.col("query_id") == qid)
                    & edge_cond
                    & ~F.col("row_id").isin(seen_ids)
                )
                active_adj[qid] = adj_k
            if not conds:
                break
            cond = _or_tree(conds)
            max_adj = max(active_adj.values())
            hop_rows = (
                scored.filter(cond)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= max_adj)
                .drop("rn")
                .collect()
            )
            hop_by_q: dict[str, list] = {}
            for r in hop_rows:
                hop_by_q.setdefault(r["query_id"], []).append(r)
            frontier = {}
            for qid, adj_k in active_adj.items():
                top = sorted(hop_by_q.get(qid, []), key=rank_key)[:adj_k]
                reached[qid].extend((r["row_id"], r["score"], depth) for r in top)
                frontier[qid] = top

        # --- final: rank ≤k per query driver-side, fetch doc columns once ---
        final: list[tuple] = []
        for qid, (k, _, _, _) in params.items():
            rows = sorted(
                reached.get(qid, []), key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0])
            )[:k]
            final.extend((qid, row_id, score, hop) for row_id, score, hop in rows)
        ids = store.sparkSession.createDataFrame(final, ids_schema)
        return _fetch_docs(store, ids, batch_scopes)
    finally:
        scored.unpersist()


def _fetch_docs(store: DataFrame, ids: DataFrame, scopes: list[str] | None = None) -> DataFrame:
    """Join the (tiny) ranked id list back to the store for doc columns.
    row_id is meant to be unique (sha1 over scope|keys); the scope
    filter keeps partition pruning in the fetch scan. A duplicated
    chunk row_id fans out here, past k rows for its query; the join
    stays because q40's oracle joins the same way. `StoreSnapshot`
    fetches by position instead."""
    if scopes:
        store = store.filter(F.col("scope").isin(scopes))
    s = store.alias("s")
    i = F.broadcast(ids.alias("i"))
    return (
        s.join(i, F.col("s.row_id") == F.col("i.row_id"))
        .select(
            F.col("i.query_id").alias("query_id"),
            *[F.col(f"s.{c}").alias(c) for c in _DOC_COLS],
            F.col("i.score").alias("score"),
            F.col("i.hop").alias("hop"),
        )
        # callers read rows score-desc (V5); the result is ≤k×batch rows
        .orderBy(F.desc("score"), F.asc("row_id"))
    )


# ------------------------------------------------------------ snapshot

# the columns a snapshot holds: doc columns plus the vector
_SNAPSHOT_COLS = (*_DOC_COLS, "vector")

# driver bytes per snapshot row at the peak of its load: the Arrow
# table (1,865 B/row) beside the snapshot being built from it (10,455
# B/row at peak, 3,991 B/row resident once built: 384 float64s plus the
# doc columns as Python objects), measured on the 9,443-row sf0.1
# ingest store. No floor: the bound is 3,486 rows on a 2g driver and
# 27,889 on the default 16g.
_SNAPSHOT_ROW_BYTES = 12_320


def snapshot_bound(spark: SparkSession) -> int:
    """Most store rows `store_snapshot` holds in the driver."""
    return driver_bound_rows(spark, bytes_per_row=_SNAPSHOT_ROW_BYTES, floor=0)


def _codes(values: list) -> tuple[np.ndarray, dict]:
    """Integer codes of a string column (NULL → -1) and its value → code map."""
    index: dict = {}
    codes = np.fromiter(
        (-1 if v is None else index.setdefault(v, len(index)) for v in values),
        dtype=np.int64,
        count=len(values),
    )
    return codes, index


def _top(idx: np.ndarray, score: np.ndarray, null: np.ndarray, rid: np.ndarray, n: int) -> np.ndarray:
    """The first `n` of `idx` by score desc NULLS LAST, then row_id asc
    (`rid` is row_id's sort rank); ties keep `idx` order."""
    order = np.lexsort((rid[idx], -np.where(null[idx], 0.0, score[idx]), null[idx]))
    return idx[order[:n]]


@dataclass
class _ScopeBlock:
    """One scope's rows: store positions, NULL-score mask, float64
    vectors of the scored rows (Fortran order), edge-key codes, and
    row_id sort ranks."""

    pos: np.ndarray
    null: np.ndarray
    M: np.ndarray
    codes: dict[str, np.ndarray]
    rid: np.ndarray


class StoreSnapshot:
    """The slim serving store held in the driver. `retrieve` answers a
    mixed-scope query batch with the rows `retrieve_batch_multi` would
    return, in numpy, with no Spark job; it is read-only after load, so
    threads may share it."""

    def __init__(self, table: pa.Table, dim: int | None):
        docs = {c: table.column(c).to_pylist() for c in _DOC_COLS}
        self.docs = docs
        self.dim = dim  # the length of every non-NULL store vector
        valid, M = _vector_block(table.column("vector"), dim or 0)
        m_row = np.cumsum(valid) - 1
        keys = {k: _codes(docs[k]) for k in EDGE_KEYS}
        self.index = {k: index for k, (_, index) in keys.items()}  # value → code
        rid = np.unique(np.asarray(docs["row_id"], dtype=object), return_inverse=True)[1]
        rid = rid.reshape(-1)
        scopes = np.asarray(docs["scope"], dtype=object)
        self.blocks: dict[str, _ScopeBlock] = {}
        for scope in {s for s in docs["scope"] if s is not None}:
            p = np.flatnonzero(scopes == scope)
            self.blocks[scope] = _ScopeBlock(
                pos=p,
                null=~valid[p],
                M=np.asfortranarray(M[m_row[p[valid[p]]]]),
                codes={k: c[p] for k, (c, _) in keys.items()},
                rid=rid[p],
            )

    def retrieve(self, meta: list[dict]) -> list[dict]:
        """`retrieve_batch_multi(..., query_meta=meta, np_kernel=True)`
        as plain row dicts (query_id, doc columns, score, hop), ≤p_k
        per query, each query's rows score-desc. Each query walks its
        own p_max_depth hops (2 in every `SCOPE_PARAMS` entry, which is
        also `retrieve_batch_multi`'s default cap)."""
        out: list[dict] = []
        if not meta:
            return out
        Q = _query_block([m["qvec"] for m in meta])
        by_scope: dict[str, list[int]] = {}
        for j, m in enumerate(meta):
            by_scope.setdefault(m["q_scope"], []).append(j)
        for scope, js in by_scope.items():
            b = self.blocks.get(scope)
            if b is None:
                continue
            S = np.zeros((len(b.pos), len(js)))
            if Q.shape[1] == self.dim:
                null = b.null
                S[~null] = _round6(_dot_dimseq(b.M, Q[js]))
            else:  # every store vector is off-dimension: all NULL
                null = np.ones(len(b.pos), dtype=bool)
            topic_masks: dict[str, np.ndarray] = {}  # this batch's topics only
            for col, j in enumerate(js):
                out.extend(self._ranked(meta[j], b, S[:, col], null, topic_masks))
        return out

    def _ranked(self, m: dict, b: _ScopeBlock, score: np.ndarray,
                null: np.ndarray, topic_masks: dict[str, np.ndarray]) -> list[dict]:
        """Seed → ≤p_max_depth hops → top p_k for one query, as
        `retrieve_batch_multi`'s driver loop ranks them."""
        cand = np.ones(len(b.pos), dtype=bool)
        for k in FILTER_KEYS:
            v = m[f"flt_{k}"]
            if v is not None:
                cand &= b.codes[k] == self.index[k].get(v, -2)
        topic = m["flt_topics"]
        if topic is not None:
            if topic not in topic_masks:
                topics = self.docs["topics"]
                topic_masks[topic] = np.fromiter(
                    (topic in (topics[g] or []) for g in b.pos), dtype=bool, count=len(b.pos)
                )
            cand &= topic_masks[topic]
        frontier = _top(np.flatnonzero(cand), score, null, b.rid, m["p_start_k"])
        reached = [frontier]
        hops = [np.zeros(len(frontier), dtype=np.int64)]
        for depth in range(1, m["p_max_depth"] + 1):
            edge = np.zeros(len(b.pos), dtype=bool)
            for k in EDGE_KEYS:
                vals = b.codes[k][frontier]
                vals = vals[vals >= 0]
                if vals.size:
                    edge |= np.isin(b.codes[k], vals)
            if not edge.any():
                break
            seen = b.rid[np.concatenate(reached)]
            frontier = _top(
                np.flatnonzero(cand & edge & ~np.isin(b.rid, seen)),
                score, null, b.rid, m["p_adjacent_k"],
            )
            if not frontier.size:
                break
            reached.append(frontier)
            hops.append(np.full(len(frontier), depth, dtype=np.int64))
        idx, hop = np.concatenate(reached), np.concatenate(hops)
        order = np.lexsort((b.rid[idx], -np.where(null[idx], 0.0, score[idx]), null[idx]))
        rows = []
        for o in order[: m["p_k"]]:
            i, g = idx[o], b.pos[idx[o]]
            row = {"query_id": m["query_id"]}
            row.update((c, self.docs[c][g]) for c in _DOC_COLS)
            row["score"] = None if null[i] else float(score[i])
            row["hop"] = int(hop[o])
            rows.append(row)
        return rows


_SNAPSHOTS: "weakref.WeakKeyDictionary[DataFrame, StoreSnapshot | None]" = (
    weakref.WeakKeyDictionary()
)
_SNAPSHOTS_LOCK = threading.Lock()


def store_snapshot(store: DataFrame) -> StoreSnapshot | None:
    """The driver snapshot of `store`, loaded by the first call for this
    DataFrame instance with one job (`limit(bound + 1).toArrow()`) and
    reused by every later call. None — also cached — when the store
    holds more than `snapshot_bound` rows, or vectors of more than one
    length; the caller then retrieves through `retrieve_batch_multi`.
    `_fits` vets the row count first, so a store above the bound ships
    no body or vector to the driver.

    Keying on the instance keeps what a reader sees unchanged: the
    DataFrame's file list was fixed when it was created, and a snapshot
    outlives those files (a later `compact_store` cannot fail it)."""
    with _SNAPSHOTS_LOCK:
        if store in _SNAPSHOTS:
            return _SNAPSHOTS[store]
    bound = snapshot_bound(store.sparkSession)
    snap = None
    if _fits(store, bound):
        table = store.select(*_SNAPSHOT_COLS).limit(bound + 1).toArrow()
        lens = pc.list_value_length(table.column("vector")).drop_null()
        dims = pc.unique(lens).to_pylist()
        if table.num_rows <= bound and len(dims) <= 1:
            snap = StoreSnapshot(table, dims[0] if dims else None)
    with _SNAPSHOTS_LOCK:
        return _SNAPSHOTS.setdefault(store, snap)


def _footer_rows(store: DataFrame) -> int | None:
    """Rows in the parquet files `store` scans, summed from their
    footers with no Spark job; None unless it scans local parquet files
    only."""
    files = store.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    try:
        return sum(pq.read_metadata(unquote(urlparse(f).path)).num_rows for f in files)
    except (OSError, pa.ArrowException):
        return None


def _fits(store: DataFrame, bound: int) -> bool:
    """Whether `store` holds at most `bound` rows, decided before any
    body or vector ships: by its parquet footers when they count no
    more (no Spark job), else by counting at most bound + 1 row_ids.
    Footers over-count a filtered or windowed scan, which the count
    settles; a plan that repeats rows can exceed them, which the load's
    own row check catches."""
    rows = _footer_rows(store)
    if rows is not None and rows <= bound:
        return True
    return store.select("row_id").limit(bound + 1).count() <= bound


def retrieve_batch(
    store: DataFrame,
    queries: DataFrame,
    scope: str,
    params: ScopeParams | None = None,
    ivf: IvfIndex | None = None,
    n_probes: int = 3,
    query_meta: list[dict] | None = None,
) -> DataFrame:
    """Single-scope convenience wrapper over `retrieve_batch_multi`.

    queries: (query_id string, qvec array<float>, flt_namespace,
    flt_repo, flt_module, flt_topics — nullable strings).
    Returns ≤k rows per query with hop + score, score-desc ranked.
    """
    params = params or SCOPE_PARAMS[scope]
    tscope = SCOPE_TO_TABLE.get(scope, scope)
    q2 = with_scope_params(queries, scope, params)
    meta = (
        [
            dict(
                r,
                q_scope=tscope,
                p_k=params.k,
                p_start_k=params.start_k,
                p_adjacent_k=params.adjacent_k,
                p_max_depth=params.max_depth,
            )
            for r in query_meta
        ]
        if query_meta is not None
        else None
    )
    return retrieve_batch_multi(
        store,
        q2,
        ivf={tscope: ivf} if ivf is not None else None,
        n_probes=n_probes,
        query_meta=meta,
        max_depth=params.max_depth,
    )


def mmr_rerank(rows: list[dict], k: int, lambda_mult: float = 0.35) -> list[dict]:
    """Maximal-marginal-relevance re-rank (ingest factory strategy,
    GraphRetrieverFactory.py:148-161): greedy pick balancing query
    relevance vs redundancy. Runs driver-side on ≤k candidates (tiny).

    rows: dicts with 'score' (relevance) and 'body'; diversity proxy is
    token-set overlap of bodies (no vectors needed at this stage).
    """
    if not rows:
        return []
    chosen: list[dict] = []
    remaining = list(rows)

    def overlap(a: dict, b: dict) -> float:
        ta = set((a.get("body") or "").lower().split())
        tb = set((b.get("body") or "").lower().split())
        if not ta or not tb:
            return 0.0
        return len(ta & tb) / len(ta | tb)

    while remaining and len(chosen) < k:
        best, best_val = None, float("-inf")
        for r in remaining:
            redundancy = max((overlap(r, c) for c in chosen), default=0.0)
            val = lambda_mult * (r.get("score") or 0.0) - (1 - lambda_mult) * redundancy
            if val > best_val:
                best, best_val = r, val
        chosen.append(best)
        remaining.remove(best)
    return chosen
