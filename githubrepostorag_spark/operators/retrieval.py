"""Graph-RAG retrieval (SURVEY V2/V3/V5, J1).

Reference behavior (graph_rag_retrievers.py:104-134, agent_graph.py:171-176):
seed via metadata-filtered cosine top-`start_k`, expand ≤`max_depth`
hops over metadata-equality edges (namespace/repo/module/file_path),
collect `adjacent_k` per hop, return ≤`k` by score. Per-scope params:

    project (repo table):   k=10, start_k=2, adjacent_k=6, max_depth=2
    package (module table): k=8,  start_k=2, adjacent_k=6, max_depth=2
    file:                   k=8,  start_k=2, adjacent_k=6, max_depth=2
    code (chunk table):     k=10, start_k=3, adjacent_k=8, max_depth=2

One ranker, run in the driver or per query in Spark. For one query
over a block of store rows, `_candidates` keeps the rows that pass the
query's filters (namespace/repo/module equality, topics membership)
and `_walk` ranks them: seed the top `start_k`, expand ≤`max_depth`
hops to the top `adjacent_k` unseen rows sharing an edge key with the
last hop, keep the top `k` reached. Scores come from one kernel
(`_dot_dimseq`: dim-sequential float64 accumulation, bit-identical to
`V.dot`) rounded like `F.round(score, 6)` (`_round6`); ranks are score
desc NULLS LAST, then row_id asc. Queries score with their `qvec` as
given.

- Snapshot (serving stores up to a driver bound): `store_snapshot`
  loads the slim store — vectors as float64, edge keys, topics, doc
  columns — into the driver ONCE per store DataFrame with one job, and
  `StoreSnapshot.retrieve` ranks a whole mixed-scope batch and fetches
  its docs by position in numpy. No Spark job runs per call. The bound
  is `session.driver_bound_rows` at the measured peak bytes per
  snapshot row (`snapshot_bound`). A store above it stays on the Spark
  path, and is found above it before any body ships: by its parquet
  footers, else by a count of row_ids. A DataFrame's file list is
  fixed when it is created, so a snapshot sees exactly what a scan of
  the same DataFrame would.
- Spark (`retrieve_batch_multi`): one plan. A `mapInArrow` pass scores
  each store row against the whole query block and emits each query's
  candidates as slim (query_id, row_id, edge keys, score) rows;
  `groupBy("query_id").applyInArrow` walks each query's rows; the ≤k
  ids per query fetch their doc columns with one broadcast hash join.
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# per-query ranking params carried as columns on the query batch, so
# queries against DIFFERENT scopes (different k/start_k/adjacent_k)
# rank correctly inside one shared plan
_PARAM_COLS = ("p_k", "p_start_k", "p_adjacent_k", "p_max_depth")

# slim scoring schema: ranking + hop expansion need only ids, edge
# keys, and the score — doc bodies are fetched once for the final ≤k
# rows, so the shuffled score rows stay narrow at any store size
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


def _query_block(qvecs: list) -> np.ndarray:
    """(queries × dim) float64 block of query vectors, taken as given
    (a caller that stores them as array<float> rounds them first). A
    batch must share one dim."""
    dims = {len(v) for v in qvecs}
    if len(dims) > 1:
        raise ValueError(f"mixed query dims unsupported: {sorted(dims)}")
    dim = dims.pop() if dims else 0
    return np.asarray(qvecs, dtype=np.float64).reshape(len(qvecs), dim)


def _vector_block(vecs: pa.Array | pa.ChunkedArray, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(valid, M) for an Arrow column of store vectors: `valid` marks
    the rows `V.dot` scores non-NULL — vector non-NULL, `dim` long, no NULL
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
    the exact left-to-right order of `V.dot`'s JVM fold, so scores are
    bit-identical to it. A Fortran-ordered M makes each column read
    contiguous."""
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


def _scores(valid: np.ndarray, M: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(rows × queries) scores, each `F.round(V.dot(vector, qvec), 6)`:
    M holds the `valid` rows' vectors; every other row scores 0 here
    and NULL to its caller."""
    S = np.zeros((len(valid), len(Q)))
    if valid.any():
        S[valid] = _round6(_dot_dimseq(M, Q))
    return S


# ------------------------------------------------------------ ranker


def _codes(values: list) -> tuple[np.ndarray, dict]:
    """Integer codes of a string column (NULL → -1) and its value → code map."""
    index: dict = {}
    codes = np.fromiter(
        (-1 if v is None else index.setdefault(v, len(index)) for v in values),
        dtype=np.int64,
        count=len(values),
    )
    return codes, index


def _ranks(row_ids: list) -> np.ndarray:
    """Sort rank of each row_id (equal ids share a rank)."""
    return np.unique(np.asarray(row_ids, dtype=object), return_inverse=True)[1].reshape(-1)


def _candidates(m: dict, codes: dict[str, np.ndarray], index: dict[str, dict],
                topics: list, topic_masks: dict[str, np.ndarray]) -> np.ndarray:
    """The rows of a block that pass query `m`'s filters: each non-NULL
    flt_namespace/flt_repo/flt_module equals the row's key (`codes`
    and their value → code `index`), and a non-NULL flt_topics is in
    the row's topics. `topic_masks` caches one mask per topic for the
    block."""
    cand = np.ones(len(topics), dtype=bool)
    for k in FILTER_KEYS:
        v = m[f"flt_{k}"]
        if v is not None:
            cand &= codes[k] == index[k].get(v, -2)
    topic = m["flt_topics"]
    if topic is not None:
        if topic not in topic_masks:
            topic_masks[topic] = np.fromiter(
                (topic in (t or []) for t in topics), dtype=bool, count=len(topics)
            )
        cand &= topic_masks[topic]
    return cand


def _top(idx: np.ndarray, score: np.ndarray, null: np.ndarray, rid: np.ndarray, n: int) -> np.ndarray:
    """The first `n` of `idx` by score desc NULLS LAST, then row_id asc
    (`rid` is row_id's sort rank); ties keep `idx` order."""
    order = np.lexsort((rid[idx], -np.where(null[idx], 0.0, score[idx]), null[idx]))
    return idx[order[:n]]


def _walk(m: dict, score: np.ndarray, null: np.ndarray, codes: dict[str, np.ndarray],
          rid: np.ndarray, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Seed → ≤p_max_depth hops → top p_k for query `m` over one block
    of rows (`score` with its NULL mask, edge-key `codes`, row_id ranks
    `rid`, filter mask `cand`): the positions of its hits, ranked, and
    the hop that reached each. A hop keeps the top p_adjacent_k unseen
    candidates sharing a non-NULL edge key with the previous hop."""
    frontier = _top(np.flatnonzero(cand), score, null, rid, m["p_start_k"])
    reached = [frontier]
    hops = [np.zeros(len(frontier), dtype=np.int64)]
    for depth in range(1, m["p_max_depth"] + 1):
        edge = np.zeros(len(cand), dtype=bool)
        for k in EDGE_KEYS:
            vals = codes[k][frontier]
            vals = vals[vals >= 0]
            if vals.size:
                edge |= np.isin(codes[k], vals)
        if not edge.any():
            break
        seen = rid[np.concatenate(reached)]
        frontier = _top(
            np.flatnonzero(cand & edge & ~np.isin(rid, seen)),
            score, null, rid, m["p_adjacent_k"],
        )
        if not frontier.size:
            break
        reached.append(frontier)
        hops.append(np.full(len(frontier), depth, dtype=np.int64))
    idx, hop = np.concatenate(reached), np.concatenate(hops)
    order = _top(np.arange(len(idx)), score[idx], null[idx], rid[idx], m["p_k"])
    return idx[order], hop[order]


# ------------------------------------------------------------ spark path

_IDS_SCHEMA = "query_id string, row_id string, score double, hop int"


def _scored_np(store: DataFrame, meta_rows: list[dict]) -> DataFrame:
    """Every query's candidates as slim (query_id, row_id, edge keys,
    score) rows, in ONE `mapInArrow` pass over the slim store: each
    store row ships into numpy once, is scored against the whole
    (closure-captured) query block by `_scores`, and is kept for each
    query of its scope whose filters it passes (`_candidates`). Rows
    `_vector_block` marks invalid (NULL, off-dimension, or holding a
    NULL element) score NULL.

    `meta_rows` are query dicts keyed by `QUERY_COLS`."""
    scopes = sorted({r["q_scope"] for r in meta_rows})
    meta = [{c: r[c] for c in QUERY_COLS if c != "qvec"} for r in meta_rows]
    Q = _query_block([r["qvec"] for r in meta_rows])
    qids = pa.array([r["query_id"] for r in meta_rows], type=pa.string())
    slim = store.filter(F.col("scope").isin(scopes)).select(
        "scope", *_SLIM_COLS, "topics", "vector"
    )

    def score_batches(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            valid, M = _vector_block(batch.column("vector"), Q.shape[1])
            S = _scores(valid, np.asfortranarray(M), Q)
            keys = {k: _codes(batch.column(k).to_pylist()) for k in FILTER_KEYS}
            codes = {k: c for k, (c, _) in keys.items()}
            index = {k: i for k, (_, i) in keys.items()}
            topics = batch.column("topics").to_pylist()
            scope = np.asarray(batch.column("scope").to_pylist(), dtype=object)
            in_scope = {s: scope == s for s in scopes}
            topic_masks: dict[str, np.ndarray] = {}
            rows, cols = [], []
            for qi, m in enumerate(meta):
                cand = in_scope[m["q_scope"]] & _candidates(m, codes, index, topics, topic_masks)
                hit = np.flatnonzero(cand)
                rows.append(hit)
                cols.append(np.full(hit.size, qi))
            r, c = np.concatenate(rows), np.concatenate(cols)
            if not r.size:
                continue
            slim_rows = batch.select(list(_SLIM_COLS)).take(r)
            yield pa.RecordBatch.from_arrays(
                [qids.take(c), *slim_rows.columns, pa.array(S[r, c], mask=~valid[r])],
                names=["query_id", *_SLIM_COLS, "score"],
            )

    return slim.mapInArrow(
        score_batches,
        "query_id string, " + ", ".join(f"{c} string" for c in _SLIM_COLS) + ", score double",
    )


def retrieve_batch_multi(
    store: DataFrame,
    queries: DataFrame,
    query_meta: list[dict] | None = None,
) -> DataFrame:
    """Seed-and-expand retrieval for a batch of queries spanning ANY mix
    of scopes, as one Spark plan: `_scored_np` scores, then
    `groupBy("query_id").applyInArrow` runs `_walk` over each query's
    candidates, then `_fetch_docs` joins the ranked ids to their doc
    columns. Returns ≤p_k rows per query (more only for a duplicated
    row_id) with hop + score, score-desc ranked.

    queries: `QUERY_SCHEMA` columns (query_id, qvec, the nullable
    flt_namespace/flt_repo/flt_module/flt_topics strings, q_scope =
    TABLE scope, p_k/p_start_k/p_adjacent_k/p_max_depth ints); use
    `with_scope_params` to attach the last five. The driver collects
    them, unless the caller passes the same rows as `query_meta` dicts
    (the agent does)."""
    meta = (
        query_meta
        if query_meta is not None
        else [r.asDict() for r in queries.select(*QUERY_COLS).collect()]
    )
    scopes = sorted({m["q_scope"] for m in meta})
    if not meta:
        return _fetch_docs(store, store.sparkSession.createDataFrame([], _IDS_SCHEMA), scopes)
    params = {m["query_id"]: {c: m[c] for c in _PARAM_COLS} for m in meta}

    def walk(table: pa.Table) -> pa.Table:
        score = table.column("score")
        idx, hop = _walk(
            params[table.column("query_id")[0].as_py()],
            score.fill_null(0.0).to_numpy(),
            score.is_null().to_numpy(),
            {k: _codes(table.column(k).to_pylist())[0] for k in EDGE_KEYS},
            _ranks(table.column("row_id").to_pylist()),
            np.ones(table.num_rows, dtype=bool),
        )
        return table.select(["query_id", "row_id", "score"]).take(idx).append_column(
            "hop", pa.array(hop, type=pa.int32())
        )

    ids = _scored_np(store, meta).groupBy("query_id").applyInArrow(walk, _IDS_SCHEMA)
    return _fetch_docs(store, ids, scopes)


def _fetch_docs(store: DataFrame, ids: DataFrame, scopes: list[str] | None = None) -> DataFrame:
    """Join the (tiny) ranked id list back to the store for doc columns.
    row_id is meant to be unique (sha1 over scope|keys); the scope
    filter keeps partition pruning in the fetch scan. A duplicated
    chunk row_id fans out here, past k rows for its query (q40's oracle
    ranks ids only, over a fixture whose ids are unique).
    `StoreSnapshot` fetches by position instead."""
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
        # callers read rows score-desc (V5); the result is ≤k×batch
        # rows, so one partition sorts them without a range sample
        .repartition(1)
        .sortWithinPartitions(F.desc("score"), F.asc("row_id"))
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


@dataclass
class _ScopeBlock:
    """One scope's rows: store positions, NULL-score mask, float64
    vectors of the scored rows (Fortran order), edge-key codes, row_id
    sort ranks, and topics."""

    pos: np.ndarray
    null: np.ndarray
    M: np.ndarray
    codes: dict[str, np.ndarray]
    rid: np.ndarray
    topics: list


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
        rid = _ranks(docs["row_id"])
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
                topics=[docs["topics"][g] for g in p],
            )

    def retrieve(self, meta: list[dict]) -> list[dict]:
        """`retrieve_batch_multi(..., query_meta=meta)` as plain row
        dicts (query_id, doc columns, score, hop), ≤p_k per query, each
        query's rows score-desc."""
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
            # an off-dimension query finds every store vector off-dimension
            null = b.null if Q.shape[1] == self.dim else np.ones(len(b.pos), dtype=bool)
            S = _scores(~null, b.M, Q[js])
            topic_masks: dict[str, np.ndarray] = {}  # this batch's topics only
            for col, j in enumerate(js):
                m = meta[j]
                cand = _candidates(m, b.codes, self.index, b.topics, topic_masks)
                idx, hop = _walk(m, S[:, col], null, b.codes, b.rid, cand)
                for i, h in zip(idx, hop):
                    g = b.pos[i]
                    row = {"query_id": m["query_id"]}
                    row.update((c, self.docs[c][g]) for c in _DOC_COLS)
                    row["score"] = None if null[i] else float(S[i, col])
                    row["hop"] = int(h)
                    out.append(row)
        return out


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
    DataFrame's file list was fixed when it was created, and the
    snapshot holds its rows in memory. `compact_store` deletes only
    superseded versions, so a latest view resolved before it still
    reads; a snapshot also outlives a version that a later batch
    superseded and compaction then deleted."""
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
) -> DataFrame:
    """Single-scope convenience wrapper over `retrieve_batch_multi`.

    queries: (query_id string, qvec array<float|double>, flt_namespace,
    flt_repo, flt_module, flt_topics — nullable strings).
    Returns ≤k rows per query with hop + score, score-desc ranked.
    """
    return retrieve_batch_multi(store, with_scope_params(queries, scope, params))


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
