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
  holds the slim store in the driver — doc columns as one Arrow table,
  vectors as one float32 (rows × dim) array, edge-key codes, row_id
  ranks — and `StoreSnapshot.retrieve` ranks a whole mixed-scope batch
  in numpy, taking only the hit rows out of the Arrow table. No Spark
  job runs per call. A store that is one parquet scan of local files
  (`read_vector_tables`, `read_latest_store`) loads with no Spark job
  at all: pyarrow reads its files on the driver, the snapshot is keyed
  on its files, and a new store version reads only the files it
  changed. Any other frame loads once per DataFrame with one job. The
  bound is `session.driver_bound_rows` at the measured peak bytes per
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
import os
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
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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


def _vector_block(vecs: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(valid, M) for an Arrow array of store vectors: `valid` marks
    the rows `V.dot` scores non-NULL — vector non-NULL, `dim` long, no NULL
    element (zip_with pads a short side with NULL, and a NULL product
    poisons the aggregate) — and M holds every row's vector as (n × dim)
    in the array's own float type, zeros on the rows not valid (a view
    of the Arrow buffer when every row is). Every other row scores NULL."""
    n = len(vecs)
    lens = pc.list_value_length(vecs).fill_null(0).to_numpy(zero_copy_only=False)
    valid = ~vecs.is_null().to_numpy(zero_copy_only=False) & (lens == dim)
    flat = vecs.flatten()  # elements of the non-NULL rows, in row order
    if flat.null_count:
        owner = np.repeat(np.arange(n), lens.astype(np.int64))
        valid[owner[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    if valid.all():
        return valid, flat.to_numpy(zero_copy_only=False).reshape(n, dim)
    M = np.zeros((n, dim), dtype=vecs.type.value_type.to_pandas_dtype())
    kept = vecs.filter(pa.array(valid)).flatten().to_numpy(zero_copy_only=False)
    M[valid] = kept.reshape(int(valid.sum()), dim)
    return valid, M


def _dot_dimseq(M: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(rows × queries) dot products, accumulated dim-sequentially in
    float64 (acc += v[:, i] * q[i], no fused multiply-add): per element
    the exact left-to-right order of `V.dot`'s JVM fold, so scores are
    bit-identical to it. A float32 M widens one column at a time, which
    is exact. A Fortran-ordered M makes each column read contiguous."""
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
    M holds every row's vector (`_vector_block`); the rows not `valid`
    score 0 here and NULL to their caller."""
    S = np.zeros((len(valid), len(Q)))
    if valid.any():
        S = _round6(_dot_dimseq(M, Q))
        S[~valid] = 0.0
    return S


# ------------------------------------------------------------ ranker


def _codes(col: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, dict]:
    """Integer codes of an Arrow column (NULL → -1) and its value → code map."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    enc = pc.dictionary_encode(col)
    codes = pc.fill_null(enc.indices, -1).to_numpy().astype(np.int64)
    return codes, {v: i for i, v in enumerate(enc.dictionary.to_pylist())}


def _ranks(row_ids: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """Sort rank of each row_id (equal ids share a rank; UTF-8 byte order
    is code point order, so ranks sort as Python strings do)."""
    ranks = pc.rank(row_ids, sort_keys="ascending", tiebreaker="dense")
    return ranks.to_numpy().astype(np.int64)


def _topic_mask(topics: pa.Array, topic: str) -> np.ndarray:
    """Rows of an Arrow `array<string>` column whose list holds `topic`."""
    hit = pc.equal(pc.list_flatten(topics), topic).fill_null(False)
    mask = np.zeros(len(topics), dtype=bool)
    mask[pc.list_parent_indices(topics).to_numpy()[hit.to_numpy(zero_copy_only=False)]] = True
    return mask


def _candidates(m: dict, codes: dict[str, np.ndarray], index: dict[str, dict],
                topics: pa.Array, topic_masks: dict[str, np.ndarray]) -> np.ndarray:
    """The rows of a block that pass query `m`'s filters: each non-NULL
    flt_namespace/flt_repo/flt_module equals the row's key (`codes`
    and their value → code `index`), and a non-NULL flt_topics is in
    the row's `topics` (an Arrow list column). `topic_masks` caches one
    mask per topic for the block."""
    cand = np.ones(len(topics), dtype=bool)
    for k in FILTER_KEYS:
        v = m[f"flt_{k}"]
        if v is not None:
            cand &= codes[k] == index[k].get(v, -2)
    topic = m["flt_topics"]
    if topic is not None:
        if topic not in topic_masks:
            topic_masks[topic] = _topic_mask(topics, topic)
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
            keys = {k: _codes(batch.column(k)) for k in FILTER_KEYS}
            codes = {k: c for k, (c, _) in keys.items()}
            index = {k: i for k, (_, i) in keys.items()}
            topics = batch.column("topics")
            in_scope = {
                s: pc.equal(batch.column("scope"), s).fill_null(False).to_numpy(zero_copy_only=False)
                for s in scopes
            }
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
            {k: _codes(table.column(k))[0] for k in EDGE_KEYS},
            _ranks(table.column("row_id")),
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

# driver bytes per snapshot row at the peak of its load, measured on the
# 9,443-row sf0.1 ingest store (Arrow pool peak + tracemalloc peak):
# 3,499 B/row through the file reader (1,775 Arrow while the largest
# file reads, 1,724 numpy) and 4,068 through `toArrow` (its received
# batches beside the float32 array); 2,003-2,009 B/row resident once
# built. Priced at the larger: 10,475 rows on a 2g driver, 83,804 on
# the default 16g. No floor.
_SNAPSHOT_ROW_BYTES = 4_100


def snapshot_bound(spark: SparkSession) -> int:
    """Most store rows `store_snapshot` holds in the driver."""
    return driver_bound_rows(spark, bytes_per_row=_SNAPSHOT_ROW_BYTES, floor=0)


class _Rows:
    """The snapshot rows of one parquet file, or of one `toArrow` load:
    the doc columns as an Arrow table, which vectors score (`valid`),
    the lengths of its non-NULL vectors (`dims`), and its vectors as
    (rows × dim) blocks: views of the Arrow buffers, one per chunk,
    until a snapshot copies them, then one view into that snapshot's
    array, so rows shared by two snapshots are held once the older one
    is gone."""

    def __init__(self, table: pa.Table):
        self.docs = table.select(list(_DOC_COLS))
        vecs = table.column("vector")
        self.dims = set(pc.unique(pc.list_value_length(vecs).drop_null()).to_pylist())
        dim = min(self.dims) if len(self.dims) == 1 else 0
        blocks = [_vector_block(c, dim) for c in vecs.chunks]
        self.valid = np.concatenate([v for v, _ in blocks] or [np.zeros(0, dtype=bool)])
        self.vecs = [M for _, M in blocks]


def _built(parts, n: int) -> "StoreSnapshot | None":
    """The snapshot of `n` rows from `parts`, an iterable of (first row,
    `_Rows`) read as it goes, or None when their vectors differ in
    length. Each part's vectors are copied into the one array as the
    part comes, which releases its Arrow buffers: no more than one
    part's Arrow vectors are held beside the array."""
    held: list[tuple[int, _Rows]] = []
    M, dim = np.zeros((n, 0), dtype=np.float32), None
    for off, p in parts:
        if p.dims:
            if dim is None:
                dim = min(p.dims)
                M = np.zeros((n, dim), dtype=p.vecs[0].dtype, order="F")
            if p.dims != {dim}:
                return None
            at = off
            for block in p.vecs:
                M[at : at + len(block)] = block
                at += len(block)
            p.vecs = [M[off:at]]
        held.append((off, p))
    held.sort(key=lambda h: h[0])
    return StoreSnapshot([p for _, p in held], M, dim)


@dataclass
class _ScopeBlock:
    """One scope's rows: store positions, the rows of the snapshot's
    vector array (a slice when they are contiguous), NULL-score mask,
    edge-key codes, row_id sort ranks, and topics."""

    pos: np.ndarray
    rows: "slice | np.ndarray"
    null: np.ndarray
    codes: dict[str, np.ndarray]
    rid: np.ndarray
    topics: pa.Array


class StoreSnapshot:
    """The slim serving store held in the driver: the doc columns stay
    one Arrow table and the vectors one (rows × dim) array in their
    stored float type (float32 for every store vector), widened to
    float64 one column at a time as they score. `retrieve` answers a
    mixed-scope query batch with the rows `retrieve_batch_multi` would
    return, in numpy, with no Spark job; it is read-only once built, so
    threads may share it."""

    def __init__(self, parts: list[_Rows], M: np.ndarray, dim: int | None):
        self.parts = parts  # holds each file's cached rows alive
        self.docs = pa.concat_tables([p.docs for p in parts])
        self.M = M  # every row's vector, zeros where not valid
        self.dim = dim  # the length of every non-NULL store vector
        valid = np.concatenate([p.valid for p in parts])
        keys = {k: _codes(self.docs.column(k)) for k in EDGE_KEYS}
        self.index = {k: index for k, (_, index) in keys.items()}  # value → code
        rid = _ranks(self.docs.column("row_id"))
        scopes, scope_index = _codes(self.docs.column("scope"))
        topics = self.docs.column("topics")
        self.blocks: dict[str, _ScopeBlock] = {}
        for scope, code in scope_index.items():
            p = np.flatnonzero(scopes == code)
            self.blocks[scope] = _ScopeBlock(
                pos=p,
                rows=slice(p[0], p[-1] + 1) if p[-1] - p[0] + 1 == len(p) else p,
                null=~valid[p],
                codes={k: c[p] for k, (c, _) in keys.items()},
                rid=rid[p],
                topics=topics.take(p).combine_chunks(),
            )

    def retrieve(self, meta: list[dict]) -> list[dict]:
        """`retrieve_batch_multi(..., query_meta=meta)` as plain row
        dicts (query_id, doc columns, score, hop), ≤p_k per query, each
        query's rows score-desc. Only the hit rows leave the Arrow
        table."""
        if not meta:
            return []
        Q = _query_block([m["qvec"] for m in meta])
        by_scope: dict[str, list[int]] = {}
        for j, m in enumerate(meta):
            by_scope.setdefault(m["q_scope"], []).append(j)
        hits: list[tuple] = []  # (query_id, score or None, hop) per hit
        pos: list[np.ndarray] = []
        for scope, js in by_scope.items():
            b = self.blocks.get(scope)
            if b is None:
                continue
            # an off-dimension query finds every store vector off-dimension
            null = b.null if Q.shape[1] == self.dim else np.ones(len(b.pos), dtype=bool)
            S = _scores(~null, self.M[b.rows], Q[js])
            topic_masks: dict[str, np.ndarray] = {}  # this batch's topics only
            for col, j in enumerate(js):
                m = meta[j]
                cand = _candidates(m, b.codes, self.index, b.topics, topic_masks)
                idx, hop = _walk(m, S[:, col], null, b.codes, b.rid, cand)
                pos.append(b.pos[idx])
                hits += [
                    (m["query_id"], None if null[i] else float(S[i, col]), int(h))
                    for i, h in zip(idx, hop)
                ]
        if not hits:
            return []
        docs = self.docs.take(np.concatenate(pos)).to_pylist()
        return [
            {"query_id": q, **d, "score": score, "hop": hop}
            for (q, score, hop), d in zip(hits, docs)
        ]


_LOCK = threading.Lock()
_MISSING = object()
_LOADING: dict = {}  # key → the lock its one running load holds
# per DataFrame instance: its snapshot, or None for the Spark path
_SNAPSHOTS: "weakref.WeakKeyDictionary[DataFrame, StoreSnapshot | None]" = (
    weakref.WeakKeyDictionary()
)
# per parquet file set (and Arrow schema): its live snapshot, and per
# file its rows while a live snapshot holds them
_BY_FILES: "weakref.WeakValueDictionary[tuple, StoreSnapshot]" = weakref.WeakValueDictionary()
_FILES: "weakref.WeakValueDictionary[tuple, _Rows]" = weakref.WeakValueDictionary()
_RECENT: "StoreSnapshot | None" = None  # the newest file-keyed snapshot, kept past its views


def _once(cache, key, load):
    """`cache[key]`, loaded by `load()` once: a thread that asks while
    another loads `key` waits for that load instead of running its own.
    A weak-valued cache holds no None."""
    with _LOCK:
        value = cache.get(key, _MISSING)
        if value is not _MISSING:
            return value
        lock = _LOADING.setdefault(key, threading.Lock())
    try:
        with lock:
            with _LOCK:
                value = cache.get(key, _MISSING)
            if value is _MISSING:
                value = load()
                if value is not None or not isinstance(cache, weakref.WeakValueDictionary):
                    with _LOCK:
                        cache[key] = value
            return value
    finally:
        with _LOCK:
            if _LOADING.get(key) is lock:
                del _LOADING[key]


def store_snapshot(store: DataFrame) -> StoreSnapshot | None:
    """The driver snapshot of `store`, or None — the caller then
    retrieves through `retrieve_batch_multi` — when the store holds
    more than `snapshot_bound` rows or vectors of more than one length.
    The verdict is cached per DataFrame instance.

    A store whose plan is one parquet scan of local files (what
    `read_vector_tables` and `read_latest_store` return) loads with no
    Spark job: pyarrow reads each file on the driver (`_read_file`). Its
    snapshot is keyed on its files — (path, size, mtime) each — so a
    fresh view of an unchanged store version reuses the snapshot with
    no read, and a new version reads only its new files and splices
    them beside the cached rows of the files it kept. A file's rows
    stay cached while a live snapshot holds them; the newest such
    snapshot is kept past its views. The footers count the files'
    rows first, so a store above the bound reads no body or vector.

    Any other frame (filtered, unioned, in memory, not local) loads
    once per instance with one job (`limit(bound + 1).toArrow()`), its
    row count vetted first by `_fits`.

    Either way the snapshot holds its rows in memory, and the files
    were fixed when the DataFrame was created, so a reader sees what a
    scan of the same DataFrame would. `compact_store` deletes only
    superseded versions, so a latest view resolved before it still
    reads; a snapshot also outlives a version that a later batch
    superseded and compaction then deleted."""
    return _once(_SNAPSHOTS, store, lambda: _load(store))


def _load(store: DataFrame) -> StoreSnapshot | None:
    bound = snapshot_bound(store.sparkSession)
    scan = _parquet_scan(store)
    if scan is not None:
        try:
            return _file_snapshot(store, *scan, bound)
        except (OSError, ValueError, pa.ArrowException):
            pass  # a file gone or not as its path says: Spark decides
    if not _fits(store, bound):
        return None
    table = store.select(*_SNAPSHOT_COLS).limit(bound + 1).toArrow()
    if table.num_rows > bound:
        return None
    rows = _Rows(table)
    # the doc columns are slices of the received batches, vectors and
    # all: a copy of them lets the vectors go once the array holds them
    rows.docs = rows.docs.take(np.arange(table.num_rows))
    del table
    return _built([(0, rows)], len(rows.valid))


def _local_paths(files: list[str]) -> list[str] | None:
    """The local paths of file URIs; None unless all are local."""
    if not files or not all(f.startswith("file:") for f in files):
        return None
    return [unquote(urlparse(f).path) for f in files]


def _parquet_scan(store: DataFrame) -> tuple[list[str], list[str]] | None:
    """(local file paths, partition column names) when `store`'s
    analyzed plan is one parquet relation over local files holding the
    snapshot columns; else None."""
    if not set(_SNAPSHOT_COLS) <= set(store.columns):
        return None
    plan = store._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    # the relation's own file list: a persisted store's `inputFiles()`
    # names the cache, not the files
    files = _local_paths(list(rel.location().inputFiles()))
    return None if files is None else (files, list(rel.partitionSchema().fieldNames()))


def _file_snapshot(store: DataFrame, paths: list[str], names: list[str],
                   bound: int) -> StoreSnapshot | None:
    """The snapshot of a local parquet scan, keyed on its files. Files
    are taken in path order, so each partition directory's rows — each
    scope's, in both store layouts — are contiguous."""
    files = tuple((p, (st := os.stat(p)).st_size, st.st_mtime_ns) for p in sorted(paths))
    schema = _arrow_schema(store)
    snap = _once(_BY_FILES, (files, schema), lambda: _splice(files, names, schema, bound))
    if snap is None or snap.docs.num_rows > bound:
        return None
    global _RECENT
    _RECENT = snap
    return snap


def _arrow_schema(store: DataFrame) -> pa.Schema:
    """The Arrow schema `store.select(*_SNAPSHOT_COLS).toArrow()` has."""
    return to_arrow_schema(
        StructType([store.schema[c] for c in _SNAPSHOT_COLS]),
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=store.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def _splice(files: tuple, names: list[str], schema: pa.Schema, bound: int) -> StoreSnapshot | None:
    """A snapshot over `files`: the rows of each file a live snapshot
    holds, and each other file read with pyarrow — none when their
    footers count more than `bound` rows. The largest file comes first,
    before the vector array exists, so its read never sits beside it."""
    with _LOCK:
        cached = [_FILES.get((f, schema)) for f in files]
    counts = [
        len(p.valid) if p is not None else pq.read_metadata(f[0]).num_rows
        for p, f in zip(cached, files)
    ]
    if sum(counts) > bound:
        return None
    first = np.cumsum([0, *counts[:-1]])
    parts = (
        (int(first[i]), cached[i] or _Rows(_read_file(files[i][0], names, schema)))
        for i in sorted(range(len(files)), key=lambda i: -counts[i])
    )
    snap = _built(parts, sum(counts))
    if snap is not None:
        with _LOCK:
            for f, p in zip(files, snap.parts):
                _FILES[(f, schema)] = p
    return snap


def _read_file(path: str, names: list[str], schema: pa.Schema) -> pa.Table:
    """One parquet file's snapshot columns, typed as `toArrow` types
    them (`schema`): the stored columns read with pyarrow (a column the
    file lacks is NULL), each partition column from the file's
    `name=value` directory, unescaped as Spark does
    (`__HIVE_DEFAULT_PARTITION__` is NULL) and cast to its type."""
    dirs = path.split("/")[-1 - len(names) : -1] if names else []
    values = {}
    for name, d in zip(names, dirs, strict=True):
        key, eq, raw = d.partition("=")
        if key != name or not eq:
            raise ValueError(f"{path}: no {name}=value directory")
        values[name] = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
    # a buffered stream read in batches holds the reader at ~1.6× the
    # decoded columns at peak; a whole row group at once takes ~2.9×
    f = pq.ParquetFile(path, pre_buffer=False, buffer_size=1 << 16)
    stored = [c for c in schema.names if c not in values and c in f.schema_arrow.names]
    table = pa.Table.from_batches(
        f.iter_batches(batch_size=1024, columns=stored),
        schema=pa.schema([f.schema_arrow.field(c) for c in stored]),
    )
    n = table.num_rows
    cols = []
    for field in schema:
        if field.name in values and values[field.name] is not None:
            cols.append(pa.repeat(pa.scalar(values[field.name]).cast(field.type), n))
        elif field.name in stored:
            cols.append(table.column(field.name))
        else:
            cols.append(pa.nulls(n, field.type))
    return pa.table(cols, names=schema.names).cast(schema)


def _footer_rows(store: DataFrame) -> int | None:
    """Rows in the parquet files `store` scans, summed from their
    footers with no Spark job; None unless it scans local parquet files
    only."""
    files = _local_paths(store.inputFiles())
    if files is None:
        return None
    try:
        return sum(pq.read_metadata(f).num_rows for f in files)
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
