"""Composed ingest pipeline (reference: ingest_controller.py:192-487).

The reference's six serial stages — preprocess → code_nodes (+L1-L3
enrichment) → file/module/repo summaries → catalog → vector rows per
scope → audit — as two Python passes and one write:

    docs(repo, file_path, text)
      → per document, in one mapInArrow: F1 keep → C5 notebook
        normalize → F2 language → A2 module → C1-C3 chunk windows →
        F6 node ids → L1-L3 enrich  (`document_nodes`)
      → per repo, in one grouped Arrow pass: F3 component kind and
        the A4-A7 rollups  (`operators.hierarchy.rollup_hierarchy`)
      → F5/S4 vector rows of all five scopes → S6 audit

The per-document rules are plain functions over `str`
(`operators.filters`, `operators.chunking`, `operators.enrich`), which
the parity plans call too. The document pass emits each kept
document's enriched chunk rows and, for a README, one row flagged
`readme`; that output is the rollup pass's only input, so the chain
has no branch, join or aggregate ahead of it, and nothing is persisted
or runs twice. The rollup pass infers each repo's component kind from
its chunks' paths, which are exactly its kept files.

Everything is lazily-composed DataFrames: the driver never collects.
The LLM factory is pluggable (DeterministicLLM for tests/oracles).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from githubrepostorag_spark.functions.rows import map_rows
from githubrepostorag_spark.operators import filters as FL
from githubrepostorag_spark.operators.chunking import (  # noqa: F401 — a stage name
    chunk_windows,
    normalize_notebook_text,
    split_code_documents,
)
from githubrepostorag_spark.operators.enrich import enrich, enrich_chunks  # noqa: F401 — ditto
from githubrepostorag_spark.operators.hierarchy import (  # noqa: F401 — the rollup levels
    FILE_KEYS,
    catalog_docs,
    file_summaries,
    module_summaries,
    node_id,
    repo_overviews,
    rollup_hierarchy,
)
from githubrepostorag_spark.plans.timing import StageTimer
from githubrepostorag_spark.session import scale_out
from githubrepostorag_spark.operators.vector_write import (
    finalize_vectors,
    storage_projection,
    write_vector_tables,
)

# the per-document pass's rows: chunks, and READMEs flagged `readme`
DOC_NODE_SCHEMA = pa.schema(
    [(c, pa.string()) for c in FILE_KEYS]
    + [(c, pa.int64()) for c in ("chunk_idx", "start_line", "end_line")]
    + [(c, pa.string()) for c in (
        "node_id", "text", "section_summary", "document_title", "excerpt_keywords")]
    + [("readme", pa.bool_())]
)


@dataclass
class IngestResult:
    chunks: DataFrame
    file_sums: DataFrame
    module_sums: DataFrame
    repo_sums: DataFrame
    catalog: DataFrame
    rows: DataFrame  # all 5 scopes' vector rows
    audit: DataFrame  # ingest_runs (S6/A8)
    timed_stages: DataFrame | None = None  # (stage_idx, stage, seconds)
    _cached: tuple = ()  # frames persisted by the pipeline

    def unpersist(self) -> None:
        """Release every cache the pipeline created."""
        for df in self._cached:
            df.unpersist()


def preprocess(path: str, text: str):
    """F1 → C5 → F2 → A2 for one document: None when F1 drops it, else
    (text, language, module) with a notebook's JSON normalized."""
    if path is None or text is None or not FL.keep(path):
        return None
    if path.lower().endswith(".ipynb"):
        text = normalize_notebook_text(text)
    return text, FL.language(path), FL.module(path)


def document_nodes(doc: dict, llm, namespace: str) -> list[dict]:
    """One document → its enriched chunk rows, and a `readme` row for a
    README, as `DOC_NODE_SCHEMA` dicts. A dropped document → []."""
    path = doc["file_path"]
    prepped = preprocess(path, doc["text"])
    if prepped is None:
        return []
    text, language, module = prepped
    key = dict(namespace=namespace, repo=doc["repo"], module=module, file_path=path,
               language=language)
    out = [dict(key, text=text, readme=True)] if FL.file_name(path).startswith("readme") else []
    for i, (chunk, start, end) in enumerate(chunk_windows(text, language)):
        out.append(dict(
            key, chunk_idx=i, start_line=start, end_line=end, text=chunk, readme=False,
            node_id=node_id("chunk", namespace, doc["repo"], module, path, start, end),
            **enrich(llm, chunk),
        ))
    return out


def _documents(llm_factory, namespace: str, docs: list[dict]) -> list[dict]:
    llm = llm_factory()
    return [n for d in docs for n in document_nodes(d, llm, namespace)]


def ingest_pipeline(
    docs: DataFrame,
    *,
    ingest_run_id: str,
    llm_factory: Callable,
    namespace: str = "default",
    branch: str = "main",
    collection: str = "misc",
    output_path: str | None = None,
    raw_dump_path: str | None = None,
    embedder=None,
    embed_dim: int | None = None,
    collect_stage_times: bool = False,
) -> IngestResult:
    """docs(repo, file_path, text) → 5-scope vector rows + audit.

    `embedder`/`embed_dim` thread the pluggable embedding seam through
    every scope's vector build (functions.embed.with_embedding): plug a
    real-model pandas UDF and the store is built with it, dim-guarded.

    The result's frames are lazy and persist nothing: the pipeline is
    one chain, which the caller's write (`output_path`) runs once. A
    caller reading several of them should persist what it reads twice.
    `collection` lands in the audit.

    `collect_stage_times` is a DIAGNOSTIC mode (EXPLAIN ANALYZE-style):
    it persists the per-document pass's rows and forces them, then the
    rollup pass over them, to attribute per-stage wall seconds
    (`timed_stages`). Unlike curation/release — whose timers wrap audit
    counts that run anyway, so timing is free — ingest's stages fuse
    into the caller's single write action, and forcing boundaries
    costs lost pipelining, so it is off on the production path.
    """
    if raw_dump_path is not None:
        # S3 raw-doc debug dump (ingest_controller.py:154-161)
        docs.write.mode("overwrite").json(raw_dump_path)

    # the corpus is spread across the cluster first: a single-split
    # source would otherwise run the whole pass, LLM calls included,
    # in one task
    nodes = map_rows(
        scale_out(docs, "file_path").select("repo", "file_path", "text"),
        partial(_documents, llm_factory, namespace),
        DOC_NODE_SCHEMA,
    )
    if collect_stage_times:
        nodes = nodes.persist()  # a stage boundary to time (see docstring)

    # A4-A7 + F3: each repo's chunks and READMEs → its rows of all five
    # scopes in one grouped pass; then one storage projection and one
    # embedding pass
    scoped = rollup_hierarchy(nodes, llm_factory)
    rows = finalize_vectors(
        storage_projection(scoped.withColumn("branch", F.lit(branch))),
        embedder=embedder,
        dim=embed_dim,
    )

    # S6/A8 audit: one ingest_runs row per repo with the chunk node count
    started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    audit = (
        scoped.filter(F.col("scope") == "chunk")
        .groupBy("repo", "component_kind")
        .agg(F.count(F.lit(1)).alias("node_count"))
        .select(
            F.lit(ingest_run_id).alias("run_id"),
            F.lit(namespace).alias("namespace"),
            "repo",
            F.lit(branch).alias("branch"),
            F.lit(collection).alias("collection"),
            "component_kind",
            F.lit(started).cast("timestamp").alias("started_at"),
            F.current_timestamp().alias("finished_at"),
            F.col("node_count").cast("long"),
        )
    )

    if output_path is not None:
        write_vector_tables(rows, output_path)

    # Stage timer (the reference's stage_timer analog, plans/timing.py):
    # fill the document-pass cache, then run the rollup pass over it,
    # and record their wall seconds. Forcing serializes stage boundaries
    # the fused write would otherwise pipeline, so this runs only in
    # diagnostic mode (see docstring).
    timed = None
    if collect_stage_times:
        timer = StageTimer()
        timer.time("chunk_enrich", nodes.count)
        timer.time("hierarchy", scoped.count)
        timed = timer.frame(docs.sparkSession, ingest_run_id, "run_id")

    def level(scope: str) -> DataFrame:
        return scoped.filter(F.col("scope") == scope)

    return IngestResult(
        chunks=nodes.filter(~F.col("readme")).drop("readme"),
        file_sums=level("file"),
        module_sums=level("module"),
        repo_sums=level("repo"),
        catalog=level("catalog"),
        rows=rows,
        audit=audit,
        timed_stages=timed,
        _cached=(nodes,) if collect_stage_times else (),
    )
