"""Composed ingest pipeline (reference: ingest_controller.py:192-487).

One DataFrame chain replacing the reference's six serial stages —
preprocess → code_nodes (+L1-L3 enrichment) → file/module/repo
summaries → catalog → vector rows per scope → audit:

    docs(repo, file_path, text)
      → F1 filter → C5 notebook normalize → F2 language → F3 kind
      → A2 module → C1-C3 chunk → F4 metadata → F6 node ids
      → L1-L3 enrich → A4-A7 rollups → F5/S4 vector rows → S6 audit

The per-document stages are the shared Spark operators (the stream
tick and the parity plans run them too). The four rollup levels are
ONE grouped Arrow pass (`operators.hierarchy.rollup_hierarchy`): each
repo's enriched chunks and READMEs go to one Python call that returns
the repo's chunk rows with its file, module, repo and catalog rows —
the reference's per-repo loop (SURVEY §3.2) as one shuffle keyed on
(namespace, repo). All five scopes then share one storage projection,
one embedding pass and one write. The chain has no branch that
re-reads the chunks, so nothing is persisted and nothing runs twice.

Everything is lazily-composed DataFrames: the driver never collects.
The LLM factory is pluggable (DeterministicLLM for tests/oracles).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import metadata as MD
from githubrepostorag_spark.operators import filters as FL
from githubrepostorag_spark.operators.chunking import (
    split_code_documents,
    transform_special_files,
)
from githubrepostorag_spark.operators.enrich import enrich_chunks
from githubrepostorag_spark.operators.hierarchy import (  # noqa: F401 — the rollup levels
    catalog_docs,
    file_summaries,
    module_summaries,
    repo_overviews,
    rollup_hierarchy,
)
from githubrepostorag_spark.plans.timing import StageTimer
from githubrepostorag_spark.operators.vector_write import (
    finalize_vectors,
    storage_projection,
    write_vector_tables,
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


def preprocess(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1 → C5 → F2 → A2, plus the per-repo F3 kind flags.

    The corpus is spread across the cluster up front: everything
    downstream (notebook normalize, chunk explode, enrichment and
    embedding UDFs) is per-row work that would otherwise inherit the
    source's split count."""
    from githubrepostorag_spark.session import scale_out

    docs = scale_out(docs, "file_path")
    kept = FL.filter_documents(docs)
    normalized = transform_special_files(kept)
    tagged = FL.tag_language(normalized)
    kinds = FL.infer_component_kind(kept).select("repo", "component_kind")
    prepped = FL.with_module(
        tagged.join(F.broadcast(kinds), "repo", "left")
    )
    return prepped, kinds


def ingest_pipeline(
    docs: DataFrame,
    *,
    ingest_run_id: str,
    llm_factory: Callable,
    namespace: str = "default",
    branch: str = "main",
    collection: str = "misc",
    dev_forced: bool = False,
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

    `collect_stage_times` is a DIAGNOSTIC mode (EXPLAIN ANALYZE-style):
    it persists the enriched chunks and forces them, then the rollup
    pass over them, to attribute per-stage wall seconds
    (`timed_stages`). Unlike curation/release — whose timers wrap audit
    counts that run anyway, so timing is free — ingest's stages fuse
    into the caller's single write action, and forcing boundaries
    costs ~2 s of lost pipelining at sf0.1 (measured), so it is off on
    the production path.
    """
    prepped, kinds = preprocess(docs)
    if raw_dump_path is not None:
        # S3 raw-doc debug dump (ingest_controller.py:154-161)
        docs.write.mode("overwrite").json(raw_dump_path)

    # code_nodes stage: chunk + metadata + ids + L1-L3 enrichment
    nodes = FL.attach_common_metadata(
        split_code_documents(prepped).withColumn("doc_type", F.lit("code")),
        namespace=namespace,
        branch=branch,
        collection=collection,
        ingest_run_id=ingest_run_id,
        dev_forced=dev_forced,
    )
    ids = ("namespace", "repo", "module", "file_path", "start_line", "end_line")
    chunks = enrich_chunks(
        nodes.withColumn("node_id", MD.stable_node_id(F.lit("chunk"), *map(F.col, ids))),
        llm_factory,
    )
    if collect_stage_times:
        chunks = chunks.persist()  # a stage boundary to time (see docstring)

    # A4-A7: each repo's chunks and READMEs → its chunk, file, module,
    # repo and catalog rows, in one grouped pass; then one storage
    # projection and one embedding pass for all five scopes
    readmes = prepped.filter(
        FL.file_name(F.col("file_path")).startswith("readme")
    ).withColumn("namespace", F.lit(namespace))
    scoped = rollup_hierarchy(chunks, readmes, llm_factory)
    rows = finalize_vectors(
        storage_projection(scoped.withColumn("branch", F.lit(branch))),
        embedder=embedder,
        dim=embed_dim,
    )

    # S6/A8 audit: one ingest_runs row per repo with the chunk node count
    started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    audit = (
        chunks.groupBy("repo")
        .agg(F.count(F.lit(1)).alias("node_count"))
        .join(F.broadcast(kinds), "repo", "left")
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
    # fill the chunk cache, then run the rollup pass over it, and record
    # their wall seconds. Forcing serializes stage boundaries the fused
    # write would otherwise pipeline, so this runs only in diagnostic
    # mode (see docstring).
    timed = None
    if collect_stage_times:
        timer = StageTimer()
        timer.time("chunk_enrich", chunks.count)
        timer.time("hierarchy", scoped.count)
        timed = timer.frame(docs.sparkSession, ingest_run_id, "run_id")

    def level(scope: str) -> DataFrame:
        return scoped.filter(F.col("scope") == scope)

    return IngestResult(
        chunks=chunks,
        file_sums=level("file"),
        module_sums=level("module"),
        repo_sums=level("repo"),
        catalog=level("catalog"),
        rows=rows,
        audit=audit,
        timed_stages=timed,
        _cached=(chunks,) if collect_stage_times else (),
    )
