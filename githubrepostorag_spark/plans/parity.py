"""Oracle-checkable parity queries over the driver's `documents` /
`embeddings` tables.

Round-1 verdict: the RAG-parity layer (chunking / filters / hierarchy /
metadata / retrieval / enrichment) had zero callers and zero oracle
entries. These functions run those operators on DETERMINISTIC fixtures
derived column-wise from the provided tables (repo = source, file_path
from doc_id arithmetic, …) so the identical derivation is expressible
in DuckDB SQL and every operator lands in CORRECTNESS_r{N}.json.

Reference behaviors exercised (citations in each operator's module):
F1/F2/A2 preprocess (transform_service.py, preprocess_service.py,
scope_utils.py), F3 kind inference, C1-C3 chunking ladder
(code_pipeline.py, langauge_detector.py), A4/A5 rollup inputs by the
ingest kernel's own per-level rules (hierarchy_summary_service.py),
F5/F6 sanitize + stable ids (vector_write_service.py), V3/J1
seed-and-expand retrieval (graph_rag_retrievers.py), L1-L3 enrichment
(code_pipeline_service.py).
"""

from __future__ import annotations

from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from githubrepostorag_spark.functions import metadata as MD
from githubrepostorag_spark.functions import text as TXT
from githubrepostorag_spark.functions import vectors as V
from githubrepostorag_spark.functions.rows import extended, map_rows
from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.operators import filters as FL
from githubrepostorag_spark.operators import hierarchy as H
from githubrepostorag_spark.operators import multimodal as MM
from githubrepostorag_spark.operators.chunking import split_code_documents
from githubrepostorag_spark.operators.enrich import enrich_chunks
from githubrepostorag_spark.operators.retrieval import retrieve_batch
from githubrepostorag_spark.session import scale_out


def code_docs_fixture(documents: DataFrame) -> DataFrame:
    """documents → synthetic-but-deterministic repo/file_path columns.
    Case order matters — the DuckDB oracle mirrors it exactly."""
    d = F.col("doc_id")
    name = (
        F.when(d % 13 == 4, F.lit("package.json"))
        .when(d % 11 == 3, F.concat(F.lit("nb_"), d, F.lit(".ipynb")))
        .when(d % 17 == 6, F.lit(".gitignore"))
        .when(d % 5 == 0, F.concat(F.lit("f_"), d, F.lit(".md")))
        .otherwise(F.concat(F.lit("f_"), d, F.lit(".py")))
    )
    return documents.withColumn("repo", F.col("source")).withColumn(
        "file_path", F.concat(F.lit("m"), d % 7, F.lit("/"), name)
    )


_FLAGS = (
    pa.field("keep", pa.bool_()), *(pa.field(c, pa.string()) for c in ("ext", "language", "module"))
)


def _flagged(rows):
    """F1 keep, ext, F2 language and A2 module per row, by the ingest's
    own rules."""
    return [
        dict(r, keep=FL.keep(p), ext=FL.file_ext(p), language=FL.language(p), module=FL.module(p))
        for r in rows
        for p in [r["file_path"]]
    ]


def _flags(cd: DataFrame) -> DataFrame:
    return map_rows(cd, _flagged, extended(cd, *_FLAGS))


def preprocess_flags(documents: DataFrame) -> DataFrame:
    """F1 keep-filter + F2 language + A2 module per document (incl. the
    dotfile / special-name edge cases)."""
    return _flags(code_docs_fixture(documents).select("doc_id", "file_path"))


def kept_documents(documents: DataFrame) -> DataFrame:
    """The fixture's documents that F1 keeps, with language and module."""
    cd = code_docs_fixture(documents).select("doc_id", "repo", "file_path", "text")
    return _flags(cd).filter("keep").drop("keep", "ext")


_KINDS = pa.schema([
    ("repo", pa.string()), ("has_notebook", pa.bool_()), ("has_manifest", pa.bool_()),
    ("has_openapi", pa.bool_()), ("component_kind", pa.string()),
])


def _kinds(table):
    """applyInArrow body: one repo's kept paths → its F3 flags and kind."""
    rows = table.to_pylist()
    flags = FL.kind_flags(r["file_path"] for r in rows)
    row = dict(flags, repo=rows[0]["repo"], component_kind=FL.component_kind(flags))
    return pa.Table.from_pylist([row], schema=_KINDS)


def component_kinds(documents: DataFrame) -> DataFrame:
    """F3: standalone iff notebook present and no manifest/openapi."""
    kept = kept_documents(documents).select("repo", "file_path")
    return kept.groupBy("repo").applyInArrow(_kinds, from_arrow_schema(_KINDS))


def chunk_fixture(documents: DataFrame) -> DataFrame:
    """Kept docs with multi-line/long text (so both chunkers produce
    multiple chunks) + language + module."""
    kept = kept_documents(scale_out(documents, "doc_id"))
    text2 = F.when(
        F.col("language") == "python",
        F.translate(F.repeat(F.concat(F.col("text"), F.lit(" ")), 10), " ", "\n"),
    ).otherwise(F.repeat(F.col("text"), 12))
    return kept.withColumn("text", text2)


def code_chunks(documents: DataFrame) -> DataFrame:
    """C1-C3 dispatch: line windows for code languages, char windows
    otherwise."""
    out = split_code_documents(chunk_fixture(documents))
    return out.select(
        "doc_id", "file_path", "language", "chunk_idx", "text", "start_line", "end_line"
    )


def _chunks_with_ids(documents: DataFrame) -> DataFrame:
    return (
        split_code_documents(chunk_fixture(documents))
        .withColumn("namespace", F.lit("default"))
        .withColumn(
            # text in the id: synthetic paths (package.json/.gitignore)
            # collide across docs at sf0.1, and a path+idx id would
            # alias DIFFERENT chunks (drill-down then fans out m×n).
            # Real ingest ids hash content-bearing fields the same way
            # (metadata.stable_node_id includes line spans).
            "node_id",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("repo"),
                    F.col("file_path"),
                    F.col("chunk_idx").cast("string"),
                    F.col("text"),
                )
            ),
        )
    )


# the ingest kernel's node columns plus the rollup inputs the oracle checks
_ROLLUPS = pa.schema([
    *H.NODE_SCHEMA,
    pa.field("rollup_input", pa.string()),
    pa.field("constituent_files", pa.list_(pa.string())),
])


def _level_rows(level, table):
    """applyInArrow body: one group's rows → `level`'s rollup inputs and
    lineage (no LLM call)."""
    return pa.Table.from_pylist(level(table.to_pylist()), schema=_ROLLUPS)


def _rollup_inputs(rows: DataFrame, level, keys) -> DataFrame:
    """The ingest kernel's per-level rule over `rows`, grouped on the
    level's key."""
    return rows.groupBy(*keys).applyInArrow(
        partial(_level_rows, level), from_arrow_schema(_ROLLUPS)
    )


def file_rollups(documents: DataFrame) -> DataFrame:
    """A4 over real chunk output (ordered concat, 25000-char truncation,
    full rollup lineage), by the ingest kernel's `file_summaries`."""
    grouped = _rollup_inputs(_chunks_with_ids(documents), H.file_summaries, H.FILE_KEYS)
    return grouped.select(
        "namespace",
        "repo",
        "module",
        "file_path",
        "language",
        "rollup_input",
        F.array_join("rollup_of", ",").alias("rollup_ids"),
        F.col("rollup_count").cast("long"),
    )


def module_rollups(documents: DataFrame) -> DataFrame:
    """A5: docs as file-summary rows → per-module ≤40 concat, by the
    ingest kernel's `module_summaries`."""
    fd = kept_documents(documents).withColumn("namespace", F.lit("default")).withColumn(
        "node_id", F.md5(F.col("file_path"))
    )
    grouped = _rollup_inputs(fd, H.module_summaries, H.MODULE_KEYS)
    return grouped.select(
        "namespace",
        "repo",
        "module",
        "rollup_input",
        F.array_join("rollup_of", ",").alias("rollup_ids"),
        F.array_join("constituent_files", ",").alias("files_csv"),
    )


def vector_row_identities(documents: DataFrame) -> DataFrame:
    """F5/F6 storage boundary: sanitized metadata map + the stable-id
    identity string (verified via md5 — DuckDB has no sha1; pytest
    separately asserts row_id == sha1(identity))."""
    nodes = _chunks_with_ids(documents).drop("node_id").withColumn(
        "component_kind", F.lit("service")
    )
    identity = F.concat_ws(
        "|",
        F.lit("chunk"),
        F.coalesce(F.col("namespace"), F.lit("")),
        F.coalesce(F.col("repo"), F.lit("")),
        F.coalesce(F.col("module"), F.lit("")),
        F.coalesce(F.col("file_path"), F.lit("")),
        F.coalesce(F.col("start_line").cast("string"), F.lit("")),
        F.coalesce(F.col("end_line").cast("string"), F.lit("")),
    )
    meta = MD.sanitized_metadata(nodes, "chunk")
    return nodes.select(
        F.md5(identity).alias("identity_md5"),
        "namespace",
        "repo",
        "module",
        "file_path",
        "language",
        F.size(meta).cast("long").alias("n_meta"),
        F.element_at(meta, "language").alias("meta_language"),
        F.element_at(meta, "component_kind").alias("meta_component"),
    )


def fixture_store(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Chunk-scope vector store assembled from the provided tables
    (vectors = real embeddings, unit-normalized; metadata derived
    column-wise so DuckDB can rebuild it)."""
    d = F.col("doc_id")
    return (
        documents.join(embeddings, documents["doc_id"] == embeddings["vec_id"])
        .select(
            d.cast("string").alias("row_id"),
            F.col("text").alias("body"),
            F.lit("chunk").alias("scope"),
            F.col("source").alias("namespace"),
            F.col("source").alias("repo"),
            F.concat(F.lit("m"), d % 7).alias("module"),
            F.concat(F.lit("m"), d % 7, F.lit("/f_"), d, F.lit(".py")).alias("file_path"),
            F.col("lang").alias("language"),
            F.array(F.col("lang")).alias("topics"),
            V.l2_normalize(F.col("embedding")).alias("vector"),
        )
    )


def fixture_queries(embeddings: DataFrame) -> DataFrame:
    """Three queries: unfiltered / repo-filtered / module-filtered."""
    return (
        embeddings.filter(F.col("vec_id").isin(0, 1, 2))
        .select(
            F.concat(F.lit("q"), F.col("vec_id")).alias("query_id"),
            V.l2_normalize(F.col("embedding")).alias("qvec"),
            F.lit(None).cast("string").alias("flt_namespace"),
            F.when(F.col("vec_id") == 1, F.lit("src1")).alias("flt_repo"),
            F.when(F.col("vec_id") == 2, F.lit("m3")).alias("flt_module"),
            F.lit(None).cast("string").alias("flt_topics"),
        )
    )


def retrieve_chunk(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """V3/J1 seed-and-expand retrieval over the fixture store (edges
    over namespace/repo/module/file_path equality; per-scope params of
    the 'code' scope: k=10, start_k=3, adjacent_k=8, depth=2)."""
    store = fixture_store(documents, embeddings)
    qv = fixture_queries(embeddings)
    out = retrieve_batch(store, qv, "code")
    return out.select(
        "query_id", "row_id", "repo", "module", "file_path", "score", F.col("hop").cast("long").alias("hop")
    )


def drilldown(documents: DataFrame) -> DataFrame:
    """J2 rollup-lineage drill-down: file rollups → explode rollup_of →
    join chunks on node_id. Every chunk must reappear exactly once under
    its file's keys — the oracle is the chunk fixture itself.

    The chunk table feeds two branches (rollups + members); per-branch
    column pruning gives each a different exchange subplan, so
    ReuseExchange can NOT kick in and the expensive chunk explode would
    run once per branch. ``localCheckpoint`` materializes it exactly
    once instead — at scale the equivalent cut is reading chunks back
    from the vector table rather than re-deriving them."""
    chunks = scale_out(_chunks_with_ids(documents), "node_id").localCheckpoint(
        eager=False
    )
    rollups = _rollup_inputs(chunks, H.file_summaries, H.FILE_KEYS).select(
        "namespace", "repo", "module", "file_path", "language", "rollup_of"
    )
    members = chunks.select("node_id", "chunk_idx", "start_line")
    # bulk lineage over ALL summaries: shuffle join on node_id — the
    # broadcast default is for the serving path's handful of hits and
    # would ship every summary to every executor here
    return H.drill_down(rollups, members, broadcast_summaries=False)


def enriched(documents: DataFrame) -> DataFrame:
    """L1-L3 enrichment with the DeterministicLLM (stable-words
    contract — reproduced token-for-token by the DuckDB oracle)."""
    out = enrich_chunks(documents.select("doc_id", "text"), DeterministicLLM)
    return out.select("doc_id", "section_summary", "document_title", "excerpt_keywords")


def multimodal_meta(documents: DataFrame) -> DataFrame:
    """Binary-column plumbing: utf-8 payload → Arrow-batched fake
    decode → typed metadata columns."""
    meta = MM.image_metadata(MM.with_binary_content(documents))
    return meta.select("doc_id", "mime", "byte_len", "phash", "width", "height")


def multimodal_dedup(documents: DataFrame) -> DataFrame:
    """Perceptual-hash dedup over the binary metadata."""
    meta = MM.image_metadata(MM.with_binary_content(documents))
    return MM.phash_dedup(meta).select("phash", "canonical_id", "group_size", "max_bytes")


def multimodal_resize(documents: DataFrame, max_dim: int = 512) -> DataFrame:
    """Bounded-box resize plumbing (mapInPandas over the bytes)."""
    meta = MM.image_metadata(MM.with_binary_content(documents))
    return MM.resize_images(meta, max_dim).select(
        "doc_id", "width", "height", "new_width", "new_height", "byte_len", "new_byte_len"
    )


def multimodal_frames(documents: DataFrame) -> DataFrame:
    """Fixed-stride frame sampling over the binary payload (64-byte
    frames so the ~300-char fixture docs genuinely fan out)."""
    meta = MM.with_binary_content(documents)
    return MM.sample_frames(meta, frame_size=64).select(
        "doc_id", "frame_idx", "frame_len", "frame_phash"
    )


def multimodal_features(documents: DataFrame, n_features: int = 8) -> DataFrame:
    """md5-slice pseudo-features from the bytes (embedding stand-in)."""
    feat = MM.binary_features(MM.with_binary_content(documents), n_features)
    return feat.select(
        "doc_id",
        *[F.round(F.col("features")[i], 6).alias(f"f{i}") for i in range(n_features)],
    )


def multimodal_near_dups(documents: DataFrame) -> DataFrame:
    """Banded phash Hamming near-dup pairs over a SEEDED phash geometry.

    The md5-derived fake phashes of distinct texts are uniform 60-bit
    values, so true near-pairs (Hamming ≤ 3) essentially never occur —
    round 2's oracle row was vacuously green on 0 rows. Without a real
    perceptual hash the only deterministic way to produce near-dups is
    to seed them: docs form groups of 5 (``doc_id div 5``) sharing an
    md5-derived 60-bit base hash; each member flips one distinct bit at
    position ``(doc_id % 5) * 13`` (0/13/26/39/52 — spanning all four
    15-bit bands), so every in-group pair sits at Hamming distance
    exactly 2 and is only discoverable through the ≥2 bands that still
    agree (the pigeonhole the banded join relies on). The DuckDB oracle
    mirrors the same seeding, so the band-join + popcount-verify logic
    is checked against ~n_docs·2 nonzero pairs instead of an empty set.
    """
    d = F.col("doc_id")
    seeded = documents.select(
        "doc_id",
        TXT.md5_bigint(
            F.concat(F.lit("g"), F.floor(d / 5).cast("bigint").cast("string")), 15
        )
        # python shiftleft() only takes a literal bit count — expr form
        # allows the per-row position column
        .bitwiseXOR(F.expr("shiftleft(CAST(1 AS BIGINT), CAST((doc_id % 5) * 13 AS INT))"))
        .alias("phash"),
    )
    return MM.phash_near_dups(seeded)
