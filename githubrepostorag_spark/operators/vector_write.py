"""Vector-table sink (SURVEY S4 + F5/F6 + shredding).

The reference embeds per scope and batch-writes LangChain documents
into 5 Cassandra tables with sanitized MAP<TEXT,TEXT> metadata
(vector_write_service.py:100-210). The engine writes ONE parquet
dataset partitioned by `scope` (+`namespace`) with:

- promoted typed columns (namespace/repo/module/file_path/language/...)
  → Catalyst partition pruning & predicate pushdown replace the
  reference's "allow-list keeps SAI indexes tight" tactic (SURVEY §4),
- `metadata` map<string,string> built by the same sanitize rule at the
  storage boundary only,
- unit-normalized vectors at write time (cosine → plain dot at query
  time, mirroring the cosine SAI index),
- stable row ids (sha1 identity rule, vector_write_service.py:186-193).

Scale: partitionBy(scope, namespace) gives pruning on the two
highest-selectivity query dimensions; within files, rows are laid out
sorted by (repo, module) so row-group statistics prune repo-filtered
scans too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import metadata as MD
from githubrepostorag_spark.functions import vectors as V
from githubrepostorag_spark.functions.embed import with_embedding


def storage_projection(nodes: DataFrame, scope: str | None = None) -> DataFrame:
    """nodes → the common storage schema MINUS the vector: row_id, body,
    sanitized metadata, promoted columns. Scope-specific column sets
    collapse here, so projections from different scopes union cleanly
    and share one embedding pass (`finalize_vectors`). `scope` names the
    scope of every row; without it the rows carry their own `scope`
    column (a mix of scopes), and the metadata keeps the always-keep
    fields only (`metadata.KEEP_ALWAYS`)."""
    cols = set(nodes.columns)
    scope_col = F.lit(scope) if scope else F.col("scope")

    def col_or_null(name: str):
        return F.col(name) if name in cols else F.lit(None).cast("string")

    base = nodes
    if "node_id" not in cols:
        base = base.withColumn(
            "node_id",
            MD.stable_node_id(
                scope_col,
                col_or_null("namespace"),
                col_or_null("repo"),
                col_or_null("module"),
                col_or_null("file_path"),
                col_or_null("start_line"),
                col_or_null("end_line"),
            ),
        )
    return base.select(
        F.col("node_id").alias("row_id"),
        F.col("text").alias("body"),
        MD.sanitized_metadata(base, scope).alias("metadata"),
        scope_col.alias("scope"),
        *[
            col_or_null(c).alias(c)
            for c in ("namespace", "repo", "module", "file_path", "language", "component_kind")
        ],
        *(
            [F.col("topics")]
            if "topics" in cols
            else [F.array().cast("array<string>").alias("topics")]
        ),
    )


def finalize_vectors(
    projected: DataFrame, embedder=None, dim: int | None = None
) -> DataFrame:
    """Attach + normalize the vector over storage projections (one scope
    or a union of scopes — a multi-scope union embeds in a SINGLE
    Arrow-UDF subtree instead of one per scope, which halves the ingest
    pipeline's Python-worker round-trips)."""
    embed_kwargs = {"embedder": embedder}
    if dim is not None:
        embed_kwargs["dim"] = dim
    embedded = with_embedding(projected, text_col="body", out_col="vector", **embed_kwargs)
    normalized = embedded.withColumn(
        "vector", V.l2_normalize(F.col("vector")).cast("array<float>")
    )
    return normalized.select(
        "row_id",
        "body",
        "vector",
        "metadata",
        "scope",
        "namespace",
        "repo",
        "module",
        "file_path",
        "language",
        "component_kind",
        "topics",
    )


def write_vector_tables(rows: DataFrame, path: str) -> None:
    """Partitioned parquet sink — scope+namespace pruning, repo/module
    row-group ordering."""
    (
        rows.repartition("scope", "namespace")
        .sortWithinPartitions("repo", "module")
        .write.mode("overwrite")
        .partitionBy("scope", "namespace")
        .parquet(path)
    )


def read_vector_tables(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)
