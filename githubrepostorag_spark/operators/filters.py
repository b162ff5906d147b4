"""Document filtering / language tagging / component-kind inference.

Engine form of the reference's preprocess stage (SURVEY F1-F4):
- F1 document filter: extension blacklist, filename blacklist, JSON
  data-file patterns (reference: ingest/src/app/services/
  transform_service.py:10-37,56-80).
- F2 language tagging: extension → language map + special cases
  (reference: preprocess_service.py:11-55, config.py:51-84).
- F3 component-kind inference: standalone iff repo has a notebook and
  no manifest/openapi (reference: transform_service.py:112-127).
- F4 metadata attach: constant + derived columns incl. scope from
  doc_type (reference: ingest_controller.py:164-189).

All pure column expressions — whole-stage codegen, predicate pushdown
(the F1 filter lands in the parquet scan when file metadata columns are
stored), zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# F1 blacklists — same observable sets as the reference
# (transform_service.py:10-37). Note the reference's skip-set contains a
# literal ".drawio.db" artifact from a missing comma; we intentionally
# include the three obviously-intended entries instead.
SKIP_EXT = (
    ".csv", ".tsv", ".xlsx", ".xls", ".parquet", ".feather",
    ".xml", ".jsonl", ".ndjson",
    ".png", ".jpg", ".jpeg", ".gif", ".bmp", ".svg", ".webp", ".ico",
    ".tiff", ".tif", ".psd", ".drawio",
    ".mp3", ".wav", ".mp4", ".avi", ".mov", ".mkv", ".flv",
    ".zip", ".tar", ".gz", ".rar", ".7z", ".bz2",
    ".exe", ".dll", ".so", ".dylib", ".bin",
    ".log", ".dump", ".backup",
    ".db", ".sqlite", ".sqlite3",
)

SKIP_JSON_PATTERNS = (
    "data.json", "test-data.json", "sample.json", "mock.json",
    "responses.json", "fixtures.json",
)

SKIP_NAMES = (
    "license", "license.txt", "license.md",
    "changelog", "changelog.txt", "changelog.md",
    "authors", "authors.txt", "authors.md",
    "contributors", "contributors.txt", "contributors.md",
    "copying", "copying.txt", "copying.md",
    "notice", "notice.txt", "notice.md",
    ".gitignore", ".gitattributes", ".gitmodules",
    ".dockerignore", ".eslintignore", ".prettierignore",
)

# F2 extension → language (preprocess_service.py:11-27); unmapped
# extensions fall back to the bare extension name, extensionless files
# to the lowercased filename — same fallback ladder as the reference.
EXTENSION_TO_LANGUAGE = {
    ".py": "python", ".java": "java", ".kt": "kotlin", ".go": "go",
    ".js": "javascript", ".jsx": "javascript", ".ts": "typescript", ".tsx": "typescript",
    ".rb": "ruby", ".rs": "rust", ".c": "c", ".h": "c", ".cpp": "cpp", ".hpp": "cpp",
    ".cs": "csharp", ".php": "php", ".scala": "scala", ".swift": "swift",
    ".sh": "bash", ".bash": "bash", ".zsh": "zsh",
    ".yml": "yaml", ".yaml": "yaml", ".toml": "toml", ".ini": "ini", ".cfg": "ini",
    ".sql": "sql", ".md": "markdown", ".rst": "rst", ".proto": "protobuf",
    ".gradle": "gradle", ".groovy": "groovy", ".xml": "xml", ".json": "json",
    ".ipynb": "notebook",
}

MANIFEST_NAMES = ("package.json", "pyproject.toml", "pom.xml")
OPENAPI_HINTS = ("openapi", "swagger")


def file_name(path: Column) -> Column:
    return F.lower(F.element_at(F.split(path, "/"), -1))


def file_ext(path: Column) -> Column:
    # os.path.splitext semantics (the reference's rule): a leading dot
    # alone (".gitignore") is NOT an extension — require a '.' after
    # position 1 of the filename.
    name = F.element_at(F.split(path, "/"), -1)
    has_ext = F.instr(F.substring(name, 2, 1_000_000), ".") > 0
    return F.when(
        has_ext, F.concat(F.lit("."), F.lower(F.element_at(F.split(name, r"\."), -1)))
    ).otherwise(F.lit(""))


def keep_document(path: Column) -> Column:
    """F1: True for documents that survive the skip-list filter."""
    ext = file_ext(path)
    name = file_name(path)
    json_data = (ext == ".json") & name.isin(*SKIP_JSON_PATTERNS)
    return ~(json_data | ext.isin(*SKIP_EXT) | name.isin(*SKIP_NAMES))


def filter_documents(docs: DataFrame, path_col: str = "file_path") -> DataFrame:
    return docs.filter(keep_document(F.col(path_col)))


def language_of(path: Column) -> Column:
    """F2: language from filename special cases, then the extension map,
    then the reference's fallback ladder."""
    name = file_name(path)
    ext = file_ext(path)
    expr = None
    for e, lang in EXTENSION_TO_LANGUAGE.items():
        clause = F.when(ext == e, F.lit(lang))
        expr = clause if expr is None else expr.when(ext == e, F.lit(lang))
    mapped = expr.otherwise(
        F.when(ext != "", F.regexp_replace(ext, r"^\.", "")).otherwise(name)
    )
    return (
        F.when(name == "dockerfile", F.lit("dockerfile"))
        .when(
            name.contains("docker-compose") & (name.endswith(".yml") | name.endswith(".yaml")),
            F.lit("yaml"),
        )
        .otherwise(mapped)
    )


def tag_language(docs: DataFrame, path_col: str = "file_path") -> DataFrame:
    return docs.withColumn("language", language_of(F.col(path_col)))


def top_directory(path: Column, depth: int = 1) -> Column:
    """A2: first `depth` path segments = module (reference
    scope_utils.py:8-11 — '.'/'' parts dropped, '' for empty paths)."""
    parts = F.filter(F.split(path, "/"), lambda x: (x != "") & (x != "."))
    return F.array_join(F.slice(parts, 1, depth), "/")


def with_module(docs: DataFrame, path_col: str = "file_path", depth: int = 1) -> DataFrame:
    """A2/A3 prep: derive the `module` rollup key from the file path."""
    return docs.withColumn("module", top_directory(F.col(path_col), depth))


def infer_component_kind(docs: DataFrame, repo_col: str = "repo") -> DataFrame:
    """F3: per-repo 'standalone' vs 'service' flags aggregate.

    standalone iff the repo has an .ipynb and neither a manifest nor an
    openapi spec (transform_service.py:112-127). One groupBy on repo —
    at scale this is a tiny aggregate keyed by repo.
    """
    path = F.col("file_path")
    name = file_name(path)
    ext = file_ext(path)
    flags = docs.groupBy(repo_col).agg(
        F.max(ext == ".ipynb").alias("has_notebook"),
        F.max(name.isin(*MANIFEST_NAMES)).alias("has_manifest"),
        F.max(
            name.rlike("|".join(OPENAPI_HINTS))
            & (ext.isin(".yaml", ".yml", ".json"))
        ).alias("has_openapi"),
    )
    return flags.withColumn(
        "component_kind",
        F.when(
            F.col("has_notebook") & ~F.col("has_manifest") & ~F.col("has_openapi"),
            F.lit("standalone"),
        ).otherwise(F.lit("service")),
    )


def attach_common_metadata(
    nodes: DataFrame,
    *,
    namespace: str,
    branch: str = "main",
    collection: str = "misc",
    ingest_run_id: str,
    dev_forced: bool = False,
) -> DataFrame:
    """F4: constant/derived metadata incl. scope from doc_type
    (ingest_controller.py:164-189). `component_kind` must already be a
    column (joined from infer_component_kind)."""
    scope = (
        F.when(F.col("doc_type") == "catalog", "catalog")
        .when(F.col("doc_type") == "repo", "repo")
        .when(F.col("doc_type") == "module", "module")
        .when(F.col("doc_type") == "file", "file")
        .otherwise("chunk")
    )
    # one projection, not seven: each withColumn re-analyzes the whole
    # plan, which adds up across the ~15-stage ingest lineage
    return nodes.withColumns(
        {
            "namespace": F.lit(namespace),
            "branch": F.lit(branch),
            "collection": F.lit(collection),
            "is_standalone": F.col("component_kind") == "standalone",
            "dev_forced_standalone": F.lit(dev_forced),
            "ingest_run_id": F.lit(ingest_run_id),
            "scope": scope,
        }
    )

