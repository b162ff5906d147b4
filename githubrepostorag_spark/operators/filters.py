"""Document filtering / language tagging / component-kind inference.

The reference's preprocess rules (SURVEY F1-F3) as plain functions over
a file path:
- F1 `keep`: extension blacklist, filename blacklist, JSON data-file
  patterns (reference: ingest/src/app/services/
  transform_service.py:10-37,56-80).
- F2 `language`: filename special cases, then the extension map, then
  the reference's fallback ladder (preprocess_service.py:11-55,
  config.py:51-84).
- A2 `module`: the first path segment (scope_utils.py:8-11).
- F3 `component_kind`: standalone iff the repo has a notebook and no
  manifest/openapi (transform_service.py:112-127), from its kept paths.

The ingest's per-document pass (`plans.ingest`) and the parity plans
call these same functions; F4's constant metadata is attached by that
pass and by the storage projection.
"""

from __future__ import annotations

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


def file_name(path: str) -> str:
    return path.rsplit("/", 1)[-1].lower()


def file_ext(path: str) -> str:
    """os.path.splitext semantics (the reference's rule): a leading dot
    alone (".gitignore") is NOT an extension."""
    name = path.rsplit("/", 1)[-1]
    return "." + name.rsplit(".", 1)[-1].lower() if "." in name[1:] else ""


def keep(path: str) -> bool:
    """F1: True for documents that survive the skip-list filter."""
    ext, name = file_ext(path), file_name(path)
    json_data = ext == ".json" and name in SKIP_JSON_PATTERNS
    return not (json_data or ext in SKIP_EXT or name in SKIP_NAMES)


def language(path: str) -> str:
    """F2: special names, then the extension map, then the bare
    extension, then the lowercased filename."""
    name, ext = file_name(path), file_ext(path)
    if name == "dockerfile":
        return "dockerfile"
    if "docker-compose" in name and name.endswith((".yml", ".yaml")):
        return "yaml"
    return EXTENSION_TO_LANGUAGE.get(ext, ext[1:] if ext else name)


def module(path: str, depth: int = 1) -> str:
    """A2: the first `depth` path segments, '.'/'' parts dropped."""
    return "/".join([p for p in path.split("/") if p not in ("", ".")][:depth])


def kind_flags(paths) -> dict:
    """F3 flags over a repo's kept file paths."""
    flags = dict(has_notebook=False, has_manifest=False, has_openapi=False)
    for path in paths:
        name, ext = file_name(path), file_ext(path)
        flags["has_notebook"] |= ext == ".ipynb"
        flags["has_manifest"] |= name in MANIFEST_NAMES
        flags["has_openapi"] |= ext in (".yaml", ".yml", ".json") and any(
            h in name for h in OPENAPI_HINTS
        )
    return flags


def component_kind(flags: dict) -> str:
    """F3: 'standalone' iff a notebook and neither manifest nor openapi."""
    standalone = flags["has_notebook"] and not (flags["has_manifest"] or flags["has_openapi"])
    return "standalone" if standalone else "service"
