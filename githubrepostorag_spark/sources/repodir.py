"""Local repo-directory source (SURVEY S1 stand-in).

The reference loads repositories over the GitHub API
(github_service.py:16-25, concurrent_requests=6). The engine's batch
source reads an already-cloned tree with Spark's binaryFile source —
distributed, no network in the read path — yielding the same
`(repo, branch, file_path, text)` document schema the ingest pipeline
consumes. Fetching/cloning stays an external step (like the
reference's token-auth fetch), so the engine source is pure I/O.

Scale: binaryFile lists and reads files in parallel across executors;
`pathGlobFilter`/`recursiveFileLookup` prune at the listing, and the
text decode is a column expression.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_roots(
    spark: SparkSession,
    roots: list[str],
    branch: str,
    glob: str | None = None,
    repo: str | None = None,
) -> DataFrame:
    """Sibling repo trees → documents(repo, branch, file_path, text) in
    one binaryFile scan. A file's repo is its root's directory name
    (`repo` overrides it) and its file_path the rest of its path. A file
    that is not valid UTF-8 (a font, a class file) is skipped, as the
    reference's GitHub reader skips a blob that fails to decode."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(roots)
    parent = os.path.dirname(roots[0]).strip("/")
    path = f"^file:/*{re.escape(parent)}/([^/]+)/(.*)$"
    return raw.select(
        (F.lit(repo) if repo else F.regexp_extract("path", path, 1)).alias("repo"),
        F.lit(branch).alias("branch"),
        F.regexp_extract("path", path, 2).alias("file_path"),
        F.col("content").cast("string").alias("text"),
    ).filter(F.is_valid_utf8("text"))


def read_repo_directory(
    spark: SparkSession,
    path: str,
    repo: str | None = None,
    branch: str = "main",
    glob: str | None = None,
) -> DataFrame:
    """One cloned repo tree → documents(repo, branch, file_path, text).

    file_path is repo-relative (the metadata key the chunker, module
    derivation, and hierarchy group on)."""
    root = os.path.abspath(path).rstrip("/")
    return _read_roots(spark, [root], branch, glob, repo or os.path.basename(root))


def read_repo_directories(
    spark: SparkSession, base_path: str, branch: str = "main"
) -> DataFrame:
    """S2 stand-in: every immediate subdirectory of `base_path` is one
    repo (the layout `git clone` into a workspace produces), all read by
    one scan."""
    base = os.path.abspath(base_path)
    roots = [
        os.path.join(base, name)
        for name in sorted(os.listdir(base))
        if os.path.isdir(os.path.join(base, name))
    ]
    if not roots:
        raise ValueError(f"no repo directories under {base_path}")
    return _read_roots(spark, roots, branch)
