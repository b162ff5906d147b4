"""Chunking / splitting operators (SURVEY C1-C6).

The reference dispatches per-document to a tree-sitter CodeSplitter
(chunk_lines=200, overlap=10, max_chars=4000) with a SentenceSplitter
fallback (chunk_size=4000, overlap=200), and a smaller splitter for
summary/catalog docs (1500/100) — code_pipeline.py:14-54,
langauge_detector.py:76-136, catalog_pipeline.py:15-22.

This engine's equivalents:
- code path: line-window splitter (200 lines, 10 overlap, 4000-char
  cap) expressed entirely with built-in array functions — a narrow
  flatMap stage, no shuffle, whole-stage codegen. tree-sitter is not in
  this container; the line-window splitter is the language-agnostic
  fallback the reference itself uses whenever tree-sitter is missing
  (ImportError path) — semantics preserved, and a real tree-sitter
  callable can be slotted into the same explode shape as a pandas UDF.
- text fallback: char-window splitter (4000/200), same built-in shape.
  The reference's catalog splitter (C4, 1500/100) has no counterpart:
  summary and catalog docs are one row each, built whole by
  `operators.hierarchy`.
- notebook normalizer (C5): pure function of the .ipynb JSON, ported
  rule-for-rule (setup-cell regexes, markdown keep, fenced code,
  output-heavy detection) as a scalar pandas UDF (Arrow-batched).
- kernel language detection (C6): a pure function of the .ipynb JSON.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

CODE_CHUNK_LINES = 200
CODE_CHUNK_LINES_OVERLAP = 10
CODE_MAX_CHARS = 4000
TEXT_CHUNK_SIZE = 4000
TEXT_CHUNK_OVERLAP = 200


def _line_chunks(text: Column) -> Column:
    """array<struct<chunk_idx,chunk_text,start_line,end_line>> of
    200-line windows with 10-line overlap, 4000-char cap per chunk.

    The split-lines array is bound once per row by routing it through
    a single-element array into a nested transform: a chunk lambda
    that referenced the split EXPRESSION would re-split the whole
    document per chunk (interpreted higher-order lambdas re-evaluate
    their captures)."""
    stride = CODE_CHUNK_LINES - CODE_CHUNK_LINES_OVERLAP

    def per_doc(ls: Column) -> Column:
        n_lines = F.size(ls)
        n_chunks = F.when(n_lines <= CODE_CHUNK_LINES, F.lit(1)).otherwise(
            F.lit(1)
            + F.floor(
                (n_lines - F.lit(CODE_CHUNK_LINES) + F.lit(stride - 1)) / F.lit(stride)
            ).cast("int")
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_idx"),
                F.substring(
                    F.array_join(F.slice(ls, i * stride + 1, F.lit(CODE_CHUNK_LINES)), "\n"),
                    1,
                    CODE_MAX_CHARS,
                ).alias("chunk_text"),
                (i * stride).cast("long").alias("start_line"),
                F.least(i * stride + CODE_CHUNK_LINES, F.size(ls)).cast("long").alias("end_line"),
            ),
        )

    return F.get(F.transform(F.array(F.split(text, "\n")), per_doc), 0)


def _char_chunks(text: Column, size: int, overlap: int) -> Column:
    stride = size - overlap
    n = F.length(text)
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.lit(1) + F.floor((n - F.lit(size) + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.substring(text, i * stride + 1, F.lit(size)).alias("chunk_text"),
            (i * stride).cast("long").alias("start_line"),
            (i * stride + size).cast("long").alias("end_line"),
        ),
    )


def split_code_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C1-C3 dispatch: line-window chunker for known code languages,
    char-window fallback otherwise — one explode, no shuffle. The chunk
    struct unpacks in one projection (withColumn chains re-analyze the
    plan per call — measurable across the ingest lineage)."""
    known_code = F.col("language").isin(
        "python", "java", "kotlin", "go", "javascript", "typescript", "ruby", "rust",
        "c", "cpp", "csharp", "php", "scala", "swift", "bash", "zsh", "notebook",
    )
    chunks = F.when(known_code, _line_chunks(F.col(text_col))).otherwise(
        _char_chunks(F.col(text_col), TEXT_CHUNK_SIZE, TEXT_CHUNK_OVERLAP)
    )
    out = docs.withColumn("c", F.explode(chunks)).drop(text_col)
    return out.withColumns(
        {
            "chunk_idx": F.col("c.chunk_idx"),
            "text": F.col("c.chunk_text"),
            "start_line": F.col("c.start_line"),
            "end_line": F.col("c.end_line"),
        }
    ).drop("c")


# --------------------------------------------------------------------------
# C5: notebook normalizer — rules ported from the reference
# (jupyter_notebook_handling.py:19-193), re-implemented over the raw
# JSON string (no nbformat dependency).
# --------------------------------------------------------------------------

_SETUP_PATTERNS = [
    r"^!pip install", r"^!conda install", r"^!apt-get", r"^!apt install",
    r"^!yum install", r"^%pip install", r"^%conda install",
    r"^import sys\s*\n\s*!\{sys\.executable\}\s+-m\s+pip\s+install",
    r"^!mkdir", r"^!cp", r"^!mv", r"^!rm", r"^!wget", r"^!curl",
    r"^%matplotlib inline", r"^%config", r"^%load_ext", r"^%env",
    r"^!kaggle", r"^!jupyter", r"^!python -m",
]
_LOG_LINE_PATTERNS = [
    r"\d{4}-\d{2}-\d{2}\s\d{2}:\d{2}:\d{2}",
    r"DEBUG|INFO|WARNING|ERROR|CRITICAL",
    r"Downloading|Downloaded",
    r"\d+%\|[█▉▊▋▌▍▎▏ ]+\|",
]
_ANSI_RE = re.compile(r"\x1b\[[0-9;]*[a-zA-Z]")


def _cell_source(cell: dict) -> str:
    src = cell.get("source", "")
    return "".join(src) if isinstance(src, list) else (src or "")


def _is_setup_cell(source: str) -> bool:
    for line in source.split("\n"):
        line = line.strip()
        if not line:
            continue
        for pat in _SETUP_PATTERNS:
            if re.match(pat, line):
                return True
    return False


def _outputs_text(outputs: list) -> str:
    text = ""
    for out in outputs or []:
        if out.get("output_type") == "stream":
            t = out.get("text", "")
            text += "".join(t) if isinstance(t, list) else t
        elif out.get("output_type") == "execute_result":
            t = (out.get("data") or {}).get("text/plain", "")
            text += "".join(t) if isinstance(t, list) else t
    return text


def _is_output_heavy(outputs: list) -> bool:
    if not outputs:
        return False
    text = _ANSI_RE.sub("", _outputs_text(outputs))
    if len(text) > 500:
        if "===" in text or "---" in text or "|" in text:
            return False
        return True
    for pat in _LOG_LINE_PATTERNS:
        if re.search(pat, text):
            lines = text.split("\n")
            log_lines = sum(1 for ln in lines if re.search(pat, ln))
            if lines and log_lines / len(lines) > 0.3:
                return True
    return False


def normalize_notebook_text(raw: str) -> str:
    """Pure function: .ipynb JSON → markdown+code text (reference rules)."""
    try:
        nb = json.loads(raw)
        cells = nb.get("cells", [])
        parts: list[str] = []
        title = (nb.get("metadata") or {}).get("title", "")
        if title:
            parts.append(f"# {title}\n")
        for cell in cells:
            source = _cell_source(cell)
            if not source.strip():
                continue
            ctype = cell.get("cell_type")
            if ctype == "markdown":
                parts.append(source)
            elif ctype == "code":
                if _is_setup_cell(source):
                    continue
                parts.append(f"```python\n{source}\n```")
                outputs = cell.get("outputs") or []
                if outputs and not _is_output_heavy(outputs):
                    text = _outputs_text(outputs)
                    if text.strip():
                        parts.append(f"```\n{_ANSI_RE.sub('', text)}\n```")
        return "\n\n".join(parts)
    except Exception as e:  # malformed notebook → raw passthrough (reference fallback)
        return raw if raw else f"Error processing notebook: {e}"


def detect_kernel_language(raw: str) -> str:
    """C6: kernelspec language, default python (langauge_detector.py:39-74)."""
    try:
        nb = json.loads(raw)
        ks = (nb.get("metadata") or {}).get("kernelspec") or {}
        return (ks.get("language") or ks.get("name") or "python").lower()
    except Exception:
        return "python"


def normalize_notebook_udf():
    """Built lazily — pandas_udf type parsing needs an active session."""

    @pandas_udf("string")
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(normalize_notebook_text)

    return _udf


def transform_special_files(docs: DataFrame, path_col: str = "file_path") -> DataFrame:
    """Apply the notebook normalizer to .ipynb rows (other rows pass
    through untouched) — the engine form of transform_special_files
    (transform_service.py:83-109)."""
    is_nb = F.lower(F.col(path_col)).endswith(".ipynb")
    return docs.withColumn(
        "text",
        F.when(is_nb, normalize_notebook_udf()(F.col("text"))).otherwise(F.col("text")),
    )
