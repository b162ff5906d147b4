"""Chunking / splitting rules (SURVEY C1-C6).

The reference dispatches per-document to a tree-sitter CodeSplitter
(chunk_lines=200, overlap=10, max_chars=4000) with a SentenceSplitter
fallback (chunk_size=4000, overlap=200), and a smaller splitter for
summary/catalog docs (1500/100) — code_pipeline.py:14-54,
langauge_detector.py:76-136, catalog_pipeline.py:15-22.

This engine's equivalents are plain functions over `str`, run inside
the ingest's per-document pass (`plans.ingest`):
- code path (`line_windows`): 200-line windows, 10 lines of overlap,
  each cut to 4000 chars. tree-sitter is not in this container; the
  line-window splitter is the language-agnostic fallback the reference
  itself uses whenever tree-sitter is missing (ImportError path).
- text fallback (`char_windows`): 4000-char windows, 200 of overlap.
  The reference's catalog splitter (C4, 1500/100) has no counterpart:
  summary and catalog docs are one row each, built whole by
  `operators.hierarchy`.
- notebook normalizer (C5): .ipynb JSON → markdown + fenced code, ported
  rule-for-rule (setup-cell regexes, markdown keep, output-heavy
  detection).
- kernel language detection (C6): the notebook's kernelspec language.

`split_code_documents` applies the window rule to a DataFrame of
documents in one `mapInArrow` (the stream tick and the parity plans).
"""

from __future__ import annotations

import json
import re

import pyarrow as pa
from pyspark.sql import DataFrame

from githubrepostorag_spark.functions.rows import extended, map_rows

CODE_CHUNK_LINES = 200
CODE_CHUNK_LINES_OVERLAP = 10
CODE_MAX_CHARS = 4000
TEXT_CHUNK_SIZE = 4000
TEXT_CHUNK_OVERLAP = 200

# languages chunked by lines; every other language by chars
CODE_LANGUAGES = frozenset((
    "python", "java", "kotlin", "go", "javascript", "typescript", "ruby", "rust",
    "c", "cpp", "csharp", "php", "scala", "swift", "bash", "zsh", "notebook",
))


def _n_windows(n: int, size: int, stride: int) -> int:
    return 1 if n <= size else 1 + (n - size + stride - 1) // stride


def line_windows(text: str) -> list[tuple[str, int, int]]:
    """(chunk text, start_line, end_line) of 200-line windows that
    overlap by 10 lines, each cut to 4000 chars; end_line stops at the
    last line."""
    lines = text.split("\n")
    stride = CODE_CHUNK_LINES - CODE_CHUNK_LINES_OVERLAP
    out = []
    for i in range(_n_windows(len(lines), CODE_CHUNK_LINES, stride)):
        start = i * stride
        window = "\n".join(lines[start:start + CODE_CHUNK_LINES])
        out.append((window[:CODE_MAX_CHARS], start, min(start + CODE_CHUNK_LINES, len(lines))))
    return out


def char_windows(text: str) -> list[tuple[str, int, int]]:
    """(chunk text, start offset, start + 4000) of 4000-char windows
    that overlap by 200 chars."""
    size, stride = TEXT_CHUNK_SIZE, TEXT_CHUNK_SIZE - TEXT_CHUNK_OVERLAP
    return [
        (text[i * stride:i * stride + size], i * stride, i * stride + size)
        for i in range(_n_windows(len(text), size, stride))
    ]


def chunk_windows(text: str, language) -> list[tuple[str, int, int]]:
    """C1-C3 dispatch: line windows for code languages, char windows
    otherwise. Every document yields at least one window."""
    return line_windows(text) if language in CODE_LANGUAGES else char_windows(text)


def split_code_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """docs(…, language, text) → one row per window: the document's
    columns with `text_col` replaced by the window, plus chunk_idx,
    start_line and end_line."""
    spans = [pa.field(c, pa.int64()) for c in ("chunk_idx", "start_line", "end_line")]

    def split(rows):
        return [
            dict(r, **{text_col: chunk}, chunk_idx=i, start_line=start, end_line=end)
            for r in rows
            if r[text_col] is not None
            for i, (chunk, start, end) in enumerate(chunk_windows(r[text_col], r["language"]))
        ]

    return map_rows(docs, split, extended(docs, *spans))


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
