"""The per-document rules of the ingest, in plain Python: F1 keep, ext,
F2 language, A2 module, the C1-C3 windows, F3 component kind and the
document pass that chains them. The expected values are the ones the
earlier Spark column expressions of these rules gave; the end-to-end
output is pinned in test_ingest_pipeline."""

from __future__ import annotations

import hashlib

import pytest

from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.operators import chunking as CH
from githubrepostorag_spark.operators import filters as FL
from githubrepostorag_spark.plans.ingest import document_nodes
from tests.fixtures_corpus import NOTEBOOK

# path → (ext, keep, language, module)
PATHS = {
    ".gitignore": ("", False, ".gitignore", ".gitignore"),
    "a/.env": ("", True, ".env", "a"),
    "foo.": (".", True, "", "foo."),
    "Makefile": ("", True, "makefile", "Makefile"),
    "Dockerfile": ("", True, "dockerfile", "Dockerfile"),
    "docker-compose.override.yaml": (".yaml", True, "yaml", "docker-compose.override.yaml"),
    "x/data.json": (".json", False, "json", "x"),
    "img/LOGO.PNG": (".png", False, "png", "img"),
    "./src/a.py": (".py", True, "python", "src"),
    "": ("", True, "", ""),
}


@pytest.mark.parametrize("path", sorted(PATHS))
def test_path_rules(path):
    got = (FL.file_ext(path), FL.keep(path), FL.language(path), FL.module(path))
    assert got == PATHS[path]


def _lines(n: int) -> str:
    return "\n".join(f"l{i}" for i in range(n))


def _chars(n: int) -> str:
    return "".join(chr(97 + i % 26) for i in range(n))


def _spans(windows):
    return [(len(text), start, end) for text, start, end in windows]


# lines → (len(text), start_line, end_line) per window
LINE_WINDOWS = {
    200: [(889, 0, 200)],
    201: [(889, 0, 200), (54, 190, 201)],
    390: [(889, 0, 200), (999, 190, 390)],
    391: [(889, 0, 200), (999, 190, 390), (54, 380, 391)],
}
CHAR_WINDOWS = {
    4000: [(4000, 0, 4000)],
    4001: [(4000, 0, 4000), (201, 3800, 7800)],
    7800: [(4000, 0, 4000), (4000, 3800, 7800)],
    7801: [(4000, 0, 4000), (4000, 3800, 7800), (201, 7600, 11600)],
}


@pytest.mark.parametrize("n", sorted(LINE_WINDOWS))
def test_line_windows(n):
    windows = CH.chunk_windows(_lines(n), "python")
    assert _spans(windows) == LINE_WINDOWS[n]
    assert windows[-1][0].endswith(f"l{n - 1}")  # the last line is covered
    if n > 200:  # windows overlap by 10 lines
        assert windows[1][0].startswith("l190\n")


@pytest.mark.parametrize("n", sorted(CHAR_WINDOWS))
def test_char_windows(n):
    text = _chars(n)
    windows = CH.chunk_windows(text, "markdown")
    assert _spans(windows) == CHAR_WINDOWS[n]
    assert [w[0] for w in windows] == [text[s:s + 4000] for _, s, _ in windows]


def test_code_window_cut_at_4000_chars():
    text = "\n".join("x" * 99 for _ in range(60))  # 5,999 chars on 60 lines
    ((window, start, end),) = CH.chunk_windows(text, "python")
    assert (len(window), start, end) == (4000, 0, 60)
    assert window == text[:4000]


def test_empty_document_yields_one_window():
    assert CH.chunk_windows("", "python") == [("", 0, 1)]
    assert CH.chunk_windows("", None) == [("", 0, 4000)]


@pytest.mark.parametrize("paths, flags, kind", [
    (["nb/a.ipynb"], (True, False, False), "standalone"),
    (["nb/a.ipynb", "package.json"], (True, True, False), "service"),
    (["nb/a.ipynb", "api/Swagger.yml"], (True, False, True), "service"),
    (["nb/a.ipynb", "openapi.md"], (True, False, False), "standalone"),
    (["src/a.py"], (False, False, False), "service"),
])
def test_component_kind(paths, flags, kind):
    got = FL.kind_flags(paths)
    assert (got["has_notebook"], got["has_manifest"], got["has_openapi"]) == flags
    assert FL.component_kind(got) == kind


def test_document_pass_chains_the_rules():
    llm = DeterministicLLM()
    assert document_nodes(dict(repo="r", file_path="LICENSE", text="MIT"), llm, "ns") == []

    (readme, chunk) = document_nodes(dict(repo="r", file_path="README.md", text="# r"), llm, "ns")
    assert readme["readme"] and readme["text"] == "# r" and "node_id" not in readme
    assert not chunk["readme"] and chunk["module"] == "README.md"

    nb = document_nodes(dict(repo="r", file_path="nb/a.ipynb", text=NOTEBOOK), llm, "ns")
    assert [n["chunk_idx"] for n in nb] == [0]
    (row,) = nb
    assert "!pip install" not in row["text"] and "```python" in row["text"]
    assert (row["language"], row["module"], row["start_line"]) == ("notebook", "nb", 0)
    ident = f"chunk|ns|r|nb|nb/a.ipynb|0|{row['end_line']}"
    assert row["node_id"] == hashlib.sha1(ident.encode()).hexdigest()
    assert row["section_summary"].startswith("Summary: ")
    assert row["document_title"] and row["excerpt_keywords"]
