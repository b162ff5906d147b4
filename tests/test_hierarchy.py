"""The per-level rollup rules of `operators.hierarchy`, in plain Python:
member order, limits, truncation, ids and the catalog's LLM calls.
The ingest kernel and the parity plans (q37/q38/q46) run these same
functions; the end-to-end output is pinned in test_ingest_pipeline."""

from __future__ import annotations

import hashlib

from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.operators import hierarchy as H
from tests.fixtures_corpus import BAD_README, GOOD_README


def _sha1(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def test_file_rollup_order_truncation_and_lineage():
    base = dict(namespace=None, repo="r", module="m", file_path="m/a.py", language="python")
    chunks = [
        dict(base, chunk_idx=i, node_id=f"n{i}", text=c * 10_000)
        for i, c in ((2, "c"), (0, "a"), (1, "b"))
    ]
    (row,) = H.file_summaries(chunks)
    assert row["rollup_input"] == ("a" * 10_000 + "\n\n" + "b" * 10_000 + "\n\n" + "c" * 4_996)
    assert row["rollup_of"] == ["n0", "n1", "n2"] and row["rollup_count"] == 3
    # NULL namespace joins as '' in the id; no line span
    assert row["node_id"] == _sha1("file||r|m|m/a.py||")
    assert row["text"] is None  # no LLM: rollup inputs only


def test_module_keeps_first_40_files_in_order():
    files = [
        dict(namespace="ns", repo="r", module="m", file_path=f"m/f{i:02d}", text=f"t{i}",
             node_id=f"id{i}")
        for i in reversed(range(45))
    ]
    (row,) = H.module_summaries(files, DeterministicLLM())
    assert row["constituent_files"] == [f"m/f{i:02d}" for i in range(40)]
    assert row["rollup_of"] == [f"id{i}" for i in range(40)]
    assert row["rollup_input"] == "\n\n".join(f"t{i}" for i in range(40))
    assert row["node_id"] == _sha1("module|ns|r|m|||")
    assert row["text"]


def test_repo_readmes_then_modules():
    mods = [dict(namespace="ns", repo="r", module=f"m{i:02d}", text=f"s{i}", node_id=f"id{i}")
            for i in range(12)]
    readmes = [dict(namespace="ns", repo="r", file_path=f"{d}/README.md", text=d)
               for d in ("e", "d", "c", "b", "a")]
    (row,) = H.repo_overviews(mods, readmes)
    mod_text = "\n\n".join(f"s{i}" for i in range(10))
    assert row["rollup_input"] == "a\n\nb\n\nc\n\n" + mod_text
    assert row["rollup_of"] == [f"id{i}" for i in range(10)]
    (bare,) = H.repo_overviews(mods, [])
    assert bare["rollup_input"] == "\n\n" + mod_text
    assert bare["node_id"] == _sha1("repo|ns|r||||")


def test_catalog_judges_only_readmes_and_generates_only_when_not_kept():
    def chunks(repo):
        return [
            dict(namespace="ns", repo=repo, node_id=f"{repo}{i:02d}",
                 section_summary=f"Summary {i}")
            for i in range(12)
        ]

    readmes = [
        dict(namespace="ns", repo="good", file_path="README.md", text=GOOD_README),
        dict(namespace="ns", repo="good", file_path="z/README.md", text=BAD_README),
        dict(namespace="ns", repo="bad", file_path="README.md", text=BAD_README),
    ]
    llm = DeterministicLLM()
    all_chunks = chunks("good") + chunks("bad") + chunks("none")
    rows = {r["repo"]: r for r in H.catalog_docs(readmes, all_chunks, llm)}
    assert rows["good"]["readme_ok"] and rows["good"]["text"] == GOOD_README
    assert not rows["bad"]["readme_ok"] and not rows["none"]["readme_ok"]
    judged = [p for p in llm.calls if p.startswith(H.README_JUDGE_PROMPT.split("{")[0])]
    generated = [p for p in llm.calls if p.startswith(H.CATALOG_PROMPT.split("{")[0])]
    assert len(judged) == 2 and len(generated) == 2
    # the generator sees the first 10 section summaries in node_id order
    assert generated[0].endswith("\n\n".join(f"Summary {i}" for i in range(10)))
    assert rows["none"]["node_id"] == _sha1("catalog|ns|none||||")
