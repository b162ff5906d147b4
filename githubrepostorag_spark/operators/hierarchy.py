"""Hierarchy construction (SURVEY A1-A7): chunk → file → module → repo
→ catalog rollups with LLM summarization at each level.

Reference behavior (hierarchy_summary_service.py, catalog_builder.py):
- file summary: concat chunk texts ("\\n\\n".join, truncated to 25000
  chars) → LLM → one summary doc with rollup_of ids (A4)
- module summary: ≤40 file summaries per module, concat[:25000] → LLM
  (A5); repo overview: ≤3 READMEs + ≤10 module summaries (A6)
- catalog: README judged GOOD/BAD by LLM (len>200 & no 'todo'
  heuristic fallback) → use README else generate from ≤10 chunk
  summaries (A7)

Engine shape: every rollup key includes (namespace, repo), so a repo's
four upper levels need nothing outside the repo. `rollup_hierarchy`
sends each repo's enriched chunk rows and READMEs to ONE Python call
(`groupBy("namespace", "repo").applyInArrow(rollup_repo)`: one shuffle
for all four levels, no window, join or per-level UDF), which runs the
per-level rules below in memory and returns the repo's chunk rows with
its file, module, repo and catalog rows — every scope of the repo, for
one storage projection and one embedding pass, each stamped with the
repo's F3 component kind, inferred from its chunks' file paths
(`filters.kind_flags`). The rules are plain Python over row dicts
(`file_summaries`, `module_summaries`, `repo_overviews`,
`catalog_docs`), so the parity plans (q37/q38/q46) run the same code
against the DuckDB oracle. Member order is Spark's
ascending order (NULLs first); ids follow `metadata.stable_node_id`.
The price of one pass: all of a repo's rows sit in one Python worker.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from githubrepostorag_spark.llm.stub import sanitize_llm_output
from githubrepostorag_spark.operators import filters as FL

ROLLUP_TRUNCATE = 25_000  # hierarchy_summary_service.py:31,81,157
MAX_FILES_PER_MODULE = 40  # :107
MODULE_LIMIT = 10  # :157
README_LIMIT = 3  # :158
CATALOG_SUMMARY_LIMIT = 10  # catalog_builder.py:162

FILE_SUMMARY_PROMPT = (
    "Summarize this source file for a code-search index (~200 words). "
    "Focus on purpose, key symbols and behavior.\nContent:{text}"
)
MODULE_SUMMARY_PROMPT = (
    "Summarize this module from its file summaries (~250 words). "
    "Describe responsibilities and how the files relate.\nContent:{text}"
)
REPO_SUMMARY_PROMPT = (
    "Write a repository overview from its READMEs and module summaries "
    "(~300 words).\nContent:{text}"
)
CATALOG_PROMPT = (
    "Write a catalog entry describing this repository from code summaries "
    "(markdown).\nContent:{text}"
)
README_JUDGE_PROMPT = (
    "Judge whether this README is informative. Answer exactly GOOD or BAD."
    "\nREADME:\n{text}"
)

REPO_KEYS = ("namespace", "repo")
MODULE_KEYS = (*REPO_KEYS, "module")
FILE_KEYS = (*MODULE_KEYS, "file_path", "language")

# one row per node of any scope; the columns a scope lacks are NULL
NODE_SCHEMA = pa.schema(
    [(c, pa.string()) for c in (*FILE_KEYS, "scope", "component_kind", "node_id", "text")]
    + [("rollup_of", pa.list_(pa.string())), ("rollup_count", pa.int32()),
       ("readme_ok", pa.bool_())]
)


def node_id(scope: str, namespace, repo, module=None, file_path=None, start=None, end=None):
    """F6 `metadata.stable_node_id`: sha1 over the '|'-joined identity
    fields, NULL joined as ''."""
    parts = (scope, namespace, repo, module, file_path, start, end)
    ident = "|".join("" if p is None else str(p) for p in parts)
    return hashlib.sha1(ident.encode()).hexdigest()


def _order(values) -> tuple:
    return tuple((v is not None, v) for v in values)


def _ranked(rows, keys, order, limit=None):
    """(key dict, members) per group of `rows` on `keys`, members sorted
    on `order` and cut to `limit` — `slice(sort_array(collect_list(
    struct(order))), 1, limit)` per group."""
    groups = defaultdict(list)
    for r in rows:
        groups[tuple(r[k] for k in keys)].append(r)
    for key in sorted(groups, key=_order):
        members = sorted(groups[key], key=lambda r: _order(r[c] for c in order))
        yield dict(zip(keys, key)), members[:limit]


def _repo_of(key: dict) -> tuple:
    return key["namespace"], key["repo"]


def _joined(texts) -> str:
    """array_join(·, "\\n\\n"): NULL members are skipped."""
    return "\n\n".join(t for t in texts if t is not None)


def _complete(llm, template: str, text):
    if llm is None:  # rollup inputs only (the parity plans)
        return None
    return sanitize_llm_output(llm.complete(template.format(text=text)))


def _summary(scope, key, rollup_input, members, template, llm, **extra) -> dict:
    """One summary node: the LLM's summary of `rollup_input` (cut to
    25000 chars), lineage = the members' ids."""
    rollup_input = rollup_input[:ROLLUP_TRUNCATE]
    ids = [m["node_id"] for m in members]
    return dict(
        key, **extra, scope=scope, rollup_input=rollup_input,
        text=_complete(llm, template, rollup_input), rollup_of=ids, rollup_count=len(ids),
        node_id=node_id(scope, key["namespace"], key["repo"], key.get("module"),
                        key.get("file_path")),
    )


def file_summaries(chunks, llm=None) -> list[dict]:
    """A4: one row per file. Its chunks in (chunk_idx, node_id, text)
    order, texts joined; lineage = every chunk id."""
    return [
        _summary("file", key, _joined(m["text"] for m in ms), ms, FILE_SUMMARY_PROMPT, llm)
        for key, ms in _ranked(chunks, FILE_KEYS, ("chunk_idx", "node_id", "text"))
    ]


def module_summaries(files, llm=None) -> list[dict]:
    """A5: one row per module from its first 40 file summaries in
    (file_path, text, node_id) order."""
    return [
        _summary("module", key, _joined(m["text"] for m in ms), ms, MODULE_SUMMARY_PROMPT, llm,
                 constituent_files=[m["file_path"] for m in ms])
        for key, ms in _ranked(
            files, MODULE_KEYS, ("file_path", "text", "node_id"), MAX_FILES_PER_MODULE
        )
    ]


def repo_overviews(modules, readmes, llm=None) -> list[dict]:
    """A6: one row per repo with modules, from its first 3 READMEs by
    (file_path, text) and its first 10 module summaries by (module,
    text, node_id): `concat_ws("\\n\\n", coalesce(readmes, ""), modules)`,
    so a repo without README starts with "\\n\\n"."""
    rms = {
        _repo_of(key): _joined(m["text"] for m in ms)
        for key, ms in _ranked(readmes, REPO_KEYS, ("file_path", "text"), README_LIMIT)
    }
    out = []
    for key, ms in _ranked(modules, REPO_KEYS, ("module", "text", "node_id"), MODULE_LIMIT):
        rollup_input = _joined([rms.get(_repo_of(key), ""), _joined(m["text"] for m in ms)])
        out.append(_summary("repo", key, rollup_input, ms, REPO_SUMMARY_PROMPT, llm))
    return out


def catalog_docs(readmes, chunks, llm=None) -> list[dict]:
    """A7: one row per repo with chunks. Its first README by (file_path,
    text) is kept when the LLM judges it GOOD; otherwise the entry is
    generated from the first 10 chunk section summaries by (node_id,
    section_summary). The judge runs only for a README, the generator
    only when no README is kept."""
    first = {
        _repo_of(key): ms[0]["text"]
        for key, ms in _ranked(readmes, REPO_KEYS, ("file_path", "text"), 1)
    }
    out = []
    order = ("node_id", "section_summary")
    for key, ms in _ranked(chunks, REPO_KEYS, order, CATALOG_SUMMARY_LIMIT):
        readme = first.get(_repo_of(key))
        ok = readme is not None and _complete(llm, README_JUDGE_PROMPT, readme) == "GOOD"
        summaries = _joined(m["section_summary"] for m in ms)[:ROLLUP_TRUNCATE]
        out.append(dict(
            key, scope="catalog", readme_ok=ok,
            text=readme if ok else _complete(llm, CATALOG_PROMPT, summaries),
            node_id=node_id("catalog", *_repo_of(key)),
        ))
    return out


def rollup_repo(llm_factory, table):
    """applyInArrow kernel: one repo's chunk rows and READMEs (flagged
    `readme`) → its chunk rows as they came, then its file, module, repo
    and catalog rows, all of the repo's F3 component kind. Every kept
    document yields at least one chunk, so the chunks' paths are the
    repo's kept files."""
    rows = table.to_pylist()
    chunks = [r for r in rows if not r["readme"]]
    if not chunks:
        return NODE_SCHEMA.empty_table()
    readmes = [r for r in rows if r["readme"]]
    llm = llm_factory()
    files = file_summaries(chunks, llm)
    modules = module_summaries(files, llm)
    nodes = [
        *(dict(c, scope="chunk") for c in chunks),
        *files, *modules, *repo_overviews(modules, readmes, llm),
        *catalog_docs(readmes, chunks, llm),
    ]
    kind = FL.component_kind(FL.kind_flags(c["file_path"] for c in chunks))
    for n in nodes:
        n["component_kind"] = kind
    return pa.Table.from_pylist(nodes, schema=NODE_SCHEMA)


def rollup_hierarchy(nodes: DataFrame, llm_factory) -> DataFrame:
    """A4-A7 for every repo in one grouped Arrow pass: `NODE_SCHEMA`
    rows of all five scopes from the per-document pass's output — chunk
    rows (FILE_KEYS, chunk_idx, node_id, text, section_summary) and
    README rows, told apart by `readme`. Only repos with chunks get
    rows."""
    members = nodes.select(
        *FILE_KEYS, "chunk_idx", "node_id", "text", "section_summary", "readme"
    )
    return members.groupBy(*REPO_KEYS).applyInArrow(
        partial(rollup_repo, llm_factory), from_arrow_schema(NODE_SCHEMA)
    )


def drill_down(
    summaries: DataFrame,
    members: DataFrame,
    keep_cols: list[str] | None = None,
    broadcast_summaries: bool = True,
) -> DataFrame:
    """J2 rollup-lineage drill-down: explode a summary's `rollup_of`
    ids and join the member rows on node_id — how a hit on a
    file/module/repo summary expands to its constituent chunks
    (reference: hierarchy_summary_service.py:44-60, the lineage the
    agent stages down through).

    Plan: explode (narrow) + one hash join keyed on node_id. In the
    serving path `summaries` is a handful of retrieval hits → broadcast
    (default); for bulk lineage materialization over ALL summaries pass
    broadcast_summaries=False and let AQE pick the join."""
    keep_cols = keep_cols or [c for c in summaries.columns if c not in ("rollup_of", "text")]
    exploded = summaries.select(
        *[F.col(c).alias(f"summary_{c}") if c == "node_id" else F.col(c) for c in keep_cols],
        F.explode("rollup_of").alias("member_id"),
    )
    if broadcast_summaries:
        exploded = F.broadcast(exploded)
    return exploded.join(
        members, exploded["member_id"] == members["node_id"], "inner"
    ).drop("member_id")
