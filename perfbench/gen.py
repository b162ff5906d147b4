"""Seeded input generator for the CodeRAG benchmark.

Everything the engine sees is produced here from one integer seed:

- repo trees: synthetic code repos on disk (``.py`` sources, one long
  ``.py`` module and one long ``NOTES.md`` per repo that the chunker
  splits, module ``.md`` notes, a root ``README.md``, some ``.ipynb``
  notebooks and ``package.json`` manifests, plus ``.gitignore`` and
  ``data.json`` files the ingest filter must drop);
- a doc-version arrival schedule (new versions of existing repos and
  brand-new repos, one tick at a time);
- two query schedules: single-round shapes (overview, config, codey,
  repo hint) and zero-hit shapes (an unknown repo hint, or the
  ``activemq`` topic no generated row carries), which run every agent
  round.

Vocabulary against the embedder's token memo: each Python worker
memoizes token vectors up to 65,536 distinct tokens
(`githubrepostorag_spark/functions/embed.py`, ``_TOKEN_VEC_MEMO_CAP``).
The batch corpus draws every identifier from a Zipf distribution over
`SMALL_VOCAB` words, each whitespace token carrying at most one word
plus one affix, so it stays far below the cap (a few thousand distinct
tokens; `token_count` measures it). In the streaming workload each
base repo also carries a ``docs/commits.md`` log of `COMMIT_TOKENS`
unique commit hashes, so the streamed corpus (base plus ticks) outgrows
the cap before the first measured tick lands; the workload reports the
union.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np

MEMO_CAP = 65_536
SMALL_VOCAB = 3_000  # ≤ 3,000 × 9 + keywords ≈ 27k tokens: below the cap
LARGE_VOCAB = 16_000  # streamed versions draw from a wider, disjoint word range
COMMIT_TOKENS = 24_000  # unique hashes per base repo of the streaming store

AFFIXES = ("(", ")", "):", ",", "()", "(self):", ".", "=")
_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "du", "zi", "ho", "ga", "fe", "by", "qu")

ZERO_HIT_TOPIC = "activemq"
DROPPED = (".gitignore", "data.json")  # files the batch ingest filter drops


def word(i: int) -> str:
    """Distinct pronounceable identifier for index i (base-16 syllables)."""
    out = []
    i += 16  # at least two syllables
    while i:
        i, r = divmod(i, 16)
        out.append(_SYL[r])
    return "".join(out)


class Vocab:
    """Zipf(s≈1.1) sampler over `n` synthetic words."""

    def __init__(self, n: int, rng: np.random.Generator, offset: int = 0):
        ranks = np.arange(1, n + 1, dtype=np.float64)
        p = ranks ** -1.1
        self.p = p / p.sum()
        self.n = n
        self.offset = offset
        self.rng = rng

    def draw(self, k: int) -> list[str]:
        idx = self.rng.choice(self.n, size=k, p=self.p)
        return [word(int(i) + self.offset) for i in idx]


def _py_file(v: Vocab, rng: random.Random, n_funcs: int) -> str:
    lines = [f"import {v.draw(1)[0]}", f"from {v.draw(1)[0]} import {v.draw(1)[0]}", ""]
    for _ in range(n_funcs):
        name, a, b, c, d = v.draw(5)
        if rng.random() < 0.3:
            lines += [f"class {name}:", f"    def {a}(self):", f"        return self . {b} ( {c} )", ""]
        else:
            lines += [
                f"def {name}( {a}, {b} ):",
                f"    # {c} {d} {a}",
                f"    {c} = {a} ( {b} )",
                f"    if {c}:",
                f"        return {d}()",
                f"    return {b}",
                "",
            ]
    return "\n".join(lines) + "\n"


def _md_file(v: Vocab, title: str, n_words: int) -> str:
    body = " ".join(v.draw(n_words))
    return f"# {title}\n\n{body}\n"


def _notebook(v: Vocab) -> str:
    cells = [
        {"cell_type": "markdown", "source": [" ".join(v.draw(12))]},
        {"cell_type": "code", "source": [f"{a} = {b} ( {c} )\n" for a, b, c in (v.draw(3) for _ in range(4))],
         "outputs": []},
    ]
    return json.dumps({"cells": cells, "metadata": {"kernelspec": {"language": "python"}}})


def _commit_log(repo: str, version: int, n: int) -> str:
    """`n` unique 16-hex commit hashes, eight to a line."""
    ids = [hashlib.sha1(f"{repo}:{version}:{i}".encode()).hexdigest()[:16] for i in range(n)]
    return "# commits\n\n" + "\n".join(" ".join(ids[i:i + 8]) for i in range(0, n, 8)) + "\n"


def repo_files(v: Vocab, rng: random.Random, repo: str, n_modules: int, files_per_module: int,
               version: int = 0, commit_tokens: int = 0) -> dict[str, str]:
    """One repo tree as {relative path: text}. The first module holds a
    long ``engine.py`` (260-560 lines: two or three 200-line chunk
    windows) and a long ``NOTES.md`` (over the 4,000-char text window)."""
    files: dict[str, str] = {}
    readme_words = 60 + rng.randrange(60)
    files["README.md"] = _md_file(v, f"{repo} v{version}", readme_words)
    files[".gitignore"] = "__pycache__/\n*.pyc\n"
    if rng.random() < 0.5:
        files["package.json"] = json.dumps({"name": repo, "version": f"1.{version}.0"})
    if rng.random() < 0.4:
        files["data.json"] = json.dumps({"rows": v.draw(8)})
    for m in range(n_modules):
        mod = word(m)  # module names repeat across repos, like `src`, `core`
        for f in range(files_per_module):
            files[f"{mod}/{v.draw(1)[0]}_{f}.py"] = _py_file(v, rng, 2 + rng.randrange(4))
        long_notes = m == 0
        files[f"{mod}/NOTES.md"] = _md_file(
            v, f"{mod} notes", 700 + rng.randrange(300) if long_notes else 40 + rng.randrange(40))
    files[f"{word(0)}/engine.py"] = _py_file(v, rng, 45 + rng.randrange(35))
    if rng.random() < 0.3:
        files["notebooks/explore.ipynb"] = _notebook(v)
    if commit_tokens:
        files["docs/commits.md"] = _commit_log(repo, version, commit_tokens)
    return files


def write_tree(base: str, repo: str, files: dict[str, str]) -> None:
    for rel, text in files.items():
        p = os.path.join(base, repo, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(text)


def repo_name(seed: int, i: int) -> str:
    return f"r{seed % 1000:03d}-{word(i)}"


def make_corpus(seed: int, n_repos: int, n_modules: int, files_per_module: int,
                commit_tokens: int = 0) -> dict[str, dict[str, str]]:
    """{repo: {path: text}} for a fresh corpus over `SMALL_VOCAB` words;
    with `commit_tokens`, each repo also carries a commit log."""
    nrng = np.random.default_rng(seed)
    rng = random.Random(seed)
    v = Vocab(SMALL_VOCAB, nrng)
    return {
        repo_name(seed, i): repo_files(v, rng, repo_name(seed, i), n_modules, files_per_module,
                                       commit_tokens=commit_tokens)
        for i in range(n_repos)
    }


def token_count(*corpora: dict[str, dict[str, str]]) -> int:
    """Distinct lowercased whitespace tokens over the union of corpora —
    the embedder's memo key."""
    seen: set[str] = set()
    for corpus in corpora:
        for files in corpus.values():
            for text in files.values():
                seen.update(text.lower().split())
    return len(seen)


def doc_count(corpus: dict[str, dict[str, str]]) -> int:
    return sum(len(f) for f in corpus.values())


def modules_of(corpus: dict[str, dict[str, str]]) -> list[str]:
    return sorted({p.split("/")[0] for files in corpus.values() for p in files if "/" in p})


# ---------------------------------------------------------------- queries

def single_round_queries(seed: int, repos: list[str], modules: list[str], n: int,
                         prefix: str = "q", shapes: tuple[int, ...] = (0, 1, 2, 3)) -> list[dict]:
    """Overview / config / codey / repo-hint queries, round-robin over
    `shapes`. Over a five-scope store each finds hits on the first
    retrieval, so it ends after one round."""
    rng = random.Random(seed * 7 + 1)
    v = Vocab(200, np.random.default_rng(seed * 7 + 2))
    out = []
    for i in range(n):
        shape = shapes[i % len(shapes)]
        repo = rng.choice(repos)
        w = v.draw(2)
        if shape == 0:
            q = f"tell me about the projects that use {w[0]}"
        elif shape == 1:
            q = f"how is the {w[0]} configuration set up"
        elif shape == 2:
            q = f"exception raised in function {w[0]} when calling {w[1]}"
        else:
            q = f"repo: {repo} what does the {rng.choice(modules)} module do"
        out.append({"job_id": f"{prefix}{seed}-{i:04d}", "query": q, "namespace": "default"})
    return out


def code_queries(seed: int, repos: list[str], n: int, prefix: str = "m") -> list[dict]:
    """Codey queries (scope ``code``), half with a repo hint: they hit
    the chunk-scope rows a streaming store holds on the first round."""
    rng = random.Random(seed * 17 + 7)
    v = Vocab(200, np.random.default_rng(seed * 17 + 8))
    out = []
    for i in range(n):
        a, b = v.draw(2)
        if i % 2 == 0:
            q = f"exception raised in function {a} when calling {b}"
        else:
            q = f"repo: {rng.choice(repos)} traceback in function {a}"
        out.append({"job_id": f"{prefix}{seed}-{i:04d}", "query": q, "namespace": "default"})
    return out


def zero_hit_queries(seed: int, n: int, prefix: str = "z") -> list[dict]:
    """Unknown-repo hints and the absent `activemq` topic: no row
    matches the filters, so every query runs all agent rounds with
    expansion fan-out."""
    rng = random.Random(seed * 11 + 3)
    out = []
    for i in range(n):
        if i % 2 == 0:
            q = f"repo: missing-{rng.randrange(10**6):06d} how is the cache configured"
        else:
            q = f"why does the {ZERO_HIT_TOPIC} broker reconnect timeout fire in function {word(rng.randrange(500))}"
        out.append({"job_id": f"{prefix}{seed}-{i:04d}", "query": q, "namespace": "default"})
    return out


def version_schedule(seed: int, existing: list[str], n_ticks: int, per_tick: int,
                     n_modules: int, files_per_module: int) -> list[dict[str, dict[str, str]]]:
    """Per tick, `per_tick` repo versions: new versions of existing
    repos, and one brand-new repo every other tick. Versions draw from
    `LARGE_VOCAB` words disjoint from the base corpus's range."""
    rng = random.Random(seed * 13 + 5)
    v = Vocab(LARGE_VOCAB, np.random.default_rng(seed * 13 + 6), offset=SMALL_VOCAB)
    ticks: list[dict[str, dict[str, str]]] = []
    fresh = 0
    for t in range(n_ticks):
        names: list[str] = []
        if t % 2 == 1:
            names.append(f"n{seed % 1000:03d}-{word(1000 + fresh)}")
            fresh += 1
        pool = list(existing)
        rng.shuffle(pool)
        names += pool[: per_tick - len(names)]
        ticks.append({
            name: repo_files(v, rng, name, n_modules, files_per_module, version=t + 1)
            for name in names
        })
    return ticks
