"""The core's import boundary: loading the ingest half (source, ingest
plan, embedder, vector sink) or the serving half (retrieval, the agent,
the job plane) pulls in no analytics or curation (periphery) module."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent

INGEST = (
    "githubrepostorag_spark.plans.ingest",
    "githubrepostorag_spark.sources.repodir",
    "githubrepostorag_spark.functions.embed",
    "githubrepostorag_spark.operators.vector_write",
)

SERVING = (
    "githubrepostorag_spark.operators.retrieval",
    "githubrepostorag_spark.plans.agent",
    "githubrepostorag_spark.streaming.jobs",
)

PERIPHERY = re.compile(
    r"githubrepostorag_spark\.(operators\.(relational|textops\w*|eventops\w*|similarity\w*"
    r"|curation|dedup\w*|multimodal|graph)|plans\.curation|streaming\.ingest)$"
)


def _loaded(modules: tuple[str, ...]) -> list[str]:
    """Package modules a fresh interpreter holds after importing `modules`."""
    code = (
        "import json, sys\n"
        + "".join(f"import {m}\n" for m in modules)
        + "print(json.dumps(sorted(m for m in sys.modules"
        " if m.startswith('githubrepostorag_spark'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_serving_core_loads_no_periphery_module():
    loaded = _loaded(SERVING)
    assert set(SERVING) <= set(loaded)
    assert [m for m in loaded if PERIPHERY.match(m)] == []


def test_ingest_core_loads_no_periphery_module():
    loaded = _loaded(INGEST)
    assert set(INGEST) <= set(loaded)
    assert [m for m in loaded if PERIPHERY.match(m)] == []
