"""The serving core's import boundary: loading retrieval, the agent and
the job plane pulls in no analytics or curation (periphery) module."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent

SERVING = (
    "githubrepostorag_spark.operators.retrieval",
    "githubrepostorag_spark.plans.agent",
    "githubrepostorag_spark.streaming.jobs",
)

PERIPHERY = re.compile(
    r"githubrepostorag_spark\.(operators\.(relational|textops\w*|eventops\w*|similarity\w*"
    r"|curation|dedup\w*|multimodal|graph)|plans\.curation|streaming\.ingest)$"
)


def test_serving_core_loads_no_periphery_module():
    code = (
        "import json, sys\n"
        + "".join(f"import {m}\n" for m in SERVING)
        + "print(json.dumps(sorted(m for m in sys.modules"
        " if m.startswith('githubrepostorag_spark'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, capture_output=True, text=True, check=True
    )
    loaded = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(SERVING) <= set(loaded)
    assert [m for m in loaded if PERIPHERY.match(m)] == []
