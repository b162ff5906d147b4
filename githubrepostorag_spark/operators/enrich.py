"""Per-chunk LLM enrichment (SURVEY L1-L3).

The reference runs three llama-index extractors over every code chunk
(code_pipeline_service.py:26-51): SummaryExtractor → `section_summary`,
TitleExtractor → `document_title`, KeywordExtractor(keywords=10) →
`excerpt_keywords`. Here that is `enrich`, a plain function of one
chunk's text: three prompts to a pluggable LLM client
(DeterministicLLM in tests/oracles, HTTP backend in production), each
response passed through the L12 sanitizer. The ingest's per-document
pass (`plans.ingest`) calls it for every chunk it cuts.

At 100 TB the LLM endpoint is the bottleneck, not Spark — parallelism
is executor-count × endpoint replicas.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame

from githubrepostorag_spark.functions.rows import extended, map_rows
from githubrepostorag_spark.llm.stub import sanitize_llm_output

SECTION_SUMMARY_PROMPT = (
    "Write a 2-3 sentence section summary of this code chunk for a "
    "search index.\nContent:{text}"
)
DOCUMENT_TITLE_PROMPT = (
    "Give a short document title for this content.\nContent:{text}"
)
EXCERPT_KEYWORDS_PROMPT = (
    "List 10 excerpt keywords for this content, comma separated."
    "\nContent:{text}"
)

ENRICH_FIELDS = {
    "section_summary": SECTION_SUMMARY_PROMPT,
    "document_title": DOCUMENT_TITLE_PROMPT,
    "excerpt_keywords": EXCERPT_KEYWORDS_PROMPT,
}


def enrich(llm, text: str) -> dict:
    """section_summary / document_title / excerpt_keywords of one chunk."""
    return {
        field: sanitize_llm_output(llm.complete(prompt.format(text=text)))
        for field, prompt in ENRICH_FIELDS.items()
    }


def enrich_chunks(
    chunks: DataFrame, llm_factory: Callable, text_col: str = "text"
) -> DataFrame:
    """`chunks` with the three enrichment columns, in one `mapInArrow`."""

    def enriched(rows):
        llm = llm_factory()
        return [dict(r, **enrich(llm, r[text_col])) for r in rows]

    fields = [pa.field(f, pa.string()) for f in ENRICH_FIELDS]
    return map_rows(chunks, enriched, extended(chunks, *fields))
