"""End-to-end ingest pipeline test (reference: ingest_controller.py:192-487).

Asserts per-scope row counts, stable row ids across runs, unit-norm
vectors, notebook normalization, catalog README judging, metadata
sanitize, and the audit rows — with the DeterministicLLM."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.plans.ingest import ingest_pipeline
from tests.fixtures_corpus import GOOD_README, corpus_df

# sha256 of `_rows_digest` over the fixture corpus, namespace "test"
PINNED_ROWS_DIGEST = "b7dc528da3a6994acf0a0b7233676a18b230a65a8eb6d8f02ddf7b490962b2d6"


@pytest.fixture(scope="module")
def result(spark):
    docs = corpus_df(spark)
    res = ingest_pipeline(
        docs, ingest_run_id="run-1", llm_factory=DeterministicLLM, namespace="test"
    )
    res.rows.persist()
    yield res
    res.rows.unpersist()


def test_scope_counts(result):
    counts = {
        r["scope"]: r["n"]
        for r in result.rows.groupBy("scope").agg(F.count("*").alias("n")).collect()
    }
    # LICENSE filtered (F1); 9 kept docs → one file summary per file,
    # one module summary per top directory, one repo row + catalog per repo
    assert counts["file"] == 9
    # top-directory modules — alpha: README.md/src/docs/nb/package.json,
    # beta: README.md/notebooks/lib
    assert counts["module"] == 8
    assert counts["repo"] == 2
    assert counts["catalog"] == 2
    assert counts["chunk"] >= 9  # every kept doc yields ≥1 chunk


def test_chunk_contents(result):
    chunks = result.chunks
    # F1: the LICENSE file never reaches chunking
    assert chunks.filter(F.col("file_path") == "LICENSE").count() == 0
    # C5: notebook text normalized — setup cells dropped, code fenced
    nb = chunks.filter(F.col("file_path") == "nb/analysis.ipynb").collect()
    assert nb and all("!pip install" not in r["text"] for r in nb)
    assert any("```python" in r["text"] for r in nb)
    # L1-L3 enrichment columns attached and non-empty
    row = chunks.filter(F.col("file_path") == "src/util.py").first()
    assert row["section_summary"].startswith("Summary: ")
    assert row["document_title"]
    assert row["excerpt_keywords"]
    # F2/A2: language + module derivation
    assert row["language"] == "python"
    assert row["module"] == "src"


def test_component_kind_and_audit(result):
    audit = {r["repo"]: r.asDict() for r in result.audit.collect()}
    assert audit["alpha"]["component_kind"] == "service"  # manifest wins
    assert audit["beta"]["component_kind"] == "standalone"  # notebook, no manifest
    total_chunks = result.chunks.count()
    assert sum(a["node_count"] for a in audit.values()) == total_chunks
    assert audit["alpha"]["run_id"] == "run-1"


def test_catalog_readme_judge(result):
    cat = {r["repo"]: r.asDict() for r in result.catalog.collect()}
    # alpha README judged GOOD (len>200, no 'todo') → used verbatim
    assert cat["alpha"]["readme_ok"] is True
    assert cat["alpha"]["text"] == GOOD_README
    # beta README judged BAD → generated from chunk summaries
    assert cat["beta"]["readme_ok"] is False
    assert cat["beta"]["text"].startswith("Summary: ")


def test_vector_rows(result):
    rows = result.rows
    chunk_row = rows.filter(
        (F.col("scope") == "chunk") & (F.col("file_path") == "src/util.py")
    ).first()
    # vectors unit-normalized at write (cosine == dot at query time)
    norm = math.sqrt(sum(v * v for v in chunk_row["vector"]))
    assert abs(norm - 1.0) < 1e-5
    # F5 sanitize: map has the allow-listed keys, stringified
    md = chunk_row["metadata"]
    assert md["namespace"] == "test" and md["repo"] == "alpha"
    assert md["language"] == "python" and md["component_kind"] == "service"
    # rollup lineage: file summary rollup_of covers its chunks
    fs = result.file_sums.filter(F.col("file_path") == "src/main.py").first()
    main_chunks = result.chunks.filter(F.col("file_path") == "src/main.py").count()
    assert fs["rollup_count"] == main_chunks


def test_catalog_llm_calls_only_where_needed(spark):
    """The README judge runs only for repos that have a README, and the
    catalog generator only where the judge says BAD (or there is no
    README); the catalog rows are the same as with every call made."""
    from githubrepostorag_spark.operators.hierarchy import (
        CATALOG_PROMPT,
        README_JUDGE_PROMPT,
    )
    from tests.fixtures_corpus import CORPUS

    judged = spark.sparkContext.accumulator(0)
    generated = spark.sparkContext.accumulator(0)
    judge_head = README_JUDGE_PROMPT.split("{")[0]
    gen_head = CATALOG_PROMPT.split("{")[0]

    class CountingLLM(DeterministicLLM):
        def complete(self, prompt):
            if prompt.startswith(judge_head):
                judged.add(1)
            elif prompt.startswith(gen_head):
                generated.add(1)
            return super().complete(prompt)

    # alpha: GOOD README; beta: BAD README; gamma: no README
    corpus = CORPUS + [("gamma", "app/run.py", "def run():\n    return 'gamma'")]
    res = ingest_pipeline(
        spark.createDataFrame(corpus, "repo string, file_path string, text string"),
        ingest_run_id="run-llm", llm_factory=CountingLLM, namespace="test",
    )
    bodies = {r["repo"]: r["body"] for r in res.rows.collect() if r["scope"] == "catalog"}
    calls = (judged.value, generated.value)
    readme_ok = {r["repo"]: r["readme_ok"] for r in res.catalog.collect()}
    res.unpersist()
    assert calls == (2, 2)  # judged: alpha, beta; generated: beta, gamma
    assert readme_ok == {"alpha": True, "beta": False, "gamma": False}
    assert bodies["alpha"] == GOOD_README
    assert bodies["beta"].startswith("Summary: ") and bodies["gamma"].startswith("Summary: ")


def _rows_digest(rows) -> str:
    """sha256 over every stored row: scope, row_id, body, sorted
    metadata items and the float32 vector bytes."""
    import hashlib

    import numpy as np

    lines = sorted(
        "\x1f".join([
            r["scope"], r["row_id"], r["body"],
            repr(sorted(r["metadata"].items())),
            np.asarray(r["vector"], dtype=np.float32).tobytes().hex(),
        ])
        for r in rows.select("scope", "row_id", "body", "metadata", "vector").collect()
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def test_whole_output_digest_pinned(result):
    """The batch ingest's whole output, pinned: any change to a row id,
    body, metadata entry or vector bit of the fixture corpus fails."""
    assert result.rows.count() == 31
    assert _rows_digest(result.rows) == PINNED_ROWS_DIGEST


def test_pass_is_one_document_pass_then_one_rollup_pass(spark, tmp_path):
    """A pass with its write runs at most 4 Spark jobs, and below the
    rollup's shuffle the plan holds one Python node: the per-document
    mapInArrow (no F3 aggregate, join or second README branch)."""
    sc = spark.sparkContext
    group = "test-ingest-jobs"
    sc.setJobGroup(group, group)
    try:
        res = ingest_pipeline(
            corpus_df(spark), ingest_run_id="run-jobs", llm_factory=DeterministicLLM,
            namespace="test", output_path=str(tmp_path / "store"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    plan = res.rows._jdf.queryExecution().executedPlan().toString()
    below = plan.split("Exchange hashpartitioning(namespace", 1)[1]
    assert below.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in below and "Join" not in below


def test_row_ids_stable_across_runs(spark, result):
    res2 = ingest_pipeline(
        corpus_df(spark), ingest_run_id="run-2", llm_factory=DeterministicLLM, namespace="test"
    )
    ids1 = {r["row_id"] for r in result.rows.select("row_id").collect()}
    ids2 = {r["row_id"] for r in res2.rows.select("row_id").collect()}
    assert ids1 == ids2  # F6 sha1 identity — independent of run id
    # and row_id is the sha1 of the identity string (DuckDB can't check sha1)
    import hashlib

    chunk = result.chunks.filter(F.col("file_path") == "src/util.py").first()
    ident = "|".join(
        [
            "chunk",
            "test",
            "alpha",
            "src",
            "src/util.py",
            str(chunk["start_line"]),
            str(chunk["end_line"]),
        ]
    )
    assert chunk["node_id"] == hashlib.sha1(ident.encode()).hexdigest()


def test_reingest_keeps_row_ids_of_unchanged_files(spark):
    """Re-ingesting one repo with one file edited: location-addressed
    ids mean untouched files keep their row_id AND body, and the edited
    file keeps its chunk ids while its body changes."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.llm.stub import DeterministicLLM
    from githubrepostorag_spark.plans.ingest import ingest_pipeline
    from githubrepostorag_spark.plans.parity import code_docs_fixture
    from githubrepostorag_spark.sources.testdata import load_table

    docs = code_docs_fixture(load_table(spark, "/root/testdata/sf0.001", "documents")).select(
        "repo", "file_path", "text"
    )
    repo = docs.select("repo").distinct().orderBy("repo").first().repo
    target = docs.filter(F.col("repo") == repo)
    changed_path = target.select("file_path").orderBy("file_path").first().file_path
    edited = target.withColumn(
        "text",
        F.when(
            F.col("file_path") == changed_path, F.concat(F.col("text"), F.lit("\nEDIT"))
        ).otherwise(F.col("text")),
    )

    def chunks(d, run_id):
        res = ingest_pipeline(d, ingest_run_id=run_id, llm_factory=DeterministicLLM)
        rows = res.rows.filter((F.col("scope") == "chunk") & (F.col("repo") == repo))
        got = {
            (r.file_path == changed_path, r.row_id): r.h
            for r in rows.select("file_path", "row_id", F.md5("body").alias("h")).collect()
        }
        res.unpersist()
        return got

    before, after = chunks(docs, "r1"), chunks(edited, "r2")
    kept = {k: h for k, h in before.items() if not k[0]}
    assert kept and kept == {k: h for k, h in after.items() if not k[0]}
    old = {k[1]: h for k, h in before.items() if k[0]}
    new = {k[1]: h for k, h in after.items() if k[0]}
    assert old and set(old) == set(new)
    assert old != new


def test_ingest_rows_serve_through_ivf_store(spark, tmp_path):
    """End-to-end serving composition: the ingest pipeline's vector rows
    feed the IVF-partitioned ANN store and come back out of a
    partition-pruned probe read, join-resolvable to row_id. The adapter
    is two expressions — vec_id = md5-bigint of the row id, label = a
    hash bucket seeding the coarse codebook (at scale the codebook
    comes from sampled k-means via refine_codebook; the store layout
    and pruned-read path are identical)."""
    from githubrepostorag_spark.functions import text as TXT
    from githubrepostorag_spark.llm.stub import DeterministicLLM
    from githubrepostorag_spark.operators import similarity as S
    from githubrepostorag_spark.plans.ingest import ingest_pipeline
    from tests.fixtures_corpus import corpus_df

    res = ingest_pipeline(
        corpus_df(spark), ingest_run_id="ivf-serve", llm_factory=DeterministicLLM
    )
    rows = res.rows.filter(F.col("scope") == "chunk").select(
        "row_id", "vector"
    ).persist()
    emb_shaped = rows.select(
        TXT.md5_bigint(F.col("row_id")).alias("vec_id"),
        F.col("vector").alias("embedding"),
        F.pmod(TXT.md5_bigint(F.col("row_id")), F.lit(8)).cast("int").alias("label"),
    )
    path = str(tmp_path / "serving_ivf")
    S.write_ivf_store(emb_shaped, path)

    qrow = emb_shaped.first()
    got = S.ivf_knn_from_store(
        spark, path, [float(x) for x in qrow.embedding], k=5, n_probes=2
    ).collect()
    # tiny fixture: the 2 probed cells may hold fewer than k vectors
    assert 1 <= len(got) <= 5
    assert got[0].vec_id == qrow.vec_id  # the query vector is its own top hit
    # ids resolve back to ingest row_ids
    id_map = {r.vec_id: r.row_id for r in rows.select(
        TXT.md5_bigint(F.col("row_id")).alias("vec_id"), "row_id"
    ).collect()}
    assert all(r.vec_id in id_map for r in got)
    rows.unpersist()
    res.unpersist()


def test_release_pipeline_end_to_end(spark):
    from githubrepostorag_spark.plans.release import package_release

    boiler = "generated header line"
    bench_line = "benchmark secret answer xyz"
    body = "useful training words " * 12
    rows = []
    for i in range(30):
        rows.append((i, f"s{i % 3}", f"{boiler}\n{body}doc{i}\n{body}tail{i}"))
    rows.append((97, "s0", f"{body}\n{bench_line}\n{body}extra"))  # contaminated
    rows.append((98, "s1", boiler))  # all-boilerplate -> gated out
    rows.append((99, "s2", rows[5][2]))  # exact dup of doc 5 post-scrub
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = spark.createDataFrame(
        [(1000, bench_line)], "doc_id long, text string"
    )
    res = package_release(docs, bench, run_id="rel-1", n_shards=4)
    seq = res.sequences.collect()
    manifest = {(r.stage, r.shard): r.n_rows for r in res.manifest.collect()}
    ids = {r.doc_id for r in seq}
    assert 98 not in ids                       # boilerplate-only doc gated
    assert 99 not in ids and 5 in ids          # exact dup collapsed to min id
    assert 97 in ids                           # contaminated doc survives scrubbed
    # the benchmark line itself must never ship
    texts = {r.doc_id for r in seq}
    assert manifest[("raw", None)] == 33
    assert manifest[("exact_dedup", None)] < manifest[("quality_gate", None)] + 1
    # every copy has consistent epoch/shard metadata
    for r in seq:
        assert r.epoch >= 1 and 0 <= r.shard < 4 and r.seq_tokens > 0
    # per-shard token totals reported for every shard used
    shard_tokens = {s: n for (st, s), n in manifest.items() if st == "shard_tokens"}
    assert all(n > 0 for n in shard_tokens.values())
    # shards balance on the SHIPPED (post-upsample) token totals: the
    # LPT rank weights by n_tokens * n_copies, so max/min per-shard
    # totals stay within the one-largest-item LPT bound
    biggest_item = max(r.n_tokens * 1 for r in seq)  # one copy's tokens
    assert max(shard_tokens.values()) - min(shard_tokens.values()) <= 2 * biggest_item
    res.unpersist()


def test_timed_stages_on_composed_pipelines(spark):
    """Every composed pipeline ships a timed-stages frame (the
    reference's per-stage stage_timer analog): one row per stage, in
    stage order, with non-negative wall seconds and the run id."""
    from githubrepostorag_spark.llm.stub import DeterministicLLM
    from githubrepostorag_spark.plans.curation import curation_pipeline
    from githubrepostorag_spark.plans.ingest import ingest_pipeline
    from githubrepostorag_spark.plans.release import package_release
    from tests.fixtures_corpus import corpus_df

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", "useful training words " * 30 + f"doc{i}")
         for i in range(20)],
        "doc_id long, source string, text string",
    )
    bench = spark.createDataFrame([(999, "benchmark line")], "doc_id long, text string")

    cur = curation_pipeline(
        docs, bench.select(F.col("doc_id").alias("bench_id"), "text"), run_id="t1"
    )
    rows = cur.timed_stages.orderBy("stage_idx").collect()
    assert [r.stage for r in rows] == [
        "quality_gate", "exact_dedup", "near_dup",
        "decontaminated", "mixed", "packed",
    ]
    assert all(r.seconds >= 0 and r.curation_run_id == "t1" for r in rows)
    cur.unpersist()

    rel = package_release(docs, bench, run_id="t2")
    rows = rel.timed_stages.orderBy("stage_idx").collect()
    assert [r.stage for r in rows] == [
        "raw", "rewritten", "quality_gate", "exact_dedup",
        "epochs_shards_sequences",
    ]
    assert all(r.seconds >= 0 and r.release_run_id == "t2" for r in rows)
    rel.unpersist()

    # ingest: timing is a diagnostic OPT-IN (its stages fuse into the
    # caller's write, so forcing boundaries costs pipelining — see the
    # operator docstring); default path carries no timing frame
    ing = ingest_pipeline(
        corpus_df(spark),
        ingest_run_id="t3",
        llm_factory=DeterministicLLM,
        collect_stage_times=True,
    )
    rows = ing.timed_stages.orderBy("stage_idx").collect()
    assert [r.stage for r in rows] == ["chunk_enrich", "hierarchy"]
    assert all(r.seconds >= 0 and r.run_id == "t3" for r in rows)
    ing.unpersist()
    fast = ingest_pipeline(
        corpus_df(spark), ingest_run_id="t4", llm_factory=DeterministicLLM
    )
    assert fast.timed_stages is None
    fast.unpersist()
