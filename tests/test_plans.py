"""Physical-plan audits: the properties that make these operators hold
up at 100 TB (pruning, pushdown, broadcast, codegen) asserted against
`.explain` output so regressions fail loudly rather than silently
degrading to full scans or nested loops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.operators.retrieval import retrieve_batch
from githubrepostorag_spark.operators.vector_write import (
    read_vector_tables,
    write_vector_tables,
)
from githubrepostorag_spark.plans.ingest import ingest_pipeline
from githubrepostorag_spark.plans.parity import fixture_queries
from githubrepostorag_spark.sources.testdata import load_table
from tests.fixtures_corpus import corpus_df

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_store_scan_partition_pruning(spark, tmp_path):
    """The parquet store is partitioned by (scope, namespace); a
    retrieval against one scope must prune partitions at the scan —
    the engine form of the reference's per-scope physical tables."""
    res = ingest_pipeline(
        corpus_df(spark), ingest_run_id="run-plan", llm_factory=DeterministicLLM,
        namespace="default",
    )
    path = str(tmp_path / "store")
    write_vector_tables(res.rows, path)
    store = read_vector_tables(spark, path)

    emb = load_table(spark, SF, "embeddings")
    out = retrieve_batch(store, fixture_queries(emb), "code")
    plan = plan_of(out)
    # chunk-scope filter reached the scan as a partition filter
    assert "PartitionFilters" in plan
    assert "scope = chunk" in plan.replace("#", " #").replace("(", " ").replace(")", " ") or (
        "scope" in plan and "chunk" in plan
    )
    # the ranked ids fetch their doc columns with a broadcast hash join
    assert "BroadcastHashJoin" in plan


def test_store_scan_column_pruning(spark, tmp_path):
    res = ingest_pipeline(
        corpus_df(spark), ingest_run_id="run-plan2", llm_factory=DeterministicLLM,
        namespace="default",
    )
    path = str(tmp_path / "store2")
    write_vector_tables(res.rows, path)
    store = read_vector_tables(spark, path)
    # a 2-column projection must not read body/vector/metadata
    narrow = store.filter(F.col("scope") == "chunk").select("row_id", "repo")
    plan = plan_of(narrow)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "row_id" in read_schema and "repo" in read_schema
    assert "vector" not in read_schema and "body" not in read_schema


def test_relational_join_broadcasts_dims(spark):
    from githubrepostorag_spark.operators import relational as R

    df = R.local_supplier_volume(
        *[load_table(spark, SF, t) for t in ("region", "nation", "customer", "supplier", "orders", "lineitem")]
    )
    df.collect()  # AQE finalizes this df's own plan
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # all five dimension joins broadcast — the fact table never shuffles
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    # every scan prunes columns and pushes its date filters down
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("PushedFilters", 2)[-1]


def test_knn_uses_take_ordered(spark):
    from githubrepostorag_spark.operators import similarity as S

    df = S.knn_to_query(load_table(spark, SF, "embeddings"))
    plan = plan_of(df)
    # top-k must not be a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join without any
    Exchange — the 100 TB answer to repeated fact-to-fact joins."""
    from githubrepostorag_spark.sinks import read_table, write_bucketed

    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    write_bucketed(
        orders, "t_orders_b", ["o_orderkey"], 8, ["o_orderkey"],
        path=str(tmp_path / "ob"),
    )
    write_bucketed(
        lineitem, "t_lineitem_b", ["l_orderkey"], 8, ["l_orderkey"],
        path=str(tmp_path / "lb"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must co-locate — the case
        # bucketing exists for (at 100 TB neither fact side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_table(spark, "t_lineitem_b").join(
            read_table(spark, "t_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).select("l_orderkey", "o_orderdate", "l_extendedprice")
        joined.collect()
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # bucket co-location replaced the shuffle
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_exact_dedup_partial_aggregation(spark):
    from githubrepostorag_spark.operators.dedup import exact_dedup

    plan = plan_of(exact_dedup(load_table(spark, SF, "documents")))
    # map-side partial agg before the single shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_asof_join_is_single_shuffle(spark):
    """The union+window as-of plan must stay one hash exchange on the
    key — the property that keeps it linear at 100 TB (a range-predicate
    join would degenerate to a broadcast nested loop)."""
    from githubrepostorag_spark.operators import eventops as EV

    ev = load_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    plan = plan_of(EV.asof_join(p, c, value_cols=["value"]))
    assert plan.count("Exchange") == 1
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_range_join_bucketed_avoids_nested_loop(spark):
    """The cell trick must turn the pure range predicate into an
    equi-join; a BNLJ/Cartesian here means the rewrite regressed."""
    from githubrepostorag_spark.operators import eventops as EV

    ev = load_table(spark, SF, "events")
    e = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    plan = plan_of(EV.range_join_bucketed(e, p, right_ts="p_ts"))
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_pack_batches_single_exchange(spark):
    """Both windows (running offset, per-batch total) must share the
    one group-key exchange; a second exchange would shuffle the corpus
    twice for bookkeeping."""
    from githubrepostorag_spark.operators import curation as CU

    docs = load_table(spark, SF, "documents")
    plan = plan_of(CU.pack_token_batches(docs, 2000))
    assert plan.count("Exchange") == 1


def test_hybrid_rrf_no_corpus_wide_window(spark):
    """Each retriever must reduce to top-N via TakeOrderedAndProject
    BEFORE any window ranks rows — the fusion windows run on the ≤N
    survivors only, so no corpus-scale single-partition exchange."""
    from githubrepostorag_spark.operators import similarity as S

    df = S.hybrid_rrf(
        load_table(spark, SF, "documents"), load_table(spark, SF, "embeddings")
    )
    plan = plan_of(df)
    assert plan.count("TakeOrderedAndProject") >= 2  # both retrievers
    # the window input is a local limit result, not a corpus scan:
    # every Window sits above a TakeOrderedAndProject in the tree
    first_window = plan.index("Window")
    assert "TakeOrderedAndProject" in plan[first_window:]


def test_int8_knn_take_ordered_and_broadcast_query(spark):
    from githubrepostorag_spark.operators import similarity as S

    plan = plan_of(S.int8_knn(load_table(spark, SF, "embeddings")))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row broadcast crossJoin
    assert "CartesianProduct" not in plan


def test_ivf_knn_semi_join_prunes_candidates(spark):
    from githubrepostorag_spark.operators import similarity as S

    plan = plan_of(S.ivf_knn(load_table(spark, SF, "embeddings")))
    assert "LeftSemi" in plan  # probe-cell pruning before scoring
    assert "TakeOrderedAndProject" in plan


def test_kl_divergence_broadcasts_distributions(spark):
    from githubrepostorag_spark.operators import textops as TO

    plan = plan_of(TO.source_kl_divergence(load_table(spark, SF, "documents")))
    # corpus distribution + per-source totals join broadcast-side
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_phash_near_dups_bucket_equijoin(spark):
    from githubrepostorag_spark.operators import multimodal as MM

    meta = spark.createDataFrame(
        [(i, i * 7919) for i in range(50)], "doc_id long, phash long"
    )
    plan = plan_of(MM.phash_near_dups(meta))
    # candidates come from a hash equi-join on the band keys
    assert "Join" in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_store_partition_pruning(spark, tmp_path):
    """The probe-cell predicate must reach the FILE INDEX: non-probed
    cell directories are never opened (PartitionFilters, partitions
    read < total cells)."""
    from githubrepostorag_spark.operators import similarity as S

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_store")
    S.write_ivf_store(emb, path)
    qvec = [float(x) for x in emb.filter("vec_id = 0").first().embedding]

    df = S.ivf_knn_from_store(spark, path, qvec, k=10, n_probes=2)
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    n_cells = spark.read.parquet(path).select("cell").distinct().count()
    assert n_cells > 2  # pruning is meaningful on this fixture
    got = df.collect()
    assert len(got) == 10
    # same probe cells -> the store path reproduces the in-memory IVF
    # top-k (modulo the query row, which the store path does not exclude)
    mem = {r.vec_id for r in S.ivf_knn(emb, query_vec_id=0, k=10, n_probes=2).collect()}
    store_ids = {r.vec_id for r in got}
    assert len(mem & store_ids) >= 7


def test_hll_partial_aggregation_two_level(spark):
    """HLL registers must partially aggregate map-side at BOTH levels
    (register max, then per-type merge) — the mergeable-sketch property
    that makes count-distinct scale."""
    from githubrepostorag_spark.operators.eventops import hll_distinct

    plan = plan_of(hll_distinct(load_table(spark, SF, "events")))
    assert plan.count("HashAggregate") >= 4  # partial+final at each level
    assert "SortAggregate" not in plan


def test_surprisal_broadcasts_vocab(spark):
    """The term-probability table is vocabulary-sized — it must reach
    the token stream as a broadcast, never shuffle the corpus tokens
    on the term key."""
    from githubrepostorag_spark.operators.textops import unigram_surprisal

    plan = plan_of(unigram_surprisal(load_table(spark, SF, "documents")))
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_take_ordered(spark):
    """A-ES top-n must be per-partition heaps + driver merge
    (TakeOrderedAndProject), not a global sort."""
    from githubrepostorag_spark.operators.curation import weighted_sample

    plan = plan_of(
        weighted_sample(load_table(spark, SF, "documents"), "n_chars", 100)
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full global sort node


def test_line_dedup_joins_on_hash_not_text(spark):
    """The frequent-line join key must be the 60-bit hash, never the
    line text (shuffling raw text on a hot boilerplate key is the
    100 TB failure mode)."""
    from githubrepostorag_spark.operators.textops import line_dedup_stats

    df = line_dedup_stats(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    # the join condition references the hash column h, not line
    joins = [seg for seg in plan.splitlines() if "Join" in seg]
    assert any("h#" in seg for seg in joins)
    assert not any("line#" in seg for seg in joins)


def test_tpch_completions_broadcast_dims_and_push_filters(spark):
    """The TPC-H completion queries must keep every dimension join
    broadcast (no fact-side shuffle for dims) and push the date
    filters into the lineitem scan."""
    from githubrepostorag_spark.operators import relational as R

    li = load_table(spark, SF, "lineitem")
    plan6 = plan_of(R.forecast_revenue(li))
    assert "PushedFilters" in plan6 and "l_shipdate" in plan6
    assert "Exchange" not in plan6.split("HashAggregate")[-1]  # scan side clean

    plan7 = plan_of(
        R.volume_shipping(
            li,
            load_table(spark, SF, "orders"),
            load_table(spark, SF, "supplier"),
            load_table(spark, SF, "customer"),
            load_table(spark, SF, "nation"),
        )
    )
    assert plan7.count("BroadcastHashJoin") >= 2  # supplier+nation, customer+nation
    assert "CartesianProduct" not in plan7

    plan8 = plan_of(
        R.national_market_share(
            load_table(spark, SF, "part"),
            load_table(spark, SF, "supplier"),
            li,
            load_table(spark, SF, "orders"),
            load_table(spark, SF, "customer"),
            load_table(spark, SF, "nation"),
            load_table(spark, SF, "region"),
        )
    )
    assert plan8.count("BroadcastHashJoin") >= 3
    # the share ratio is ONE aggregation: the fact table is scanned once
    # (nation legitimately scans twice — supplier-side and customer-side roles)
    fact_scans = [ln for ln in plan8.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(fact_scans) == 1


def test_embedding_decontaminate_broadcasts_eval_side(spark):
    from githubrepostorag_spark.operators import curation as CU

    plan = plan_of(CU.embedding_decontaminate(load_table(spark, SF, "embeddings")))
    # eval side broadcast; the train side is never shuffled pre-join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_text_index_store_partition_pruning(spark, tmp_path):
    """The keyword read must prune to the query terms' prefix
    partitions at the FILE INDEX and push the term filter into the
    scan; results must equal direct computation from the corpus."""
    from githubrepostorag_spark.operators import textindex as TI

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "tindex")
    TI.write_text_index(docs, path)

    out = TI.keyword_search_from_store(spark, path, ["spark", "vector"], k=5)
    plan = plan_of(out)
    assert "PartitionFilters" in plan and "pfx" in plan
    assert "PushedFilters" in plan and "term" in plan

    got = [(r.doc_id, r.score) for r in out.collect()]
    direct = (
        TI.build_postings(docs)
        .filter(F.col("term").isin(["spark", "vector"]))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("score"), F.countDistinct("term").alias("h"))
        .orderBy(F.desc("score"), F.desc("h"), F.asc("doc_id"))
        .limit(5)
        .collect()
    )
    assert got == [(r.doc_id, r.score) for r in direct]
    # pruning is real: only the queried prefixes' directories are read
    import glob

    all_parts = glob.glob(path + "/pfx=*")
    assert len(all_parts) > 5  # the corpus produces many prefixes


def test_incremental_near_dups_store_side_never_shuffles(spark, tmp_path):
    """The dedup-store probe must broadcast the NEW batch into scans of
    the stored band/signature tables — an Exchange on the store side
    would re-shuffle the whole corpus index per ingestion batch."""
    from githubrepostorag_spark.operators import dedup as DD

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "dstore")
    DD.write_dedup_store(docs, path)

    batch = docs.limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    out = DD.incremental_near_dups(spark, path, batch)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: every join in the probe broadcasts
    # the bounded (batch / candidate) side
    assert "SortMergeJoin" not in plan


def test_hard_negatives_rank_limit_pushes_down(spark):
    """The per-anchor top-k must compile to WindowGroupLimit (partial
    rank-limit BEFORE the anchor shuffle) with both label joins
    broadcast — the shape that keeps the banded pair stream from ever
    sorting corpus-wide."""
    from githubrepostorag_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(30)],
        "vec_id long, embedding array<double>, label int",
    )
    plan = plan_of(S.hard_negative_mining(emb))
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_balanced_shards_no_unpartitioned_window(spark):
    """The global rank must ride the range-partition + offset scheme:
    every Window in the plan is partitioned (by pid) — an ORDER
    BY-only window would pull the corpus into one task."""
    from githubrepostorag_spark.operators import curation as CU

    docs = spark.createDataFrame(
        [(i, "s", "w " * (i % 7 + 1)) for i in range(40)],
        "doc_id long, source string, text string",
    )
    plan = plan_of(CU.balanced_shards(docs))
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            # partition spec present: windowspecdefinition(_gr_pid, ...)
            # (the shared ranks.global_rank partition column)
            assert "windowspecdefinition(_gr_pid" in line, line
            saw_window = True
    assert saw_window
    # the rank rides the MATERIALIZED range-partitioned frame (the
    # localCheckpoint that pins sampler boundaries across the offset
    # count and the window — see the operator's correctness note)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_skew_report_uses_take_ordered(spark):
    """Each key's top-N must be TakeOrderedAndProject (per-partition
    k-row heaps), never a row_number window over all distinct keys."""
    from githubrepostorag_spark.operators import relational as R

    li = spark.createDataFrame(
        [(i % 5, i % 7, i % 3) for i in range(100)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    plan = plan_of(R.join_key_skew_report(li))
    assert "TakeOrderedAndProject" in plan


def test_vocab_coverage_uses_take_ordered(spark):
    """The vocab head must come from TakeOrderedAndProject; the
    cumulative window runs over the bounded top-k only."""
    from githubrepostorag_spark.operators import textops as TO

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "a d e")], "doc_id long, text string"
    )
    plan = plan_of(TO.vocab_coverage(docs))
    assert "TakeOrderedAndProject" in plan


def test_quality_ensemble_windows_all_partitioned(spark):
    """The three signal percentiles must ride the distributed
    range-rank (_gr_pid-partitioned windows) — an ORDER BY-only
    window would funnel the corpus into one task per signal."""
    from githubrepostorag_spark.operators import textops as TO

    docs = spark.createDataFrame(
        [(i, "s", "en", "w " * (i % 7 + 1), 10) for i in range(40)],
        "doc_id long, source string, lang string, text string, n_chars long",
    ).select("doc_id", "text", "lang", "source", "n_chars")
    plan = plan_of(TO.quality_ensemble(docs))
    saw = 0
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "windowspecdefinition(_gr_pid" in line, line
            saw += 1
    assert saw >= 3  # one partitioned window per signal


def test_incremental_knn_broadcasts_centroids(spark):
    """Both cell assignments must broadcast the centroid table — the
    embedding fact side never shuffles for assignment; the only
    data-sized exchange is the cell-key shuffle into the kernel."""
    import math

    from githubrepostorag_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [math.sin(i * 3 + d) for d in range(8)], "a" if i < 10 else "b")
         for i in range(20)],
        "vec_id long, embedding array<float>, label string",
    )
    plan = plan_of(S.incremental_knn(emb, k=3))
    assert plan.count("BroadcastExchange") >= 2
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan


def test_ivf_maintenance_append_then_remap(spark, tmp_path):
    """End-to-end IVF maintenance lifecycle: an in-distribution batch
    takes the cheap path (append only — pre-existing cell files
    untouched, remapped=False, probe finds the exact twins at cos 1),
    then an out-of-distribution batch drifts a cell past the trigger
    and the store is retrained + remapped (remapped=True)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.plans.index_maintenance import maintain_ivf_store
    from githubrepostorag_spark.sources.testdata import load_table

    path = str(tmp_path / "ivf")
    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store_side = base.filter(F.col("vec_id") % 10 != 7)
    write_ivf_store(store_side, path)
    files_before = set(glob.glob(os.path.join(path, "cell=*", "*.parquet")))

    # --- cheap path: exact twins of store vectors (ids shifted) ---
    twins = store_side.limit(20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "label", "embedding"
    )
    res = maintain_ivf_store(
        spark, path, twins, k=3, drift_cos_threshold=0.9, run_id="cheap"
    )  # threshold calibrated for the tiny corpus: 20 twins over ~10
    # 40-vector cells legitimately shift centroids to cos ~0.99
    assert not res.remapped
    audit = {r.step: r.value for r in res.audit.collect()}
    assert audit["remapped"] == 0.0 and audit["n_batch"] == 20
    # append-only: every pre-existing file still present
    files_after = set(glob.glob(os.path.join(path, "cell=*", "*.parquet")))
    assert files_before <= files_after and len(files_after) > len(files_before)
    top = {r.vec_id: r for r in res.neighbors.filter(F.col("rk") == 1).collect()}
    # a twin assigned to a different cell than its original misses it —
    # the standard IVF recall edge (q115 prices it); the majority whose
    # cell matches must see their exact twin at cosine 1.0
    exact = sum(1 for r in top.values() if r.score == 1.0)
    assert top and exact >= 0.7 * len(top), (exact, len(top))

    # --- drift path: a flood of far-off vectors into one cell ---
    dim = len(base.first()["embedding"])
    skew = spark.range(300).select(
        (F.col("id") + 2_000_000).alias("vec_id"),
        F.lit(0).cast(base.schema["label"].dataType).alias("label"),
        F.array(
            *[F.lit(50.0 if j == 0 else -50.0) for j in range(dim)]
        ).alias("embedding"),
    )
    res2 = maintain_ivf_store(
        spark, path, skew, k=3, drift_cos_threshold=0.9, run_id="drift"
    )
    assert res2.remapped
    audit2 = {r.step: r.value for r in res2.audit.collect()}
    assert audit2["remapped"] == 1.0
    assert audit2["min_cell_cos"] < 0.9
    # the remapped store still serves: every original vector present
    post = spark.read.parquet(path)
    assert post.count() == store_side.count() + 20 + 300


def test_ivf_maintenance_balance_trigger(spark, tmp_path):
    """q265's cell-balance metric wired into the remap trigger (VERDICT
    r7 ask #4): a flood of vectors IDENTICAL to one cell's centroid
    direction cannot move the centroid (drift cos stays 1.0) but blows
    its occupancy past the 3x-uniform default — the audit must record
    trigger_balance=1, trigger_drift=0, and the store must remap."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import maintain_ivf_store
    from githubrepostorag_spark.sources.testdata import load_table

    path = str(tmp_path / "ivf")
    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(base, path)
    n_base = base.count()
    cent = sorted(
        centroids_from_sidecar(spark, path).collect(),
        key=lambda r: r.centroid_label,
    )[0]
    dim = len(cent.centroid)
    flood = spark.range(1000).select(
        (F.col("id") + 3_000_000).alias("vec_id"),
        F.lit(0).cast(base.schema["label"].dataType).alias("label"),
        F.array(*[F.lit(float(cent.centroid[j])) for j in range(dim)]).alias(
            "embedding"
        ),
    )
    res = maintain_ivf_store(
        spark, path, flood, k=3, drift_cos_threshold=0.5, run_id="balance"
    )  # drift threshold floored so ONLY the balance trigger can fire
    audit = {r.step: r.value for r in res.audit.collect()}
    assert res.remapped and audit["remapped"] == 1.0
    assert audit["trigger_balance"] == 1.0
    assert audit["trigger_drift"] == 0.0
    assert audit["max_vs_uniform_permille"] > 3000
    # adding copies of the mean leaves the mean fixed: drift cos == 1
    assert audit["min_cell_cos"] >= 0.999999
    # the remapped store still serves every row
    assert spark.read.parquet(path).count() == n_base + 1000


def test_ivf_balance_split_rewrites_only_offending_cell(spark, tmp_path):
    """r8 verdict ask #5: a balance-only trigger must take the CELL-
    LOCAL split — only the mega-cell's directory (plus the new
    subcell's) is rewritten; every other cell's files survive
    byte-identical (input-files pin, like the gate's PartitionFilters
    pin). The audit must record remap_scope=1 (local) and the store
    must keep serving every row."""
    import glob
    import os

    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        fold_partials,
        read_ivf_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import maintain_ivf_store
    from githubrepostorag_spark.sources.testdata import load_table

    path = str(tmp_path / "ivf")
    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(base, path)
    n_base = base.count()
    cents = sorted(
        centroids_from_sidecar(spark, path).collect(),
        key=lambda r: r.centroid_label,
    )
    hot = cents[0]
    dim = len(hot.centroid)
    cell_files_before = {
        d: sorted(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "cell=*"))
    }
    # flood the hot cell with NEAR-centroid vectors (tiny deterministic
    # per-vector jitter so the 2-means has real structure to split on;
    # direction stays closest to `hot`, drift cos stays ~1)
    flood = spark.range(1000).select(
        (F.col("id") + 3_000_000).alias("vec_id"),
        F.lit(0).cast(base.schema["label"].dataType).alias("label"),
        F.array(
            *[
                F.lit(float(hot.centroid[j]))
                + F.when(F.col("id") % 2 == 0, 0.02).otherwise(-0.02)
                * F.lit(1.0 if j % 3 == 0 else 0.5)
                for j in range(dim)
            ]
        ).alias("embedding"),
    )
    res = maintain_ivf_store(
        spark, path, flood, k=3, drift_cos_threshold=0.5, run_id="balance-local"
    )
    audit = {r.step: r.value for r in res.audit.collect()}
    assert audit["trigger_balance"] == 1.0 and audit["trigger_drift"] == 0.0
    assert res.remapped and audit["remap_scope"] == 1.0
    assert audit["n_cells_split"] >= 1.0
    hot_dir = os.path.join(path, f"cell={hot.centroid_label}")
    for d, files in cell_files_before.items():
        if d == hot_dir:
            continue  # the split cell: rewritten by design
        now = sorted(glob.glob(os.path.join(d, "*.parquet")))
        # non-split cells: the batch append may ADD files to cells the
        # flood landed in, but never deletes/rewrites pre-existing ones
        assert set(files) <= set(now), d
    # the split cell's old files are GONE (dynamic overwrite replaced it)
    assert not set(cell_files_before[hot_dir]) & set(
        glob.glob(os.path.join(hot_dir, "*.parquet"))
    )
    # a NEW subcell directory exists beyond the original codebook
    max_before = max(int(r.centroid_label) for r in cents)
    new_dirs = [
        d
        for d in glob.glob(os.path.join(path, "cell=*"))
        if int(d.rsplit("=", 1)[1]) > max_before
    ]
    assert new_dirs, "split created no new cell directory"
    # every row still served, and the sidecar fold matches the store
    post = spark.read.parquet(path)
    assert post.count() == n_base + 1000
    folded_n = (
        fold_partials(read_ivf_sidecar(spark, path)).agg(F.sum("n")).collect()[0][0]
    )
    assert folded_n == n_base + 1000
    # sidecar centroids agree with a fresh store-side recompute per cell
    from githubrepostorag_spark.plans.index_maintenance import _cell_centroids

    got = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path).collect()
    }
    want = {
        r.centroid_label: r.centroid for r in _cell_centroids(post).collect()
    }
    assert set(got) == set(want)
    for c, v in want.items():
        assert got[c] == pytest.approx(v, abs=1e-6), c


def test_index_lifecycle_end_to_end(spark, tmp_path):
    """r8 verdict ask #6: build → gate → maintain → serve composed in
    one plan. The served top-k AFTER the gated append must equal brute
    force over exactly the SURVIVORS (base ∪ gate-accepted ∪
    maintenance batch — rejected vectors absent), proving the stages
    compose on one store without losing or double-counting rows."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.functions import vectors as V
    from githubrepostorag_spark.plans.index_lifecycle import index_lifecycle
    from githubrepostorag_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 5 < 3)
    gate_batch = emb.filter(F.col("vec_id") % 5 == 3).limit(40)
    maint_batch = emb.filter(F.col("vec_id") % 5 == 4).limit(40).select(
        "vec_id", "label", "embedding"
    )
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    res = index_lifecycle(
        spark,
        base,
        gate_batch,
        maint_batch,
        str(tmp_path / "wk"),
        qv,
        k=8,
        n_probes=100,  # probe every cell: serve == exact brute force
        run_id="e2e",
    )
    audit = {r.step: r.value for r in res.audit.collect()}
    stages = {r.stage for r in res.timed_stages.collect()}
    assert stages == {"build", "gate", "maintain", "serve"}
    # survivors: base + accepted gate rows + the maintenance batch
    accepted = spark.read.parquet(str(tmp_path / "wk" / "accepted")).select(
        "vec_id"
    )
    survivors = (
        base.select("vec_id", "label", "embedding")
        .unionByName(
            gate_batch.select("vec_id", "label", "embedding").join(
                accepted, "vec_id"
            )
        )
        .unionByName(maint_batch)
    )
    n_surv = survivors.count()
    assert audit["n_gate_accepted"] + audit["n_gate_rejected"] == 40
    assert (
        spark.read.parquet(str(tmp_path / "wk" / "store")).count() == n_surv
    )
    qdf = spark.createDataFrame([(qv,)], "qvec array<double>")
    brute = (
        V.prepare(survivors, "embedding", "ve", "vn")
        .crossJoin(F.broadcast(V.prepare(qdf, "qvec", "qv", "qn")))
        .select(
            "vec_id",
            "label",
            F.round(
                V.prepared_cosine(
                    F.col("ve"), F.col("vn"), F.col("qv"), F.col("qn")
                ),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(8)
        .collect()
    )
    got = res.served.orderBy(F.desc("score"), F.asc("vec_id")).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in brute
    ]


def test_round8_new_ops_plan_shapes(spark):
    """Physical-plan pins for the round-8 operators: no cartesian
    product anywhere (broadcast joins only), and the only global Sort
    allowed is q267's deterministic 20-row profile cut and q272's
    |cells|-row cost window — nothing corpus-sized sorts."""
    from githubrepostorag_spark.operators import curation as CU
    from githubrepostorag_spark.operators import dedup as DD
    from githubrepostorag_spark.operators import similarity as S
    from githubrepostorag_spark.operators import textops as TO
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plans = {
        "q267": TO.token_profile_anomaly(docs),
        "q268": CU.ngram_coverage_depth(docs),
        "q269": DD.dup_token_inflation(docs),
        "q270": TO.length_mad_outliers(docs),
        "q271": TO.winnow_overlap_pairs(docs),
        "q272": S.ivf_probe_cost(emb),
    }
    for name, df in plans.items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan, (name, plan)


def test_round9_new_ops_plan_shapes(spark):
    """Physical-plan pins for the round-9 operators: no cartesian
    product anywhere — q284's only crossJoin is the 4-row cutoff frame
    (broadcast nested loop, never cartesian) and q286's K constant is
    collected, not joined. Corpus-sized frames never globally sort:
    q283/q288 rank inside per-source / per-half windows, q282/q287
    order only their |status|- and |source|-sized outputs (q288 was
    refit in round 10 to the distributed arithmetic ntile — see
    test_decile_refits_have_no_hot_ntile_window)."""
    from githubrepostorag_spark.operators import dedup as DD
    from githubrepostorag_spark.operators import relational as R
    from githubrepostorag_spark.operators import similarity as S
    from githubrepostorag_spark.operators import textops as TO
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    lineitem = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    DD._PAIR_CACHE.clear()
    DD._SIG_CACHE.clear()
    plans = {
        "q282": R.order_reconciliation(orders, lineitem),
        "q283": TO.term_burstiness(docs),
        "q284": DD.dedup_method_agreement(docs),
        "q285": DD.component_source_mix(docs),
        "q286": S.pq_code_entropy(emb),
        "q287": TO.token_run_profile(docs),
        "q288": R.decile_transitions(orders),
    }
    for name, df in plans.items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan, (name, plan)
    DD._PAIR_CACHE.clear()
    DD._SIG_CACHE.clear()


def test_decile_refits_have_no_hot_ntile_window(spark):
    """Round-10 plan pin (r9 verdict ask #1, the inverse of the
    round-9 allowance): q107/q288 must NOT plan a real NTILE over a
    low-cardinality partition — the shape where WindowExec buffers and
    sorts a corpus-scale partition in ONE task. Concretely: no ntile
    function anywhere in either physical plan, and every window spec
    is partitioned by the distributed rank's _gr_pid (corpus-parallel
    per-partition row_number), never by the 3-value return flag or the
    2-value half."""
    import re

    from githubrepostorag_spark.operators import relational as R
    from githubrepostorag_spark.sources.testdata import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    for name, df in {
        "q107": R.revenue_deciles(li),
        "q288": R.decile_transitions(orders),
    }.items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "ntile(" not in plan, (name, plan)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, (name, "expected the distributed-rank window")
        for spec in specs:
            assert "_gr_pid" in spec, (name, spec)


def test_centroids_fallback_when_sidecar_missing(spark, tmp_path):
    """Pre-sidecar store layouts (or a lost sidecar) must still serve:
    centroids_from_sidecar falls back to the one-off store-scan
    recompute with identical 6dp values, and ivf_knn_from_store keeps
    answering through the fallback."""
    import shutil

    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        ivf_knn_from_store,
        ivf_sidecar_path,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import _cell_centroids
    from githubrepostorag_spark.sources.testdata import load_table

    path = str(tmp_path / "ivf")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(emb, path)
    want = {
        r.centroid_label: r.centroid
        for r in _cell_centroids(spark.read.parquet(path)).collect()
    }
    shutil.rmtree(ivf_sidecar_path(path))  # simulate a pre-sidecar store

    got = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path).collect()
    }
    assert set(got) == set(want)
    for c in want:
        assert got[c] == pytest.approx(want[c], abs=1e-9), c
    qvec = [float(x) for x in emb.first()["embedding"]]
    top = ivf_knn_from_store(spark, path, qvec, k=5, n_probes=2).collect()
    assert len(top) == 5 and top[0].score == 1.0  # finds the query's own row


def test_split_cell_local_reconciles_replay_duplicates(spark, tmp_path):
    """A cell-local split over a mega-cell holding replay-duplicated
    (vec_id, batch_id) rows must (a) not SQUARE the duplicates through
    its vec_id assignment join, (b) write back the read-side-deduped
    rows, and (c) replace the split cell's sidecar partials with
    per-batch-keyed, non-double-counted partials so replay exclusion
    and the sidecar fold both stay exact."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        fold_partials,
        read_ivf_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import (
        _cell_centroids,
        _split_cell_local,
    )
    from githubrepostorag_spark.streaming.ingest import _embedding_gate_batch

    schema = "vec_id long, label int, embedding array<float>"
    path = str(tmp_path / "ivf")
    acc, rej = str(tmp_path / "acc"), str(tmp_path / "rej")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0, 0.0])], schema
        ),
        path,
    )
    # two tight sub-clusters inside the label-0 cell → clean 2-means
    batch = spark.createDataFrame(
        [
            (100, 0, [0.95, 0.30, 0.00, 0.0]),
            (101, 0, [0.95, 0.31, 0.01, 0.0]),
            (102, 0, [0.96, 0.30, 0.02, 0.0]),
            (103, 0, [0.95, -0.30, 0.00, 0.0]),
            (104, 0, [0.95, -0.31, 0.01, 0.0]),
            (105, 0, [0.96, -0.30, 0.02, 0.0]),
        ],
        schema,
    )
    for _attempt in range(2):  # replay → duplicate (vec_id, batch_id=9) rows
        _embedding_gate_batch(batch, 9, path, acc, rej, max_cos=0.9999)
    store = spark.read.parquet(path)
    hot = (
        store.groupBy("cell").count().orderBy(F.desc("count")).first()["cell"]
    )
    n_raw_hot = store.filter(F.col("cell") == hot).count()
    assert n_raw_hot == 13, n_raw_hot  # 1 base + 6 batch ×2 replays
    new_cell = store.agg(F.max("cell")).collect()[0][0] + 1
    assert _split_cell_local(spark, path, int(hot), int(new_cell)) is True
    post = spark.read.parquet(path)
    # (a)+(b): duplicates reconciled once, never squared — 7 distinct
    # rows across the two subcells, one per vec_id
    sub = post.filter(F.col("cell").isin([int(hot), int(new_cell)]))
    assert sub.count() == 7, "split must write read-side-deduped rows"
    assert sub.select("vec_id").distinct().count() == 7
    assert post.count() == 8
    # both subcells actually used
    assert sub.select("cell").distinct().count() == 2
    # (c): sidecar fold counts each logical row once and keeps the
    # batch key for replay exclusion
    folded = fold_partials(read_ivf_sidecar(spark, path))
    assert folded.agg(F.sum("n")).collect()[0][0] == 8
    bids = {
        r.batch_id
        for r in read_ivf_sidecar(spark, path)
        .filter(F.col("cell").isin([int(hot), int(new_cell)]))
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert 9 in bids, bids
    got = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path).collect()
    }
    want = {r.centroid_label: r.centroid for r in _cell_centroids(post).collect()}
    assert set(got) == set(want)
    for c, v in want.items():
        assert got[c] == pytest.approx(v, abs=1e-9), c
    # excluding the pending batch recovers exactly the base-rows codebook
    ex = {
        r.centroid_label: r.centroid
        for r in centroids_from_sidecar(spark, path, exclude_batch_id=9).collect()
    }
    base_only = _cell_centroids(post.filter(F.col("batch_id") != 9))
    want_ex = {r.centroid_label: r.centroid for r in base_only.collect()}
    assert set(ex) == set(want_ex)
    for c, v in want_ex.items():
        assert ex[c] == pytest.approx(v, abs=1e-9), c


def test_lost_sidecar_rebuild_keeps_repeat_minus1_appends(spark, tmp_path):
    """r9 ADVICE low #2: `maintain_ivf_store` may legitimately append
    the same vec_id in two cycles, both stamped batch_id=-1, and the
    incrementally-folded sidecar counts both. The lost-sidecar rebuild
    must NOT blanket-dedup (vec_id, batch_id) — it reconciles through
    `reconcile_replay_rows` (-1 rows additive), so the rebuilt sidecar
    equals the append-built one it replaces, counts included."""
    import shutil

    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        append_ivf_sidecar,
        fold_partials,
        ivf_sidecar_path,
        read_ivf_sidecar,
        upgrade_ivf_store,
        write_ivf_store,
    )

    schema = "vec_id long, label int, embedding array<float>"
    path = str(tmp_path / "ivf")
    write_ivf_store(
        spark.createDataFrame(
            [(1, 0, [1.0, 0.0, 0.0]), (2, 1, [0.0, 1.0, 0.0])], schema
        ),
        path,
    )
    # a second maintenance cycle re-appends vec_id=1 — stamped -1 again
    again = (
        spark.read.parquet(path)
        .filter(F.col("vec_id") == 1)
        .localCheckpoint(eager=True)
    )
    again.write.mode("append").partitionBy("cell").parquet(path)
    append_ivf_sidecar(again, path, batch_id=-1)

    want = {
        r.cell: (r.n, r.centroid)
        for r in fold_partials(read_ivf_sidecar(spark, path)).collect()
    }
    assert sum(n for n, _ in want.values()) == 3  # the repeat IS counted
    shutil.rmtree(ivf_sidecar_path(path))
    assert upgrade_ivf_store(spark, path) is True
    got = {
        r.cell: (r.n, r.centroid)
        for r in fold_partials(read_ivf_sidecar(spark, path)).collect()
    }
    assert set(got) == set(want)
    for c, (n, cent) in want.items():
        assert got[c][0] == n, (c, got[c], n)
        assert got[c][1] == pytest.approx(cent, abs=1e-9), c


def test_split_cell_local_dedups_conflicting_vecids_deterministically(
    spark, tmp_path
):
    """r9 ADVICE low #1: when the same vec_id carries DIFFERENT
    embeddings under two batch ids, the split's 2-means must seed from
    a DETERMINISTIC copy — the newest batch's row (vec bytes break -1
    ties) — never an arbitrary dropDuplicates pick. Pinned by driving
    a split whose outcome differs by which copy seeds it: with the
    newest (batch 7) copy of vec 1 pointing along e2, vec 1 and vec 2
    must co-locate on one side and vec 3 alone on the other, with both
    stored copies of vec 1 fanned out to the SAME subcell."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.functions import vectors as V
    from githubrepostorag_spark.operators.similarity import (
        append_ivf_sidecar,
        fold_partials,
        read_ivf_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import _split_cell_local

    schema = "vec_id long, label int, embedding array<float>"
    path = str(tmp_path / "ivf")
    # one cell (every label 0): vec1 points along e1, vec2 along e2,
    # vec3 along e1 — the OLD copy of vec1 agrees with vec3's side
    write_ivf_store(
        spark.createDataFrame(
            [
                (1, 0, [1.0, 0.0, 0.0, 0.0]),
                (2, 0, [0.0, 0.99, 0.14, 0.0]),
                (3, 0, [0.99, 0.14, 0.0, 0.0]),
            ],
            schema,
        ),
        path,
    )
    cell0 = int(spark.read.parquet(path).select("cell").first()["cell"])
    # newest copy of vec 1 (batch 7) flips it to e2's side
    extra = V.prepare(
        spark.createDataFrame([(1, 0, [0.0, 1.0, 0.0, 0.0])], schema),
        "embedding",
        "ve",
        "vn",
    ).select(
        "vec_id",
        "label",
        "ve",
        "vn",
        F.lit(7).alias("batch_id"),
        F.lit(cell0).alias("cell"),
    ).localCheckpoint(eager=True)
    extra.write.mode("append").partitionBy("cell").parquet(path)
    append_ivf_sidecar(extra, path, batch_id=7)

    new_cell = cell0 + 1
    assert _split_cell_local(spark, path, cell0, new_cell) is True
    post = spark.read.parquet(path)
    cells = {
        r.vec_id: r.cs
        for r in post.groupBy("vec_id")
        .agg(F.collect_set("cell").alias("cs"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # both copies of vec 1 kept (no undercount) and fanned to ONE side
    assert post.filter(F.col("vec_id") == 1).count() == 2
    assert len(cells[1]) == 1
    # deterministic seed = newest copy → vec1 sides with vec2, not vec3
    assert cells[1] == cells[2]
    assert cells[3] != cells[1]
    # sidecar fold still counts all 4 stored rows
    assert fold_partials(read_ivf_sidecar(spark, path)).agg(
        F.sum("n")
    ).collect()[0][0] == 4


def test_maintenance_serving_health_audit_rows(spark, tmp_path):
    """r9 verdict ask #4: every maintenance cycle emits q272-style
    worst-case scan shares and probe-side hubness rows in
    MaintenanceResult.audit. A spread batch (exact twins of four
    DIFFERENT store vectors) stays near the uniform adoption baseline;
    a hub-forming batch (four copies adopting ONE store vector) drives
    the delta row up — the earliest serving symptom of q290/q296's hub
    pathology, caught per cycle without a store scan."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.plans.index_maintenance import maintain_ivf_store

    schema = "vec_id long, label int, embedding array<float>"
    path = str(tmp_path / "ivf")
    a = [[1.0, 0.0, 0.0, 0.0], [0.99, 0.1, 0.0, 0.0],
         [0.98, 0.15, 0.0, 0.0], [0.97, 0.2, 0.0, 0.0]]
    b = [[0.0, 1.0, 0.0, 0.0], [0.0, 0.99, 0.1, 0.0],
         [0.0, 0.98, 0.15, 0.0], [0.0, 0.97, 0.2, 0.0]]
    write_ivf_store(
        spark.createDataFrame(
            [(i, 0, v) for i, v in enumerate(a)]
            + [(10 + i, 1, v) for i, v in enumerate(b)],
            schema,
        ),
        path,
    )
    spread = spark.createDataFrame(
        [(100, 0, a[0]), (101, 0, a[1]), (110, 1, b[0]), (111, 1, b[1])],
        schema,
    )
    res1 = maintain_ivf_store(
        spark, path, spread, k=1, drift_cos_threshold=0.0,
        balance_permille_threshold=None, run_id="spread",
    )
    au1 = {r.step: r.value for r in res1.audit.collect()}
    for key in ("scan_share_p1_permille", "probe_hub_top_share_permille",
                "probe_hub_uniform_permille", "probe_hub_delta_permille"):
        assert key in au1, key
    # q272 semantics: cumulative, monotone, capped at 1000
    assert 0 < au1["scan_share_p1_permille"] <= au1["scan_share_p2_permille"]
    assert au1["scan_share_p2_permille"] <= au1.get(
        "scan_share_p3_permille", 1000.0
    ) <= 1000.0
    # each twin adopts its own distinct neighbor: top share = 1/4
    assert au1["probe_hub_top_share_permille"] == 250.0
    assert au1["probe_hub_delta_permille"] <= 250.0

    hub = spark.createDataFrame([(200 + i, 0, a[0]) for i in range(4)], schema)
    res2 = maintain_ivf_store(
        spark, path, hub, k=1, drift_cos_threshold=0.0,
        balance_permille_threshold=None, run_id="hub",
    )
    au2 = {r.step: r.value for r in res2.audit.collect()}
    assert au2["probe_hub_top_share_permille"] == 1000.0
    assert au2["probe_hub_delta_permille"] >= 600.0
    assert (
        au2["probe_hub_delta_permille"]
        > au1["probe_hub_delta_permille"] + 400.0
    )


def test_round10_new_ops_plan_shapes(spark):
    """Physical-plan pins for the round-10 operators: no cartesian
    product anywhere (q291/q292's crossJoins are against broadcast
    one-row/|lengths|-row frames — broadcast nested loop, never
    cartesian), and the q293 segment join broadcasts the customer
    dimension instead of shuffling the fact."""
    from githubrepostorag_spark.operators import relational as R
    from githubrepostorag_spark.operators import similarity as S
    from githubrepostorag_spark.operators import textops as TO
    from githubrepostorag_spark.sources.testdata import load_table

    from githubrepostorag_spark.operators import curation as CU
    from githubrepostorag_spark.operators import dedup as DD
    from githubrepostorag_spark.operators import eventops as E

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    customer = load_table(spark, "/root/testdata/sf0.001", "customer")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plans = {
        "q289": TO.heaps_fit_by_source(docs),
        "q290": S.knn_hubness(emb),
        "q291": TO.length_ks_by_source(docs),
        "q292": S.variance_concentration(emb),
        "q293": R.repeat_revenue_by_segment(orders, customer),
        "q294": CU.source_cross_entropy(docs),
        "q295": E.arrival_burstiness(events),
        "q296": S.knn_hubness_ivf(emb),
        "q297": R.benford_first_digit(orders),
        "q298": E.value_psi_by_type(events),
        "q299": E.km_survival(events),
        "q300": E.volume_acf(events),
        "q301": TO.mannwhitney_quality_by_source(docs),
        "q302": TO.length_gini_by_source(docs),
        "q303": TO.burrows_delta(docs),
        "q304": E.cusum_changepoint(events),
        "q305": TO.token_position_profile(docs),
        "q306": E.transition_entropy(events),
        "q307": E.theil_sen_trend(events),
        "q308": TO.source_quality_mi(docs),
        "q309": DD.source_containment(docs),
        "q310": S.embedding_corr_pairs(emb),
        "q311": TO.winsorized_length_stats(docs),
        "q312": R.hill_tail_index(orders),
        "q313": TO.lang_confusion(docs),
    }
    for name, df in plans.items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan, (name, plan)
    q293 = plans["q293"]._sc._jvm.PythonSQLUtils.explainString(
        plans["q293"]._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in q293, q293


def test_reconcile_replay_rows_keeps_null_batch_id(spark):
    """Round-10 self-review: a NULL batch_id must classify as additive
    (kept verbatim), never fall through BOTH branch filters and vanish
    from a rebuild — the failure mode of a bare `batch_id < 0` split
    over a half-migrated frame."""
    from githubrepostorag_spark.operators.similarity import reconcile_replay_rows

    rows = spark.createDataFrame(
        [
            (1, None),   # pre-upgrade row: no batch stamp
            (1, -1), (1, -1),   # legit repeat maintenance appends
            (2, 9), (2, 9),     # replay duplicate: dedup to one
        ],
        "vec_id long, batch_id int",
    )
    got = sorted(
        (r.vec_id, -99 if r.batch_id is None else r.batch_id)
        for r in reconcile_replay_rows(rows).collect()
    )  # None sorts via the -99 sentinel (py3 can't order int vs None)
    assert got == [(1, -99), (1, -1), (1, -1), (2, 9)], got


def test_doc_scans_spread_on_doc_id_not_source(spark):
    """Round-10 self-review regression (ADVICE): operators that
    scale_out the documents scan must hash-repartition on doc_id —
    spreading on `source` caps the map stage at |sources| partitions
    and inherits the largest feed's skew. Pins the Exchange key for
    the q301/q303 scans (the two that shipped wrong)."""
    from githubrepostorag_spark.operators import textops as TO
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for name, df in {
        "q301": TO.mannwhitney_quality_by_source(docs),
        "q303": TO.burrows_delta(docs),
    }.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        reparts = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "REPARTITION_BY_NUM" in ln
        ]
        assert reparts, (name, "expected an explicit scale_out repartition")
        for ln in reparts:
            key = ln.split("hashpartitioning(", 1)[1]
            assert key.startswith("doc_id"), (name, ln)


def test_delete_from_ivf_store_rewrites_only_affected_cells(spark, tmp_path):
    """r10 verdict ask #4 (IVF side, pin a): deleting vectors from ONE
    cell rewrites only that cell's directory — every other cell's
    files survive byte-identical — and the sidecar decrements to match
    a store-side recompute. Deleting a cell's LAST rows removes the
    directory and its sidecar entry."""
    import glob
    import os

    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        centroids_from_sidecar,
        delete_from_ivf_store,
        fold_partials,
        read_ivf_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.plans.index_maintenance import _cell_centroids
    from githubrepostorag_spark.sources.testdata import load_table

    path = str(tmp_path / "ivf")
    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(base, path)
    n_base = base.count()
    store = spark.read.parquet(path)
    # pick the cell with the most rows; delete two of its vec_ids
    by_cell = (
        store.groupBy("cell").count().orderBy(F.desc("count"), F.asc("cell"))
    ).collect()
    victim_cell = int(by_cell[0]["cell"])
    victims = [
        int(r["vec_id"])
        for r in store.filter(F.col("cell") == victim_cell)
        .orderBy("vec_id")
        .limit(2)
        .collect()
    ]
    files_before = {
        d: sorted(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "cell=*"))
    }
    n = delete_from_ivf_store(spark, path, F.col("vec_id").isin(victims))
    assert n == 2
    victim_dir = os.path.join(path, f"cell={victim_cell}")
    for d, files in files_before.items():
        now = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if d == victim_dir:
            # the affected cell: dynamic overwrite replaced its files
            assert not set(files) & set(now)
        else:
            assert files == now, f"untouched cell rewritten: {d}"
    post = spark.read.parquet(path)
    assert post.count() == n_base - 2
    assert post.filter(F.col("vec_id").isin(victims)).count() == 0
    # sidecar decremented: fold matches the rewritten store exactly
    folded = fold_partials(read_ivf_sidecar(spark, path))
    assert folded.agg(F.sum("n")).collect()[0][0] == n_base - 2
    got = {
        r.centroid_label: [round(v, 6) for v in r.centroid]
        for r in centroids_from_sidecar(spark, path).collect()
    }
    want = {
        r.centroid_label: [round(v, 6) for v in r.centroid]
        for r in _cell_centroids(post).collect()
    }
    assert got == want
    # no-match predicate: returns 0 and writes nothing
    assert delete_from_ivf_store(spark, path, F.col("vec_id") == -999) == 0
    # delete the victim cell's REMAINING rows: directory + sidecar row go
    n2 = delete_from_ivf_store(
        spark, path, F.col("cell") == F.lit(victim_cell)
    )
    assert n2 > 0
    assert not os.path.exists(victim_dir)
    cells_left = {
        int(r["cell"]) for r in read_ivf_sidecar(spark, path).select("cell").collect()
    }
    assert victim_cell not in cells_left
    assert spark.read.parquet(path).filter(
        F.col("cell") == victim_cell
    ).count() == 0


def test_delete_from_ivf_store_serving_matches_rebuild(spark, tmp_path):
    """r10 verdict ask #4 (pin c): after a takedown, full-coverage
    probe results from the deleted store equal a from-scratch
    write_ivf_store of the surviving vectors — identical (vec_id,
    score) lists for every query."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        delete_from_ivf_store,
        ivf_knn_from_store,
        write_ivf_store,
    )
    from githubrepostorag_spark.sources.testdata import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    doomed = [int(r["vec_id"]) for r in base.orderBy("vec_id").limit(7).collect()]
    p_del = str(tmp_path / "ivf_deleted")
    write_ivf_store(base, p_del)
    assert delete_from_ivf_store(
        spark, p_del, F.col("vec_id").isin(doomed)
    ) == 7
    p_ref = str(tmp_path / "ivf_rebuilt")
    write_ivf_store(base.filter(~F.col("vec_id").isin(doomed)), p_ref)
    queries = [r["embedding"] for r in base.orderBy(F.desc("vec_id")).limit(3).collect()]
    for qv in queries:
        qv = [float(x) for x in qv]
        # n_probes covers every cell in both stores -> exact top-k both
        got = [
            (r.vec_id, r.score)
            for r in ivf_knn_from_store(spark, p_del, qv, k=10, n_probes=64).collect()
        ]
        want = [
            (r.vec_id, r.score)
            for r in ivf_knn_from_store(spark, p_ref, qv, k=10, n_probes=64).collect()
        ]
        assert got == want
        assert not any(v in doomed for v, _ in got)


def test_delete_from_ivf_store_crash_windows_rerun_repairs(spark, tmp_path):
    """r11 ADVICE (crash ordering): the delete's three writes run
    sidecar -> data -> dir-drops, so each crash window is repaired by
    re-running the SAME call. Both windows are simulated on disk:
    (1) sidecar updated but data untouched — the transient sidecar is
    a conservative UNDER-count and the re-run completes the delete;
    (2) data overwritten but an emptied cell's old directory left
    behind — the resurrected rows still match the predicate, so the
    re-run drops the directory. Final store + sidecar equal a clean
    single-shot delete in both cases."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import (
        delete_from_ivf_store,
        fold_partials,
        ivf_sidecar_path,
        read_ivf_sidecar,
        write_ivf_store,
    )
    from githubrepostorag_spark.sources.testdata import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    doomed = [int(r["vec_id"]) for r in base.orderBy("vec_id").limit(4).collect()]
    pred = F.col("vec_id").isin(doomed)

    def _snapshot(p):
        rows = sorted(
            (int(r.vec_id), int(r.cell), int(r.batch_id))
            for r in spark.read.parquet(p).collect()
        )
        sc = sorted(
            (int(r.cell), int(r.n))
            for r in fold_partials(read_ivf_sidecar(spark, p)).collect()
        )
        return rows, sc

    # the clean single-shot reference
    p_ref = str(tmp_path / "ivf_ref")
    write_ivf_store(base, p_ref)
    n_ref = delete_from_ivf_store(spark, p_ref, pred)
    assert n_ref == 4
    want = _snapshot(p_ref)

    # window 1: sidecar landed, data did not (crash before overwrite)
    p_c1 = str(tmp_path / "ivf_crash1")
    write_ivf_store(base, p_c1)
    shutil.rmtree(ivf_sidecar_path(p_c1))
    shutil.copytree(ivf_sidecar_path(p_ref), ivf_sidecar_path(p_c1))
    # the transient sidecar UNDER-counts (survivors only) — never ghosts
    assert (
        fold_partials(read_ivf_sidecar(spark, p_c1)).agg(F.sum("n")).first()[0]
        == base.count() - 4
    )
    assert delete_from_ivf_store(spark, p_c1, pred) == 4  # re-run repairs
    assert _snapshot(p_c1) == want

    # window 2: data + sidecar landed, an emptied cell's dir survived
    victim_cell = int(
        spark.read.parquet(p_ref)
        .groupBy("cell").count().orderBy("count", "cell").first()["cell"]
    )
    cpred = F.col("cell") == F.lit(victim_cell)
    p_full = str(tmp_path / "ivf_full")  # pristine twin for the old dir
    write_ivf_store(base, p_full)
    p_c2 = str(tmp_path / "ivf_crash2")
    write_ivf_store(base, p_c2)
    n_cell = delete_from_ivf_store(spark, p_c2, cpred)
    assert n_cell > 0 and not os.path.exists(f"{p_c2}/cell={victim_cell}")
    want2 = _snapshot(p_c2)
    # resurrect the emptied cell's directory (the un-dropped old files)
    shutil.copytree(
        f"{p_full}/cell={victim_cell}", f"{p_c2}/cell={victim_cell}"
    )
    assert delete_from_ivf_store(spark, p_c2, cpred) == n_cell  # re-run
    assert not os.path.exists(f"{p_c2}/cell={victim_cell}")
    assert _snapshot(p_c2) == want2

    # fully-applied delete: the re-run is a no-op returning 0
    assert delete_from_ivf_store(spark, p_c2, cpred) == 0
    assert delete_from_ivf_store(spark, p_c1, pred) == 0


def test_maintain_ivf_store_delete_predicate_audit(spark, tmp_path):
    """r10 verdict ask #4 (lifecycle wiring): a maintenance cycle with
    delete_predicate applies the takedown FIRST and ledgers it as the
    n_deleted audit row; without a predicate the row reads 0.0."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.plans.index_maintenance import maintain_ivf_store
    from githubrepostorag_spark.sources.testdata import load_table

    path = str(tmp_path / "ivf")
    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    write_ivf_store(base, path)
    n_base = base.count()
    doomed = [int(r["vec_id"]) for r in base.orderBy("vec_id").limit(5).collect()]
    batch = base.orderBy(F.desc("vec_id")).limit(3).select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "label", "embedding"
    )
    res = maintain_ivf_store(
        spark, path, batch, k=3, run_id="takedown",
        delete_predicate=F.col("vec_id").isin(doomed),
    )
    audit = {r.step: r.value for r in res.audit.collect()}
    assert audit["n_deleted"] == 5.0
    # the cycle's store count reflects the deletion happening FIRST
    assert audit["n_store"] == float(n_base - 5)
    post = spark.read.parquet(path)
    assert post.filter(F.col("vec_id").isin(doomed)).count() == 0
    assert post.count() == n_base - 5 + 3
    res2 = maintain_ivf_store(spark, path, batch, k=3, run_id="plain")
    audit2 = {r.step: r.value for r in res2.audit.collect()}
    assert audit2["n_deleted"] == 0.0


def test_dup_span_scrub_plan_shape(spark):
    """q327 plan pin: no cartesian product, and the gram-keyed window
    exchange stays the SINGLE corpus-sized gram shuffle (the q320
    discipline) — every other exchange is doc-keyed (anti-join +
    reassembly) or a bounded broadcast. Also: no corpus-sized global
    Sort (the final orderBy is the only top-level sort, on the doc-
    grain output)."""
    import re

    from githubrepostorag_spark.operators import dedup_spans as DS
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = DS.dup_span_scrub(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    # exactly one exchange hash-partitioned on the gram key (the
    # formatted plan lists partitioning under per-node Arguments)
    assert len(re.findall(r"hashpartitioning\(gram", plan)) == 1, plan
    # every OTHER repartitioning is doc-keyed: the reassembly hash
    # exchange and the final doc-grain range sort
    others = re.findall(r"(?:hash|range)partitioning\((\w+)", plan)
    assert sorted(set(others)) == ["doc_id", "gram"], others
    # and it really runs: results materialize without error
    assert df.limit(5).count() == 5


def test_every_scale_out_call_site_keys_on_high_cardinality_column():
    """r10 verdict ask #8, generalizing
    test_doc_scans_spread_on_doc_id_not_source beyond q301/q303: EVERY
    scale_out call site in the package must key on a row-grain
    (high-cardinality) column. Keying on source/lang/event_type caps
    the map stage at that column's cardinality (the r10 self-caught
    20-partition ceiling) and inherits the largest group's skew —
    exactly the mistake every future per-source operator will find
    attractive. Static AST pin so NEW call sites are covered the
    moment they are written, with no per-operator plan test needed."""
    import ast
    import pathlib

    import githubrepostorag_spark as pkg_mod

    HIGH_CARD = {
        "doc_id", "file_path", "node_id", "vec_id", "event_id",
        "user_id", "chunk_id",
        # row-grain alias of vec_id (gate_recall_audit's store side —
        # the r12 brute-force-verifier spread)
        "nbr_id",
    }
    LOW_CARD_EXAMPLES = {
        "source", "lang", "event_type", "label", "cell", "repo",
        "module", "shard", "batch_id",
    }
    assert not (HIGH_CARD & LOW_CARD_EXAMPLES)
    pkg = pathlib.Path(pkg_mod.__file__).parent
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (
                fn.id
                if isinstance(fn, ast.Name)
                else (fn.attr if isinstance(fn, ast.Attribute) else None)
            )
            if name != "scale_out":
                continue
            # args[0] is the frame; every later positional arg is a key
            # (zero keys = keyless round-robin, which cannot ceiling)
            for a in node.args[1:]:
                if (
                    isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and a.value in HIGH_CARD
                ):
                    continue
                # `scale_out(corpus, id_col)`: the operator's id_col
                # parameter IS its row-grain id by contract (defaults
                # to doc_id; r12 ADVICE fixed the hardcoded literal so
                # callers with a renamed id column resolve) — row-grain
                # by the same argument as the literal allowlist.
                if isinstance(a, ast.Name) and a.id == "id_col":
                    continue
                offenders.append(
                    f"{py.relative_to(pkg)}:{node.lineno}: scale_out key "
                    f"{ast.dump(a) if not isinstance(a, ast.Constant) else a.value!r}"
                    " is not a known high-cardinality column — add the"
                    " column to HIGH_CARD only if it is row-grain"
                )
    assert not offenders, "\n".join(offenders)


def test_round11_new_ops_plan_shapes(spark):
    """Physical-plan pins for the round-11 operators: no cartesian
    product; the q314 per-doc scan is a single-scan projection (no
    join, no shuffle beyond its output sort) and q315's only joins are
    the broadcast of the |sources|-row top-term/totals frames; q316's
    centroid assignment joins are broadcast (centroids / edges /
    totals / psi frames are all |labels|- or bucket-bounded)."""
    from githubrepostorag_spark.operators import curation as CU
    from githubrepostorag_spark.operators import dedup as DD
    from githubrepostorag_spark.operators import eventops as E
    from githubrepostorag_spark.operators import similarity_audit as S
    from githubrepostorag_spark.operators import textops as TO
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plans = {
        "q314": TO.unsafe_content_scan(docs),
        "q315": TO.unsafe_content_report(docs),
        "gate": TO.unsafe_page_filter(docs),
        "q316": S.centroid_dist_psi(emb),
        "q317": S.intrinsic_dim_twonn(emb),
        "q318": TO.length_drift_fdr(docs),
        "q319": E.ewma_volume_alarms(events),
        "q320": DD.dup_ngram_share(docs),
        "q321": CU.bootstrap_mean_ci(docs),
        "q322": TO.good_turing_mass(docs),
        "q323": E.user_concentration(events),
        "q324": DD.transitivity_audit(
            spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
            spark.createDataFrame([(1,), (2,), (3,)], "node long"),
        ),
        "q325": E.diurnal_entropy(events),
        "q326": TO.char_class_profile(docs),
    }
    for name, df in plans.items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan, (name, plan)
    # the gate form is a pure filter: no exchange at all
    gate_plan = plans["gate"]._sc._jvm.PythonSQLUtils.explainString(
        plans["gate"]._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in gate_plan, gate_plan
    # q315's joins broadcast (top-term + totals are |sources|-bounded)
    rep_plan = plans["q315"]._sc._jvm.PythonSQLUtils.explainString(
        plans["q315"]._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in rep_plan, rep_plan
    # q316: every join is a broadcast (the corpus never shuffles for
    # centroid assignment) and no single-task window survives the
    # half-split (global_rank handles it)
    psi_plan = plans["q316"]._sc._jvm.PythonSQLUtils.explainString(
        plans["q316"]._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in psi_plan, psi_plan


def test_takedown_dataframe_ids_equals_list_ids(spark, tmp_path):
    """r12 ADVICE close-out: the mass-revocation path — doc_ids as a
    DataFrame — produces byte-identical stores and the same audit as
    the list path (broadcast joins instead of isin literals; the id
    set never collects), and the IVF delete accepts the id frame
    directly."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators.dedup import write_dedup_store
    from githubrepostorag_spark.operators.similarity import write_ivf_store
    from githubrepostorag_spark.plans.index_lifecycle import takedown
    from githubrepostorag_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    doomed = [int(r["doc_id"]) for r in docs.orderBy("doc_id").limit(6).collect()]

    def build(tag):
        root = tmp_path / tag
        c, i, d = str(root / "c"), str(root / "i"), str(root / "d")
        docs.select("doc_id", "source", "text").write.parquet(c)
        write_ivf_store(emb, i)
        write_dedup_store(docs, d)
        return c, i, d

    c1, i1, d1 = build("list")
    a1 = {r.step: r.value for r in takedown(spark, c1, i1, d1, doomed).collect()}
    c2, i2, d2 = build("frame")
    ids_df = spark.createDataFrame([(x,) for x in doomed], "doc_id long")
    a2 = {r.step: r.value for r in takedown(spark, c2, i2, d2, ids_df).collect()}
    assert a1 == a2
    assert a1["n_requested"] == 6 and a1["n_corpus_removed"] == 6
    assert a1["n_ivf_deleted"] >= 0  # whatever overlaps the vec space
    # final states identical
    for p1, p2, key in ((c1, c2, "doc_id"), (i1, i2, "vec_id")):
        s1 = sorted(r[key] for r in spark.read.parquet(p1).select(key).collect())
        s2 = sorted(r[key] for r in spark.read.parquet(p2).select(key).collect())
        assert s1 == s2
    live1 = sorted(
        r.doc_id for r in spark.read.parquet(d1 + "/tombstones").collect()
    )
    live2 = sorted(
        r.doc_id for r in spark.read.parquet(d2 + "/tombstones").collect()
    )
    assert live1 == live2 == sorted(doomed)
