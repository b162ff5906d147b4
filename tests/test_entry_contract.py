"""Driver-contract tests: entry() runs, queries()/oracle_sql() are consistent."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 5
    cols = set(df.columns)
    assert {"vec_id", "label", "score", "snippet"} <= cols
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_queries_have_oracles():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key refers to a real query
    assert set(oracles) <= set(qs)


def test_normalize_neg_zero_rewrite():
    """The mechanical -0.0 normalizer: every round(...) call gets
    ` + 0.0` appended at its own closing paren — nesting, lambdas, and
    quoted literals with parens/escaped quotes must not derail the
    paren balancing; word-boundary guard must skip round_half etc."""
    nz = entry_mod._normalize_neg_zero
    assert nz("SELECT round(x, 6) FROM t") == "SELECT (round(x, 6) + 0.0) FROM t"
    # the parens are load-bearing: a following '*' must multiply the
    # ROUND result, not the 0.0 (the q214 precedence bug)
    assert (
        nz("floor(round(c, 6) * 1000000.0 + 0.5)")
        == "floor((round(c, 6) + 0.0) * 1000000.0 + 0.5)"
    )
    # nested rounds: both sites normalized, inner insert inside outer
    assert (
        nz("round(a + round(b, 2), 6)")
        == "(round(a + (round(b, 2) + 0.0), 6) + 0.0)"
    )
    # parens inside a quoted literal (regex) don't unbalance the scan
    assert (
        nz("round(len(regexp_extract_all(t, '([a-z)]+')), 2) AS n")
        == "(round(len(regexp_extract_all(t, '([a-z)]+')), 2) + 0.0) AS n"
    )
    # '' escaped quote inside a literal
    assert (
        nz("round(len('it''s (ok)'), 1)") == "(round(len('it''s (ok)'), 1) + 0.0)"
    )
    # identifiers containing 'round' are left alone
    assert nz("workaround(x)") == "workaround(x)"
    assert nz("x_round(y)") == "x_round(y)"
    # lambda arrows / list_reduce bodies survive
    s = "list_transform(cs, s -> round(-list_reduce(l, (a, b) -> a + b), 6))"
    assert nz(s) == (
        "list_transform(cs, s -> (round(-list_reduce(l, (a, b) -> a + b), 6) + 0.0))"
    )
    # 'round(' INSIDE a quoted literal is text, not a call: rewriting
    # it would corrupt the literal and invert the quote state of the
    # paren scan for everything after it (ADVICE r7)
    assert (
        nz("SELECT 'use round(x) here' AS note, round(y, 2) AS r")
        == "SELECT 'use round(x) here' AS note, (round(y, 2) + 0.0) AS r"
    )
    # literal-interior match with an UNBALANCED paren inside the string
    assert (
        nz("SELECT regexp_extract(t, 'round([0-9]+') AS m, round(z, 6) AS r")
        == "SELECT regexp_extract(t, 'round([0-9]+') AS m, (round(z, 6) + 0.0) AS r"
    )
    # escaped-quote literal containing round( — still skipped
    assert nz("SELECT 'it''s round(' AS s") == "SELECT 'it''s round(' AS s"


def test_oracles_all_normalized_and_parse(duck):
    """Every returned oracle has the normalizer applied (any oracle
    containing round( must also carry a '+ 0.0'), and DuckDB can still
    plan every statement (EXPLAIN = parse + bind against the views)."""
    oracles = entry_mod.oracle_sql()
    for name, sql in oracles.items():
        if "round(" in sql.replace("round (", "round("):
            assert "+ 0.0" in sql, name
    # parse/bind every oracle (EXPLAIN runs the planner, not the query)
    for name, sql in oracles.items():
        duck.execute(f"EXPLAIN {sql}")


def test_queries_run_and_match_oracle_sample(spark, duck):
    """A fast subset of the full gate (tools/check_parity.py runs it all)."""
    import pandas as pd

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    sample = [
        "q01_pricing_summary",
        "q05_topk_per_group",
        "q13_events_sessionize",
        "q16_doc_token_stats",
        "q20_doc_chunks",
        "q26_simhash",
        "q28_knn_bruteforce",
        "q33_graph_2hop",
        "q36_code_chunks",
        "q37_file_rollup",
        "q38_module_rollup",
        "q39_vector_rows",
        "q40_retrieve_chunk",
        "q41_enrich_chunks",
        "q42_preprocess_flags",
        "q43_component_kind",
    ]
    for name in sample:
        sdf = qs[name](spark, "/root/testdata/sf0.001").toPandas()
        ddf = duck.execute(oracles[name]).fetchdf()
        assert sorted(sdf.columns) == sorted(ddf.columns), name
        assert len(sdf) == len(ddf), name
        a = sdf[sorted(sdf.columns)].sort_values(by=sorted(sdf.columns), ignore_index=True)
        b = ddf[sorted(ddf.columns)].sort_values(by=sorted(ddf.columns), ignore_index=True)
        for col in a.columns:
            if a[col].dtype.kind == "f":
                assert (a[col] - b[col]).abs().max() < 1e-9, (name, col)
            else:
                assert a[col].astype(str).equals(b[col].astype(str)), (name, col)
