"""Driver-contract smoke tests: entry() runs, every queries() entry runs and
returns rows with a stable schema, and oracle keys are a subset of queries.
Full value-vs-oracle verification lives in tools/verify_local.py (run at
sf0.01); these tests keep the contract importable and runnable at sf0.001.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert len(df.columns) > 0
    assert df.count() > 0


@pytest.mark.slow
def test_queries_all_run(spark, sf_dir):
    qs = entrymod.queries()
    assert len(qs) >= 20
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()  # must execute without error


def test_oracle_keys_subset():
    qs = set(entrymod.queries())
    oracle = set(entrymod.oracle_sql())
    assert oracle <= qs
    # every oracle is non-empty SQL
    for name, sql in entrymod.oracle_sql().items():
        assert sql.strip().upper().startswith(("SELECT", "WITH")), name


@pytest.mark.slow
def test_oracle_columns_match_spark_schema(spark, sf_dir):
    """Column-name parity, the contract invariant the driver's value-hash
    silently punishes: for every oracle-bearing query, DuckDB's DESCRIBE
    of the oracle SQL must name exactly the Spark result's columns.
    Analysis-only on both sides (no query execution)."""
    import duckdb

    from kafka_flink_slack_pipeline_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    mismatches = {}
    for name, sql in entrymod.oracle_sql().items():
        spark_cols = sorted(qs[name](spark, sf_dir).columns)
        oracle_cols = sorted(
            r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()
        )
        if spark_cols != oracle_cols:
            mismatches[name] = (spark_cols, oracle_cols)
    assert not mismatches, mismatches


def test_demotion_tuple_names_are_real_and_unique():
    """A typo'd or stale name in _DEMOTED silently no-ops (the sort key
    treats it as 'not demoted' for every real query) — pin that every
    entry names a registered query exactly once."""
    from kafka_flink_slack_pipeline_spark.plans.registry import (
        _DEMOTED,
        all_queries,
    )

    names = set(all_queries())
    unknown = [d for d in _DEMOTED if d not in names]
    assert not unknown, f"_DEMOTED names not in registry: {unknown}"
    assert len(set(_DEMOTED)) == len(_DEMOTED), "duplicate demotions"


def test_window_keeps_parity_representatives():
    """The 50-entry driver window must always contain the reference-
    parity core (email chain) and one representative per north-star
    family — a future registration that silently displaces one of these
    should fail here, not in the next verdict."""
    from kafka_flink_slack_pipeline_spark.plans.registry import all_queries

    window = list(all_queries())[:50]
    required = [
        "email_clean_chain", "email_chunk_blocks",
        "email_hyperlink_headings", "email_blockkit_payload",
        "slack_mention_prompt",            # reference-parity core
        # r12: the minhash canary follows the family's narrated
        # parent-swap (dedup_minhash_lsh -> funnel_sigstore_served_lww:
        # the signature pipeline + pair kernel hash-check in-window
        # inside the certificate and inside corpus_curation_funnel's
        # stage 3; the batch op stays a bench headline and
        # verify_local-covered).
        "dedup_exact", "funnel_sigstore_served_lww",  # dedup family
        "cosine_topk_bruteforce",            # similarity baseline
        "image_byte_histogram",              # multimodal (F7)
        "corpus_curation_funnel",            # flagship composition
        "events_sessions_per_user",          # ST5
        "user_history_window",               # W1
        "last_events_per_user",              # W4
        # r7: the time-series canary follows the family's narrated swap
        # (events_ohlc_rollup -> lttb + anomaly; ohlc stays pinned by
        # the ohlc_rollup_stream parity test + verify_local).
        # r8: lttb -> gapfill, same rule (lttb stays a bench headline
        # and verify_local-covered; swap narrated in registry.py)
        "events_gapfill_locf",               # time-series window family
        "events_anomaly_zscore",             # time-series monitor
        "slack_llm_enrichment",              # U1 through the Arrow UDF
    ]
    missing = [q for q in required if q not in window]
    assert not missing, f"parity queries displaced from window: {missing}"
