"""Driver-contract smoke: every registered query runs at sf0.001, returns a
stable schema, and has a same-named oracle (or is a documented weak check)."""

from __future__ import annotations

import hashlib
import pathlib

import pytest

import __spark_entry__ as entry_mod
from stellar_etl_spark.oracles import ORACLES
from stellar_etl_spark.queries import QUERIES

# Queries intentionally without a SQL oracle (rows-only driver check).
WEAK_OK: set[str] = set()


def test_registry_oracle_alignment():
    assert set(ORACLES) - set(QUERIES) == set()
    assert set(QUERIES) - set(ORACLES) == WEAK_OK


# One sha256 per ORACLES key ("<hex>  <key>" lines).  After an intended
# oracle change, regenerate from the repo root with:
#   python -c "from tests.test_entry_contract import oracle_digests as d; print(*(f'{h}  {k}' for k, h in sorted(d().items())), sep=chr(10))" > tests/oracle_sql.sha256
_ORACLE_PINS = pathlib.Path(__file__).with_name("oracle_sql.sha256")


def oracle_digests() -> dict[str, str]:
    """sha256 of each oracle's SQL without its whole-line ``--`` comments:
    comment text may move (e.g. to a Python comment on a shared fragment);
    every other byte of the statement is pinned."""
    return {
        k: hashlib.sha256("".join(
            line for line in sql.splitlines(keepends=True)
            if not line.lstrip().startswith("--")
        ).encode()).hexdigest()
        for k, sql in ORACLES.items()
    }


def test_oracle_sql_pinned():
    """Refactors of the oracle module (shared fragments, moved comments)
    must leave every statement the DuckDB side executes unchanged."""
    pinned = {
        k: h for h, k in (
            line.split() for line in _ORACLE_PINS.read_text().splitlines()
        )
    }
    current = oracle_digests()
    changed = sorted(
        k for k in pinned.keys() | current.keys()
        if pinned.get(k) != current.get(k)
    )
    assert changed == [], f"oracle SQL text changed for: {changed}"


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["r_name", "n_name", "revenue", "n_items"]


# Fast-tier smoke subset: every operator family represented (TPC-H star
# joins + decimals, entity transforms, state changes, token events, text,
# dedup, similarity/clustering, graph iteratives, packing/sampling,
# streaming batch-twins, multimodal, analytics windows/Markov).  The full
# 240-query smoke runs under SPARK_GRAFT_FULL_TESTS=1; the driver's own
# oracle gate additionally value-checks 50 rotating queries per round.
_SMOKE_FAST = {
    "tpch_q1_pricing_summary", "tpch_q5_region_revenue",
    "tpch_q9_product_profit", "tpch_q17_small_quantity",
    "tpch_q21_waiting_supplier", "supplier_nation_revenue",
    "tx_projection", "op_details_switch", "op_sponsorship_scan",
    "trade_atoms", "effects_fanout", "token_transfer_classify",
    "changes_accounts", "changes_contract_data", "changes_ttl",
    "signers_weight_explode", "contract_events_decode",
    "offer_star_fact", "ledger_tx_passthrough", "toid_pack_roundtrip",
    "ledger_close_agg", "change_compaction", "batch_windows_5min",
    "first_sighting_dedup", "props_json_agg",
    "token_stats", "text_quality_score", "language_id", "top_bigrams",
    "bpe_token_stats", "word_explode_counts", "clean_text",
    "exact_dedup", "minhash_near_dup", "simhash_near_dup",
    "ngram_jaccard_near_dup", "near_dup_clusters", "segment_dedup_reconstruct",
    "knn_cosine_bruteforce", "embedding_label_centroids", "ivf_knn_approx",
    "kmeans_clusters", "pq_ann_search", "semantic_dedup",
    "embedding_quantization", "tfidf_cosine_sim",
    "supplier_part_pagerank", "harmonic_centrality_seeds",
    "k_core_decomposition", "community_modularity",
    "copurchase_communities", "copurchase_triangles",
    "sequence_packing", "deterministic_sample", "train_val_test_split",
    "stratified_sample", "domain_mix_sample",
    "sessionize_events", "running_state_snapshots", "snapshot_upsert",
    "sliding_windows_15min", "media_byte_features", "media_frame_sample",
    "media_resize_signature", "waveform_windows",
    "weekly_retention", "funnel_conversion", "rollup_revenue",
    "markov_removal_attribution", "event_markov_stationary",
    "salted_skew_join", "user_value_scd2",
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in _SMOKE_FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert len(df.columns) > 0
    assert df.count() >= 0


@pytest.mark.slow
def test_all_queries_survive_empty_inputs(spark, tmp_path_factory):
    """Robustness gate (round 7): every registered query must run — not
    crash — on ZERO-row inputs with the production schemas.  A 100 TB
    pipeline sees empty partitions/days constantly; the sweep caught a real
    ANSI REMAINDER_BY_ZERO in exact_ratio_round6 when a child table is
    empty (den=0 now yields NULL, matching DuckDB's `x % 0`)."""
    import duckdb

    d = str(tmp_path_factory.mktemp("sf_empty"))
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' "
            f"LIMIT 0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()

    failures = {}
    for name, fn in QUERIES.items():
        try:
            fn(spark, d).limit(1).collect()
        except Exception as ex:  # noqa: BLE001 — collecting all offenders
            failures[name] = f"{type(ex).__name__}: {str(ex)[:120]}"
    assert failures == {}


@pytest.mark.slow
def test_all_queries_survive_hostile_inputs(spark, tmp_path_factory):
    """Robustness gate (round 7, widened round 8): every registered query
    must run on the HOSTILE corpus — NULL/empty/whitespace/unicode text,
    NULL event attributes, and (r8) adversarial orders/lineitem rows that
    flow through the derived entity transforms: 0-op transactions, orphan
    ops, NULL accounts/assets/amounts, zero/negative/boundary-magnitude
    quantities (tools/make_hostile.py).  The r7 sweep caught 13 hard
    crashes (ANSI divide-by-zero on empty shingle sets, array-index on
    NULL-fused group keys, None payloads in Python kernels, a descending
    sequence() phantom frame); the r8 extension caught 7 cross-engine
    divergences (ANSI cast crash on non-numeric JSON, DECIMAL(18) product
    overflow, NULL graph nodes, signed round-half divergence, NULL-day
    window ordering, '||'-vs-concat_ws NULL handling, CAST-vs-trunc on
    fractional doubles).  Cross-engine agreement on this corpus is
    additionally provable with
    `python tools/check_correctness.py /tmp/sf_hostile` (240/240, r8);
    this test pins the no-crash half in the suite."""
    from tools.make_hostile import build

    d = build("/root/testdata/sf0.001", str(tmp_path_factory.mktemp("hostile")))
    failures = {}
    for name, fn in QUERIES.items():
        try:
            fn(spark, d).collect()
        except Exception as ex:  # noqa: BLE001 — collecting all offenders
            failures[name] = f"{type(ex).__name__}: {str(ex)[:120]}"
    assert failures == {}


@pytest.mark.slow
def test_duplicate_key_inputs_run_and_dedup_remediates(
    spark, tmp_path_factory
):
    """Input contract probe (round 8): the driver tables are KEYED
    (doc_id/event_id unique — the reference's datastore cannot even hold a
    duplicate ledger: the filename IS the sequence).  At-least-once
    ingestion can still deliver full-row duplicates, so two properties are
    pinned WITHOUT forcing a dedup shuffle into every operator (the wrong
    trade at 100 TB):

    1. no query CRASHES on duplicated keys — a round-8 sweep found 11
       output-multiplicity differences vs the oracles (per-row operators ×
       GROUP BY twins) but ZERO errors; per-row outputs for duplicated
       inputs are duplicated, which downstream consumers dedupe by key;
    2. the shipped remediation path works: ``exact_dedup`` collapses the
       full-row duplicates back to one survivor per content, after which
       the keyed contract holds again."""
    import duckdb

    from stellar_etl_spark.operators.dedup import exact_dedup

    d = str(tmp_path_factory.mktemp("dups"))
    src = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "embeddings"):
        con.sql(f"COPY (SELECT * FROM '{src}/{t}.parquet') "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)")
    con.sql(f"""COPY (
      SELECT * FROM '{src}/events.parquet'
      UNION ALL SELECT * FROM
        (SELECT * FROM '{src}/events.parquet' ORDER BY event_id LIMIT 3)
    ) TO '{d}/events.parquet' (FORMAT PARQUET)""")
    con.sql(f"""COPY (
      SELECT * FROM '{src}/documents.parquet'
      UNION ALL SELECT * FROM
        (SELECT * FROM '{src}/documents.parquet' ORDER BY doc_id LIMIT 2)
    ) TO '{d}/documents.parquet' (FORMAT PARQUET)""")
    n_docs = con.sql(
        f"SELECT COUNT(*) FROM '{src}/documents.parquet'"
    ).fetchone()[0]
    con.close()

    # (1) no crashes across the registry on duplicated keys
    failures = {}
    for name, fn in QUERIES.items():
        try:
            fn(spark, d).limit(1).collect()
        except Exception as ex:  # noqa: BLE001 — collecting all offenders
            failures[name] = f"{type(ex).__name__}: {str(ex)[:120]}"
    assert failures == {}

    # (2) exact_dedup restores one survivor per content
    docs = spark.read.parquet(f"{d}/documents.parquet").where(
        "text IS NOT NULL"
    )
    survivors = exact_dedup(docs, "doc_id", "text")
    assert survivors.where("dup_count > 1").count() >= 2
    assert survivors.groupBy("doc_id").count().where("count > 1").count() == 0


def test_no_collect_in_operator_paths():
    """Scale guard: operator/query modules must not materialize to the
    driver.  A line may opt out ONLY with an explicit
    ``# bounded-driver-action:`` marker stating why the result set is
    driver-sized by construction (the same documented-bounded-action class
    as the convergence counts) — so every exception is visible in the diff
    and greppable, never implicit."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "stellar_etl_spark"
    for py in root.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "bounded-driver-action:" in line:
                continue
            assert ".collect()" not in line, f"driver-side collect in {py}:{i}"
            assert ".toPandas()" not in line, f"driver-side toPandas in {py}:{i}"
