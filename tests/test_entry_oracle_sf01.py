"""Dual-SF oracle cross-check (opt-in: SPARK_GRAFT_XSF=1).

The driver's gate runs at sf0.01; re-running every oracled query at
sf0.1 exercises different key ranges and accumulation depths, which is
how the .xx5 FP-rounding divergence in order_consistency was caught
(2 of 147k orders). Skipped by default to keep the main suite fast —
run in final sweeps: SPARK_GRAFT_XSF=1 python -m pytest
tests/test_entry_oracle_sf01.py -q
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_XSF") != "1",
    reason="dual-SF sweep is opt-in (SPARK_GRAFT_XSF=1)",
)

SF_DIR = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
# these oracles read materialized parquets whose paths are pinned to
# the driver's sf0.01 run
SF_PINNED = {
    "extract_conversation_rollup",
    "extract_quality_drift",
    "extract_spans_consistency",
    # reads the persisted-codebook parquet the driver's sf0.01 run
    # materializes (the codebook is retrained per SF, so the sf0.01
    # twin can't check an sf0.1 search)
    "simsearch_ivf_centroids",
    "embedding_clusters",
    "dedup_conversations",
    "transcript_prepare",
    # reads the persisted hash-embed vector artifact materialized at
    # the driver's sf0.01 path; the sf0.1 form is cross-checked by
    # test_text_semantic_adaptive_sf01 below with a per-SF artifact
    "dedup_text_semantic_adaptive",
    # same artifact + the trained-weights parquet; sf0.1 form is
    # cross-checked by test_quality_classifier_sf01 below
    "quality_classifier",
    # adaptive pairs + closure over the sf0.01-pinned artifact
    "dedup_semantic_apply",
}


# entries whose Spark result is empty at sf0.1; every other oracled
# entry must return rows, so the sweep never compares two empty sets
EMPTY_AT_SF01 = {
    "dedup_ngram_jaccard": "no near-dup pair below doc_id 200 (7 below 1000)",
    "dedup_cluster_assign": "components over dedup_ngram_jaccard's empty pairs",
    "event_set_ops": "every purchaser also logs an error: the EXCEPT is empty",
}


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


ORACLED = sorted(
    (set(entry_mod.oracle_sql()) & set(entry_mod.queries())) - SF_PINNED
)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle_at_sf01(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = ddb.sql(entry_mod.oracle_sql()[name])
    ocols = res.columns
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols), f"{name}: column names differ"
    assert len(spark_rows) == len(orows), f"{name}: row count differs"
    assert _normalize(spark_rows, cols) == _normalize(orows, ocols), name
    if name not in EMPTY_AT_SF01:
        assert spark_rows, f"{name}: empty at sf0.1, an empty-set comparison"


def test_text_semantic_adaptive_sf01(spark, ddb):
    """dedup_text_semantic_adaptive at sf0.1 with a per-SF artifact:
    the entry materializes the hash-embed vectors + rp_lsh_params at
    the sf0.1-keyed path, and the same twin (parametrized by sf_dir)
    replays hyperplanes/buckets/pairs/cosines from those parquets —
    so the adaptive plan (wider sign_dims, more vectors, deeper
    aggregation) is cross-engine-checked at the bench scale, not just
    the driver's sf0.01."""
    name = "dedup_text_semantic_adaptive"
    df = entry_mod.queries()[name](spark, SF_DIR)
    cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = ddb.sql(
        entry_mod._dedup_text_semantic_adaptive_oracle(sf_dir=SF_DIR)
    )
    ocols = res.columns
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(spark_rows) == len(orows)
    assert spark_rows, "sf0.1 adaptive form found no near-dup pairs"
    assert _normalize(spark_rows, cols) == _normalize(orows, ocols)


def test_dedup_semantic_apply_sf01(spark, ddb):
    """Semantic keep-list at sf0.1 with the per-SF artifact: the
    adaptive pair stage + recursive-closure components replayed by the
    twin over the same parquets at 10x the corpus."""
    name = "dedup_semantic_apply"
    df = entry_mod.queries()[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in df.collect()]
    res = ddb.sql(entry_mod._dedup_semantic_apply_oracle(sf_dir=SF_DIR))
    orows = res.fetchall()
    assert sorted(df.columns) == sorted(res.columns)
    assert 0 < len(spark_rows) == len(orows)
    assert _normalize(spark_rows, df.columns) == _normalize(orows, res.columns)


def test_quality_classifier_sf01(spark, ddb):
    """quality_classifier at sf0.1 with per-SF artifacts: trains on the
    sf0.1 corpus (5,000 docs — different label balance and count
    magnitudes than the driver's 500), persists per-SF vectors +
    weights, and the twin replays scoring from those parquets."""
    name = "quality_classifier"
    df = entry_mod.queries()[name](spark, SF_DIR)
    cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = ddb.sql(entry_mod._quality_classifier_oracle(sf_dir=SF_DIR))
    ocols = res.columns
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(spark_rows) == len(orows) > 0
    assert _normalize(spark_rows, cols) == _normalize(orows, ocols)
