"""Every registered query with an oracle must match it (driver-gate replica)."""

from __future__ import annotations

import os
import tempfile

import pytest

from etl_upc_syllabus_spark.plans import all_specs

from .oracle_harness import compare, duckdb_run
from .test_session_hygiene import _temp_views

SPECS = all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
NO_ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)


@pytest.fixture
def session_as_found(spark, tmp_path, monkeypatch):
    """The test's query leaves the shared session and the disk as it
    found them: no cached plan; temp views, conf, the warehouse listing
    and the catalog's tables unchanged; the temp and stream-checkpoint
    roots (redirected here) empty. Persistent RDDs are accounted in
    test_session_hygiene.py."""
    tmp_root, ckpt_root = tmp_path / "tmp", tmp_path / "ckpt"
    tmp_root.mkdir()
    ckpt_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", str(ckpt_root))
    # a plan cached by an earlier test is not this query's leak
    spark.catalog.clearCache()
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def state() -> dict:
        return {
            "temp views": _temp_views(spark),
            "conf": dict(spark.conf.getAll),
            "warehouse": sorted(os.listdir(warehouse)) if os.path.isdir(warehouse) else [],
            "tables": sorted(t.name for t in spark.catalog.listTables()),
        }

    before = state()
    yield
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), "cached plans left"
    assert state() == before
    assert os.listdir(tmp_root) == [] and os.listdir(ckpt_root) == []


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, name, session_as_found):
    spec = SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    odf = duckdb_run(spec.oracle, sf_dir)
    compare(sdf, odf, name)


@pytest.mark.parametrize("name", NO_ORACLE_NAMES)
def test_rows_only(spark, sf_dir, name, session_as_found):
    """Weaker check for non-SQL-expressible ops: runs, has stable schema."""
    spec = SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    assert len(sdf.columns) > 0
    assert sdf.count() >= 0


# --- second-SF parity (VERDICT r6 item 5) -----------------------------------
# The suite above runs at the conftest SF (sf0.001 by default); the
# driver gate runs at sf0.01. Queries whose logic is size-sensitive
# (percentile pre-aggregates, sampling cuts, reservoir priorities, LSH
# band/bucket collision structure, quantile gates, histogram bin
# population, packing bins) are re-checked at the OTHER fixture size so
# a fixture-size assumption cannot hide between driver rotations.

SIZE_SENSITIVE = [
    # -- the 7 queries whose plans were reworked in r7 after their last
    # driver check (VERDICT r7 item 8): both-SF replica coverage here
    # while the driver rotation catches up
    "agg_approx",
    "decontaminate_ngram_overlap",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "gopher_repetition_filter",
    "similarity_topk_ivf",
    "text_fingerprint",
    # -- the r8-continuation null-safety rework (NULL-embedding
    # exclusion + ANSI-safe probe indexing) changed these queries'
    # plans after their r07 driver check: both-SF replica coverage
    # while the rotation catches up, same protocol as above
    "similarity_kmeans_lloyd",
    "embedding_pq_encode",
    "similarity_topk_pq_adc",
    "similarity_topk_bruteforce",
    "stream_stateful_totals",
    # -- the r8-continuation linear chunked-shingle rework (quadratic
    # substr scan removed): text_fingerprint is listed above; the
    # chunker shares the same builder at k=120/stride=100
    "text_chunking",
    # -- streaming stragglers on the r8 directory-capable staging
    # (VERDICT r8 item 5): these three run through the reworked flush
    # harness but sat outside this list and the r08 driver batch, so
    # the staging rework had no two-SF value evidence of its own
    "stream_anomaly_flags",
    "stream_cdc_upsert",
    "stream_media_decode",
    # -- size-sensitive logic (r6 item 5)
    "agg_histogram_fixed_bins",
    "agg_percentiles",
    "dedup_containment",
    "dedup_incremental_batch",
    "dedup_lsh_recall",
    "dedup_minhash_bands",
    "dedup_minhash_lsh",
    "dedup_pipeline_e2e",
    "domain_cap_sample",
    "dq_heavy_hitters",
    "feature_quantile_bucket",
    "sample_stratified_by_lang",
    "sample_weighted_reservoir",
    "sequence_packing",
    "similarity_ann_recall",
    "similarity_topk_ivf_pq",
    "similarity_topk_ivf_pq_rerank",
    "similarity_topk_lsh",
    "split_train_val_test",
    "supplier_lead_time_percentiles",
    "text_quality_quantile_gate",
]

import os

from .conftest import SF_DIR as _MAIN_SF

# sibling fixture dir next to the (overridable) main one, so a custom
# SPARK_GRAFT_TEST_SF_DIR relocates both SFs together
_SF_ROOT = os.path.dirname(_MAIN_SF.rstrip("/"))
_OTHER_SF = os.path.join(
    _SF_ROOT,
    "sf0.01" if os.path.basename(_MAIN_SF.rstrip("/")) == "sf0.001" else "sf0.001",
)


@pytest.mark.skipif(
    not os.path.isdir(_OTHER_SF),
    reason=f"sibling fixture dir {_OTHER_SF} absent (single-fixture environment)",
)
@pytest.mark.parametrize("name", SIZE_SENSITIVE)
def test_oracle_parity_second_sf(spark, name):
    spec = SPECS[name]
    assert spec.oracle is not None, f"{name} lost its oracle"
    sdf = spec.fn(spark, _OTHER_SF)
    odf = duckdb_run(spec.oracle, _OTHER_SF)
    compare(sdf, odf, f"{name}@{_OTHER_SF}")
