"""A registry query leaves the shared session as it found it.

After a query returns and its result is collected, the session holds
no cached plan, no new temp view and no changed conf key; the temp
dirs hold no new entry; and the only new persistent RDD is the
localCheckpoint the result itself reads. The three queries cover the
persist, stream-stage and memory-sink lifecycles.
"""

from __future__ import annotations

import os
import tempfile

from etl_upc_syllabus_spark.plans import all_specs

QUERIES = ("dedup_minhash_lsh", "stream_cdc_upsert", "stream_window_counts")


def _temp_views(spark) -> set[str]:
    it = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*").iterator()
    names = set()
    while it.hasNext():
        names.add(it.next().table())
    return names


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_queries_leave_the_session_as_found(spark, sf_dir, tmp_path, monkeypatch):
    tmp_root, ckpt_root = tmp_path / "tmp", tmp_path / "ckpt"
    tmp_root.mkdir()
    ckpt_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", str(ckpt_root))
    # a plan cached by an earlier test in this session is not these
    # queries' leak
    spark.catalog.clearCache()
    views, conf = _temp_views(spark), dict(spark.conf.getAll)
    rdds = _persistent_rdd_ids(spark)

    results = {}
    for name in QUERIES:
        results[name] = all_specs()[name].fn(spark, sf_dir)
        results[name].collect()

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _temp_views(spark) == views
    assert dict(spark.conf.getAll) == conf
    assert os.listdir(tmp_root) == [] and os.listdir(ckpt_root) == []
    checkpoint = results["dedup_minhash_lsh"]._jdf.queryExecution().analyzed()
    assert _persistent_rdd_ids(spark) - rdds == {checkpoint.rdd().id()}
