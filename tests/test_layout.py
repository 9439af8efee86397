"""Write-time layout: range clustering bounds per-file key ranges (the
row-group-skipping precondition) and compaction bounds file counts."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_upc_syllabus_spark.sources.layout import compact, write_range_clustered


def test_range_clustered_files_cover_disjoint_ranges(spark, tmp_path):
    df = spark.range(0, 10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = os.path.join(str(tmp_path), "clustered")
    write_range_clustered(df, out, ["k"], n_ranges=8)

    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert 1 < len(files) <= 8
    # each file holds one contiguous, non-overlapping k-range
    spans = []
    for f in files:
        mn, mx = spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        spans.append((mn, mx))
    spans.sort()
    for (_, prev_max), (nxt_min, _) in zip(spans, spans[1:]):
        assert prev_max < nxt_min
    # nothing lost
    assert spark.read.parquet(out).count() == 10_000


def test_compact_bounds_file_count(spark, tmp_path):
    src = os.path.join(str(tmp_path), "fragmented")
    # simulate an incremental sink: many tiny appends
    for i in range(10):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(src)
    assert len(glob.glob(os.path.join(src, "part-*.parquet"))) >= 10

    out = os.path.join(str(tmp_path), "compacted")
    compact(spark, src, out, target_files=2)
    assert len(glob.glob(os.path.join(out, "part-*.parquet"))) <= 2
    assert spark.read.parquet(out).count() == 100


def test_fan_out_metadata_probe(spark, sf_dir, tmp_path):
    from etl_upc_syllabus_spark.sources.tables import fan_out, load_table

    cores = spark.sparkContext.defaultParallelism
    # tiny single-file scan -> repartitioned to full parallelism
    small = load_table(spark, sf_dir, "documents")
    assert fan_out(small).rdd.getNumPartitions() == cores
    # no file-based lineage (in-memory DF) -> conservative no-op
    mem = spark.range(10).toDF("x")
    assert fan_out(mem) is mem
    # already >= cores files -> no-op (identity, no shuffle added)
    many_dir = str(tmp_path / "many")
    spark.range(1000).repartition(cores + 1).write.parquet(many_dir)
    many = spark.read.parquet(many_dir)
    assert fan_out(many) is many


# --- snapshot publish (r13): manifest-committed atomic versions -------------


def test_snapshot_publish_roundtrip_and_versioning(spark, tmp_path):
    from etl_upc_syllabus_spark.sources.layout import (
        publish_snapshot,
        read_current_snapshot,
    )

    t = str(tmp_path / "tbl")
    publish_snapshot(spark.range(5).withColumnRenamed("id", "v"), t)
    assert read_current_snapshot(spark, t).count() == 5
    p2 = publish_snapshot(spark.range(3).withColumnRenamed("id", "v"), t)
    assert p2.endswith("snapshot-00000001")
    assert read_current_snapshot(spark, t).count() == 3


def test_snapshot_reader_survives_a_racing_publish(spark, tmp_path):
    """The property the layer exists for (r13 overwrite race, measured:
    in-place overwrite makes a pinned fail-fast reader die loudly and a
    resilient reader return 0 rows silently): a reader pinned to
    snapshot N keeps returning N's exact rows after N+1 publishes,
    because no publish deletes live files."""
    from etl_upc_syllabus_spark.sources.layout import (
        publish_snapshot,
        read_current_snapshot,
    )

    t = str(tmp_path / "tbl")
    publish_snapshot(spark.range(100).withColumnRenamed("id", "v"), t)
    pinned = read_current_snapshot(spark, t)  # analysis pins the file list
    assert pinned.count() == 100
    publish_snapshot(spark.range(7).withColumnRenamed("id", "v"), t)
    assert pinned.count() == 100  # unharmed by the publish
    assert read_current_snapshot(spark, t).count() == 7  # new readers see v1


def test_snapshot_unpublished_table_is_loud(spark, tmp_path):
    import pytest

    from etl_upc_syllabus_spark.sources.layout import read_current_snapshot

    t = str(tmp_path / "tbl")
    os.makedirs(t)
    with pytest.raises(FileNotFoundError, match="no _CURRENT manifest"):
        read_current_snapshot(spark, t)


def test_vacuum_keeps_window_and_never_the_current(spark, tmp_path):
    from etl_upc_syllabus_spark.sources.layout import (
        publish_snapshot,
        read_current_snapshot,
        vacuum_snapshots,
    )

    t = str(tmp_path / "tbl")
    for n in (4, 5, 6, 7):
        publish_snapshot(spark.range(n).withColumnRenamed("id", "v"), t)
    deleted = vacuum_snapshots(t, keep=2)
    assert deleted == ["snapshot-00000000", "snapshot-00000001"]
    assert read_current_snapshot(spark, t).count() == 7

    # _CURRENT is force-kept even outside the keep window: point the
    # manifest at the oldest remaining snapshot, vacuum keep=1
    with open(os.path.join(t, "_CURRENT"), "w") as fh:
        fh.write("snapshot-00000002\n")
    deleted2 = vacuum_snapshots(t, keep=1)
    assert "snapshot-00000002" not in deleted2
    assert read_current_snapshot(spark, t).count() == 6

    import pytest

    with pytest.raises(ValueError, match="keep"):
        vacuum_snapshots(t, keep=0)


def test_orphan_snapshot_from_killed_publish_is_invisible(spark, tmp_path):
    """A publish killed between the data write and the manifest flip
    leaves an orphan snapshot dir _CURRENT never pointed at: readers
    never see it, the next publish takes the next version number, and
    vacuum reclaims it."""
    from etl_upc_syllabus_spark.sources.layout import (
        publish_snapshot,
        read_current_snapshot,
        vacuum_snapshots,
    )

    t = str(tmp_path / "tbl")
    publish_snapshot(spark.range(5).withColumnRenamed("id", "v"), t)
    # simulate the kill: snapshot dir exists, manifest never flipped
    spark.range(999).withColumnRenamed("id", "v").write.parquet(
        os.path.join(t, "snapshot-00000001")
    )
    assert read_current_snapshot(spark, t).count() == 5  # orphan invisible
    publish_snapshot(spark.range(2).withColumnRenamed("id", "v"), t)
    assert read_current_snapshot(spark, t).count() == 2  # took version 2
    deleted = vacuum_snapshots(t, keep=1)
    assert "snapshot-00000001" in deleted  # orphan reclaimed


def test_flip_refuses_to_roll_back_past_a_concurrent_winner(spark, tmp_path):
    """Review r13 pass 3: if a faster concurrent publisher committed a
    HIGHER version while this one's data wrote, the flip raises instead
    of silently rolling the table back; the loser's snapshot becomes a
    vacuum-reclaimable orphan."""
    import pytest

    from etl_upc_syllabus_spark.sources.layout import (
        _flip_manifest,
        publish_snapshot,
        read_current_snapshot,
        vacuum_snapshots,
    )

    t = str(tmp_path / "tbl")
    publish_snapshot(spark.range(5).withColumnRenamed("id", "v"), t)  # v0
    publish_snapshot(spark.range(9).withColumnRenamed("id", "v"), t)  # v1, current
    # the slow loser tries to flip back to v0
    with pytest.raises(RuntimeError, match="concurrent publish won"):
        _flip_manifest(t, 0, "snapshot-00000000")
    assert read_current_snapshot(spark, t).count() == 9  # table unharmed


def test_vacuum_orders_versions_numerically_and_reclaims_tmp(spark, tmp_path):
    """Review r13 pass 3: lexicographic order breaks at the 9th digit;
    vacuum must doom the numerically oldest snapshots. Stale temp
    manifests from killed flips are reclaimed too."""
    from etl_upc_syllabus_spark.sources.layout import vacuum_snapshots

    t = str(tmp_path / "tbl")
    os.makedirs(t)
    for v in (99999999, 100000000, 100000001):
        os.makedirs(os.path.join(t, f"snapshot-{v:08d}"))
    # the commit journal each flip would have written
    with open(os.path.join(t, "_VERSIONS"), "w") as fh:
        fh.write("snapshot-99999999\nsnapshot-100000000\nsnapshot-100000001\n")
    with open(os.path.join(t, "_CURRENT"), "w") as fh:
        fh.write("snapshot-100000001\n")
    open(os.path.join(t, "._CURRENT.tmp.00000042"), "w").close()

    deleted = vacuum_snapshots(t, keep=2)
    # numerically oldest goes; the second-newest (lexicographically
    # "smallest") survives
    assert deleted == ["snapshot-99999999"]
    assert os.path.isdir(os.path.join(t, "snapshot-100000000"))
    assert not os.path.exists(os.path.join(t, "._CURRENT.tmp.00000042"))


def test_concurrent_claims_never_share_a_snapshot_dir(spark, tmp_path):
    """ADVICE r13: two publishers that both compute version N+1 must
    not commingle part files in one snapshot. The version is claimed
    with an atomic mkdir, so a pre-claimed dir (the concurrent winner's
    mkdir) forces this publisher to the NEXT version."""
    from etl_upc_syllabus_spark.sources.layout import (
        publish_snapshot,
        read_current_snapshot,
    )

    t = str(tmp_path / "tbl")
    publish_snapshot(spark.range(5).withColumnRenamed("id", "v"), t)  # v0
    # a concurrent publisher has claimed v1 (under the r14 staging
    # protocol a visible claimed dir always carries its .claim file)
    os.makedirs(os.path.join(t, "snapshot-00000001"))
    open(os.path.join(t, "snapshot-00000001", ".claim"), "w").close()
    p = publish_snapshot(spark.range(9).withColumnRenamed("id", "v"), t)
    assert p.endswith("snapshot-00000002")  # went around, never shared
    assert read_current_snapshot(spark, t).count() == 9
    # the concurrent claimant's dir is untouched
    assert os.listdir(os.path.join(t, "snapshot-00000001")) == [".claim"]


def test_claim_version_gives_up_loudly_after_a_storm(tmp_path):
    import pytest

    from etl_upc_syllabus_spark.sources.layout import _claim_version

    t = str(tmp_path / "tbl")
    os.makedirs(t)
    # every version this claimant will try is already taken
    for v in range(20):
        os.makedirs(os.path.join(t, f"snapshot-{v:08d}"))
    # _max_version sees 19, so the claim would try 20 -- make the race
    # unwinnable by racing it: patch-free deterministic variant, cap at
    # attempts=0-equivalent via attempts=1 against a dir created between
    # the scan and the mkdir is not reproducible without threads, so pin
    # the loud-exhaustion contract directly with attempts=0
    with pytest.raises(RuntimeError, match="could not claim"):
        _claim_version(t, attempts=0)


def test_vacuum_spares_tmp_of_a_live_concurrent_publisher(spark, tmp_path):
    """ADVICE r13: vacuum must not delete a ._CURRENT.tmp.* belonging
    to a publish currently between its tmp-write and its os.replace.
    Tmp files at versions <= current are provably dead and reclaimed;
    higher versions may be live and are left alone."""
    from etl_upc_syllabus_spark.sources.layout import (
        publish_snapshot,
        vacuum_snapshots,
    )

    t = str(tmp_path / "tbl")
    publish_snapshot(spark.range(5).withColumnRenamed("id", "v"), t)  # v0
    publish_snapshot(spark.range(6).withColumnRenamed("id", "v"), t)  # v1
    dead = os.path.join(t, "._CURRENT.tmp.00000000")  # killed pre-flip, old
    live = os.path.join(t, "._CURRENT.tmp.00000005")  # concurrent, mid-flip
    open(dead, "w").close()
    open(live, "w").close()
    vacuum_snapshots(t, keep=1)
    assert not os.path.exists(dead)  # provably dead: reclaimed
    assert os.path.exists(live)  # possibly live: spared


def test_verified_publish_rejects_a_torn_snapshot(spark, tmp_path, monkeypatch):
    """VERDICT r13 item 6: verify=True runs the write-artifact audit on
    the just-written snapshot BEFORE the flip; a seeded orphan part
    fails the publish, _CURRENT never moves, and the torn snapshot is
    left as a vacuum-reclaimable orphan."""
    import shutil
    import uuid as _uuid

    import pytest

    import etl_upc_syllabus_spark.sources.layout as layout

    t = str(tmp_path / "tbl")
    layout.publish_snapshot(spark.range(5).withColumnRenamed("id", "v"), t)

    # donor part for the orphan
    stage = str(tmp_path / "stage")
    spark.range(3).withColumnRenamed("id", "v").coalesce(1).write.parquet(stage)
    donor = next(
        os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")
    )

    # inject the orphan between the data write and the (real) audit --
    # the injection point is mocked, the audit and abort path are real
    real_verify = layout._verify_snapshot

    def seeded(spark_, snap_dir, snap):
        shutil.copy(
            donor,
            os.path.join(snap_dir, f"part-00000-{_uuid.uuid4()}.c000.snappy.parquet"),
        )
        real_verify(spark_, snap_dir, snap)

    monkeypatch.setattr(layout, "_verify_snapshot", seeded)
    with pytest.raises(RuntimeError, match="refusing to flip"):
        layout.publish_snapshot(
            spark.range(9).withColumnRenamed("id", "v"), t, verify=True
        )
    # table unharmed: _CURRENT still points at v0's data
    assert layout.read_current_snapshot(spark, t).count() == 5

    # a clean verified publish goes through (v2, past the torn orphan)
    monkeypatch.setattr(layout, "_verify_snapshot", real_verify)
    layout.publish_snapshot(
        spark.range(2).withColumnRenamed("id", "v"), t, verify=True
    )
    assert layout.read_current_snapshot(spark, t).count() == 2
    # the torn snapshot is an orphan _CURRENT never pointed at: reclaimable
    deleted = layout.vacuum_snapshots(t, keep=1)
    assert "snapshot-00000001" in deleted
