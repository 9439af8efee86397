"""Bitrot posture pins (r11 probe, tools/bitrot_probe.py).

Random byte corruption inside a data page leaves the parquet footer
valid, so every footer-level audit stays green -- and the r11 probe
measured the read itself silently WRONG in 9 of 12 trials without
page checksums (values off by 10^20 with zero errors). The defense is
write-side page CRCs (Spark's own writer emits them by default;
pyarrow needs write_page_checksum=True -- the driver fixtures lack
them) plus read-side verification
(``parquet.page.verify-checksum.enabled``: session-wide ON since r12,
and settable per read).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR

SRC = os.path.join(SF_DIR, "embeddings.parquet")


def _digest(spark, path, verify):
    return list(
        spark.read.option("parquet.page.verify-checksum.enabled", str(verify).lower())
        .parquet(path)
        .agg(
            F.count(F.lit(1)),
            F.sum("vec_id"),
            F.round(F.sum(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)), 3),
        )
        .collect()[0]
    )


def _corrupt_mid(path):
    size = os.path.getsize(path)
    with open(path, "r+b") as fh:
        fh.seek(size // 3)
        fh.write(b"\xde\xad\xbe\xef" * 16)


@pytest.fixture()
def checksummed(tmp_path):
    d = str(tmp_path / "ck")
    os.makedirs(d)
    p = os.path.join(d, "part-000.parquet")
    pq.write_table(pq.read_table(SRC), p, write_page_checksum=True)
    return d, p


def test_verified_read_is_loud_on_bitrot_and_clean_on_healthy(spark, checksummed):
    d, p = checksummed
    base = _digest(spark, SRC, verify=False)
    # no false positives: healthy checksummed file verifies clean
    assert _digest(spark, d, verify=True) == base
    _corrupt_mid(p)
    with pytest.raises(Exception, match="(?i)checksum|CRC|FAILED_READ"):
        _digest(spark, d, verify=True)


def test_unverified_read_of_bitrot_is_silent(spark, checksummed, tmp_path):
    """Pinned AS MEASURED: without verification the corrupted page
    decodes to garbage VALUES with no error anywhere -- row count and
    untouched columns intact, the hit column silently wrong. The pin
    asserts the read SUCCEEDS; the value either diverges (the 9/12
    class) or, for this fixed offset, at minimum never errors."""
    d, p = checksummed
    base = _digest(spark, SRC, verify=False)
    _corrupt_mid(p)
    got = _digest(spark, d, verify=False)  # must not raise
    assert got[0] == base[0]  # row count survives

    # the same corruption on a CRC-less copy (the fixture-writer shape)
    d2 = str(tmp_path / "nock")
    os.makedirs(d2)
    p2 = os.path.join(d2, "part-000.parquet")
    shutil.copyfile(SRC, p2)
    _corrupt_mid(p2)
    got2 = _digest(spark, d2, verify=False)  # must not raise either
    assert got2[0] == base[0]


def test_session_knob_wires_the_hadoop_conf(spark):
    """Verification is ON in every session get_spark builds (r12 flip,
    measured plan- and value-inert on healthy data)."""
    assert spark.conf.get("spark.hadoop.parquet.page.verify-checksum.enabled") == "true"


def test_resilient_read_composition_with_verification(spark, checksummed, tmp_path):
    """The r12 composition matrix, pinned AS MEASURED: with page
    verification ON (the session default), ``ignoreCorruptFiles``
    treats a CRC failure as a corrupt FILE and silently skips ALL of
    it -- good rows included -- while the footer-only audit still
    reports ok=true (the footer never rotted). The deep audit
    (``scan_corrupt_files(deep=True)``) is what makes a resilient
    backfill's skip report truthful. Also pinned: verification fires
    only on pages actually decoded -- a count() never trips it."""
    import pyarrow.parquet as pq

    from etl_upc_syllabus_spark.sources.formats import scan_corrupt_files

    d, p = checksummed
    # second, healthy file alongside the to-be-corrupted one
    p2 = os.path.join(d, "part-001.parquet")
    pq.write_table(pq.read_table(SRC), p2, write_page_checksum=True)
    base = _digest(spark, SRC, verify=False)
    _corrupt_mid(p)

    def read(verify, resilient):
        rd = spark.read.option(
            "parquet.page.verify-checksum.enabled", str(verify).lower()
        )
        if resilient:
            rd = rd.option("ignoreCorruptFiles", "true")
        return rd.schema(spark.read.parquet(SRC).schema).parquet(d)

    # verification only fires on decoded pages: metadata-only count is
    # blind to the rot under BOTH postures
    assert read(True, False).count() == 2 * base[0]

    # resilient + verify: the whole corrupted file vanishes silently --
    # exactly the healthy file's digest survives
    got = list(
        read(True, True).agg(
            F.count(F.lit(1)),
            F.sum("vec_id"),
            F.round(F.sum(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)), 3),
        ).collect()[0]
    )
    assert got == base, "resilient+verify must drop exactly the bad file"

    # footer-only audit is blind to it; the deep audit catches it
    shallow = {os.path.basename(r["file"]): r["ok"]
               for r in scan_corrupt_files(spark, d).collect()}
    assert shallow == {"part-000.parquet": True, "part-001.parquet": True}
    deep = {os.path.basename(r["file"]): (r["ok"], r["error"])
            for r in scan_corrupt_files(spark, d, deep=True).collect()}
    assert deep["part-001.parquet"] == (True, None)
    ok, err = deep["part-000.parquet"]
    assert not ok and "CRC" in (err or "").upper().replace("CHECKSUM", "CRC")


def test_deep_audit_reaches_later_row_groups(spark, tmp_path):
    """The deep audit streams row group BY row group (review r12
    bounded-memory fix) -- pin that it genuinely iterates past the
    first group: a 3-group file corrupted only in its LAST group's
    region must still be flagged, with the early groups decoding
    clean."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_upc_syllabus_spark.sources.formats import scan_corrupt_files

    d = str(tmp_path / "t")
    os.makedirs(d)
    p = os.path.join(d, "part-000.parquet")
    t = pa.table({
        "x": pa.array(range(3000), pa.int64()),
        "y": pa.array([float(i) for i in range(3000)], pa.float64()),
    })
    pq.write_table(t, p, row_group_size=1000, write_page_checksum=True)
    assert pq.ParquetFile(p).num_row_groups == 3
    size = os.path.getsize(p)
    with open(p, "r+b") as fh:
        fh.seek(int(size * 0.8))  # last group's data region
        fh.write(b"\xde\xad" * 8)
    # sanity: the corruption is NOT in the first group
    pf = pq.ParquetFile(p, page_checksum_verification=True)
    pf.read_row_group(0)

    rows = scan_corrupt_files(spark, d, deep=True).collect()
    assert len(rows) == 1 and not rows[0]["ok"]
    assert scan_corrupt_files(spark, d).collect()[0]["ok"]  # footer audit blind
