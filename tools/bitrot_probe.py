"""Bitrot probe (r11): random mid-file byte corruption under a VALID
parquet footer -- the class every footer-level audit is blind to.

A disk/network/memory flip inside a data page leaves the footer (and
therefore ``scan_corrupt_files``) green. This probe measures what the
read then does, across the defense matrix:

- **no page checksums** (how the pyarrow-written fixtures and any
  CRC-less writer land): N random 64-byte corruptions of the
  embeddings file -> count how many read SILENTLY WRONG (row count
  and key sums intact or not vs the pristine source) vs loud. r11
  measured **9/12 silent** (embedding sums off by 10^20-10^30 with
  zero errors anywhere) vs 3/12 loud decode failures.
- **page checksums written, verification off**: still silent --
  checksums protect nothing unless the reader verifies.
- **page checksums written, verification on**
  (``parquet.page.verify-checksum.enabled``, on in every session.py
  session since r12, settable per read): LOUD CRC
  failure on BOTH Spark readers (vectorized and row-wise) and in
  pyarrow (``page_checksum_verification=True``).

Posture: without write-side CRCs, bitrot under a valid footer is
UNDETECTABLE at read time in the majority of cases -- no gate can fix
that after the fact; the defense is write-side (Spark's own writer
emits page CRCs by default since parquet-mr 1.11; pyarrow needs
``write_page_checksum=True``) plus read-side verification. Deep
decode audits without CRCs catch only the loud minority.

Usage: python tools/bitrot_probe.py [n_trials]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.001/embeddings.parquet"


def main(argv):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_upc_syllabus_spark.session import get_spark

    n_trials = int(argv[0]) if argv else 12
    spark = get_spark("bitrot-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def digest(path, verify=False):
        # verification is passed PER READ as a datasource option (it
        # merges into the relation's hadoop conf) so the probe measures
        # both postures regardless of the session conf (ON since r12)
        reader = spark.read.option(
            "parquet.page.verify-checksum.enabled", str(verify).lower()
        )
        return list(
            reader.parquet(path).agg(
                F.count(F.lit(1)),
                F.sum("vec_id"),
                F.round(
                    F.sum(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)), 3
                ),
            ).collect()[0]
        )

    base = digest(SRC)
    rng = random.Random(7)

    def corrupt(path):
        size = os.path.getsize(path)
        off = rng.randint(1000, size - 20000)
        with open(path, "r+b") as fh:
            fh.seek(off)
            fh.write(b"\xde\xad\xbe\xef" * 16)

    out = {"n_trials": n_trials, "source_digest": [str(x) for x in base]}

    # leg 1: no checksums (the fixture file as-is)
    silent = loud = unchanged = 0
    for _ in range(n_trials):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "p.parquet")
            shutil.copyfile(SRC, p)
            corrupt(p)
            try:
                got = digest(p)
                if got == base:
                    unchanged += 1
                else:
                    silent += 1
            except Exception:  # noqa: BLE001 -- the probe IS the catch
                loud += 1
    out["no_checksums"] = {"silent_wrong": silent, "loud": loud,
                           "unchanged": unchanged}

    # leg 2 + 3: checksummed file, verification off vs on
    tbl = pq.read_table(SRC)
    for verify, label in ((False, "checksums_unverified"),
                          (True, "checksums_verified")):
        silent = loud = unchanged = 0
        for _ in range(max(3, n_trials // 3)):
            with tempfile.TemporaryDirectory() as d:
                p = os.path.join(d, "p.parquet")
                pq.write_table(tbl, p, write_page_checksum=True)
                corrupt(p)
                try:
                    got = digest(p, verify=verify)
                    if got == base:
                        unchanged += 1
                    else:
                        silent += 1
                except Exception:  # noqa: BLE001
                    loud += 1
        out[label] = {"silent_wrong": silent, "loud": loud, "unchanged": unchanged}
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
