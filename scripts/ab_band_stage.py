"""Interleaved A/B for band_index_compact's two appends (VERDICT r16
task #6): same-directory appends must run serially (concurrent Spark
jobs share the FileOutputCommitter _temporary dir under one output
path), but appending the second half to a DISTINCT staging index and
renaming its partition files in afterwards makes the two append jobs
independent — overlap_jobs can run them concurrently. Final directory
state is identical by construction (same file sets, two files per
touched (band, vb) dir), so compaction is exercised identically; the
A/B asserts identical read-back rows per pass.

Arms:
  A serial     the shipped shape: append lo, append hi, compact
  B overlapped append lo -> idx and hi -> idx.staging concurrently,
               rename staged band=*/vb=*/*.parquet into idx, compact

Usage: python scripts/ab_band_stage.py [sf_dir] [passes]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from platypus_ingestion_plugins_spark import concurrency
from platypus_ingestion_plugins_spark.operators import dedup
from platypus_ingestion_plugins_spark.session import get_spark
from platypus_ingestion_plugins_spark.streaming import replay


def run_arm(spark, sf, overlapped: bool):
    docs = E._t(spark, sf, "documents").select("doc_id", "text")
    docs_lo, docs_hi = E._median_split(docs, "doc_id")
    keys_lo = dedup.simhash_band_keys(docs_lo, "text", "doc_id", bits=32, bands=4)
    keys_hi = dedup.simhash_band_keys(docs_hi, "text", "doc_id", bits=32, bands=4)
    with replay.scratch(spark, "ab_band_", E._SHUFFLE_8) as work:
        idx = os.path.join(work, "index")
        t0 = time.monotonic()
        if overlapped:
            side = os.path.join(work, "index_staging")
            concurrency.overlap_jobs(
                lambda: dedup.append_band_key_index(keys_lo, idx, val_buckets=4),
                lambda: dedup.append_band_key_index(keys_hi, side, val_buckets=4),
            )
            replay.merge_partitioned_files(side, idx)
        else:
            dedup.append_band_key_index(keys_lo, idx, val_buckets=4)
            dedup.append_band_key_index(keys_hi, idx, val_buckets=4)
        compacted = dedup.compact_band_key_index(spark, idx, max_files_per_dir=1)
        assert compacted, "compaction found nothing to do"
        rows = sorted(
            tuple(r)
            for r in spark.read.parquet(idx)
            .select("doc_id", "simhash", "band", "val")
            .collect()
        )
        return round(time.monotonic() - t0, 3), rows


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark(app_name="ab_band_stage")
    spark.sparkContext.setLogLevel("ERROR")
    E.queries()["band_index_compact"](spark, sf).count()  # warm
    best = {}
    ref = None
    for p in range(passes):
        for arm, ov in (("A_serial", False), ("B_overlapped", True)):
            spark.sparkContext.setJobDescription(f"band_stage {arm} p{p}")
            dt, rows = run_arm(spark, sf, ov)
            if ref is None:
                ref = rows
            assert rows == ref, f"{arm} p{p}: rows differ"
            best[arm] = min(best.get(arm, dt), dt)
            print(f"pass={p} {arm}: {dt}s", flush=True)
    print(f"\n== min-of-{passes} ==")
    for arm, dt in sorted(best.items()):
        print(f"{arm}: {dt}s")
    print(f"rows identical across arms/passes ({len(ref)})")
    spark.stop()


if __name__ == "__main__":
    main()
