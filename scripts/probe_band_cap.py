"""Evidence probe for VERDICT r16 task #3 (wire ``max_band_bucket``
into the clean_corpus preset): measures, at any scale, (a) the band-
bucket size distribution the cap would act on and (b) how many
VERIFIED pairs (jaccard >= threshold, the preset's 0.1) would be LOST
by a given cap — a pair is lost iff EVERY band bucket matching it is
over the cap.

r17 result (documented in OPTIMIZATION_r17.md): at the sf1 replica,
12 verified pairs sit exclusively in >100-member buckets (22 in >50,
max min-bucket 134), and inspection shows those buckets are GENUINE
near-dup density — the synthetic corpus has a ~30-word vocabulary, so
at threshold 0.1 large groups of documents legitimately share band
buckets (the members are same-replica docs sharing frequent shingles,
not boilerplate noise; 60-bit minhash halves cannot collide by
chance). Any cap small enough to win drops verified pairs and changes
pipeline_clean_corpus's output, so the preset default stays
``max_band_bucket=None``. The cap remains available for corpora where
hot buckets ARE boilerplate; this probe is the calibration tool.

Usage: python scripts/probe_band_cap.py [sf_dir] [threshold]
"""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from platypus_ingestion_plugins_spark.functions.text import normalize_unicode
from platypus_ingestion_plugins_spark.operators import dedup
from platypus_ingestion_plugins_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.1
    spark = get_spark(app_name="probe_band_cap")
    spark.sparkContext.setLogLevel("ERROR")

    # replicate the preset prefix exactly (q_pipeline_clean_corpus's
    # synthesis: decompose, drop the benchmark slice, normalize,
    # exact-dedup)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d2 = d.withColumn("text", F.regexp_replace("text", "a", "á"))
    train = d2.filter(F.col("doc_id") % 101 != 0)
    normed = train.withColumn(
        "text", normalize_unicode("text")
    ).localCheckpoint()
    surv = (
        normed.groupBy(F.sha2(F.col("text"), 256).alias("s"))
        .agg(F.min("doc_id").alias("doc_id"))
        .drop("s")
    )
    deduped = normed.join(surv, "doc_id", "left_semi").localCheckpoint()

    pairs = dedup.minhash_lsh_dedup_pairs(
        deduped, "text", "doc_id", n=3, threshold=threshold, single_eval=True
    ).localCheckpoint()
    n_pairs = pairs.count()

    # the banded frame, exactly as lsh_candidate_pairs builds it, with
    # the banding the pairs above were computed under
    defaults = inspect.signature(dedup.minhash_lsh_dedup_pairs).parameters
    num_hashes = defaults["num_hashes"].default
    bands = defaults["bands"].default
    rows = num_hashes // bands
    sh = dedup.cap_shingle_df(dedup.shingles(deduped, "text", "doc_id", 3), None)
    sig = dedup.minhash_from_shingles(sh, "doc_id", num_hashes)
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.to_json(F.slice(F.col("sig"), b * rows + 1, rows)).alias("bucket"),
                ),
            )
        ).alias("p", "bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    bc = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
    dist = bc.groupBy().agg(
        F.max("c").alias("max_bucket"),
        F.sum(F.expr("c*(c-1)/2")).alias("candidate_pairs"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).collect()[0]
    print(f"{sf_dir}: buckets={dist['n_buckets']} max={dist['max_bucket']} "
          f"candidate_pairs={int(dist['candidate_pairs'])} "
          f"verified_pairs={n_pairs}")

    banded_c = banded.join(bc, ["band", "bucket"]).localCheckpoint()
    a = banded_c.select(
        F.col("doc_id").alias("id_a"), "band", "bucket", F.col("c").alias("ca")
    )
    b = banded_c.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    pair_min = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "band", "bucket"])
        .groupBy("id_a", "id_b")
        .agg(F.min("ca").alias("min_bucket"))
    )
    for cap in (30, 50, 100, 200):
        lost = pair_min.filter(F.col("min_bucket") > cap).count()
        print(f"  cap={cap}: verified pairs LOST = {lost}"
              + ("  <- result change" if lost else ""))
    mx = pair_min.agg(F.max("min_bucket")).collect()[0][0]
    print(f"  smallest result-identical cap: {mx} "
          f"(max over verified pairs of min matching-bucket size)")
    spark.stop()


if __name__ == "__main__":
    main()
