"""Phase probe for VERDICT r16 task #5: cdc_format_last_wins has the
worst min/med spread in variance_gt2s (r16: min 2.08 / med 3.86 at
sf0.1, i.e. one bench pass took ~5.6 s). Before accepting "Python
DataSource machinery variance", break one query execution into its
phases and measure each across N interleaved passes:

  write   - changelog construction + exact-median split + two
            write_cdc_snapshot jobs (runs INSIDE the query function;
            first write also evaluates the lazy localCheckpoint median
            on the broadcast build thread)
  plan    - register_cdc_table_source + spark.read.format("cdc-table")
            .load() + apply_changelog construction (lazy; the Python
            DataSource spawns a planner worker for schema())
  exec    - .count(): the Python-source scan (2 files -> 2 python
            worker tasks), last-wins window shuffle, merge

plus the whole entry (queries()["cdc_format_last_wins"] + count) for
the end-to-end figure, interleaved in the same process so pass-to-pass
machine drift hits all arms equally.

Usage: python scripts/probe_cdc_format.py [sf_dir] [passes]
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from platypus_ingestion_plugins_spark.session import get_spark  # noqa: E402
from platypus_ingestion_plugins_spark.streaming import replay  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from pyspark.sql import functions as F

    from platypus_ingestion_plugins_spark.operators import cdc
    from platypus_ingestion_plugins_spark.sources import cdc_table
    from platypus_ingestion_plugins_spark.sources.cdc_format import (
        register_cdc_table_source,
    )

    spark = get_spark(app_name="probe_cdc_format")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the same machinery bench.py warms (python workers, codegen)
    E.queries()["semi_join"](spark, sf_dir).count()
    E.queries()["cdc_format_last_wins"](spark, sf_dir).count()

    phases: dict[str, list[float]] = {
        "write": [], "plan": [], "exec": [], "entry_e2e": [],
    }
    rows_ref = None
    for p in range(passes):
        # --- phased replica of q_cdc_format_last_wins ---
        t0 = time.perf_counter()
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ch = ev.select(
            F.col("event_id").alias("_seq"),
            "user_id",
            "event_type",
            "value",
            F.when(F.col("event_type") == "click", "-D")
            .when(F.col("event_type") == "error", "-U")
            .otherwise("+I")
            .alias("_row_kind"),
        )
        ch_lo, ch_hi = E._median_split(ch, "_seq")
        with replay.scratch(spark, "probe_cdcf_") as work:
            log = os.path.join(work, "log")
            cdc_table.write_cdc_snapshot(ch_lo, log, snapshot_id=1)
            cdc_table.write_cdc_snapshot(ch_hi, log, snapshot_id=2)
            t1 = time.perf_counter()
            register_cdc_table_source(spark)
            back = (
                spark.read.format("cdc-table")
                .option("last_snapshot", 0)
                .load(log)
                .drop("_snapshot")
            )
            out = cdc.apply_changelog(back, "user_id").select(
                "user_id", "event_type", "value"
            )
            t2 = time.perf_counter()
            n = out.count()
            t3 = time.perf_counter()
        if rows_ref is None:
            rows_ref = n
        assert n == rows_ref, f"row drift: {n} vs {rows_ref}"
        phases["write"].append(t1 - t0)
        phases["plan"].append(t2 - t1)
        phases["exec"].append(t3 - t2)
        # --- whole entry, interleaved ---
        t4 = time.perf_counter()
        m = E.queries()["cdc_format_last_wins"](spark, sf_dir).count()
        t5 = time.perf_counter()
        assert m == rows_ref, f"entry row drift: {m} vs {rows_ref}"
        phases["entry_e2e"].append(t5 - t4)
        spark.catalog.clearCache()
        import gc

        gc.collect()
        print(
            f"# pass{p} write={t1-t0:.2f} plan={t2-t1:.2f} "
            f"exec={t3-t2:.2f} e2e={t5-t4:.2f}",
            file=sys.stderr,
        )

    for name, runs in phases.items():
        print(
            f"{name:10s} min={min(runs):.3f} med={statistics.median(runs):.3f} "
            f"max={max(runs):.3f} all={[round(r, 2) for r in runs]}"
        )


if __name__ == "__main__":
    main()
