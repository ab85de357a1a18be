"""A/B: state-store partition count for the applyInPandasWithState
queries (stream_funnel, stream_sessionize).

Both queries pin spark.sql.shuffle.partitions=8 before the first
checkpoint, which fixes the state-store partition count at 8 — so the
per-key Python stage (the dominant cost per the r16 notes) runs at most
8-way parallel on a 32-core box. More partitions = more Python workers
on the stateful stage, but also more state-provider init/commit per
micro-batch. This probe measures the trade INTERLEAVED in one Spark
session (the session's measurement discipline: no cross-process
timing), min-of-N per arm.

Partitioning cannot change results: output rows are a pure function of
each key's event multiset, and the oracle compares order-insensitive
values. Usage: python scripts/ab_state_parts.py [sf_dir] [passes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from pyspark.sql import functions as F
from platypus_ingestion_plugins_spark.session import get_spark
from platypus_ingestion_plugins_spark.streaming import replay
from platypus_ingestion_plugins_spark.streaming.stateful import (
    funnel_stream,
    sessionize_stream,
)

PARTS = "spark.sql.shuffle.partitions"


def run_funnel(spark, sf, parts: int) -> tuple[float, int]:
    ev = E._t(spark, sf, "events")
    sec = (
        F.expr("ts DIV 1000000000")
        if dict(ev.dtypes).get("ts") == "bigint"
        else F.col("ts").cast("timestamp").cast("long")
    )
    e = ev.select(
        F.col("user_id").cast("string").alias("k"),
        sec.alias("t"),
        F.col("event_type").alias("et"),
    )
    e_lo, e_hi = E._median_split(e, "t")
    with replay.scratch(spark, "ab_funnel_", {PARTS: str(parts)}) as work:
        t0 = time.monotonic()
        src, out, ckpt = (os.path.join(work, n) for n in ("src", "out", "ckpt"))
        e_lo.coalesce(4).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        run = replay.available_now(
            spark, src, ckpt,
            lambda s: funnel_stream(
                s, "k", "t", "et", ["view", "click", "purchase"], late_s=10**9
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
        )
        run(100, schema)
        e_hi.coalesce(4).write.mode("append").parquet(src)
        run(100, schema)
        n = spark.read.parquet(out).count()
        return time.monotonic() - t0, n


def run_sessionize(spark, sf, parts: int) -> tuple[float, int]:
    ev = E._t(spark, sf, "events")
    sec = (
        F.expr("ts DIV 1000000000")
        if dict(ev.dtypes).get("ts") == "bigint"
        else F.col("ts").cast("timestamp").cast("long")
    )
    e = ev.select(F.col("user_id").cast("string").alias("k"), sec.alias("t"))
    e_lo, e_hi = E._median_split(e, "t")
    with replay.scratch(spark, "ab_sess_", {PARTS: str(parts)}) as work:
        t0 = time.monotonic()
        src, out, ckpt = (os.path.join(work, n) for n in ("src", "out", "ckpt"))
        e_lo.coalesce(4).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        run = replay.available_now(
            spark, src, ckpt,
            lambda s: sessionize_stream(
                s, key_col="k", ts_col="t", gap_s=1800, late_s=10**9
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
        )
        run(100, schema)
        e_hi.coalesce(4).write.mode("append").parquet(src)
        run(100, schema)
        n = spark.read.parquet(out).count()
        return time.monotonic() - t0, n


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    arms = [8, 16, 32]
    spark = get_spark(app_name="ab_state_parts")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: python worker pool + state store machinery
    run_funnel(spark, sf, 8)
    best: dict[tuple[str, int], float] = {}
    counts: dict[str, set] = {"funnel": set(), "sessionize": set()}
    for p in range(passes):
        for parts in arms:
            for name, fn in (("funnel", run_funnel), ("sessionize", run_sessionize)):
                spark.sparkContext.setJobDescription(f"{name} parts={parts} pass={p}")
                dt, n = fn(spark, sf, parts)
                counts[name].add(n)
                key = (name, parts)
                best[key] = min(best.get(key, dt), dt)
                print(f"pass={p} {name} parts={parts}: {dt:.2f}s rows={n}", flush=True)
    print("\n== min-of-%d ==" % passes)
    for (name, parts), dt in sorted(best.items()):
        print(f"{name} parts={parts}: {dt:.2f}s")
    for name, ns in counts.items():
        assert len(ns) == 1, f"{name} row counts differ across arms: {ns}"
        print(f"{name}: identical row count across all arms ({ns.pop()})")
    spark.stop()


if __name__ == "__main__":
    main()
