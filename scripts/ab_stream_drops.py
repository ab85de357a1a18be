"""Interleaved A/B for the two applyInPandasWithState queries
(stream_funnel, stream_sessionize) — VERDICT r16 task #7: the
state-parts A/B fixed 8 partitions as optimal, so the remaining lever
is per-DROP fixed cost. Arms (all producing byte-identical output,
asserted per pass):

  A  two_runs          the shipped shape: one availableNow query per
                       drop (2 query starts, 2+ state commit rounds,
                       2x no-data batches)
  B  two_runs_nodata0  A + spark.sql.streaming.noDataMicroBatches.
                       enabled=false — skips the watermark-advance
                       batch each run pays after its data batch
                       (safe HERE: output is emitted inline by the
                       stateful function, never from a timeout —
                       late_s outlives the replay so eviction
                       timeouts cannot fire)
  C  one_run           both drops written BEFORE one availableNow
                       query; maxFilesPerTrigger = |lo files| turns
                       the two drops into two micro-batches of ONE
                       run (state crosses batches inside the run
                       instead of through a restart). Drop order is
                       enforced by the file source's oldest-first
                       (modification time) ordering; the probe
                       asserts per-batch file sets from the
                       checkpoint's offsets log, so a tie or
                       reordering fails loudly instead of silently
                       measuring a different replay.
  D  one_run_nodata0   C + noDataMicroBatches=false

Output equality: each arm's sorted output rows must equal arm A's
(same pass). Phase timings (split/write/run1/write2/run2) printed per
pass; min-of-N per arm is the decision figure.

Usage: python scripts/ab_stream_drops.py [sf_dir] [passes]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as E
from platypus_ingestion_plugins_spark.session import get_spark
from platypus_ingestion_plugins_spark.streaming import replay
from platypus_ingestion_plugins_spark.streaming.stateful import (
    funnel_stream,
    sessionize_stream,
)


def _events(spark, sf, with_et: bool):
    ev = E._t(spark, sf, "events")
    sec = (
        F.expr("ts DIV 1000000000")
        if dict(ev.dtypes).get("ts") == "bigint"
        else F.col("ts").cast("timestamp").cast("long")
    )
    cols = [F.col("user_id").cast("string").alias("k"), sec.alias("t")]
    if with_et:
        cols.append(F.col("event_type").alias("et"))
    return E._median_split(ev.select(*cols), "t")


def _stream_of(query, stream):
    if query == "funnel":
        return funnel_stream(
            stream, "k", "t", "et", ["view", "click", "purchase"],
            late_s=10**9,
        )
    return sessionize_stream(stream, key_col="k", ts_col="t", gap_s=1800,
                             late_s=10**9)


def _list_parquet(d):
    return sorted(
        f for f in os.listdir(d) if f.endswith(".parquet")
    )


def _offsets_files(ckpt):
    """Per-batch file basenames from the file source's offsets log."""
    src_log = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in sorted(os.listdir(src_log)):
        p = os.path.join(src_log, name)
        if not name.isdigit():
            continue
        with open(p) as f:
            batch = [
                os.path.basename(json.loads(line)["path"])
                for line in f
                if line.startswith("{")
            ]
        out[int(name)] = sorted(batch)
    return out


def run_arm(spark, query, sf, arm):
    lo, hi = _events(spark, sf, with_et=(query == "funnel"))
    conf = E._STATEFUL_REPLAY if arm.endswith("nodata0") else E._SHUFFLE_8
    phases = {}
    with replay.scratch(spark, f"ab_drops_{query}_", conf) as work:
        t_all = time.monotonic()
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def timed(name, fn):
            t0 = time.monotonic()
            r = fn()
            phases[name] = round(time.monotonic() - t0, 3)
            return r

        run = replay.available_now(
            spark, src, ckpt,
            lambda s: _stream_of(query, s)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
        )

        timed("write_lo", lambda: lo.coalesce(4).write.mode("append").parquet(src))
        schema = spark.read.parquet(src).schema
        if arm.startswith("two_runs"):
            timed("run1", lambda: run(100, schema))
            timed("write_hi", lambda: hi.coalesce(4).write.mode("append").parquet(src))
            timed("run2", lambda: run(100, schema))
        else:
            lo_files = set(_list_parquet(src))
            timed("write_hi", lambda: hi.coalesce(4).write.mode("append").parquet(src))
            hi_files = set(_list_parquet(src)) - lo_files
            assert len(hi_files) <= len(lo_files), (
                f"hi drop has more files ({len(hi_files)}) than lo "
                f"({len(lo_files)}) — one-run batching would split it")
            timed("run_single", lambda: run(len(lo_files), schema))
            # prove the batch boundary followed the drop boundary
            ob = _offsets_files(ckpt)
            assert sorted(ob[0]) == sorted(lo_files), (
                f"batch 0 != lo drop: {ob[0]} vs {sorted(lo_files)}")
            assert sorted(ob.get(1, [])) == sorted(hi_files), (
                f"batch 1 != hi drop: {ob.get(1)} vs {sorted(hi_files)}")
        rows = sorted(
            tuple(r) for r in spark.read.parquet(out).collect()
        )
        phases["total"] = round(time.monotonic() - t_all, 3)
        return phases, rows


ARMS = ["two_runs", "two_runs_nodata0", "one_run", "one_run_nodata0"]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="ab_stream_drops")
    spark.sparkContext.setLogLevel("ERROR")
    best = {}
    for query in ("funnel", "sessionize"):
        ref_rows = None
        for p in range(passes):
            for arm in ARMS:
                spark.sparkContext.setJobDescription(f"{query} {arm} p{p}")
                phases, rows = run_arm(spark, query, sf, arm)
                if ref_rows is None:
                    ref_rows = rows
                assert rows == ref_rows, (
                    f"{query} {arm} pass{p}: OUTPUT DIFFERS "
                    f"({len(rows)} vs {len(ref_rows)} rows)")
                key = (query, arm)
                best[key] = min(best.get(key, phases["total"]), phases["total"])
                print(f"{query} p{p} {arm}: {phases}", flush=True)
        print(f"== {query}: rows identical across arms/passes "
              f"({len(ref_rows)}) ==", flush=True)
    print(f"\n== min-of-{passes} totals ==")
    for (query, arm), t in sorted(best.items()):
        print(f"{query:12s} {arm:18s} {t:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
