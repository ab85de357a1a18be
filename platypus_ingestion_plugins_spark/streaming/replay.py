"""Checkpointed two-drop stream replay and the scratch dirs it runs in.

A finite replay of a changelog through a checkpointed stream — the
consumer-checkpoint delivery the ingestion plugins are built around —
needs the same scaffolding every time: a local work dir for the
source, checkpoint and sink; conf overrides sized for the replay and
restored afterwards; two ordered drops turned into two micro-batches;
and a result that may outlive the work dir. This module holds that
scaffolding once:

- ``scratch``: the work dir plus conf overrides as one context;
- ``available_now``: one ``availableNow`` pass over a parquet source
  into a caller-built sink;
- ``replay_two_drops``: both drops as two micro-batches of one query
  (falling back to two runs when the order cannot be guaranteed);
- ``merge_partitioned_files``: rename a staging index's partition
  files into the main index, so two appends can overlap.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

Run = Callable[[int, StructType], None]


@contextlib.contextmanager
def scratch(
    spark: SparkSession,
    prefix: str,
    conf: Mapping[str, str] | None = None,
    keep: str | None = None,
) -> Iterator[str]:
    """Yield a fresh local work dir with ``conf`` applied to the
    session; every override is restored on exit, success or not.

    On an exception the whole dir is removed. On success, with
    ``keep`` naming a child of the dir, every other child is removed
    now and the kept one at interpreter exit — so a DataFrame returned
    from the block can stay a lazy scan of it. Without ``keep`` the
    whole dir is removed on exit; the caller must have materialized
    (collected, localCheckpointed) whatever it returns.

    The dir prefers tmpfs (/dev/shm): a checkpointed micro-batch writes
    hundreds of tiny state/offset/commit files whose fsync cost
    dominates the query at small scale — RAM-backed scratch cuts the
    constant factor without touching the plan. Falls back to the
    default tmp dir."""
    conf = dict(conf or {})
    prev = {k: spark.conf.get(k) for k in conf}
    shm = "/dev/shm"
    work = tempfile.mkdtemp(
        prefix=prefix,
        dir=shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else None,
    )
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield work
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    else:
        if keep is None:
            shutil.rmtree(work, ignore_errors=True)
        else:
            for name in os.listdir(work):
                if name != keep:
                    shutil.rmtree(os.path.join(work, name), ignore_errors=True)
            atexit.register(shutil.rmtree, work, ignore_errors=True)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def available_now(
    spark: SparkSession,
    src: str,
    ckpt: str,
    sink: Callable[[DataFrame], DataStreamWriter],
) -> Run:
    """The ``run(mfpt, schema)`` that ``replay_two_drops`` calls: one
    ``availableNow`` pass over the parquet files in ``src`` (at most
    ``mfpt`` files per micro-batch), checkpointed at ``ckpt``, blocking
    until it terminates. ``sink`` maps the stream DataFrame to an
    unstarted writer (``foreachBatch``, or a parquet sink with its
    path and output mode)."""

    def run(mfpt: int, schema: StructType) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mfpt)
            .parquet(src)
        )
        (
            sink(stream)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    return run


def replay_two_drops(
    spark: SparkSession,
    lo: DataFrame,
    hi: DataFrame,
    src: str,
    ckpt: str,
    run: Run,
) -> None:
    """Write both drops, then replay them as two micro-batches of ONE
    availableNow query: ``maxFilesPerTrigger`` = the first drop's file
    count, so the drops stay separate batches while the replay pays
    one query start (planning, source init, state/provider load,
    trailing no-data batch where applicable) instead of two — the
    fixed cost that dominates a short replay. ``run(mfpt, schema)``
    must start one availableNow pass over ``src`` and block until it
    terminates (``available_now`` builds one); batch ids are unchanged
    vs the two-run shape (0 then 1 — ids are checkpoint-global), so
    per-epoch foreachBatch logic keyed on the batch id behaves
    identically.

    The file source orders pending files oldest-first (modification
    time), and the two write jobs are strictly sequential, so batch 0
    is the lo drop; the offsets-log check below turns any violation
    of that precondition into a loud failure instead of a silently
    different replay. If the hi drop ever fragments into MORE files
    than lo, single-run batching could split it mid-drop (a drop is
    only time-ordered as a whole) — fall back to two runs, one per
    drop."""
    lo.coalesce(4).write.mode("append").parquet(src)
    lo_files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet"))
    # hi goes to a sibling dir first so the one-run-vs-two-run choice
    # is made BEFORE the second drop becomes visible to the source
    side = src + ".drop2"
    hi.coalesce(4).write.parquet(side)
    hi_files = sorted(
        f for f in os.listdir(side) if f.endswith(".parquet"))
    schema = spark.read.parquet(src).schema

    def move_hi_in():
        # rename preserves mtimes, which the two sequential write jobs
        # already ordered lo-before-hi; part-file names carry per-job
        # UUIDs so cross-job collisions cannot occur
        for f in hi_files:
            os.rename(os.path.join(side, f), os.path.join(src, f))

    if len(hi_files) > len(lo_files):
        run(len(lo_files) + len(hi_files), schema)
        move_hi_in()
        run(len(lo_files) + len(hi_files), schema)
        return
    move_hi_in()
    run(len(lo_files), schema)
    # prove the micro-batch boundary followed the drop boundary
    src_log = os.path.join(ckpt, "sources", "0", "0")
    with open(src_log) as f:
        batch0 = sorted(
            os.path.basename(json.loads(line)["path"])
            for line in f if line.startswith("{"))
    if batch0 != lo_files:
        raise RuntimeError(
            f"two-drop stream batching violated the drop boundary: "
            f"batch 0 read {batch0}, expected the lo drop {lo_files}")


def merge_partitioned_files(side: str, idx: str) -> None:
    """Move a staging index's partition files into the main index
    (local paths only — both dirs live under one ``scratch`` dir).
    Same-directory appends cannot run concurrently (two Spark jobs
    share the FileOutputCommitter _temporary dir under one output
    path), so the second half is appended to ``side`` in parallel and
    its ``key=``-partition parquet files renamed in here; part-file
    names carry per-job UUIDs, so cross-job collisions cannot occur
    and the merged directory state is byte-identical to two serial
    appends. Works for any partition depth (band=/vb=, cent_id=)."""
    for dirpath, _dirnames, filenames in os.walk(side):
        rel = os.path.relpath(dirpath, side)
        parts = [] if rel == "." else rel.split(os.sep)
        if not all("=" in p for p in parts):
            continue  # only partition dirs carry data files
        for f in filenames:
            if f.endswith(".parquet"):
                dst_dir = os.path.join(idx, *parts)
                os.makedirs(dst_dir, exist_ok=True)
                os.rename(
                    os.path.join(dirpath, f), os.path.join(dst_dir, f)
                )
