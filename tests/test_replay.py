"""streaming.replay.scratch: conf overrides and work-dir lifetime, plus
a guard that keeps the replay scaffolding out of the driver entry."""

import os

import pytest

from platypus_ingestion_plugins_spark.streaming import replay

PARTS = "spark.sql.shuffle.partitions"
NODATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _conf(spark):
    return spark.conf.get(PARTS), spark.conf.get(NODATA)


def test_scratch_restores_conf_and_keeps_only_the_named_child(spark):
    before = _conf(spark)
    overrides = {PARTS: "3", NODATA: "false"}
    with replay.scratch(spark, "t_keep_", overrides, keep="out") as work:
        assert _conf(spark) == ("3", "false")
        for name in ("src", "ckpt", "out"):
            os.makedirs(os.path.join(work, name))
        with open(os.path.join(work, "out", "part-0"), "w") as f:
            f.write("row")
    assert _conf(spark) == before
    assert os.listdir(work) == ["out"]
    assert os.listdir(os.path.join(work, "out")) == ["part-0"]


def test_scratch_without_keep_removes_everything(spark):
    before = _conf(spark)
    with replay.scratch(spark, "t_nokeep_", {PARTS: "3"}) as work:
        os.makedirs(os.path.join(work, "ckpt", "commits"))
        assert spark.conf.get(PARTS) == "3"
    assert _conf(spark) == before
    assert not os.path.exists(work)


def test_scratch_on_exception_restores_conf_and_removes_dir(spark):
    before = _conf(spark)
    seen = []
    with pytest.raises(RuntimeError, match="boom"):
        with replay.scratch(
            spark, "t_err_", {PARTS: "3", NODATA: "false"}, keep="out"
        ) as work:
            seen.append(work)
            os.makedirs(os.path.join(work, "out"))
            raise RuntimeError("boom")
    assert _conf(spark) == before
    assert not os.path.exists(seen[0])


def test_entry_has_no_hand_rolled_replay_scaffolding():
    """The scratch dirs, conf save/restore and availableNow closures
    live in streaming/replay.py; any of these in the entry means a
    query re-grew its own copy."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    with open(path) as f:
        src = f.read()
    for pattern in (
        "def run_available",
        "prev_parts =",
        "shutil.rmtree(work",
        "tempfile.mkdtemp",
    ):
        assert pattern not in src, pattern
