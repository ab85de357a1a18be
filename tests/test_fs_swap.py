"""The crash-safe directory swap in ``fs.py``: the failure path of the
second rename, both heal cases, the layout pin, and a guard that keeps
hand-rolled copies of the protocol out of the modules that use it."""

import os

import pytest

from platypus_ingestion_plugins_spark import fs


def _write(path, text):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part"), "w") as fh:
        fh.write(text)


def _read(path):
    with open(os.path.join(path, "part")) as fh:
        return fh.read()


def _fail_renames_from(monkeypatch, src_suffix):
    real = fs.rename

    def rename(spark, src, dst):
        return False if src.endswith(src_suffix) else real(spark, src, dst)

    monkeypatch.setattr(fs, "rename", rename)


def test_failed_swap_in_keeps_original_live(spark, tmp_path, monkeypatch):
    live, staging, park = (str(tmp_path / n) for n in ("d", "d.staging", "d.old"))
    _write(live, "old")
    _fail_renames_from(monkeypatch, ".staging")
    with pytest.raises(IOError, match="could not swap"):
        fs.swap_dir(spark, live, staging, park, lambda d: _write(d, "new"))
    assert _read(live) == "old"
    assert not os.path.exists(park)


def test_failed_swap_in_keeps_line_count_index_and_sketch(
    spark, tmp_path, monkeypatch
):
    """The line-count index and the sketch state used to raise with
    only the park left; both now put the original back first."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.functions.sketches import (
        countmin_merge_into,
        sketch_read,
    )
    from platypus_ingestion_plugins_spark.operators import dedup

    df = spark.createDataFrame([Row(k=f"k{i % 7}") for i in range(50)])
    sk = str(tmp_path / "cm")
    countmin_merge_into(df, "k", sk, depth=2, width=16, batch_id=0)
    before = sorted(sketch_read(spark, sk).collect())

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"shared line\nline {i}") for i in range(6)]
    )
    idx = str(tmp_path / "lc")
    for part in range(3):
        keys = dedup.line_count_keys(docs.filter(f"doc_id % 3 = {part}"), "text", "doc_id")
        dedup.append_line_count_index(keys, idx, key_buckets=4, batch_id=part)
    probe = dedup.line_count_keys(docs, "text", "doc_id")
    counts = sorted(dedup.read_line_counts_pruned(spark, idx, probe).collect())

    _fail_renames_from(monkeypatch, "staging")
    with pytest.raises(IOError):
        countmin_merge_into(df, "k", sk, depth=2, width=16, batch_id=1)
    with pytest.raises(IOError):
        dedup.compact_line_count_index(spark, idx, max_files_per_bucket=1)
    monkeypatch.undo()
    # live before any reader's heal runs
    assert os.path.isdir(sk) and not os.path.exists(sk + ".old")
    assert os.path.isdir(idx) and not os.path.exists(idx + "__old")
    assert sorted(sketch_read(spark, sk).collect()) == before
    assert sorted(dedup.read_line_counts_pruned(spark, idx, probe).collect()) == counts


def test_heal_restores_lone_park(spark, tmp_path):
    live, park, staging = (str(tmp_path / n) for n in ("d", "d.old", "d.staging"))
    _write(park, "committed")
    _write(staging, "torn")
    fs.heal_swap(spark, live, park, staging)
    assert _read(live) == "committed"
    assert not os.path.exists(park) and not os.path.exists(staging)


def test_heal_drops_stale_park(spark, tmp_path):
    live, park = str(tmp_path / "d"), str(tmp_path / "d.old")
    _write(live, "new")
    _write(park, "old")
    fs.heal_swap(spark, live, park)
    assert _read(live) == "new"
    assert not os.path.exists(park)


def test_check_pin(spark, tmp_path):
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="pass key_buckets"):
        fs.check_pin(spark, idx, "_key_buckets", None)
    assert fs.check_pin(spark, idx, "_key_buckets", 8, "read") == "8"
    assert not os.path.exists(idx)  # a read never pins
    assert fs.check_pin(spark, idx, "_key_buckets", 8, "append", pin=True) == "8"
    assert fs.check_pin(spark, idx, "_key_buckets", None) == "8"
    with pytest.raises(ValueError, match="key_buckets=8, append requested 4"):
        fs.check_pin(spark, idx, "_key_buckets", 4, "append", pin=True)


def test_no_hand_rolled_swaps_outside_fs():
    """The swap, heal and park naming live in fs.py only: a module that
    renames directories itself has grown its own copy of the protocol."""
    pkg = os.path.dirname(os.path.abspath(fs.__file__))
    modules = [
        "operators/dedup.py",
        "operators/similarity.py",
        "functions/sketches.py",
        "serving/text_index.py",
        "sources/cdc_table.py",
    ]
    banned = ("_rename_or_raise", "fs.rename(", "_fs.rename(", "precompact-")
    found = []
    for rel in modules:
        with open(os.path.join(pkg, rel)) as fh:
            for n, line in enumerate(fh, 1):
                found += [f"{rel}:{n}: {tok}" for tok in banned if tok in line]
    assert not found, found
