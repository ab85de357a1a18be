"""Hadoop FileSystem-backed path operations (local, HDFS, ``s3a://``).

The reference performs its table-directory management through Paimon's
FileIO abstraction, which it extends to S3A (S3ALoader.java:32-89) so
the same code path works against local disks in tests and object
stores in production. The Spark equivalent is the Hadoop FileSystem
API already on the JVM classpath: every helper here resolves the
filesystem from the path's scheme, so ``file:/``, ``hdfs://`` and
``s3a://`` (with the fs.s3a.* session confs from session.s3a_options)
all behave identically from the caller's point of view.

The one crash-safe directory swap of the incremental structures lives
here too (``swap_dir``): stage the new copy, rename live -> park,
rename staging -> live, drop the park; a failed second rename puts the
park back before raising, and ``heal_swap`` restores a park a crash
left without its live dir. Its users are the line-count index
(``dedup.compact_line_count_index``), the sketch state
(``sketches._merge_sketch_into``), the term index
(``text_index.compact_term_index``) and CDC snapshot compaction
(``cdc_table.compact_snapshots``). ``compact_partition_dirs`` runs the
same swap per leaf dir of a partitioned index (the band-key index and
the IVF lists), and ``check_pin`` is the indexes' layout-sidecar check.
The serving table keeps its own marker-aware per-bucket swap.

Caveat for object stores: ``rename`` on S3A is a server-side copy, not
an atomic metadata operation. The swap protocols keep the old data
aside until the new data is fully in place, so a crash mid-rename
never loses committed state — but a production deployment at 100 TB
would put a real table format (Delta/Iceberg/Paimon) behind this
interface for true atomic commits.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child basenames of a directory; [] if the path does not exist."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move src to dst (dst must not exist). Returns success."""
    fs, s = _fs_path(spark, src)
    _, d = _fs_path(spark, dst)
    return bool(fs.rename(s, d))


def delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; no-op (False) if the path does not exist."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def mkdirs(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.mkdirs(p))


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (metadata sidecars)."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Replace a small text file via stage-and-rename: the new content
    is fully written to a ``.tmp`` sibling before the destination is
    touched, so a crash at any point leaves either the old file, the
    new file, or (between delete and rename) only a complete ``.tmp``
    — never a torn half-write. ``read_text`` closes that last window
    by falling back to the staged sibling when the destination is
    missing, so the content is never unreadable.

    The ``.tmp`` is itself produced by rename (bytes land in an
    ``.inprogress`` file first), so a ``.tmp`` on disk is complete by
    construction — the read-side fallback can never observe a torn
    stage, even for a first-ever write with no destination to fall
    back on.

    Heal-before-stage: when the destination is missing but a ``.tmp``
    survives (a prior writer crashed inside its delete->rename window),
    that ``.tmp`` is the ONLY durable copy — it is promoted to the
    destination before any staging deletes it, so a second crash during
    this write can never leave zero readable copies. Every rename's
    boolean result is checked: Hadoop FileSystem.rename reports failure
    by returning false, and silently proceeding would delete the
    destination with nothing to put in its place."""
    tmp = path + ".tmp"
    inprog = path + ".inprogress"
    write_text(spark, inprog, text)
    fs, p = _fs_path(spark, path)
    _, ptmp = _fs_path(spark, tmp)
    if not fs.exists(p) and fs.exists(ptmp):
        # promote the sole surviving copy left by a crashed predecessor
        _rename_or_raise(spark, tmp, path)
    if fs.exists(ptmp):
        fs.delete(ptmp, False)
    _rename_or_raise(spark, inprog, tmp)
    if fs.exists(p):
        fs.delete(p, False)
    _rename_or_raise(spark, tmp, path)


def _rename_or_raise(spark: SparkSession, src: str, dst: str) -> None:
    if not rename(spark, src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def rename_numbered(
    spark: SparkSession, src: str, dst_dir: str, name: str
) -> str:
    """Move ``src`` into ``dst_dir`` as ``name``, falling back to
    ``healed-N-<name>`` for the first free N when the destination is
    taken — the idempotent-under-repeated-crashes heal rename shared
    by the band-key and IVF compactors (a crash mid-heal leaves both
    <name> and healed-1-<name>; the re-run must find a free slot, not
    fail every subsequent compaction). Returns the destination used."""
    dst = f"{dst_dir}/{name}"
    n_try = 0
    while exists(spark, dst):
        n_try += 1
        dst = f"{dst_dir}/healed-{n_try}-{name}"
    _rename_or_raise(spark, src, dst)
    return dst


def read_text(spark: SparkSession, path: str) -> str | None:
    """Contents of a small text file, or None if absent.

    Recovery-on-read for ``write_text_atomic``'s delete->rename
    window: when the destination is missing but a ``.tmp`` sibling
    exists, the staged content is returned. The fallback fires ONLY
    with no destination — a ``.tmp`` beside a live file is ignored,
    because the destination always wins. A ``.tmp`` written by
    ``write_text_atomic`` is complete by construction (it appears via
    rename from the ``.inprogress`` stage), so the fallback never
    returns torn content."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        _, ptmp = _fs_path(spark, path + ".tmp")
        if not fs.exists(ptmp):
            return None
        p = ptmp
    stream = fs.open(p)
    jvm = spark._jvm
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return bytes(baos.toByteArray()).decode("utf-8")


def check_pin(
    spark: SparkSession,
    path: str,
    sidecar: str,
    want: object | None,
    action: str = "read",
    pin: bool = False,
) -> str:
    """Layout pin of an index: ``<path>/<sidecar>`` records a setting
    that is part of the on-disk layout, and a ``want`` that differs
    raises (two layouts in one index would prune away matches). With
    no sidecar, ``want`` is required and ``pin=True`` records it before
    the caller's first data write. Returns the value in force."""
    name = sidecar.lstrip("_")
    pinned = read_text(spark, f"{path}/{sidecar}")
    if pinned is None:
        if want is None:
            raise ValueError(f"index at {path} has no {sidecar} sidecar; pass {name}")
        if pin:
            write_text_atomic(spark, f"{path}/{sidecar}", str(want))
        return str(want)
    if want is not None and pinned != str(want):
        raise ValueError(
            f"index at {path} is pinned to a different {name} "
            f"({name}={pinned}, {action} requested {want})"
        )
    return pinned


def heal_swap(
    spark: SparkSession, live: str, park: str, staging: str | None = None
) -> None:
    """Finish a ``swap_dir`` a crash interrupted: a park without its
    live dir is the sole durable copy and is renamed back; a park
    beside it is stale and dropped; ``staging`` (when given) is
    swept, never promoted. Writers heal BEFORE writing into ``live`` —
    a recreated live dir would shadow the park, and the next heal
    would drop it."""
    if exists(spark, live):
        delete(spark, park)
    elif exists(spark, park):
        _rename_or_raise(spark, park, live)
    if staging is not None:
        delete(spark, staging)


def swap_dir(
    spark: SparkSession,
    live: str,
    staging: str,
    park: str,
    write: Callable[[str], None],
) -> None:
    """Replace dir ``live`` (absent on a first write) with what
    ``write(staging)`` produces; the caller has healed first."""
    delete(spark, staging)
    write(staging)
    _replace(spark, live, staging, park)


def _replace(spark: SparkSession, live: str, staged: str, park: str) -> None:
    if exists(spark, live):
        _rename_or_raise(spark, live, park)
    if not rename(spark, staged, live):
        if exists(spark, park):
            rename(spark, park, live)  # keep the original live
        raise IOError(f"could not swap {staged} into {live}")
    delete(spark, park)


def _leaf_parents(spark: SparkSession, path: str, keys: Sequence[str]) -> list[str]:
    parents = [path]
    for key in keys[:-1]:
        parents = [
            f"{d}/{n}" for d in parents for n in sorted(list_names(spark, d))
            if n.startswith(f"{key}=")
        ]
    return parents


def fragmented_dirs(
    spark: SparkSession, path: str, keys: Sequence[str], max_files_per_dir: int
) -> list[str]:
    """Leaf dirs of a ``partitionBy(*keys)`` parquet layout holding
    more than ``max_files_per_dir`` data files, relative to ``path``."""
    return [
        f"{parent}/{n}"[len(path) + 1:]
        for parent in _leaf_parents(spark, path, keys)
        for n in sorted(list_names(spark, parent))
        if n.startswith(f"{keys[-1]}=")
        and sum(f.endswith(".parquet") for f in list_names(spark, f"{parent}/{n}"))
        > max_files_per_dir
    ]


def _partition_value(s: str):
    # the partition column's own type: a cast on the column side would
    # defeat PruneFileSourcePartitions
    return int(s) if s.lstrip("-").isdigit() else s


def compact_partition_dirs(
    spark: SparkSession, path: str, keys: Sequence[str], max_files_per_dir: int
) -> list[str]:
    """Rewrite each ``fragmented_dirs`` leaf of a set-semantics
    ``partitionBy(*keys)`` index to one file: ONE partition-pruned
    ``dropDuplicates`` job (which absorbs replay and heal duplicates)
    into ``<path>/.compact_staging``, then each dir swapped through a
    ``.precompact-<leaf>`` park beside it. Dot names are invisible to
    partition discovery, so a crash never breaks readers. Run between
    appends. Returns the dirs rewritten.

    Each pass first heals the last one: a park without its leaf is
    renamed back; a park whose leaf EXISTS is merged in file by file
    (``rename_numbered``), never dropped — the leaf may be a post-crash
    append holding only new rows. Legacy ``.compacting-*`` dirs are
    swept."""
    prefix = ".precompact-"
    staging = f"{path}/.compact_staging"
    for parent in _leaf_parents(spark, path, keys):
        for name in sorted(list_names(spark, parent)):
            if name.startswith(".compacting-"):
                delete(spark, f"{parent}/{name}")
            elif name.startswith(prefix):
                parked, leaf = f"{parent}/{name}", f"{parent}/{name[len(prefix):]}"
                if not exists(spark, leaf):
                    _rename_or_raise(spark, parked, leaf)
                    continue
                for f_name in sorted(list_names(spark, parked)):
                    if f_name.endswith(".parquet"):  # checksums die with the park
                        rename_numbered(spark, f"{parked}/{f_name}", leaf, f_name)
                delete(spark, parked)
    oversized = fragmented_dirs(spark, path, keys, max_files_per_dir)
    delete(spark, staging)  # stale staging from a crash
    if not oversized:
        return []
    pred = reduce(operator.or_, (
        reduce(operator.and_, (
            F.col(k) == _partition_value(v)
            for k, v in (part.split("=", 1) for part in rel.split("/"))
        ))
        for rel in oversized
    ))
    (
        spark.read.parquet(path)
        .filter(pred)  # partition-pruned: only the oversized dirs
        .dropDuplicates()
        .repartition(len(oversized), *keys)
        .write.partitionBy(*keys)
        .parquet(staging)
    )
    for rel in oversized:
        parent, leaf = f"{path}/{rel}".rsplit("/", 1)
        _replace(spark, f"{path}/{rel}", f"{staging}/{rel}", f"{parent}/{prefix}{leaf}")
    delete(spark, staging)
    return [f"{path}/{rel}" for rel in oversized]
