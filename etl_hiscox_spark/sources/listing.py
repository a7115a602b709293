"""Distributed filesystem listing for index/table observability.

Fragmentation diagnostics need per-directory (file count, bytes) facts.
A recursive driver-side ``FileSystem.listFiles`` walk is fine at
n_clusters × daily files, but at 100 TB with years of appends the
listing ITSELF becomes a driver stall (VERDICT r10) — the scale-safe
form distributes the per-directory walks across executors and keeps the
driver's share bounded by the number of directories (one non-recursive
LIST), the same split Spark's own InMemoryFileIndex uses for parallel
partition discovery.

Filesystem resolution (r11 review): a directory's OWNING filesystem
decides where its walk may run. Remote schemes (s3://, hdfs://, ...)
fan out to executors via ``pyarrow.fs`` (the ``from_uri`` registry —
public PyArrow surface; hdfs requires libhdfs on the workers).
Driver-LOCAL directories (``file:`` scheme, or scheme-less with
``fs.defaultFS=file:``) are walked on the DRIVER in a bounded loop — a
driver-local disk is not visible from remote executors, and it is small
by definition, so the driver walk is both the only correct choice and a
bounded cost. Scheme-less paths on a non-file defaultFS are qualified
with the defaultFS before shipping, mirroring Hadoop's own resolution —
the executor must never fall back to ITS local disk for them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def _resolve_fs(dir_uri: str):
    """``(filesystem, root_path)`` for a URI or plain path (see
    :func:`_dir_file_stats` for the ``file:`` normalization rationale)."""
    from pyarrow import fs as pafs

    if dir_uri.startswith("file:") or "://" not in dir_uri:
        local = dir_uri[len("file:"):] if dir_uri.startswith("file:") else dir_uri
        return pafs.LocalFileSystem(), re.sub("^/+", "/", local)
    # Hadoop's s3a/s3n schemes name the same stores PyArrow registers as
    # s3 — alias them so index roots written with Hadoop-style URIs resolve
    if dir_uri.startswith(("s3a://", "s3n://")):
        dir_uri = "s3://" + dir_uri.split("://", 1)[1]
    return pafs.FileSystem.from_uri(dir_uri)


# Partition-column dtypes whose directory-name encoding round-trips to a
# Python value with the SAME ordering Spark gives the column: UTF-8 binary
# order == code-point order for strings, numeric order for integrals,
# ISO-date order for dates. Timestamps (session-tz rendering), decimals,
# and floats deliberately fall back to the footer scan — their dir-name
# forms have normalization subtleties that are not worth a wrong watermark.
def _parse_partition_value(raw: str, dtype):
    from datetime import date
    from urllib.parse import unquote

    from pyspark.sql import types as T

    value = unquote(raw)
    if isinstance(dtype, T.StringType):
        return value
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dtype, T.DateType):
        return date.fromisoformat(value)
    raise ValueError(f"unsupported partition dtype for dir-name watermark: {dtype}")


def partition_high_watermark(path: str, partition_col: str, dtype):
    """Max partition value of a Hive-layout table from DIRECTORY NAMES.

    ``spark.read.parquet(path).agg(max(partition_col))`` is correct but
    pays a full recursive file listing plus a scheduled job over every
    file — at 100 TB with years of daily partitions that is O(all files)
    for a fact derivable from O(partitions) directory entries. This reads
    one non-recursive LIST of ``path`` plus one per-dir non-emptiness
    check (empty dirs contribute no rows to the footer scan either, so
    skipping them matches the scan's answer exactly).

    Returns ``(found, watermark)``: ``(False, None)`` when the table does
    not exist yet, ``(True, None)`` when it exists but has no data-bearing
    partitions. Raises ``ValueError`` for dtypes whose dir-name encoding
    does not safely round-trip (caller falls back to the footer scan).
    """
    from pyarrow import fs as pafs

    filesystem, root = _resolve_fs(path)
    if filesystem.get_file_info(root).type != pafs.FileType.Directory:
        return False, None
    prefix = f"{partition_col}="
    values = []
    for info in filesystem.get_file_info(pafs.FileSelector(root, recursive=False)):
        name = info.base_name
        if info.type != pafs.FileType.Directory or not name.startswith(prefix):
            continue
        raw = name[len(prefix):]
        if raw == "__HIVE_DEFAULT_PARTITION__":  # null partition: max() ignores nulls
            continue
        children = filesystem.get_file_info(
            # allow_not_found: a concurrent retention job may delete an
            # expired partition between the root LIST and this one — a
            # vanished old partition is watermark-irrelevant, not an error
            pafs.FileSelector(info.path, recursive=False, allow_not_found=True)
        )
        if any(
            c.type == pafs.FileType.File
            # hidden/marker files (.crc, _committer leftovers) are ignored
            # by Spark's reader, so they must not make a partition count
            # as data-bearing here either
            and not c.base_name.startswith(("_", "."))
            for c in children
        ):
            values.append(_parse_partition_value(raw, dtype))
    return True, (max(values) if values else None)


def _dir_file_stats(dir_uri: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(n_files, total_bytes) of one directory tree via ``pyarrow.fs``.

    Hadoop renders local URIs as ``file:/x`` (one slash); PyArrow's
    ``from_uri`` rejects that form, so file-scheme URIs are normalized to
    plain paths on the LocalFileSystem."""
    from pyarrow import fs as pafs

    filesystem, root = _resolve_fs(dir_uri)
    infos = filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
    files = [
        i for i in infos if i.type == pafs.FileType.File and i.path.endswith(suffix)
    ]
    return len(files), sum(i.size for i in files)


def distributed_dir_stats(
    spark: SparkSession, dirs: list[tuple[int, str]]
) -> DataFrame:
    """(key, dir_uri) pairs → (key, n_files, total_bytes).

    Remote directories are walked on EXECUTORS (one-dir-per-row
    mapInPandas fan-out); driver-local directories are walked on the
    driver (see the module docstring for why that split is forced). The
    driver never materializes more than the directory list plus one
    (n_files, bytes) pair per directory.
    """
    import pandas as pd

    from etl_hiscox_spark.sources.commitio import _meta_is_local

    schema = "key int, n_files long, total_bytes long"
    local_rows: list[tuple[int, int, int]] = []
    remote: list[tuple[int, str]] = []
    for k, d in dirs:
        if _meta_is_local(spark, d):
            local_rows.append((int(k),) + _dir_file_stats(d))
        elif "://" not in d:
            # scheme-less on a non-file defaultFS: qualify before shipping.
            # Only absolute paths qualify safely — 'hdfs://nn' + 'rel/x'
            # would silently produce the malformed 'hdfs://nnrel/x'
            # (ADVICE r11); a relative path's meaning depends on a working
            # directory this walk does not have, so reject it loudly.
            if not d.startswith("/"):
                raise ValueError(
                    f"distributed_dir_stats: relative path {d!r} cannot be "
                    "qualified against fs.defaultFS — pass an absolute path "
                    "or a full URI"
                )
            default_fs = (
                spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
            )
            remote.append((int(k), default_fs.rstrip("/") + d))
        else:
            remote.append((int(k), d))
    from etl_hiscox_spark.smalldf import local_rows_df

    local_df = (
        local_rows_df(spark, local_rows, schema) if local_rows else None
    )
    if not remote:
        return local_df if local_df is not None else local_rows_df(spark, [], schema)

    def _walk(batches):
        for pdf in batches:
            rows = [
                (int(k),) + _dir_file_stats(d)
                for k, d in zip(pdf["key"], pdf["dir"])
            ]
            yield pd.DataFrame(rows, columns=["key", "n_files", "total_bytes"])

    ddf = local_rows_df(spark, remote, "key int, dir string")
    n = max(1, min(len(remote), spark.sparkContext.defaultParallelism))
    remote_df = ddf.repartition(n).mapInPandas(_walk, schema)
    return remote_df if local_df is None else local_df.unionByName(remote_df)
