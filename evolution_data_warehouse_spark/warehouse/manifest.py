"""The versioned-snapshot store: atomic publishes of one or more tables.

Every publish claims a fresh version directory ``root/v{N}/`` (N from
1), lets the caller write into it, then flips ONE small pointer file
(``root/_CURRENT``, the bare version number) to N. Readers resolve the
pointer first, so they always see a complete, internally consistent
version:

* single-object writes are atomic on every serious filesystem and
  object store (S3 PUT, ABFS create-with-overwrite, HDFS rename of a
  1-line file), so there is no torn state and no reader-visible gap;
* MULTI-TABLE consistency comes for free — all tables in a publish
  land under one version, and the flip exposes them together (the
  "dim and fact must change in lockstep" problem rename-swaps cannot
  solve);
* a version is claimed exclusively before anything is written to it,
  so two publishers never write into the same ``v{N}`` and a flip never
  shows one publisher's table next to another's;
* a crash before the flip leaves the pointer on the old version: the
  half-written ``v{N}`` is skipped by the next claim, never served, and
  deleted by retention.

The SCD2 dimensions (warehouse/scd_store.py) and the multi-table
``publish_versioned`` both publish here; perfbench/oracle.py reads the
layout (``_CURRENT``, ``v{N}/*.parquet``) directly.

This is NEW capability relative to the reference: the reference's ETL
overwrites tables in place in Azure SQL (per-table transactions; no
multi-table snapshot publish exists there). The pointer pattern is
the file/object-store analog of what a warehouse would need to serve
a consistent dim+fact flip — standard practice in table formats
(Iceberg/Delta commit pointers), re-expressed minimally.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"
_CLAIM = "_CLAIM"
_COMMITTED = "_COMMITTED"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def _local_path(fs, p) -> str | None:
    """The OS path of ``p`` when it is on the local filesystem."""
    if fs.getScheme() != "file":
        return None
    return fs.makeQualified(p).toUri().getPath()


def _write_small_file(spark: SparkSession, path: str, content: str) -> None:
    """Atomic single-object write: write a uniquely-named temp object,
    then ``FileContext.rename(tmp, p, Options.Rename.OVERWRITE)`` onto
    the final path.

    Rename-with-OVERWRITE is the only primitive that is atomic on
    EVERY backend: on HDFS/POSIX it swaps the inode (no absent-window,
    no torn content); on object stores the FileContext implementation
    degrades to copy+delete of a closed, fully-materialized object, so
    readers still see old-or-new. A bare ``fs.create(p, True)`` on the
    final path — the previous implementation — is atomic only on
    stores that materialize on close (S3A/ABFS PUT); on HDFS and local
    filesystems it TRUNCATES in place, so a concurrent
    ``current_version`` could read an empty or partial pointer (the r7
    ADVICE finding). A delete-then-plain-rename is equally wrong the
    other way: it opens a window where the pointer does not exist and
    a concurrent publish would restart numbering at v1 (the r6 ADVICE
    finding). Temp names are uuid-unique so concurrent publishers
    never write the same temp object; the loser's flip simply lands
    last. If the backend has no FileContext binding, fall back to
    direct create-with-overwrite (correct on the object stores that
    lack one, since those materialize on close).

    A local path is swapped with ``os.replace``: Hadoop's local
    filesystem renames a ``.crc`` side file with the pointer, and two
    concurrent flips fail on each other's side file."""
    jvm, fs, p = _fs(spark, path)
    local = _local_path(fs, p)
    if local is not None:
        tmp = f"{local}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(content)
        os.replace(tmp, local)
        return
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    try:
        conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri(), conf
        )
        overwrite = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        opts = spark.sparkContext._gateway.new_array(  # noqa: SLF001
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        opts[0] = overwrite
        fc.rename(tmp, p, opts)
    except Exception as exc:
        # Fall back to create-with-overwrite ONLY when the scheme has
        # no FileContext binding (UnsupportedFileSystemException, or
        # the FileContext/Options API itself being absent) — there,
        # single-object PUT semantics make the direct overwrite atomic.
        # Any OTHER failure (transient IOException, permissions,
        # safe-mode) must propagate: silently degrading to the
        # truncate-in-place write on HDFS/local would reopen exactly
        # the torn-pointer window this function exists to close.
        unsupported = "UnsupportedFileSystem" in str(exc) or isinstance(
            exc, (AttributeError, TypeError)
        )
        if not unsupported:
            if fs.exists(tmp):
                fs.delete(tmp, False)
            raise
        out = fs.create(p, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        if fs.exists(tmp):
            fs.delete(tmp, False)


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    jvm, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # py4j copies buffers, so a read(byte[]) loop can't fill a
        # Python bytearray — per-byte read() is fine for a 1-line
        # pointer (and avoids depending on commons-io being shaded).
        data = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            data.append(b)
        return data.decode("utf-8")
    finally:
        stream.close()


def current_version(spark: SparkSession, root: str) -> int:
    """Resolve the pointer. A missing pointer means "never published"
    (0). An EMPTY or non-integer pointer is different: it exists, so a
    publish has happened — tolerate a brief retry in case a non-atomic
    backend exposed a mid-write state, then fail loudly rather than
    returning 0 (which would restart version numbering and clobber
    live data)."""
    path = f"{root}/{_POINTER}"
    for attempt in range(4):
        raw = _read_small_file(spark, path)
        if raw is None:
            return 0
        try:
            return int(raw)
        except ValueError:
            if attempt < 3:
                time.sleep(0.1)
    raise RuntimeError(f"unreadable version marker {path}: {raw!r}")


def _claim(spark: SparkSession, vdir: str) -> bool:
    """Create ``vdir`` exclusively; False when it already exists.

    ``FileSystem.mkdirs`` also succeeds on an existing directory, so it
    cannot claim. A local path is claimed with ``os.mkdir``; any other
    scheme with ``create(overwrite=false)`` of a ``_CLAIM`` file inside
    the directory, which is atomic on HDFS. Stores with no exclusive
    create (S3A and other object stores where that call is a
    check-then-write) give no such guarantee: run one publisher per
    root there."""
    jvm, fs, p = _fs(spark, vdir)
    local = _local_path(fs, p)
    if local is not None:
        try:
            os.mkdir(local)
        except FileExistsError:
            return False
        return True
    fs.mkdirs(p)
    try:
        fs.create(jvm.org.apache.hadoop.fs.Path(p, _CLAIM), False).close()
    except Py4JJavaError as exc:
        # HDFS: the file exists, or another client is creating it now
        lost = ("FileAlreadyExists", "AlreadyBeingCreated")
        if any(name in str(exc.java_exception) for name in lost):
            return False
        raise
    return True


def publish(
    spark: SparkSession,
    root: str,
    write: Callable[[str], None],
    keep_last: int | None = None,
) -> int:
    """Claim the next free ``root/v{N}``, call ``write(vdir)`` to fill
    it, mark it committed and flip the pointer to N. Returns N.

    A version directory that another publisher holds (or a crashed one
    left behind) is skipped, never written into. The flip itself is
    last-writer-wins, the same linearization a MERGE gives. With
    ``keep_last``, ``retention_cleanup`` runs after the flip (readers
    that resolved an old version mid-flip get a grace of one retention
    cycle — size ``keep_last`` to exceed the longest query)."""
    _, fs, p = _fs(spark, root)
    fs.mkdirs(p)
    version = current_version(spark, root) + 1
    while not _claim(spark, f"{root}/v{version}"):
        version += 1
    vdir = f"{root}/v{version}"
    write(vdir)
    _write_small_file(spark, f"{vdir}/{_COMMITTED}", "")
    _write_small_file(spark, f"{root}/{_POINTER}", str(version))
    if keep_last is not None:
        retention_cleanup(spark, root, keep_last)
    return version


def _version_dirs(spark: SparkSession, root: str) -> list[int]:
    """Every ``v{N}`` directory under ``root``, published or not."""
    _, fs, p = _fs(spark, root)
    if not fs.exists(p):
        return []
    names = [s.getPath().getName() for s in fs.listStatus(p) if s.isDirectory()]
    return sorted(int(n[1:]) for n in names if n[:1] == "v" and n[1:].isdigit())


def _committed(spark: SparkSession, root: str, version: int) -> bool:
    _, fs, p = _fs(spark, f"{root}/v{version}/{_COMMITTED}")
    return fs.exists(p)


def list_versions(spark: SparkSession, root: str) -> list[int]:
    """Published versions still on disk, ascending: committed and not
    past the pointer (a claimed directory that was never flipped to is
    not a version)."""
    cur = current_version(spark, root)
    return [
        v
        for v in _version_dirs(spark, root)
        if v <= cur and _committed(spark, root, v)
    ]


def retention_cleanup(spark: SparkSession, root: str, keep_last: int) -> list[int]:
    """Keep the newest ``keep_last`` published versions and the
    pointer's target; delete every version directory older than the
    oldest kept one, including skipped claims. Mirrors
    operators/backup.retention_cleanup (backup_to_datalake.py:133,
    250-251). Returns the deleted versions."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    kept = list_versions(spark, root)[-keep_last:]
    oldest = min(kept + [current_version(spark, root)])
    jvm, fs, _ = _fs(spark, root)
    doomed = [v for v in _version_dirs(spark, root) if v < oldest]
    for v in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/v{v}"), True)
    return doomed


def publish_versioned(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    root: str,
    keep_last: int = 3,
) -> int:
    """Publish every table as ``root/v{N}/{table}`` in one version.
    Returns N. All-or-nothing: a failure before the flip leaves readers
    on N-1 with no partial state visible."""

    def write(vdir: str) -> None:
        for name, df in tables.items():
            df.write.parquet(f"{vdir}/{name}")

    return publish(spark, root, write, keep_last)


def read_version(
    spark: SparkSession, root: str, table: str = "", version: int | None = None
) -> DataFrame:
    """Time travel: read a retained published version (the pointer's
    target by default); ``table`` names a subdirectory of it. A version
    past the pointer or never committed is garbage and is never served."""
    cur = current_version(spark, root)
    v = cur if version is None else version
    if not 1 <= v <= cur:
        raise FileNotFoundError(
            f"version {v} not published under {root} (current {cur})"
        )
    if not _committed(spark, root, v):
        raise FileNotFoundError(
            f"version {v} under {root} dropped by retention or never committed"
        )
    return spark.read.parquet(f"{root}/v{v}/{table}".rstrip("/"))


def read_current(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Read ``table`` as of the pointer's version."""
    return read_version(spark, root, table)
