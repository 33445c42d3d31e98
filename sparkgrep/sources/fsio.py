"""Cluster-portable I/O for an index directory.

Every parquet table of an index goes through :func:`write_parquet`, the
one place its page codec is decided. Spark's writers already speak
any Hadoop filesystem (file://, hdfs://, s3a://, ...). Metadata sidecars
(stats.json, the segment-lineage manifest) must match — driver-local
``open()`` would break the moment an index directory lives on HDFS/S3,
which is exactly where a spark-submit build puts it.

Everything here goes through the JVM Hadoop ``FileSystem`` API of the
ACTIVE SparkSession (same filesystem resolution as the data writers).
Writes are atomic: write to ``<path>.tmp`` then rename — a reader never
observes a torn metadata file. When no session is active (offline
tooling against a local index), plain local I/O is the fallback.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# parquet-mr's default zstd level, pinned in the write options so that
# neither the session's codec nor its Hadoop conf decides an index's format
_ZSTD_LEVEL = "3"


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple = (),
) -> None:
    """Write ``df`` as an index table: the ONE parquet writer of the
    engine, so every table (postings, doc_lens, term_ubs, segments,
    tombstones, vector indexes) has one format.

    Pages are zstd at parquet-mr's default level, whatever codec the
    caller's session sets (a codec is per file, so tables written
    earlier with another codec still read beside these). Row order is
    the caller's: postings arrive sorted by ``(bucket, term, shard)``
    (``index_build.write_postings``)."""
    w = (
        df.write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", _ZSTD_LEVEL)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _hadoop(path: str):
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p, jvm


def write_text(path: str, text: str) -> None:
    """Atomically write ``text`` to ``path`` (tmp + rename)."""
    h = _hadoop(path)
    if h is None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, path)
        return
    fs, p, jvm = h
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    # the old FileSystem API has no overwrite-rename: delete-then-rename
    # is the best available (the gap is the price; callers that need a
    # stronger contract use marker commits). Both booleans ARE checked —
    # a false return (concurrent recreate, cross-encryption-zone move)
    # must not let the caller believe the metadata write landed.
    if fs.exists(p) and not fs.delete(p, False):
        raise IOError(f"could not replace {path!r}: delete failed")
    if not fs.rename(tmp, p):
        raise IOError(f"could not replace {path!r}: rename from tmp failed")


def read_text(path: str) -> str:
    h = _hadoop(path)
    if h is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    fs, p, jvm = h
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def exists(path: str) -> bool:
    h = _hadoop(path)
    if h is None:
        return os.path.exists(path)
    fs, p, _ = h
    return bool(fs.exists(p))


def delete(path: str, recursive: bool = True) -> None:
    """Delete a file or directory tree (no-op if absent)."""
    h = _hadoop(path)
    if h is None:
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)
        return
    fs, p, _ = h
    if fs.exists(p):
        fs.delete(p, recursive)


def rename(src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` (dst must not exist — Hadoop rename onto
    an existing dst silently fails or moves src INSIDE a dst directory,
    so the boolean is checked and a failure raises instead of letting a
    swap caller proceed on a half-moved state)."""
    h = _hadoop(src)
    if h is None:
        os.replace(src, dst)
        return
    fs, p, jvm = h
    if not fs.rename(p, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename {src!r} -> {dst!r} failed")


def link_or_copy(src: str, dst: str) -> None:
    """Make ``dst`` hold the SAME BYTES as ``src`` without rewriting
    them where the filesystem allows: a hardlink on a local posix FS
    (instant, byte- and inode-identical — the surgical-delete swap uses
    this so untouched postings files stay physically untouched), a
    server-side copy through ``FileUtil.copy`` on Hadoop filesystems.
    Parent directories are created."""
    h = _hadoop(src)
    if h is None:
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:  # cross-device / FS without hardlinks
            import shutil

            shutil.copy2(src, dst)
        return
    fs, p, jvm = h
    d = jvm.org.apache.hadoop.fs.Path(dst)
    dfs = d.getFileSystem(SparkSession.getActiveSession()._jsc.hadoopConfiguration())
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, p, dfs, d, False, True,
        SparkSession.getActiveSession()._jsc.hadoopConfiguration(),
    )


def list_dir(path: str, suffix: str = "") -> list[str]:
    """Names (not paths) of plain files directly under ``path`` ending
    with ``suffix``; empty if the directory doesn't exist."""
    h = _hadoop(path)
    if h is None:
        if not os.path.isdir(path):
            return []
        return sorted(n for n in os.listdir(path) if n.endswith(suffix))
    fs, p, _ = h
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        if st.isFile():
            name = st.getPath().getName()
            if name.endswith(suffix):
                out.append(name)
    return sorted(out)
