"""Committed versions on the Hadoop FileSystem: the one module that
lists, commits, withdraws and prunes the engine's carried state.

A *version* is a directory ``<root>/<prefix><name>`` that counts only
once its *marker* file exists inside it, so a half-written version (a
crash, a write in flight) is never seen. Three layouts share the
protocol:

- the ETL snapshot (``sources/snapshot.py``): ``snapshot_ts=<ts>``
  directories committed by a ``_COMMITTED`` marker whose content is
  the snapshot's schema record (``{table: schema}`` JSON);
- the flat versioned fold (``streaming/versioned.py::fold_version``):
  ``v=<batch>`` directories committed by the ``_SUCCESS`` file Spark's
  job commit writes;
- the partitioned versioned fold: ``v=<batch>`` directories committed
  by their ``manifest.json``, whose content is the manifest.

Paths are Hadoop paths: a plain local path or any URI with a Hadoop
FileSystem (``file://``, ``hdfs://``, ``s3a://``). Every call is a
driver-side metadata operation; none starts a Spark job.
"""

from __future__ import annotations

import posixpath
from collections.abc import Collection

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def filesystem(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path``, the FileSystem resolved from
    its scheme (the default FileSystem for a plain path)."""
    p = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def committed(spark: SparkSession, root: str, prefix: str, marker: str) -> list[str]:
    """Names (the part after ``prefix``) of the committed versions
    under ``root``, sorted as strings; ``[]`` for a missing root. Two
    listings answer it, whatever the number of versions: the root's
    ``<prefix>*`` entries, then the markers inside all of them."""
    fs, p = filesystem(spark, root)
    while fs.exists(p):
        try:
            markers = _children(spark, fs, _children(spark, fs, p, f"{prefix}*"), marker)
        except Py4JJavaError as err:  # a version pruned between the listings: list again
            if err.java_exception.getClass().getName() != "java.io.FileNotFoundException":
                raise
            continue
        # the paths as one string: one round trip, not one per path
        text = _jclass(spark, "scala.collection.mutable.ArraySeq").make(markers).mkString("\n")
        names = [posixpath.basename(posixpath.dirname(m)) for m in text.split("\n") if m]
        return sorted(n[len(prefix):] for n in names)
    return []


def commit(spark: SparkSession, version_dir: str, marker: str, content: bytes = b"") -> None:
    """Commit ``version_dir`` by writing its ``marker`` with ``content``:
    written to a temporary file beside it and renamed into place, so a
    reader never sees a half-written marker (rename is atomic on HDFS
    and local filesystems)."""
    fs, final = filesystem(spark, f"{version_dir}/{marker}")
    tmp = final.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        if content:
            out.write(content)
    finally:
        out.close()
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise OSError(f"could not commit {version_dir!r}: rename to {marker!r} failed")


def marker_content(spark: SparkSession, version_dir: str, marker: str) -> str:
    """The committed ``marker``'s content, decoded as UTF-8."""
    fs, p = filesystem(spark, f"{version_dir}/{marker}")
    stream = fs.open(p)
    try:
        return _jclass(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def withdraw(spark: SparkSession, version_dir: str, marker: str) -> None:
    """Decommit ``version_dir`` (delete its marker; no-op when absent).
    A writer withdraws before rewriting a version's data, so no reader
    sees a committed version mid-rewrite."""
    fs, p = filesystem(spark, f"{version_dir}/{marker}")
    fs.delete(p, False)


def prune(spark: SparkSession, root: str, prefix: str, keep: Collection[str]) -> None:
    """Delete every ``<root>/<prefix><name>`` entry whose name is not
    in ``keep``, committed or not. Only the root's one writer may call
    it, after its own commit: an uncommitted directory is then a
    crashed attempt, never a write in flight."""
    for path, _ in listing(spark, root):
        name = posixpath.basename(path)
        if name.startswith(prefix) and name[len(prefix):] not in keep:
            fs, p = filesystem(spark, path)
            fs.delete(p, True)


def listing(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """``(path, is_directory)`` of each immediate child of ``path``;
    ``[]`` when it does not exist."""
    fs, p = filesystem(spark, path)
    if not fs.exists(p):
        return []
    return [(str(st.getPath()), bool(st.isDirectory())) for st in fs.listStatus(p)]


def _children(spark: SparkSession, fs, paths, pattern: str):
    """``Path[]`` of the children of ``paths`` (a ``Path`` or a
    ``Path[]``) whose names match the glob ``pattern``. Paths come from
    the listing, fully qualified: a bare snapshot name would not parse,
    since a timestamp's ``:`` reads as a URI scheme."""
    names = _jclass(spark, "org.apache.hadoop.fs.GlobFilter")(pattern)
    return _jclass(spark, "org.apache.hadoop.fs.FileUtil").stat2Paths(fs.listStatus(paths, names))


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """The JVM class ``name``, resolved without the one round trip per
    package segment that ``spark._jvm.<a>.<b>…`` attribute access costs."""
    return JavaClass(name, spark._jvm._gateway_client)
