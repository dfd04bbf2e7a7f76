"""Hadoop FileSystem helpers for driver-side state maintenance.

Stateful plans (plans/incremental_corpus.py) and swap-style rewrites
need a handful of filesystem primitives — exists / rename / delete /
list / atomic marker files. Using ``os``/``shutil`` silently pins the
state to the driver's LOCAL disk; at 100 TB the state lives on
HDFS/S3/ABFS. Everything here goes through the JVM Hadoop FileSystem
client resolved from the PATH'S OWN scheme (``file:///`` and bare paths
hit RawLocalFileSystem, ``hdfs://`` the DFS client, …), so the same
code runs against any Hadoop-compatible store.

Atomicity contract: ``rename`` is atomic on HDFS and local filesystems
(the stores these protocols target). On S3A, rename is a copy+delete —
state swaps there should go through a table format (Delta/Iceberg)
instead; the callers document this.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for one scheme."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def path(self, p: str):
        return self._Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._Path(p)))

    def qualified(self, p: str) -> str:
        """``p`` fully qualified against this filesystem (scheme +
        authority + absolute path) — the canonical form for comparing a
        caller path against a catalog-reported location (a bare or
        relative path never string-matches the catalog's URI)."""
        return self._fs.makeQualified(self._Path(p)).toString()

    def mtime(self, p: str) -> int:
        """Modification time of ``p`` in epoch milliseconds."""
        return int(self._fs.getFileStatus(self._Path(p)).getModificationTime())

    def set_mtime(self, p: str, mtime_ms: int) -> None:
        """Set the modification time (tests age lease files with it)."""
        self._fs.setTimes(self._Path(p), int(mtime_ms), -1)

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def delete(self, p: str, recursive: bool = True) -> bool:
        return bool(self._fs.delete(self._Path(p), recursive))

    def rename(self, src: str, dst: str) -> bool:
        """Atomic on HDFS/local. Returns False when the filesystem
        refuses (e.g. destination exists) — callers decide whether that
        means "already done" (idempotent retry) or an error."""
        return bool(self._fs.rename(self._Path(src), self._Path(dst)))

    def list_names(self, p: str) -> list[str]:
        """Child basenames of ``p`` (empty when ``p`` is absent)."""
        if not self.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(self._Path(p))]

    def listing(self, p: str) -> tuple[tuple[str, int, int], ...] | None:
        """``(qualified path, length, mtime ms)`` of every file under
        ``p`` (``p`` itself when it is a file), sorted; None when ``p``
        is absent. Equal listings mean an unchanged file set — the
        validity key for anything derived from the files' contents."""
        path = self._Path(p)
        if not self._fs.exists(path):
            return None
        out = []
        it = self._fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            out.append((st.getPath().toString(), int(st.getLen()), int(st.getModificationTime())))
        return tuple(sorted(out))

    def has_visible_files(self, p: str) -> bool:
        """True when ``p`` contains at least one non-hidden entry — the
        "does this dataset exist for a reader" probe ('_'/'.'-prefixed
        entries are invisible to Spark/Hadoop readers)."""
        return any(not n.startswith(("_", ".")) for n in self.list_names(p))

    def create_exclusive(self, p: str, content: str = "") -> bool:
        """Atomically create ``p`` iff it does not already exist (the
        lock-file primitive). Returns False ONLY when the path already
        exists — the caller lost the race; any other failure (ACLs,
        quota, connectivity) propagates, so a permission error is never
        misreported as a held lock.

        Atomicity: on HDFS, ``create(path, overwrite=false)`` is an
        atomic namespace operation. On ``file://`` the Hadoop local
        client is check-then-create (RawLocalFileSystem opens with no
        O_EXCL), so two local drivers could both "win" — this method
        instead creates through the OS ``O_CREAT|O_EXCL`` primitive,
        which is atomic on POSIX local filesystems. Other schemes
        (S3A's PUT-if-absent races) are out of contract, as the module
        docstring documents for rename."""
        try:
            scheme = self._fs.getScheme()
        except Exception:
            scheme = None
        if scheme == "file":
            import os

            local = self._local_path(p)
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                if content:
                    os.write(fd, content.encode("utf-8"))
            finally:
                os.close(fd)
            return True
        try:
            out = self._fs.create(self._Path(p), False)
        except Exception as e:
            msg = f"{type(e).__name__}: {e}".lower()
            if "alreadyexists" in msg or "already exists" in msg:
                return False  # a concurrent creator won the race
            raise
        try:
            if content:
                out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        return True

    def read_text_or_none(self, p: str) -> str | None:
        """``read_text`` that returns None when ``p`` vanishes between a
        listing and the read — the guard lock-free readers need against
        a concurrent compaction's deletes."""
        try:
            return self.read_text(p)
        except Exception as e:
            msg = f"{type(e).__name__}: {e}".lower()
            if "filenotfound" in msg or "does not exist" in msg or "no such file" in msg:
                return None
            raise

    def touch_atomic(self, p: str, content: str = "") -> None:
        """Create a small marker file whose VISIBILITY is atomic: write
        to a dot-tmp sibling, then rename into place. NOTE: the rename
        REFUSES when ``p`` already exists (treated as "a concurrent or
        previous publisher already placed the marker") — right for
        write-once markers, silently wrong for UPDATING a file; use
        :meth:`replace_atomic` for that."""
        tmp = self._Path(p + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            if content:
                out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        if not self._fs.rename(tmp, self._Path(p)):
            # a concurrent/previous publisher already placed the marker
            self._fs.delete(tmp, False)

    def _local_path(self, p: str) -> str:
        from urllib.parse import urlparse

        return urlparse(p).path if p.startswith("file:") else p

    def rename_replace(self, src: str, dst: str) -> None:
        """Rename ``src`` over ``dst``, REPLACING any existing file —
        atomically on file:// (POSIX ``os.replace`` rename-over; the
        Hadoop local client's rename refuses existing destinations).
        Other schemes fall back to delete-then-rename; the gap is only
        reachable by documented lock-free read-only snapshots, since
        every caller runs under the writer lease."""
        try:
            scheme = self._fs.getScheme()
        except Exception:
            scheme = None
        if scheme == "file":
            import os

            lsrc, ldst = self._local_path(src), self._local_path(dst)

            def crc(p: str) -> str:
                # LocalFileSystem is a ChecksumFileSystem: every file it
                # writes has a ".<name>.crc" sidecar the os-level rename
                # bypasses — a stale sidecar makes every later Hadoop
                # read fail checksum. Remove the destination's first
                # (reads of a crc-less file skip verification), replace
                # the main file, then move the source's sidecar in.
                d, b = os.path.split(p)
                return os.path.join(d, f".{b}.crc")

            if os.path.exists(crc(ldst)):
                os.remove(crc(ldst))
            os.replace(lsrc, ldst)
            if os.path.exists(crc(lsrc)):
                os.replace(crc(lsrc), crc(ldst))
            return
        self._fs.delete(self._Path(dst), False)
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename_replace {src} -> {dst} failed")

    def replace_atomic(self, p: str, content: str = "") -> None:
        """:meth:`touch_atomic` for files that may already exist: write
        a tmp sibling, then rename OVER the destination (atomic on
        file://). The update primitive for pinned metadata."""
        tmp = p + ".tmp"
        out = self._fs.create(self._Path(tmp), True)
        try:
            if content:
                out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        self.rename_replace(tmp, p)

    def read_text(self, p: str) -> str:
        # JVM-side copy into a byte array: a Python bytearray passed to
        # InputStream.read(byte[]) is copied by py4j, never mutated back
        inp = self._fs.open(self._Path(p))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(inp, baos, 4096, True)
        return bytes(baos.toByteArray()).decode("utf-8")
