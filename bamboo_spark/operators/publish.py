"""Atomic table publishing: the snapshot-commit core of a table format.

Plain `df.write.parquet(dir)` has no commit point — a reader listing
the directory mid-write sees partial files, and a failed job leaves a
corrupt mix. Table formats (Iceberg/Delta) fix this with ONE idea:
readers never list directories; they read a MANIFEST, and a commit is
one atomic swap of that manifest. This module is that idea reduced to
its core:

* ``atomic_publish(df, table_dir)`` writes data files into a
  version-private directory (``_v<N>/``), then commits by atomically
  replacing ``manifest.json``. Readers observe the old snapshot or the
  new one, never a mix; a crashed write leaves an orphan ``_v<N>``
  directory and an untouched manifest (still-consistent table).
* ``read_published(spark, table_dir)`` loads exactly the committed
  snapshot's files.
* ``vacuum(table_dir, keep)`` removes uncommitted/superseded version
  directories — safe because the manifest is the only source of truth.

Filesystem backends: a PLAIN path uses POSIX ``os.replace`` (atomic
within a filesystem); a URI path (``file:``, ``hdfs:``, ``s3a:`` …)
routes every metadata operation through Hadoop's ``FileSystem`` /
``FileContext`` JVM API — the same protocol, committed by
``FileContext.rename(OVERWRITE)`` (atomic on HDFS and local). On
object stores whose rename is copy+delete the manifest file is small
and the manifest POINTER remains the single commit point: a reader
sees the complete old manifest or the complete new one, because the
copy happens under a temporary name and the final PUT is
last-writer-wins on the whole object.

Scale notes: the data write is an ordinary distributed parquet job;
only the manifest swap is driver-side, and the manifest holds file
PATHS (metadata-sized). The row count is captured with
``DataFrame.observe`` DURING the snapshot write — one pass, no
re-scan. The manifest also records row count and schema, giving
readers a free contract check.
"""

from __future__ import annotations

import json
import logging
import os

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from bamboo_spark._localdf import local_df as _local_df

_log = logging.getLogger(__name__)

_MANIFEST = "manifest.json"


class _PosixFS:
    """Local-path backend: stdlib calls, ``os.replace`` commit."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def mkdirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def listdir(self, d: str) -> List[str]:
        return os.listdir(d)

    def read_text(self, p: str) -> str:
        with open(p) as fh:
            return fh.read()

    def replace_with(self, content: str, dst: str, tmp_suffix: str) -> None:
        tmp = dst + tmp_suffix
        with open(tmp, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, dst)  # THE commit point

    def rmtree(self, d: str) -> None:
        import shutil

        shutil.rmtree(d)

    def walk_files(self, d: str) -> List[str]:
        """All file paths under ``d``, relative to it (posix slashes)."""
        out = []
        for root, _dirs, files in os.walk(d):
            rel = os.path.relpath(root, d)
            for f in files:
                out.append(f if rel == "." else "%s/%s" % (rel.replace(os.sep, "/"), f))
        return out

    def file_size(self, p: str) -> int:
        return os.path.getsize(p)

    def file_rows(self, p: str) -> int:
        """Parquet row count from the FOOTER — metadata, not a scan."""
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(p).metadata.num_rows)

    def create_exclusive(self, p: str, content: str) -> bool:
        """Create ``p`` iff it doesn't exist (O_EXCL). True on success."""
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        return True

    def mtime_ms(self, p: str) -> int:
        return int(os.path.getmtime(p) * 1000)

    def touch(self, p: str) -> None:
        os.utime(p, None)

    def delete_file(self, p: str) -> None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


class _HadoopFS:
    """URI backend: Hadoop ``FileSystem`` for IO + listing,
    ``FileContext.rename(OVERWRITE)`` for the atomic manifest swap."""

    def __init__(self, uri: str, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._juri = self._jvm.java.net.URI.create(uri)
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            self._juri, self._conf
        )
        self._gw = spark.sparkContext._gateway

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def join(self, *parts: str) -> str:
        return "/".join(x.rstrip("/") for x in parts[:-1]) + "/" + parts[-1]

    def mkdirs(self, d: str) -> None:
        self._fs.mkdirs(self._path(d))

    def listdir(self, d: str) -> List[str]:
        return [
            s.getPath().getName()
            for s in self._fs.listStatus(self._path(d))
        ]

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._path(p))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, self._conf, True
        )
        return baos.toString("UTF-8")

    def replace_with(self, content: str, dst: str, tmp_suffix: str) -> None:
        tmp = dst + tmp_suffix
        out = self._fs.create(self._path(tmp), True)
        out.write(bytearray(content.encode("utf-8")))
        out.hsync()
        out.close()
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._juri, self._conf
        )
        rename_cls = getattr(
            self._jvm.org.apache.hadoop.fs, "Options$Rename"
        )
        opts = self._gw.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(self._path(tmp), self._path(dst), opts)  # THE commit

    def rmtree(self, d: str) -> None:
        self._fs.delete(self._path(d), True)

    def walk_files(self, d: str) -> List[str]:
        base = self._fs.getFileStatus(self._path(d)).getPath().toString()
        it = self._fs.listFiles(self._path(d), True)
        out = []
        while it.hasNext():
            p = it.next().getPath().toString()
            out.append(p[len(base) + 1:])
        return out

    def file_size(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._path(p)).getLen())

    def file_rows(self, p: str) -> int:
        """Parquet row count from the footer via the JVM parquet
        reader (driver-side metadata read, no Spark job)."""
        inf = self._jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            self._path(p), self._conf
        )
        rd = self._jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            return int(rd.getRecordCount())
        finally:
            rd.close()

    def create_exclusive(self, p: str, content: str) -> bool:
        """Hadoop ``create(overwrite=false)`` — atomic on HDFS (and the
        local FS); the create-exclusive primitive object stores expose
        as a conditional PUT."""
        try:
            out = self._fs.create(self._path(p), False)
        except Exception:
            return False
        out.write(bytearray(content.encode("utf-8")))
        out.hsync()
        out.close()
        return True

    def mtime_ms(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._path(p)).getModificationTime())

    def touch(self, p: str) -> None:
        now = _now_ms()
        self._fs.setTimes(self._path(p), now, now)

    def delete_file(self, p: str) -> None:
        self._fs.delete(self._path(p), False)


def _is_uri(p: str) -> bool:
    head = p.split("://", 1)[0] if "://" in p else ""
    return bool(head) and head.isalnum() or p.startswith("file:")


def _fs_for(table_dir: str, spark: Optional[SparkSession] = None):
    if not _is_uri(table_dir):
        return _PosixFS()
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "publish: a URI table_dir needs an active SparkSession "
            "(the Hadoop FileSystem API lives in the JVM)"
        )
    return _HadoopFS(table_dir, spark)


def _manifest_path(table_dir: str, fs) -> str:
    return fs.join(table_dir, _MANIFEST)


_LOCK = "_commit.lock"

# how long an optimistic writer's COMMIT section polls a held lease
# before giving up: commit sections are sub-second alone, but a queue
# of concurrent committers on a loaded box serializes — the last in
# line waits for everyone ahead, so the window must cover a pile-up,
# not one swap (tests shrink it to fail fast)
_COMMIT_WAIT_MS = 30_000

# merge_into's candidate key-prune probe (source key collect + bloom/
# stats test per file) only pays for itself when the candidate set is
# big enough that pruning skips real I/O: below BOTH thresholds the
# probe's 2 jobs + source key scan exceed the cost of just opening the
# few small files it could prune. File count and bytes are checked
# independently so a table of few-but-huge files still probes.
_KEY_PRUNE_MIN_FILES = 16
_KEY_PRUNE_MIN_BYTES = 256 * 1024 * 1024


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's commit lease."""


class _Lease:
    """Create-exclusive commit lease with TTL-based crash recovery.

    Commits to one ``table_dir`` are serialized by a lock FILE created
    with the filesystem's exclusive-create primitive (POSIX ``O_EXCL``,
    Hadoop ``create(overwrite=false)``) — the one operation that is
    atomic everywhere a manifest swap is. A writer that can't get the
    lease raises :class:`ConcurrentWriteError` instead of silently
    losing its snapshot to a last-manifest-wins race. A writer that
    DIES holding the lease doesn't wedge the table: a lock older than
    ``ttl_ms`` is presumed dead and broken — and the break re-reads the
    lock CONTENT immediately before deleting, so it only removes the
    exact lock it observed as stale (an ABA guard: if the stale holder
    released and a fresh writer acquired in between, the token differs
    and the breaker backs off). The unavoidable residual window between
    re-read and delete is closed by the commit-time CAS in
    :func:`_commit` — an evicted writer's swap RAISES instead of
    clobbering the breaker's committed snapshot."""

    def __init__(
        self,
        fs,
        table_dir: str,
        ttl_ms: int = 300_000,
        heartbeat: bool = False,
    ):
        self._fs = fs
        self._path = fs.join(table_dir, _LOCK)
        self._ttl_ms = ttl_ms
        self._held = False
        self._token: Optional[str] = None
        self._heartbeat = heartbeat
        self._hb_stop = None
        self._hb_thread = None

    def acquire(self) -> "_Lease":
        import uuid

        token = uuid.uuid4().hex
        for attempt in (0, 1):
            if self._fs.create_exclusive(self._path, token):
                self._held = True
                self._token = token
                if self._heartbeat:
                    self._start_heartbeat()
                return self
            # lock exists: fresh → contend; stale → break it and retry
            try:
                stale_tok = self._fs.read_text(self._path)
                age = _now_ms() - self._fs.mtime_ms(self._path)
            except Exception:
                continue  # vanished between create and stat — retry
            if age <= self._ttl_ms:
                raise ConcurrentWriteError(
                    "another writer holds the commit lease on this table "
                    "(lock age %d ms <= ttl %d ms)" % (age, self._ttl_ms)
                )
            # ABA guard: break only the lock observed as stale
            try:
                if self._fs.read_text(self._path) != stale_tok:
                    raise ConcurrentWriteError(
                        "commit lease changed hands while breaking a "
                        "stale lock (another writer acquired it)"
                    )
            except ConcurrentWriteError:
                raise
            except Exception:
                continue  # vanished: holder released — retry create
            self._fs.delete_file(self._path)
        raise ConcurrentWriteError(
            "could not acquire the commit lease (lost the break-retry race)"
        )

    def acquire_wait(
        self, wait_ms: int = 30_000, poll_ms: int = 100
    ) -> "_Lease":
        """Acquire, WAITING out fresh contention up to ``wait_ms``.

        Used for the short COMMIT critical section of optimistic
        writers: the lease there is held only for a manifest
        read-validate-swap (sub-second), so a writer that finds it held
        should poll briefly rather than abort a finished data write.
        TTL breaking and the final timeout still raise — the timeout
        error carries the waited time and the holder's token/age so a
        pile-up (benign, retryable) is distinguishable from a real
        write conflict in logs."""
        import time

        start = _now_ms()
        deadline = start + wait_ms
        while True:
            try:
                return self.acquire()
            except ConcurrentWriteError as e:
                if _now_ms() >= deadline:
                    try:
                        tok = self._fs.read_text(self._path)
                        age = _now_ms() - self._fs.mtime_ms(self._path)
                        holder = "held by token %s… for %d ms" % (
                            tok[:8], age,
                        )
                    except Exception:
                        holder = "holder unknown (lock vanished mid-check)"
                    raise ConcurrentWriteError(
                        "commit-lease wait exhausted after %d ms (%s). "
                        "This is commit-section CONTENTION (a pile-up "
                        "of committers on a loaded box), not a data "
                        "conflict — the write is staged and untouched; "
                        "retrying the commit is safe."
                        % (_now_ms() - start, holder)
                    ) from e
                time.sleep(poll_ms / 1000.0)

    def _start_heartbeat(self) -> None:
        """Keep a LIVE long-running holder's lock fresh: a daemon
        thread touches the lock's mtime every ttl/4, so the TTL break
        only ever evicts writers that actually DIED — a multi-hour
        compact() can no longer be evicted mid-write by the 300 s
        default. (The commit-time CAS still backstops the unavoidable
        races; the heartbeat just stops them from being routine.)"""
        import threading

        self._hb_stop = threading.Event()

        def beat(stop, fs, path, token, interval_s):
            while not stop.wait(interval_s):
                try:
                    if fs.read_text(path) == token:
                        fs.touch(path)
                    else:
                        return  # broken/handed over: stop quietly
                except Exception:
                    return

        self._hb_thread = threading.Thread(
            target=beat,
            args=(
                self._hb_stop,
                self._fs,
                self._path,
                self._token,
                max(self._ttl_ms / 4000.0, 0.25),
            ),
            daemon=True,
        )
        self._hb_thread.start()

    def still_mine(self) -> bool:
        """True iff the lock file still holds OUR token — false once a
        TTL break evicted us (the breaker's lock carries its token)."""
        if not self._held or self._token is None:
            return False
        try:
            return self._fs.read_text(self._path) == self._token
        except Exception:
            return False

    def release(self) -> None:
        if self._held:
            if self._hb_stop is not None:
                self._hb_stop.set()
            # delete only our own lock: after a TTL break the file is
            # the breaker's lease, not ours
            if self.still_mine():
                self._fs.delete_file(self._path)
            self._held = False

    def __enter__(self) -> "_Lease":
        # idempotent: entering an already-acquired lease (acquire_wait)
        # must not contend with itself
        return self if self._held else self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


def current_version(
    table_dir: str, spark: Optional[SparkSession] = None
) -> int:
    """Committed snapshot version, 0 if the table doesn't exist yet."""
    manifest = _read_manifest(table_dir, _fs_for(table_dir, spark))
    return int(manifest["version"]) if manifest else 0


_FORMAT_VERSION = 1  # manifest protocol this reader/writer speaks


class UnsupportedFormatError(RuntimeError):
    """The table's manifest declares a newer protocol than this reader
    understands — refusing beats silently misreading (a v2 manifest may
    rely on features — e.g. a new delete encoding — whose absence from
    this reader's resolution would return WRONG rows, not an error)."""


class UnreadableManifestError(RuntimeError):
    """The table's manifest exists but cannot be read or parsed. Only a
    MISSING manifest means "no table" — reading a damaged one as absent
    would let the next write commit version 1 over the table's
    history."""


def _is_not_found(exc: Exception) -> bool:
    """True for a backend's "no such file": POSIX ``FileNotFoundError``
    or a JVM ``java.io.FileNotFoundException`` (or subclass) raised
    through the Hadoop FS."""
    if isinstance(exc, FileNotFoundError):
        return True
    java = getattr(exc, "java_exception", None)
    cls = java.getClass() if java is not None else None
    while cls is not None:
        if cls.getName() == "java.io.FileNotFoundException":
            return True
        cls = cls.getSuperclass()
    return False


def _read_manifest(table_dir: str, fs) -> Optional[dict]:
    path = _manifest_path(table_dir, fs)
    try:
        text = fs.read_text(path)
    except Exception as e:
        if _is_not_found(e):
            return None
        raise UnreadableManifestError(
            "cannot read manifest %s: %s" % (path, e)
        ) from e
    try:
        man = json.loads(text)
        fv = int(man.get("format_version") or 1)
    except (ValueError, TypeError, AttributeError) as e:
        raise UnreadableManifestError(
            "manifest %s does not parse (%s) — refusing to treat the "
            "table as absent" % (path, e)
        ) from e
    if fv > _FORMAT_VERSION:
        raise UnsupportedFormatError(
            "table at %s uses manifest format_version=%d; this reader "
            "speaks <=%d — upgrade the library to read it"
            % (table_dir, fv, _FORMAT_VERSION)
        )
    return man


_SEG = "_seg.json"


def _seg_path(fs, table_dir: str, seg: str) -> str:
    return fs.join(table_dir, seg, _SEG)


_SEG_CACHE: dict = {}  # abs sidecar path -> (mtime_ms, parsed dict)
_SEG_CACHE_MAX = 4096


def _load_seg(fs, table_dir: str, seg: str) -> dict:
    """Segment sidecar, memoized on (path, mtime): one replace commit
    resolves/segments/prunes the same sidecars several times, and on an
    object store every raw read is a GET. mtime-validated, so the rare
    post-creation rewrites — stats/bloom backfills and the
    restore-reconciliation WIDENING in :func:`_segments_of` (file lists
    otherwise never shrink or reorder) — refresh the entry; a same-ms
    rewrite could at worst serve the pre-backfill stats, which only
    makes skipping more conservative."""
    path = _seg_path(fs, table_dir, seg)
    mt = fs.mtime_ms(path)
    hit = _SEG_CACHE.get(path)
    if hit is not None and hit[0] == mt:
        return hit[1]
    data = json.loads(fs.read_text(path))
    if len(_SEG_CACHE) >= _SEG_CACHE_MAX:
        _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
    _SEG_CACHE[path] = (mt, data)
    return data


def _write_seg(fs, table_dir: str, seg: str, data: dict) -> None:
    fs.mkdirs(fs.join(table_dir, seg))
    path = _seg_path(fs, table_dir, seg)
    fs.replace_with(json.dumps(data), path, ".tmp")
    _SEG_CACHE[path] = (fs.mtime_ms(path), data)


_DV = "_dv.json"
_DVP = "_dvp"  # per-commit parquet sidecar dataset (v2 positions)
_DV_CACHE: dict = {}  # abs path -> parsed dict (dv files are immutable)
_DV_CACHE_MAX = 1024


def _load_dv(fs, table_dir: str, entry: dict) -> dict:
    """The snapshot's DELETE-VECTOR MANIFEST: ``{rel_file: value}`` of
    rows erased without rewriting their file (merge-on-read, the
    Iceberg v2 / Delta deletion-vector design). ``{}`` when the
    snapshot has none. Two value shapes coexist (mixed per table during
    migration):

    * v1 (legacy): a plain ``[row positions]`` list — positions live in
      the manifest JSON itself, driver-sized.
    * v2: ``{"ds": <rel parquet dataset>, "n": count, "key"?: str}`` —
      the positions live in a PARQUET SIDECAR DATASET written by
      executors at commit time (columns ``_dv_file/_dv_base/_dv_sfx/
      _dv_pos``); the manifest holds only the file-level ref + count,
      so the driver never materializes row addresses. ``key`` (set by
      shallow clones) is the ``_dv_file`` value the sidecar rows carry
      when it differs from this manifest's file ref.

    The manifest is written ONCE per dv commit (immutable file, plain
    cache) and always maps the FULL state as of that snapshot; a v2
    commit rewrites sidecar data only for the files it TOUCHED —
    untouched files keep their older refs (O(delta) commit IO)."""
    rel = entry.get("dv")
    if not rel:
        return {}
    path = fs.join(table_dir, rel)
    hit = _DV_CACHE.get(path)
    if hit is not None:
        return hit
    data = json.loads(fs.read_text(path))
    if len(_DV_CACHE) >= _DV_CACHE_MAX:
        _DV_CACHE.pop(next(iter(_DV_CACHE)))
    _DV_CACHE[path] = data
    return data


def _write_dv(fs, table_dir: str, seg: str, dvmap: dict) -> str:
    """Write a snapshot's merged delete-vector MANIFEST (file-level
    refs/counts only for v2 entries — see :func:`_load_dv`) into its
    version dir; returns the manifest-relative path for the entry's
    ``dv``."""
    fs.mkdirs(fs.join(table_dir, seg))
    rel = "%s/%s" % (seg, _DV)
    fs.replace_with(json.dumps(dvmap), fs.join(table_dir, rel), ".tmp")
    _DV_CACHE[fs.join(table_dir, rel)] = dvmap
    return rel


def _dv_entry(fs, table_dir: str, seg: str, dvmap: dict) -> dict:
    """Entry fields citing ``dvmap`` as this version's dv manifest —
    ``{}`` when it is empty."""
    if not dvmap:
        return {}
    return {
        "dv": _write_dv(fs, table_dir, seg, dvmap),
        "dv_rows": _dv_nrows(dvmap),
    }


def _carry_dv(fs, table_dir: str, prev: dict, seg: str, live_files) -> dict:
    """Entry fields carrying ``prev``'s delete vectors forward through
    a commit that keeps (some of) its files: vectors for files no
    longer live are dropped (their rewrite already materialized the
    deletion), the rest are re-published as this version's dv manifest
    — a METADATA-ONLY filter for v2 refs (sidecar data is never
    rewritten). Returns ``{}`` or ``{'dv': relpath, 'dv_rows': n}``."""
    live = set(live_files)
    return _dv_entry(fs, table_dir, seg, {
        f: v
        for f, v in _load_dv(fs, table_dir, prev).items()
        if f in live and _dv_val_n(v)
    })


def _dv_val_n(v) -> int:
    """Deleted-row count of one file's dv value — v1 position list or
    v2 sidecar ref."""
    if not v:
        return 0
    if isinstance(v, dict):
        return int(v.get("n") or 0)
    return len(v)


def _dv_nrows(dvmap: Optional[dict]) -> int:
    """Total deleted rows across a dv manifest (``dv_rows``)."""
    return sum(_dv_val_n(v) for v in (dvmap or {}).values())


def _dv_ref_of(v, rel: str):
    """A PICKLABLE positions ref for one file's dv value — what a
    driver-side change-feed plan ships to executors instead of raw
    positions: ``("pos", (p, ...))`` for v1, ``("ds", dataset_rel,
    key)`` for v2 row-per-position sidecars, ``("bm", dataset_rel,
    key)`` for v3 bitmap sidecars (the executor reads the sidecar
    itself either way), None when the file has no vector."""
    if not v:
        return None
    if isinstance(v, dict):
        tag = "bm" if v.get("fmt") == "bm" else "ds"
        return (tag, v["ds"], v.get("key", rel))
    return ("pos", tuple(int(p) for p in v))


_DV_POS_SCHEMA = (
    "_dv_file string, _dv_base string, _dv_sfx string, _dv_pos long"
)

# bitmap sidecar geometry: one sidecar row covers a CHUNK of 1024
# consecutive row positions as 16 little-endian 64-bit words — ~136 B
# per chunk row vs ~50 B per position row, so any delete density above
# ~0.3% compresses (a 50%-deleted file ≈ 190x smaller); parquet RLE
# squeezes the all-zero words of sparse chunks further
_DV_CHUNK = 1024
_DV_WORDS = _DV_CHUNK // 64


def _dv_pack(pos_df, n_parts: int):
    """Pack a positions frame (``_DV_POS_SCHEMA``) into the BITMAP
    sidecar shape ``(_dv_file, _dv_base, _dv_sfx, _dv_chunk,
    _dv_bits array<long>[16])`` — Delta's deletion-vector bitmap idea
    as plain Spark aggregates, wholly JVM-side, in ONE exchange: the
    explicit repartition on ``_dv_file`` both clusters the output for
    the executors' per-file predicate pushdown AND satisfies the
    group-by's distribution (hashpartitioning(_dv_file) ⊆ the
    clustering keys), so the 16 per-word ``bit_or`` aggregates run
    exchange-free on top of it. ``bit_or`` is idempotent to duplicate
    positions, so callers need no dropDuplicates pass either."""
    from pyspark.sql import functions as F

    word_aggs = [
        F.expr(
            "bit_or(IF(cast((_dv_pos % {c}) div 64 as int) = {w}, "
            "shiftleft(1L, cast(_dv_pos % 64 as int)), 0L))".format(
                c=_DV_CHUNK, w=w
            )
        ).alias("_w%d" % w)
        for w in range(_DV_WORDS)
    ]
    return (
        pos_df.repartition(n_parts, "_dv_file")
        .groupBy(
            "_dv_file", "_dv_base", "_dv_sfx",
            F.expr("_dv_pos div %d" % _DV_CHUNK).alias("_dv_chunk"),
        )
        .agg(*word_aggs)
        .select(
            "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
            F.array(
                *[F.col("_w%d" % w) for w in range(_DV_WORDS)]
            ).alias("_dv_bits"),
        )
        .sortWithinPartitions("_dv_file", "_dv_chunk")
    )


def _dv_merge_chunks(chunks_df):
    """OR together bitmap chunk rows sharing (file, chunk) — the
    chunk-domain union behind dv-commit merges and sidecar compaction
    (duplicate-idempotent, like everything bitwise here). Groups on
    (file, chunk) ONLY: rows for the same manifest ref may carry
    DIFFERENT suffix-guard spellings (a clone's externalized old rows
    vs its own new rows — both valid suffixes of the same physical
    path), and they must collapse to ONE row or the left-join mask
    would double-match; max() picks one deterministic spelling."""
    from pyspark.sql import functions as F

    word_aggs = [
        F.expr("bit_or(element_at(_dv_bits, %d))" % (w + 1)).alias(
            "_w%d" % w
        )
        for w in range(_DV_WORDS)
    ]
    return (
        chunks_df.groupBy("_dv_file", "_dv_chunk")
        .agg(
            F.max("_dv_base").alias("_dv_base"),
            F.max("_dv_sfx").alias("_dv_sfx"),
            *word_aggs,
        )
        .select(
            "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
            F.array(
                *[F.col("_w%d" % w) for w in range(_DV_WORDS)]
            ).alias("_dv_bits"),
        )
    )


def _dv_chunks_df(spark: SparkSession, fs, table_dir: str, dvmap: dict):
    """A dv (sub)manifest as BITMAP CHUNK rows ``(_dv_file, _dv_base,
    _dv_sfx, _dv_chunk, _dv_bits)`` — the packed twin of
    :func:`_dv_positions_df` and the join side of the chunk-native
    mask (:func:`_dv_mask`): v3 sidecars read AS STORED (no unpack,
    ~1/100th the rows/bytes of the position form), v1 inline and v2
    row-per-position refs pack in-plan. None when empty."""
    from pyspark.sql import functions as F

    v3: dict = {}
    legacy: dict = {}
    for rel, v in (dvmap or {}).items():
        if not v:
            continue
        (v3 if isinstance(v, dict) and v.get("fmt") == "bm" else legacy)[
            rel
        ] = v
    pieces = []
    if v3:
        ds_groups: dict = {}
        for rel, v in v3.items():
            ds = _ref_path(fs, table_dir, v["ds"])
            ds_groups.setdefault(ds, []).append((v.get("key", rel), rel))
        for ds in sorted(ds_groups):
            pairs = ds_groups[ds]
            keys = sorted({k for k, _ in pairs})
            sub = spark.read.parquet(ds).where(
                F.col("_dv_file").isin(keys)
            )
            if any(k != r for k, r in pairs):
                kmap = _local_df(
                    spark, pairs, "_dv_key string, _dv_rel string"
                )
                sub = (
                    sub.withColumnRenamed("_dv_file", "_dv_key")
                    .join(F.broadcast(kmap), "_dv_key")
                    .select(
                        F.col("_dv_rel").alias("_dv_file"),
                        "_dv_base", "_dv_sfx", "_dv_chunk", "_dv_bits",
                    )
                )
            pieces.append(sub)
    if legacy:
        pos = _dv_positions_df(spark, fs, table_dir, legacy)
        if pos is not None:
            pieces.append(_dv_pack(pos, max(1, min(len(legacy), 64))))
    if not pieces:
        return None
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _dv_mask(df, fp_col: str, ri_col: str, chunks_df):
    """CHUNK-NATIVE merge-on-read mask: left-join rows to their file's
    bitmap chunk on (basename, position div 1024) and keep rows whose
    bit is unset — positions NEVER materialize (the join side is
    chunks, ~1000x smaller than the position form a billion-row dv
    would explode to; AQE broadcasts it in the common case). The
    suffix guard keeps basename collisions exact, same as the
    positional join it replaces. (file, chunk) is unique per manifest
    — each file's ref names one dataset — so the left join preserves
    row multiplicity."""
    from pyspark.sql import functions as F

    joined = df.withColumn(
        "_dv_b", F.element_at(F.split(F.col(fp_col), "/"), -1)
    ).join(
        chunks_df,
        (F.col("_dv_b") == F.col("_dv_base"))
        & (F.expr("%s div %d" % (ri_col, _DV_CHUNK)) == F.col("_dv_chunk"))
        & F.col(fp_col).endswith(F.col("_dv_sfx")),
        "left",
    )
    return joined.where(
        F.expr(
            "coalesce(shiftrightunsigned(element_at(_dv_bits, "
            "cast(({ri} % {c}) div 64 as int) + 1), "
            "cast({ri} % 64 as int)) & 1, 0L) = 0".format(
                ri=ri_col, c=_DV_CHUNK
            )
        )
    ).drop(
        "_dv_b", "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
        "_dv_bits",
    )


def _dv_unpack(bm_df):
    """Unpack a bitmap sidecar frame back to ``_DV_POS_SCHEMA`` — a
    codegen'd transform+filter+explode, no Python in the path. Only
    the mask JOIN side materializes positions; the stored/shipped
    bytes stay packed."""
    from pyspark.sql import functions as F

    return bm_df.select(
        "_dv_file", "_dv_base", "_dv_sfx",
        F.explode(
            F.expr(
                "filter(transform(sequence(0, %d), i -> "
                "IF((shiftrightunsigned(element_at(_dv_bits, "
                "int(i div 64) + 1), int(i %% 64)) & 1) = 1, "
                "_dv_chunk * %d + cast(i as long), -1L)), "
                "x -> x >= 0)" % (_DV_CHUNK - 1, _DV_CHUNK)
            )
        ).alias("_dv_pos"),
    )


def _dv_ds_counts(spark, dsdir: str) -> dict:
    """Per-file deleted-row counts of a written BITMAP sidecar dataset
    — one aggregate over bit_count, never positions on the driver. The
    sidecar schema is fixed by ``_dv_pack``, so it is passed explicitly:
    no schema-inference job on the read-back (one fewer job per dv
    commit)."""
    from pyspark.sql import functions as F

    return {
        r[0]: int(r[1])
        for r in spark.read.schema(
            "_dv_file string, _dv_base string, _dv_sfx string, "
            "_dv_chunk bigint, _dv_bits array<bigint>"
        )
        .parquet(dsdir)
        .groupBy("_dv_file")
        .agg(
            F.expr(
                "sum(aggregate(_dv_bits, 0L, (a, b) -> a + bit_count(b)))"
            ).alias("_n")
        )
        .collect()  # O(touched files)
    }


def _dv_positions_df(spark: SparkSession, fs, table_dir: str, dvmap: dict):
    """The positions of a dv (sub)manifest as a DataFrame
    ``(_dv_file, _dv_base, _dv_sfx, _dv_pos)`` — the join side of every
    merge-on-read mask. v1 entries build driver-side (legacy,
    point-delete-sized by that format's nature); v2 entries READ their
    parquet sidecar datasets distributively, so positions never pass
    through the driver at any scale. Returns None when ``dvmap`` is
    empty. Sidecar rows written for OTHER files in a shared dataset are
    filtered out; a clone's rekeyed entries (``key`` differs from the
    manifest ref) are re-labeled to the manifest ref so downstream
    grouping keys stay consistent — their ``_dv_sfx``/``_dv_base``
    remain valid (both name suffixes of the same physical file)."""
    from pyspark.sql import functions as F

    legacy_rows = []
    # (dataset abs path, bitmap?) -> [(sidecar key, manifest ref)]
    ds_groups: dict = {}
    for rel, v in (dvmap or {}).items():
        if not v:
            continue
        if isinstance(v, dict):
            ds = _ref_path(fs, table_dir, v["ds"])
            bm = v.get("fmt") == "bm"
            ds_groups.setdefault((ds, bm), []).append(
                (v.get("key", rel), rel)
            )
        else:
            sfx = _ref_suffix(rel)
            base = rel.rsplit("/", 1)[-1]
            legacy_rows.extend((rel, base, sfx, int(p)) for p in v)
    pieces = []
    if legacy_rows:
        pieces.append(_local_df(spark, legacy_rows, _DV_POS_SCHEMA))
    for ds, bm in sorted(ds_groups):
        pairs = ds_groups[(ds, bm)]
        keys = sorted({k for k, _ in pairs})
        sub = spark.read.parquet(ds).where(F.col("_dv_file").isin(keys))
        if bm:
            sub = _dv_unpack(sub)
        if any(k != r for k, r in pairs):
            kmap = _local_df(
                spark, pairs, "_dv_key string, _dv_rel string"
            )
            sub = (
                sub.withColumnRenamed("_dv_file", "_dv_key")
                .join(F.broadcast(kmap), "_dv_key")
                .select(
                    F.col("_dv_rel").alias("_dv_file"),
                    "_dv_base", "_dv_sfx", "_dv_pos",
                )
            )
        pieces.append(sub)
    if not pieces:
        return None
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _dv_build(
    spark: SparkSession,
    fs,
    table_dir: str,
    seg: str,
    addr_df,
    cand_files,
    dv0: dict,
):
    """Build a commit's delete-vector refs DISTRIBUTIVELY — the v2
    write path shared by ``_dv_delete``, ``merge_into`` and
    ``merge_publish_incremental``. ``addr_df`` is the matched rows'
    ``(_fp, _ri)`` addresses (any multiplicity); ``cand_files`` the
    manifest refs the address scan covered (file-level, broadcastable
    by construction).

    Row positions NEVER pass through the driver: addresses are mapped
    back to manifest refs with a broadcast file-level frame, unioned
    with the touched files' EXISTING vectors (sidecar/legacy reads),
    deduplicated, and written as ONE parquet dataset
    (``<seg>/_dvp``) by executors — the driver sees only per-file
    COUNTS. Returns ``(new_refs {rel: {"ds","n"}}, n_fresh)`` where
    ``new_refs`` covers exactly the files whose vector GREW (a file
    whose every address was already deleted keeps its old ref, so
    value-equality still means "dv unchanged" for delta readers) and
    ``n_fresh`` is the number of newly deleted rows."""
    from pyspark.sql import Observation, functions as F

    cand_rows = [
        (f, f.rsplit("/", 1)[-1], _ref_suffix(f)) for f in cand_files
    ]
    cdf = _local_df(
        spark, cand_rows, "_dv_file string, _dv_base string, _dv_sfx string"
    )
    addr = (
        addr_df.withColumn(
            "_b", F.element_at(F.split(F.col("_fp"), "/"), -1)
        )
        .join(
            F.broadcast(cdf),
            (F.col("_b") == F.col("_dv_base"))
            & F.col("_fp").endswith(F.col("_dv_sfx")),
            "inner",
        )
        .select(
            "_dv_file", "_dv_base", "_dv_sfx",
            F.col("_ri").cast("long").alias("_dv_pos"),
        )
    )
    # ONE candidate scan: materialize the addresses, then the sidecar
    # write and count jobs all read the checkpoint (address-sized,
    # spillable) instead of re-scanning the table. The touched-file
    # probe rides the checkpoint's OWN materialization as an observed
    # collect_set — file-level (bounded by cand_files), and one job
    # instead of two (checkpoint + a separate distinct().collect()).
    obs = Observation()
    addr = addr.observe(
        obs, F.collect_set("_dv_file").alias("_touched")
    ).localCheckpoint(eager=True)
    touched = sorted(obs.get["_touched"])
    if not touched:
        return {}, 0
    old_sub = {f: dv0[f] for f in touched if dv0.get(f)}
    n_parts = max(1, min(len(touched), 64))
    dsrel = "%s/%s" % (seg, _DVP)
    dsdir = _ref_path(fs, table_dir, dsrel)
    # positions pack into BITMAP chunk rows before hitting disk (v3 —
    # see _dv_pack): sidecar bytes scale with chunks, not deletions.
    # No dropDuplicates pass: the pack's bit_or dedups by construction.
    # Touched files' EXISTING vectors merge in the CHUNK domain (v3
    # reads as stored; OR per word) — old positions never re-explode
    merged = _dv_pack(addr, n_parts)
    if old_sub:
        merged = (
            _dv_merge_chunks(
                merged.unionByName(
                    _dv_chunks_df(spark, fs, table_dir, old_sub)
                )
            )
            .repartition(n_parts, "_dv_file")
            .sortWithinPartitions("_dv_file", "_dv_chunk")
        )
    merged.write.parquet(dsdir)
    counts = _dv_ds_counts(spark, dsdir)
    new_refs: dict = {}
    n_fresh = 0
    for f in touched:
        fresh = counts.get(f, 0) - _dv_val_n(dv0.get(f))
        if fresh > 0:
            new_refs[f] = {"ds": dsrel, "n": counts[f], "fmt": "bm"}
            n_fresh += fresh
    return new_refs, n_fresh


def _resolve_entry(
    fs, table_dir: str, entry: dict, rekey_stats: bool = True
) -> dict:
    """``{'files', 'file_sizes', 'file_stats'}`` for a snapshot entry.

    SEGMENTED manifests (the scale shape): the top manifest holds only
    version pointers + per-snapshot counters plus ``segments`` (the
    version dirs whose file lists this snapshot references) and
    ``removed`` (files excluded from those segments); the per-file
    detail lives in one ``_v<K>/_seg.json`` sidecar PER VERSION,
    written once at that version's commit. A snapshot's live file set
    is ``union(segment files) − removed``. This is the Iceberg
    manifest-list shape: commit IO is O(delta files) — an append
    writes ONE new sidecar and never re-serializes the table's file
    list — and the top manifest stays ~constant-size per retained
    version no matter how many files accumulate. Reads load only the
    segments the chosen snapshot references.

    LEGACY inline manifests (``files`` embedded in the entry) resolve
    directly; the first segmented commit on top of one migrates it
    (see :func:`_segments_of`)."""
    if entry.get("files") is not None:
        return {
            "files": list(entry["files"]),
            "file_sizes": dict(entry.get("file_sizes") or {}),
            "file_stats": dict(entry.get("file_stats") or {}),
            "file_blooms": dict(entry.get("file_blooms") or {}),
            "file_fields": {},
        }
    removed = set(entry.get("removed") or [])
    files: List[str] = []
    sizes: dict = {}
    stats: dict = {}
    blooms: dict = {}
    fields: dict = {}
    for seg in entry.get("segments") or []:
        s = _load_seg(fs, table_dir, seg)
        seg_sizes = s.get("file_sizes") or {}
        seg_stats = s.get("file_stats") or {}
        seg_blooms = s.get("file_blooms") or {}
        seg_fields = s.get("field_names")  # {id: phys name} or absent
        per_file_fields = s.get("file_fields") or {}  # clones: per file
        for f in s.get("files", []):
            if f in removed:
                continue
            files.append(f)
            if seg_sizes.get(f) is not None:
                sizes[f] = seg_sizes[f]
            if seg_stats.get(f):
                stats[f] = seg_stats[f]
            if seg_blooms.get(f):
                blooms[f] = seg_blooms[f]
            fm = per_file_fields.get(f, seg_fields)
            if fm:
                fields[f] = fm
    if entry.get("schema_evolved") and rekey_stats:
        # rename/drop happened: sidecar indexes are keyed by the
        # PHYSICAL names each file was written with — rekey them to
        # the entry's LOGICAL names (by field id) so skip=/skip_eq=
        # callers never see a stale name. Files without a map predate
        # field stamping: identity (their physical names ARE logical
        # names of their era; retired-name guards keep that sound).
        # ``rekey_stats=False`` (clone_table) keeps the raw physical
        # keys — the clone copies them verbatim next to the file maps
        # and rekeys at ITS read time.
        ids, _ = _field_ids_of(entry)
        for f in files:
            fm = fields.get(f)
            if not fm:
                continue
            for idx in (stats, blooms):
                st = idx.get(f)
                if not st:
                    continue
                idx[f] = {
                    n: st[fm[str(i)]]
                    for n, i in ids.items()
                    if str(i) in fm and fm[str(i)] in st
                }
    return {
        "files": files,
        "file_sizes": sizes,
        "file_stats": stats,
        "file_blooms": blooms,
        "file_fields": fields,
    }


def _entry_files(fs, table_dir: str, entry: dict) -> List[str]:
    """A snapshot entry's live file list (manifest-relative paths)."""
    return _resolve_entry(fs, table_dir, entry)["files"]


def live_files(
    table_dir: str, spark: Optional[SparkSession] = None
) -> List[str]:
    """The committed snapshot's live data-file list (manifest-relative
    paths) — the public inspection hook (tests, audits); readers should
    use :func:`read_published`."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        return []
    return _entry_files(fs, table_dir, manifest)


def _json_stat(v):
    """JSON-safe min/max value (dates/timestamps → ISO strings, which
    compare lexicographically = chronologically; bytes → utf-8)."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _constraint_aggs(prev: Optional[dict]):
    """``(names, exprs, aggregate columns)`` for write-time CHECK
    enforcement: one violation counter per table constraint, attached
    to the SAME ``observe`` that already counts the batch's rows — the
    check rides the write job, zero extra scans at any batch size.
    SQL CHECK semantics: a row violates only when the expression is
    FALSE (NULL/unknown passes)."""
    from pyspark.sql import functions as F

    cons = (prev or {}).get("constraints") or {}
    names = sorted(cons)
    aggs = []
    for i, name in enumerate(names):
        viol = ~F.coalesce(
            F.expr(cons[name]).cast("boolean"), F.lit(True)
        )
        aggs.append(
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("long")
            .alias("_c%d" % i)
        )
    return names, cons, aggs


def _enforce_constraints(obs_row, names, cons, who: str) -> None:
    """Raise BEFORE the commit when any violation counter is nonzero —
    the staged files are reclaimed, the table never sees the bad
    rows."""
    for i, name in enumerate(names):
        bad = int(obs_row.get("_c%d" % i) or 0)
        if bad:
            raise ValueError(
                "%s: CHECK constraint %r (%s) violated by %d row(s) — "
                "nothing committed"
                % (who, name, cons[name], bad)
            )


def _field_ids_of(entry: dict):
    """``({name: id}, next_id)`` for a snapshot entry — the Iceberg
    field-ID device behind metadata-only rename/drop: a column's ID is
    assigned once and never reused, so its NAME can change (or go away)
    without touching data files. Entries from before the feature get
    positional IDs (1..n), which is exact while the schema only ever
    widened (the only evolution those tables could have had)."""
    fids = entry.get("field_ids")
    if fids:
        ids = {k: int(v) for k, v in fids.items()}
        nxt = int(
            entry.get("next_field_id")
            or (max(ids.values()) + 1 if ids else 1)
        )
        return ids, nxt
    names = [f["name"] for f in json.loads(entry["schema"])["fields"]]
    return {n: i + 1 for i, n in enumerate(names)}, len(names) + 1


def _stamp_fields(seg_data: dict, fids: dict) -> None:
    """Record the writing commit's ``{field_id: physical column name}``
    in the segment sidecar — the map readers use to resolve this
    segment's files after a later rename/drop. Written at EVERY segment
    commit (not just evolved tables) so files carry their physical
    names from birth."""
    seg_data["field_names"] = {str(i): n for n, i in fids.items()}


def _is_ext(f: str) -> bool:
    """True for an EXTERNAL (absolute) manifest ref — the shallow-clone
    shape (:func:`clone_table`): a ref resolving outside this table
    dir. Everything else is table-relative (``_v<K>/...``)."""
    return f.startswith("/") or f.startswith("file:") or "://" in f


def _ref_path(fs, table_dir: str, f: str) -> str:
    """A manifest ref's readable path: external refs are already
    absolute; table-relative refs anchor at the table dir."""
    return f if _is_ext(f) else fs.join(table_dir, f)


def _ref_group(fs, table_dir: str, f: str) -> str:
    """The basePath anchor for a ref — its owning version directory
    (hive partition columns parse relative to it). Table-relative refs
    anchor at ``<table>/_v<K>``; external refs at the path up to their
    ``_v<K>`` component (parent dir when none — e.g. a ref into a
    foreign layout)."""
    if not _is_ext(f):
        return fs.join(table_dir, f.split("/", 1)[0])
    parts = f.split("/")
    for i in range(len(parts) - 2, -1, -1):
        if parts[i].startswith("_v") and parts[i][2:].isdigit():
            return "/".join(parts[: i + 1])
    return f.rsplit("/", 1)[0]


def _ref_suffix(f: str) -> str:
    """The path-suffix form of a ref for matching against Spark file
    URIs (``input_file_name()`` / ``_metadata.file_path`` both render
    ``scheme://.../path``): strip the scheme but KEEP the authority
    (bucket/host) — two stores can hold identical paths, and a clone
    whose external refs span buckets must never cross-match them —
    keep one leading slash for absolute paths, prefix relative refs
    with '/'."""
    if "://" in f:
        rest = f.split("://", 1)[1]
        return "/" + rest
    if f.startswith("file:"):
        rest = f[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return f if f.startswith("/") else "/" + f


def _rel_of(abs_uri: str, rel_files) -> Optional[str]:
    """Map an ``input_file_name()`` URI back to its manifest ref
    (suffix match; tolerates URL-encoding in the URI and external
    absolute refs)."""
    from urllib.parse import unquote

    for cand in (abs_uri, unquote(abs_uri)):
        for rel in rel_files:
            if cand.endswith(_ref_suffix(rel)):
                return rel
    return None


def _distributed_file_stats(
    spark: SparkSession,
    fs,
    table_dir: str,
    rel_files,
    cols,
    schema_json: Optional[str] = None,
) -> dict:
    """Per-file ``{relpath: {col: [min, max]}}`` via ONE distributed
    Spark job per version dir: scan the files column-pruned to ``cols``,
    group by ``input_file_name()``, min/max per file. Works on EVERY
    backend (posix, ``file:``, ``hdfs:``, object stores) because the
    executors read the files wherever they live — this is what lets
    stats be recorded AT WRITE TIME (the cluster just produced the
    files) instead of a posix-only driver loop after the fact. Hive
    partition columns are real attributes under a basePath-anchored
    read, so stats on partition columns work too (constant per file)."""
    from pyspark.sql import functions as F, types as T

    if not rel_files or not cols:
        return {}
    by_base: dict = {}
    for f in rel_files:
        by_base.setdefault(_ref_group(fs, table_dir, f), []).append(f)
    out: dict = {}
    for base, fl in by_base.items():
        reader = spark.read
        if schema_json:
            reader = reader.schema(
                T.StructType.fromJson(json.loads(schema_json))
            )
        df = reader.option(
            "basePath", base
        ).parquet(*[_ref_path(fs, table_dir, f) for f in fl])
        cs = [c for c in cols if c in df.columns]
        if not cs:
            continue
        rows = (
            df.groupBy(F.input_file_name().alias("_f"))
            .agg(
                *[F.min(F.col(c)).alias("_mn%d" % i) for i, c in enumerate(cs)],
                *[F.max(F.col(c)).alias("_mx%d" % i) for i, c in enumerate(cs)],
            )
            .collect()  # O(files in this version dir) — metadata-sized
        )
        for r in rows:
            rel = _rel_of(r["_f"], fl)
            if rel is None:
                continue
            st = {}
            for i, c in enumerate(cs):
                mn, mx = r["_mn%d" % i], r["_mx%d" % i]
                if mn is None:
                    continue
                st[c] = [_json_stat(mn), _json_stat(mx)]
            if st:
                out[rel] = st
    return out


_BLOOM_M = 16384  # bits per file per column (2 KB) — plenty for the
_BLOOM_K = 5      # ~128 MB-file distinct-value counts point lookups hit


def _bloom_canon_py(value) -> Optional[str]:
    """CANONICAL string form of a bloom-hashable value — the single
    formatter both hashing sides must agree on. Python ``str()`` and
    Spark ``cast(string)`` disagree on floats ('1e-07' vs '1.0E-7')
    and booleans ('True' vs 'true'); a one-character difference means
    different bit positions and a FALSE NEGATIVE — a file containing
    the value silently skipped, breaking the conservative-skipping
    guarantee. So: supported types get one canonical form (bool →
    'true'/'false', int → decimal digits, date → ISO, str as-is);
    unsupported types (float/decimal/timestamp, whose Spark string
    forms aren't reproducible in Python) return None — bloom BUILDS
    reject them, bloom LOOKUPS fall back to 'might contain'."""
    import datetime

    if isinstance(value, bool):  # before int: bool subclasses int
        return "true" if value else "false"
    if isinstance(value, int) or isinstance(value, str):
        return str(value)
    if isinstance(value, datetime.datetime):
        return None  # fraction-trimming in Spark's cast isn't replicable
    if isinstance(value, datetime.date):
        return value.isoformat()  # = Spark cast(date as string)
    return None


def _bloom_positions_py(value, m_bits: int, k: int) -> Optional[List[int]]:
    """The k bloom bit positions for ``value`` — PURE-PYTHON twin of
    the Spark expression in :func:`_distributed_file_blooms`. Both
    sides hash ``md5(canon(value) + ':' + str(i))`` (one canonical
    formatter, see :func:`_bloom_canon_py`) and take the first 60 bits
    mod m, so a position computed on the driver at planning time
    matches one computed by executors at build time exactly. None for
    values whose canonical form isn't defined."""
    import hashlib

    canon = _bloom_canon_py(value)
    if canon is None:
        return None
    out = []
    for i in range(k):
        h = hashlib.md5(
            ("%s:%d" % (canon, i)).encode("utf-8")
        ).hexdigest()[:15]
        out.append(int(h, 16) % m_bits)
    return out


def _bloom_might_contain(bloom: dict, value) -> bool:
    """Driver-side membership test against a stored per-file bloom.
    CONSERVATIVE: a value with no canonical form (float/timestamp)
    answers True — never skip on a hash that can't be reproduced."""
    import base64

    positions = _bloom_positions_py(value, int(bloom["m"]), int(bloom["k"]))
    if positions is None:
        return True
    bits = base64.b64decode(bloom["b64"])
    for pos in positions:
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


def _bloom_canon_expr(df: DataFrame, c: str):
    """Spark-side twin of :func:`_bloom_canon_py`: a Column holding
    the CANONICAL string form of ``c``. Raises for column types whose
    canonical form Python can't reproduce (float/double/decimal/
    timestamp) — rejecting at build time beats a silent false-negative
    skip at read time."""
    from pyspark.sql import functions as F, types as T

    dt = {f.name: f.dataType for f in df.schema.fields}[c]
    if isinstance(dt, T.BooleanType):
        # cast(boolean as string) is 'true'/'false' — make it explicit
        return F.when(F.col(c), F.lit("true")).otherwise(F.lit("false"))
    if isinstance(
        dt,
        (T.StringType, T.ByteType, T.ShortType, T.IntegerType,
         T.LongType, T.DateType),
    ):
        return F.col(c).cast("string")
    raise ValueError(
        "bloom_cols: column %r has type %s, whose string form differs "
        "between the Spark build side and the Python lookup side — a "
        "bloom on it could FALSELY skip files containing matches. Use "
        "string/integral/boolean/date columns (or quantize the value "
        "into one)." % (c, dt.simpleString())
    )


def _distributed_file_blooms(
    spark: SparkSession,
    fs,
    table_dir: str,
    rel_files,
    cols,
    schema_json: Optional[str] = None,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> dict:
    """Per-file ``{relpath: {col: {m, k, b64}}}`` bloom filters, built
    by ONE distributed job per version dir: each row contributes its k
    md5-derived bit positions, collected as a per-file distinct set
    (bounded by m bits) and packed into a bitset on the driver. The
    collect is O(files × m/8) bytes — bounded by the BATCH being
    published when called at write time (the intended path), never by
    the table."""
    import base64

    from pyspark.sql import functions as F, types as T

    if not rel_files or not cols:
        return {}
    by_base: dict = {}
    for f in rel_files:
        by_base.setdefault(_ref_group(fs, table_dir, f), []).append(f)
    out: dict = {}
    for base, fl in by_base.items():
        reader = spark.read
        if schema_json:
            reader = reader.schema(
                T.StructType.fromJson(json.loads(schema_json))
            )
        df = reader.option(
            "basePath", base
        ).parquet(*[_ref_path(fs, table_dir, f) for f in fl])
        cs = [c for c in cols if c in df.columns]
        if not cs:
            continue
        aggs = []
        for ci, c in enumerate(cs):
            for i in range(k):
                # first 15 hex chars of md5 = 60 bits → fits a long;
                # conv(..., 16, 10) matches Python int(hex, 16)
                pos = F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    _bloom_canon_expr(df, c),
                                    F.lit(":%d" % i),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(m_bits),
                ).cast("int")
                aggs.append(
                    F.collect_set(pos).alias("p_%d_%d" % (ci, i))
                )
        rows = (
            df.groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()
        )
        for r in rows:
            rel = _rel_of(r["_f"], fl)
            if rel is None:
                continue
            per_col = {}
            for ci, c in enumerate(cs):
                bits = bytearray(m_bits // 8)
                any_pos = False
                for i in range(k):
                    for pos in r["p_%d_%d" % (ci, i)] or []:
                        bits[pos // 8] |= 1 << (pos % 8)
                        any_pos = True
                if any_pos:
                    per_col[c] = {
                        "m": m_bits,
                        "k": k,
                        "b64": base64.b64encode(bytes(bits)).decode(),
                    }
            if per_col:
                out[rel] = per_col
    return out


def _distributed_file_indexes(
    spark: SparkSession,
    fs,
    table_dir: str,
    rel_files,
    stats_cols,
    bloom_cols,
    schema_json: Optional[str] = None,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
):
    """Min/max stats AND bloom filters in ONE distributed job per
    version dir: the same ``groupBy(input_file_name())`` scan carries
    both the min/max aggregates and the bloom bit-position sets, so a
    write that indexes both pays one pass over its delta files instead
    of two. Returns ``(stats_dict, blooms_dict)`` shaped exactly like
    :func:`_distributed_file_stats` / :func:`_distributed_file_blooms`."""
    import base64

    from pyspark.sql import functions as F, types as T

    stats_cols = list(stats_cols or [])
    bloom_cols = list(bloom_cols or [])
    if not rel_files or not (stats_cols or bloom_cols):
        return {}, {}
    by_base: dict = {}
    for f in rel_files:
        by_base.setdefault(_ref_group(fs, table_dir, f), []).append(f)
    stats_out: dict = {}
    bloom_out: dict = {}
    for base, fl in by_base.items():
        reader = spark.read
        if schema_json:
            reader = reader.schema(
                T.StructType.fromJson(json.loads(schema_json))
            )
        df = reader.option(
            "basePath", base
        ).parquet(*[_ref_path(fs, table_dir, f) for f in fl])
        scs = [c for c in stats_cols if c in df.columns]
        bcs = [c for c in bloom_cols if c in df.columns]
        if not (scs or bcs):
            continue
        aggs = []
        for i, c in enumerate(scs):
            aggs.append(F.min(F.col(c)).alias("_mn%d" % i))
            aggs.append(F.max(F.col(c)).alias("_mx%d" % i))
        for ci, c in enumerate(bcs):
            for i in range(k):
                pos = F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    _bloom_canon_expr(df, c),
                                    F.lit(":%d" % i),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(m_bits),
                ).cast("int")
                aggs.append(
                    F.collect_set(pos).alias("p_%d_%d" % (ci, i))
                )
        rows = (
            df.groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()  # O(files in this version dir) — metadata-sized
        )
        for r in rows:
            rel = _rel_of(r["_f"], fl)
            if rel is None:
                continue
            st = {}
            for i, c in enumerate(scs):
                mn, mx = r["_mn%d" % i], r["_mx%d" % i]
                if mn is None:
                    continue
                st[c] = [_json_stat(mn), _json_stat(mx)]
            if st:
                stats_out[rel] = st
            per_col = {}
            for ci, c in enumerate(bcs):
                bits = bytearray(m_bits // 8)
                any_pos = False
                for i in range(k):
                    for pos in r["p_%d_%d" % (ci, i)] or []:
                        bits[pos // 8] |= 1 << (pos % 8)
                        any_pos = True
                if any_pos:
                    per_col[c] = {
                        "m": m_bits,
                        "k": k,
                        "b64": base64.b64encode(bytes(bits)).decode(),
                    }
            if per_col:
                bloom_out[rel] = per_col
    return stats_out, bloom_out


def _enrich_seg(
    spark, fs, table_dir, new_files, seg_data, stats_cols, bloom_cols,
    schema_json,
):
    """Attach write-time per-file indexes (min/max stats, equality
    blooms) to a freshly written segment sidecar — ONE distributed job
    over the DELTA files only, shared by both index kinds (fused scan,
    guide §1.2: don't run two passes where one suffices)."""
    if stats_cols or bloom_cols:
        st, bl = _distributed_file_indexes(
            spark, fs, table_dir, new_files, stats_cols, bloom_cols,
            schema_json=schema_json,
        )
        if stats_cols:
            seg_data["file_stats"] = st
        if bloom_cols:
            seg_data["file_blooms"] = bl


def _index_defaults(prev, stats_cols, bloom_cols, schema_json=None):
    """Resolve a write's index columns: explicit args always win;
    otherwise the table's persisted index spec (``index_cols`` — set by
    :func:`set_index_columns` or the creating ``atomic_publish``)
    applies, so EVERY write flavor — micro-batch appends, merges,
    updates, compactions — indexes its new files without the caller
    remembering to pass ``stats_cols``/``bloom_cols`` each time (a
    forgotten arg at 100 TB = unindexed files = degraded point
    lookups forever). Defaulted columns are intersected with the write
    schema so a later rename/drop never breaks writes; the surviving
    columns keep indexing."""
    ic = (prev or {}).get("index_cols") or {}
    sc = stats_cols if stats_cols is not None else ic.get("stats")
    bc = bloom_cols if bloom_cols is not None else ic.get("bloom")
    if schema_json and (stats_cols is None or bloom_cols is None):
        names = {f["name"] for f in json.loads(schema_json)["fields"]}
        if stats_cols is None and sc:
            sc = [c for c in sc if c in names]
        if bloom_cols is None and bc:
            bc = [c for c in bc if c in names]
    return sc, bc


def _segments_of(fs, table_dir: str, prev: dict):
    """``(segments, removed)`` base for building the next snapshot on
    top of ``prev``. A legacy inline entry is MIGRATED once: its live
    files are grouped by owning version dir and written out as that
    dir's segment sidecar (never overwriting an existing one), after
    which the new commit — and every later one — is segment-shaped."""
    if prev.get("files") is None:
        return (
            list(prev.get("segments") or []),
            list(prev.get("removed") or []),
        )
    sizes = prev.get("file_sizes") or {}
    stats = prev.get("file_stats") or {}
    by_seg: dict = {}
    for f in prev["files"]:
        by_seg.setdefault(f.split("/", 1)[0], []).append(f)
    extra_removed: List[str] = []
    for seg, fl in by_seg.items():
        try:
            s = _load_seg(fs, table_dir, seg)
        except Exception:
            _write_seg(
                fs,
                table_dir,
                seg,
                {
                    "files": fl,
                    "file_sizes": {
                        f: sizes[f] for f in fl if sizes.get(f) is not None
                    },
                    "file_stats": {f: stats[f] for f in fl if stats.get(f)},
                },
            )
            continue
        # sidecar already exists (mixed-history table, e.g. a restore
        # to a pre-migration inline snapshot): its file list may
        # DISAGREE with the inline entry. Reusing it blind would
        # resurrect files the restored snapshot deleted (sidecar ⊃
        # entry) or drop files it kept (sidecar ⊅ entry) — reconcile:
        # shadow the surplus via `removed`, and widen the sidecar for
        # entry files it doesn't list (keeping its recorded indexes).
        have, want = set(s.get("files", [])), set(fl)
        if have - want:
            extra_removed.extend(sorted(have - want))
        if want - have:
            s = dict(s)
            s["files"] = sorted(have | want)
            s["file_sizes"] = {
                **{f: sizes[f] for f in want - have
                   if sizes.get(f) is not None},
                **(s.get("file_sizes") or {}),
            }
            s["file_stats"] = {
                **{f: stats[f] for f in want - have if stats.get(f)},
                **(s.get("file_stats") or {}),
            }
            _write_seg(fs, table_dir, seg, s)
    return sorted(by_seg), extra_removed


# ---------------------------------------------------------------------------
# HIDDEN PARTITIONING (Iceberg-style partition transforms, hive-cased).
#
# ``partition_by`` entries may be TRANSFORM expressions over a source
# column instead of plain column names:
#
#   "days(ts)"        -> physical column  ts_day    (DATE)
#   "months(ts)"      -> ts_month  (STRING 'yyyy-MM')
#   "years(ts)"       -> ts_year   (INT)
#   "hours(ts)"       -> ts_hour   (STRING 'yyyy-MM-dd-HH')
#   "bucket(16, id)"  -> id_bucket (INT = pmod(xxhash64(id), 16))
#   "truncate(8, s)"  -> s_trunc   (prefix for strings, floor-to-
#                                   multiple for integral types)
#
# The table's manifest stores BOTH views of the layout: ``partition_by``
# keeps the PHYSICAL partition column names (so every existing path
# matcher, rebase check and partition-level operator keeps working on
# names that actually appear in file paths), and ``partition_spec`` is
# the transform list ``[{name, transform, source, arg, source_type}]``
# (identity entries included so the spec is self-contained; a manifest
# with no ``partition_spec`` is an identity layout, backward
# compatible). The derived column is materialized INSIDE the shared
# write paths right before ``partitionBy`` — it lives only in directory
# names, never in data pages or the logical schema — and readers drop
# it by selecting the manifest schema (see ``_scan_groups``).
#
# The 100 TB point of this: a user writes ``where ts between a and b``
# against a days(ts)-partitioned table and ``read_published(skip=
# {"ts": (a, b)})`` prunes whole day DIRECTORIES from the manifest's
# file list before Spark ever plans the scan — without the user ever
# materializing or even knowing the physical ``ts_day`` column
# (Iceberg spec: partition transforms; reduced here to the hive case
# the same way set_partition_layout reduces spec evolution).
#
# ``bucket`` hashes with Spark's ``xxhash64`` (seed 42) and the hash
# DEPENDS ON the column's physical type (xxhash64(int 7) !=
# xxhash64(long 7)), so the spec pins ``source_type`` at creation:
# point-lookup pruning casts the probe literal to it, and
# ``widen_column`` refuses to widen a bucket source (the old paths'
# bucket numbers would stop matching recomputed ones).
# ---------------------------------------------------------------------------

_PT_TRANSFORMS = ("days", "date", "months", "years", "hours", "bucket",
                  "truncate")
_PT_SUFFIX = {"days": "_day", "date": "_day", "months": "_month",
              "years": "_year", "hours": "_hour", "bucket": "_bucket",
              "truncate": "_trunc"}


def _pt_parse_one(s: str):
    """Parse one ``partition_by`` entry. Returns an identity dict for a
    plain column name, a transform dict for ``t(col)`` / ``t(n, col)``
    syntax, and raises on a malformed transform call."""
    import re

    s = s.strip()
    m = re.match(r"^([A-Za-z_]+)\s*\((.*)\)$", s)
    if not m:
        return {"name": s, "transform": "identity", "source": s}
    t, inner = m.group(1).lower(), m.group(2).strip()
    if t not in _PT_TRANSFORMS:
        raise ValueError(
            "partition transform %r is not supported (have: %s)"
            % (t, ", ".join(sorted(set(_PT_TRANSFORMS))))
        )
    if t in ("bucket", "truncate"):
        parts = [p.strip() for p in inner.split(",")]
        if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) < 1:
            raise ValueError(
                "%s transform takes (N, column) with N >= 1: %r" % (t, s)
            )
        arg, src = int(parts[0]), parts[1]
    else:
        if "," in inner or not inner:
            raise ValueError("%s transform takes one column: %r" % (t, s))
        arg, src = None, inner
    t = "days" if t == "date" else t
    d = {"name": src + _PT_SUFFIX[t], "transform": t, "source": src}
    if arg is not None:
        d["arg"] = arg
    return d


def _parse_partition_by(partition_by, schema_json=None):
    """Parse a user-facing ``partition_by`` (strings, possibly with
    transform syntax) into ``(physical_names, spec_or_None)``. ``spec``
    is None for a pure-identity layout (legacy manifest shape). With
    ``schema_json`` the sources are validated against the schema and
    each entry records the source's Spark type."""
    entries = (
        [partition_by] if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    spec = [_pt_parse_one(s) for s in entries]
    hidden = [t for t in spec if t["transform"] != "identity"]
    names = [t["name"] for t in spec]
    if len(set(names)) != len(names):
        raise ValueError(
            "partition_by derives duplicate physical columns: %s" % names
        )
    if schema_json is not None:
        types = {
            f["name"]: f["type"]
            for f in json.loads(schema_json)["fields"]
        }
        for t in spec:
            if t["source"] not in types:
                raise ValueError(
                    "partition column source %r is not a table column "
                    "(schema has: %s)" % (t["source"], sorted(types))
                )
            ty = types[t["source"]]
            t["source_type"] = ty if isinstance(ty, str) else "nested"
            tf = t["transform"]
            if tf in ("days", "months", "years", "hours") and ty not in (
                "timestamp", "timestamp_ntz", "date"
            ):
                raise ValueError(
                    "%s(%s) needs a timestamp/date source (got %s)"
                    % (tf, t["source"], ty)
                )
            if tf == "truncate" and not (
                ty == "string"
                or ty in ("byte", "short", "integer", "long")
            ):
                raise ValueError(
                    "truncate(%s) needs a string or integral source "
                    "(got %s)" % (t["source"], ty)
                )
            if tf == "bucket" and not isinstance(ty, str):
                raise ValueError(
                    "bucket(%s) needs an atomic source column"
                    % t["source"]
                )
        for t in hidden:
            if t["name"] in types:
                raise ValueError(
                    "derived partition column %r collides with an "
                    "existing table column — rename one" % t["name"]
                )
    return names, (spec if hidden else None)


def _pt_expr(t: dict):
    """The Spark Column computing a transform's physical partition
    value from its source column — deterministic, engine-side, used
    identically by every write flavor."""
    from pyspark.sql import functions as F

    c = F.col(t["source"])
    tf = t["transform"]
    if tf == "identity":
        return c
    if tf == "days":
        return F.to_date(c)
    if tf == "months":
        return F.date_format(c, "yyyy-MM")
    if tf == "years":
        return F.year(c)
    if tf == "hours":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if tf == "bucket":
        return F.pmod(F.xxhash64(c), F.lit(t["arg"])).cast("int")
    if tf == "truncate":
        if t.get("source_type") == "string":
            return F.substring(c, 1, t["arg"])
        return c - F.pmod(c, F.lit(t["arg"]))
    raise ValueError("unknown partition transform %r" % tf)


def _materialize_partition_cols(df: DataFrame, spec) -> DataFrame:
    """Add the HIDDEN (non-identity) physical partition columns to a
    frame about to be written. Identity columns are already data
    columns; derived ones are recomputed from the spec so every write
    flavor places rows identically. Idempotent: recomputing over an
    already-materialized frame yields the same values."""
    for t in spec or []:
        if t["transform"] != "identity":
            df = df.withColumn(t["name"], _pt_expr(t))
    return df


def _pt_rebalance(df: DataFrame, parts) -> DataFrame:
    """Cluster a partitioned write's rows by their partition columns
    before the write (REBALANCE hint, guide §6): without it every write
    task emits one file per partition value it holds — days × tasks
    tiny files per commit — and every later scan, index job and commit
    pays that file count. AQE's rebalance both coalesces small
    partitions and splits skewed ones
    (``optimizeSkewsInRebalancePartitions``), so a hot partition still
    fans out across tasks at scale. No-op for unpartitioned writes."""
    if not parts:
        return df
    return df.hint("rebalance", *parts)


def _pt_hidden_names(spec) -> List[str]:
    return [t["name"] for t in spec or [] if t["transform"] != "identity"]


def _pt_py(t: dict, value, spark: Optional[SparkSession] = None):
    """Driver-side twin of :func:`_pt_expr` for a single LITERAL —
    what read-time pruning uses to turn a predicate bound on the
    SOURCE column into the physical partition value it must match.
    Returns the canonical hive path string for the value, or None when
    the literal can't be transformed faithfully (caller stays
    conservative and skips pruning). ``bucket`` needs Spark itself for
    hash parity (xxhash64 is type-sensitive; a Python reimplementation
    would silently diverge) — one 1-row local-relation job per probed
    literal, milliseconds, driver-only."""
    import datetime as _dt

    tf = t["transform"]
    if tf == "identity":
        return str(value)
    if tf in ("days", "months", "years", "hours"):
        v = value
        if isinstance(v, str):
            try:
                v = _dt.datetime.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(v, _dt.datetime):
            pass
        elif isinstance(v, _dt.date):
            v = _dt.datetime(v.year, v.month, v.day)
        else:
            return None
        if tf == "days":
            return v.strftime("%Y-%m-%d")
        if tf == "months":
            return v.strftime("%Y-%m")
        if tf == "years":
            return str(v.year)
        return v.strftime("%Y-%m-%d-%H")
    if tf == "truncate":
        if t.get("source_type") == "string":
            return str(value)[: t["arg"]] if isinstance(value, str) else None
        if isinstance(value, bool) or not isinstance(value, int):
            return None
        return str(value - (value % t["arg"]))
    if tf == "bucket":
        if spark is None:
            return None
        from pyspark.sql import functions as F

        st = t.get("source_type")
        if not st:
            return None
        lit = F.lit(value)
        if not isinstance(value, str) or st == "string":
            # cast to the PINNED source type (hash parity); a string
            # probe against a non-string source casts too
            lit = lit.cast(st)
        row = (
            spark.range(1)
            .select(F.pmod(F.xxhash64(lit), F.lit(t["arg"])).cast("int"))
            .first()
        )
        return None if row[0] is None else str(row[0])
    return None


def _pt_path_value(path: str, name: str) -> Optional[str]:
    """The hive path value of partition column ``name`` in a
    manifest-relative file path, unescaped — or None when the file
    predates the layout (no such segment) or holds the hive null
    marker."""
    from urllib.parse import unquote

    for seg in path.split("/"):
        if seg.startswith(name + "="):
            v = seg[len(name) + 1:]
            if v == "__HIVE_DEFAULT_PARTITION__":
                return None
            return unquote(v)
    return None


_PT_MONOTONE = ("identity", "days", "months", "years", "hours", "truncate")


def _pt_cmp_key(t: dict, s):
    """Comparable form of a value for RANGE pruning, or None when no
    order-faithful comparison exists (caller keeps the file). Numeric
    sources compare numerically; date-shaped transform outputs and
    string/date identities compare lexicographically (the formats are
    zero-padded, so string order IS time order). Float identities MUST
    go numeric — "10.5" < "2.0" lexicographically."""
    st = t.get("source_type")
    if t["transform"] == "years" or (
        t["transform"] in ("identity", "truncate")
        and st in ("byte", "short", "integer", "long")
    ):
        try:
            return int(s)
        except (TypeError, ValueError):
            return None
    if t["transform"] == "identity":
        if st in ("float", "double") or (
            isinstance(st, str) and st.startswith("decimal")
        ):
            try:
                return float(s)
            except (TypeError, ValueError):
                return None
        if st not in ("string", "date", "timestamp", "timestamp_ntz"):
            return None
    return s if isinstance(s, str) else None


def _pt_prune_files(
    files, spec, partition_by, skip, skip_eq, spark
) -> list:
    """MANIFEST-LEVEL partition-path pruning: drop files whose hive
    path value for a partition column is provably outside a caller
    predicate on the TRANSFORM SOURCE column. ``skip`` bounds prune
    monotone transforms (days/months/years/hours/truncate/identity);
    ``skip_eq`` point probes prune every transform including bucket.
    Conservative by construction: a file without the path segment
    (pre-evolution layout), a null partition, or an untransformable
    literal is always kept. O(files) driver work on the already-
    resolved manifest list — the same cost class as stats pruning."""
    spec = spec or [
        {"name": c, "transform": "identity", "source": c}
        for c in (partition_by or [])
    ]
    rules = []  # (phys_name, lo_key, hi_key, eq_str, t)
    for t in spec:
        src = t["source"]
        eq = None
        lo_k = hi_k = None
        if skip_eq and src in skip_eq:
            eq = _pt_py(t, skip_eq[src], spark)
        if (
            skip
            and src in skip
            and t["transform"] in _PT_MONOTONE
        ):
            lo, hi = skip[src]
            if lo is not None:
                lo_s = _pt_py(t, lo, spark)
                lo_k = _pt_cmp_key(t, lo_s) if lo_s is not None else None
            if hi is not None:
                hi_s = _pt_py(t, hi, spark)
                hi_k = _pt_cmp_key(t, hi_s) if hi_s is not None else None
        if eq is not None or lo_k is not None or hi_k is not None:
            rules.append((t["name"], lo_k, hi_k, eq, t))
    if not rules:
        return list(files)

    def _keep(f: str) -> bool:
        for name, lo_k, hi_k, eq, t in rules:
            v = _pt_path_value(f, name)
            if v is None:
                continue  # pre-evolution file or null partition: read it
            if eq is not None and v != eq:
                return False
            vk = _pt_cmp_key(t, v)
            if vk is None:
                continue
            try:
                if lo_k is not None and vk < lo_k:
                    return False
                if hi_k is not None and vk > hi_k:
                    return False
            except TypeError:
                continue  # incomparable: stay conservative
        return True

    return [f for f in files if _keep(f)]


def atomic_publish(
    df: DataFrame,
    table_dir: str,
    partition_by=None,
    lease_ttl_ms: int = 300_000,
    meta: Optional[dict] = None,
    stats_cols=None,
    bloom_cols=None,
    _lease: Optional[_Lease] = None,
    data_change: bool = True,
    operation: str = "overwrite",
    _set_index_spec: bool = True,
    _partition_spec=None,
    _keep_layout: bool = False,
) -> int:
    """Write ``df`` as the table's next snapshot and commit it
    atomically. Returns the committed version number. The manifest row
    count is observed during the write — no second scan.

    ``operation`` labels the commit in the snapshot history (see
    :func:`table_history`) — composite flavors (merge/compact/cluster)
    pass their own name.

    ``partition_by`` hive-partitions the snapshot's data files
    (``_v<N>/col=val/part-*.parquet``); the manifest records the
    partition columns and readers restore them via a basePath-anchored
    read, so PARTITION PRUNING works on the published table exactly as
    on a hive layout while file resolution still goes only through the
    manifest.

    TIME TRAVEL: the manifest carries a ``snapshots`` map with every
    still-live committed version's file list/row count/schema. Because
    the history rides the SAME atomically-swapped manifest, it can
    never disagree with the commit it describes — a version appears in
    history iff its publish committed. ``read_published(version=k)``
    reads any retained snapshot; ``vacuum`` prunes history entries
    whose data directories it deletes."""
    fs = _fs_for(table_dir, df.sparkSession)
    fs.mkdirs(table_dir)
    lease = _lease or _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire()
    try:
        prev = _read_manifest(table_dir, fs)
        # hidden partitioning: resolve layout + transform spec; df
        # stays LOGICAL (derived columns live only in directory names)
        # and the materialized twin is what hits the writer. A caller
        # re-publishing a table (compact/clone) threads the committed
        # spec via _partition_spec and may pass an already-materialized
        # frame — normalize by dropping the derived names first.
        if _partition_spec:
            spec = list(_partition_spec)
            parts = [t["name"] for t in spec]
            df = df.drop(
                *[n for n in _pt_hidden_names(spec) if n in df.columns]
            )
        else:
            parts, spec = _parse_partition_by(
                partition_by, df.schema.json() if partition_by else None
            )
        staged = _materialize_partition_cols(df, spec)
        if not _keep_layout:
            # callers that pre-laid-out the frame (compact's byte-sized
            # range layout, zorder clustering) pass _keep_layout=True
            staged = _pt_rebalance(staged, parts)
        # the lease is held from read to swap: no rebase, ever
        with _Stage(
            fs, table_dir, prev, "atomic_publish", lease_ttl_ms, lease=lease
        ) as st:
            st.write(staged, parts)
            # a full rewrite starts the field-id space fresh (physical
            # == logical again) and resets the evolution flags —
            # nothing of the old layout survives to resurrect
            fids = {f.name: i + 1 for i, f in enumerate(df.schema.fields)}
            # WRITE-TIME indexes: explicit cols on a full publish DEFINE
            # the table's index spec (persisted; every later write
            # flavor defaults to it); absent args inherit the previous
            explicit = _set_index_spec and (
                stats_cols is not None or bloom_cols is not None
            )
            stats_cols, bloom_cols = st.index(
                df.sparkSession, df.schema.json(), fids, stats_cols,
                bloom_cols,
            )
            entry = {
                "segments": st.cite([]),
                "removed": [],
                "n_rows": st.n_rows,
                "n_files": len(st.files),
                "size_bytes": sum(st.sizes.values()),
                "schema": df.schema.json(),
                "partition_by": parts,
                "operation": operation,
                "field_ids": fids,
                "next_field_id": len(fids) + 1,
                "schema_evolved": False,
                "retired_names": [],
            }
            if spec:
                entry["partition_spec"] = spec
            if explicit:
                entry["index_cols"] = {
                    "stats": list(stats_cols or []),
                    "bloom": list(bloom_cols or []),
                }
            if not data_change:
                # pure-rewrite marker (Delta's dataChange=false):
                # this commit re-cites existing ROWS in new files;
                # incremental readers (read_appends, the streaming
                # source) skip it
                entry["data_change"] = False
            if meta:
                entry["meta"] = dict(meta)
            return st.commit(lambda prev: entry)
    finally:
        if _lease is None:
            lease.release()


def _next_version(fs, table_dir: str, prev) -> int:
    """Next version id: must clear BOTH the committed manifest and any
    orphan ``_v<K>`` left by a writer that died before its commit."""
    orphans = [
        int(d[2:])
        for d in fs.listdir(table_dir)
        if d.startswith("_v") and d[2:].isdigit()
    ]
    committed = int(prev["version"]) if prev else 0
    return max([committed] + orphans) + 1


def _claim_vdir(fs, table_dir: str, start: int) -> str:
    """Reserve a version DIRECTORY name with the filesystem's
    exclusive-create primitive (a ``_v<N>.claim`` marker) so writers
    that stage data OUTSIDE the commit lease can never write into the
    same directory. Directory names are now decoupled from snapshot
    version numbers — the snapshot version is assigned at COMMIT time
    (monotonic under the lease), while the claimed dir name just has to
    be unique; under no contention they coincide. The claim marker
    lives until ``vacuum`` removes the directory."""
    existing = set(fs.listdir(table_dir))
    n = start
    for _ in range(100_000):  # bound: a persistent FS error (perms,
        # missing parent) must surface, not spin the claim loop forever
        name = "_v%d" % n
        if name not in existing and fs.create_exclusive(
            fs.join(table_dir, name + ".claim"), ""
        ):
            return name
        n += 1
    raise ConcurrentWriteError(
        "could not claim a version directory after 100k attempts — "
        "the filesystem is refusing exclusive creates"
    )


class _ClaimBeat:
    """Staging heartbeat: keeps an optimistic writer's ``.claim``
    marker's mtime fresh (every ttl/4) from claim to commit. Writers
    stage data with NO lease held, so the claim's age is the ONLY
    liveness signal ``vacuum`` has — without the beat, a data write
    longer than the lease TTL would let a concurrent vacuum rmtree the
    in-flight staging dir, and the writer's later commit would
    reference deleted files (silent corruption). With it, vacuum only
    ever reclaims claims whose writer actually died."""

    def __init__(self, fs, table_dir: str, seg: str, ttl_ms: int):
        self._fs = fs
        self._path = fs.join(table_dir, seg + ".claim")
        self._ttl_ms = ttl_ms
        self._stop = None
        self._thread = None

    def start(self) -> "_ClaimBeat":
        import threading

        self._stop = threading.Event()

        def beat(stop, fs, path, interval_s):
            while not stop.wait(interval_s):
                try:
                    fs.touch(path)
                except Exception:
                    return  # claim gone (committed+vacuumed): done

        self._thread = threading.Thread(
            target=beat,
            args=(
                self._stop,
                self._fs,
                self._path,
                max(self._ttl_ms / 4000.0, 0.25),
            ),
            daemon=True,
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        """Idempotent; JOINS the beat thread so no in-flight ``touch``
        can recreate the claim after the caller deletes it (the
        lost-race staging reclaim depends on this ordering)."""
        if self._stop is not None:
            self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            self._thread = None


def _hidden(component: str) -> bool:
    """Spark's hidden-path rule: a leading ``.``, or a leading ``_``
    that is not a hive ``col=value`` dir."""
    return component.startswith(".") or (
        component.startswith("_") and "=" not in component
    )


def _scan_written(fs, vdir: str, vname: str):
    """(manifest-relative file list, {path: bytes}) for the data files
    of a freshly written version directory. Paths under a hidden
    component are not data: a merge's ``_dvp`` delete-vector sidecar
    and any job's ``_temporary`` attempt files share the staged dir."""
    rel = sorted(
        f
        for f in fs.walk_files(vdir)
        if f.endswith(".parquet")
        and not any(_hidden(c) for c in f.split("/"))
    )
    files = ["%s/%s" % (vname, f) for f in rel]
    sizes = {
        "%s/%s" % (vname, f): fs.file_size(fs.join(vdir, f))
        for f in rel
    }
    return files, sizes


class _Stage:
    """The staged-commit protocol every data-writing publish flavor
    shares, used as ``with _Stage(...) as st:``.

    * Entering claims a ``_v<N>`` dir (exclusive-create ``.claim``),
      creates it, and starts the claim heartbeat that tells ``vacuum``
      the dir is in flight. The claim makes the dir this writer's
      alone, so every write into it appends.
    * :meth:`write` is the observed data write — the row count and
      one CHECK-violation counter per table constraint ride the write
      job — then lists the written data files; :meth:`index` writes
      their segment sidecar (sizes, write-time indexes, field ids).
    * :meth:`commit` swaps the next snapshot in under the short commit
      lease. When the table moved since ``base`` it rebases only if
      schema and layout are unchanged and the flavor's conflict check
      passes.

    Reclaim: leaving without a manifest swap — on any exception, or
    when the flavor found nothing to commit — stops the heartbeat,
    joins a running :meth:`submit` job, and deletes the claim and the
    staged dir, logging any cleanup failure; the original error
    propagates. Once the swap has started the dir is never deleted:
    the manifest may cite it."""

    def __init__(self, fs, table_dir: str, base, who: str, lease_ttl_ms: int,
                 lease: Optional[_Lease] = None):
        self.fs = fs
        self.table_dir = table_dir
        self.base = base  # the snapshot the flavor planned against
        self.who = who
        self.n_rows = 0
        self.files: List[str] = []
        self.sizes: Dict[str, int] = {}
        self._ttl_ms = lease_ttl_ms
        self._lease = lease  # held by the caller: commit under it
        self._pool = None
        self._swapped = False

    def __enter__(self) -> "_Stage":
        fs, t = self.fs, self.table_dir
        self.seg = _claim_vdir(fs, t, _next_version(fs, t, self.base))
        self.vdir = fs.join(t, self.seg)
        self._beat = _ClaimBeat(fs, t, self.seg, self._ttl_ms).start()
        try:
            fs.mkdirs(self.vdir)
        except BaseException:
            self.__exit__(None, None, None)
            raise
        return self

    def __exit__(self, *exc) -> None:
        # beat first: a touch landing after the delete would recreate
        # the claim; the pool join keeps the rmtree off in-flight writes
        self._beat.stop()
        if self._pool is not None:
            self._pool.shutdown(wait=True)
        if self._swapped:
            return
        for what, drop, path in (
            ("claim", self.fs.delete_file, self.vdir + ".claim"),
            ("staged dir", self.fs.rmtree, self.vdir),
        ):
            try:
                drop(path)
            except Exception:
                _log.warning(
                    "%s: could not reclaim %s %s", self.who, what, path,
                    exc_info=True,
                )

    def submit(self, fn, *args):
        """Run ``fn(*args)`` on a second driver thread beside the data
        write (its jobs back-fill slots the write's tail leaves idle);
        returns the future."""
        from concurrent.futures import ThreadPoolExecutor

        self._pool = ThreadPoolExecutor(max_workers=1)
        return self._pool.submit(fn, *args)

    def write(self, df: DataFrame, parts) -> None:
        """Append ``df`` — already laid out by the flavor — to the
        staged dir, refuse constraint violations, and record ``n_rows``,
        ``files`` and ``sizes``."""
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        names, cons, aggs = _constraint_aggs(self.base)
        writer = df.observe(
            obs, F.count(F.lit(1)).alias("n"), *aggs
        ).write.mode("append")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.vdir)
        _enforce_constraints(obs.get, names, cons, self.who)
        self.n_rows = int(obs.get["n"])
        self.files, self.sizes = _scan_written(self.fs, self.vdir, self.seg)

    def index(self, spark, schema_json: str, fids: dict, stats_cols,
              bloom_cols):
        """Write the staged files' segment sidecar (none when the write
        produced no file): sizes, write-time min/max stats and blooms
        (explicit columns, else the table's index spec), and the
        ``{field id: name}`` stamp. Returns the resolved
        ``(stats_cols, bloom_cols)``."""
        sc, bc = _index_defaults(self.base, stats_cols, bloom_cols, schema_json)
        if self.files:
            seg_data = {"files": self.files, "file_sizes": self.sizes}
            _enrich_seg(
                spark, self.fs, self.table_dir, self.files, seg_data,
                sc, bc, schema_json,
            )
            _stamp_fields(seg_data, fids)
            _write_seg(self.fs, self.table_dir, self.seg, seg_data)
        return sc, bc

    def cite(self, segs) -> List[str]:
        """``segs`` plus this stage's segment when it wrote any file."""
        return list(segs) + ([self.seg] if self.files else [])

    def commit(self, entry_of, rebase=None) -> int:
        """Commit ``entry_of(prev)`` as version ``prev + 1``, where
        ``prev`` is ``base`` — or, when the table moved meanwhile, the
        current snapshot, provided ``_check_rebase`` passes and
        ``rebase(cur)`` raises no :class:`ConcurrentWriteError`. With
        ``rebase=None`` a moved table is refused."""

        def main_swap(cur, lease):
            prev = self.base
            # without a rebase check a moved table reaches _commit's CAS
            # against the stale base, which refuses it
            if rebase is not None and int(cur["version"]) != int(prev["version"]):
                _check_rebase(prev, cur, self.who)
                rebase(cur)
                prev = cur
            version = (int(prev["version"]) if prev else 0) + 1
            entry = entry_of(prev)
            self.swap(_commit, self.fs, self.table_dir, prev, version,
                      entry, lease=lease)
            return version

        return self.under_lease(main_swap)

    def under_lease(self, fn):
        """``fn(current manifest, lease)`` inside the commit lease (the
        caller's, or a short one waited for), then release the claim —
        the committed dir no longer needs it."""
        lease = self._lease or _Lease(
            self.fs, self.table_dir, ttl_ms=self._ttl_ms
        ).acquire_wait(wait_ms=_COMMIT_WAIT_MS)
        try:
            cur = _read_manifest(self.table_dir, self.fs)
            if cur is None and self.base is not None:
                raise ConcurrentWriteError(
                    "%s: table manifest vanished mid-write" % self.who
                )
            out = fn(cur, lease)
            self.fs.delete_file(self.vdir + ".claim")
            return out
        finally:
            if self._lease is None:
                lease.release()

    def swap(self, fn, *args, **kw):
        """Run the manifest swap ``fn``. Its CAS refusals raise
        :class:`ConcurrentWriteError` before anything is written, so only
        they leave the staged dir reclaimable."""
        self._swapped = True
        try:
            return fn(*args, **kw)
        except ConcurrentWriteError:
            self._swapped = False
            raise


def _commit(
    fs, table_dir: str, prev, version: int, entry: dict, lease=None
) -> None:
    """Fold ``entry`` into the snapshot history and atomically swap the
    manifest — THE commit point shared by every publish flavor.

    CAS-validated: the swap re-reads the manifest and verifies it is
    still the ``prev`` this commit was built from (and, when the
    caller's lease is passed, that the lock file still carries our
    token). Without this, a writer whose lease was TTL-broken mid-write
    would finish, swap, and silently erase the breaker's committed
    snapshot — the version number would even go BACKWARDS. With it,
    the evicted writer raises :class:`ConcurrentWriteError` before
    anything is written, and its staging reclaims the ``_v<N>`` dir."""
    cur = _read_manifest(table_dir, fs)
    cur_v = int(cur["version"]) if cur else 0
    prev_v = int(prev["version"]) if prev else 0
    if cur_v != prev_v:
        raise ConcurrentWriteError(
            "commit lost a concurrent-writer race: the table moved from "
            "version %d to %d while this write ran (its lease was "
            "probably TTL-broken); this snapshot is NOT committed"
            % (prev_v, cur_v)
        )
    if lease is not None and not lease.still_mine():
        raise ConcurrentWriteError(
            "commit lease no longer held (TTL-broken by another writer); "
            "refusing to swap the manifest over their commit"
        )
    # table-level meta (e.g. a streaming sink's exactly-once batch-id
    # HWM) carries FORWARD through every publish flavor — a maintenance
    # compact()/optimize_table must not erase the ingest HWM; a writer
    # that passes meta overrides per-key, never wholesale
    merged_meta = {
        **((prev or {}).get("meta") or {}),
        **(entry.get("meta") or {}),
    }
    if merged_meta:
        entry["meta"] = merged_meta
    # schema-evolution bookkeeping carries forward unless the entry
    # explicitly set its own (rename/drop commits, and full overwrites
    # which reset it — a rewrite leaves nothing to resurrect)
    for k in (
        "field_ids", "next_field_id", "schema_evolved", "retired_names",
        "constraints", "tags", "index_cols", "retention", "branches",
    ):
        if entry.get(k) is None and prev and prev.get(k) is not None:
            entry[k] = prev[k]
    history = dict(prev.get("snapshots", {})) if prev else {}
    # heal pre-history manifests: retain the previous current snapshot
    # (copy its file bookkeeping in whichever format it uses)
    if prev and str(prev["version"]) not in history:
        healed = {"n_rows": prev["n_rows"], "schema": prev["schema"]}
        for k in ("files", "file_sizes", "file_stats", "segments",
                  "removed", "n_files", "partition_by", "partition_spec"):
            if prev.get(k) is not None:
                healed[k] = prev[k]
        history[str(prev["version"])] = healed
    entry.setdefault("committed_at_ms", _now_ms())
    history[str(version)] = entry
    manifest = {
        "version": version,
        "format_version": _FORMAT_VERSION,
        "snapshots": history,
        **entry,
    }
    fs.replace_with(
        json.dumps(manifest),
        _manifest_path(table_dir, fs),
        ".tmp.%d" % version,
    )


def append_publish(
    df: DataFrame,
    table_dir: str,
    partition_by=None,
    lease_ttl_ms: int = 300_000,
    meta: Optional[dict] = None,
    schema_mode: str = "strict",
    stats_cols=None,
    bloom_cols=None,
    cluster_by=None,
    cluster_files: Optional[int] = None,
) -> int:
    """Append-only snapshot: the next version's file list is the
    previous snapshot's files (CARRIED BY REFERENCE — nothing is
    rewritten or copied) plus ``df``'s freshly written files. This is
    the ingest-append shape at 100 TB: committing a 1 GB micro-batch
    onto a 100 TB table costs exactly the 1 GB write plus one manifest
    swap, never a table rewrite — the move that makes snapshot
    publishing viable as a continuous sink (``compact()`` later folds
    the accumulated small files; ``vacuum`` is reference-aware, so a
    version dir lives as long as ANY retained snapshot cites a file in
    it).

    On the first publish this is ``atomic_publish`` (``partition_by``
    seeds the layout); afterwards the table's committed layout wins and
    ``df`` must carry its partition columns.

    SCHEMA EVOLUTION: ``schema_mode='merge'`` lets the batch ADD new
    nullable columns — the manifest schema widens to the union, the
    batch is aligned to it (missing old columns filled null), and
    because readers pass the manifest schema to the parquet reader,
    files written before the widening read the new columns as null.
    Removals and type changes are rejected (a silent narrow/retype is
    how tables corrupt); ``'strict'`` (default) requires the exact
    committed schema.

    ``cluster_by=[cols]`` range-partitions and sorts the BATCH on the
    given columns before writing (``publish_clustered``, applied to the
    delta): each new file covers a narrow value range, so the write-time
    min/max stats are TIGHT and ``skip=`` range pruning on the landing
    table actually skips — the difference between "stats recorded" and
    "stats that prune" on an append-only ingest path. Batch-local
    ordering only; a periodic ``publish_clustered``/``zorder`` rewrite
    remains the cross-batch clustering move.

    CONCURRENCY (optimistic, write-serializable): the batch write runs
    with NO lease held — the commit lease guards only the final
    manifest swap. If another writer committed meanwhile, this append
    REBASES onto the newer snapshot (appends add files and remove
    nothing, so they commute with any commit that kept the schema and
    partition layout); a concurrent schema/layout change raises
    :class:`ConcurrentWriteError`. Streaming ingest therefore commits
    concurrently with partition maintenance on other partitions."""
    fs = _fs_for(table_dir, df.sparkSession)
    fs.mkdirs(table_dir)
    prev = _read_manifest(table_dir, fs)
    if prev is None:
        return atomic_publish(
            df, table_dir, partition_by=partition_by, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            lease_ttl_ms=lease_ttl_ms, operation="append",
        )
    parts = prev.get("partition_by") or []
    schema_json = prev["schema"]
    if schema_mode == "merge":
        # ADD-ONLY evolution plus type widening: a batch arriving WIDER
        # (int→long etc.) widens the table type in the same commit,
        # zero data IO (narrow files read natively upcast); a narrower
        # batch casts up in the align — the merge paths' rules
        widened, _ = _widen_schema(
            prev, json.loads(df.schema.json())["fields"], "append_publish"
        )
        schema_json = widened or schema_json
        df = _align_to(df, schema_json)
    else:
        # strict = full NAME + TYPE equality (nullability and field
        # metadata excluded). Name-only comparison would let a batch
        # with a retyped column (amount string vs double) commit —
        # the corruption only surfaces later, at scan time, when
        # the manifest schema is applied to mismatched files.
        new_sig = [
            (f["name"], f["type"])
            for f in json.loads(df.schema.json())["fields"]
        ]
        old_sig = [
            (f["name"], f["type"])
            for f in json.loads(schema_json)["fields"]
        ]
        if new_sig != old_sig:
            raise ValueError(
                "append_publish: batch schema differs from the "
                "committed table schema (names AND types must match; "
                "pass schema_mode='merge' to add nullable columns): "
                "batch=%s table=%s" % (new_sig, old_sig)
            )
    # ---- data-write phase: NO lease held. The batch stages into a
    # CLAIMED directory (unique by exclusive-create), so concurrent
    # writers never collide on disk; only the manifest swap contends.
    pspec = prev.get("partition_spec")
    df = _materialize_partition_cols(df, pspec)
    if cluster_by:
        cl = (
            [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        )
        # AQE sizes the range partitions by default (right at scale);
        # cluster_files pins the file count (tests, known-size batches)
        df = (
            df.repartitionByRange(int(cluster_files), *cl)
            if cluster_files
            else df.repartitionByRange(*cl)
        ).sortWithinPartitions(*cl)
    else:
        df = _pt_rebalance(df, parts)
    fids, nxt = _field_ids_of(prev)
    for name in [f["name"] for f in json.loads(schema_json)["fields"]]:
        if name not in fids:  # widened this commit: new id
            fids[name] = nxt
            nxt += 1
    with _Stage(fs, table_dir, prev, "append_publish", lease_ttl_ms) as st:
        st.write(df, parts)
        # O(delta) commit: carried files stay inside their segment
        # sidecars BY REFERENCE — the commit writes ONE new sidecar
        # (this batch's files) and a constant-size top-manifest entry;
        # nothing existing is re-listed, re-read, or re-serialized
        st.index(df.sparkSession, schema_json, fids, stats_cols, bloom_cols)

        def entry_of(prev):
            entry = _grow_entry(
                fs, table_dir, prev, st, "append",
                int(prev["n_rows"]) + st.n_rows, schema_json,
            )
            entry["field_ids"] = fids
            entry["next_field_id"] = nxt
            # delete vectors carry UNCHANGED by reference — an append
            # adds files and touches none, so the prev snapshot's dv
            # file is this snapshot's dv file (zero IO)
            if prev.get("dv"):
                entry["dv"] = prev["dv"]
                entry["dv_rows"] = prev.get("dv_rows")
            if meta:
                entry["meta"] = dict(meta)
            return entry

        # an append adds files and removes none, so it commutes with
        # ANY concurrent commit that kept the schema and layout
        return st.commit(entry_of, rebase=lambda cur: None)


def _check_rebase(base: dict, cur: dict, who: str) -> None:
    """An optimistic commit may rebase onto a newer manifest only when
    the table's schema and partition layout are unchanged — anything
    else is a real conflict the caller must see."""
    if cur.get("schema") != base.get("schema"):
        raise ConcurrentWriteError(
            "%s: concurrent schema change — rebase refused" % who
        )
    if (cur.get("partition_by") or []) != (base.get("partition_by") or []):
        raise ConcurrentWriteError(
            "%s: concurrent partition-layout change — rebase refused" % who
        )
    if (cur.get("partition_spec") or None) != (
        base.get("partition_spec") or None
    ):
        raise ConcurrentWriteError(
            "%s: concurrent partition-transform change — rebase refused"
            % who
        )


def _files_unchanged(fs, table_dir: str, base: dict, cur: dict, files,
                     who: str) -> None:
    """Rebase check for a commit that rewrites or addresses ``files``
    of ``base``: each must still be live in ``cur`` with the delete
    vector it had in ``base``. A concurrent rewrite makes addresses
    stale; a concurrent delete changed live rows under the plan —
    either way, re-run."""
    files = set(files)
    if not files <= set(_entry_files(fs, table_dir, cur)):
        raise ConcurrentWriteError(
            "%s: a concurrent commit rewrote file(s) this commit "
            "targets — re-run against the new snapshot" % who
        )
    base_dv = _load_dv(fs, table_dir, base)
    cur_dv = _load_dv(fs, table_dir, cur)
    if any((base_dv.get(f) or None) != (cur_dv.get(f) or None) for f in files):
        raise ConcurrentWriteError(
            "%s: a concurrent delete changed a targeted file's delete "
            "vectors — re-run against the new snapshot" % who
        )


def _grow_entry(fs, table_dir: str, prev: dict, st: "_Stage",
                operation: str, n_rows: int,
                schema_json: Optional[str] = None) -> dict:
    """Entry for a commit over ``prev`` that carries every live file by
    reference (in its segment) and adds the stage's files: O(delta)
    commit IO whatever the table size. Layout carries; the schema does
    too unless the commit widened it."""
    segs, removed = _segments_of(fs, table_dir, prev)
    prev_nf, prev_sz = _entry_counters(fs, table_dir, prev)
    entry = {
        "segments": st.cite(segs),
        "removed": removed,
        "n_rows": n_rows,
        "n_files": prev_nf + len(st.files),
        "size_bytes": prev_sz + sum(st.sizes.values()),
        "schema": schema_json or prev["schema"],
        "partition_by": prev.get("partition_by") or [],
        "operation": operation,
    }
    if prev.get("partition_spec"):
        entry["partition_spec"] = prev["partition_spec"]
    return entry


def _replace_entry(fs, table_dir: str, prev: dict, st: "_Stage",
                   is_replaced, operation: str, data_change: bool,
                   meta: Optional[dict] = None) -> dict:
    """Entry for a copy-on-write rewrite over ``prev``: the live files
    ``is_replaced`` selects leave, the stage's files arrive, everything
    else (with its delete vectors) carries by reference. Replaced rows
    are footer rows less their delete vectors — metadata reads, no
    scan — so ``n_rows = prev - replaced + new`` stays exact."""
    res = _resolve_entry(fs, table_dir, prev)
    prev_dv = _load_dv(fs, table_dir, prev)
    replaced = [f for f in res["files"] if is_replaced(f)]
    replaced_rows = sum(
        fs.file_rows(_ref_path(fs, table_dir, f)) - _dv_val_n(prev_dv.get(f))
        for f in replaced
    )
    entry = _grow_entry(
        fs, table_dir, prev, st, operation,
        int(prev["n_rows"]) - replaced_rows + st.n_rows,
    )
    # prune segments whose files are now ALL removed (a compacted or
    # fully-replaced version): drops the segment pointer and its
    # entries from the removed list, keeping 'removed' bounded by the
    # files replaced since the last fold, not table lifetime
    entry["segments"], entry["removed"] = _prune_segments(
        fs, table_dir, entry["segments"],
        sorted(set(entry["removed"]) | set(replaced)),
    )
    entry["n_files"] -= len(replaced)
    entry["size_bytes"] -= sum(
        res["file_sizes"].get(f) or fs.file_size(_ref_path(fs, table_dir, f))
        for f in replaced
    )
    entry.update(
        _carry_dv(
            fs, table_dir, prev, st.seg, set(res["files"]) - set(replaced)
        )
    )
    if not data_change:
        entry["data_change"] = False
    if meta:
        entry["meta"] = dict(meta)
    return entry


def table_meta(
    table_dir: str, spark: Optional[SparkSession] = None
) -> dict:
    """The committed snapshot's writer-supplied ``meta`` dict ({} when
    none was recorded) — e.g. a streaming sink's exactly-once batch-id
    high-water mark."""
    fs = _fs_for(table_dir, spark)
    m = _read_manifest(table_dir, fs)
    return dict(m.get("meta") or {}) if m else {}


def describe_table(
    table_dir: str, spark: Optional[SparkSession] = None
) -> dict:
    """One-call property sheet for a published table — DESCRIBE DETAIL:
    everything an operator needs to reason about the table without
    touching data. Driver-side metadata only (one manifest read).

    Returns ``{"version", "committed_at_ms", "operation", "n_rows",
    "n_files", "size_bytes", "partition_by", "partition_spec"
    (hidden-partitioning transforms), "schema" (DDL string),
    "schema_evolved", "retired_names", "constraints", "tags",
    "index_cols", "retention", "meta", "dv_files" (files carrying
    delete vectors), "dv_rows" (masked row count), "n_snapshots",
    "external_refs" (shallow-clone refs), "format_version"}``."""
    from pyspark.sql import types as T

    fs = _fs_for(table_dir, spark)
    m = _read_manifest(table_dir, fs)
    if m is None:
        raise ValueError("describe_table: no committed table here")
    dvmap = _load_dv(fs, table_dir, m)
    files = _entry_files(fs, table_dir, m)
    st = T.StructType.fromJson(json.loads(m["schema"]))
    return {
        "version": int(m["version"]),
        "committed_at_ms": m.get("committed_at_ms"),
        "operation": m.get("operation"),
        "n_rows": int(m["n_rows"]),
        "n_files": int(m.get("n_files") or len(files)),
        "size_bytes": int(m.get("size_bytes") or 0),
        "partition_by": list(m.get("partition_by") or []),
        "partition_spec": [
            dict(t) for t in (m.get("partition_spec") or [])
        ],
        "schema": st.simpleString(),
        "schema_evolved": bool(m.get("schema_evolved")),
        "retired_names": list(m.get("retired_names") or []),
        "constraints": dict(m.get("constraints") or {}),
        "tags": dict(m.get("tags") or {}),
        "branches": {
            n: {
                "base": int(b.get("base", 0)),
                "seq": int(b.get("seq", 0)),
                "n_rows": int((b.get("head") or {}).get("n_rows", 0)),
            }
            for n, b in (m.get("branches") or {}).items()
        },
        "index_cols": dict(m.get("index_cols") or {}),
        "retention": dict(m.get("retention") or {}),
        "meta": dict(m.get("meta") or {}),
        "dv_files": sum(1 for v in dvmap.values() if _dv_val_n(v)),
        "dv_rows": _dv_nrows(dvmap),
        "n_snapshots": len(m.get("snapshots") or {}),
        "external_refs": sum(1 for f in files if _is_ext(f)),
        "format_version": m.get("format_version"),
    }


def pinned_snapshot(spark: SparkSession, table_dir: str):
    """``(manifest, DataFrame)`` resolved from ONE manifest read — the
    planning primitive for optimistic maintenance. A caller that plans
    a rewrite from ``read_published`` and then commits via
    ``replace_partitions_publish`` performs TWO independent manifest
    reads; a commit landing between them into a touched partition is
    included in the commit-time baseline, so the disjointness check
    can't see it and its rows silently vanish from the rewrite (the
    lost-update window). Pinning means the rewrite plan AND the commit
    baseline (threaded through ``_base=``) come from the SAME snapshot,
    so the rebase check covers the whole span."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("pinned_snapshot: no committed table here")
    res = _resolve_entry(fs, table_dir, manifest)
    df = _read_files(
        spark,
        fs,
        table_dir,
        res["files"],
        manifest["schema"],
        bool(manifest.get("partition_by")),
        dv=_load_dv(fs, table_dir, manifest),
        evo=_evo_of(manifest, res),
    )
    return manifest, df


def overwrite_partitions_publish(
    df: DataFrame,
    table_dir: str,
    partition_col: Optional[str] = None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    meta: Optional[dict] = None,
) -> Optional[int]:
    """DYNAMIC partition overwrite — Spark's
    ``partitionOverwriteMode=dynamic`` with snapshot isolation: replace
    exactly the hive partitions PRESENT in ``df``, discovered from the
    frame itself (one distinct on the partition column — O(partitions)
    driver rows), leaving every other partition untouched. The
    scheduled-recompute idiom ("INSERT OVERWRITE yesterday's
    partitions") without naming the partitions by hand; by
    construction ``df`` holds exactly the replaced partitions' rows,
    so :func:`replace_partitions_publish`'s contract is met. Returns
    the committed version, or None for an empty ``df``.

    Same optimistic concurrency as the underlying replace: commits
    rebase over disjoint-partition traffic, raise on a real overlap."""
    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, df.sparkSession)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError(
            "overwrite_partitions_publish: no committed table here "
            "(publish the first snapshot with atomic_publish)"
        )
    parts = manifest.get("partition_by") or []
    if not parts:
        raise ValueError(
            "overwrite_partitions_publish needs a hive-partitioned "
            "table (this one has no partition_by)"
        )
    if len(parts) > 1:
        # replacing by parts[0] on a multi-column layout would drop
        # SIBLING sub-partitions df doesn't carry (df holds (d=5,h=3);
        # replacing all of d=5 erases h!=3) — Spark's dynamic mode
        # replaces exact combos; until the underlying replace is
        # combo-granular, refuse rather than silently lose rows
        raise ValueError(
            "overwrite_partitions_publish supports single-column hive "
            "layouts (this table partitions by %s) — use "
            "replace_where_publish with an exact multi-column "
            "condition instead" % (parts,)
        )
    pc = partition_col or parts[0]
    # hidden partitioning: the physical partition column may be a
    # transform DERIVED from a source column df carries — materialize
    # (idempotent) before discovering the touched partitions
    values = [
        r[0]
        for r in _materialize_partition_cols(
            df, manifest.get("partition_spec")
        ).select(pc).distinct().collect()
    ]
    if any(v is None for v in values):
        # a NULL partition value stringifies to "None", never matching
        # the hive __HIVE_DEFAULT_PARTITION__ path — the old null
        # partition would carry by reference NEXT TO df's new null
        # rows (duplicates). Refuse until null-partition replace is
        # path-exact.
        raise ValueError(
            "overwrite_partitions_publish: df carries NULL values in "
            "partition column %r — null partitions cannot be replaced "
            "dynamically; use replace_where_publish(condition=\"%s is "
            "null\")" % (pc, pc)
        )
    if not values:
        return None
    return replace_partitions_publish(
        df, table_dir, values=values, partition_col=pc,
        lease_ttl_ms=lease_ttl_ms, stats_cols=stats_cols,
        bloom_cols=bloom_cols, _base=manifest,
        operation="overwrite_partitions", meta=meta,
    )


def replace_partitions_publish(
    df: DataFrame,
    table_dir: str,
    values,
    partition_col: Optional[str] = None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    _lease: Optional[_Lease] = None,
    _base: Optional[dict] = None,
    data_change: bool = True,
    operation: str = "replace_partitions",
    meta: Optional[dict] = None,
) -> int:
    """Partial-rewrite snapshot (dynamic partition overwrite with
    snapshot isolation): the next version rewrites ONLY the hive
    partitions whose ``partition_col`` value is in ``values`` — their
    replacement files come from ``df`` (which must hold exactly those
    partitions' new rows), every other partition's files are carried by
    reference. The incremental-refresh primitive: a continuous
    aggregate that touches 2 of 30,000 day-partitions commits 2
    partitions' bytes, not the table.

    Bookkeeping stays exact without any table scan: replaced rows are
    summed from the replaced files' parquet FOOTERS (driver-side
    metadata reads, O(replaced files)), new rows come from the write's
    ``observe``, so ``n_rows = prev - replaced + new``. Readers of any
    version still resolve files only through the manifest; time travel
    keeps the pre-refresh snapshot intact.

    CONCURRENCY (optimistic, disjoint-partition): the rewrite job runs
    with NO lease held; at commit time, if the table moved, the commit
    REBASES onto the newer snapshot iff the touched partitions' live
    file set is unchanged (the concurrent commits were on DISJOINT
    partitions — their file deltas don't intersect ours, so merging is
    exact). A concurrent commit that touched one of OUR partitions
    raises :class:`ConcurrentWriteError` — nothing is silently
    dropped. This is what lets streaming ingest commit concurrently
    with scheduled per-partition maintenance."""
    fs = _fs_for(table_dir, df.sparkSession)
    fs.mkdirs(table_dir)
    # _base: the SNAPSHOT THE CALLER'S REWRITE PLAN READ. Maintenance
    # callers (compact_partitions, delete_publish, hypertable_sink)
    # must thread it, or a commit landing between their plan read and
    # this function's own manifest read into a TOUCHED partition would
    # be part of the commit-time baseline — invisible to the
    # disjointness check below, its rows silently dropped by the
    # rewrite (the lost-update window).
    prev = _base if _base is not None else _read_manifest(table_dir, fs)
    if prev is None:
        raise ValueError(
            "replace_partitions_publish needs an existing table "
            "(publish the first snapshot with atomic_publish/"
            "append_publish)"
        )
    parts = prev.get("partition_by") or []
    if not parts:
        raise ValueError(
            "replace_partitions_publish needs a hive-partitioned "
            "table (this one has no partition_by)"
        )
    pc = partition_col or parts[0]
    if pc not in parts:
        raise ValueError(
            "partition_col %r is not in the table layout %s"
            % (pc, parts)
        )
    vals = {str(v) for v in values}

    def _val_of(path: str) -> Optional[str]:
        for seg in path.split("/"):
            if seg.startswith(pc + "="):
                return seg[len(pc) + 1:]
        return None

    # MIXED-LAYOUT guard (partition evolution): a live file whose path
    # lacks the pc= segment predates the current layout — its rows for
    # any partition value are INVISIBLE to path matching, so replacing
    # "the files of partition X" would duplicate (compaction) or keep
    # (delete) those rows. Refuse until compact() rewrites the table
    # under the current layout.
    n_mixed = sum(
        1
        for f in _resolve_entry(fs, table_dir, prev)["files"]
        if _val_of(f) is None
    )
    if n_mixed:
        raise ValueError(
            "replace_partitions_publish: %d live file(s) predate the "
            "current partition layout (set_partition_layout evolution "
            "pending) — run compact() to rewrite the table under the "
            "new layout before partition-level operations" % n_mixed
        )

    # ---- data-write phase: no lease (claimed dir, collision-free)
    who = "replace_partitions_publish"
    with _Stage(fs, table_dir, prev, who, lease_ttl_ms, lease=_lease) as st:
        st.write(
            _pt_rebalance(
                _materialize_partition_cols(df, prev.get("partition_spec")),
                parts,
            ),
            parts,
        )
        st.index(
            df.sparkSession, prev["schema"], _field_ids_of(prev)[0],
            stats_cols, bloom_cols,
        )
        base_touched = {
            f
            for f in _resolve_entry(fs, table_dir, prev)["files"]
            if _val_of(f) in vals
        }

        def rebase(cur):
            # disjoint-partition rebase: the concurrent commits must
            # have left OUR partitions' files alone
            cur_touched = {
                f for f in _entry_files(fs, table_dir, cur) if _val_of(f) in vals
            }
            if cur_touched != base_touched:
                raise ConcurrentWriteError(
                    "replace_partitions_publish: a concurrent commit "
                    "changed partition(s) %s between this rewrite's "
                    "snapshot and its commit — merging would drop those "
                    "rows; re-run against the new snapshot" % sorted(vals)
                )
            # same guard for DELETE VECTORS: a concurrent dv-delete on
            # a touched file changed its live rows without changing the
            # file set — committing this rewrite (planned from the
            # pre-delete mask) would resurrect the deleted rows
            _files_unchanged(fs, table_dir, prev, cur, base_touched, who)

        return st.commit(
            lambda prev: _replace_entry(
                fs, table_dir, prev, st, lambda f: _val_of(f) in vals,
                operation, data_change, meta,
            ),
            rebase,
        )


def _entry_counters(fs, table_dir: str, entry: dict):
    """``(n_files, size_bytes)`` for a snapshot entry — from the
    recorded counters when present, resolved (with a stat fallback for
    pre-``size_bytes`` manifests) otherwise."""
    nf = entry.get("n_files")
    sz = entry.get("size_bytes")
    if nf is not None and sz is not None:
        return int(nf), int(sz)
    res = _resolve_entry(fs, table_dir, entry)
    if nf is None:
        nf = len(res["files"])
    if sz is None:
        sz = sum(
            res["file_sizes"].get(f)
            or fs.file_size(fs.join(table_dir, f))
            for f in res["files"]
        )
    return int(nf), int(sz)


def _prune_segments(fs, table_dir: str, segs, removed):
    """Drop segments with no live files left; shrink ``removed`` to
    entries still shadowing a listed segment's file."""
    removed_set = set(removed)
    kept_segs: List[str] = []
    live_removed: set = set()
    for seg in segs:
        s = _load_seg(fs, table_dir, seg)
        fl = s.get("files", [])
        dead = [f for f in fl if f in removed_set]
        if len(dead) == len(fl):
            continue  # fully shadowed: segment leaves the snapshot
        kept_segs.append(seg)
        live_removed.update(dead)
    return kept_segs, sorted(live_removed)


def _sizes_for(fs, table_dir: str, prev, files) -> dict:
    """Per-file byte sizes for carried files: from the snapshot's
    recorded sizes (manifest or segment sidecars) with a stat fallback
    for pre-size manifests."""
    known = _resolve_entry(fs, table_dir, prev)["file_sizes"]
    return {
        f: known.get(f, None)
        if known.get(f) is not None
        else fs.file_size(_ref_path(fs, table_dir, f))
        for f in files
    }


def _select_snapshot(
    manifest: dict,
    version: Optional[int] = None,
    as_of_ms: Optional[int] = None,
):
    """``(version, entry)`` for a manifest's committed snapshot (the
    default), an explicit retained ``version``, or the newest retained
    snapshot committed at-or-before ``as_of_ms`` (TIMESTAMP AS OF;
    accepts a ``datetime``). Raises KeyError when the requested state
    is not retained."""
    if as_of_ms is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ms, not both")
        if hasattr(as_of_ms, "timestamp"):  # datetime convenience
            as_of_ms = int(as_of_ms.timestamp() * 1000)
        eligible = [
            int(v)
            for v, e in manifest.get("snapshots", {}).items()
            if e.get("committed_at_ms") is not None
            and int(e["committed_at_ms"]) <= int(as_of_ms)
        ]
        if not eligible:
            raise KeyError(
                "no retained snapshot committed at or before %d ms "
                "(oldest retained: %s)"
                % (
                    int(as_of_ms),
                    min(
                        (
                            int(e["committed_at_ms"])
                            for e in manifest.get(
                                "snapshots", {}
                            ).values()
                            if e.get("committed_at_ms") is not None
                        ),
                        default=None,
                    ),
                )
            )
        version = max(eligible)
    if version is None or int(version) == int(manifest["version"]):
        return int(manifest["version"]), manifest
    snaps = manifest.get("snapshots", {})
    if str(version) not in snaps:
        raise KeyError(
            "version %s is not a retained snapshot (have: %s)"
            % (version, sorted(int(v) for v in snaps))
        )
    return int(version), snaps[str(version)]


def read_published(
    spark: SparkSession,
    table_dir: str,
    version: Optional[int] = None,
    skip: Optional[dict] = None,
    skip_eq: Optional[dict] = None,
    as_of_ms: Optional[int] = None,
    ref: Optional[str] = None,
) -> DataFrame:
    """Read exactly the committed snapshot's manifest-listed files —
    the latest by default, or any retained ``version`` (time travel).
    Raises KeyError for a version never committed or already vacuumed.

    ``as_of_ms`` is TIMESTAMP time travel (``TIMESTAMP AS OF``): read
    the newest retained snapshot whose commit wall-clock is <= the
    given epoch-milliseconds (also accepts a ``datetime``). Raises
    KeyError when every retained snapshot is newer — the state at that
    time is unknowable (never committed, or vacuumed away). Mutually
    exclusive with ``version``. Commit timestamps are the WRITER's
    clock (one writer commits at a time under the manifest swap, so
    retained history is monotone in practice, but skewed clocks make
    "as of" approximate exactly as in Delta/Iceberg).

    ``skip`` = ``{col: (lo, hi)}`` applies FILE-LEVEL data skipping
    against the manifest's recorded footer statistics (see
    :func:`collect_file_stats`): only files whose [min, max] for every
    listed column intersects the bound are opened. Conservative by
    construction — a file without recorded stats is always read — so
    the caller still applies the row filter; skipping only shrinks the
    file list (on a z-ordered snapshot, drastically).

    ``skip_eq`` = ``{col: value}`` prunes for POINT predicates
    (``col = value``): a file is skipped when its recorded bloom
    filter (``bloom_cols=`` at publish, or
    :func:`collect_file_blooms`) proves the value absent, or its
    min/max range excludes it. min/max alone can't prune equality on
    unclustered data — the bloom is what turns ``user_id = X`` on a
    100 TB table into a few file opens. Same conservative rule: no
    bloom and no stats → the file is read."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("no committed table at %s" % table_dir)
    entry = None
    if ref is not None:
        if version is not None or as_of_ms is not None:
            raise ValueError(
                "read_published: ref excludes version/as_of_ms"
            )
        tags = manifest.get("tags") or {}
        branches = manifest.get("branches") or {}
        if ref in tags:
            version = int(tags[ref])
        elif ref in branches:
            # branch heads live OUTSIDE the snapshots map (their
            # versions never collide with main's) — resolve directly
            entry = branches[ref]["head"]
        else:
            raise KeyError(
                "read_published: no tag or branch %r (have: %s)"
                % (ref, sorted(tags) + sorted(branches))
            )
    if entry is None:
        _, entry = _select_snapshot(manifest, version, as_of_ms)
    res = _resolve_entry(fs, table_dir, entry)
    entry = {**entry, "files": res["files"]}
    if skip:
        stats = res["file_stats"]

        def _keep(f: str) -> bool:
            st = stats.get(f)
            if not st:
                return True  # no stats: never skip blindly
            for col, bound in skip.items():
                mm = st.get(col)
                if mm is None:
                    continue
                mn, mx = mm
                lo, hi = bound
                try:
                    if (hi is not None and mn > hi) or (
                        lo is not None and mx < lo
                    ):
                        return False
                except TypeError:
                    # incomparable types (e.g. a date bound against
                    # ISO-string stats): stay conservative, read it
                    continue
            return True

        entry["files"] = [f for f in entry["files"] if _keep(f)]
    if skip_eq:
        entry["files"] = _prune_eq(res, entry["files"], skip_eq)
    if (skip or skip_eq) and entry.get("partition_by"):
        # HIDDEN-PARTITIONING pruning: a bound/point predicate on a
        # transform SOURCE column ("ts between …" on a days(ts) table,
        # "id = X" on a bucket(N, id) table) prunes whole partition
        # DIRECTORIES from the manifest list — the user never names the
        # physical ts_day/id_bucket column. Identity partition columns
        # prune by path value the same way (exact, even without stats).
        entry["files"] = _pt_prune_files(
            entry["files"], entry.get("partition_spec"),
            entry.get("partition_by"), skip, skip_eq, spark,
        )
    return _read_files(
        spark,
        fs,
        table_dir,
        entry["files"],
        entry["schema"],
        bool(entry.get("partition_by")),
        dv=_load_dv(fs, table_dir, entry),
        evo=_evo_of(entry, res),
    )


def _prune_eq(res: dict, files, skip_eq: dict):
    """Files that may contain rows matching every ``col = value``
    predicate, judged by per-file blooms and min/max stats
    (conservative: an unindexed file always survives)."""
    stats, blooms = res["file_stats"], res["file_blooms"]

    def _keep(f: str) -> bool:
        for col, value in skip_eq.items():
            bl = (blooms.get(f) or {}).get(col)
            if bl and not _bloom_might_contain(bl, value):
                return False
            mm = (stats.get(f) or {}).get(col)
            if mm is not None:
                mn, mx = mm
                try:
                    if value < mn or value > mx:
                        return False
                except TypeError:
                    pass  # incomparable types: stay conservative
        return True

    return [f for f in files if _keep(f)]


def _read_files(
    spark: SparkSession,
    fs,
    table_dir: str,
    files,
    schema_json: str,
    partitioned: bool,
    dv: Optional[dict] = None,
    evo: Optional[dict] = None,
) -> DataFrame:
    """Read an explicit manifest-relative file list with the PUBLISHED
    schema. The manifest schema governs the read (after a schema-merge
    append, files written before the widening read the added columns as
    null), and for hive-partitioned snapshots — whose files can span
    SEVERAL version dirs — each dir anchors its own basePath so the
    col=val partition attributes keep the writer's types (no inference,
    pruning predicates still hit the file index).

    ``dv`` = the snapshot's delete-vector manifest (see
    :func:`_load_dv`): files carrying a vector are read with the
    parquet ``_metadata`` row index and their deleted positions
    anti-joined out (merge-on-read); files without vectors — almost
    all of a 100 TB table — take the plain scan path with zero
    overhead. The anti-join side is :func:`_dv_positions_df` — a
    distributed sidecar read for v2 refs — equi-keyed on file basename
    + row position (AQE broadcasts it when small; a billion-position
    vector stays a shuffle join instead of a driver OOM)."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    if not files:
        return _local_df(spark, [], schema)
    dv = {f: ps for f, ps in (dv or {}).items() if f in set(files) and ps}
    clean = [f for f in files if f not in dv]

    def _ordered(df: DataFrame) -> DataFrame:
        # Spark appends path-derived partition columns LAST even under
        # an explicit schema; a rewrite publishing that frame would
        # silently reorder the table schema (caught by the partition-
        # evolution tests). Published reads always return MANIFEST
        # schema order.
        names = [f.name for f in schema.fields]
        return df if df.columns == names else df.select(*names)

    out = (
        _scan_groups(
            spark, fs, table_dir, clean, schema, partitioned, evo,
            with_pos=False,
        )
        if clean
        else None
    )
    if dv:
        # metadata columns resolve only on the scan relation itself
        # (not across a union), so the position-projected read comes
        # from the per-prefix helper
        masked = _read_files_with_pos(
            spark, fs, table_dir, sorted(dv), schema_json, partitioned,
            evo=evo,
        ).withColumnsRenamed({"_fp": "_dv_fp", "_ri": "_dv_ri"})
        # CHUNK-NATIVE mask (see _dv_mask): the join side is bitmap
        # chunk rows read as stored — a billion-position vector joins
        # as ~1M chunk rows, broadcastable, instead of a billion-row
        # explode
        chunks = _dv_chunks_df(spark, fs, table_dir, dv)
        kept = _dv_mask(masked, "_dv_fp", "_dv_ri", chunks).drop(
            "_dv_fp", "_dv_ri"
        )
        out = kept if out is None else out.unionByName(kept)
    return _ordered(out)


def _read_files_with_pos(
    spark: SparkSession,
    fs,
    table_dir: str,
    files,
    schema_json: str,
    partitioned: bool,
    evo: Optional[dict] = None,
) -> DataFrame:
    """Plain (unmasked) scan of a manifest-relative file list with the
    parquet ``_metadata`` projected to ``_fp`` (file URI) and ``_ri``
    (row position in file) — the row-address read behind delete-vector
    writes. Metadata columns must be selected per scan relation (they
    don't survive a union), hence the dedicated helper."""
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    return _scan_groups(
        spark, fs, table_dir, list(files), schema, partitioned, evo,
        with_pos=True,
    )


def _evo_of(entry: dict, res: dict) -> Optional[dict]:
    """The ``evo`` read descriptor for a snapshot entry (None unless a
    rename/drop ever committed — the common case pays nothing)."""
    if not entry.get("schema_evolved"):
        return None
    ids, _ = _field_ids_of(entry)
    return {"ids": ids, "files": res.get("file_fields") or {}}


def _evo_select(schema, fm: Optional[dict], ids: dict):
    """``(read_schema, select_cols)`` for one file-map subgroup of an
    EVOLVED table: each logical field reads from the physical name its
    files were written with (by field id) and aliases back; a field
    whose id is absent from the map was added AFTER those files were
    written — it reads as NULL even if a same-named physical column
    exists (a retired-then-readded name must never resurrect old
    bytes). ``fm=None`` (pre-stamping segment) is identity — rename/
    drop refuse to commit while any live segment lacks a map, so
    identity is exact there."""
    from pyspark.sql import functions as F, types as T

    if fm is None:
        return schema, None
    read_fields, sel = [], []
    for f in schema.fields:
        sid = str(ids.get(f.name, ""))
        phys = fm.get(sid)
        if phys is None:
            sel.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        read_fields.append(T.StructField(phys, f.dataType, True))
        sel.append(
            F.col(phys).alias(f.name) if phys != f.name else F.col(f.name)
        )
    return T.StructType(read_fields), sel


def _scan_groups(
    spark: SparkSession,
    fs,
    table_dir: str,
    files,
    schema,
    partitioned: bool,
    evo: Optional[dict],
    with_pos: bool,
) -> DataFrame:
    """The shared grouped parquet scan behind ``_read_files`` /
    ``_read_files_with_pos``: files group by their basePath anchor
    (hive snapshots span version dirs; external clone refs anchor at
    the source) and, on schema-EVOLVED tables, by their field map —
    each subgroup reads under its own physical schema and aliases back
    to the manifest's logical names (``evo`` = ``{"ids": {logical:
    id}, "files": {file: {id: phys}}}``)."""
    from pyspark.sql import functions as F

    ids = (evo or {}).get("ids") or {}
    fmaps = (evo or {}).get("files") or {}
    groups: dict = {}
    for f in files:
        base = _ref_group(fs, table_dir, f) if partitioned else ""
        fm = fmaps.get(f) if evo else None
        mk = tuple(sorted(fm.items())) if fm else None
        groups.setdefault((base, mk), []).append(f)
    out = None
    for base, mk in sorted(groups, key=lambda k: (k[0], k[1] or ())):
        fl = groups[(base, mk)]
        fm = dict(mk) if mk else None
        rschema, sel = (
            _evo_select(schema, fm, ids) if evo else (schema, None)
        )
        reader = spark.read.schema(rschema)
        if partitioned:
            reader = reader.option("basePath", base)
        df = reader.parquet(*[_ref_path(fs, table_dir, f) for f in fl])
        # normalize to the group's schema columns: a HIDDEN partition
        # column (days(ts)-style transform) appears in the paths but
        # not in the logical schema — Spark appends it, and groups from
        # different layout eras would append DIFFERENT extras, breaking
        # the unionByName. Select the schema names per group (path-
        # resolved identity columns survive; derived ones drop here).
        names = [f.name for f in rschema.fields]
        if with_pos:
            pos = [
                F.col("_metadata.file_path").alias("_fp"),
                F.col("_metadata.row_index").alias("_ri"),
            ]
            df = (
                df.select(*(sel + pos))
                if sel is not None
                else df.select(*names, *pos)
            )
        elif sel is not None:
            df = df.select(*sel)
        elif df.columns != names:
            df = df.select(*names)
        out = df if out is None else out.unionByName(df)
    return out


def set_partition_layout(
    table_dir: str,
    partition_by,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """PARTITION EVOLUTION, metadata-only (Iceberg's spec evolution
    reduced to the hive case): commit a new snapshot with a NEW
    ``partition_by`` while every existing file carries by reference —
    zero data movement at any table size. Files written BEFORE the
    change keep their old path layout; files written AFTER land under
    the new one. Plain reads are unaffected: ``_read_files`` anchors
    each version dir on its own basePath and applies the manifest
    schema, so every column resolves from the file's data pages or its
    own path, whichever side of the evolution it was written on.

    The sharp edge is PARTITION-LEVEL maintenance: on a mixed-layout
    table, "the files of partition d=X" no longer identifies all of
    d=X's ROWS (old files hold them as data, invisible to path
    matching), so ``replace_partitions_publish`` — and everything on
    it: ``compact_partitions``, partitioned ``delete_publish`` — REFUSE
    mixed tables (a silent fold would duplicate or half-delete rows).
    ``compact()`` rewrites the whole table under the new layout and
    re-enables them; until then appends, file-granular deletes,
    delete vectors, merges, time travel and incremental reads all work.

    Every new partition column must already be a table column (it IS a
    data column in the pre-evolution files). The new layout must be
    non-empty — evolving to unpartitioned is ``compact()`` territory
    (old dirs would still carry path-only columns that an
    unpartitioned read can't resolve)."""
    fs = _fs_for(table_dir, spark)
    raw = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    if not raw:
        raise ValueError(
            "set_partition_layout: the new layout must be non-empty "
            "(rewrite via compact() to go unpartitioned)"
        )
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms) as lease:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("set_partition_layout: no committed table")
        # transform syntax allowed ("days(ts)", "bucket(16, id)", …):
        # the parse validates every SOURCE is a table column and every
        # derived name is collision-free (identity entries keep the
        # old must-be-a-data-column contract)
        parts, spec = _parse_partition_by(raw, manifest["schema"])
        if parts == (manifest.get("partition_by") or []) and (
            spec or None
        ) == (manifest.get("partition_spec") or None):
            return int(manifest["version"])  # no-op: already this layout
        segs, removed = _segments_of(fs, table_dir, manifest)
        prev_nf, prev_sz = _entry_counters(fs, table_dir, manifest)
        entry = {
            "segments": segs,
            "removed": removed,
            "n_rows": int(manifest["n_rows"]),
            "n_files": prev_nf,
            "size_bytes": prev_sz,
            "schema": manifest["schema"],
            "partition_by": parts,
            "operation": "set_partition_layout",
        }
        if spec:
            entry["partition_spec"] = spec
        if manifest.get("dv"):
            entry["dv"] = manifest["dv"]
            entry["dv_rows"] = manifest.get("dv_rows")
        version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, version, entry, lease=lease)
        return version


def _evolve_schema(
    table_dir: str,
    spark,
    lease_ttl_ms: int,
    mutate,
    operation: str,
) -> int:
    """Shared commit shape for metadata-only schema evolution
    (rename/drop): validate that every LIVE file carries a field map
    (pre-stamping segments read by NAME — evolving over them would
    silently null or resurrect columns; ``compact()`` first), apply
    ``mutate(schema_struct, fids, retired)`` → (new_struct, new_fids,
    newly_retired), and commit a snapshot that re-cites every segment
    by reference with the new logical schema. Zero data IO."""
    from pyspark.sql import types as T

    fs = _fs_for(table_dir, spark)
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms) as lease:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("%s: no committed table here" % operation)
        res = _resolve_entry(fs, table_dir, manifest, rekey_stats=False)
        maps = res.get("file_fields") or {}
        unmapped = [f for f in res["files"] if f not in maps]
        if unmapped:
            raise ValueError(
                "%s: %d live file(s) predate field-map stamping and "
                "resolve columns BY NAME — evolving the schema over "
                "them would corrupt reads; compact() the table first "
                "(a rewrite stamps every file)"
                % (operation, len(unmapped))
            )
        st = T.StructType.fromJson(json.loads(manifest["schema"]))
        fids, nxt = _field_ids_of(manifest)
        retired = set(manifest.get("retired_names") or [])
        out = mutate(st, fids, retired)
        # a mutate may evolve layout metadata too: 4th element is
        # either the new partition_by (legacy tuple shape) or a dict of
        # entry overrides ({"partition_by", "partition_spec",
        # "index_cols"} — renaming a partition column / transform
        # source / indexed column rides the same commit)
        new_parts = None
        overrides: dict = {}
        if len(out) == 4:
            new_st, fids, newly_retired, tail = out
            if isinstance(tail, dict):
                overrides = tail
                new_parts = overrides.pop("partition_by", None)
            else:
                new_parts = tail
        else:
            new_st, fids, newly_retired = out
        import re as _re

        for cname, cexpr in (manifest.get("constraints") or {}).items():
            hit = [
                r
                for r in newly_retired
                if _re.search(r"\b%s\b" % _re.escape(r), cexpr)
            ]
            if hit:
                raise ValueError(
                    "%s: column(s) %s are referenced by CHECK "
                    "constraint %r (%s) — drop the constraint first"
                    % (operation, hit, cname, cexpr)
                )
        segs, removed = _segments_of(fs, table_dir, manifest)
        prev_nf, prev_sz = _entry_counters(fs, table_dir, manifest)
        entry = {
            "segments": segs,
            "removed": removed,
            "n_rows": int(manifest["n_rows"]),
            "n_files": prev_nf,
            "size_bytes": prev_sz,
            "schema": new_st.json(),
            "partition_by": (
                new_parts
                if new_parts is not None
                else manifest.get("partition_by") or []
            ),
            "operation": operation,
            "field_ids": fids,
            "next_field_id": nxt,
            "schema_evolved": True,
            "retired_names": sorted(retired | set(newly_retired)),
            "data_change": False,
        }
        if "partition_spec" in overrides:
            if overrides["partition_spec"]:
                entry["partition_spec"] = overrides["partition_spec"]
        elif manifest.get("partition_spec"):
            entry["partition_spec"] = manifest["partition_spec"]
        if "index_cols" in overrides:
            entry["index_cols"] = overrides["index_cols"]
        if manifest.get("dv"):
            entry["dv"] = manifest["dv"]
            entry["dv_rows"] = manifest.get("dv_rows")
        version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, version, entry, lease=lease)
        return version


def rename_column(
    table_dir: str,
    old: str,
    new: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """METADATA-ONLY column rename (Iceberg-style, by field ID): the
    commit rewrites the manifest's logical schema and nothing else —
    no data file is touched at any table size. Readers resolve each
    segment's files under the PHYSICAL name they were written with
    (the field map stamped in its sidecar) and alias to the new
    logical name; per-file stats/bloom indexes rekey the same way, so
    ``skip={new_name: ...}`` prunes files written under the old name.
    Appends after the rename must use the new name (strict schema
    check); a writer racing the rename gets a ConcurrentWriteError
    (schema changes never rebase).

    Renaming a hive PARTITION column evolves the partition spec
    per-segment (Iceberg spec-evolution reduced to the hive case):
    files written before the rename keep their old ``old=val`` path
    layout and resolve the value under that physical key (the same
    field-id machinery that resolves renamed DATA columns), new writes
    land under ``new=val``, and plain reads, dv deletes, merges and
    incremental reads span both eras. Partition-LEVEL maintenance
    (``replace_partitions_publish``/``compact_partitions``/partitioned
    deletes) refuses the mixed layout until ``compact()`` rewrites the
    table under the new spec — the same contract as
    ``set_partition_layout``.

    Guards: the old name is retired FOREVER (re-adding it would
    resurrect old bytes on name-resolved segments); tables with
    pre-stamping segments must ``compact()`` first."""
    def mutate(st, fids, retired):
        from pyspark.sql import types as T

        names = [f.name for f in st.fields]
        if old not in names:
            raise KeyError("rename_column: no column %r" % old)
        if new in names:
            raise ValueError(
                "rename_column: column %r already exists" % new
            )
        if new in retired:
            raise ValueError(
                "rename_column: %r was dropped or renamed away earlier "
                "— reusing the name would resurrect old bytes; pick "
                "another" % new
            )
        fs_ = _fs_for(table_dir, spark)
        man = _read_manifest(table_dir, fs_)
        new_st = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in st.fields
            ]
        )
        fids = dict(fids)
        fids[new] = fids.pop(old)
        parts = man.get("partition_by") or []
        overrides: dict = {}
        if old in parts:
            # PARTITION-SPEC EVOLUTION (per-segment specs): the logical
            # spec renames with the column; each file keeps resolving
            # its partition value under the PHYSICAL path key its
            # segment was written with (the same field-id map that
            # resolves data columns), and new writes land under the new
            # key. Partition-LEVEL maintenance (replace/compact/delete
            # by partition) stays refused on the mixed table by the
            # existing path guard until compact() unifies the layout.
            parts = [new if p == old else p for p in parts]
        overrides["partition_by"] = parts
        pspec = man.get("partition_spec")
        if pspec:
            # hidden-partitioning spec follows the rename: transform
            # SOURCES rekey to the new logical name while the DERIVED
            # physical name keeps its paths (no layout mixing); an
            # identity entry renames both sides (per-segment path
            # evolution, same contract as the parts rename above)
            pspec = [
                {
                    **t,
                    "source": new if t["source"] == old else t["source"],
                    "name": (
                        new
                        if t["transform"] == "identity" and t["name"] == old
                        else t["name"]
                    ),
                }
                for t in pspec
            ]
            overrides["partition_spec"] = pspec
        idx = man.get("index_cols")
        if idx and (
            old in (idx.get("stats") or []) or old in (idx.get("bloom") or [])
        ):
            # the PERSISTED INDEX SPEC follows the rename in the same
            # commit — without this the renamed column silently stops
            # being indexed at the next write (stats/bloom defaulting
            # resolves by name) and the table's point-lookup SLA
            # quietly degrades
            overrides["index_cols"] = {
                "stats": [
                    new if c == old else c for c in (idx.get("stats") or [])
                ],
                "bloom": [
                    new if c == old else c for c in (idx.get("bloom") or [])
                ],
            }
        return new_st, fids, {old}, overrides

    return _evolve_schema(
        table_dir, spark, lease_ttl_ms, mutate, "rename_column"
    )


def drop_column(
    table_dir: str,
    col: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """METADATA-ONLY column drop: the commit removes the column from
    the logical schema; the bytes stay in the files (pruned at scan —
    parquet never reads an unrequested column) until the next rewrite
    physically sheds them. The name is retired forever — a later
    schema-merge append re-introducing it is refused (it would
    resurrect the old bytes on name-resolved segments); add the data
    back under a new name. Dropping a hive partition column is refused
    (use set_partition_layout). Zero data IO at any table size."""
    def mutate(st, fids, retired):
        from pyspark.sql import types as T

        names = [f.name for f in st.fields]
        if col not in names:
            raise KeyError("drop_column: no column %r" % col)
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        fs_ = _fs_for(table_dir, spark)
        man = _read_manifest(table_dir, fs_)
        if col in (man.get("partition_by") or []):
            raise ValueError(
                "drop_column: %r is a hive partition column — "
                "set_partition_layout first" % col
            )
        srcs = {
            t["source"]
            for t in man.get("partition_spec") or []
            if t["transform"] != "identity"
        }
        if col in srcs:
            raise ValueError(
                "drop_column: %r is the source of a partition "
                "transform — set_partition_layout first" % col
            )
        new_st = T.StructType([f for f in st.fields if f.name != col])
        fids = {k: v for k, v in fids.items() if k != col}
        return new_st, fids, {col}

    return _evolve_schema(
        table_dir, spark, lease_ttl_ms, mutate, "drop_column"
    )


def widen_column(
    table_dir: str,
    col: str,
    new_type,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """METADATA-ONLY type widening (Delta's type-widening feature):
    commit a new snapshot whose schema gives ``col`` a WIDER primitive
    type from the supported set (byte→short→int→long, float→double,
    byte/short/int→double — :func:`_can_widen`). Zero data IO at any
    table size: files written narrow read natively upcast under the
    widened schema (Spark's parquet reader performs the promotion),
    and writes after the commit must land wide (the same strict schema
    check as any publish). Field ids are untouched — widening never
    changes a column's identity — so rename/drop histories,
    incremental reads and the change feed compose unchanged; per-file
    stats/bloom indexes stay valid (min/max compare numerically,
    bloom canonical forms are width-independent —
    :func:`_bloom_canon_py`). Earlier snapshots keep their narrow
    schema: time travel reads each version under its own types.

    ``new_type`` is a Spark DataType or a type string ("long",
    "double"). Widening a hive partition column is allowed — its
    path-string values cast to the declared type at scan."""
    from pyspark.sql import types as T

    if spark is None:
        spark = SparkSession.getActiveSession()
    dt = (
        new_type
        if isinstance(new_type, T.DataType)
        else T._parse_datatype_string(str(new_type))
    )
    jt = dt.jsonValue()

    def _mutate(fresh: dict) -> dict:
        fields = json.loads(fresh["schema"])["fields"]
        by_name = {f["name"]: f for f in fields}
        if col not in by_name:
            raise KeyError("widen_column: no column %r" % col)
        old_t = by_name[col]["type"]
        if old_t == jt:
            raise ValueError(
                "widen_column: %r is already %s" % (col, jt)
            )
        if not _can_widen(old_t, jt):
            raise ValueError(
                "widen_column: %s → %s is not a supported widening "
                "(byte→short→int→long, float→double, int→double); "
                "other type changes require a rewrite under a new "
                "column name" % (old_t, jt)
            )
        for t in fresh.get("partition_spec") or []:
            # xxhash64 is TYPE-SENSITIVE (hash(int 7) != hash(long 7)):
            # widening a bucket source would send the same logical value
            # to a different bucket than the existing paths, silently
            # breaking point-lookup pruning and partition placement
            if t["transform"] == "bucket" and t["source"] == col:
                raise ValueError(
                    "widen_column: %r is the source of a bucket "
                    "partition transform — the bucket hash is type-"
                    "sensitive, so widening would misplace future "
                    "rows; set_partition_layout to a new spec first"
                    % col
                )
        new_fields = [
            {**f, "type": jt} if f["name"] == col else f
            for f in fields
        ]
        out = {
            "schema": json.dumps(
                {"type": "struct", "fields": new_fields}
            )
        }
        pspec = fresh.get("partition_spec")
        if pspec and any(t["source"] == col for t in pspec):
            # keep the spec's pinned source_type truthful (truncate's
            # string-vs-numeric branch and identity range pruning key
            # off it); bucket sources were refused above
            out["partition_spec"] = [
                {**t, "source_type": jt} if t["source"] == col else t
                for t in pspec
            ]
        return out

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "widen_column", _mutate
    )


def _metadata_commit(
    table_dir: str,
    spark,
    lease_ttl_ms: int,
    operation: str,
    mutate,
) -> int:
    """Commit a PURE-METADATA snapshot: every segment carried by
    reference, counters unchanged. ``mutate(manifest) -> extra`` runs
    INSIDE the commit lease against the freshly re-read manifest —
    single-key mutations of shared dicts (tags, constraints) apply to
    the state another writer may have just committed, instead of
    last-writer-winning a dict computed from a stale read. The lease is
    WAITED for (these commits are milliseconds): concurrent metadata
    ops queue and compose rather than raising."""
    fs = _fs_for(table_dir, spark)
    lease = _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    )
    try:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("%s: no committed table here" % operation)
        extra = mutate(manifest)
        segs, removed = _segments_of(fs, table_dir, manifest)
        prev_nf, prev_sz = _entry_counters(fs, table_dir, manifest)
        entry = {
            "segments": segs,
            "removed": removed,
            "n_rows": int(manifest["n_rows"]),
            "n_files": prev_nf,
            "size_bytes": prev_sz,
            "schema": manifest["schema"],
            "partition_by": manifest.get("partition_by") or [],
            "operation": operation,
            "data_change": False,
            **(
                {"partition_spec": manifest["partition_spec"]}
                if manifest.get("partition_spec")
                else {}
            ),
            **extra,
        }
        if manifest.get("dv"):
            entry["dv"] = manifest["dv"]
            entry["dv_rows"] = manifest.get("dv_rows")
        version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, version, entry, lease=lease)
        return version
    finally:
        lease.release()


def add_constraint(
    table_dir: str,
    name: str,
    expr_sql: str,
    spark: Optional[SparkSession] = None,
    validate: bool = True,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Add a CHECK constraint (Delta parity): from this commit on,
    EVERY publish flavor — overwrite, append, partition/file replace,
    CDC merge, predicate merge, streaming sinks — counts violations of
    ``expr_sql`` inside the write job it already runs (zero extra
    scans; SQL CHECK semantics, NULL passes) and REFUSES to commit a
    batch containing a violating row. ``validate=True`` (default) first
    proves the EXISTING table satisfies the constraint (one scan);
    ``validate=False`` skips that scan but still analysis-checks the
    expression against the schema. Renaming or dropping a column an
    active constraint references is refused — drop the constraint
    first."""
    from pyspark.sql import functions as F, types as T

    if spark is None:
        spark = SparkSession.getActiveSession()
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("add_constraint: no committed table here")
    cons = dict(manifest.get("constraints") or {})
    if name in cons:
        raise ValueError(
            "add_constraint: constraint %r already exists (%s)"
            % (name, cons[name])
        )
    # analysis-check the expression against the table schema (raises
    # on unknown columns / bad syntax) — always, even validate=False
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    _local_df(spark, [], schema).where(F.expr(expr_sql)).count()
    if validate:
        bad = (
            read_published(spark, table_dir)
            .where(
                ~F.coalesce(
                    F.expr(expr_sql).cast("boolean"), F.lit(True)
                )
            )
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "add_constraint: existing rows violate %r (%s) — fix "
                "the data first or add with validate=False at your own "
                "risk" % (name, expr_sql)
            )
    def _mutate(fresh: dict) -> dict:
        cur = dict(fresh.get("constraints") or {})
        if name in cur:
            raise ValueError(
                "add_constraint: constraint %r already exists (%s)"
                % (name, cur[name])
            )
        cur[name] = expr_sql
        return {"constraints": cur}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "add_constraint", _mutate
    )


def set_index_columns(
    table_dir: str,
    stats_cols=None,
    bloom_cols=None,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Persist the table's INDEX SPEC — the columns every subsequent
    write of ANY flavor (append, merge, update, replaceWhere, compact,
    clustered publish) records per-file min/max stats and equality
    blooms for, without each caller passing ``stats_cols``/
    ``bloom_cols`` (Delta's dataSkippingStatsColumns as a table
    property). One forgotten arg on a micro-batch ingest means
    unindexed files and degraded point lookups forever — the spec
    makes write-time indexing a TABLE property, not a caller habit.
    ``None`` leaves a side unchanged; ``[]`` clears it. Explicit args
    on a write still override for that write. Columns must exist in
    the current schema; after a rename/drop, defaulted columns no
    longer present simply stop indexing (writes never break).

    Metadata-only commit; run :func:`collect_file_stats` /
    :func:`collect_file_blooms` to backfill files written before the
    spec."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("set_index_columns: no committed table here")
    names = {
        f["name"] for f in json.loads(manifest["schema"])["fields"]
    }
    for side, cols in (("stats_cols", stats_cols), ("bloom_cols", bloom_cols)):
        unknown = sorted(set(cols or []) - names)
        if unknown:
            raise ValueError(
                "set_index_columns: %s names unknown column(s) %s "
                "(schema: %s)" % (side, unknown, sorted(names))
            )

    def _mutate(fresh: dict) -> dict:
        cur = dict(fresh.get("index_cols") or {})
        if stats_cols is not None:
            cur["stats"] = list(stats_cols)
        if bloom_cols is not None:
            cur["bloom"] = list(bloom_cols)
        return {"index_cols": cur}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "set_index_columns", _mutate
    )


def set_retention(
    table_dir: str,
    keep: Optional[int] = None,
    older_than_ms: Optional[int] = None,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Persist the table's RETENTION POLICY — the ``keep`` snapshot
    count and/or ``older_than_ms`` time horizon a bare :func:`vacuum`
    call applies (Delta's deletedFileRetentionDuration /
    logRetentionDuration as table properties): the policy lives with
    the table, so every maintenance caller — ``optimize_table``, a
    scheduled ``vacuum(t)``, an operator who doesn't know this table's
    compliance rules — enforces the same horizon instead of each
    passing (or forgetting) its own. Explicit vacuum args still
    override per-call. ``None`` leaves a side unchanged; a metadata
    commit like every property change.

    Compliance shape: ``set_retention(t, keep=1,
    older_than_ms=7*86400_000)`` = "current plus a week of undo" —
    after that, `vacuum(t)` everywhere honors it."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    fs = _fs_for(table_dir, spark)
    if _read_manifest(table_dir, fs) is None:
        raise ValueError("set_retention: no committed table here")
    if keep is not None and int(keep) < 0:
        raise ValueError("set_retention: keep must be >= 0")

    def _mutate(fresh: dict) -> dict:
        cur = dict(fresh.get("retention") or {})
        if keep is not None:
            cur["keep"] = int(keep)
        if older_than_ms is not None:
            cur["older_than_ms"] = int(older_than_ms)
        return {"retention": cur}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "set_retention", _mutate
    )


def drop_constraint(
    table_dir: str,
    name: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Remove a CHECK constraint — pure metadata commit."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("drop_constraint: no committed table here")
    def _mutate(fresh: dict) -> dict:
        cur = dict(fresh.get("constraints") or {})
        if name not in cur:
            raise KeyError("drop_constraint: no constraint %r" % name)
        cur.pop(name)
        return {"constraints": cur}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "drop_constraint", _mutate
    )


def tag_version(
    table_dir: str,
    name: str,
    version: Optional[int] = None,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Tag a retained snapshot with a NAME (Iceberg-style ref): the tag
    rides the manifest, ``read_published(ref=name)`` /
    ``clone_table(ref=name)`` resolve it, and ``vacuum`` RETAINS tagged
    snapshots regardless of its keep-count — an audit freeze
    ("q3-close", "pre-migration") costs one metadata commit and
    protects its data files until the tag drops. Defaults to tagging
    the current version."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("tag_version: no committed table here")

    def _mutate(fresh: dict) -> dict:
        # version=None means "the current version" — resolved from the
        # IN-LEASE re-read, not the pre-lease snapshot, so a concurrent
        # data commit landing before lease acquisition can't make the
        # tag silently pin the now-older version
        v = int(version) if version is not None else int(
            fresh["version"]
        )
        snaps = fresh.get("snapshots", {})
        if str(v) not in snaps and v != int(fresh["version"]):
            raise KeyError(
                "tag_version: version %d is not a retained snapshot" % v
            )
        tags = dict(fresh.get("tags") or {})
        if name in tags:
            raise ValueError(
                "tag_version: tag %r already points at version %d — "
                "drop_tag first (tags are immutable by design)"
                % (name, tags[name])
            )
        tags[name] = v
        return {"tags": tags}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "tag", _mutate
    )


def drop_tag(
    table_dir: str,
    name: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Remove a tag — its snapshot becomes ordinary history again
    (reclaimable by the next ``vacuum`` past the keep-count)."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("drop_tag: no committed table here")
    def _mutate(fresh: dict) -> dict:
        tags = dict(fresh.get("tags") or {})
        if name not in tags:
            raise KeyError("drop_tag: no tag %r" % name)
        tags.pop(name)
        return {"tags": tags}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "drop_tag", _mutate
    )


# ---------------------------------------------------------------------------
# BRANCHES (Iceberg-style snapshot refs, write side): a branch is a
# named lineage forked from a retained snapshot. Writes on the branch
# advance ONLY the branch head — main's committed entry, version number
# and history are untouched, so readers of the table never see branch
# data until ``fast_forward_branch`` adopts the head as main's next
# version. The safe-backfill-rehearsal primitive: fork, rebuild a slice
# on the branch, validate with ``read_published(ref=branch)``, then
# fast-forward (one metadata commit) or drop the branch (zero cleanup —
# unreferenced staging dirs are ordinary vacuum garbage).
#
# Representation: ``manifest["branches"][name] = {"head": <entry
# dict>, "base": <main version at fork>, "seq": <branch commit
# count>}``. The head entry is DENORMALIZED (it lives outside the
# snapshots map) so branch versions can never collide with main's
# monotone version numbers; vacuum pins every branch head's files like
# a tag. Fast-forward REFUSES when main moved past the fork point —
# the branch would silently drop main's concurrent commits; rebase by
# re-forking. Branch writes are append-only by design (the rehearsal
# shape); richer branch surgery composes from clone_table.
# ---------------------------------------------------------------------------


def create_branch(
    table_dir: str,
    name: str,
    version: Optional[int] = None,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Fork branch ``name`` from the current snapshot (or retained
    ``version``). One metadata commit; zero data IO at any size."""
    fs = _fs_for(table_dir, spark)
    if _read_manifest(table_dir, fs) is None:
        raise ValueError("create_branch: no committed table here")

    def _mutate(fresh: dict) -> dict:
        branches = dict(fresh.get("branches") or {})
        if name in branches:
            raise ValueError(
                "create_branch: branch %r already exists (head seq %d)"
                % (name, int(branches[name].get("seq", 0)))
            )
        if name in (fresh.get("tags") or {}):
            raise ValueError(
                "create_branch: %r is already a tag — refs share one "
                "namespace" % name
            )
        v, src = _select_snapshot(fresh, version)
        head = {
            k: src[k]
            for k in (
                "files", "file_sizes", "file_stats", "segments",
                "removed", "n_rows", "n_files", "size_bytes", "schema",
                "partition_by", "partition_spec", "dv", "dv_rows",
                "field_ids", "next_field_id", "schema_evolved",
                "retired_names",
            )
            if src.get(k) is not None
        }
        head["operation"] = "branch_fork"
        branches[name] = {
            "head": head,
            # base = the version the create commit ITSELF produces
            # (fresh is the pre-commit manifest): fast-forward compares
            # main's version against this to detect commits since the
            # fork, and the fork commit is not "since"
            "base": int(fresh["version"]) + 1,
            "forked_from": int(v),
            "seq": 0,
        }
        return {"branches": branches}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "create_branch", _mutate
    )


def drop_branch(
    table_dir: str,
    name: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """Delete a branch ref — its head's exclusive files become ordinary
    vacuum garbage (main's files were always shared by reference)."""
    fs = _fs_for(table_dir, spark)
    if _read_manifest(table_dir, fs) is None:
        raise ValueError("drop_branch: no committed table here")

    def _mutate(fresh: dict) -> dict:
        branches = dict(fresh.get("branches") or {})
        if name not in branches:
            raise KeyError("drop_branch: no branch %r" % name)
        branches.pop(name)
        return {"branches": branches}

    return _metadata_commit(
        table_dir, spark, lease_ttl_ms, "drop_branch", _mutate
    )


def append_branch(
    df: DataFrame,
    table_dir: str,
    name: str,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
) -> int:
    """Append a batch to BRANCH ``name`` — the write stages like any
    optimistic append (claimed dir, no lease, heartbeat), then under
    the commit lease advances ONLY the branch head (main's entry and
    version are byte-identical before and after). Strict schema check
    against the BRANCH head's schema. Returns the branch's new commit
    seq. Concurrent appends to the SAME branch: the loser's head-CAS
    raises ConcurrentWriteError; concurrent MAIN commits never
    conflict (disjoint state)."""
    fs = _fs_for(table_dir, df.sparkSession)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("append_branch: no committed table here")
    br = (manifest.get("branches") or {}).get(name)
    if br is None:
        raise KeyError("append_branch: no branch %r" % name)
    head = br["head"]
    new_sig = [
        (f["name"], f["type"])
        for f in json.loads(df.schema.json())["fields"]
    ]
    old_sig = [
        (f["name"], f["type"])
        for f in json.loads(head["schema"])["fields"]
    ]
    if new_sig != old_sig:
        raise ValueError(
            "append_branch: batch schema differs from the branch "
            "head's (names AND types must match): batch=%s branch=%s"
            % (new_sig, old_sig)
        )
    parts = head.get("partition_by") or []
    seen_seq = int(br.get("seq", 0))
    with _Stage(fs, table_dir, manifest, "append_branch", lease_ttl_ms) as st:
        st.write(
            _pt_rebalance(
                _materialize_partition_cols(df, head.get("partition_spec")),
                parts,
            ),
            parts,
        )
        st.index(
            df.sparkSession, head["schema"], _field_ids_of(head)[0],
            stats_cols, bloom_cols,
        )

        def head_swap(fresh, lease):
            # the branch head is the only state this commit changes, so
            # its seq is the only conflict: main may have moved freely
            cur_br = (fresh.get("branches") or {}).get(name)
            if cur_br is None:
                raise ConcurrentWriteError(
                    "append_branch: branch %r was dropped mid-write" % name
                )
            if int(cur_br.get("seq", 0)) != seen_seq:
                raise ConcurrentWriteError(
                    "append_branch: a concurrent commit advanced "
                    "branch %r (seq %d -> %d) — re-run against its "
                    "new head"
                    % (name, seen_seq, int(cur_br.get("seq", 0)))
                )
            cur_head = cur_br["head"]
            new_head = {
                **cur_head,
                "segments": st.cite(cur_head.get("segments") or []),
                "removed": list(cur_head.get("removed") or []),
                "n_rows": int(cur_head["n_rows"]) + st.n_rows,
                "n_files": int(cur_head.get("n_files") or 0)
                + len(st.files),
                "size_bytes": int(cur_head.get("size_bytes") or 0)
                + sum(st.sizes.values()),
                "operation": "branch_append",
                "committed_at_ms": _now_ms(),
            }
            # a fork from a legacy inline entry carries "files" — once
            # appended the head is segment-shaped, drop the inline list
            for k in ("files", "file_sizes"):
                new_head.pop(k, None)
            branches = dict(fresh.get("branches") or {})
            branches[name] = {
                **cur_br, "head": new_head, "seq": seen_seq + 1,
            }
            st.swap(
                fs.replace_with,
                json.dumps({**fresh, "branches": branches}),
                _manifest_path(table_dir, fs),
                ".tmp.br.%s.%d" % (name.replace("/", "_"), seen_seq + 1),
            )
            return seen_seq + 1

        return st.under_lease(head_swap)


def fast_forward_branch(
    table_dir: str,
    name: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
    drop: bool = True,
) -> int:
    """MAIN adopts branch ``name``'s head as its next version — one
    metadata commit, zero data movement (the head's segments are
    already on disk). REFUSES (ConcurrentWriteError) when main moved
    past the branch's fork point: the head was built on a stale base,
    so adopting it would silently erase main's concurrent commits —
    re-fork and replay instead (same contract as Iceberg's
    fast-forward). ``drop`` removes the ref in the same commit
    (default); keep it to continue writing on the branch from the new
    shared base."""
    fs = _fs_for(table_dir, spark)
    lease = _Lease(fs, table_dir, ttl_ms=lease_ttl_ms).acquire_wait(
        wait_ms=_COMMIT_WAIT_MS
    )
    try:
        fresh = _read_manifest(table_dir, fs)
        if fresh is None:
            raise ValueError("fast_forward_branch: no committed table")
        br = (fresh.get("branches") or {}).get(name)
        if br is None:
            raise KeyError("fast_forward_branch: no branch %r" % name)
        if int(fresh["version"]) != int(br["base"]):
            raise ConcurrentWriteError(
                "fast_forward_branch: main moved from version %d to %d "
                "since branch %r forked — adopting the head would drop "
                "those commits; re-fork from the current version and "
                "replay"
                % (int(br["base"]), int(fresh["version"]), name)
            )
        entry = dict(br["head"])
        entry["operation"] = "fast_forward"
        entry.pop("committed_at_ms", None)
        entry["meta"] = {"fast_forwarded_from": name}
        version = int(fresh["version"]) + 1
        branches = dict(fresh.get("branches") or {})
        if drop:
            branches.pop(name)
        else:
            branches[name] = {**br, "base": version}
        entry["branches"] = branches
        _commit(fs, table_dir, fresh, version, entry, lease=lease)
        return version
    finally:
        lease.release()


def restore_table(
    table_dir: str,
    version: int,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """RESTORE (rollback-by-commit): publish a NEW version whose
    content is exactly retained snapshot ``version`` — history moves
    only forward (the bad versions stay readable for the post-mortem
    until ``vacuum``), and with a segmented manifest the restore is
    PURE METADATA: the new entry re-cites the old snapshot's segments
    by reference, no data moves at any table size. The undo button for
    a bad merge/delete/compaction."""
    fs = _fs_for(table_dir, spark)
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms) as lease:
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("restore_table: no committed table here")
        snaps = manifest.get("snapshots", {})
        if str(version) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (version, sorted(int(v) for v in snaps))
            )
        src = snaps[str(version)]
        entry = {
            k: src[k]
            for k in (
                "files", "file_sizes", "file_stats", "segments",
                "removed", "n_rows", "n_files", "size_bytes", "schema",
                "partition_by", "partition_spec", "dv", "dv_rows",
            )
            if src.get(k) is not None
        }
        # the restored snapshot's SCHEMA-EVOLUTION state rides with its
        # schema (its field ids name its columns) — set EXPLICITLY so
        # the _commit carry can't graft the abandoned head's ids onto
        # the restored schema; next_field_id stays table-lifetime-max
        # so ids are never reused across divergent histories.
        # retired_names keeps its current, widest value (carried).
        fids, src_nxt = _field_ids_of(src)
        entry["field_ids"] = fids
        entry["next_field_id"] = max(
            src_nxt, _field_ids_of(manifest)[1]
        )
        entry["schema_evolved"] = bool(src.get("schema_evolved", False))
        entry["restored_from"] = int(version)
        entry["operation"] = "restore"
        new_version = int(manifest["version"]) + 1
        _commit(fs, table_dir, manifest, new_version, entry, lease=lease)
        return new_version


def clone_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    version: Optional[int] = None,
    as_of_ms: Optional[int] = None,
    ref: Optional[str] = None,
) -> int:
    """SHALLOW CLONE: fork ``src_dir``'s committed snapshot (or any
    retained ``version`` / ``as_of_ms`` state) into a NEW table at
    ``dst_dir`` by metadata alone — the clone's v1 manifest re-cites
    the source's data files as EXTERNAL absolute refs; zero data bytes
    move at any table size (Delta Lake's shallow clone). The clone is
    a fully independent table from the first commit: appends, deletes,
    merges, compaction, and time travel all work, and every write
    lands under ``dst_dir`` — the source is never touched. Cloning a
    100 TB table for an experiment or a dev fork costs one manifest
    write.

    What copies at clone time (all metadata-sized): the snapshot's
    per-file sizes / min-max stats / equality blooms (so ``skip=`` /
    ``skip_eq=`` pruning works on the clone unchanged) and its delete
    vectors (rewritten against the external refs).

    CONTRACT (same as Delta): the clone PINS the source files of one
    snapshot — ``vacuum`` on the SOURCE that expires that snapshot
    deletes files the clone still references and breaks it. Keep the
    cloned snapshot retained at the source, or ``compact()`` the clone
    (any full rewrite) to cut the dependency — clone-then-compact is a
    deep copy. ``vacuum`` on the CLONE never deletes source files
    (external refs resolve outside its directory by construction).

    ``dst_dir`` must not already hold a table — cloning never
    overwrites history. Returns the clone's version (always 1)."""
    src_fs = _fs_for(src_dir, spark)
    src_manifest = _read_manifest(src_dir, src_fs)
    if src_manifest is None:
        raise ValueError("clone_table: no committed table at %s" % src_dir)
    if ref is not None:
        tags = src_manifest.get("tags") or {}
        if ref not in tags:
            raise KeyError("clone_table: no tag %r" % ref)
        version = int(tags[ref])
    src_v, entry = _select_snapshot(src_manifest, version, as_of_ms)
    res = _resolve_entry(src_fs, src_dir, entry, rekey_stats=False)
    abs_of = {f: _ref_path(src_fs, src_dir, f) for f in res["files"]}
    fs = _fs_for(dst_dir, spark)
    fs.mkdirs(dst_dir)
    with _Lease(fs, dst_dir, ttl_ms=300_000) as lease:
        if _read_manifest(dst_dir, fs) is not None:
            raise ValueError(
                "clone_table: %s already holds a table — refusing to "
                "overwrite its history" % dst_dir
            )
        seg = _claim_vdir(fs, dst_dir, 1)
        seg_data = {
            "files": [abs_of[f] for f in res["files"]],
            "file_sizes": {
                abs_of[f]: sz
                for f, sz in res["file_sizes"].items()
                if f in abs_of
            },
            "file_stats": {
                abs_of[f]: st
                for f, st in res["file_stats"].items()
                if f in abs_of
            },
            "file_blooms": {
                abs_of[f]: b
                for f, b in res["file_blooms"].items()
                if f in abs_of
            },
        }
        if res.get("file_fields"):
            # files from MANY source segments land in ONE clone
            # segment — per-FILE maps, not a segment-level one
            seg_data["file_fields"] = {
                abs_of[f]: m
                for f, m in res["file_fields"].items()
                if f in abs_of
            }
        _write_seg(fs, dst_dir, seg, seg_data)
        nf = entry.get("n_files")
        if nf is None:
            nf = len(res["files"])
        sz = entry.get("size_bytes")
        if sz is None:
            sz = sum(v for v in res["file_sizes"].values() if v)
        new_entry = {
            "segments": [seg],
            "removed": [],
            "n_rows": int(entry["n_rows"]),
            "n_files": int(nf),
            "size_bytes": int(sz),
            "schema": entry["schema"],
            "partition_by": entry.get("partition_by") or [],
            "operation": "clone",
            "meta": {
                "cloned_from": src_dir,
                "cloned_version": int(src_v),
            },
        }
        # schema-evolution state forks with the snapshot: the clone's
        # reads resolve renamed/dropped columns exactly as the source's.
        # Layout (partition_spec) and table properties (index_cols,
        # retention — Delta CLONE copies table properties) ride along:
        # a clone that silently dropped the retention policy would give
        # a bare vacuum on it the default horizon instead of the
        # declared compliance one.
        for k in (
            "field_ids", "next_field_id", "schema_evolved",
            "retired_names", "constraints", "index_cols",
            "partition_spec", "retention",
        ):
            if entry.get(k) is not None:
                new_entry[k] = entry[k]
        src_dv = _load_dv(src_fs, src_dir, entry)
        live = set(res["files"])
        dv = {}
        for f, v in src_dv.items():
            if f not in live or not _dv_val_n(v):
                continue
            if isinstance(v, dict):
                # v2/v3 sidecar ref: externalize the dataset path
                # (zero copy, like the data refs) and pin the
                # SIDECAR's own file key — its rows were written under
                # the source's ref, which the clone's scan URIs still
                # suffix-match
                dv[abs_of[f]] = {
                    "ds": _ref_path(src_fs, src_dir, v["ds"]),
                    "n": int(v["n"]),
                    "key": v.get("key", f),
                    **({"fmt": v["fmt"]} if v.get("fmt") else {}),
                }
            else:
                dv[abs_of[f]] = v
        if dv:
            new_entry["dv"] = _write_dv(fs, dst_dir, seg, dv)
            new_entry["dv_rows"] = _dv_nrows(dv)
        _commit(fs, dst_dir, None, 1, new_entry, lease=lease)
        fs.delete_file(fs.join(dst_dir, seg + ".claim"))
        return 1


def read_appends(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: Optional[int] = None,
    ignore_deletes: bool = False,
) -> DataFrame:
    """Incremental change read: the rows APPENDED between two committed
    versions — the poll-based streaming-source primitive (a downstream
    pipeline remembers the last version it processed and reads only the
    delta; Delta Lake's streaming source, reduced to its append core).

    With a segmented manifest this is exact metadata algebra: appended
    rows = the files in ``to``'s segments that are not in ``from``'s
    live set. Compaction/restore versions re-cite existing ROWS in new
    files; their rewritten files are excluded when the snapshot's
    counters show no row growth (pure-rewrite commits contribute
    nothing). Raises if ``from_version`` is no longer retained —
    vacuumed history means the delta can't be proven append-only.

    ``ignore_deletes=True`` (Delta's option of the same name): versions
    that only SHRANK the table — delete-vector commits and partition/
    file deletes — contribute nothing instead of raising; the caller
    accepts that deletions are not propagated downstream (appends that
    preceded an in-window delete still deliver, exactly as a live
    stream would have delivered them before the delete landed)."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("read_appends: no committed table here")
    to_v = int(to_version) if to_version is not None else int(
        manifest["version"]
    )
    appended, schema, partitioned, evo = _append_delta_files(
        fs, table_dir, manifest, int(from_version), to_v,
        ignore_deletes=ignore_deletes,
    )
    # evo comes from the WALK (each delivered file resolved against the
    # entry that appended it) — the final entry's resolution would
    # silently NULL renamed columns of files a later compact dropped
    return _read_files(
        spark, fs, table_dir, appended, schema, partitioned, evo=evo,
    )


def _append_delta_files(
    fs,
    table_dir: str,
    manifest: dict,
    from_v: int,
    to_v: int,
    ignore_deletes: bool = False,
):
    """``(appended files, schema_json, partitioned, evo)`` between two
    retained versions — the metadata algebra behind
    :func:`read_appends` and the ``bamboo_published`` streaming source.

    Walks every intermediate snapshot so interleaved rewrites can't
    smuggle old rows into the delta: an append step contributes its new
    files; a pure-rewrite step (same row count) contributes nothing —
    but if it rewrote a file already collected as appended, those
    appended rows were folded into mixed files and the exact delta is
    unrecoverable (raise, don't over-deliver). ``ignore_deletes`` lets
    shrinking versions pass as no-ops (see :func:`read_appends`).

    ``evo`` (None unless any walked entry is schema-evolved) is the
    read descriptor resolving each DELIVERED file's physical columns —
    built from the file's APPENDING entry, not the final one: a file
    appended before a rename and dropped by a later compact is absent
    from the final entry's resolution, and resolving it there would
    silently NULL the renamed column. The final entry's field ids key
    the logical names; a walk whose id space broke (a full rewrite
    re-assigned ids mid-range) or whose delivered files predate field
    stamping refuses instead of guessing (Delta similarly blocks
    streaming across column-mapping changes)."""

    def _entry_of(v: int) -> dict:
        if v == 0:
            # version 0 = the empty table before the first commit: the
            # delta from it is the FULL initial snapshot (how a
            # startingVersion=0 stream replays history)
            return {"n_rows": 0, "files": [], "segments": []}
        if v == int(manifest["version"]):
            return manifest
        snaps = manifest.get("snapshots", {})
        if str(v) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (v, sorted(int(x) for x in snaps))
            )
        return snaps[str(v)]

    appended: List[str] = []
    fmaps: dict = {}  # delivered file -> {field_id: phys name} or None
    evolved_any = False
    ids_broken: Optional[str] = None

    def _collect(added_files, e: dict) -> None:
        # record each appended file's stamped field map FROM THE ENTRY
        # THAT APPENDED IT — the final entry may no longer resolve it
        res_e = _resolve_entry(fs, table_dir, e, rekey_stats=False)
        ff = res_e.get("file_fields") or {}
        for f in added_files:
            appended.append(f)
            fmaps[f] = ff.get(f)

    def _step_ids(a: dict, b: dict) -> None:
        nonlocal ids_broken
        if ids_broken is None and not _ids_step_ok(a, b):
            ids_broken = (
                "a full rewrite re-assigned field ids inside the delta"
            )

    prev_e = _entry_of(from_v)
    prev_files = set(_entry_files(fs, table_dir, prev_e))
    evolved_any = bool(prev_e.get("schema_evolved"))
    schema, partitioned = None, False
    for v in range(from_v + 1, to_v + 1):
        e = _entry_of(v)
        _step_ids(prev_e, e)
        evolved_any = evolved_any or bool(e.get("schema_evolved"))
        cur_files = set(_entry_files(fs, table_dir, e))
        added = cur_files - prev_files
        dropped = prev_files - cur_files
        grew = int(e.get("n_rows", 0)) - int(prev_e.get("n_rows", 0))
        # delete-vector growth on carried files = rows deleted in this
        # step even when the FILE set only grew (e.g. an incremental
        # merge commits dv-deletes + appends in one version) — strict
        # append-only reads must refuse it; ignore_deletes skips the
        # deletes and keeps delivering the adds. dataChange=false
        # commits are exempt by contract (same rows — a dv-sidecar
        # compaction changes REFS, never membership).
        if e.get("dv") != prev_e.get("dv") and e.get(
            "data_change"
        ) is not False:
            common = prev_files & cur_files
            dv_prev_m = _load_dv(fs, table_dir, prev_e)
            dv_cur_m = _load_dv(fs, table_dir, e)
            dv_changed = any(
                (dv_prev_m.get(f) or []) != (dv_cur_m.get(f) or [])
                for f in common
            )
            if dv_changed and not ignore_deletes:
                raise ValueError(
                    "read_appends: v%d deleted rows via delete vectors; "
                    "the delta is not append-only (pass "
                    "ignore_deletes=True / option ignoreDeletes to skip "
                    "delete commits, or read_changes() to consume them)"
                    % v
                )
            if dv_changed:
                if dropped:
                    raise ValueError(
                        "read_appends: v%d combined a file rewrite with "
                        "delete-vector changes; the delta is not "
                        "expressible — read the full snapshot" % v
                    )
                _collect(sorted(added), e)
                prev_e, prev_files = e, cur_files
                schema = e["schema"]
                partitioned = bool(e.get("partition_by"))
                continue
        if grew < 0:
            if ignore_deletes and not added:
                # a pure shrink (dv delete: no file change; partition/
                # file delete: drops only) — under ignore_deletes it
                # contributes nothing. Already-collected appended files
                # keep delivering even if the delete dropped them: a
                # live stream would have delivered those rows before
                # the delete landed (Delta's ignoreDeletes contract).
                prev_e, prev_files = e, cur_files
                schema = e["schema"]
                partitioned = bool(e.get("partition_by"))
                continue
            raise ValueError(
                "read_appends: v%d shrank the table (delete/replace); "
                "the delta is not append-only%s" % (
                    v,
                    "" if ignore_deletes else
                    " (pass ignore_deletes=True / option "
                    "ignoreDeletes to skip delete commits)",
                )
            )
        if e.get("data_change") is False and grew == 0:
            # pure-rewrite commit (compact/compact_partitions mark
            # themselves dataChange=false, the Delta design): it
            # re-cites EXISTING rows in new files and contributes
            # nothing to the delta. Crucially, files it dropped stay
            # readable — they're still referenced by the retained
            # pre-rewrite snapshots this walk already validated — so
            # appended files collected earlier keep delivering even
            # though the current snapshot no longer lists them.
            prev_e, prev_files = e, cur_files
            schema = e["schema"]
            partitioned = bool(e.get("partition_by"))
            continue
        if dropped & set(appended):
            raise ValueError(
                "read_appends: v%d rewrote files that carry appended "
                "rows (compaction folded the delta); read the full "
                "snapshot instead" % v
            )
        if grew > 0:
            if dropped:
                raise ValueError(
                    "read_appends: v%d both added rows and removed "
                    "files (replace); the delta is not append-only" % v
                )
            _collect(sorted(added), e)
        # grew == 0 with added files = pure rewrite of pre-delta rows:
        # contributes nothing
        prev_e, prev_files = e, cur_files
        schema, partitioned = e["schema"], bool(e.get("partition_by"))
    if schema is None:  # from == to
        e = _entry_of(to_v)
        schema, partitioned = e["schema"], bool(e.get("partition_by"))
    evo = None
    if evolved_any and appended:
        final_e = _entry_of(to_v)
        unstamped = sorted(f for f in appended if fmaps.get(f) is None)
        if ids_broken or unstamped:
            raise ValueError(
                "read_appends: the table renamed/dropped columns and %s "
                "— the delivered files' physical columns can't be "
                "resolved exactly; read the full snapshot or "
                "read_changes() instead"
                % (
                    ids_broken
                    or "delivered file(s) predate field stamping (%s...)"
                    % unstamped[:3]
                )
            )
        evo = {
            "ids": _field_ids_of(final_e)[0],
            "files": {f: fmaps[f] for f in appended},
        }
    return appended, schema, partitioned, evo


def _ids_step_ok(a: dict, b: dict) -> bool:
    """Field-id continuity between two CONSECUTIVE snapshot entries: a
    name keeps its id, ids are never reused, the counter never shrinks.
    A full rewrite re-assigns ids positionally — when that changed any
    shared name's id (or shrank the counter), file maps stamped before
    it are keyed in a DEAD id space and cross-version resolution must
    refuse rather than guess."""
    ia, na = _field_ids_of(a) if a.get("schema") else ({}, 1)
    ib, nb = _field_ids_of(b)
    return nb >= na and all(
        ib[n] == i for n, i in ia.items() if n in ib
    )


def _cdf_delta(
    fs, table_dir: str, manifest: dict, from_v: int, to_v: int
) -> List[dict]:
    """METADATA-ONLY change plan between two retained versions — the
    streaming change-feed planner (``bamboo_published`` with
    ``readChangeFeed``). Returns one dict per file-task:
    ``{kind, file, take_ref, mask_ref, fields, version, schema,
    partitioned}`` where ``take_ref`` is a ``(cur, prev)`` pair of
    position refs (see :func:`_dv_ref_of`) whose difference names the
    newly-deleted rows (resolved EXECUTOR-side — v2 sidecar positions
    never pass through the driver), ``mask_ref`` positions to exclude
    (a dropped/added file's pre-existing dv), and ``fields`` the
    file's (logical, physical) column resolution on schema-evolved
    tables (None = identity). Everything resolves from manifests and
    dv manifests on the DRIVER — no Spark job — which is exactly what
    a streaming source's ``partitions()`` is allowed to do.
    Row-REWRITING commits (CoW update / replaceWhere) plan "rewrite"
    GROUP tasks — the dropped vs added files of one hive partition,
    multiset-diffed EXECUTOR-side with row-exact parity to the batch
    :func:`read_changes` (per-partition decomposition is exact because
    identical rows cannot span partition directories); nested-column
    schemas still refuse toward the batch path."""

    def _entry_of(v: int) -> dict:
        if v == 0:
            return {"n_rows": 0, "files": [], "segments": []}
        if v == int(manifest["version"]):
            return manifest
        snaps = manifest.get("snapshots", {})
        if str(v) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (v, sorted(int(x) for x in snaps))
            )
        return snaps[str(v)]

    # every task reads under the MANIFEST schema (Delta's CDF contract:
    # changes surface under the READ-time schema) — the stream reader's
    # output schema is pinned once, and per-version schemas would
    # desync from it across a mid-feed rename. On evolved tables each
    # file's physical columns resolve by field id from the entry that
    # OWNS the file in that step. Evolution is detected over the WALKED
    # entries, not just the planning manifest: a full rewrite (compact)
    # clears `schema_evolved` and resets field ids, and a stream
    # catching up across it would otherwise resolve pre-compact files
    # of a formerly-renamed table as identity — silently NULLing the
    # renamed column (the exact wrongness read_appends/read_changes
    # refuse). A broken id space refuses the same way.
    walked = {
        v: _entry_of(v) for v in range(from_v, to_v + 1)
    }
    man_evolved = bool(manifest.get("schema_evolved")) or any(
        e.get("schema_evolved") for e in walked.values()
    )
    man_ids, _ = _field_ids_of(manifest)
    man_names = [
        x["name"] for x in json.loads(manifest["schema"])["fields"]
    ]
    if man_evolved:
        steps_ok = all(
            _ids_step_ok(walked[v], walked[v + 1])
            for v in range(from_v, to_v)
        ) and _ids_step_ok(walked[to_v], manifest)
        if not steps_ok:
            raise ValueError(
                "change feed: a full rewrite re-assigned field ids "
                "between v%d and the current manifest of this renamed/"
                "dropped-column table — exact cross-era column "
                "resolution is impossible; use the batch "
                "read_changes() over a pre-rewrite range instead"
                % from_v
            )

    def _fields_of(res: dict, f: str):
        """Per-file (logical, physical-or-None) tuple — the executor-
        side column resolution (mirrors the DataSource's
        `_fields_for`). None = identity (table never evolved)."""
        if not man_evolved:
            return None
        fm = (res.get("file_fields") or {}).get(f)
        if fm is None:
            return tuple((n, n) for n in man_names)
        return tuple(
            (n, fm.get(str(man_ids.get(n)))) for n in man_names
        )

    plan: List[dict] = []
    prev_e = _entry_of(from_v)
    res_prev = _resolve_entry(fs, table_dir, prev_e)
    prev_files = set(res_prev["files"])
    for v in range(from_v + 1, to_v + 1):
        e = _entry_of(v)
        res_cur = _resolve_entry(fs, table_dir, e)
        cur_files = set(res_cur["files"])
        added = sorted(cur_files - prev_files)
        dropped = sorted(prev_files - cur_files)
        grew = int(e.get("n_rows", 0)) - int(prev_e.get("n_rows", 0))
        dv_prev = _load_dv(fs, table_dir, prev_e)
        dv_cur = _load_dv(fs, table_dir, e)
        base = {
            "version": v,
            "schema": manifest["schema"],
            "partitioned": bool(e.get("partition_by")),
        }

        def _dv_task(f: str) -> Optional[dict]:
            # dv growth on a file live in both snapshots: the executor
            # takes cur-minus-prev positions (exact row addresses)
            if (dv_cur.get(f) or None) == (dv_prev.get(f) or None):
                return None
            return {
                "kind": "delete", "file": f,
                "take_ref": (
                    _dv_ref_of(dv_cur.get(f), f),
                    _dv_ref_of(dv_prev.get(f), f),
                ),
                "mask_ref": None,
                "fields": _fields_of(res_cur, f),
                **base,
            }

        if e.get("data_change") is False:
            pass  # compaction/clustering: same rows, nothing to feed
        elif not dropped:
            # appends, dv deletes, and the incremental-merge mix
            # (appends + dv deletes in ONE commit) are all exactly
            # expressible from metadata + row addresses
            for f in added:
                plan.append(
                    {"kind": "insert", "file": f,
                     "take_ref": None,
                     "mask_ref": _dv_ref_of(dv_cur.get(f), f),
                     "fields": _fields_of(res_cur, f),
                     **base}
                )
            for f in sorted(prev_files & cur_files):
                t = _dv_task(f)
                if t:
                    plan.append(t)
        elif grew < 0 and not added:
            for f in dropped:  # whole-file/partition delete
                plan.append(
                    {"kind": "delete", "file": f,
                     "take_ref": None,
                     "mask_ref": _dv_ref_of(dv_prev.get(f), f),
                     "fields": _fields_of(res_prev, f),
                     **base}
                )
            for f in sorted(prev_files & cur_files):
                t = _dv_task(f)
                if t:
                    plan.append(t)
        else:
            # ROW-REWRITING commit (CoW update / replaceWhere / a
            # membership-changing compaction): plan per-PARTITION
            # REWRITE GROUPS — each task diffs the dropped vs added
            # rows of ONE hive partition executor-side (the same
            # multiset-diff shape batch read_changes runs as a Spark
            # job). Per-partition decomposition is EXACT: identical
            # full rows can never span partition directories (an
            # identity partition value IS part of the row; a hidden
            # transform derives the dir deterministically from it), so
            # group-local diffs sum to the global diff. Any touched
            # file missing a partition segment (pre-evolution layout)
            # collapses the commit to one global group — conservative,
            # still exact. Nested/map columns aren't multiset-diffable
            # in the Arrow worker: refuse toward batch read_changes
            # (which refuses maps for the same reason).
            if any(
                not isinstance(x["type"], str)
                for x in json.loads(manifest["schema"])["fields"]
            ):
                raise ValueError(
                    "change feed: v%d rewrote rows and the schema has "
                    "nested columns — the executor-side multiset diff "
                    "needs atomic columns; use the batch "
                    "read_changes() (maps refuse there too)" % v
                )
            pby = list(e.get("partition_by") or [])

            def _gkey(f: str):
                vals = tuple(_pt_path_value(f, c) for c in pby)
                return None if any(x is None for x in vals) else vals

            ko = [_gkey(f) for f in dropped]
            kn = [_gkey(f) for f in added]
            groups: dict = {}
            if pby and all(k is not None for k in ko + kn):
                for f, k in zip(dropped, ko):
                    groups.setdefault(k, ([], []))[0].append(f)
                for f, k in zip(added, kn):
                    groups.setdefault(k, ([], []))[1].append(f)
            else:
                groups = {None: (dropped, added)}
            for k in sorted(
                groups, key=lambda x: (x is None, x)
            ):
                old_fl, new_fl = groups[k]
                plan.append(
                    {
                        "kind": "rewrite",
                        "file": None,
                        "take_ref": None,
                        "mask_ref": None,
                        "fields": None,
                        "old": [
                            (
                                f,
                                _dv_ref_of(dv_prev.get(f), f),
                                _fields_of(res_prev, f),
                            )
                            for f in old_fl
                        ],
                        "new": [
                            (
                                f,
                                _dv_ref_of(dv_cur.get(f), f),
                                _fields_of(res_cur, f),
                            )
                            for f in new_fl
                        ],
                        **base,
                    }
                )
            for f in sorted(prev_files & cur_files):
                t = _dv_task(f)
                if t:
                    plan.append(t)
        prev_e, prev_files, res_prev = e, cur_files, res_cur
    return plan


def read_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: Optional[int] = None,
    key_cols=None,
) -> DataFrame:
    """CHANGE DATA FEED: every row-level change between two retained
    versions, stamped ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` — Delta's CDF reduced to snapshot algebra (no
    per-row tracking, so an update surfaces as delete + insert, the
    documented CDF contract without row ids). Downstream consumers that
    must propagate DELETES (the thing :func:`read_appends` refuses or
    skips) read this instead.

    Per intermediate commit, from metadata outward:

    * ``dataChange=false`` rewrites (compaction/clustering): nothing.
    * pure appends: the added files' rows are inserts — zero diffing.
    * delete-vector commits: the NEWLY dv'd positions, read back from
      their (unchanged) files by row address — exact deletes, IO
      bounded by the affected files.
    * replaces/rewrites: an exact multiset diff of the dropped vs
      added file sets (group-by-all-columns counts, both sides read
      under their snapshot's dv mask) — rows whose count fell are
      deletes, rows whose count rose are inserts; IO bounded by the
      files the commit touched, never the table.

    ``key_cols`` upgrades the feed to UPDATE PAIRING (Delta's
    ``update_preimage``/``update_postimage``): within one commit, a
    delete and an insert sharing a key relabel as the two halves of an
    update — the merge-sink consumer's contract. Requires the table to
    be key-unique per commit (what the merge publishers guarantee);
    one narrow (version, key)-partitioned window over the change rows.

    Every change row surfaces under the ``to_version`` schema (Delta's
    CDF contract): on renamed/dropped-column tables each file resolves
    by field id, so pre-rename rows carry their data under the new
    name; widened columns read NULL on older files. A range whose id
    space broke (a mid-range full rewrite) refuses.

    Needs every version in (from, to] retained (else KeyError — a
    vacuumed step can't prove its delta). Columns of map type can't be
    diffed (not groupable); tables with map columns should diff via
    :func:`diff_versions` on an id column instead."""
    from pyspark.sql import functions as F, types as T

    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("read_changes: no committed table here")
    to_v = int(to_version) if to_version is not None else int(
        manifest["version"]
    )

    def _entry_of(v: int) -> dict:
        if v == 0:
            return {"n_rows": 0, "files": [], "segments": []}
        if v == int(manifest["version"]):
            return manifest
        snaps = manifest.get("snapshots", {})
        if str(v) not in snaps:
            raise KeyError(
                "version %s is not a retained snapshot (have: %s)"
                % (v, sorted(int(x) for x in snaps))
            )
        return snaps[str(v)]

    def _tag(df: DataFrame, typ: str, v: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(typ).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    def _multiset_diff(old: DataFrame, new: DataFrame, v: int):
        """(inserts, deletes) as exact multiset difference — count per
        full row on each side, explode the positive diffs back out."""
        cols = new.columns
        oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("_oc"))
        nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("_nc"))
        j = oc.join(nc, cols, "full_outer").select(
            *cols,
            (
                F.coalesce(F.col("_nc"), F.lit(0))
                - F.coalesce(F.col("_oc"), F.lit(0))
            ).alias("_d"),
        )
        ins = (
            j.where(F.col("_d") > 0)
            .withColumn("_r", F.explode(F.sequence(F.lit(1), F.col("_d"))))
            .drop("_d", "_r")
        )
        dels = (
            j.where(F.col("_d") < 0)
            .withColumn("_r", F.explode(F.sequence(F.lit(1), -F.col("_d"))))
            .drop("_d", "_r")
        )
        return _tag(ins, "insert", v), _tag(dels, "delete", v)

    pieces: List[DataFrame] = []
    from_v = int(from_version)
    # EVERY change row surfaces under the END-version schema (Delta's
    # CDF contract): renamed columns carry their data under the new
    # name for pre-rename files too (per-file field-id resolution),
    # widened columns read as NULL on older files, dropped columns
    # vanish. A range whose id space broke (a mid-range full rewrite
    # re-assigned ids) refuses — cross-era resolution would guess.
    entries = {v: _entry_of(v) for v in range(from_v, to_v + 1)}
    end_e = entries[to_v]
    end_schema = end_e["schema"]
    end_ids = _field_ids_of(end_e)[0] if end_e.get("schema") else {}
    evolved_any = any(
        e.get("schema_evolved") for e in entries.values()
    )
    if evolved_any and not all(
        _ids_step_ok(entries[v], entries[v + 1])
        for v in range(from_v, to_v)
    ):
        raise ValueError(
            "read_changes: a full rewrite re-assigned field ids inside "
            "(v%d, v%d] of this renamed/dropped-column table — exact "
            "cross-era column resolution is impossible; diff with "
            "diff_versions() on an id column instead" % (from_v, to_v)
        )

    def _evo_end(res: dict) -> Optional[dict]:
        if not evolved_any:
            return None
        return {"ids": end_ids, "files": res.get("file_fields") or {}}

    prev_e = entries[from_v]
    res_prev = _resolve_entry(fs, table_dir, prev_e)
    prev_files = set(res_prev["files"])
    for v in range(from_v + 1, to_v + 1):
        e = entries[v]
        res_cur = _resolve_entry(fs, table_dir, e)
        cur_files = set(res_cur["files"])
        added = sorted(cur_files - prev_files)
        dropped = sorted(prev_files - cur_files)
        parted = bool(e.get("partition_by"))
        dv_prev = _load_dv(fs, table_dir, prev_e)
        dv_cur = _load_dv(fs, table_dir, e)
        evo_prev = _evo_end(res_prev)
        evo_cur = _evo_end(res_cur)
        if e.get("data_change") is False:
            pass  # pure rewrite: same rows, different files
        elif added and not dropped:
            pieces.append(
                _tag(
                    _read_files(
                        spark, fs, table_dir, added, end_schema,
                        parted, dv=dv_cur, evo=evo_cur,
                    ),
                    "insert",
                    v,
                )
            )
        elif added or dropped:
            old_rows = _read_files(
                spark, fs, table_dir, dropped, end_schema,
                bool(prev_e.get("partition_by")), dv=dv_prev,
                evo=evo_prev,
            )
            new_rows = _read_files(
                spark, fs, table_dir, added, end_schema, parted,
                dv=dv_cur, evo=evo_cur,
            )
            ins, dels = _multiset_diff(old_rows, new_rows, v)
            pieces.extend([ins, dels])
        # delete-vector growth on files live in BOTH snapshots: the
        # newly-addressed positions are deletes, read back by address.
        # The position DELTA is a CHUNK-DOMAIN bit-diff (cur & ~prev
        # per word) — proportional to the dv's CHUNKS, not its
        # positions, and only the delta's positions ever unpack; never
        # materialized on the driver. dataChange=false steps
        # (dv-sidecar compaction) change refs, never membership: skip.
        common = (
            (prev_files & cur_files)
            if e.get("data_change") is not False
            else set()
        )
        changed = sorted(
            f
            for f in common
            if (dv_cur.get(f) or None) != (dv_prev.get(f) or None)
        )
        if changed:
            cur_ch = _dv_chunks_df(
                spark, fs, table_dir,
                {f: dv_cur[f] for f in changed if dv_cur.get(f)},
            )
        if changed and cur_ch is not None:
            prev_ch = _dv_chunks_df(
                spark, fs, table_dir,
                {f: dv_prev[f] for f in changed if dv_prev.get(f)},
            )
            newly_ch = cur_ch
            if prev_ch is not None:
                newly_ch = (
                    cur_ch.join(
                        prev_ch.select(
                            "_dv_file", "_dv_chunk",
                            F.col("_dv_bits").alias("_prev_bits"),
                        ),
                        ["_dv_file", "_dv_chunk"],
                        "left",
                    )
                    .select(
                        "_dv_file", "_dv_base", "_dv_sfx", "_dv_chunk",
                        F.expr(
                            "zip_with(_dv_bits, coalesce(_prev_bits, "
                            "array_repeat(0L, %d)), (c, p) -> c & ~p)"
                            % _DV_WORDS
                        ).alias("_dv_bits"),
                    )
                )
            newly_df = _dv_unpack(newly_ch)
            addressed = _read_files_with_pos(
                spark, fs, table_dir, changed, end_schema, parted,
                evo=evo_cur,
            )
            hit = (
                addressed.withColumn(
                    "_fb", F.element_at(F.split(F.col("_fp"), "/"), -1)
                )
                .join(
                    newly_df,
                    (F.col("_fb") == F.col("_dv_base"))
                    & (F.col("_ri") == F.col("_dv_pos"))
                    & F.col("_fp").endswith(F.col("_dv_sfx")),
                )
                .drop(
                    "_fp", "_ri", "_fb",
                    "_dv_file", "_dv_base", "_dv_sfx", "_dv_pos",
                )
            )
            pieces.append(_tag(hit, "delete", v))
        prev_e, prev_files, res_prev = e, cur_files, res_cur
    if not pieces:
        schema = T.StructType.fromJson(
            json.loads(_entry_of(to_v).get("schema") or manifest["schema"])
        ).add("_change_type", "string").add("_commit_version", "long")
        return _local_df(spark, [], schema)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if key_cols:
        from pyspark.sql import Window

        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        w = Window.partitionBy("_commit_version", *keys)
        has_del = F.max(
            F.when(F.col("_change_type") == "delete", 1).otherwise(0)
        ).over(w)
        has_ins = F.max(
            F.when(F.col("_change_type") == "insert", 1).otherwise(0)
        ).over(w)
        paired = (has_del == 1) & (has_ins == 1)
        out = out.withColumn(
            "_change_type",
            F.when(
                paired & (F.col("_change_type") == "delete"),
                F.lit("update_preimage"),
            )
            .when(
                paired & (F.col("_change_type") == "insert"),
                F.lit("update_postimage"),
            )
            .otherwise(F.col("_change_type")),
        )
    return out


def snapshots(
    table_dir: str, spark: Optional[SparkSession] = None
) -> List[dict]:
    """Retained snapshot metadata, oldest first:
    [{version, n_rows, n_files, is_current}]."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("no committed table at %s" % table_dir)
    cur = int(manifest["version"])
    out = []
    for v, e in sorted(
        manifest.get("snapshots", {}).items(), key=lambda kv: int(kv[0])
    ):
        nf = e.get("n_files")
        if nf is None:
            nf = len(_entry_files(fs, table_dir, e))
        out.append(
            {
                "version": int(v),
                "n_rows": int(e["n_rows"]),
                "n_files": int(nf),
                "is_current": int(v) == cur,
            }
        )
    return out


def table_history(
    spark: SparkSession, table_dir: str
) -> DataFrame:
    """The table's commit audit log as a DataFrame, newest first — the
    ``DESCRIBE HISTORY`` shape (Delta Lake's table history, reduced to
    the manifest's own facts): one row per RETAINED snapshot with the
    commit's version, wall-clock timestamp, operation label
    (append/overwrite/merge/compact/delete/restore/...), row/file/byte
    counters, whether the commit changed data (``data_change=False``
    marks pure rewrites incremental readers skip), and the restore
    source when the commit was a rollback. Pure metadata — one manifest
    read, no data IO at any table size; ``vacuum`` prunes history rows
    together with the snapshots they describe.

    Pre-labeling commits (tables written before the ``operation`` field
    existed) surface a null operation rather than a guess."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("no committed table at %s" % table_dir)
    cur = int(manifest["version"])
    rows = []
    for v, e in sorted(
        manifest.get("snapshots", {}).items(),
        key=lambda kv: -int(kv[0]),
    ):
        nf = e.get("n_files")
        if nf is None:
            nf = len(_entry_files(fs, table_dir, e))
        ts = e.get("committed_at_ms")
        rows.append(
            {
                "version": int(v),
                "committed_at_ms": int(ts) if ts is not None else None,
                "operation": e.get("operation"),
                "n_rows": int(e["n_rows"]),
                "n_files": int(nf),
                "size_bytes": (
                    int(e["size_bytes"])
                    if e.get("size_bytes") is not None
                    else None
                ),
                "data_change": bool(e.get("data_change", True)),
                "restored_from": (
                    int(e["restored_from"])
                    if e.get("restored_from") is not None
                    else None
                ),
                "is_current": int(v) == cur,
            }
        )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("version", T.LongType(), False),
            T.StructField("committed_at_ms", T.LongType(), True),
            T.StructField("operation", T.StringType(), True),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_files", T.LongType(), False),
            T.StructField("size_bytes", T.LongType(), True),
            T.StructField("data_change", T.BooleanType(), False),
            T.StructField("restored_from", T.LongType(), True),
            T.StructField("is_current", T.BooleanType(), False),
        ]
    )
    return _local_df(spark, rows, schema)


def published_rows(
    table_dir: str, spark: Optional[SparkSession] = None
) -> int:
    """The committed snapshot's row count — from the manifest alone."""
    fs = _fs_for(table_dir, spark)
    return int(json.loads(fs.read_text(_manifest_path(table_dir, fs)))["n_rows"])


def vacuum(
    table_dir: str,
    keep: Optional[int] = None,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
    older_than_ms: Optional[int] = None,
    dry_run: bool = False,
) -> List[str]:
    """Garbage-collect the table: retain the newest ``keep`` SNAPSHOT
    entries (plus the committed one, always), prune the rest from the
    time-travel history (one atomic manifest rewrite BEFORE any data
    delete, so a reader never resolves a vacuumed snapshot), then
    delete every version DIRECTORY no retained snapshot cites a file
    (or delete vector) in — reference-aware GC, the table-format rule.
    Retention is over SNAPSHOTS, not directory names: under optimistic
    concurrency dir numbers are decoupled from snapshot versions, so
    counting dirs would prune the wrong history. Returns the removed
    directory names.

    ``older_than_ms`` additionally RETAINS any snapshot committed
    within the horizon (time-based retention on top of the count) —
    ``vacuum(keep=1, older_than_ms=7*86400_000)`` is "current plus a
    week of undo", the production policy shape.

    Liveness: an optimistic writer staging data holds no lease — only
    its ``.claim`` marker (heartbeat-fresh) marks the dir in-flight;
    dirs with a fresh claim are never touched, stale claims (dead
    writers) are reclaimed by age. Safe by construction: readers
    resolve files only through the manifest, so an uncommitted or
    superseded dir nobody references is garbage.

    ``dry_run=True`` reports the directories this call WOULD remove —
    history prune simulated, nothing written or deleted — so a
    retention change can be reviewed before the bytes go.

    ``keep``/``older_than_ms`` default from the table's persisted
    retention policy (:func:`set_retention`) when unset — a bare
    ``vacuum(t)`` enforces the policy the table owner declared; with
    no policy either, ``keep`` falls back to 2. Explicit args always
    win."""
    fs = _fs_for(table_dir, spark)
    # the manifest rewrite (history prune) is a table mutation like any
    # other: without the lease, a publish committing between our read
    # and our replace_with would be silently reverted (its snapshot
    # erased, its files orphaned)
    with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms):
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            return []
        policy = manifest.get("retention") or {}
        if keep is None:
            keep = int(policy.get("keep", 2))
        if older_than_ms is None and policy.get("older_than_ms") is not None:
            older_than_ms = int(policy["older_than_ms"])
        committed = int(manifest["version"])
        snaps = manifest.get("snapshots") or {}
        by_v = sorted(int(v) for v in snaps)
        retained = set(by_v[-keep:]) if keep else set()
        retained.add(committed)
        # tagged snapshots are PINNED — an audit freeze survives any
        # keep-count until its tag drops
        retained |= {
            int(v) for v in (manifest.get("tags") or {}).values()
        }
        if older_than_ms is not None:
            now = _now_ms()
            retained |= {
                int(v)
                for v, e in snaps.items()
                if now - int(e.get("committed_at_ms") or 0)
                <= older_than_ms
            }
        pruned = {
            v: e for v, e in snaps.items() if int(v) in retained
        }
        if pruned != snaps:
            manifest["snapshots"] = pruned
            if not dry_run:
                fs.replace_with(
                    json.dumps(manifest),
                    _manifest_path(table_dir, fs),
                    ".tmp.vac",
                )
        # reference set AFTER pruning: every dir a retained snapshot
        # (incl. the committed one) cites a data file or its delete-
        # vector file in must survive. BRANCH HEADS are pinned like
        # tags — their entries live outside the snapshots map, so they
        # join the walk explicitly.
        referenced = set()
        for e in (
            [manifest]
            + list((manifest.get("snapshots") or {}).values())
            + [
                b["head"]
                for b in (manifest.get("branches") or {}).values()
                if isinstance(b.get("head"), dict)
            ]
        ):
            for f in _entry_files(fs, table_dir, e):
                if not _is_ext(f):
                    referenced.add(f.split("/", 1)[0])
            # a clone's segment sidecar dir holds no local data files
            # but IS the snapshot's file list — always referenced
            for seg in e.get("segments") or []:
                referenced.add(seg)
            if e.get("dv"):
                referenced.add(e["dv"].split("/", 1)[0])
                # v2 refs: a snapshot's dv manifest can cite sidecar
                # DATASETS in OLDER version dirs (untouched files keep
                # their refs) — those dirs must survive too
                for v in _load_dv(fs, table_dir, e).values():
                    if isinstance(v, dict) and not _is_ext(v["ds"]):
                        referenced.add(v["ds"].split("/", 1)[0])

        def _claim_fresh(name: str) -> bool:
            """An optimistic writer stages data with NO lease held —
            only its ``.claim`` marker (kept fresh by a staging
            heartbeat) says 'in flight'. Deleting a dir under a fresh
            claim would silently corrupt that writer's commit (its
            manifest would reference deleted files), so vacuum treats
            claim-younger-than-TTL as live, never garbage."""
            try:
                age = _now_ms() - fs.mtime_ms(
                    fs.join(table_dir, name + ".claim")
                )
            except Exception:
                return False  # no claim marker: not an in-flight write
            return age <= lease_ttl_ms

        removed = []
        for name in sorted(
            d
            for d in fs.listdir(table_dir)
            if d.startswith("_v") and d[2:].isdigit()
        ):
            if name in referenced:
                continue  # a retained snapshot still cites files here
            if _claim_fresh(name):
                continue  # in-flight optimistic writer staging here
            if not dry_run:
                fs.rmtree(fs.join(table_dir, name))
                fs.delete_file(fs.join(table_dir, name + ".claim"))
            removed.append(name)
        # orphan claim markers (claimed, crashed before writing a dir):
        # reclaim on AGE — dir names are decoupled from snapshot
        # versions, so 'committed version passed the claim number' says
        # nothing about whether the claimer is alive; a stale mtime
        # (past the lease TTL, which staging heartbeats refresh) does
        dirs_now = {
            d
            for d in fs.listdir(table_dir)
            if d.startswith("_v") and d[2:].isdigit()
        }
        for e in fs.listdir(table_dir):
            if (
                e.endswith(".claim")
                and e.startswith("_v")
                and e[2:-6].isdigit()
                and e[:-6] not in dirs_now
                and not _claim_fresh(e[:-6])
            ):
                if not dry_run:
                    fs.delete_file(fs.join(table_dir, e))
        return removed


def fsck_table(
    table_dir: str,
    spark: Optional[SparkSession] = None,
    check_sizes: bool = False,
    lease_ttl_ms: int = 300_000,
) -> dict:
    """Read-only CONSISTENCY AUDIT of a published table — the
    operational "is this table healthy" primitive (Delta FSCK's
    counterpart): walks every retained snapshot and verifies that each
    cited data file, delete-vector manifest, v2 dv sidecar dataset and
    segment sidecar actually resolves on storage; classifies every
    unreferenced ``_v<N>`` dir as in-flight (fresh claim — an
    optimistic writer staging) or orphan (vacuum candidate); and lists
    stray claim markers. Nothing is mutated — repair is ``vacuum``'s
    job (orphans) or ``restore_table``'s (bad head).

    Returns ``{"ok": bool, "version": int, "snapshots_checked": int,
    "files_checked": int, "missing_files": [...], "size_mismatches":
    [...], "missing_dv": [...], "unreadable_segments": [...],
    "orphan_dirs": [...], "in_flight_dirs": [...], "stray_claims":
    [...], "external_refs": int}`` — ``ok`` is False iff a RETAINED
    snapshot cites something unresolvable (orphans/claims are
    informational; they cost bytes, not correctness).

    ``check_sizes=True`` additionally compares each live file's size
    against the recorded ``file_sizes`` (catches silent truncation/
    overwrite outside the commit protocol) — O(files) stat calls,
    driver-side metadata only, no data IO either way.

    ``lease_ttl_ms`` must match the longest TTL your writers run with
    (same default as every publish) — a claim younger than it is
    classified in-flight, older is orphan; auditing with a smaller TTL
    than a live long-rewrite writer's would mislabel its staging dir.

    Scale: the walk touches manifests and sidecars, never data pages;
    a 100 TB table audits in O(snapshots × files) stats."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("fsck_table: no committed table here")
    report = {
        "ok": True,
        "version": int(manifest["version"]),
        "snapshots_checked": 0,
        "files_checked": 0,
        "missing_files": [],
        "size_mismatches": [],
        "missing_dv": [],
        "unreadable_segments": [],
        "orphan_dirs": [],
        "in_flight_dirs": [],
        "stray_claims": [],
        "external_refs": 0,
    }

    def _resolvable(path: str) -> bool:
        try:
            fs.file_size(path)
            return True
        except Exception:
            return False

    entries = {str(manifest["version"]): manifest}
    for v, e in (manifest.get("snapshots") or {}).items():
        entries.setdefault(str(v), e)
    referenced = set()
    seen_files = set()
    for v, e in sorted(entries.items(), key=lambda kv: int(kv[0])):
        report["snapshots_checked"] += 1
        # segment sidecars must parse (they ARE the file lists)
        for seg in e.get("segments") or []:
            referenced.add(seg)
            try:
                _load_seg(fs, table_dir, seg)
            except Exception as ex:
                report["unreadable_segments"].append(
                    {"snapshot": int(v), "segment": seg, "error": str(ex)}
                )
                continue
        try:
            files = _entry_files(fs, table_dir, e)
        except Exception as ex:
            report["unreadable_segments"].append(
                {"snapshot": int(v), "segment": "<entry>", "error": str(ex)}
            )
            continue
        sizes = {}
        if check_sizes:
            try:
                sizes = _resolve_entry(fs, table_dir, e).get(
                    "file_sizes"
                ) or {}
            except Exception:
                sizes = {}
        for f in files:
            if _is_ext(f):
                report["external_refs"] += 1
            else:
                referenced.add(f.split("/", 1)[0])
            if f in seen_files:
                continue
            seen_files.add(f)
            report["files_checked"] += 1
            p = _ref_path(fs, table_dir, f)
            if not _resolvable(p):
                report["missing_files"].append(
                    {"snapshot": int(v), "file": f}
                )
            elif check_sizes and sizes.get(f) is not None:
                actual = fs.file_size(p)
                if actual != sizes[f]:
                    report["size_mismatches"].append(
                        {
                            "file": f,
                            "recorded": sizes[f],
                            "actual": actual,
                        }
                    )
        if e.get("dv"):
            referenced.add(e["dv"].split("/", 1)[0])
            try:
                dvmap = _load_dv(fs, table_dir, e)
            except Exception as ex:
                report["missing_dv"].append(
                    {"snapshot": int(v), "dv": e["dv"], "error": str(ex)}
                )
                dvmap = {}
            for f, val in dvmap.items():
                if isinstance(val, dict):
                    ds = val["ds"]
                    if not _is_ext(ds):
                        referenced.add(ds.split("/", 1)[0])
                    dsp = _ref_path(fs, table_dir, ds)
                    try:
                        if not fs.walk_files(dsp):
                            raise FileNotFoundError(dsp)
                    except Exception:
                        report["missing_dv"].append(
                            {"snapshot": int(v), "file": f, "ds": ds}
                        )
    dirs = sorted(
        d
        for d in fs.listdir(table_dir)
        if d.startswith("_v") and d[2:].isdigit()
    )
    for name in dirs:
        if name in referenced:
            continue
        try:
            age = _now_ms() - fs.mtime_ms(
                fs.join(table_dir, name + ".claim")
            )
            fresh = age <= lease_ttl_ms
        except Exception:
            fresh = False
        (report["in_flight_dirs"] if fresh else report["orphan_dirs"]).append(
            name
        )
    dirset = set(dirs)
    for e in fs.listdir(table_dir):
        if (
            e.endswith(".claim")
            and e.startswith("_v")
            and e[2:-6].isdigit()
            and e[:-6] not in dirset
        ):
            report["stray_claims"].append(e)
    report["ok"] = not (
        report["missing_files"]
        or report["size_mismatches"]
        or report["missing_dv"]
        or report["unreadable_segments"]
    )
    return report


def compact(
    spark: SparkSession,
    table_dir: str,
    target_files: Optional[int] = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: republish the CURRENT snapshot's rows as
    a new version whose file count is sized from the snapshot's BYTES —
    ``ceil(size_bytes / target_file_bytes)`` output files (128 MB
    default), never a fixed constant. Readers never see a
    half-compacted table — the rewrite is an ordinary versioned publish
    committed by the same atomic manifest swap, and the pre-compaction
    version stays readable (time travel) until ``vacuum`` reclaims it.
    ``target_files`` overrides the derived count when set.

    Sizing at scale: a fixed file count is wrong in both directions —
    1 file funnels a large snapshot through ONE task (a single-task
    full-table rewrite), and one-file-per-partition-value rewrites a
    skewed partition value in one task. So: the total byte size comes
    from the manifest (recorded at publish; summed from the filesystem
    for pre-size manifests), and the shuffle is
    ``repartitionByRange(n, *partition_by, xxhash64(payload))`` — the
    range sort keeps each hive partition value's rows contiguous (so a
    task writes ~1 partition directory, no file-count explosion) while
    the hash tail SPLITS a skewed value across as many tasks as its
    bytes demand. Every output file lands near ``target_file_bytes``
    regardless of partition skew. Unpartitioned tables use round-robin
    ``repartition(n)`` — perfectly even files, no sort.

    The ingest pattern this serves: many small appended publishes
    (micro-batch ``foreachBatch`` publishes, ``merge_publish`` deltas)
    accumulate file counts that degrade planning at 100 TB — the
    task-per-file floor and driver listing memory both scale with file
    count, not bytes. A periodic ``compact()`` keeps files O(bytes /
    128 MB), and because it is just publish-over-read it inherits crash
    consistency for free (a dead compactor leaves only an orphan
    ``_v<K>`` dir the next publish skips past and vacuum removes)."""
    import math

    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, spark)
    # read+republish under ONE lease; heartbeat keeps a live multi-hour
    # rewrite from being TTL-evicted (eviction = crashed writers only)
    with _Lease(fs, table_dir, heartbeat=True) as lease:
        cur = read_published(spark, table_dir)
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("no committed table at %s" % table_dir)
        parts = manifest.get("partition_by") or []
        pspec = manifest.get("partition_spec")
        if target_files is None:
            _, size = _entry_counters(fs, table_dir, manifest)
            target_files = max(1, math.ceil(size / float(target_file_bytes)))
        if parts:
            # hidden partitioning: re-derive the transform columns so
            # the range clustering co-locates each physical partition
            # (atomic_publish drops them again for the logical schema)
            cur = _materialize_partition_cols(cur, pspec)
            payload = [c for c in cur.columns if c not in parts]
            out = (
                cur.withColumn(
                    "_ck",
                    F.xxhash64(*[F.col(c) for c in payload] or [F.lit(0)]),
                )
                .repartitionByRange(
                    target_files,
                    *([F.col(c) for c in parts] + [F.col("_ck")])
                )
                .drop("_ck")
            )
        else:
            out = cur.repartition(target_files)
        return atomic_publish(
            out, table_dir, partition_by=parts or None, _lease=lease,
            data_change=False, operation="compact", _partition_spec=pspec,
            _keep_layout=True,
        )


def compact_files(
    spark: SparkSession,
    table_dir: str,
    small_bytes: int = 32 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_files: Optional[int] = None,
    stats_cols=None,
    bloom_cols=None,
    lease_ttl_ms: int = 300_000,
) -> Optional[int]:
    """INCREMENTAL small-file compaction — Delta OPTIMIZE's bin-pack:
    rewrite only the live files smaller than ``small_bytes`` into
    ~``target_file_bytes`` outputs; every right-sized file carries by
    reference. This is the maintenance primitive :func:`compact` is NOT
    at 100 TB — a full-snapshot rewrite costs the whole table, this
    costs exactly the small-file bytes, so an hourly run over a
    micro-batch ingest stays O(new files) forever. Works on
    partitioned AND unpartitioned tables (the fold preserves hive
    partition values; partition-level folding with per-partition byte
    targets stays :func:`compact_partitions`' job). Returns the
    committed version, or None when fewer than two files qualify.

    ``max_files`` caps one run's rewrite set (oldest-first) so a
    backlogged table drains across bounded maintenance windows instead
    of one giant commit. Delete vectors on folded files are PHYSICALLY
    applied (the rewrite reads masked) — row membership never changes,
    so the commit is ``dataChange=false`` and incremental readers skip
    it. Optimistic: a racing commit touching a picked file re-runs
    nothing — this is maintenance; the caller's next cycle retries."""
    import math

    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("compact_files: no committed table here")
    parts = manifest.get("partition_by") or []
    res = _resolve_entry(fs, table_dir, manifest)
    sizes = dict(res.get("file_sizes") or {})
    picked = []
    total = 0
    for f in res["files"]:  # manifest order ≈ commit order: oldest first
        sz = sizes.get(f)
        if sz is None:
            try:
                sz = fs.file_size(_ref_path(fs, table_dir, f))
            except Exception:
                continue
        if sz < small_bytes:
            picked.append(f)
            total += sz
            if max_files is not None and len(picked) >= max_files:
                break
    if len(picked) < 2:
        return None
    dv0 = _load_dv(fs, table_dir, manifest)
    folded = _read_files(
        spark, fs, table_dir, picked, manifest["schema"], bool(parts),
        dv=dv0, evo=_evo_of(manifest, res),
    )
    n_out = max(1, math.ceil(total / float(target_file_bytes)))
    if parts:
        from pyspark.sql import functions as F

        folded = _materialize_partition_cols(
            folded, manifest.get("partition_spec")
        )
        payload = [c for c in folded.columns if c not in parts]
        folded = (
            folded.withColumn(
                "_ck",
                F.xxhash64(*[F.col(c) for c in payload] or [F.lit(0)]),
            )
            .repartitionByRange(
                n_out, *([F.col(c) for c in parts] + [F.col("_ck")])
            )
            .drop("_ck")
        )
    else:
        folded = folded.repartition(n_out)
    return replace_files_publish(
        folded, table_dir, picked, lease_ttl_ms=lease_ttl_ms,
        stats_cols=stats_cols, bloom_cols=bloom_cols, _base=manifest,
        data_change=False, operation="compact_files",
    )


def _prune_key_candidates(res: dict, candidates, col: str, key_vals):
    """Probe-scan pruning for a single-column key batch: drop files
    whose recorded min/max RANGE excludes every batch key (wins big on
    monotone keys — time/sequence-keyed tables localize a batch to a
    few recent files), then files whose equality BLOOM proves every
    batch key absent. Conservative by construction: no index, no
    prune."""
    stats = res.get("file_stats") or {}
    kept = []
    for f in candidates:
        mm = (stats.get(f) or {}).get(col)
        if mm is None:
            kept.append(f)
            continue
        mn, mx = mm
        try:
            if any(mn <= v <= mx for v in key_vals):
                kept.append(f)
        except TypeError:
            kept.append(f)  # incomparable stats: stay conservative
    if res.get("file_blooms"):
        kept = [
            f
            for f in kept
            if any(_prune_eq(res, [f], {col: v}) for v in key_vals)
        ]
    return kept


def merge_publish(
    changes: DataFrame,
    table_dir: str,
    key_cols,
    version_cols,
    op_col: Optional[str] = None,
    delete_op: str = "delete",
    partition_by=None,
    lease_ttl_ms: int = 300_000,
) -> int:
    """MERGE INTO with snapshot isolation: apply a CDC change batch
    onto the committed snapshot (``scale.cdc_apply`` — last-writer-wins
    upserts + tombstone deletes in ONE map-combined max-struct
    aggregate, no window) and publish the result as the next version.
    Readers see the pre-merge or post-merge snapshot, never a mix, and
    time travel retains the pre-merge version.

    The FIRST merge into an empty table runs the same ``cdc_apply``
    against an empty base (not a raw insert), so an intra-batch
    duplicate key collapses to its last writer and an upsert-then-
    delete of one key nets to absent — identical semantics to every
    later merge, and the 'key_cols unique in base' contract holds from
    version 1. The snapshot KEEPS the version columns (the next
    merge's base side needs them), dropping only the op marker.

    The table's hive partition layout is PRESERVED: ``partition_by``
    is read from the committed manifest (or taken from the parameter
    on first merge) and passed through to the republish, so merging
    never silently drops partition pruning from the new snapshot.

    Commit concurrency: the whole read-merge-publish runs under the
    table's commit lease, so two mergers can't both read version N and
    race their N+1 manifests (lost update) — the loser raises
    :class:`ConcurrentWriteError`. The merge rewrites the table — the
    right shape while snapshots are repartition-light; at petabyte
    scale a format keeps deltas and compacts, which is ``cdc_apply``
    run lazily instead of eagerly."""
    from bamboo_spark.operators.scale import cdc_apply

    spark = changes.sparkSession
    fs = _fs_for(table_dir, spark)
    fs.mkdirs(table_dir)
    vers = [version_cols] if isinstance(version_cols, str) else list(version_cols)
    with _Lease(
        fs, table_dir, ttl_ms=lease_ttl_ms, heartbeat=True
    ) as lease:
        prev = _read_manifest(table_dir, fs)
        if prev is None:
            base = changes.limit(0)
            if op_col:
                base = base.drop(op_col)
            parts, pspec = partition_by, None
        else:
            base = read_published(spark, table_dir)
            parts = prev.get("partition_by") or None
            pspec = prev.get("partition_spec")
        merged = cdc_apply(
            base, changes, key_cols, vers, op_col=op_col, delete_op=delete_op
        )
        return atomic_publish(
            merged, table_dir, partition_by=parts, _lease=lease,
            operation="merge", _partition_spec=pspec,
        )


def merge_publish_incremental(
    changes: DataFrame,
    table_dir: str,
    key_cols,
    version_cols,
    op_col: Optional[str] = None,
    delete_op: str = "delete",
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    meta: Optional[dict] = None,
    partition_by=None,
    schema_evolution: bool = False,
) -> Optional[int]:
    """MERGE-ON-READ upsert: apply a CDC batch in ONE commit that
    (a) delete-vectors the old rows of every key the batch touches —
    found by row ADDRESS, no file rewritten — and (b) appends the
    batch's post-state rows as new files. This is ``merge_publish``
    without the table rewrite: commit IO is O(batch) regardless of
    table size (the Delta merge + deletion-vectors shape). The eager
    rewrite remains the right call when churn has accumulated —
    ``compact`` folds the vectors away.

    Intra-batch semantics match ``merge_publish`` exactly (the batch is
    collapsed per key by ``scale.cdc_apply`` against an empty base:
    last writer by ``version_cols`` wins, tombstones net to absent).

    The address scan is bloom-pruned when the table has per-file
    blooms on the (single) key column: only candidate files open.
    Concurrency is optimistic like every publish: the scan runs
    lease-less; at commit the rebase succeeds iff the table kept its
    schema/layout, every matched file is still live, and their delete
    vectors are unchanged — anything else raises. Returns the committed
    version, or None for a no-op batch.

    ``schema_evolution=True``: a batch carrying NEW columns widens the
    table schema in the same commit (add-only, fresh field ids; retype
    and retired-name resurrection refused), and a batch missing table
    columns NULL-fills them — the upstream-added-a-column case a CDC
    pipeline hits first, same contract as
    ``merge_into(schema_evolution=True)``."""
    from pyspark.sql import Observation, functions as F

    from bamboo_spark.operators.scale import cdc_apply

    spark = changes.sparkSession
    fs = _fs_for(table_dir, spark)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    vers = (
        [version_cols]
        if isinstance(version_cols, str)
        else list(version_cols)
    )
    base_empty = changes.limit(0)
    if op_col:
        base_empty = base_empty.drop(op_col)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        # first batch seeds the table: same cdc_apply-against-empty
        # semantics as merge_publish's first merge
        seeded = cdc_apply(
            base_empty, changes, keys, vers, op_col=op_col,
            delete_op=delete_op,
        )
        return atomic_publish(
            seeded, table_dir, partition_by=partition_by, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            lease_ttl_ms=lease_ttl_ms, operation="merge",
        )
    parts = manifest.get("partition_by") or []
    upserts = cdc_apply(
        base_empty, changes, keys, vers, op_col=op_col,
        delete_op=delete_op,
    )
    # strict schema contract, same rule as append_publish: the merged
    # rows land in new files read under the MANIFEST schema — a
    # renamed/retyped column would corrupt quietly at scan time.
    # schema_evolution=True relaxes it to ADD-ONLY widening (the
    # upstream-added-a-column CDC case), _widen_schema's rules.
    new_sig = [
        (f["name"], f["type"])
        for f in json.loads(upserts.schema.json())["fields"]
    ]
    old_sig = [
        (f["name"], f["type"])
        for f in json.loads(manifest["schema"])["fields"]
    ]
    out_schema_json = out_fids = None
    if new_sig != old_sig:
        if not schema_evolution:
            raise ValueError(
                "merge_publish_incremental: batch schema differs from "
                "the committed table schema (pass schema_evolution="
                "True to add new nullable columns): batch=%s table=%s"
                % (new_sig, old_sig)
            )
        out_schema_json, out_fids = _widen_schema(
            manifest,
            json.loads(upserts.schema.json())["fields"],
            "merge_publish_incremental",
        )
        upserts = _align_to(
            upserts, out_schema_json or manifest["schema"]
        )
    upserts = upserts.localCheckpoint(eager=True)  # write + key probe
    batch_keys = changes.select(*keys).distinct()
    # ---- address scan (no lease): where do the touched keys live NOW?
    res = _resolve_entry(fs, table_dir, manifest)
    candidates = list(res["files"])
    if (
        candidates
        and len(keys) == 1
        and (res["file_blooms"] or res["file_stats"])
    ):
        # driver-side pruning is worth it only while #keys × #files is
        # small — collect AT MOST cap+1 keys, never the whole batch
        cap = 2_000_000 // len(candidates)
        key_vals = [r[0] for r in batch_keys.limit(cap + 1).collect()]
        if key_vals and len(key_vals) <= cap:
            candidates = _prune_key_candidates(
                res, candidates, keys[0], key_vals
            )
    addr = None
    if candidates:
        # matched-row ADDRESSES as a DataFrame — never collected; the
        # commit phase folds them into delete vectors with a
        # distributed sidecar write (_dv_build)
        addr = (
            _read_files_with_pos(
                spark, fs, table_dir, candidates, manifest["schema"],
                bool(parts), evo=_evo_of(manifest, res),
            )
            .join(F.broadcast(batch_keys), keys, "inner")
            .select("_fp", "_ri")
        )
    return _mor_commit(
        spark, fs, table_dir, manifest, addr, candidates, upserts,
        parts, lease_ttl_ms, stats_cols, bloom_cols, meta,
        who="merge_publish_incremental",
        out_schema_json=out_schema_json, out_fids=out_fids,
    )


_WIDEN_CHAIN = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _can_widen(frm, to) -> bool:
    """Delta's type-widening promotion set, restricted to the upcasts
    Spark's parquet reader performs NATIVELY when scanning a narrow
    file under the wide schema (verified on Spark 4.1: the
    byte→short→int→long chain, float→double, byte/short/int→double).
    That native read is what makes widening a METADATA-ONLY commit —
    old files simply read upcast, zero data IO at any table size.
    long→double is excluded (lossy past 2^53), same rule as Delta."""
    if not isinstance(frm, str) or not isinstance(to, str) or frm == to:
        return False
    if frm in _WIDEN_CHAIN and to in _WIDEN_CHAIN:
        return _WIDEN_CHAIN[to] > _WIDEN_CHAIN[frm]
    if frm == "float" and to == "double":
        return True
    return frm in ("byte", "short", "integer") and to == "double"


def _widen_schema(manifest: dict, src_fields, who: str):
    """Schema widening for merge paths (Delta's withSchemaEvolution
    rules): new names must not resurrect retired ones and arrive as
    nullable columns with FRESH field ids; an existing column whose
    source type is a supported WIDENING (:func:`_can_widen`) adopts
    the wider type — keeping its field id, since widening never
    touches identity; a NARROWER source type is fine as-is (the
    caller's ``_align_to`` casts it up); any other type change raises.
    Returns ``(out_schema_json, (fids, next_id))`` — schema None when
    the source neither adds nor widens anything (it may still be
    MISSING table columns; the caller NULL-fills), fids None when no
    column was added (ids unchanged)."""
    src_sig = [(f["name"], f["type"]) for f in src_fields]
    old_fields = json.loads(manifest["schema"])["fields"]
    old_sig = [(f["name"], f["type"]) for f in old_fields]
    src_types = dict(src_sig)
    widened: dict = {}
    bad = []
    for n, t in old_sig:
        st = src_types.get(n)
        if st is None or st == t:
            continue
        if _can_widen(t, st):
            widened[n] = st
        elif not _can_widen(st, t):
            bad.append(n)
    if bad:
        raise ValueError(
            "%s(schema_evolution): column type change(s) %s are "
            "neither a supported widening (byte→short→int→long, "
            "float→double, int→double) nor a narrower source type "
            "castable to the table's" % (who, bad)
        )
    old_names = {n for n, _ in old_sig}
    added = [f for f in src_fields if f["name"] not in old_names]
    retired = set(manifest.get("retired_names") or [])
    readded = [f["name"] for f in added if f["name"] in retired]
    if readded:
        raise ValueError(
            "%s(schema_evolution): column name(s) %s were dropped or "
            "renamed away earlier — re-adding the name would resurrect "
            "old bytes; pick a new name" % (who, readded)
        )
    if not added and not widened:
        return None, None
    union_fields = [
        {**f, "type": widened.get(f["name"], f["type"])}
        for f in old_fields
    ] + [{**f, "nullable": True} for f in added]
    out_json = json.dumps({"type": "struct", "fields": union_fields})
    if not added:
        return out_json, None
    fids, nxt = _field_ids_of(manifest)
    for f in added:
        fids[f["name"]] = nxt
        nxt += 1
    return out_json, (fids, nxt)


def _align_to(df: DataFrame, schema_json: str) -> DataFrame:
    """Project ``df`` onto the given schema: columns in order, exact
    types, missing ones NULL-filled."""
    from pyspark.sql import functions as F, types as T

    st = T.StructType.fromJson(json.loads(schema_json))
    return df.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in st.fields
        ]
    )


def _mor_commit(
    spark: SparkSession,
    fs,
    table_dir: str,
    manifest: dict,
    addr_df: Optional[DataFrame],
    cand_files,
    out_df: Optional[DataFrame],
    parts,
    lease_ttl_ms: int,
    stats_cols,
    bloom_cols,
    meta: Optional[dict],
    who: str,
    out_schema_json: Optional[str] = None,
    out_fids: Optional[tuple] = None,
    operation: str = "merge",
) -> Optional[int]:
    """The MERGE-ON-READ write+commit phase shared by
    ``merge_publish_incremental``, ``merge_into``, ``update_publish``
    and the delete-vector delete (``out_df=None``: no data write):
    write ``out_df`` as the delta's new files and fold ``addr_df`` (the
    matched rows' ``(_fp, _ri)`` addresses, still a DataFrame —
    positions never touch the driver) into executor-written
    delete-vector sidecars (:func:`_dv_build`), both WITHOUT the
    lease; then under a short
    commit lease swap the manifest — with the address-validity rebase
    that makes the lease-less scan safe (a concurrent commit that
    rewrote a matched file or changed its vectors raises instead of
    losing the race).

    ``out_schema_json``/``out_fids`` (``(fids, next_id)``) carry a
    MERGE-widened schema (``merge_into(schema_evolution=True)``): the
    committed entry adopts them, new files stamp the extended ids, and
    pre-widening files read the added columns as NULL (schema-merge
    read semantics, same as append's merge mode)."""
    dv0 = _load_dv(fs, table_dir, manifest)
    fids = out_fids[0] if out_fids else _field_ids_of(manifest)[0]
    with _Stage(fs, table_dir, manifest, who, lease_ttl_ms) as st:
        build = (spark, fs, table_dir, st.seg, addr_df, cand_files, dv0)
        if out_df is None:  # a delete: no data write to overlap
            new_refs, n_deleted = _dv_build(*build)
        else:
            # ---- dv-write phase (no lease), CONCURRENT with the data
            # write: the matched addresses (checkpointed upstream) and
            # the post-state rows are independent pipelines that both
            # must finish before the commit swap — submitting the
            # sidecar build from a second driver thread lets its jobs
            # back-fill executor slots left idle by the write's tail
            # instead of running after it (optimization guide §2.6,
            # overlap independent jobs). Both land in the staged dir:
            # the sidecar under the hidden ``_dvp`` the data scan skips.
            dv_fut = st.submit(_dv_build, *build) if addr_df is not None else None
            st.write(
                _pt_rebalance(
                    _materialize_partition_cols(
                        out_df, manifest.get("partition_spec")
                    ),
                    parts,
                ),
                parts,
            )
            if st.n_rows == 0:
                # a zero-row post-state (all-delete or no-op merge)
                # still leaves empty part files — never cite them
                st.files, st.sizes = [], {}
            new_refs, n_deleted = dv_fut.result() if dv_fut else ({}, 0)
        if not st.files and not new_refs:
            return None  # nothing matched, nothing added
        st.index(
            spark, out_schema_json or manifest["schema"], fids,
            stats_cols, bloom_cols,
        )

        def entry_of(prev):
            entry = _grow_entry(
                fs, table_dir, prev, st, operation,
                int(prev["n_rows"]) - n_deleted + st.n_rows,
                out_schema_json,
            )
            if out_fids:
                entry["field_ids"] = out_fids[0]
                entry["next_field_id"] = out_fids[1]
            entry.update(
                _dv_entry(
                    fs, table_dir, st.seg,
                    {**_load_dv(fs, table_dir, prev), **new_refs},
                )
            )
            if meta:
                entry["meta"] = dict(meta)
            return entry

        # ---- commit phase: short lease + address-validity rebase
        return st.commit(
            entry_of,
            lambda cur: _files_unchanged(
                fs, table_dir, manifest, cur, new_refs, who
            ),
        )


def merge_into(
    source: DataFrame,
    table_dir: str,
    key_cols,
    when_matched_update: Optional[dict] = None,
    when_matched_update_condition: Optional[str] = None,
    when_matched_delete_condition: Optional[str] = None,
    when_not_matched_insert=True,
    when_not_matched_by_source_delete=None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    meta: Optional[dict] = None,
    schema_evolution: bool = False,
) -> Optional[int]:
    """Conditional ``MERGE INTO`` (the full Delta/ANSI shape, on the
    merge-on-read commit): join ``source`` to the committed snapshot on
    ``key_cols`` and, per matched target row,

    - DELETE it when ``when_matched_delete_condition`` holds (evaluated
      first, as a guard clause);
    - else UPDATE it when ``when_matched_update`` is given and
      ``when_matched_update_condition`` (default: always) holds —
      ``{col: sql_expr}`` assignments, unlisted columns keep the target
      value;
    - else leave it UNTOUCHED (no delete vector, no rewrite — a merge
      whose conditions fire on 1% of matches costs 1%);

    and INSERT source rows matching no target row when
    ``when_not_matched_insert`` holds (``True``, ``False``, or a SQL
    condition). Conditions and update expressions reference the source
    row as ``s.<col>`` and the target row as ``t.<col>``
    (``"s.v > t.v"``).

    ``when_not_matched_by_source_delete`` (``None``/``True``/SQL over
    ``t.``) is Delta's full-sync clause: target rows whose key appears
    NOWHERE in the source are deleted when the condition holds —
    ``merge_into(src, dir, k, when_matched_update=..., when_not_
    matched_insert=True, when_not_matched_by_source_delete=True)``
    makes the table exactly mirror the source. Cost note: this clause
    must SCAN every live file (a row's absence from the source can't
    be bloom-pruned), and its fired rows delete by vector — a sync
    expected to delete most of the table is cheaper as a fresh
    ``atomic_publish``.

    Semantics follow Delta MERGE: it is an ERROR for one target row to
    match more than one source row (nondeterministic update) — checked
    distributedly and raised BEFORE any write. The whole statement is
    ONE commit: delete vectors for the fired matched rows + new files
    holding updated/inserted rows (O(changes), never a table rewrite),
    with the same optimistic address-validity rebase as
    ``merge_publish_incremental``. ``source`` must carry exactly the
    table's columns (strict, same contract as every incremental
    publish) — unless ``schema_evolution=True`` (Delta's
    ``withSchemaEvolution()``): then NEW source columns WIDEN the table
    schema in the same commit (add-only, nullable; type changes and
    retired names still refuse), inserted rows carry them, updated rows
    take them from the source only when the update dict assigns them
    (NULL otherwise — they had no target value), and files written
    before the widening read them as NULL; a source missing table
    columns contributes NULL for those on insert. The first thing a CDC
    pipeline hits when the upstream adds a column. LWW-style CDC
    batches with op markers want ``merge_publish_incremental`` instead;
    this is the predicate form (conditional upserts, guarded deletes,
    insert-if).

    Scale: the match scan opens only bloom/stat candidate files for
    single-column keys; addresses collected are O(matched rows); the
    cardinality check is one distributed aggregate over the matched
    join. Returns the committed version, or None when nothing fired."""
    from pyspark.sql import functions as F

    spark = source.sparkSession
    fs = _fs_for(table_dir, spark)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if when_matched_update is not None:
        bad = [c for c in when_matched_update if c in keys]
        if bad:
            raise ValueError(
                "merge_into: refusing to update key column(s) %s — "
                "rekeying a row is a delete + insert" % bad
            )
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        # empty table: every source row is NOT MATCHED — the statement
        # reduces to the conditional insert (streaming merge sinks hit
        # this on their first micro-batch)
        ins = source
        if isinstance(when_not_matched_insert, str):
            ins = ins.alias("s").where(F.expr(when_not_matched_insert))
        elif when_not_matched_insert is False:
            ins = ins.limit(0)
        return atomic_publish(
            ins, table_dir, lease_ttl_ms=lease_ttl_ms, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            operation="merge",
        )
    parts = manifest.get("partition_by") or []
    src_fields = json.loads(source.schema.json())["fields"]
    new_sig = [(f["name"], f["type"]) for f in src_fields]
    old_fields = json.loads(manifest["schema"])["fields"]
    old_sig = [(f["name"], f["type"]) for f in old_fields]
    out_schema_json: Optional[str] = None
    out_fids: Optional[tuple] = None
    if new_sig != old_sig:
        if not schema_evolution:
            raise ValueError(
                "merge_into: source schema differs from the committed "
                "table schema (pass schema_evolution=True to add new "
                "nullable columns): source=%s table=%s"
                % (new_sig, old_sig)
            )
        # ADD-ONLY widening (shared rules, see _widen_schema), then
        # align the source to the (possibly widened) table column
        # order, NULL-filling table columns the source lacks
        out_schema_json, out_fids = _widen_schema(
            manifest, src_fields, "merge_into"
        )
        source = _align_to(
            source, out_schema_json or manifest["schema"]
        )
    cols = [
        f["name"]
        for f in json.loads(out_schema_json or manifest["schema"])[
            "fields"
        ]
    ]
    tgt_cols = {n for n, _ in old_sig}
    src_typed = {
        f.name: f.dataType for f in source.schema.fields
    }
    source = source.localCheckpoint(eager=True)  # scanned 3x below
    src_keys = source.select(*keys).distinct()
    # ---- match scan (no lease): candidate files by bloom/stats
    res = _resolve_entry(fs, table_dir, manifest)
    dv0 = _load_dv(fs, table_dir, manifest)
    nmbs = when_not_matched_by_source_delete
    candidates = list(res["files"])
    if nmbs is None and len(keys) == 1 and (
        res["file_blooms"] or res["file_stats"]
    ) and (
        len(candidates) >= _KEY_PRUNE_MIN_FILES
        or sum(
            res["file_sizes"].get(f) or 0 for f in candidates
        ) >= _KEY_PRUNE_MIN_BYTES
    ):
        # range+bloom-prune the probe to files that may hold source
        # keys — valid only while no clause targets rows ABSENT from
        # the source; collect AT MOST cap+1 keys, never a table-sized
        # source's whole key set. Gated on candidate-set size: the
        # probe costs a source key scan + a driver collect (2 jobs),
        # and on a table of a handful of small files it can prune at
        # most that handful of cheap opens — strictly overhead. Any
        # data-sized table (many files OR real bytes) keeps the probe,
        # which is where it turns a table scan into a few file opens.
        cap = 2_000_000 // len(candidates)
        key_vals = [r[0] for r in src_keys.limit(cap + 1).collect()]
        if key_vals and len(key_vals) <= cap:
            candidates = _prune_key_candidates(
                res, candidates, keys[0], key_vals
            )
    delete_cond = when_matched_delete_condition
    update_cond = when_matched_update_condition or "true"
    fired_m = None  # matched rows where any clause fires, with address
    matched_keys = None
    tgt = None
    if candidates:
        tgt = _read_files_with_pos(
            spark, fs, table_dir, candidates, manifest["schema"],
            bool(parts), evo=_evo_of(manifest, res),
        )
        dv_scanned = {f: v for f, v in dv0.items() if f in set(candidates)}
        if dv_scanned:
            # already-deleted rows never match (merge-on-read mask) —
            # chunk-native bit test against the stored bitmap rows
            tgt = _dv_mask(
                tgt, "_fp", "_ri",
                _dv_chunks_df(spark, fs, table_dir, dv_scanned),
            )
        # ---- the matched join, materialized ONCE (r13): the dup
        # check, the fired-row addresses (_dv_build), the UPDATE
        # post-state and the insert anti-join key set all consume this
        # frame — without the checkpoint each consumer re-ran the
        # candidate-file scan + dv mask + join from scratch (3 full
        # executions per merge). O(matched rows) with both row images,
        # the same bound the merge's own write already carries; struct
        # packing keeps the s./t. name spaces so every user-supplied
        # clause expression resolves unchanged.
        m = (
            tgt.alias("t")
            .join(
                source.alias("s"),
                [F.col("t." + k) == F.col("s." + k) for k in keys],
                "inner",
            )
            .select(
                F.struct(
                    *[F.col("t." + c) for c in tgt.columns]
                ).alias("t"),
                F.struct(
                    *[F.col("s." + c) for c in source.columns]
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        # cardinality violation check (Delta MERGE rule): one target
        # row, many source rows = nondeterministic UPDATE/DELETE — one
        # aggregate over the checkpointed match frame, raised before
        # anything is written. Insert-only merges (no matched clause)
        # skip it, like Delta: duplicate source matches can't touch any
        # target row, so they're legal (and the check's aggregate would
        # be pure cost)
        if when_matched_update is not None or delete_cond:
            dup = (
                m.groupBy(F.col("t._fp"), F.col("t._ri"))
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "merge_into: a target row matches multiple source "
                    "rows on key %s — deduplicate the source "
                    "(cardinality violation)" % keys
                )
        fire = F.expr("false")
        if delete_cond:
            fire = fire | F.expr(delete_cond)
        if when_matched_update is not None:
            upd_fire = F.expr(update_cond)
            if delete_cond:
                upd_fire = upd_fire & ~F.expr(delete_cond)
            fire = fire | upd_fire
        fired_m = m.where(fire)
        matched_keys = m.select(
            *[F.col("s." + k).alias(k) for k in keys]
        ).distinct()
    # addresses of every fired matched row (deleted OR updated) — kept
    # as a DataFrame end-to-end; _mor_commit folds them into executor-
    # written delete-vector sidecars without a driver collect
    addr: Optional[DataFrame] = None
    if nmbs is not None and nmbs is not False and tgt is not None:
        # NO broadcast hint: this clause's advertised use is full-table
        # sync, where the source (and hence its key set) is table-sized
        # — AQE broadcasts small key sets on its own; forcing the hint
        # here would OOM the driver exactly when the clause matters
        unmatched = tgt.alias("t").join(src_keys, keys, "left_anti")
        if isinstance(nmbs, str):
            unmatched = unmatched.where(F.expr(nmbs))
        addr = unmatched.select("_fp", "_ri")
    if fired_m is not None:
        fired_addr = fired_m.select(
            F.col("t._fp").alias("_fp"), F.col("t._ri").alias("_ri")
        )
        addr = fired_addr if addr is None else addr.unionByName(fired_addr)
    # post-state rows: updated matches + conditional inserts
    out = None
    if when_matched_update is not None and fired_m is not None:
        upd = fired_m
        if delete_cond:
            upd = upd.where(~F.expr(delete_cond))
        upd = upd.where(F.expr(update_cond)).select(
            *[
                (
                    F.expr(when_matched_update[c]).alias(c)
                    if c in when_matched_update
                    else (
                        F.col("t." + c).alias(c)
                        if c in tgt_cols
                        # widened this commit: no target value exists
                        else F.lit(None).cast(src_typed[c]).alias(c)
                    )
                )
                for c in cols
            ]
        )
        out = upd
    if when_not_matched_insert is not False:
        ins = (
            source.join(matched_keys, keys, "left_anti")
            if matched_keys is not None
            else source
        )
        if isinstance(when_not_matched_insert, str):
            # insert condition references the source row as s.<col>
            ins = ins.alias("s").where(F.expr(when_not_matched_insert))
        ins = ins.select(*cols)
        out = ins if out is None else out.unionByName(ins)
    if out is None:
        out = source.limit(0).select(*cols)
    if out_schema_json:
        # uniform post-state types: updated rows keep narrow target
        # values until this cast, inserts are already wide — the new
        # files must all land under the (possibly widened) out schema
        out = _align_to(out, out_schema_json)
    return _mor_commit(
        spark, fs, table_dir, manifest, addr, candidates, out, parts,
        lease_ttl_ms, stats_cols, bloom_cols, meta, who="merge_into",
        out_schema_json=out_schema_json, out_fids=out_fids,
    )


def diff_versions(
    spark: SparkSession,
    table_dir: str,
    old_version: int,
    new_version: Optional[int] = None,
    id_col: str = "id",
    content_col: Optional[str] = None,
) -> DataFrame:
    """Audit what changed between two retained snapshots: per id,
    'added' / 'removed' / 'changed' / 'unchanged' via
    ``scale.snapshot_diff`` (digest-only shuffle). ``content_col``
    defaults to every non-id column packed into one struct, so any
    payload change counts as 'changed'.

    On RENAMED/DROPPED-column tables the two snapshots are compared
    under the NEW version's schema by FIELD ID: a column that merely
    changed its name between the versions compares value-to-value
    (never a spurious whole-table 'changed'), a column added after
    ``old_version`` reads as NULL there, and a dropped one leaves the
    comparison — the same end-schema rule as :func:`read_changes`.
    ``id_col`` names the NEW version's column."""
    from pyspark.sql import functions as F

    from bamboo_spark.operators.scale import snapshot_diff

    old = read_published(spark, table_dir, version=old_version)
    new = read_published(spark, table_dir, version=new_version)
    if old.columns != new.columns:
        # align OLD onto the NEW schema by field id (metadata-only):
        # renamed columns line up, later-added ones read NULL
        fs = _fs_for(table_dir, spark)
        manifest = _read_manifest(table_dir, fs)
        snaps = manifest.get("snapshots", {})

        def _entry(v):
            if v is None or int(v) == int(manifest["version"]):
                return manifest
            return snaps[str(int(v))]

        old_ids = _field_ids_of(_entry(old_version))[0]
        new_ids = _field_ids_of(_entry(new_version))[0]
        old_by_id = {i: n for n, i in old_ids.items()}
        old = old.select(
            *[
                (
                    F.col(old_by_id[new_ids[c]]).alias(c)
                    if new_ids.get(c) in old_by_id
                    else F.lit(None)
                    .cast(dict(new.dtypes)[c])
                    .alias(c)
                )
                for c in new.columns
            ]
        )
    if content_col is None:
        content_col = "_payload"
        pack = lambda df: df.select(  # noqa: E731
            F.col(id_col),
            F.to_json(
                F.struct(*[c for c in df.columns if c != id_col])
            ).alias("_payload"),
        )
        old, new = pack(old), pack(new)
    return snapshot_diff(old, new, id_col=id_col, content_col=content_col)


def compact_partitions(
    spark: SparkSession,
    table_dir: str,
    values=None,
    partition_col: Optional[str] = None,
    min_files: int = 2,
    target_file_bytes: int = 128 * 1024 * 1024,
    lease_ttl_ms: int = 300_000,
) -> Optional[int]:
    """Partial compaction: rewrite ONLY fragmented hive partitions —
    the maintenance loop for an ``append_publish``/``publish_stream``
    ingest, where each micro-batch adds a file per touched partition
    and old days stop fragmenting once the stream moves on. ``values``
    names the partition values to fold; when None, every partition
    holding ≥ ``min_files`` files is picked FROM THE MANIFEST (no
    listing). Each rewritten partition gets
    ``ceil(partition_bytes / target_file_bytes)`` files; untouched
    partitions carry by reference, so compacting 30 fragmented days of
    a 30,000-day table costs 30 days' bytes. No-op (returns None) when
    nothing is fragmented.

    Same crash consistency as every publish: the fold is a new version
    committed by one manifest swap; the pre-compaction snapshot stays
    readable until ``vacuum``."""
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, spark)
    # OPTIMISTIC maintenance: the (potentially long) fold job runs with
    # NO lease held, so streaming ingest keeps committing while old
    # partitions compact. Safety comes from the commit-time rebase in
    # replace_partitions_publish — if a concurrent commit touched one
    # of the partitions being folded, THIS compaction raises
    # ConcurrentWriteError (retry next maintenance cycle) instead of
    # silently dropping the concurrent rows; commits on other
    # partitions merge cleanly.
    try:
        # ONE manifest read pins BOTH the rewrite plan's file list and
        # (via _base=) the commit baseline — see pinned_snapshot
        manifest, cur = pinned_snapshot(spark, table_dir)
    except ValueError:
        raise ValueError("compact_partitions: no committed table here")
    parts = manifest.get("partition_by") or []
    if not parts:
        raise ValueError(
            "compact_partitions needs a hive-partitioned table; use "
            "compact() for unpartitioned ones"
        )
    pc = partition_col or parts[0]

    def _val_of(path: str) -> Optional[str]:
        for seg in path.split("/"):
            if seg.startswith(pc + "="):
                return seg[len(pc) + 1:]
        return None

    by_val = defaultdict(list)
    live = _entry_files(fs, table_dir, manifest)
    for f in live:
        by_val[_val_of(f)].append(f)
    if values is None:
        values = [v for v, fl in by_val.items() if len(fl) >= min_files]
    else:
        values = [str(v) for v in values]
    if not values:
        return None
    sizes = _sizes_for(fs, table_dir, manifest, live)
    touched_bytes = sum(
        sizes.get(f) or fs.file_size(_ref_path(fs, table_dir, f))
        for v in values
        for f in by_val.get(v, [])
    )
    n_files = max(1, math.ceil(touched_bytes / float(target_file_bytes)))
    pspec = manifest.get("partition_spec")
    if pspec:
        # hidden layout: re-derive the physical column (deterministic
        # twin of the path value) and match its canonical string form
        cur = _materialize_partition_cols(cur, pspec)
        touched = cur.where(F.col(pc).cast("string").isin(values))
    else:
        touched = cur.where(F.col(pc).isin(values))  # partition-pruned
    payload = [c for c in cur.columns if c not in parts]
    folded = (
        touched.withColumn(
            "_ck", F.xxhash64(*[F.col(c) for c in payload] or [F.lit(0)])
        )
        .repartitionByRange(
            n_files, *([F.col(c) for c in parts] + [F.col("_ck")])
        )
        .drop("_ck")
    )
    return replace_partitions_publish(
        folded, table_dir, values=values, partition_col=pc,
        lease_ttl_ms=lease_ttl_ms, _base=manifest, data_change=False,
        operation="compact",
    )


def _keep_pred(condition: str) -> str:
    """Keep-side predicate for a row-matching ``condition`` under SQL
    three-valued logic: only rows where the condition is TRUE leave;
    NULL and FALSE rows STAY. A bare ``NOT (cond)`` evaluates NULL for
    NULL-condition rows and Spark's filter drops them — a delete/
    replace would silently erase rows that never matched (and whether
    a NULL row died would depend on which FILE it shared with real
    matches: data-dependent wrongness)."""
    return "not coalesce(cast((%s) as boolean), false)" % condition


def delete_publish(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    lease_ttl_ms: int = 300_000,
    point: Optional[dict] = None,
    delete_vectors: bool = False,
) -> Optional[int]:
    """Targeted row deletion with snapshot isolation — the GDPR-erasure
    / retention-enforcement primitive: delete every row matching the
    SQL ``condition`` and commit the result as the next version. On a
    hive-partitioned table only the partitions that actually CONTAIN
    matches are rewritten (found with one partition-pruned scan);
    everything else carries by reference — erasing one user from a
    100 TB table costs the bytes of the partitions they appear in. The
    pre-delete snapshot stays readable until ``vacuum`` (real erasure =
    delete + vacuum(keep=1), which the reference-aware GC makes safe).
    Unpartitioned tables fall back to a filtered full republish.
    Returns the committed version, or None when nothing matched.

    ``point`` = ``{col: value}`` (equality predicates implied by
    ``condition``) switches to the INDEXED file-granular path: bloom/
    stats skipping shrinks the scan to candidate files, and only the
    files actually containing matches are rewritten (see
    :func:`replace_files_publish`) — the GDPR shape at 100 TB.

    ``delete_vectors=True`` switches to MERGE-ON-READ: instead of
    rewriting any file, the matching rows' (file, position) addresses
    are recorded as the snapshot's delete vectors and readers mask them
    out — erasing one row from a 128 MB file costs one metadata commit,
    zero data IO (physical erasure happens at the next ``compact``/
    rewrite of that file, or ``vacuum`` after it). Composes with
    ``point`` for bloom-pruned candidate selection. The known public
    design: Iceberg v2 position deletes / Delta deletion vectors."""
    from pyspark.sql import functions as F

    fs = _fs_for(table_dir, spark)
    # OPTIMISTIC: find-matches + rewrite run without the lease; the
    # commit-time rebase in replace_partitions_publish raises if a
    # concurrent commit touched one of the partitions being rewritten
    # (so a concurrent append into a touched partition can never be
    # silently dropped), and merges cleanly with commits on other
    # partitions — streaming ingest keeps flowing during a GDPR erase.
    # The manifest read below is the ONE snapshot both the find-matches
    # plan and (via _base=) the commit baseline use.
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("delete_publish: no committed table here")
    parts = manifest.get("partition_by") or []
    if delete_vectors:
        # dv deletes COMMUTE semantically (erasing a row twice is a
        # no-op), so a lost optimistic race retries against the fresh
        # snapshot automatically — bounded, then the caller sees the
        # conflict (same policy Delta applies to commutable commits)
        for attempt in range(3):
            try:
                return _dv_delete(
                    spark, fs, table_dir, manifest, condition, point,
                    lease_ttl_ms,
                )
            except ConcurrentWriteError:
                if attempt == 2:
                    raise
                manifest = _read_manifest(table_dir, fs)
                if manifest is None:
                    raise
    if point:
        # INDEXED point delete: ``point`` = {col: value} names equality
        # predicates IMPLIED by ``condition`` (caller's contract — e.g.
        # condition="user_id = 4", point={"user_id": 4}). Per-file
        # blooms/stats shrink the candidate set WITHOUT opening files;
        # one scan of the candidates finds the files actually holding
        # matches; only THOSE files are rewritten (file-granular
        # replace). Erasing one user costs a few file opens + a few
        # file rewrites, not a partition — or table — rewrite.
        # Conservative: unindexed files stay candidates.
        res = _resolve_entry(fs, table_dir, manifest)
        candidates = _prune_eq(res, res["files"], point)
        if not candidates:
            return None
        dv0 = _load_dv(fs, table_dir, manifest)
        cand_df = _read_files(
            spark, fs, table_dir, candidates, manifest["schema"],
            bool(parts), evo=_evo_of(manifest, res),
        )
        matched_abs = [
            r[0]
            for r in cand_df.where(condition)
            .select(F.input_file_name())
            .distinct()
            .collect()
        ]
        matched = sorted(
            {
                rel
                for rel in (
                    _rel_of(a, candidates) for a in matched_abs
                )
                if rel is not None
            }
        )
        if not matched:
            return None
        # the surviving rows come from the MASKED read — rewriting a
        # file that already carries a delete vector must not resurrect
        # its dv'd rows
        kept = _read_files(
            spark, fs, table_dir, matched, manifest["schema"],
            bool(parts), dv=dv0, evo=_evo_of(manifest, res),
        ).where(_keep_pred(condition))
        return replace_files_publish(
            kept, table_dir, matched, lease_ttl_ms=lease_ttl_ms,
            bloom_cols=list(point), _base=manifest,
        )
    if not parts:
        # unpartitioned fallback is a FULL rewrite — it cannot rebase,
        # so it holds the lease across read+republish like compact()
        with _Lease(fs, table_dir, ttl_ms=lease_ttl_ms) as lease:
            cur = read_published(spark, table_dir)
            kept = cur.where(_keep_pred(condition))
            # commit only if something matched: one count, small side
            n_del = cur.where(condition).count()
            if n_del == 0:
                return None
            return atomic_publish(
                kept, table_dir, _lease=lease, operation="delete"
            )
    res = _resolve_entry(fs, table_dir, manifest)
    cur = _read_files(
        spark, fs, table_dir, res["files"], manifest["schema"], True,
        dv=_load_dv(fs, table_dir, manifest), evo=_evo_of(manifest, res),
    )
    pc = parts[0]
    touched = [
        r[0]
        for r in cur.where(condition).select(pc).distinct().collect()
    ]
    if not touched:
        return None
    kept_touched = cur.where(F.col(pc).isin(touched)).where(
        _keep_pred(condition)
    )
    return replace_partitions_publish(
        kept_touched, table_dir, values=touched, partition_col=pc,
        lease_ttl_ms=lease_ttl_ms, _base=manifest, operation="delete",
    )


def update_publish(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    set: Dict[str, str],
    point: Optional[dict] = None,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    delete_vectors: bool = True,
) -> Optional[int]:
    """Row-level UPDATE with snapshot isolation — Delta's
    ``update(condition, set)`` counterpart, MERGE-ON-READ by default:
    the matching rows' (file, position) addresses fold into the
    snapshot's delete vectors and the post-``set`` rows append as the
    commit's new files — ONE commit, zero pre-existing files rewritten
    (physical fold happens at the next ``compact``/
    ``compact_delete_vectors``). ``set`` maps column name → SQL
    expression evaluated against the matched row (``{"v": "v + 1"}``);
    each result casts back to the column's declared type, so the table
    schema never drifts. Updating a hive PARTITION column is legal —
    the replacement row simply lands in its new partition directory
    while the address mask hides the old one. Returns the committed
    version, or None when nothing matched.

    ``delete_vectors=False`` switches to COPY-ON-WRITE: only the files
    that CONTAIN matches are rewritten in place (unmatched rows of
    those files carry into the rewrite, every other file carries by
    reference — :func:`replace_files_publish`), leaving the new
    snapshot dv-free for those files. Pick it for updates dense enough
    that the read-time dv mask would cost more than the rewrite —
    Delta's UPDATE default; the MOR default here matches this table
    format's delete/merge posture.

    ``point`` = ``{col: value}`` (equality predicates implied by
    ``condition``) prunes candidate files via per-file blooms/stats
    before any data IO — the "fix one user's row in a 100 TB table"
    shape.

    Concurrency: optimistic like MERGE — scan and sidecar/file writes
    run without the lease; the commit-time rebase raises if a
    concurrent commit rewrote a matched file or changed its delete
    vectors. Unlike dv DELETE (commuting), a lost race re-RUNS the
    whole update against the fresh snapshot (bounded, 3 attempts):
    re-evaluating ``condition``+``set`` on the new state is the correct
    serialization, the same policy Delta applies to UPDATE.

    Scale: O(matched) data written; the only scans are over the
    (pruned) candidate files; addresses never touch the driver
    (:func:`_dv_build`). Constraints are enforced on the updated rows
    by the shared :func:`_mor_commit` observation."""
    from pyspark.sql import functions as F, types as T

    set_map = dict(set)
    if not set_map:
        raise ValueError("update_publish: empty SET map")
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("update_publish: no committed table here")
    for attempt in range(3):
        try:
            schema = T.StructType.fromJson(json.loads(manifest["schema"]))
            names = [f.name for f in schema.fields]
            unknown = sorted(c for c in set_map if c not in names)
            if unknown:
                raise ValueError(
                    "update_publish: SET names unknown column(s) %s "
                    "(schema: %s) — add columns via evolve/merge "
                    "schema_evolution first" % (unknown, names)
                )
            parts = manifest.get("partition_by") or []
            res = _resolve_entry(fs, table_dir, manifest)
            candidates = (
                _prune_eq(res, res["files"], point)
                if point
                else res["files"]
            )
            if not candidates:
                return None
            dv0 = _load_dv(fs, table_dir, manifest)
            tgt = _read_files_with_pos(
                spark, fs, table_dir, candidates, manifest["schema"],
                bool(parts), evo=_evo_of(manifest, res),
            )
            cset = {c for c in candidates}
            dv_scanned = {f: v for f, v in dv0.items() if f in cset}
            if dv_scanned:
                # rows already dv-deleted must never match — an UPDATE
                # that re-emitted them would resurrect erased rows
                tgt = _dv_mask(
                    tgt, "_fp", "_ri",
                    _dv_chunks_df(spark, fs, table_dir, dv_scanned),
                )
            matched = tgt.where(condition)
            typed = {f.name: f.dataType for f in schema.fields}
            if not delete_vectors:
                # COPY-ON-WRITE: rewrite exactly the files that contain
                # matches; unmatched rows of those files carry into the
                # rewrite (masked — a file's dv'd rows must never
                # resurrect), everything else carries by reference
                matched_abs = [
                    r[0]
                    for r in matched.select("_fp").distinct().collect()
                ]
                mfiles = sorted(
                    {
                        rel
                        for rel in (
                            _rel_of(a, candidates) for a in matched_abs
                        )
                        if rel is not None
                    }
                )
                if not mfiles:
                    return None
                rw = _read_files(
                    spark, fs, table_dir, mfiles, manifest["schema"],
                    bool(parts), dv=dv0, evo=_evo_of(manifest, res),
                )
                cond = F.expr(condition)
                out = rw.select(
                    *[
                        (
                            F.when(
                                cond,
                                F.expr(set_map[c]).cast(typed[c]),
                            )
                            .otherwise(F.col(c))
                            .alias(c)
                            if c in set_map
                            else F.col(c)
                        )
                        for c in names
                    ]
                )
                return replace_files_publish(
                    out, table_dir, mfiles, lease_ttl_ms=lease_ttl_ms,
                    stats_cols=stats_cols, bloom_cols=bloom_cols,
                    _base=manifest, operation="update",
                )
            # both the post-SET write and the address build derive
            # from `matched` — persist the DELTA-sized frame so the
            # candidate files scan once, not twice (at 100 TB with a
            # selective condition the candidate scan is the dominant
            # cost; `matched` is O(updated rows) by definition)
            matched = matched.persist()
            addr = matched.select("_fp", "_ri")
            out = matched.select(
                *[
                    (
                        F.expr(set_map[c]).cast(typed[c]).alias(c)
                        if c in set_map
                        else F.col(c)
                    )
                    for c in names
                ]
            )
            try:
                return _mor_commit(
                    spark, fs, table_dir, manifest, addr, candidates,
                    out, parts, lease_ttl_ms, stats_cols, bloom_cols,
                    None, who="update_publish", operation="update",
                )
            finally:
                matched.unpersist()
        except ConcurrentWriteError:
            if attempt == 2:
                raise
            manifest = _read_manifest(table_dir, fs)
            if manifest is None:
                raise


def replace_where_publish(
    df: DataFrame,
    table_dir: str,
    condition: str,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
) -> int:
    """Atomic predicate overwrite — Delta's ``replaceWhere``: in ONE
    commit, delete every row matching the SQL ``condition`` and insert
    ``df`` in their place. The backfill primitive: recompute one day /
    one source / one experiment slice and swap it in without touching
    the rest of the table or ever exposing a half-replaced state.

    Delta's safety rule is enforced: every ``df`` row must itself
    satisfy ``condition`` (a backfill that writes outside its declared
    slice would silently clobber — raises ValueError instead). Only
    the files that CONTAIN matches are rewritten; their non-matching
    rows carry into the rewrite (masked — dv'd rows never resurrect),
    every other file carries by reference. When no existing row
    matches, the commit is a pure insert of ``df``.

    Concurrency: optimistic — commits land concurrently with appends
    and disjoint rewrites; a racing commit that touched a targeted file
    re-runs the whole replace against the fresh snapshot (bounded, 3
    attempts), which re-evaluates ``condition`` — the correct
    serialization for an overwrite.

    Scale: O(matched files) rewritten + O(df); the discovery scan is
    predicate-pushed, so a ``condition`` on a partition or clustered
    column scans only its slice. ``df`` is evaluated once for the
    out-of-slice guard and once per attempt for the write — persist or
    localCheckpoint an expensive recompute before passing it in."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("replace_where_publish: no committed table here")
    stray = df.where(_keep_pred(condition)).limit(1).collect()
    if stray:
        raise ValueError(
            "replace_where_publish: df contains row(s) outside the "
            "condition %r (first: %s) — a backfill must stay inside "
            "its declared slice" % (condition, stray[0])
        )
    for attempt in range(3):
        try:
            parts = manifest.get("partition_by") or []
            res = _resolve_entry(fs, table_dir, manifest)
            dv0 = _load_dv(fs, table_dir, manifest)
            aligned = _align_to(df, manifest["schema"])
            tgt = _read_files_with_pos(
                spark, fs, table_dir, res["files"], manifest["schema"],
                bool(parts), evo=_evo_of(manifest, res),
            )
            if dv0:
                tgt = _dv_mask(
                    tgt, "_fp", "_ri",
                    _dv_chunks_df(spark, fs, table_dir, dv0),
                )
            matched_abs = [
                r[0]
                for r in tgt.where(condition)
                .select("_fp")
                .distinct()
                .collect()
            ]
            mfiles = sorted(
                {
                    rel
                    for rel in (
                        _rel_of(a, res["files"]) for a in matched_abs
                    )
                    if rel is not None
                }
            )
            if not mfiles:
                return append_publish(
                    aligned, table_dir, lease_ttl_ms=lease_ttl_ms,
                    stats_cols=stats_cols, bloom_cols=bloom_cols,
                )
            kept = _read_files(
                spark, fs, table_dir, mfiles, manifest["schema"],
                bool(parts), dv=dv0, evo=_evo_of(manifest, res),
            ).where(_keep_pred(condition))
            return replace_files_publish(
                kept.unionByName(aligned), table_dir, mfiles,
                lease_ttl_ms=lease_ttl_ms, stats_cols=stats_cols,
                bloom_cols=bloom_cols, _base=manifest,
                operation="replace_where",
            )
        except ConcurrentWriteError:
            if attempt == 2:
                raise
            manifest = _read_manifest(table_dir, fs)
            if manifest is None:
                raise


def _dv_delete(
    spark: SparkSession,
    fs,
    table_dir: str,
    manifest: dict,
    condition: str,
    point: Optional[dict],
    lease_ttl_ms: int,
) -> Optional[int]:
    """The merge-on-read delete behind ``delete_publish(delete_vectors=
    True)``: record matching rows' (file, position) addresses as the
    next snapshot's delete vectors — ZERO data files written or
    rewritten. One scan of the (bloom-pruned) candidates finds the
    addresses and folds them, DISTRIBUTIVELY, into executor-written
    parquet sidecars (:func:`_dv_build` — a predicate delete matching
    billions of rows never materializes a position on the driver); the
    commit is a manifest swap citing the per-file refs. Optimistic like
    every publish: the scan and sidecar write run without the lease; at
    commit time a concurrent commit rebases iff it kept schema/layout,
    every dv'd file is still live, and no concurrent commit changed a
    touched file's vectors (that raises re-run — the sidecar union was
    built against the base state)."""
    parts = manifest.get("partition_by") or []
    res = _resolve_entry(fs, table_dir, manifest)
    dv0 = _load_dv(fs, table_dir, manifest)
    candidates = (
        _prune_eq(res, res["files"], point) if point else res["files"]
    )
    if not candidates:
        return None
    addr = (
        _read_files_with_pos(
            spark, fs, table_dir, candidates, manifest["schema"],
            bool(parts), evo=_evo_of(manifest, res),
        )
        .where(condition)
        .select("_fp", "_ri")
    )
    return _mor_commit(
        spark, fs, table_dir, manifest, addr, candidates, None, parts,
        lease_ttl_ms, None, None, None, who="delete_publish(dv)",
        operation="delete",
    )


def compact_delete_vectors(
    table_dir: str,
    spark: Optional[SparkSession] = None,
    lease_ttl_ms: int = 300_000,
) -> Optional[int]:
    """MINOR COMPACTION of the delete vectors: fold every sidecar
    dataset (and any legacy v1 inline positions) the committed snapshot
    references into ONE clustered parquet dataset and repoint the dv
    manifest — ZERO data files touched (``dataChange=false``; the
    Iceberg 'rewrite position deletes' maintenance action). After K dv
    commits a masked scan reads up to K sidecar datasets and vacuum
    must retain K version dirs; this folds both to one. The rewrite is
    one distributed job; the commit is a manifest swap. Incremental
    readers skip it by the dataChange contract (refs change, row
    membership never). Returns the committed version, or None when
    there is nothing to fold (no vectors, or already one dataset).

    Optimistic: the fold runs without the lease; a concurrent commit
    that changed ANY vector (or rewrote a dv'd file) raises
    ``ConcurrentWriteError`` — re-run, it's maintenance."""
    fs = _fs_for(table_dir, spark)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "compact_delete_vectors needs an active SparkSession"
        )
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError(
            "compact_delete_vectors: no committed table here"
        )
    dv0 = _load_dv(fs, table_dir, manifest)
    dv0 = {f: v for f, v in dv0.items() if _dv_val_n(v)}
    if not dv0:
        return None
    ds_refs = {
        v["ds"] for v in dv0.values() if isinstance(v, dict)
    }
    if len(ds_refs) == 1 and all(
        isinstance(v, dict)
        and v.get("key", f) == f
        and v.get("fmt") == "bm"
        for f, v in dv0.items()
    ):
        # already one local, identity-keyed BITMAP dataset (a lone
        # row-per-position v2 dataset still folds: the rewrite is the
        # upgrade path to the packed format)
        return None
    who = "compact_delete_vectors"
    with _Stage(fs, table_dir, manifest, who, lease_ttl_ms) as st:
        # fold in the CHUNK domain: v3 sidecars carry over as stored,
        # legacy refs pack in-plan; (file, chunk) is unique across the
        # union (each file's ref names one dataset) so no re-merge
        merged = _dv_chunks_df(spark, fs, table_dir, dv0)
        dsrel = "%s/%s" % (st.seg, _DVP)
        dsdir = _ref_path(fs, table_dir, dsrel)
        (
            merged.repartition(max(1, min(len(dv0), 64)), "_dv_file")
            .sortWithinPartitions("_dv_file", "_dv_chunk")
            .write.parquet(dsdir)
        )
        counts = _dv_ds_counts(spark, dsdir)
        expected = {f: _dv_val_n(v) for f, v in dv0.items()}
        if counts != expected:
            raise RuntimeError(
                "compact_delete_vectors: rewritten position counts "
                "disagree with the manifest (%r vs %r) — aborting "
                "before commit"
                % (
                    {k: counts.get(k) for k in list(expected)[:3]},
                    {k: expected[k] for k in list(expected)[:3]},
                )
            )
        new_dv = {
            f: {"ds": dsrel, "n": expected[f], "fmt": "bm"} for f in dv0
        }

        def rebase(cur):
            cur_dv = {
                f: v
                for f, v in _load_dv(fs, table_dir, cur).items()
                if _dv_val_n(v)
            }
            if cur_dv != dv0:
                raise ConcurrentWriteError(
                    "compact_delete_vectors: a concurrent commit "
                    "changed the delete vectors mid-fold — re-run"
                )

        def entry_of(prev):
            entry = _grow_entry(
                fs, table_dir, prev, st, "compact_dv", int(prev["n_rows"])
            )
            entry["data_change"] = False
            entry.update(_dv_entry(fs, table_dir, st.seg, new_dv))
            return entry

        return st.commit(entry_of, rebase)


def _footer_minmax(fs, path: str, cols) -> Optional[dict]:
    """Per-file {col: [min, max]} from the parquet FOOTER statistics
    (driver-side metadata read, no scan). Returns None when footer
    stats are unavailable for the backend/path."""
    local = None
    if isinstance(fs, _PosixFS):
        local = path
    elif path.startswith("file:"):
        local = path[len("file:"):]
        while local.startswith("//"):
            local = local[1:]
    if local is None:
        return None  # remote URI: stats skipped (documented fallback)
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local).metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out = {}
    for c in cols:
        i = names.get(c)
        if i is None:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                return None  # stats missing: never skip blindly
            mn, mx = st.min, st.max
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if lo is not None:
            if hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            if isinstance(lo, bytes):
                lo, hi = lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
            out[c] = [lo, hi]
    return out or None


def _phys_backfill_groups(manifest: dict, seg_data: dict, cols):
    """One segment's backfill read groups for a possibly-EVOLVED table:
    ``[(files, physical cols, physical schema_json)]`` — the manifest's
    LOGICAL index columns translated to each file's PHYSICAL names by
    field id (the segment's stamped ``field_names``/``file_fields``
    maps). Stats/bloom sidecars key physical names by convention;
    ``_resolve_entry`` rekeys them to logical names at read time, so a
    backfill after a rename still prunes. A column a file never had
    (added after it was written) is skipped for that group — no stats
    beats wrong stats. Pre-stamping files resolve as identity (their
    physical names ARE their era's logical names)."""
    ids, _ = _field_ids_of(manifest)
    types = {
        f["name"]: f
        for f in json.loads(manifest["schema"])["fields"]
    }
    seg_fields = seg_data.get("field_names")
    per_file = seg_data.get("file_fields") or {}
    groups: dict = {}
    for f in seg_data.get("files", []):
        fm = per_file.get(f, seg_fields)
        mk = tuple(sorted(fm.items())) if fm else None
        groups.setdefault(mk, []).append(f)
    out = []
    for mk, fl in groups.items():
        fm = dict(mk) if mk else None
        phys = {}
        for c in cols:
            if c not in types:
                continue
            if fm is None:
                phys[c] = c
            else:
                p = fm.get(str(ids.get(c)))
                if p is not None:
                    phys[c] = p
        if not phys:
            continue
        fields = []
        for c, p in phys.items():
            fd = dict(types[c])
            fd["name"] = p
            fields.append(fd)
        out.append(
            (
                fl,
                sorted(phys.values()),
                json.dumps({"type": "struct", "fields": fields}),
            )
        )
    return out


def collect_file_stats(
    table_dir: str,
    stats_cols,
    spark: Optional[SparkSession] = None,
) -> int:
    """Record per-file min/max FOOTER statistics for ``stats_cols`` in
    the committed manifest (one atomic manifest rewrite, no data
    change; returns how many files got stats). This is the
    data-skipping half of a table format: with stats recorded,
    ``read_published(..., skip={"col": (lo, hi)})`` opens only the
    files whose [min, max] intersects the bound — on a
    ``zorder_layout``-clustered snapshot that's the file-level
    min/max pruning that turns a 100 TB scan filtered on any
    clustered dimension into a few files.

    Prefer ``stats_cols=`` on the publish itself: the executors just
    wrote the files, so write-time stats cost one column-pruned pass
    over the DELTA only. This function is the post-hoc/backfill path:
    on segmented manifests it runs a distributed per-segment job
    (works on every backend); legacy inline manifests use driver-side
    footer reads (posix/file: only). Files without collectable stats
    simply carry none and are never skipped — skipping is always
    CONSERVATIVE."""
    fs = _fs_for(table_dir, spark)
    with _Lease(fs, table_dir):
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("collect_file_stats: no committed table here")
        if manifest.get("files") is None:
            # segmented manifest: stats live in the per-version segment
            # sidecars — update each referenced sidecar in place (an
            # atomic replace; stats addition is monotone + conservative,
            # and every snapshot citing the segment sees them for free).
            # Collection is a DISTRIBUTED job per segment, so it works
            # on every backend — but prefer stats_cols= on the publish
            # itself (write-time, no second scan).
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "collect_file_stats needs an active SparkSession "
                    "(stats collection is a distributed job)"
                )
            n = 0
            for seg in manifest.get("segments") or []:
                s = _load_seg(fs, table_dir, seg)
                # resolve logical index cols to each file's PHYSICAL
                # names by field id (evolved tables backfill exactly;
                # never-evolved tables get identity + a column-pruned
                # read schema for free)
                got: dict = {}
                for fl, pcols, pschema in _phys_backfill_groups(
                    manifest, s, list(stats_cols)
                ):
                    got.update(
                        _distributed_file_stats(
                            spark, fs, table_dir, fl, pcols,
                            schema_json=pschema,
                        )
                    )
                if not got:
                    continue
                seg_stats = dict(s.get("file_stats") or {})
                for f, mm in got.items():
                    seg_stats[f] = {**seg_stats.get(f, {}), **mm}
                    n += 1
                s["file_stats"] = seg_stats
                _write_seg(fs, table_dir, seg, s)
            return n
        # legacy inline manifest: stats embed in the manifest itself
        stats = dict(manifest.get("file_stats") or {})
        n = 0
        for f in manifest["files"]:
            mm = _footer_minmax(fs, _ref_path(fs, table_dir, f), list(stats_cols))
            if mm:
                stats[f] = {**stats.get(f, {}), **mm}
                n += 1
        manifest["file_stats"] = stats
        # keep history entry for the current version in sync
        cur = str(manifest["version"])
        if cur in manifest.get("snapshots", {}):
            manifest["snapshots"][cur]["file_stats"] = stats
        fs.replace_with(
            json.dumps(manifest),
            _manifest_path(table_dir, fs),
            ".tmp.stats",
        )
        return n


def collect_file_blooms(
    table_dir: str,
    bloom_cols,
    spark: Optional[SparkSession] = None,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> int:
    """Backfill per-file EQUALITY blooms for ``bloom_cols`` into the
    committed snapshot's segment sidecars (returns files indexed).
    Prefer ``bloom_cols=`` on the publish itself — write-time, one
    distributed pass over the delta. With blooms recorded,
    ``read_published(skip_eq={'col': v})`` and
    ``delete_publish(..., point=...)`` open only the files that may
    contain the value — the point-lookup/point-delete index min/max
    stats can't provide on unclustered data. Segmented manifests only
    (legacy tables: run any publish first to migrate)."""
    fs = _fs_for(table_dir, spark)
    with _Lease(fs, table_dir):
        manifest = _read_manifest(table_dir, fs)
        if manifest is None:
            raise ValueError("collect_file_blooms: no committed table here")
        if manifest.get("files") is not None:
            raise ValueError(
                "collect_file_blooms needs a segmented manifest — any "
                "publish migrates a legacy table"
            )
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "collect_file_blooms needs an active SparkSession"
            )
        n = 0
        for seg in manifest.get("segments") or []:
            sdata = _load_seg(fs, table_dir, seg)
            # physical-name resolution by field id (see
            # _phys_backfill_groups) — evolved tables backfill exactly
            got: dict = {}
            for fl, pcols, pschema in _phys_backfill_groups(
                manifest, sdata, list(bloom_cols)
            ):
                got.update(
                    _distributed_file_blooms(
                        spark, fs, table_dir, fl, pcols,
                        schema_json=pschema, m_bits=m_bits, k=k,
                    )
                )
            if not got:
                continue
            seg_blooms = dict(sdata.get("file_blooms") or {})
            for f, bl in got.items():
                seg_blooms[f] = {**seg_blooms.get(f, {}), **bl}
                n += 1
            sdata["file_blooms"] = seg_blooms
            _write_seg(fs, table_dir, seg, sdata)
        return n


def replace_files_publish(
    df: DataFrame,
    table_dir: str,
    replace_files,
    lease_ttl_ms: int = 300_000,
    stats_cols=None,
    bloom_cols=None,
    _base: Optional[dict] = None,
    data_change: bool = True,
    operation: str = "replace_files",
) -> int:
    """FILE-granular rewrite (the merge-on-read compaction primitive
    under a copy-on-write commit): the next version drops exactly
    ``replace_files`` and adds ``df``'s files — every other file
    carries by reference. This is what makes an indexed point delete
    cheap: :func:`delete_publish` with ``point=`` rewrites only the
    files that CONTAIN matches, not whole partitions.

    Optimistic like replace_partitions_publish: the write runs with no
    lease; at commit, if the table moved, the rebase succeeds iff every
    file being replaced is still live (nobody compacted or rewrote it
    meanwhile) — concurrent appends and disjoint rewrites merge
    cleanly, a conflicting rewrite raises."""
    fs = _fs_for(table_dir, df.sparkSession)
    prev = _base if _base is not None else _read_manifest(table_dir, fs)
    if prev is None:
        raise ValueError("replace_files_publish: no committed table here")
    parts = prev.get("partition_by") or []
    replace_set = set(replace_files)
    live = set(_entry_files(fs, table_dir, prev))
    missing = replace_set - live
    if missing:
        raise ValueError(
            "replace_files_publish: not live in the current snapshot: %s"
            % sorted(missing)[:5]
        )
    # ---- data-write phase: no lease
    who = "replace_files_publish"
    with _Stage(fs, table_dir, prev, who, lease_ttl_ms) as st:
        # NO _pt_rebalance here: replace_files callers (compact,
        # compact_partitions, point deletes) hand in a frame whose
        # partitioning IS the deliberate output layout (target file
        # sizing); a rebalance by partition cols would collapse it
        st.write(
            _materialize_partition_cols(df, prev.get("partition_spec")),
            parts,
        )
        st.index(
            df.sparkSession, prev["schema"], _field_ids_of(prev)[0],
            stats_cols, bloom_cols,
        )
        # ---- commit phase: short lease + still-live rebase check
        return st.commit(
            lambda prev: _replace_entry(
                fs, table_dir, prev, st, replace_set.__contains__,
                operation, data_change,
            ),
            lambda cur: _files_unchanged(
                fs, table_dir, prev, cur, replace_set, who
            ),
        )


def publish_clustered(
    df: DataFrame,
    table_dir: str,
    cluster_by,
    target_files: Optional[int] = None,
    partition_by=None,
) -> int:
    """OPTIMIZE-style clustered publish: range-repartition and sort the
    snapshot on ``cluster_by`` (compose with ``scale.zorder_key`` for a
    multi-dimensional key) and publish it with the cluster columns'
    per-file min/max recorded AT WRITE TIME (``stats_cols`` on the
    publish — a distributed job, every backend) — so every
    ``read_published(skip=...)`` bound on a clustered column opens only
    the files whose range intersects. The write-side half of data
    skipping: clustering makes per-file ranges TIGHT, the stats make
    them VISIBLE to the reader, and both ride the ordinary atomic
    commit — no post-hoc stats pass. Returns the committed version."""
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    from pyspark.sql import functions as F

    exprs = [F.col(c) for c in cols]
    out = (
        df.repartitionByRange(target_files, *exprs)
        if target_files
        else df.repartitionByRange(*exprs)
    ).sortWithinPartitions(*exprs)
    return atomic_publish(
        out, table_dir, partition_by=partition_by, stats_cols=cols,
        operation="cluster", _set_index_spec=False, _keep_layout=True,
    )


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    min_files: int = 2,
    target_file_bytes: int = 128 * 1024 * 1024,
    stats_cols=None,
    bloom_cols=None,
    keep: Optional[int] = None,
) -> dict:
    """One-call table maintenance — the scheduled job an append-ingest
    table runs nightly: fold fragmented partitions
    (:func:`compact_partitions`; byte-targeted :func:`compact` for
    unpartitioned tables, skipped when already a single right-sized
    version), refresh footer statistics for ``stats_cols``
    (:func:`collect_file_stats`), and GC unreferenced version dirs
    (:func:`vacuum`). Returns a summary dict
    ``{compacted_version, stats_files, vacuumed}``. Each step is an
    ordinary atomic commit, so a crash between steps leaves a
    consistent table that the next run finishes."""
    fs = _fs_for(table_dir, spark)
    manifest = _read_manifest(table_dir, fs)
    if manifest is None:
        raise ValueError("optimize_table: no committed table here")
    parts = manifest.get("partition_by") or []
    # an optimistic compaction losing its commit race to live ingest is
    # ROUTINE under concurrency, not a failure: record it and move on —
    # the next maintenance cycle retries against the newer snapshot
    conflict: Optional[str] = None
    try:
        if parts:
            compacted = compact_partitions(
                spark,
                table_dir,
                min_files=min_files,
                target_file_bytes=target_file_bytes,
            )
        else:
            # INCREMENTAL bin-pack (Delta OPTIMIZE): fold only the
            # files below the target size — a right-sized file never
            # rewrites, so nightly maintenance on a 100 TB
            # unpartitioned table costs O(small-file bytes), not a
            # full-snapshot republish (that stays compact()'s
            # explicit-call job)
            compacted = (
                compact_files(
                    spark, table_dir, small_bytes=target_file_bytes,
                    target_file_bytes=target_file_bytes,
                )
                if _entry_counters(fs, table_dir, manifest)[0] >= min_files
                else None
            )
    except ConcurrentWriteError as e:
        compacted, conflict = None, str(e)
    # index backfills resolve evolved schemas by field id since round
    # 11 (see _phys_backfill_groups) — run them unconditionally
    n_stats = (
        collect_file_stats(table_dir, stats_cols, spark)
        if stats_cols
        else 0
    )
    n_blooms = (
        collect_file_blooms(table_dir, bloom_cols, spark)
        if bloom_cols
        else 0
    )
    # fold accumulated delete-vector sidecars into one dataset (no-op
    # when zero-or-one; a lost race is routine maintenance, retried
    # next cycle) — lets the vacuum below reclaim superseded dv dirs
    try:
        dv_folded = compact_delete_vectors(table_dir, spark=spark)
    except ConcurrentWriteError as e:
        dv_folded, conflict = None, conflict or str(e)
    removed = vacuum(table_dir, keep=keep, spark=spark)
    return {
        "compacted_version": compacted,
        "compact_conflict": conflict,
        "stats_files": n_stats,
        "bloom_files": n_blooms,
        "dv_folded_version": dv_folded,
        "vacuumed": removed,
    }
