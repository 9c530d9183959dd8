"""Filesystem environment under the storage layer (≈ Kudu's Env,
src/kudu/util/env.h, behind which fs/block managers sit, src/kudu/fs/):
every byte the engine persists OUTSIDE Spark's own parquet jobs —
commit log, checkpoints, presence/bloom sidecars, txn markers — goes
through this one small interface, so a warehouse can live where
100 TB actually lives (HDFS / object stores) instead of assuming
POSIX. Spark keeps scanning and writing the parquet DATA files
directly whenever the root's scheme is Hadoop-readable — the data
plane never funnels through Python.

Implementations:

- ``LocalEnv`` — plain paths and ``file://`` URIs: the POSIX fast
  path (hardlink create-if-absent publish, memory-mapped sidecar
  reads shared through the page cache).
- ``FsspecEnv`` — any other URI when ``fsspec`` (plus the scheme's
  driver, e.g. s3fs) is importable. Metadata/sidecar IO goes through
  fsspec; data files are scanned by Spark directly when Hadoop knows
  the scheme (s3a://, hdfs://, gs://, ...), else mirrored through a
  driver-local cache (correct but driver-bound — dev/test schemes
  like memory:// only).
- ``MemoryEnv`` — a hand-rolled in-process filesystem registered for
  ``memory://`` when fsspec is absent (this container): the Env
  contract's test double, driver-local by construction.

Unsupported roots fail LOUDLY at ``env_for_root`` (hence at
``Engine.__init__``) instead of surfacing later as a confusing
``open()`` error inside a commit.

Atomicity contract: ``publish_new`` (create-if-absent) is what commit
serialization rests on (meta.append_commit). Local: hardlink
(POSIX-atomic). Memory: lock + setdefault. fsspec, in order of
preference (Kudu itself serializes commits through Raft,
src/kudu/consensus/raft_consensus.h; the file-format world uses
conditional puts — S3 ``If-None-Match``, GCS ``if_generation_match=0``
— which fsspec ≥2024.6 surfaces as ``pipe_file(..., mode="create")``):

1. conditional create via ``pipe_file(mode="create")`` when the
   installed driver's signature exposes it — a true atomic
   create-if-absent on S3/GCS/...;
2. an externally registered per-scheme publish lock
   (``register_publish_lock``) — the pluggable hook for stores
   without conditional create (a DynamoDB/ZooKeeper/catalog lock);
3. exists-then-write with a post-write read-back — NOT atomic. This
   fallback is gated: ``check_multi_writer_safe`` (called at
   ``Engine.__init__``) REFUSES a scheme stuck on it unless the
   caller passes ``single_writer=True`` — loud at construction, same
   philosophy as the unsupported-scheme error.
"""

from __future__ import annotations

import io
import os
import threading
import time

from kudu_spark.errors import KuduSparkError

# fsspec protocol aliases: the Hadoop spelling users put in roots vs
# the fsspec driver name
_FSSPEC_ALIAS = {"s3a": "s3", "s3n": "s3", "abfss": "abfs", "wasbs": "abfs",
                 "wasb": "abfs"}


def scheme_of(root: str) -> str:
    return root.split("://", 1)[0] if "://" in root else ""


def canon_root(root: str) -> str:
    """Cache/lock key for a root. URI roots pass through verbatim
    (abspath on those is cwd-dependent and mangles the scheme);
    filesystem paths canonicalize through abspath."""
    if "://" in root:
        return root
    return os.path.abspath(root)


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


class _MirrorCache:
    """Byte-capped LRU of driver-local mirror copies keyed by
    (path, version): eviction DELETES the temp file, so a long dev/test
    session's mirrors can't grow without bound (mirrored files are
    immutable per version — re-fetch after eviction is always correct).
    Same LRU shape as the presence shard cache (plans/presence.py)."""

    # eviction grace: a mirror handed out to a LAZY DataFrame may be
    # read long after spark_path returned, so eviction never unlinks
    # an entry accessed within this window — the byte cap is SOFT by
    # up to the grace window's traffic (driver-local dev/test schemes
    # only; the distributed path never mirrors). Without it, enough
    # intervening mirror churn (> cap) would delete a file a pending
    # plan still references — a confusing FileNotFound at action time.
    EVICT_GRACE_S = 300.0

    def __init__(self, max_bytes: int | None = None,
                 grace_s: float | None = None):
        self.max_bytes = (
            int(os.environ.get("KUDU_SPARK_MIRROR_CACHE_BYTES", 1 << 30))
            if max_bytes is None else max_bytes
        )
        self.grace_s = (
            float(os.environ.get("KUDU_SPARK_MIRROR_GRACE_S",
                                 self.EVICT_GRACE_S))
            if grace_s is None else grace_s
        )
        # key -> (local, bytes, last_access_monotonic)
        self._entries: dict[tuple, tuple[str, int, float]] = {}
        self._bytes = 0
        self._lock = threading.Lock()

    def get(self, key) -> str | None:
        import time as _t

        with self._lock:
            hit = self._entries.pop(key, None)
            if hit is None:
                return None
            if not os.path.exists(hit[0]):
                self._bytes -= hit[1]
                return None
            # reinsert at tail (LRU recency) with a fresh access stamp
            self._entries[key] = (hit[0], hit[1], _t.monotonic())
            return hit[0]

    def put(self, key, local: str) -> None:
        import time as _t

        try:
            nbytes = os.path.getsize(local)
        except OSError:
            nbytes = 0
        now = _t.monotonic()
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._bytes -= old[1]
            self._entries[key] = (local, nbytes, now)
            self._bytes += nbytes
            # evict oldest-first, but SKIP entries still inside the
            # grace window — a pending lazy plan may read them
            for k in list(self._entries):
                if self._bytes <= self.max_bytes or len(self._entries) <= 1:
                    break
                path, b, seen = self._entries[k]
                if now - seen < self.grace_s:
                    continue
                self._entries.pop(k)
                self._bytes -= b
                try:
                    os.unlink(path)
                except OSError:
                    pass

    def clear(self) -> None:
        with self._lock:
            for path, _b, _t_ in self._entries.values():
                try:
                    os.unlink(path)
                except OSError:
                    pass
            self._entries.clear()
            self._bytes = 0


class LocalEnv:
    """POSIX fast path for plain paths and file:// URIs."""

    scheme = ""
    # executors share this filesystem (the same shared-storage write
    # contract the parquet data files already rely on)
    distributed = True
    # Spark/Hadoop reads file paths natively
    spark_native = True
    # publish_new is hardlink-based O_CREAT|O_EXCL: POSIX-atomic
    atomic_publish = True

    @staticmethod
    def _p(path: str) -> str:
        return strip_file_scheme(path)

    def read_bytes(self, path: str) -> bytes:
        with open(self._p(path), "rb") as f:
            return f.read()

    def open_read(self, path: str):
        return open(self._p(path), "rb")

    def write_bytes(self, path: str, data: bytes, fsync: bool = False) -> None:
        """Atomic overwrite: tmp + rename."""
        p = self._p(path)
        tmp = p + f".tmp.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "wb") as f:
            f.write(data)
            if fsync:
                f.flush()
                os.fsync(f.fileno())
        os.replace(tmp, p)

    def publish_new(self, path: str, data: bytes, fsync: bool = True) -> None:
        """Atomic create-if-absent (O_CREAT|O_EXCL via hardlink);
        raises FileExistsError when another writer won."""
        p = self._p(path)
        tmp = p + f".tmp.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "wb") as f:
            f.write(data)
            if fsync:
                f.flush()
                os.fsync(f.fileno())
        try:
            os.link(tmp, p)  # atomic fail-if-exists publish
        finally:
            os.unlink(tmp)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._p(path))

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(self._p(path))
        except (FileNotFoundError, NotADirectoryError):
            return []

    def makedirs(self, path: str) -> None:
        os.makedirs(self._p(path), exist_ok=True)

    def walk_files(self, path: str) -> list[str]:
        """RELATIVE paths of every regular file under ``path``."""
        base = self._p(path)
        out = []
        for dirpath, _dirs, names in os.walk(base):
            rel = os.path.relpath(dirpath, base)
            out += [n if rel == "." else os.path.join(rel, n) for n in names]
        return sorted(out)

    def replace(self, src: str, dst: str) -> None:
        os.replace(self._p(src), self._p(dst))

    def rename_dir(self, src: str, dst: str) -> None:
        os.rename(self._p(src), self._p(dst))

    def put_file(self, local_src: str, dst: str) -> None:
        os.replace(local_src, self._p(dst))

    def unlink(self, path: str, missing_ok: bool = False) -> None:
        try:
            os.unlink(self._p(path))
        except FileNotFoundError:
            if not missing_ok:
                raise

    def rmtree(self, path: str) -> None:
        import shutil

        shutil.rmtree(self._p(path), ignore_errors=True)

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    def identity(self, path: str):
        """Stable per content-version (inode + mtime): keys the state
        cache so a table recreated at the same path can't serve a dead
        table's snapshot."""
        try:
            s = os.stat(self._p(path))
            return (s.st_ino, s.st_mtime_ns)
        except OSError:
            return None

    def read_array(self, path: str, dtype="<i8"):
        """Memory-map read-only — every worker process on a host shares
        ONE page-cache copy and binary searches touch O(log) pages (the
        local fast path plans/presence.py is designed around)."""
        import numpy as np

        return np.memmap(self._p(path), dtype=dtype, mode="r")

    def spark_path(self, path: str) -> str:
        return path


class MemoryEnv:
    """In-process filesystem for ``memory://`` roots — the non-local
    Env used by tests when fsspec is absent. Driver-local: state lives
    in THIS process, so distributed sidecar builds/merges are declined
    (``distributed = False``) and Spark data IO goes through the local
    mirror (``spark_path``). Not a deployment target; the point is
    that the whole engine runs correctly with zero POSIX assumptions."""

    scheme = "memory"
    distributed = False
    spark_native = False
    atomic_publish = True  # lock + create-if-absent under _lock

    _lock = threading.RLock()
    _files: dict[str, bytes] = {}
    _vers: dict[str, int] = {}
    _dirs: set = set()
    _seq = 0
    _mirror = _MirrorCache()
    _mirror_dir: str | None = None

    @staticmethod
    def _p(path: str) -> str:
        p = path[len("memory://"):] if path.startswith("memory://") else path
        return p.rstrip("/")

    @classmethod
    def reset(cls) -> None:
        with cls._lock:
            cls._files.clear()
            cls._vers.clear()
            cls._dirs.clear()
            cls._mirror.clear()

    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            p = self._p(path)
            if p not in self._files:
                raise FileNotFoundError(path)
            return self._files[p]

    def open_read(self, path: str):
        return io.BytesIO(self.read_bytes(path))

    def _put(self, p: str, data: bytes) -> None:
        MemoryEnv._seq += 1
        self._files[p] = bytes(data)
        self._vers[p] = MemoryEnv._seq
        d = p.rsplit("/", 1)[0] if "/" in p else ""
        while d:
            self._dirs.add(d)
            d = d.rsplit("/", 1)[0] if "/" in d else ""

    def write_bytes(self, path: str, data: bytes, fsync: bool = False) -> None:
        with self._lock:
            self._put(self._p(path), data)

    def publish_new(self, path: str, data: bytes, fsync: bool = True) -> None:
        with self._lock:
            p = self._p(path)
            if p in self._files:
                raise FileExistsError(path)
            self._put(p, data)

    def exists(self, path: str) -> bool:
        with self._lock:
            p = self._p(path)
            return p in self._files or p in self._dirs

    def isdir(self, path: str) -> bool:
        with self._lock:
            return self._p(path) in self._dirs

    def listdir(self, path: str) -> list[str]:
        with self._lock:
            p = self._p(path)
            pre = p + "/" if p else ""
            names = set()
            for k in list(self._files) + list(self._dirs):
                if k.startswith(pre) and k != p:
                    names.add(k[len(pre):].split("/", 1)[0])
            return sorted(names)

    def makedirs(self, path: str) -> None:
        with self._lock:
            d = self._p(path)
            while d:
                self._dirs.add(d)
                d = d.rsplit("/", 1)[0] if "/" in d else ""

    def walk_files(self, path: str) -> list[str]:
        with self._lock:
            p = self._p(path)
            pre = p + "/" if p else ""
            return sorted(k[len(pre):] for k in self._files if k.startswith(pre))

    def replace(self, src: str, dst: str) -> None:
        with self._lock:
            s = self._p(src)
            if s not in self._files:
                raise FileNotFoundError(src)
            data = self._files.pop(s)
            self._vers.pop(s, None)
            self._put(self._p(dst), data)

    def rename_dir(self, src: str, dst: str) -> None:
        with self._lock:
            s, d = self._p(src), self._p(dst)
            pre = s + "/"
            for k in [k for k in self._files if k.startswith(pre)]:
                data = self._files.pop(k)
                self._vers.pop(k, None)
                self._put(d + "/" + k[len(pre):], data)
            for k in [k for k in self._dirs if k == s or k.startswith(pre)]:
                self._dirs.discard(k)
                self._dirs.add(d + k[len(s):])

    def put_file(self, local_src: str, dst: str) -> None:
        with open(local_src, "rb") as f:
            data = f.read()
        with self._lock:
            self._put(self._p(dst), data)
        os.unlink(local_src)

    def unlink(self, path: str, missing_ok: bool = False) -> None:
        with self._lock:
            p = self._p(path)
            if p in self._files:
                del self._files[p]
                self._vers.pop(p, None)
            elif not missing_ok:
                raise FileNotFoundError(path)

    def rmtree(self, path: str) -> None:
        with self._lock:
            p = self._p(path)
            pre = p + "/"
            for k in [k for k in self._files if k == p or k.startswith(pre)]:
                del self._files[k]
                self._vers.pop(k, None)
            for k in [k for k in self._dirs if k == p or k.startswith(pre)]:
                self._dirs.discard(k)

    def size(self, path: str) -> int:
        return len(self.read_bytes(path))

    def identity(self, path: str):
        with self._lock:
            return (self._vers.get(self._p(path)),)

    def read_array(self, path: str, dtype="<i8"):
        import numpy as np

        # FileNotFoundError propagates as-is: callers distinguish
        # "file never written" (legal empty shard) from real IO errors
        return np.frombuffer(self.read_bytes(path), dtype=dtype)

    def spark_path(self, path: str) -> str:
        """Driver-local mirror for Spark's parquet reader: files are
        immutable once published, so a mirrored copy is cached per
        (path, version) in a byte-capped LRU (eviction deletes the
        temp copy — long test sessions must not leak disk)."""
        import tempfile

        with self._lock:
            p = self._p(path)
            if p not in self._files:
                return path  # let Spark raise its own not-found
            key = (p, self._vers[p])
            hit = self._mirror.get(key)
            if hit is not None:
                return hit
            if MemoryEnv._mirror_dir is None:
                MemoryEnv._mirror_dir = tempfile.mkdtemp(prefix="pyskudu-memfs-")
            local = os.path.join(
                MemoryEnv._mirror_dir, f"{self._vers[p]}-{p.replace('/', '_')}"
            )
            with open(local, "wb") as f:
                f.write(self._files[p])
            self._mirror.put(key, local)
            return local


# per-scheme publish locks (capability #2 in the module-docstring
# atomicity ladder): lock_factory(path) returns a context manager held
# across the exists+write of publish_new. Registered by deployments
# whose store lacks conditional create (e.g. a DynamoDB or ZooKeeper
# mutex). Module-global by scheme so pickled Envs re-resolve it.
_PUBLISH_LOCKS: dict[str, object] = {}


def register_publish_lock(scheme: str, lock_factory) -> None:
    """Install an external mutex for ``scheme``'s commit publishes
    (``None`` to remove). ``lock_factory(path)`` must return a context
    manager that provides mutual exclusion across ALL writers of
    ``path`` — with it held, exists-then-write is serialized and the
    scheme counts as multi-writer safe."""
    if lock_factory is None:
        _PUBLISH_LOCKS.pop(scheme, None)
    else:
        _PUBLISH_LOCKS[scheme] = lock_factory
    env = _ENVS.get(scheme)
    if env is not None and hasattr(env, "_resolve_atomic"):
        env._resolve_atomic()


class FsspecEnv:
    """Metadata/sidecar IO over any fsspec filesystem. Data-plane:
    Spark scans the URIs directly when Hadoop knows the scheme
    (``spark_native`` — probed via ``bind_spark``); otherwise files
    mirror through a driver-local cache like MemoryEnv (correct,
    driver-bound — only sensible for dev/test schemes)."""

    distributed = True

    def __init__(self, scheme: str):
        import fsspec  # caller guards ImportError

        self.scheme = scheme
        self.fs = fsspec.filesystem(_FSSPEC_ALIAS.get(scheme, scheme))
        self.spark_native: bool | None = None  # resolved by bind_spark
        self._mirror = _MirrorCache()
        self._mirror_dir: str | None = None
        self._resolve_atomic()

    def _resolve_atomic(self) -> None:
        """Pick the publish strategy (see module docstring):
        conditional create if the driver's ``pipe_file`` signature
        exposes ``mode`` (fsspec ≥2024.6 maps it to the store's
        conditional put), else an external lock if registered, else
        the gated non-atomic fallback."""
        import inspect

        try:
            params = inspect.signature(self.fs.pipe_file).parameters
            self._cond_create = "mode" in params and self._pipe_file_is_own()
        except (TypeError, ValueError):
            self._cond_create = False
        # signature acceptance is a claim, not proof — a driver could
        # take mode= and ignore it. The first successful conditional
        # create VERIFIES the claim (re-create must raise); until then
        # the capability is provisional, and a caught lie REVOKES it
        # permanently for this process.
        if getattr(self, "_cond_revoked", False):
            self._cond_create = False
        self._cond_verified = getattr(self, "_cond_verified", False)
        self.atomic_publish = bool(
            self._cond_create or self.scheme in _PUBLISH_LOCKS)

    # drivers whose pipe_file(mode="create") is KNOWN to map to the
    # store's conditional put (S3 If-None-Match, GCS generation-match,
    # Azure If-None-Match) — accepted even though their sync pipe_file
    # is the auto-generated async mirror, not a literal override
    _COND_CREATE_KNOWN = {"s3", "s3a", "gs", "gcs", "abfs", "abfss", "az", "adl"}

    def _pipe_file_is_own(self) -> bool:
        """True when the driver actually IMPLEMENTS pipe_file (sync or
        async) rather than inheriting fsspec's base class version.
        fsspec >=2024.6 puts ``mode=`` in AbstractFileSystem.pipe_file's
        BASE signature with a NON-atomic exists-then-write body, so
        signature acceptance alone would classify every non-overriding
        driver (webhdfs, sftp, ftp, ...) as conditional-create capable
        — and the base implementation even PASSES the second-create
        probe (its own exists() check raises FileExistsError), so the
        runtime verification cannot catch the misclassification. Only
        an actual override, or a whitelisted driver known to issue a
        store conditional put, earns the capability; everything else
        falls to the lock / gated-fallback strategies."""
        if self.scheme in self._COND_CREATE_KNOWN:
            return True
        import fsspec

        base = getattr(fsspec, "AbstractFileSystem", None)
        cls = type(self.fs)
        if base is None or not isinstance(self.fs, base):
            return True  # non-fsspec lookalike: its method is its own
        if getattr(cls, "pipe_file", None) is not getattr(base, "pipe_file", None):
            return True
        try:
            from fsspec.asyn import AsyncFileSystem
        except Exception:
            return False
        if isinstance(self.fs, AsyncFileSystem):
            return (getattr(cls, "_pipe_file", None)
                    is not getattr(AsyncFileSystem, "_pipe_file", None))
        return False

    def __reduce__(self):  # picklable into executor closures
        return (FsspecEnv, (self.scheme,))

    def read_bytes(self, path: str) -> bytes:
        try:
            return self.fs.cat_file(path)
        except FileNotFoundError:
            raise
        except Exception as e:  # normalize driver-specific not-found
            if "not found" in str(e).lower() or "no such" in str(e).lower():
                raise FileNotFoundError(path) from None
            raise

    def open_read(self, path: str):
        return self.fs.open(path, "rb")

    def write_bytes(self, path: str, data: bytes, fsync: bool = False) -> None:
        self.fs.pipe_file(path, data)

    def publish_new(self, path: str, data: bytes, fsync: bool = True) -> None:
        # strategy 1: the store's conditional put (atomic) — fsspec
        # maps mode="create" to S3 If-None-Match / GCS generation-match
        if self._cond_create:
            try:
                self.fs.pipe_file(path, data, mode="create")
                if not self._cond_verified:
                    # one-time proof per process: a SECOND create of
                    # the same path must fail. A driver that accepts
                    # mode= but ignores it would otherwise defeat the
                    # atomicity silently; the re-put writes identical
                    # bytes, so a passing or failing probe never
                    # corrupts the just-published commit.
                    try:
                        self.fs.pipe_file(path, data, mode="create")
                        ignored = True
                    except FileExistsError:
                        ignored = False
                    except Exception:
                        # verification INCONCLUSIVE (untranslated 412 /
                        # ClientError, transient network failure): the
                        # commit itself already landed — never fail a
                        # successful publish over its probe. Leave
                        # _cond_verified False so a later publish
                        # re-probes.
                        return
                    if ignored:
                        self._cond_revoked = True
                        self._resolve_atomic()
                        import logging

                        logging.getLogger("kudu_spark.fs").error(
                            "scheme %s:// ACCEPTS pipe_file(mode='create') "
                            "but does not enforce it — conditional create "
                            "is a no-op on this driver. Falling back to "
                            "gated exists-then-write; new Engines on this "
                            "scheme will refuse multi-writer use.",
                            self.scheme)
                    else:
                        self._cond_verified = True
                return
            except FileExistsError:
                raise
            except ValueError as e:
                # a driver that takes mode but rejects "create" drops
                # to the gated fallback permanently (and loudly, via
                # check_multi_writer_safe on the next Engine)
                if "mode" not in str(e).lower():
                    raise
                self._cond_revoked = True
                self._resolve_atomic()
        # strategy 2: external per-scheme publish lock (serialized)
        lock = _PUBLISH_LOCKS.get(self.scheme)
        if lock is not None:
            with lock(path):
                if self.fs.exists(path):
                    raise FileExistsError(path)
                self.fs.pipe_file(path, data)
            return
        # strategy 3 (gated by check_multi_writer_safe): exists-then-
        # write plus a post-write read-back. NOT atomic — the read-back
        # narrows the race window and detects most lost races (commit
        # payloads are unique per writer), it does not close it.
        if self.fs.exists(path):
            raise FileExistsError(path)
        self.fs.pipe_file(path, data)
        try:
            back = self.fs.cat_file(path)
        except Exception:
            back = None
        if back is not None and back != data:
            raise FileExistsError(
                f"{path}: lost a publish race (post-write read-back "
                "differs) — another writer's commit landed"
            )

    def exists(self, path: str) -> bool:
        return self.fs.exists(path)

    def isdir(self, path: str) -> bool:
        return self.fs.isdir(path)

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(
                p.rstrip("/").rsplit("/", 1)[-1] for p in self.fs.ls(path, detail=False)
            )
        except FileNotFoundError:
            return []

    def makedirs(self, path: str) -> None:
        self.fs.makedirs(path, exist_ok=True)

    def _norm(self, path: str) -> str:
        """Normalize a path the way THIS filesystem's own listings
        spell it: fsspec's _strip_protocol may drop the URI authority
        and root the path at '/' (hdfs://nn:8020/wh -> /wh), so a
        naive scheme-strip of OUR path would never prefix-match a
        find() result (silently empty stagings = lost writes)."""
        strip = getattr(type(self.fs), "_strip_protocol", None)
        if strip is not None:
            return strip(path)
        return path.split("://", 1)[-1]

    def walk_files(self, path: str) -> list[str]:
        base = self._norm(path).rstrip("/") + "/"
        out = []
        for p in self.fs.find(path):
            p = self._norm(p)
            if p.startswith(base):
                out.append(p[len(base):])
        return sorted(out)

    def replace(self, src: str, dst: str) -> None:
        self.fs.mv(src, dst)

    def rename_dir(self, src: str, dst: str) -> None:
        self.fs.mv(src, dst, recursive=True)

    def put_file(self, local_src: str, dst: str) -> None:
        self.fs.put_file(local_src, dst)
        os.unlink(local_src)

    def unlink(self, path: str, missing_ok: bool = False) -> None:
        try:
            self.fs.rm_file(path)
        except FileNotFoundError:
            if not missing_ok:
                raise

    def rmtree(self, path: str) -> None:
        try:
            self.fs.rm(path, recursive=True)
        except FileNotFoundError:
            pass

    def size(self, path: str) -> int:
        return int(self.fs.size(path))

    def identity(self, path: str):
        try:
            info = self.fs.info(path)
        except FileNotFoundError:
            return None
        # a size-only identity is NOT stable per content-version (a
        # recreated table's commit N can coincide in byte length with
        # the dead table's) — require a version-ish component (etag /
        # mtime / created) or decline, so replay skips its state cache
        # instead of serving a dead table's snapshot
        ident = tuple(
            info[k]
            for k in ("ETag", "etag", "mtime", "LastModified", "created")
            if info.get(k) is not None
        )
        if not ident:
            return None
        return ident + ((info["size"],) if "size" in info else ())

    def read_array(self, path: str, dtype="<i8"):
        import numpy as np

        # FileNotFoundError propagates as-is (see LocalEnv.read_array)
        return np.frombuffer(self.read_bytes(path), dtype=dtype)

    def spark_path(self, path: str) -> str:
        if self.spark_native:
            return path
        import tempfile

        ident = self.identity(path)
        key = (path, ident)
        hit = self._mirror.get(key)
        if hit is not None:
            return hit
        if self._mirror_dir is None:
            self._mirror_dir = tempfile.mkdtemp(prefix="pyskudu-mirror-")
        local = os.path.join(
            self._mirror_dir, path.split("://", 1)[-1].replace("/", "_")
        )
        self.fs.get_file(path, local)
        self._mirror.put(key, local)
        return local


_LOCAL = LocalEnv()
_ENVS: dict[str, object] = {"": _LOCAL, "file": _LOCAL}
_ENVS_LOCK = threading.Lock()


def env_for_root(root: str):
    """The Env serving ``root``, cached per scheme. Raises a LOUD
    KuduSparkError for schemes nothing installed can serve — at
    Engine construction time, not deep inside a commit."""
    scheme = scheme_of(root)
    env = _ENVS.get(scheme)
    if env is not None:
        return env
    with _ENVS_LOCK:
        env = _ENVS.get(scheme)
        if env is not None:
            return env
        if scheme == "memory":
            try:
                import fsspec  # noqa: F401 — prefer the real memory FS
                env = FsspecEnv("memory")
            except ImportError:
                env = MemoryEnv()
        else:
            try:
                env = FsspecEnv(scheme)
            except ImportError:
                raise KuduSparkError(
                    f"unsupported warehouse root scheme {scheme!r} ({root}): "
                    "metadata IO for non-local roots needs the `fsspec` "
                    "package (plus the scheme's driver, e.g. s3fs for s3://); "
                    "install it or use a local / file:// root"
                ) from None
            except Exception as e:
                raise KuduSparkError(
                    f"unsupported warehouse root scheme {scheme!r} ({root}): "
                    f"fsspec cannot serve it ({e}); install the scheme's "
                    "driver (e.g. s3fs, gcsfs, adlfs) or use a local root"
                ) from None
        _ENVS[scheme] = env
        return env


def check_multi_writer_safe(env, root: str, single_writer: bool) -> None:
    """Refuse — loudly, at construction — to run a warehouse on a
    scheme whose ``publish_new`` is not atomic, unless the caller
    explicitly claims single-writer discipline. Two racing writers on
    a non-atomic scheme can both "win" the same commit version and
    silently lose one commit; Kudu never has this problem because Raft
    serializes its commits (src/kudu/consensus/raft_consensus.h)."""
    if getattr(env, "atomic_publish", False) or single_writer:
        return
    raise KuduSparkError(
        f"warehouse root {root!r}: scheme {env.scheme!r} has no atomic "
        "create-if-absent (its fsspec driver predates conditional "
        "writes / pipe_file(mode='create')), so concurrent writers can "
        "silently lose commits. Either upgrade the driver, register an "
        "external publish lock (kudu_spark.fs.register_publish_lock), "
        "or opt in with Engine(..., single_writer=True) if exactly one "
        "process ever writes this warehouse."
    )


def bind_spark(env, spark) -> None:
    """Resolve whether Spark/Hadoop can read ``env``'s scheme natively
    (data files scanned in place) — one probe per scheme. Without a
    probe, FsspecEnv falls back to the driver-local mirror, which is
    correct but not the 100 TB path; Engine/Table bind at construction
    so real deployments always get the direct answer. Binding also
    lets the session's Python workers import this package
    (session.share_package)."""
    from kudu_spark.session import share_package

    share_package(spark)
    if getattr(env, "spark_native", None) is not None:
        return
    try:
        jvm = spark._jvm
        uri = jvm.java.net.URI(f"{env.scheme}:///")
        jvm.org.apache.hadoop.fs.FileSystem.get(
            uri, spark._jsc.hadoopConfiguration())
        env.spark_native = True
    except Exception:
        env.spark_native = False
        import logging

        logging.getLogger("kudu_spark.fs").warning(
            "scheme %s:// is not Hadoop-readable: parquet data IO will "
            "mirror through a driver-local cache — fine for dev/test, "
            "not a 100 TB path (use s3a://, hdfs://, gs://, ... for "
            "Spark-native scans)", env.scheme,
        )
