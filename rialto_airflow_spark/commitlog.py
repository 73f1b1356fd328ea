"""Shared versioned-store commit layer: ordered commit log over a
pluggable put-if-absent primitive.

Every durable artifact this engine publishes — TableStore tables
(``storage.py``), the MinHash dedup index (``operators/dedup.py``),
the LSH/IVF ANN indexes (``operators/similarity.py``) — follows the
same discipline: land immutable data in a fresh version directory,
then make it live with a metadata commit. Before round 8 each store
re-implemented that discipline as pointer-file + ``os.replace``,
which is atomic on POSIX but has NO analog on S3/GCS where a 100-TB
deployment actually lives (object stores don't rename; "rename" is
copy+delete and readers can observe the gap). This module replaces
the three copies with one layer built on the primitive object stores
DO provide:

    put_if_absent(path, data) -> bool

— create-exclusive with full-content visibility. On S3 that is a
conditional PUT (``If-None-Match: *``, atomic since the 2024 API
addition; S3 has been strongly consistent since 2020), on GCS a
precondition ``ifGenerationMatch=0``, on POSIX ``os.link`` from a
private temp file (link is atomic and fails EEXIST; the content is
complete before the name appears). Everything else — CAS, ordering,
torn-write tolerance, time travel — derives from that one primitive
via a Delta-style ordered commit log (PAPERS.md: Armbrust et al.,
"Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020 — the log-is-the-truth design, not the code).

Log layout under ``{root}/_commits/``::

    00000000000000000001.json   {"path": ".../v...", "committed_at": ...}
    00000000000000000002.json   ...

The highest parseable sequence is the current version. Writers race
by attempting ``put_if_absent`` at ``head+1``: exactly one wins;
with ``expected=`` the loser gets :class:`CommitConflict` (the CAS
the append/rebuild maintenance paths need), without it the loser
re-reads and retries at the new head+1.

Crash anatomy (the fault-injection tests pin each case):

* crash AFTER data write, BEFORE commit → an orphan version dir the
  log never references; readers keep resolving the old commit;
  vacuum reclaims the orphan later.
* torn/partial commit object (a backend without atomic visibility,
  or a half-uploaded multipart PUT) → unparseable entries are
  never-committed: resolution takes the highest PARSEABLE entry, so
  a torn tail only delays visibility and can never serve bad data.
  New commits always sequence ABOVE the torn names so stuck garbage
  objects can't block writes.
* duplicate publish attempt after a lost ACK → ``put_if_absent``
  fails EEXIST, writer re-reads and re-sequences; no commit is ever
  overwritten (commit objects are immutable once visible).
"""

from __future__ import annotations

import json
import os
import time
import uuid


class CommitConflict(RuntimeError):
    """A CAS commit lost: the log head moved past ``expected``.

    The caller's version-derived work (an append into a specific
    version's directories, a compaction of a specific snapshot) may
    now be stranded in a superseded version — re-resolve the current
    version and redo the work against it; never retry the commit
    blind."""


#: sentinel for commit(expected=ANY): no CAS, retry past losers.
ANY = object()


class CommitBackend:
    """Storage contract the versioned stores need, in two planes.

    METADATA plane (abstract — every backend must supply it):
    :meth:`put_if_absent` must be atomic — the name appears with its
    FULL content or not at all, and concurrent puts of the same name
    have exactly one winner. :meth:`read`/:meth:`list_dir`/
    :meth:`delete` complete it.

    DATA plane (:meth:`data_exists` / :meth:`list_data` /
    :meth:`delete_data`): answers about the version DIRECTORIES —
    which exist, what their names are, reclaim one. Version data is
    still WRITTEN by Spark's own committers (that contract does not
    change), but every listing/existence/delete DECISION the stores
    make routes through these methods so they hold off-POSIX: on
    S3/GCS they are LIST-with-delimiter, LIST-prefix-nonempty, and
    batched DELETE — all plain object operations needing no
    atomicity. The base-class defaults answer from the executing
    filesystem, which is correct exactly when Spark's committer
    writes there (local mode, HDFS-mounted, NFS); a cloud backend
    overrides them with SDK calls against the same bucket its
    conditional PUTs hit."""

    def put_if_absent(self, path: str, data: bytes) -> bool:
        raise NotImplementedError

    def read(self, path: str) -> bytes | None:
        raise NotImplementedError

    def list_dir(self, dirpath: str) -> list[str]:
        """Names (not paths) of entries in ``dirpath``; [] if absent."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    # --- data plane (version directories) --------------------------
    def data_exists(self, path: str) -> bool:
        """True iff data exists at ``path`` — a directory OR a single
        data file (file-granular manifest entries reference individual
        parquet files) on POSIX; a non-empty key prefix or object on
        an object store."""
        return os.path.exists(path)

    def list_data(self, dirpath: str) -> list[str]:
        """Child DIRECTORY names (candidate versions) under
        ``dirpath``; [] if absent. Object stores: LIST with '/'
        delimiter, common prefixes only."""
        try:
            names = os.listdir(dirpath)
        except FileNotFoundError:
            return []
        return [
            d for d in names if os.path.isdir(os.path.join(dirpath, d))
        ]

    def list_data_files(self, dirpath: str) -> list[str]:
        """Plain FILE names under ``dirpath`` (one level — the
        per-partition data files a compactor counts); [] if absent.
        DATA-plane: maintenance decisions like "is this bucket
        fragmented" must route here, not through :meth:`list_dir`,
        which lists the METADATA store and returns [] for on-disk
        version dirs under a split-plane backend (memory/object-store
        log over filesystem data)."""
        try:
            names = os.listdir(dirpath)
        except FileNotFoundError:
            return []
        return [
            f for f in names if os.path.isfile(os.path.join(dirpath, f))
        ]

    def delete_data(self, path: str) -> None:
        """Reclaim the data at ``path`` — a version/leaf directory
        (recursive) or a single data file (file-granular vacuum);
        missing is fine. Object stores: paged LIST + batched DELETE."""
        import shutil

        if os.path.isfile(path):
            try:
                os.remove(path)
            except OSError:
                pass
            return
        shutil.rmtree(path, ignore_errors=True)

    def data_size(self, path: str) -> int:
        """Total data bytes under ``path`` (compaction sizing) —
        metadata only: a recursive listing, never a data read. Object
        stores: sum of object sizes from a paged LIST; Hadoop:
        ``getContentSummary``. Hidden files (``_*``/``.*``) are
        excluded to match what a parquet reader pays for. A single
        data FILE (file-granular manifest entry) sizes directly."""
        if os.path.isfile(path):
            try:
                return os.path.getsize(path)
            except OSError:
                return 0
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return total

    def sweep_tmp(self, dirpath: str, older_than_s: float) -> list[str]:
        """Remove stale private-temp residue this backend's own
        :meth:`put_if_absent` may leave in ``dirpath`` after a crash.
        Base: nothing to sweep — a single conditional PUT leaves no
        residue (S3/GCS/memory)."""
        return []


class PosixBackend(CommitBackend):
    """Local-filesystem backend: put-if-absent via ``os.link`` from a
    private temp file. ``link(2)`` is atomic, fails ``EEXIST`` when
    the target name is taken, and the target appears only after the
    temp file's content is fully written+fsynced — the same
    guarantees a conditional PUT gives on an object store, built
    WITHOUT rename so the protocol stays honest about what a cloud
    deployment can rely on."""

    def put_if_absent(self, path: str, data: bytes) -> bool:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".put.{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def read(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def list_dir(self, dirpath: str) -> list[str]:
        try:
            return os.listdir(dirpath)
        except FileNotFoundError:
            return []

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def sweep_tmp(self, dirpath: str, older_than_s: float) -> list[str]:
        """Unlink ``.put.*.tmp`` files older than ``older_than_s``.

        :meth:`put_if_absent` unlinks its private temp in a
        ``finally``, but ``finally`` does not run on SIGKILL/power
        loss — so repeatedly-crashing writers would otherwise grow
        the commit directory (and every LIST over it, the module's
        own cost ceiling) without bound. ``_scan`` already ignores
        the names, so this is hygiene, not correctness; the age gate
        keeps the sweep from racing a LIVE writer between its write
        and its link (a put completes in well under a second — an
        hour-old tmp is a corpse)."""
        removed = []
        cutoff = time.time() - older_than_s
        for name in self.list_dir(dirpath):
            if name.startswith(".put.") and name.endswith(".tmp"):
                p = os.path.join(dirpath, name)
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.unlink(p)
                        removed.append(name)
                except FileNotFoundError:
                    pass  # concurrent sweeper or the writer's finally
        return removed


class MemoryBackend(CommitBackend):
    """In-memory reference backend: a dict and a put-if-absent. Ships
    as the executable spec of the object-store seam — it supports NO
    rename/replace at all, so any store that passes its tests against
    this backend provably never needed POSIX atomicity for its
    METADATA path. The DATA plane keeps the base-class
    executing-filesystem defaults: Spark's committer writes version
    parquet to the local FS in these tests, so that is where
    existence/listing questions are answered — the same split a
    cloud deployment has (committer owns data writes, backend owns
    the decisions), with the store itself making zero direct
    os-level calls either way."""

    def __init__(self):
        import threading

        self.objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def put_if_absent(self, path: str, data: bytes) -> bool:
        # under the lock: a bare check-then-set would let two threads
        # both "win" and one payload silently overwrite the other —
        # the exact one-winner contract this class exists to model
        with self._lock:
            if path in self.objects:
                return False
            self.objects[path] = data
            return True

    def read(self, path: str) -> bytes | None:
        with self._lock:
            return self.objects.get(path)

    def list_dir(self, dirpath: str) -> list[str]:
        prefix = dirpath.rstrip("/") + "/"
        # under the lock: iterating the dict while a concurrent put
        # inserts raises "dictionary changed size during iteration"
        with self._lock:
            return sorted(
                {
                    p[len(prefix):].split("/", 1)[0]
                    for p in self.objects
                    if p.startswith(prefix)
                }
            )

    def delete(self, path: str) -> None:
        with self._lock:
            self.objects.pop(path, None)


class HadoopFsBackend(CommitBackend):
    """Backend over Spark's own Hadoop ``FileSystem`` layer (py4j to
    the already-running JVM — no new dependency): the deployment
    shape for a CLUSTER, where commit objects and version data live
    on the same ``hdfs://`` / ``s3a://`` / ``gs://`` URI space
    Spark's committers write to. Every plane routes through ONE
    abstraction:

      * put_if_absent — ``FileSystem.create(path, overwrite=false)``:
        atomic one-winner on HDFS (namenode arbitration) and on S3A
        with conditional create (Hadoop 3.4.1+, HADOOP-19256 —
        ``fs.s3a.create.conditional.enabled``); the second creator
        gets FileAlreadyExistsException. NOT atomic on the
        raw/checksummed LOCAL FileSystem (check-then-create) — local
        deployments should keep :class:`PosixBackend`; this class is
        for URIs a cluster shares.
      * full-content visibility — create-then-write means a reader
        CAN open an in-flight entry and see partial bytes on HDFS.
        That maps exactly onto the log's torn-entry tolerance:
        unparseable ⇒ never-committed, resolution skips down to the
        last parseable entry, and the entry becomes visible when the
        writer's close() lands. A half-written commit behaves like a
        crashed writer for a few milliseconds — delayed visibility,
        never bad data (head() docstring).
      * data plane — listStatus / getFileStatus / delete(recursive),
        the same calls Spark's own committers make.

    Constructed from a live SparkSession so it inherits the session's
    Hadoop configuration (credentials, endpoints, committers)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._conf = sc._jsc.hadoopConfiguration()
        self._warned_local = False

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p):
        return p.getFileSystem(self._conf)

    def put_if_absent(self, path: str, data: bytes) -> bool:
        p = self._jpath(path)
        fs = self._fs(p)
        # Misconfiguration guard (round-9 ADVICE): on the local/
        # checksummed FileSystem create-no-overwrite is check-then-
        # create, so one-winner semantics — the property every store
        # certifies against PosixBackend/MemoryBackend — silently
        # degrade. A cluster pointing this backend at file:// is a
        # deployment mistake; say so loudly once instead of losing a
        # commit race quietly (use PosixBackend for local paths).
        if not self._warned_local and fs.getScheme() == "file":
            import warnings

            warnings.warn(
                "HadoopFsBackend over the local FileSystem: "
                "create-no-overwrite is NOT atomic on file:// — "
                "concurrent writers can both win a commit seq. Use "
                "PosixBackend (O_CREAT|O_EXCL) for local paths.",
                RuntimeWarning,
                stacklevel=2,
            )
            self._warned_local = True
        fs.mkdirs(p.getParent())
        try:
            out = fs.create(p, False)
        except Exception:
            # create-no-overwrite lost: FileAlreadyExistsException
            # (exact class varies by FS) — loser iff the name exists
            if fs.exists(p):
                return False
            raise
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return True

    def read(self, path: str) -> bytes | None:
        p = self._jpath(path)
        fs = self._fs(p)
        if not fs.exists(p):
            return None
        # exists/open TOCTOU (round-9 ADVICE): a concurrent prune can
        # delete the entry between the two calls; PosixBackend returns
        # None in that race, and head()/history() resolution RELIES on
        # missing-entry tolerance — so map FileNotFound to None here
        # too instead of leaking a py4j error to readers.
        try:
            stream = fs.open(p)
        except Exception as ex:
            if "FileNotFoundException" in str(ex):
                return None
            raise
        try:
            # commons-io ships on Spark's classpath; commit entries
            # are tiny (one JSON object), so a full read is right
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        except Exception as ex:
            if "FileNotFoundException" in str(ex):
                return None
            raise
        finally:
            stream.close()

    def list_dir(self, dirpath: str) -> list[str]:
        p = self._jpath(dirpath)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        return [s.getPath().getName() for s in fs.listStatus(p)]

    def delete(self, path: str) -> None:
        p = self._jpath(path)
        self._fs(p).delete(p, False)

    # --- data plane -------------------------------------------------
    def data_exists(self, path: str) -> bool:
        # directories AND single data files count (file-granular
        # manifest entries reference individual parquet files)
        p = self._jpath(path)
        return self._fs(p).exists(p)

    def list_data(self, dirpath: str) -> list[str]:
        p = self._jpath(dirpath)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        return [
            s.getPath().getName()
            for s in fs.listStatus(p)
            if s.isDirectory()
        ]

    def list_data_files(self, dirpath: str) -> list[str]:
        p = self._jpath(dirpath)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        return [
            s.getPath().getName()
            for s in fs.listStatus(p)
            if s.isFile()
        ]

    def delete_data(self, path: str) -> None:
        p = self._jpath(path)
        self._fs(p).delete(p, True)

    def data_size(self, path: str) -> int:
        p = self._jpath(path)
        fs = self._fs(p)
        if not fs.exists(p):
            return 0
        # getContentSummary is one namenode/LIST round trip; includes
        # hidden _SUCCESS-style markers, whose bytes are negligible
        # against parquet data for sizing purposes
        return int(fs.getContentSummary(p).getLength())


_SEQ_WIDTH = 20


def _canon(p: str) -> str:
    """Canonical form for path EQUALITY comparisons (current-version
    checks, pinned sets, removed sets): POSIX paths absolutize so
    relative and absolute spellings of the same dir compare equal;
    URI paths (``hdfs://``, ``s3a://``, ``file://`` — anything with a
    scheme) pass through untouched, since ``os.path.abspath`` would
    mangle them into ``/cwd/s3a:/...``. Stores only ever compare
    paths they themselves constructed from one root, so pass-through
    equality is exact for URIs."""
    return p if "://" in p else os.path.abspath(p)


_DEFAULT_BACKEND: CommitBackend | None = None


def set_default_backend(backend: CommitBackend | None) -> None:
    """Install the process-wide commit backend for every store whose
    caller didn't pass one explicitly — TableStore tables, the MinHash
    index, the LSH/IVF ANN indexes. This is the one-line cloud switch:
    a deployment constructs its conditional-PUT S3/GCS backend once at
    startup and every versioned store in the engine publishes through
    it; ``None`` restores the POSIX default. Resolution is late (at
    each store handle's construction), so the order of imports doesn't
    matter."""
    global _DEFAULT_BACKEND
    _DEFAULT_BACKEND = backend


def default_backend() -> CommitBackend:
    """The backend used when none is passed: the installed process
    default, else :class:`PosixBackend`."""
    return _DEFAULT_BACKEND or PosixBackend()


class CommitLog:
    """Ordered commit log in ``dirpath``: zero-padded ``{seq}.json``
    entries, highest parseable seq wins."""

    def __init__(self, dirpath: str, backend: CommitBackend | None = None):
        self.dir = dirpath
        self.backend = backend or default_backend()

    def _entry_path(self, seq: int) -> str:
        return os.path.join(self.dir, f"{seq:0{_SEQ_WIDTH}d}.json")

    def _scan(self) -> tuple[list[int], int]:
        """ONE backend listing parsed into (sorted entry seqs, prune
        floor). Entries and floor markers share the directory on
        purpose: every sequencing/resolution decision costs a single
        LIST — the operation this module's own docs call the
        object-store cost ceiling."""
        entries: list[int] = []
        floor = 0
        for name in self.backend.list_dir(self.dir):
            if name.endswith(".json"):
                stem = name[:-5]
                if stem.isdigit():
                    entries.append(int(stem))
            elif name.startswith("floor."):
                stem = name[len("floor."):]
                if stem.isdigit():
                    floor = max(floor, int(stem))
        return sorted(entries), floor

    def _entries(self) -> list[int]:
        return self._scan()[0]

    def _load(self, seq: int) -> dict | None:
        raw = self.backend.read(self._entry_path(seq))
        if raw is None:
            return None
        try:
            return json.loads(raw.decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            return None

    def head(self) -> tuple[int, dict] | None:
        """(seq, payload) of the newest COMMITTED entry — the highest
        PARSEABLE one — or None.

        Torn entries (unparseable bytes: a writer died mid-publish on
        a backend without atomic visibility, or a half-uploaded
        multipart PUT) are treated as never-committed. They can only
        accumulate as a contiguous tail above the last real commit —
        each crashed writer sequences above everything listed,
        including earlier garbage — so skipping down to the first
        parseable entry is exactly "ignore the in-flight publishes
        that never completed", the Delta-style fail-closed rule.
        Resolution never moves FORWARD past a valid commit; a torn
        entry can only ever delay visibility, not serve bad data.

        One documented exception to monotonicity: a CAS commit that
        wins its put and is then invalidated by the post-win audit
        self-deletes (see :meth:`_aba_recycled`'s docstring tail) —
        a head() racing inside that window can observe the retracted
        entry once. It is always a complete, well-formed version
        payload; the next head() returns to the surviving lineage."""
        for seq in reversed(self._entries()):
            payload = self._load(seq)
            if payload is not None:
                return seq, payload
        return None

    def history(self) -> list[tuple[int, dict]]:
        """All parseable commits, oldest first."""
        out = []
        for seq in self._entries():
            p = self._load(seq)
            if p is not None:
                out.append((seq, p))
        return out

    def commit(self, payload: dict, expected=ANY, max_attempts: int = 50) -> int:
        """Append ``payload`` as the next commit; returns its seq.

        ``expected=ANY`` → unconditional: losing the put race re-reads
        the head and retries above it. ``expected=None`` → the log
        must hold no commits (first-commit-wins init). ``expected=
        <seq>`` → CAS: the head must still be ``<seq>`` at the
        winning put, else :class:`CommitConflict`. The CAS is
        enforced BY the put-if-absent itself — the commit claims the
        next free name above ``expected`` and a winner there proves
        no other COMMIT sequenced in between (torn garbage names are
        skipped over, then a post-win re-list confirms the gap is
        still commit-free — a real commit found there deletes our
        entry and conflicts, fail closed).

        Pruned-name ABA guard (both paths): :meth:`prune` frees seq
        names, so a writer whose listing predates a prune could win a
        put at a name BELOW the current head and believe it published
        (the classic ABA). Every win therefore re-checks the prune
        floor — the same reason Delta writers resolve
        ``_last_checkpoint`` before claiming a version number — and a
        win below it runs :meth:`_aba_recycled` to tell a recycled
        name (publish never happened: retry/conflict) from an
        own-commit-already-pruned observation (the commit was real
        and has simply aged out: success).

        Known transient (documented, accepted): on the CAS path, a
        win at ``nxt`` that the post-win audit then invalidates (a
        REAL commit surfaced in the garbage gap) is retracted by
        self-delete — but between the winning put and that delete, a
        concurrent :meth:`head` can resolve the about-to-be-retracted
        entry. Head is briefly non-monotonic: serve-then-retract, on
        the one backend class that leaves torn-garbage tails AND only
        when a racer really did commit into the gap. The retracted
        payload is a fully-written, data-complete version — never
        torn bytes — so a reader that caught it read a version that
        lost a race, not corrupt data; the next resolution returns to
        the surviving lineage. Closing it entirely needs a
        read-modify-write primitive stronger than put-if-absent
        (e.g. DynamoDB-style transactional metadata), which this
        layer deliberately does not require."""
        data = json.dumps(dict(payload, committed_at=time.time())).encode()
        if expected is not ANY:
            cur, floor = self._scan()
            head_seq = 0
            for sq in reversed(cur):
                if self._load(sq) is not None:
                    head_seq = sq
                    break
            expected_seq = expected if expected is not None else 0
            if head_seq != expected_seq:
                raise CommitConflict(
                    f"commit log {self.dir}: expected head "
                    f"{expected}, found {head_seq or None}"
                )
            nxt = max(cur[-1] if cur else 0, floor) + 1
            if not self.backend.put_if_absent(self._entry_path(nxt), data):
                raise CommitConflict(
                    f"commit log {self.dir}: lost the race for seq "
                    f"{nxt} (expected head {expected})"
                )
            # ONE fresh scan feeds both post-win audits, fail closed:
            # (a) a REAL commit appeared in (expected, nxt) — possible
            # only when garbage made us skip names and a racer claimed
            # one first; (b) pruned-name ABA, disambiguated below
            cur2, floor2 = self._scan()
            gap_commits = [
                sq
                for sq in cur2
                if expected_seq < sq < nxt and self._load(sq) is not None
            ]
            if gap_commits:
                self.backend.delete(self._entry_path(nxt))
                raise CommitConflict(
                    f"commit log {self.dir}: seq {nxt} invalidated "
                    f"post-win (gap commits {gap_commits}); expected "
                    f"head {expected}"
                )
            if nxt < floor2 and self._aba_recycled(nxt, data):
                raise CommitConflict(
                    f"commit log {self.dir}: seq {nxt} was a pruned "
                    f"name reclaimed post-prune (floor {floor2}); "
                    f"expected head {expected}"
                )
            return nxt
        for _ in range(max_attempts):
            cur, floor = self._scan()
            nxt = max(cur[-1] if cur else 0, floor) + 1
            if self.backend.put_if_absent(self._entry_path(nxt), data):
                floor2 = self._scan()[1]
                if nxt < floor2 and self._aba_recycled(nxt, data):
                    continue  # publish never happened; re-sequence
                return nxt
        raise CommitConflict(
            f"commit log {self.dir}: gave up after {max_attempts} "
            "contended attempts"
        )

    def _aba_recycled(self, seq: int, data: bytes) -> bool:
        """Post-win disambiguation when the won seq sits below the
        prune floor. Two histories produce that observation:

        * ABA — a prune freed the name BEFORE our put; our bytes sit
          there now, below the real head: the publish never took
          effect. Detected by reading the name back: OUR bytes →
          recycled name. Fail closed: delete the entry (True).
        * already-pruned — our put won FIRST (the commit was briefly
          the head), we stalled, later commits superseded it and a
          prune deleted our entry while raising the floor. The name
          now reads as missing (or someone else's recycled bytes):
          the commit genuinely published and has simply aged into
          pruned history — success, not a conflict (False). Treating
          it as ABA would re-commit a superseded version as the new
          head, resurrecting data vacuum may already have reclaimed.

        Residual: a second prune racing between our (ABA) put and
        this read makes a recycled name read as missing — two prunes
        interleaving inside one stalled commit; the misread fails
        toward reporting an old pruned commit as published, never
        toward serving bad data (head is above the floor either
        way)."""
        if self.backend.read(self._entry_path(seq)) == data:
            self.backend.delete(self._entry_path(seq))
            return True
        return False

    def prune(self, below_seq: int) -> list[int]:
        """Delete log entries (parseable or torn) with seq strictly
        below ``below_seq``; returns the removed seqs.

        Why this exists: a streaming MERGE commits every micro-batch,
        so an unbounded log turns :meth:`head` into an unbounded LIST
        — the real cost ceiling on an object store, where listings
        page at ~1000 keys. Pruning entries that no retained version
        needs keeps resolution O(retained versions), the same way
        Delta's checkpoints bound its log replay. The head is never
        prunable: ``below_seq`` is clamped to the current head seq, so
        an over-eager caller can empty the history but never the
        pointer.

        Each prune publishes a ``floor.{seq}`` marker recording that
        names below ``seq`` were freed; :meth:`commit` re-checks it
        after every put win so a delayed writer can never land a
        "successful" commit at a recycled name below the head (the
        ABA the marker exists to close). Markers are tiny, immutable,
        monotone; older ones are deleted with the entries.

        Crashed-writer temp residue (PosixBackend's ``.put.*.tmp``)
        is swept here too, age-gated — prune is the maintenance pass
        that already owns the directory's growth."""
        self.backend.sweep_tmp(self.dir, 3600.0)
        head = self.head()
        if head is not None:
            below_seq = min(below_seq, head[0])
        cur, floor = self._scan()
        targets = [sq for sq in cur if sq < below_seq]
        if not targets:
            return []
        # marker FIRST, deletes second: the ABA guard must already be
        # visible when the first name frees up — marker-then-crash
        # leaves entries intact under a conservative floor (harmless),
        # delete-then-crash would leave freed names with no floor at
        # all (the silent-lost-publish window the marker closes)
        if below_seq > floor:
            self.backend.put_if_absent(
                os.path.join(self.dir, f"floor.{below_seq:0{_SEQ_WIDTH}d}"),
                b"{}",
            )
        for sq in targets:
            self.backend.delete(self._entry_path(sq))
        for name in self.backend.list_dir(self.dir):
            if name.startswith("floor."):
                stem = name[len("floor."):]
                if stem.isdigit() and int(stem) < below_seq:
                    self.backend.delete(os.path.join(self.dir, name))
        return targets


class VersionedStore:
    """Version directories + commit log + retention: the shared layer
    behind TableStore tables, the MinHash index, and the LSH/IVF
    indexes (reference analog: the Postgres tables + snapshot
    retention the reference leans on, e.g.
    rialto_airflow/publish/publication.py:91-95).

    * :meth:`new_version_path` names a fresh immutable version dir —
      write data there with Spark, then :meth:`commit` it.
    * :meth:`current` resolves the live version: the log's head.
    * :meth:`restore` is just another commit pointing at an old dir.
    * :meth:`vacuum` reclaims superseded/orphaned version dirs by
      count and/or age, never the current one.

    Only COMMITS route through the backend; version-dir data is
    written by Spark directly (on a cluster that's the
    FileOutputCommitter/cloud committer's job). Version dirs are
    never mutated after commit, so readers that resolved a version
    keep a consistent snapshot for as long as retention allows.
    """

    LOG_DIR = "_commits"

    def __init__(
        self,
        root: str,
        backend: CommitBackend | None = None,
        version_prefix: str = "v",
    ):
        self.root = root
        self.backend = backend or default_backend()
        self.version_prefix = version_prefix
        self.log = CommitLog(os.path.join(root, self.LOG_DIR), self.backend)

    # -- write side -------------------------------------------------
    def new_version_path(self) -> str:
        """Fresh version dir name: ms-timestamp prefix (lexicographic
        order ≈ commit order for humans; the LOG is the authority) +
        uuid suffix (concurrent writers never collide)."""
        version = (
            f"{self.version_prefix}{int(time.time() * 1000)}"
            f"-{uuid.uuid4().hex[:8]}"
        )
        return os.path.join(self.root, version)

    def commit(self, path: str, extra: dict | None = None, expected=ANY) -> int:
        payload = dict(extra or {}, path=path)
        return self.log.commit(payload, expected=expected)

    # -- read side --------------------------------------------------
    def current(self) -> dict | None:
        """Payload of the live commit (carries at least ``path`` and
        ``committed_at``), or None before the first commit."""
        head = self.log.head()
        return head[1] if head is not None else None

    def current_path(self) -> str | None:
        cur = self.current()
        return cur["path"] if cur else None

    def current_seq(self) -> int | None:
        """Head seq for CAS commits; None on an empty log."""
        head = self.log.head()
        return head[0] if head else None

    # -- history / retention ---------------------------------------
    def _version_dirs(self) -> list[str]:
        # version DATA is written by Spark's committer; the LISTING
        # decision routes through the backend's data plane so it
        # holds off-POSIX (S3: LIST with '/' delimiter)
        return sorted(
            d
            for d in self.backend.list_data(self.root)
            if not d.startswith(("_", "."))
            and d.startswith(self.version_prefix)
        )

    def versions(self) -> list[dict]:
        """Retained version dirs, commit order (first-commit seq; a
        restore re-commits an old path but doesn't reorder it).
        Orphan dirs — data written, never committed — sort first and
        carry ``committed: False``."""
        first_seq: dict[str, int] = {}
        for seq, payload in self.log.history():
            p = payload.get("path")
            if p and p not in first_seq:
                first_seq[p] = seq
        current = self.current_path()
        out = []
        for name in self._version_dirs():
            p = os.path.join(self.root, name)
            out.append(
                {
                    "version": name,
                    "path": p,
                    "current": bool(
                        current
                        and _canon(p) == _canon(current)
                    ),
                    "committed": p in first_seq,
                }
            )
        out.sort(
            key=lambda v: (
                v["path"] in first_seq,
                first_seq.get(v["path"], 0),
                v["version"],
            )
        )
        return out

    def restore(self, version: str) -> str:
        p = os.path.join(self.root, version)
        if not self.backend.data_exists(p):
            raise FileNotFoundError(
                f"{self.root} has no retained version {version!r} "
                "(vacuumed, or never committed)"
            )
        self.commit(p, extra={"restored": True})
        return p

    def _name_timestamp(self, path: str) -> float | None:
        """Fallback age for a dir the log doesn't know: the ms
        timestamp :meth:`new_version_path` embeds in the name."""
        name = os.path.basename(path)
        if self.version_prefix and name.startswith(self.version_prefix):
            name = name[len(self.version_prefix):]
        stem = name.split("-", 1)[0]
        return int(stem) / 1000.0 if stem.isdigit() else None

    def vacuum(
        self,
        keep: int = 2,
        older_than_s: float | None = None,
        orphan_grace_s: float = 3600.0,
        pinned: set[str] | frozenset[str] = frozenset(),
        log_anchor_exclude: set[str] | frozenset[str] = frozenset(),
    ) -> list[str]:
        """Reclaim version dirs: all but the newest ``keep`` (0 =
        count-unbounded), and — when ``older_than_s`` is given — only
        those whose commit is at least that old. The CURRENT version
        is never reclaimed, whatever the thresholds.

        Never-committed ORPHAN dirs get separate, stricter handling:
        an orphan is indistinguishable from a CONCURRENT WRITER'S
        IN-FLIGHT version (data landed, commit seconds away), so
        orphans are only reclaimed once older than ``orphan_grace_s``
        (by embedded write timestamp; default 1 h — far beyond any
        write-then-commit window) or ``older_than_s`` if that is
        stricter. Without the grace, a retention vacuum racing a slow
        writer would delete the dir it is about to commit, leaving
        the table's head pointing at vanished data. ``0`` disables
        the grace (tests, known-single-writer cleanup).

        Retention IS the snapshot-consistency contract: a reader that
        resolved a version keeps reading it consistently until vacuum;
        pick ``older_than_s`` ≥ the longest query/probe lifetime (the
        reference keeps 30 days of snapshots — README.md:31).

        ``pinned``: version paths that must survive regardless of
        count/age thresholds — the hook TableStore uses to pin every
        version a RETAINED cross-table snapshot still references, so
        an aggressive per-table vacuum can't tear a snapshot apart
        (pinned paths don't count against ``keep`` either: pinning N
        old snapshot versions doesn't silently protect N unpinned
        ones).

        ``log_anchor_exclude``: paths whose first-commit seqs must NOT
        anchor the log prune below. Snapshot-pinned TABLE versions
        need their entries (reads resolve their payloads), but a
        dirty-compacted INDEX lineage pins CARRIER dirs that survive
        indefinitely as pure file-holders — nothing resolves them as
        versions, and anchoring on their (oldest) seqs would make log
        pruning a permanent no-op, growing head()'s LIST one entry
        per append forever. Index vacuums pass their carrier pin set
        here; TableStore's snapshot pins deliberately do not."""
        # ONE history pass feeds ordering, age lookup, and the prune
        # cutoff (on an object store every history() re-read is a
        # LIST+GETs — the per-candidate re-scan this replaces was
        # O(versions x entries) backend reads)
        first_commit: dict[str, tuple[int, float | None]] = {}
        for seq, payload in self.log.history():
            p = payload.get("path")
            if p and p not in first_commit:
                first_commit[p] = (seq, payload.get("committed_at"))

        def committed_at(path: str) -> float | None:
            hit = first_commit.get(path)
            if hit is not None and hit[1] is not None:
                return float(hit[1])
            return self._name_timestamp(path)

        vs = self.versions()
        current = self.current_path()
        now = time.time()
        cutoff = now - older_than_s if older_than_s is not None else None
        orphan_cutoff = now - max(orphan_grace_s, older_than_s or 0.0)
        removed = []
        pinned_abs = {_canon(p) for p in pinned}
        unpinned = [
            v for v in vs if _canon(v["path"]) not in pinned_abs
        ]
        candidates = unpinned[:-keep] if keep else unpinned
        for v in candidates:
            p = v["path"]
            if current and _canon(p) == _canon(current):
                continue
            ts = committed_at(p)
            if not v["committed"]:
                # possible in-flight writer: age out, never race
                if orphan_grace_s and (ts is None or ts > orphan_cutoff):
                    continue
            if cutoff is not None and ts is not None and ts > cutoff:
                continue
            self.backend.delete_data(p)
            removed.append(p)

        # Bound the LOG by the same retention: entries no retained
        # version needs are dead metadata, and a streaming writer
        # (one commit per micro-batch) otherwise grows the log — and
        # head()'s LIST — without bound. Keep every entry from the
        # first commit of the oldest RETAINED dir onward so retained
        # versions keep their committed_at lineage; prune() clamps to
        # the head, so the live pointer is never touched.
        # prune even when nothing was removed THIS pass: an append-only
        # index commits one marker per append against the same dir, so
        # removal may never trigger, yet everything below the oldest
        # retained version's first commit is dead metadata either way
        # (markers above the anchor prune on the next compaction roll)
        removed_set = {_canon(p) for p in removed}
        anchor_excl = {_canon(p) for p in log_anchor_exclude}
        kept_seqs = [
            seq
            for p, (seq, _ts) in first_commit.items()
            if _canon(p) not in removed_set
            and _canon(p) not in anchor_excl
            and self.backend.data_exists(p)
        ]
        if kept_seqs:
            self.log.prune(min(kept_seqs))
        return removed
