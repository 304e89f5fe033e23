"""ACID-lite: snapshot-versioned mutations with time-travel (SURVEY §1.1
row 6 — Hive's transactional-table surface, ``[jar: io/AcidInputFormat.class,
lockmgr/DbTxnManager.class]``).

Hive ACID stores a transactional table as ``base_N`` directories plus
``delta_M_M`` directories of U/D/I events, merges them on read keyed by
ROW__ID, and periodically compacts deltas back into a new base. No
Delta/Iceberg jars exist in this sandbox (SURVEY §7.8), so this module
implements the same design over plain parquet + a manifest commit log,
public API only:

- every commit is an immutable data dir (``base_*`` or ``delta_*``,
  _SUCCESS-gated) plus a ``_commits/v{n}.json`` manifest naming the base
  and the live delta chain;
- the manifest file itself is the commit point (Delta's _delta_log
  protocol): published by hard-linking a complete fsynced temp file into
  the ``v{n}.json`` slot, so a slot can never hold torn JSON and a crash
  at any point leaves either no manifest (transaction never happened) or
  a complete one (transaction committed — the next reader/writer scan
  picks it up); the latest version is a directory scan, not a pointer,
  so nothing can wedge;
- **snapshot isolation**: a reader resolves the latest manifest (or an
  explicit ``VERSION AS OF n``) once, then touches only the immutable
  dirs that manifest names — concurrent commits cannot tear its view;
- **merge-on-read**: base rows carry seq = base's commit, delta rows carry
  their commit's seq; latest-seq-per-key wins, 'D' rows drop out — one
  hash shuffle on the key (Hive's ROW__ID merge, keyed by primary key);
- **compaction** (Hive's major compaction): materialize the current
  snapshot as ``base_{n}``, commit a manifest with an EMPTY delta chain.
  Read-back equivalence is oracled below; post-compaction reads scan one
  base dir and plan zero delta unions (gated in
  tests/test_mutations.py::test_acid_compacted_read_scans_base_only);
- **partitions**: one base/delta chain per partition, and an unpartitioned
  table is the one-chain case, so every mechanism above is written once;
- **optimistic concurrency**: the hard-link publish means of two
  writers racing for version n+1 exactly one commits; the loser raises
  ConcurrentCommitError and must re-read + retry (Delta's
  first-writer-wins protocol). Losing writers leave only unreferenced
  data dirs;
- **writer lease**: WriterLease adds Hive DbTxnManager's QUEUEING
  behavior on top — a blocking lock file with heartbeat TTL and
  one-winner takeover of expired leases. The lease is an optimization
  (writers wait instead of burning retries); the hard-link publish
  remains the only commit arbiter, so correctness never depends on it.

Scale notes: deltas are mutation-sized, not table-sized; the read path is
UNION ALL + one row_number window partitioned BY KEY (hash-distributed,
never a global window). At 100 TB the base is partitioned and compaction
runs partition-at-a-time — the manifest chain is the only global state.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..helpers import T, committed, materialize, run_scratch
from ..registry import query

_COLS = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this transaction targeted
    (optimistic-concurrency conflict — re-read and retry)."""


def _fsync_dir_entries(d: str) -> None:
    """fsync every regular file in ``d`` (one level — published data dirs
    are flat parquet dirs), then ``d`` itself. Called on a data dir BEFORE
    the manifest that references it is published, so an acknowledged
    commit can never be a durable manifest pointing at vanished data (the
    commit-dir fsync alone only makes the MANIFEST durable).
    Local-filesystem fidelity; on HDFS/S3 the store's own close/PUT
    visibility semantics provide the equivalent."""
    for name in os.listdir(d):
        p = os.path.join(d, name)
        if os.path.isfile(p):
            fd = os.open(p, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
    fd = os.open(d, os.O_DIRECTORY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


#: Characters Spark/Hive percent-escape in partition dir names
#: (Hive FileUtils.escapePathName clone used by Spark's
#: ExternalCatalogUtils): ASCII controls, DEL, and the path/glob/quote
#: metacharacters.
_PART_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(1, 32)} | {
    "\x7f"
}


class LeaseLostError(RuntimeError):
    """Raised by ``heartbeat()`` when the caller's lease has expired and
    been broken + re-acquired by another writer: extending now would
    clobber the NEW holder's lock. The caller's in-flight commit simply
    degrades to an ordinary OCC conflict (the manifest publish stays the
    one arbiter) — but the queueing guarantee is surfaced, not silently
    violated."""


class LeaseTimeoutError(RuntimeError):
    """Could not acquire the writer lease before the timeout (another
    writer holds it and keeps heartbeating)."""


class WriterLease:
    """Minimal BLOCKING writer lease over a table's ``_commits`` dir —
    the DbTxnManager queueing analog (SURVEY §1.1 row 6 / §7.8; Hive's
    lock manager makes concurrent writers WAIT where our optimistic
    protocol makes them retry). This is the lock side of that choice:

    - the lease is a lock FILE (``_writer.lock``) created with O_EXCL —
      atomic create-if-absent, same primitive as the manifest publish;
    - the payload names the holder and an EXPIRY; the holder extends it
      by ``heartbeat()`` (atomic tmp+rename replace);
    - a waiter polls; on finding an EXPIRED lease (crashed holder) it
      breaks it under a break-intent file (O_EXCL serializes breakers)
      with a re-read + rename-to-tombstone + restore-if-live sequence
      (see ``_break_expired``), so takeover can never go double — a bare
      rename is NOT sufficient (it wins once per inode, but a stale
      breaker could claim a broken-and-RE-CREATED lock);
    - correctness does NOT depend on the lease: the hard-link manifest
      publish stays the one commit arbiter, so even a broken-lease race
      (old holder wakes after expiry, new holder acquired) degrades to
      an ordinary OCC conflict, not a lost update. The lease only buys
      Hive's QUEUEING behavior — writers wait instead of burning retry
      work — which is the operational win at 100 TB where a losing
      retry means re-staging a partition-sized delta.
    """

    def __init__(self, commits_dir: str, ttl_s: float = 30.0,
                 holder: str | None = None):
        self.path = os.path.join(commits_dir, "_writer.lock")
        self.ttl_s = float(ttl_s)
        self.holder = holder or f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
        self._held = False

    # -- internals ---------------------------------------------------------

    def _payload(self) -> bytes:
        import time

        return json.dumps(
            {"holder": self.holder, "expires": time.time() + self.ttl_s}
        ).encode()

    def _try_create(self) -> bool:
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, self._payload())
            os.fsync(fd)
        finally:
            os.close(fd)
        return True

    def _read(self) -> dict | None:
        try:
            with open(self.path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None  # vanished or mid-replace: re-poll

    #: A break-intent older than this is presumed crashed and swept. The
    #: margin is deliberately >> the breaker's actual work (microseconds)
    #: AND >> coarse-filesystem mtime granularity (1 s), so a LIVE
    #: breaker's fresh intent can never read as stale off a truncated
    #: mtime alone. A breaker genuinely stalled past this bound is
    #: indistinguishable from a crashed one — exactly like lease expiry
    #: itself — and that residual interleaving degrades to an ordinary
    #: OCC conflict (the documented contract), it cannot corrupt data.
    _INTENT_STALE_S = 2.5

    def _break_expired(self) -> bool:
        """Break an EXPIRED lock; returns True iff THIS caller renamed
        the lock away (the slot may now be free — worth recontending
        immediately). rename(2) alone is NOT enough: it wins exactly
        once per inode, but a stale breaker that read the old expired
        lock can rename away a lock another breaker already broke and
        RE-CREATED — killing the new holder's live lease (double
        takeover, caught by tests/test_mutations.py's 4-thread contend).
        Guards:

        - a break-intent file (O_EXCL) serializes breakers, and the lock
          is RE-READ under that role, so only a lock verified expired
          *now* is claimed; the intent payload names its owner, and the
          finally-unlink REMOVES ONLY OUR OWN intent (payload check), so
          a swept-then-recreated intent is never cascade-unlinked from
          under its new owner;
        - a crashed breaker's intent is swept after _INTENT_STALE_S
          (see above for why the bound is safe against mtime
          granularity);
        - after the rename-claim the tombstone payload is inspected and a
          live lease restored via link(2) — the same claim-inspect-restore
          pattern as release() — covering the one legal interleaving left
          (the original holder heartbeat-extending its expired-but-unbroken
          lease mid-break), which then degrades to LeaseLostError → OCC.
        """
        import time

        intent = self.path + ".break"
        try:
            fd = os.open(intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:  # sweep a crashed breaker's stale intent
                if time.time() - os.stat(intent).st_mtime > self._INTENT_STALE_S:
                    os.unlink(intent)
            except OSError:
                pass
            return False  # another breaker is mid-takeover: re-poll
        try:
            os.write(fd, self.holder.encode())
        finally:
            os.close(fd)
        broke = False
        try:
            cur = self._read()
            if cur is None or time.time() <= cur.get("expires", 0):
                return False  # vanished or re-acquired live: no break
            tomb = self.path + f".broken.{uuid.uuid4().hex[:8]}"
            try:
                os.rename(self.path, tomb)
            except OSError:
                return False
            broke = True
            try:
                with open(tomb) as fh:
                    now = json.load(fh)
            except (OSError, ValueError):
                now = None
            if now is not None and time.time() <= now.get("expires", 0):
                try:
                    os.link(tomb, self.path)  # claimed a live lease: restore
                except OSError:
                    pass  # a third writer re-created: degrade to OCC
                broke = False
            try:
                os.unlink(tomb)
            except OSError:
                pass
            return broke
        finally:
            try:  # remove ONLY our own intent — ours may have been swept
                with open(intent) as fh:  # and the name re-owned meanwhile
                    mine = fh.read() == self.holder
                if mine:
                    os.unlink(intent)
            except OSError:
                pass

    # -- API ----------------------------------------------------------------

    def acquire(self, timeout_s: float = 60.0,
                poll_s: float = 0.05) -> "WriterLease":
        import time

        deadline = time.monotonic() + timeout_s
        while True:
            if self._try_create():
                self._held = True
                return self
            cur = self._read()
            if cur is not None and time.time() > cur.get("expires", 0):
                if self._break_expired() and time.monotonic() < deadline:
                    continue  # WE freed the slot: recontend immediately
                # another breaker owns the takeover (or the break found a
                # live lease): fall through to the poll sleep — spinning
                # here would burn a core per waiter until the intent
                # resolves
            if time.monotonic() >= deadline:
                who = (cur or {}).get("holder", "unknown")
                raise LeaseTimeoutError(
                    f"writer lease held by {who}; gave up after {timeout_s}s"
                )
            time.sleep(poll_s)

    def heartbeat(self) -> None:
        """Extend the expiry (long transactions call this periodically —
        Hive's lock heartbeat). Atomic replace so a waiter never reads a
        torn payload. Only valid while held — and only while STILL the
        recorded holder: if this lease expired and a waiter broke +
        re-acquired it, replacing the file now would clobber the new
        holder's lock, so raise LeaseLostError instead and
        let the in-flight commit fall back to plain OCC arbitration."""
        if not self._held:
            raise RuntimeError("heartbeat on a lease not held")
        cur = self._read()
        if cur is None or cur.get("holder") != self.holder:
            self._held = False
            raise LeaseLostError(
                f"lease at {self.path} no longer held by {self.holder} "
                f"(current: {(cur or {}).get('holder', 'none')})"
            )
        tmp = self.path + f".hb.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(self._payload().decode())
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self.path)

    def release(self) -> None:
        """Drop the lock — without the read-then-unlink TOCTOU: rename
        the lock file to a unique tombstone first
        (atomic claim of WHATEVER lock is there), inspect the tombstone,
        and if it turns out to be another writer's lease (ours expired
        and was broken + re-acquired mid-release) restore it via
        link(2), which EEXIST-fails rather than clobbering a third
        writer's even-newer lock."""
        if not self._held:
            return
        self._held = False
        tomb = self.path + f".rel.{uuid.uuid4().hex[:8]}"
        try:
            os.rename(self.path, tomb)
        except OSError:
            return  # already broken / taken over: nothing of ours remains
        try:
            with open(tomb) as fh:
                cur = json.load(fh)
        except (OSError, ValueError):
            cur = None
        if cur is not None and cur.get("holder") != self.holder:
            try:
                os.link(tomb, self.path)  # give the new holder its lock back
            except OSError:
                pass  # a third writer already re-created: degrade to OCC
        try:
            os.unlink(tomb)
        except OSError:
            pass

    def __enter__(self) -> "WriterLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


def escape_partition_value(v: str | None) -> str:
    """Spark's partition-dir escaping (``%XX`` uppercase hex), applied to
    a RAW partition value to obtain its dir-name form. A partitioned
    AcidTable keys its manifests by this ESCAPED form — the same string
    that appears on disk as ``{part}={escaped}`` — so a value containing
    ``/`` or other metacharacters can never corrupt the published layout or
    the inputFiles pruning audit.

    Null/empty partition values map to ``__HIVE_DEFAULT_PARTITION__``,
    matching Spark's ExternalCatalogUtils.getPartitionValueString (the
    dir Spark actually writes for them) — so a chain written with a
    null-valued partition stays reachable via ``read(partition=None)``
    instead of keying the manifest by a placeholder no lookup can produce."""
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(ch):02X}" if ch in _PART_ESCAPE else ch for ch in v
    )


class AcidTable:
    """Manifest-dir commit log over immutable parquet data dirs, with one
    base/delta chain per partition. Hive keeps a chain per partition dir
    (``tbl/part=val/base_N``, ``tbl/part=val/delta_M_M``), and its one
    directory-state resolver and one compactor treat a table dir as the
    one-partition case; so does this class. ``part=None`` (the default) is
    an unpartitioned table: one chain at the table root.

    ``cols`` is the table schema (column names), ``key`` the merge key
    (defaults: the customer-shaped demo schema used by the acid_*
    queries; the streaming-ingest query uses its own), ``part`` the
    partition column.

    A manifest comes in one of two on-disk shapes, and ``_chains_of`` /
    ``_manifest_of`` are the only code that knows them: an unpartitioned
    manifest IS its one chain, ``{version, schema, base, base_seq,
    deltas}``; a partitioned one maps escaped partition value → chain,
    ``{version, schema, partitions: {val: {base, base_seq, deltas}}}``.
    Everything else works on {chain key: chain}, where the unpartitioned
    table's one chain is keyed None. ``schema`` is the table's Spark schema
    as JSON, written at v0 and carried into every later version, so a table
    with no chain yet (a partitioned table created empty) still reads as an
    empty frame of its columns."""

    def __init__(self, root: str, cols=None, key: str | None = None,
                 part: str | None = None):
        self.root = root
        self.cols = list(cols) if cols is not None else list(_COLS)
        self.key = key or self.cols[0]
        self.part = part
        if part is not None and part not in self.cols:
            raise ValueError(f"partition column {part} not in schema")
        self.commits = os.path.join(root, "_commits")
        os.makedirs(self.commits, exist_ok=True)

    # -- commit protocol ------------------------------------------------
    #
    # The manifest file v{n}.json IS the commit point (exactly Delta's
    # _delta_log/N.json): it is published by hard-linking a COMPLETE,
    # fsynced temp file into the slot, so a slot file can never hold torn
    # JSON, and link(2)'s EEXIST gives first-writer-wins atomically.
    # latest_version() is a directory scan for the highest complete
    # manifest — no pointer file is ever the authority, so a writer that
    # dies right after publishing its manifest has simply COMMITTED
    # (readers and the next writer see its version; nothing wedges).

    _SLOT = re.compile(r"^v(\d+)\.json$")

    def latest_version(self) -> int:
        vs = [
            int(m.group(1))
            for f in os.listdir(self.commits)
            if (m := self._SLOT.match(f))
        ]
        if not vs:
            raise OSError(f"no committed version at {self.commits}")
        return max(vs)

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        path = os.path.join(self.commits, f"v{v}.json")
        if not os.path.isfile(path):
            raise OSError(f"no committed version v{v} at {self.commits}")
        with open(path) as fh:
            return json.load(fh)

    def _chains_of(self, m: dict) -> dict:
        """{chain key: chain} of manifest ``m`` (a new dict, safe to edit)."""
        if self.part is None:
            return {None: {k: m[k] for k in ("base", "base_seq", "deltas")}}
        return dict(m["partitions"])

    def _manifest_of(self, version: int, chains: dict,
                     schema: str | None) -> dict:
        """The manifest of ``version`` over ``chains``: ``_chains_of``'s
        inverse. ``schema`` is carried over from the manifest the commit
        read (None in one written before schemas were recorded)."""
        head = {"version": version, "schema": schema}
        if self.part is None:
            return {**head, **chains[None]}
        return {**head, "partitions": chains}

    def _commit(self, manifest: dict) -> None:
        """Publish a complete manifest into the version slot with
        OPTIMISTIC CONCURRENCY: write + fsync a temp file, hard-link it
        into v{n}.json (atomic create-if-absent of a complete file), then
        unlink the temp. Of two writers that both read version n and try
        to publish n+1, exactly one links first; the loser gets
        ConcurrentCommitError and must re-read + retry."""
        v = manifest["version"]
        mpath = os.path.join(self.commits, f"v{v}.json")
        tmp = os.path.join(self.commits, f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version v{v} was committed by another writer; "
                "re-read the table and retry the transaction"
            ) from None
        finally:
            os.unlink(tmp)
        # durability of the ACKNOWLEDGED commit (Delta's _delta_log
        # contract): the manifest bytes are fsynced above, but the new
        # v{n}.json directory entry lives in the _commits dir — fsync the
        # directory too, or a power loss after we return success could
        # make the committed version vanish. The DATA dirs this manifest
        # references were fsynced by _stage BEFORE this publish, so the
        # durable manifest never points at non-durable data.
        dfd = os.open(self.commits, os.O_DIRECTORY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    # -- transactions: automatic retry loop -------------------------------

    def commit_transaction(self, spark, txn_fn, max_retries: int = 5,
                           use_lease: bool = False,
                           lease_ttl_s: float = 30.0,
                           lease_timeout_s: float = 60.0) -> int:
        """Run ``txn_fn(snapshot_df) -> delta_df`` as one optimistic
        transaction with the AUTOMATIC retry loop (the user-facing
        contract Hive/Delta wrap around first-writer-wins): read the
        latest snapshot, derive the delta FROM THAT SNAPSHOT, commit
        pinned to the snapshot version; on ConcurrentCommitError re-read
        the new snapshot and RE-DERIVE — the delta is never replayed
        against state it wasn't computed from. Returns the committed
        version; raises after ``max_retries`` consecutive conflicts
        (livelock guard — at that point the caller is racing a hotter
        writer and should back off).

        ``use_lease=True`` takes the blocking WriterLease for the whole
        read-derive-commit span — Hive DbTxnManager's queueing behavior:
        concurrent lease-holding writers WAIT instead of burning a
        staged-and-discarded retry. The OCC retry loop stays active
        underneath (a non-lease writer, or a broken-lease straggler, still
        just causes one retry) — the lease is a throughput optimization,
        never the correctness arbiter."""
        lease = (
            WriterLease(self.commits, ttl_s=lease_ttl_s).acquire(
                timeout_s=lease_timeout_s
            )
            if use_lease
            else None
        )
        try:
            last: ConcurrentCommitError | None = None
            for _ in range(max_retries):
                v = self.latest_version()
                delta = txn_fn(self.read(spark, version=v))
                if lease is not None:
                    lease.heartbeat()  # long derive: keep the TTL fresh
                try:
                    return self.commit_delta(delta, read_version=v)
                except ConcurrentCommitError as exc:
                    last = exc
                    continue
            raise ConcurrentCommitError(
                f"transaction lost {max_retries} consecutive races; "
                "backing off"
            ) from last
        finally:
            if lease is not None:
                lease.release()

    # -- writes ----------------------------------------------------------

    def _stage(self, df, version: int, kind: str,
               chain: str | None = None) -> dict:
        """Write ``df`` once into a ``.stage_*`` dir and publish it as one
        ``{kind}_{version}`` data dir per chain it touches; returns {chain
        key: data-dir relpath}. Unpartitioned (or one given ``chain``, as
        in compaction): a plain write, published whole. Partitioned: ONE
        ``partitionBy`` job however many partitions ``df`` touches (the
        dynamic-partition insert path), over a routing copy of the
        partition column, so the real column stays inside the data files
        and each ``_pv=`` subdir published as ``{part}={val}/...`` is a
        self-contained plain-parquet dir.

        Partition keys are Spark's ESCAPED dir-name form, kept VERBATIM:
        unquoting and re-using the raw value would let a value containing
        ``/`` corrupt the published layout, the manifest relpaths and the
        inputFiles pruning audit. The escaped form IS the on-disk name, so
        manifest relpaths never need re-quoting; raw-value lookups go
        through ``escape_partition_value``.

        v0's dirs are ``base_0``; later dirs carry a writer-unique suffix,
        because the manifest slot link is the ONLY commit arbiter: a
        losing concurrent writer leaves an orphan data dir that no
        manifest references (vacuum GCs it). Each dir is fsynced before
        any manifest names it."""
        routed = self.part is not None and chain is None
        df = df.select(*self.cols, *(["_op"] if kind == "delta" else []))
        stage = os.path.join(self.root, f".stage_{uuid.uuid4().hex}")
        try:
            w = (
                df.withColumn("_pv", F.col(self.part)).write.partitionBy("_pv")
                if routed
                else df.write
            )
            w.mode("errorifexists").parquet(stage)
            committed(stage)
            srcs = (
                {
                    e[len("_pv="):]: os.path.join(stage, e)
                    for e in sorted(os.listdir(stage))
                    if e.startswith("_pv=")
                }
                if routed
                else {chain: stage}
            )
            name = f"{kind}_{version}"
            if version:
                name += f"_{uuid.uuid4().hex[:8]}"
            out = {}
            for pv, src in srcs.items():
                rel = name if pv is None else f"{self.part}={pv}/{name}"
                d = os.path.join(self.root, rel)
                os.makedirs(os.path.dirname(d), exist_ok=True)
                os.rename(src, d)
                # the staging job committed atomically above; mark each
                # published dir so committed() gates it on its own too
                open(os.path.join(d, "_SUCCESS"), "a").close()
                _fsync_dir_entries(committed(d))
                out[pv] = rel
            return out
        finally:
            # self-clean on success AND on a failed staging job; a hard
            # crash mid-stage still leaks, which vacuum() GCs
            shutil.rmtree(stage, ignore_errors=True)

    def create(self, df) -> None:
        """v0: the initial base snapshot of every chain."""
        self._commit(self._manifest_of(0, {
            pv: {"base": rel, "base_seq": 0, "deltas": []}
            for pv, rel in self._stage(df, 0, "base").items()
        }, df.select(*self.cols).schema.json()))

    def commit_delta(self, delta_df, read_version: int | None = None) -> int:
        """One transaction: U/D/I event rows (full row image + _op),
        appended to the chain of every partition they touch. Returns the
        committed version. Rejects deltas carrying two events for one key —
        within a commit all events share the same _seq, so duplicate keys
        would make the merge-on-read winner arbitrary (nondeterministic
        snapshots); one event per key per transaction is the contract (Hive
        MERGE raises the same cardinality error). A delta into a partition
        value the table has not seen creates that partition (base=None,
        Hive dynamic-partition semantics); delete events must carry their
        row's real partition value, which routes them to its chain.

        ``read_version`` pins the transaction's SNAPSHOT version — the
        version the delta was derived from (``tbl.read(spark, version=n)``
        → ``commit_delta(delta, read_version=n)``). The commit targets
        exactly ``read_version + 1``, so ANY intervening commit forces the
        hard-link EEXIST path and the writer gets ConcurrentCommitError —
        the full Delta first-writer-wins contract, closing the
        read-then-commit race: without pinning, a writer whose read
        predates a concurrent commit would silently stack its delta on top
        of state it never saw. ``None`` (single-writer convenience)
        resolves the latest version at commit time and only detects the
        narrower publish-slot race."""
        dup = (
            delta_df.groupBy(self.key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"delta has multiple events for key {dup[0][0]}; "
                "one event per key per transaction"
            )
        m = self.manifest(read_version)
        v = m["version"] + 1
        chains = self._chains_of(m)
        for pv, rel in self._stage(delta_df, v, "delta").items():
            c = chains.get(pv, {"base": None, "base_seq": -1, "deltas": []})
            chains[pv] = {**c, "deltas": c["deltas"] + [[v, rel]]}
        self._commit(self._manifest_of(v, chains, m.get("schema")))
        return v

    def compact(self, spark) -> list:
        """Major compaction, chain at a time (Hive's compactor queue: its
        Initiator enqueues one task per dirty partition): rewrite ONLY the
        chains with live deltas, each as a new base with an empty delta
        chain; clean chains keep their base dir UNREWRITTEN in the new
        manifest. Returns the compacted chain keys (partition values;
        ``[None]`` for an unpartitioned table). With nothing dirty it
        returns ``[]`` and commits no version. State-preserving by
        construction (oracled by acid_compaction_equivalence and
        acid_partition_compaction)."""
        m = self.manifest()
        v = m["version"] + 1
        chains = self._chains_of(m)
        dirty = sorted(pv for pv, c in chains.items() if c["deltas"])
        for pv in dirty:
            snap = self._read_chain(spark, chains[pv])
            rel = self._stage(snap, v, "base", chain=pv)[pv]
            chains[pv] = {"base": rel, "base_seq": v, "deltas": []}
        if dirty:
            self._commit(self._manifest_of(v, chains, m.get("schema")))
        return dirty

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """GC unreferenced data dirs (Delta VACUUM / Hive cleaner-thread
        role): keep every dir referenced by the newest ``retain_versions``
        manifests, delete the rest — replaced bases, superseded deltas,
        and orphans from losing concurrent writers. Time travel older
        than the retention horizon stops working (by design — exactly
        Delta's contract); the manifests themselves stay, so a
        too-old read fails with a clear missing-dir error rather than
        serving partial data. Returns the deleted dirs' relpaths.

        Safety rails: ``retain_versions >= 1`` is enforced (0 would compute
        an empty keep-set and delete the CURRENT base), and only
        ``base_*``/``delta_*`` dirs of the table's chains (the root, or its
        ``{part}=`` dirs) are eligible — co-located non-table dirs
        (streaming checkpoints, staged chunks) are never touched. Orphaned
        ``.stage_*`` dirs of a writer that crashed mid-``_stage`` are
        collected too; like an in-flight writer's unpublished data dir,
        that assumes no commit is in flight on this table."""
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1 (got {retain_versions}); "
                "0 would vacuum the live snapshot itself"
            )
        latest = self.latest_version()
        keep: set[str] = set()
        for v in range(max(0, latest - retain_versions + 1), latest + 1):
            for c in self._chains_of(self.manifest(v)).values():
                keep.add(c["base"])
                keep.update(d for _, d in c["deltas"])
        data = ("base_", "delta_")
        cands = []
        for top in os.listdir(self.root):
            full = os.path.join(self.root, top)
            if top.startswith(".stage_") or (
                self.part is None and top.startswith(data)
            ):
                cands.append(top)
            elif self.part and top.startswith(f"{self.part}=") and os.path.isdir(full):
                cands += [f"{top}/{e}" for e in os.listdir(full) if e.startswith(data)]
        deleted = sorted(
            rel for rel in cands
            if rel not in keep and os.path.isdir(os.path.join(self.root, rel))
        )
        for rel in deleted:
            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        return deleted

    # -- merge-on-read ---------------------------------------------------

    def _read_chain(self, spark, c: dict):
        """One chain's snapshot: base UNION deltas, latest seq per key
        wins, deletes drop out — one row_number window hash-partitioned by
        the key, never a global one."""
        srcs = []
        if c["base"] is not None:
            base = spark.read.parquet(
                committed(os.path.join(self.root, c["base"]))
            ).select(*self.cols)
            if not c["deltas"]:
                # compacted (or fresh) chain: the base IS the state — plain
                # scan, no merge window (what compaction buys at read time)
                return base
            srcs.append(
                base.withColumn("_op", F.lit("I")).withColumn(
                    "_seq", F.lit(c["base_seq"])
                )
            )
        for seq, dname in c["deltas"]:
            srcs.append(
                spark.read.parquet(committed(os.path.join(self.root, dname)))
                .select(*self.cols, "_op")
                .withColumn("_seq", F.lit(seq))
            )
        w = Window.partitionBy(self.key).orderBy(F.col("_seq").desc())
        return (
            reduce(DataFrame.unionByName, srcs)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("_op") != "D"))
            .select(*self.cols)
        )

    def read(self, spark, version: int | None = None,
             partition: str | None = None):
        """Snapshot read (``VERSION AS OF`` when version is given).
        ``partition=val`` prunes to ONE partition chain, so the scan never
        lists any other partition dir — metastore-style pruning by
        construction (gated: every inputFile must live under the partition
        dir; tests/test_mutations.py and the in-query audits below).
        ``partition`` is the RAW value; the lookup escapes it to the
        manifest's dir-name key form."""
        m = self.manifest(version)
        chains = self._chains_of(m)
        if partition is None:
            keys = sorted(chains)
        else:
            keys = [escape_partition_value(str(partition))]
            if keys[0] not in chains:
                raise KeyError(
                    f"no partition {self.part}={partition} at v{m['version']}"
                )
        if not keys:
            if m.get("schema") is None:
                raise ValueError(
                    f"ACID table {self.root} has no partition at "
                    f"v{m['version']}, and its manifest records no schema "
                    "(written before schemas were recorded), so no empty "
                    "frame can be built"
                )
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(m["schema"]))
            )
        return reduce(
            DataFrame.unionByName,
            [self._read_chain(spark, chains[k]) for k in keys],
        )


class PartitionedAcidTable(AcidTable):
    """An AcidTable partitioned by ``part`` (default: the last column):
    one base/delta chain per partition dir, compacted partition at a time,
    so a mutation touching 3 of 10,000 partitions rewrites 3 — the claim
    at the top of this module ("at 100 TB the base is partitioned and
    compaction runs partition-at-a-time"), demonstrated by the
    acid_partition* queries. ``[jar: metadata/Partition.class,
    txn/compactor/Initiator.class]``.

    Layout mirrors Hive: data files do NOT carry rows of other partitions,
    and partition values are dir-name strings, like Hive's. Pruned reads
    and partition-scoped compaction are gated in
    tests/test_mutations.py::test_pacid_partition_scoped_compaction_and_vacuum."""

    def __init__(self, root: str, cols=None, key: str | None = None,
                 part: str | None = None):
        cols = list(cols) if cols is not None else list(_COLS)
        super().__init__(root, cols, key, part or cols[-1])


def _null_str():
    return F.lit(None).cast("string")


def _customer_base(spark, sf_dir: str):
    """v0 of every customer-shaped demo table: balances rounded to cents."""
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
        "c_mktsegment",
    )


def _writer_a(snap):
    """Writer A's delta in the two-writer queries: +10 for even keys."""
    return snap.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name",
        (F.col("c_acctbal") + 10).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"),
    )


def _writer_b(snap):
    """Writer B's delta, derived from whichever snapshot B read: balance
    x2 for keys divisible by 3."""
    return snap.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name",
        F.round(F.col("c_acctbal") * 2 + F.lit(1e-9), 2).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"),
    )


def _per_version(spark, tbl: AcidTable, *aggs):
    """One row per committed version: ``version``, then ``aggs`` over that
    version's snapshot (``VERSION AS OF n`` resolves manifest v{n} and sees
    exactly the dirs that commit named)."""
    return reduce(DataFrame.unionByName, [
        tbl.read(spark, version=v).agg(F.lit(v).cast("int").alias("version"), *aggs)
        for v in range(tbl.latest_version() + 1)
    ])


def _build_demo_table(spark, sf_dir: str, name: str) -> AcidTable:
    """v0 create → v1 UPDATE → v2 DELETE → v3 MERGE, all derived
    deterministically from the customer table (so DuckDB can replay every
    version). Per-run scratch path (scratch discipline)."""
    tbl = AcidTable(run_scratch("acid", sf_dir, name))
    tbl.create(_customer_base(spark, sf_dir))
    # v1 — UPDATE: 10% balance bump for every 5th customer
    v0 = tbl.read(spark)
    upd = v0.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 1.1 + F.lit(1e-9), 2).alias("c_acctbal"),
        "c_mktsegment",
        F.lit("U").alias("_op"),
    )
    tbl.commit_delta(upd, read_version=0)
    # v2 — DELETE: account closures
    v1 = tbl.read(spark)
    dele = v1.filter(F.col("c_custkey") % 7 == 3).select(
        "c_custkey", _null_str().alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        _null_str().alias("c_mktsegment"), F.lit("D").alias("_op"),
    )
    tbl.commit_delta(dele, read_version=1)
    # v3 — MERGE: matched keys update to newbal; unmatched (including keys
    # deleted at v2) insert as fresh 'ACID' rows
    src = T(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") % 11 == 0) | (F.col("c_custkey") % 11 == 5)
    ).select(
        F.when(
            F.col("c_custkey") % 11 == 5, F.col("c_custkey") + 20000000
        ).otherwise(F.col("c_custkey")).alias("k"),
        F.when(
            F.col("c_custkey") % 11 == 5,
            F.round(F.col("c_acctbal") / 2 + F.lit(1e-9), 2),
        ).otherwise(
            F.round(F.col("c_acctbal") + 500 + F.lit(1e-9), 2)
        ).alias("newbal"),
    )
    v2 = tbl.read(spark)
    matched = v2.join(src, v2["c_custkey"] == src["k"]).select(
        "c_custkey", "c_name", F.col("newbal").alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"),
    )
    inserted = src.join(
        v2, v2["c_custkey"] == src["k"], "left_anti"
    ).select(
        F.col("k").alias("c_custkey"),
        F.concat(F.lit("Customer#acid"), F.col("k").cast("string")).alias(
            "c_name"
        ),
        F.col("newbal").alias("c_acctbal"),
        F.lit("ACID").alias("c_mktsegment"),
        F.lit("I").alias("_op"),
    )
    tbl.commit_delta(matched.unionByName(inserted), read_version=2)
    return tbl


# DuckDB replay of the same four versions (shared by all three oracles).
_VERSIONS_CTE = """
v0 AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
  FROM customer
),
v1 AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 5 = 0
              THEN round(c_acctbal * 1.1 + 1e-9, 2)
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM v0
),
v2 AS (SELECT * FROM v1 WHERE c_custkey % 7 <> 3),
src AS (
  SELECT CASE WHEN c_custkey % 11 = 5 THEN c_custkey + 20000000
              ELSE c_custkey END AS k,
         CASE WHEN c_custkey % 11 = 5
              THEN round(c_acctbal / 2 + 1e-9, 2)
              ELSE round(c_acctbal + 500 + 1e-9, 2) END AS newbal
  FROM customer
  WHERE c_custkey % 11 = 0 OR c_custkey % 11 = 5
),
v3 AS (
  SELECT v2.c_custkey, v2.c_name,
         coalesce(s.newbal, v2.c_acctbal) AS c_acctbal, v2.c_mktsegment
  FROM v2 LEFT JOIN src s ON v2.c_custkey = s.k
  UNION ALL
  SELECT s.k, 'Customer#acid' || CAST(s.k AS VARCHAR), s.newbal, 'ACID'
  FROM src s LEFT JOIN v2 ON v2.c_custkey = s.k
  WHERE v2.c_custkey IS NULL
)
"""

_FINAL_STATE_SQL = f"""
WITH {_VERSIONS_CTE}
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM v3
"""


@query("acid_upsert_delete_merge", oracle=_FINAL_STATE_SQL)
def acid_upsert_delete_merge(spark, sf_dir):
    """UPDATE → DELETE → MERGE on a snapshot-versioned table, read back
    from storage at LATEST through the merge-on-read path (base + 3 delta
    dirs, latest-seq-per-key). The oracle replays all three transactions
    relationally — a wrong op precedence, a delta applied out of order, or
    a tombstone leak all break the hash."""
    tbl = _build_demo_table(spark, sf_dir, "upsert_delete_merge")
    return materialize(tbl.read(spark), tbl.root)


@query(
    "acid_version_as_of",
    oracle=f"""
    WITH {_VERSIONS_CTE}
    SELECT * FROM (
      SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_bal
      FROM v0
      UNION ALL
      SELECT 1, CAST(count(*) AS BIGINT),
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) FROM v1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT),
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) FROM v2
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT),
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) FROM v3
    )
    """,
)
def acid_version_as_of(spark, sf_dir):
    """Time travel: ``VERSION AS OF n`` for every committed version of the
    mutated table — each read resolves manifest v{n} and sees exactly the
    dirs that commit named (snapshot isolation: later commits are
    invisible). Emits (version, row count, exact-DECIMAL balance total);
    the oracle recomputes each version's state independently."""
    tbl = _build_demo_table(spark, sf_dir, "version_as_of")
    res = _per_version(
        spark, tbl,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
    )
    return materialize(res, tbl.root)


@query("acid_compaction_equivalence", oracle=_FINAL_STATE_SQL)
def acid_compaction_equivalence(spark, sf_dir):
    """Major compaction: after the three transactions, rewrite the
    snapshot as base_4 with an empty delta chain, then read LATEST —
    which now scans ONE base dir and unions zero deltas (plan-gated in
    tests/test_mutations.py::test_acid_compacted_read_scans_base_only).
    Matching the SAME final-state oracle as acid_upsert_delete_merge
    proves compaction is state-preserving bit-for-bit."""
    tbl = _build_demo_table(spark, sf_dir, "compaction")
    v = tbl.latest_version() + 1
    compacted = tbl.compact(spark)
    m = tbl.manifest()
    if compacted != [None] or m["deltas"] or m["version"] != v:
        raise AssertionError(f"compaction left a dirty manifest: {m}")
    return materialize(tbl.read(spark), tbl.root)


# ---- Hive "streaming" parity: ACID micro-batch ingest ----------------------


@query(
    "stream_acid_ingest_history",
    oracle="""
    SELECT CAST(0 AS INT) AS version, CAST(0 AS BIGINT) AS n_users,
           CAST(0 AS BIGINT) AS n_events
    UNION ALL
    SELECT CAST(k AS INT), CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events, range(1, 5) t(k)
    WHERE event_id % 4 < k
    GROUP BY k
    """,
)
def stream_acid_ingest_history(spark, sf_dir):
    """Hive's actual 'streaming' surface is ACID micro-batch ingest
    (SURVEY §1.1 — hcatalog/streaming writes delta files into a
    transactional table; there is no continuous-query engine). Parity:
    Structured Streaming replays the events table as 4 micro-batches
    (events.parquet re-staged as 4 chunk files, event_id % 4, ascending
    mtimes so the file source delivers them in order), and each batch's
    per-user aggregate commits as ONE AcidTable transaction inside
    foreachBatch (existing users UPDATE with accumulated counts, new
    users INSERT; batch replay detected by the manifest version, exactly
    the stream_upsert idempotence protocol). The commit log then holds
    the full ingest history: the query time-travels every version and
    reports (version, n_users, n_events) — which the oracle replays as
    cumulative filters over the batch-split rule.

    100 TB shape: per-batch work is one map-side-combined aggregate of
    the BATCH plus a key-hash merge against mutation-sized state; the
    ACID read path is the key-partitioned merge-on-read window."""
    import time

    from ..streaming.jobs import drain

    base = run_scratch("acidstream", sf_dir, "ingest")
    chunks = os.path.join(base, "chunks")
    os.makedirs(chunks, exist_ok=True)
    ev = T(spark, sf_dir, "events").select("event_id", "user_id")
    t0 = time.time() - 3600
    for b in range(4):
        stage = os.path.join(base, f"stage_{b}")
        (
            ev.filter(F.col("event_id") % 4 == b)
            .coalesce(1)
            .write.mode("errorifexists")
            .parquet(stage)
        )
        part = next(
            f for f in os.listdir(committed(stage)) if f.endswith(".parquet")
        )
        dst = os.path.join(chunks, f"c{b}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (t0 + b * 10, t0 + b * 10))

    tbl = AcidTable(base, cols=["user_id", "n_events"], key="user_id")
    empty = spark.createDataFrame([], "user_id bigint, n_events bigint")
    tbl.create(empty)

    def ingest(batch_df, batch_id: int) -> None:
        if tbl.latest_version() >= batch_id + 1:
            return  # replayed micro-batch: already committed
        inc = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("inc_n")
        )
        cur = tbl.read(batch_df.sparkSession).select(
            F.col("user_id").alias("c_user"), F.col("n_events").alias("c_n")
        )
        delta = inc.join(cur, inc["user_id"] == cur["c_user"], "left").select(
            "user_id",
            (F.coalesce("c_n", F.lit(0)) + F.col("inc_n"))
            .cast("bigint")
            .alias("n_events"),
            F.when(F.col("c_user").isNull(), "I").otherwise("U").alias("_op"),
        )
        tbl.commit_delta(delta, read_version=batch_id)

    drain(
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(base, "ckpt")),
        "stream_acid_ingest_history",
    )

    res = _per_version(
        spark, tbl,
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.coalesce(F.sum("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
    )
    return materialize(res, base)


#: Segments whose chains receive deltas in the partitioned demo (v1 touches
#: BUILDING + MACHINERY, v2 inserts into AUTOMOBILE + the brand-new ACIDSEG);
#: FURNITURE and HOUSEHOLD stay clean — compaction must NOT rewrite them.
_PACID_DIRTY = ("ACIDSEG", "AUTOMOBILE", "BUILDING", "MACHINERY")


def _build_partitioned_table(spark, sf_dir: str, name: str):
    """v0 create (5 segment partitions) → v1 {UPDATE in BUILDING, DELETE in
    MACHINERY} → v2 dynamic-partition INSERT into AUTOMOBILE + new ACIDSEG.
    Delete events carry the REAL partition value (Hive: partition columns
    are mandatory on every mutation — they route the event to its
    partition's delta chain)."""
    tbl = PartitionedAcidTable(
        run_scratch("pacid", sf_dir, name), part="c_mktsegment"
    )
    tbl.create(_customer_base(spark, sf_dir))
    v0 = tbl.read(spark, version=0)
    upd = v0.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 3 == 0)
    ).select(
        "c_custkey", "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"),
    )
    dele = v0.filter(
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_custkey") % 4 == 1)
    ).select(
        "c_custkey", _null_str().alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        "c_mktsegment", F.lit("D").alias("_op"),
    )
    tbl.commit_delta(upd.unionByName(dele), read_version=0)
    ins = v0.filter(
        (F.col("c_mktsegment") == "FURNITURE") & (F.col("c_custkey") % 5 == 0)
    ).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.concat(
            F.lit("Customer#pacid"),
            (F.col("c_custkey") + 10000000).cast("string"),
        ).alias("c_name"),
        F.round(F.col("c_acctbal") / 2 + F.lit(1e-9), 2).alias("c_acctbal"),
        F.when(F.col("c_custkey") % 10 == 0, "ACIDSEG")
        .otherwise("AUTOMOBILE")
        .alias("c_mktsegment"),
        F.lit("I").alias("_op"),
    )
    tbl.commit_delta(ins, read_version=1)
    return tbl


_PACID_VERSIONS_CTE = """
pv0 AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
  FROM customer
),
pv1 AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 3 = 0
              THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM pv0
  WHERE NOT (c_mktsegment = 'MACHINERY' AND c_custkey % 4 = 1)
),
pins AS (
  SELECT c_custkey + 10000000 AS c_custkey,
         'Customer#pacid' || CAST(c_custkey + 10000000 AS VARCHAR) AS c_name,
         round(c_acctbal / 2 + 1e-9, 2) AS c_acctbal,
         CASE WHEN c_custkey % 10 = 0 THEN 'ACIDSEG'
              ELSE 'AUTOMOBILE' END AS c_mktsegment
  FROM pv0
  WHERE c_mktsegment = 'FURNITURE' AND c_custkey % 5 = 0
),
pv2 AS (SELECT * FROM pv1 UNION ALL SELECT * FROM pins)
"""


@query(
    "acid_partitioned_upsert",
    oracle=f"""
    WITH {_PACID_VERSIONS_CTE}
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM pv2
    """,
)
def acid_partitioned_upsert(spark, sf_dir):
    """Partitioned ACID table: per-partition base/delta chains, a delta
    touching 2 of 5 partitions, then a dynamic-partition insert that
    CREATES a partition (ACIDSEG, base=None — Hive dynamic-partition
    semantics). Read back at LATEST through the per-partition
    merge-on-read; the oracle replays both transactions relationally.
    In-query audit: a partition-pruned read of the clean FURNITURE
    partition must list ONLY files under its partition dir (metastore-
    style pruning by construction)."""
    tbl = _build_partitioned_table(spark, sf_dir, "partitioned_upsert")
    pruned = tbl.read(spark, partition="FURNITURE")
    files = pruned.inputFiles()
    if not files or not all("c_mktsegment=FURNITURE" in f for f in files):
        raise AssertionError(
            f"partition-pruned read escaped its partition dir: {files[:3]}"
        )
    return materialize(tbl.read(spark), tbl.root)


@query(
    "acid_partition_compaction",
    oracle=f"""
    WITH {_PACID_VERSIONS_CTE}
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           c_mktsegment IN
             ('ACIDSEG', 'AUTOMOBILE', 'BUILDING', 'MACHINERY')
             AS was_compacted
    FROM pv2
    GROUP BY c_mktsegment
    """,
)
def acid_partition_compaction(spark, sf_dir):
    """Partition-scoped major compaction (the 100 TB claim at the top of
    this module, demonstrated): after deltas touching 4 of 6 partitions,
    ``compact`` rewrites EXACTLY those 4 — the clean FURNITURE/HOUSEHOLD
    partitions keep their original ``base_0_*`` dirs unrewritten (audited
    against the manifest), every chain is empty afterwards, and a
    partition-pruned read of a compacted partition is a PLAIN SCAN of one
    partition dir (no merge window — audited via inputFiles + plan-gated
    in tests/test_mutations.py::
    test_pacid_partition_scoped_compaction_and_vacuum). Emits per-partition (rows, exact-DECIMAL
    balance, was_compacted); the oracle recomputes state and re-derives
    the dirty set from the mutation rules."""
    tbl = _build_partitioned_table(spark, sf_dir, "partition_compaction")
    m_before = tbl.manifest()
    compacted = tbl.compact(spark)
    if tuple(sorted(compacted)) != _PACID_DIRTY:
        raise AssertionError(f"compacted wrong partitions: {compacted}")
    m_after = tbl.manifest()
    for pv in ("FURNITURE", "HOUSEHOLD"):
        if m_after["partitions"][pv]["base"] != m_before["partitions"][pv]["base"]:
            raise AssertionError(f"clean partition {pv} was rewritten")
    if any(e["deltas"] for e in m_after["partitions"].values()):
        raise AssertionError("compaction left a live delta chain")
    pruned = tbl.read(spark, partition="BUILDING")
    files = pruned.inputFiles()
    if not files or not all(
        "c_mktsegment=BUILDING" in f and "/base_" in f for f in files
    ):
        raise AssertionError(
            f"compacted pruned read is not one base dir: {files[:3]}"
        )
    dirty = set(_PACID_DIRTY)
    out = (
        tbl.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .withColumn("was_compacted", F.col("c_mktsegment").isin(*dirty))
        .select("c_mktsegment", "n_rows", "total_bal", "was_compacted")
    )
    return materialize(out, tbl.root)


@query(
    "acid_concurrent_writers",
    oracle="""
    WITH v0 AS (
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
             c_mktsegment
      FROM customer
    ),
    v1 AS (  -- writer A (wins the race): +10 for even keys
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 10
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM v0
    ),
    v2 AS (  -- writer B's RETRY, re-derived from the v1 snapshot it lost to
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 3 = 0
                  THEN round(c_acctbal * 2 + 1e-9, 2)
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM v1
    )
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM v2
    """,
)
def acid_concurrent_writers(spark, sf_dir):
    """The user-visible optimistic-concurrency contract, end-to-end: two
    writers derive deltas from the SAME v0 snapshot; A commits v1; B's
    pinned commit (read_version=0 → targets v1) hits the taken slot and
    raises ConcurrentCommitError; B then runs the documented retry loop —
    re-read the NEW snapshot, RE-DERIVE the delta against state it
    actually saw, commit against the observed version. Keys divisible by
    6 get both mutations in commit order ((bal+10)*2 — the oracle replays
    A then B's re-derived retry, so a lost-update bug breaks the hash).
    B's failed first attempt leaves an orphan delta dir that no manifest
    references; vacuum must collect exactly that orphan (audited)."""
    root = run_scratch("acid", sf_dir, "concurrent_writers")
    a, b = AcidTable(root), AcidTable(root)
    a.create(_customer_base(spark, sf_dir))
    d_a = _writer_a(a.read(spark, version=0))
    d_b_stale = _writer_b(b.read(spark, version=0))
    if a.commit_delta(d_a, read_version=0) != 1:
        raise AssertionError("writer A did not commit v1")
    try:
        b.commit_delta(d_b_stale, read_version=0)
    except ConcurrentCommitError:
        pass
    else:
        raise AssertionError("stale writer B committed without conflict")
    committed_v = b.commit_transaction(spark, _writer_b)  # the retry loop
    if committed_v != 2:
        raise AssertionError(f"retry landed at v{committed_v}, expected v2")
    # A's delta_1_* is in the v2 manifest chain; B's failed attempt also
    # staged a delta_1_* dir, which no manifest references. vacuum must
    # collect exactly that orphan.
    deleted = a.vacuum(retain_versions=1)
    if len(deleted) != 1 or not deleted[0].startswith("delta_1_"):
        raise AssertionError(f"expected exactly B's orphan GC'd: {deleted}")
    return materialize(b.read(spark), root)


@query(
    "acid_lease_writers",
    oracle="""
    WITH v0 AS (
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
             c_mktsegment
      FROM customer
    ),
    v1 AS (  -- writer A, under the lease: +10 for even keys
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 10
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM v0
    ),
    v2 AS (  -- writer B, QUEUED behind A (never conflicted, never retried)
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 3 = 0
                  THEN round(c_acctbal * 2 + 1e-9, 2)
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM v1
    )
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM v2
    """,
)
def acid_lease_writers(spark, sf_dir):
    """The BLOCKING writer-lease contract end-to-end (Hive
    DbTxnManager's queueing vs the OCC retry of
    acid_concurrent_writers): writer A takes the lease and commits; while
    A holds it, writer B's acquire() times out (queued, never conflicts);
    after A releases, B commits through commit_transaction(use_lease=True).
    The oracle replays A then B in lease order. Post-conditions audited
    in-query: B never saw ConcurrentCommitError, and the table has ZERO
    orphan data dirs (queueing means no staged-and-discarded work —
    vacuum retaining every version deletes nothing), the operational win
    over OCC at 100 TB where a discarded retry is a partition-sized
    re-stage. Reference parity: lockmgr/DbTxnManager.class (SURVEY §1.1
    row 6)."""
    root = run_scratch("acid", sf_dir, "lease_writers")
    a, b = AcidTable(root), AcidTable(root)
    a.create(_customer_base(spark, sf_dir))
    lease_a = WriterLease(a.commits, ttl_s=60.0).acquire(timeout_s=5)
    try:
        blocked = False
        try:
            WriterLease(b.commits, ttl_s=60.0).acquire(timeout_s=0.2)
        except LeaseTimeoutError:
            blocked = True
        if not blocked:
            raise AssertionError("writer B acquired a HELD lease")
        d_a = _writer_a(a.read(spark, version=0))
        lease_a.heartbeat()
        if a.commit_delta(d_a, read_version=0) != 1:
            raise AssertionError("writer A did not commit v1")
    finally:
        lease_a.release()

    conflicts = []
    orig_commit = b.commit_delta

    def counting_commit(delta_df, read_version=None):
        try:
            return orig_commit(delta_df, read_version=read_version)
        except ConcurrentCommitError:
            conflicts.append(1)
            raise

    b.commit_delta = counting_commit
    v = b.commit_transaction(spark, _writer_b, use_lease=True)
    if v != 2:
        raise AssertionError(f"queued writer B landed at v{v}, expected v2")
    if conflicts:
        raise AssertionError("lease-queued writer B hit an OCC conflict")
    # queueing leaves NO discarded work: retaining every version, vacuum
    # finds nothing to collect
    deleted = a.vacuum(retain_versions=3)
    if deleted:
        raise AssertionError(f"unexpected orphan data dirs: {deleted}")
    return materialize(b.read(spark), root)
