"""ChangelogStore — the durable write path (reference write.go, SURVEY §2.2).

Parquet-backed (Delta/Iceberg jars aren't in this image): the manifest
commit, uncommitted-file exclusion, and writer leases below re-create the
transactional-table behaviors a Delta append would provide. The physical
protocol is isolated behind the `StoreBackend` seam (the analog of the
reference's store DSN, store.go:31-39) with `FileChangelogBackend` as
the only concrete backend — a transactional format drops in by
implementing `stage` / `commit` / `discard` (the data files of a
transaction, then its log entry), `committed_relation`, and `recover`.
What the reference guarantees and we preserve:

- **monotonic height guard** (reference isNextBlock, write.go:331-347): a
  batch at height H is rejected unless last_height >= H-1. Heights at or
  below the checkpoint are dropped as idempotent replays — NOT rewritten:
  unlike the reference's KV store (where a reorg replay overwrites
  same-height keys in place), this store is append-only and only receives
  rows already final (past LIB); reorg rewrites live in the fork-aware
  speculative overlay (streaming/forkdb.py) until finality, so a
  same-height rewrite of durable data cannot legitimately occur;
- **checkpoint written with the data** (reference flushes the checkpoint
  table last in the same batch, store/kv/store.go:418-424): the batch is
  staged to a side directory by one Spark write that also observes its
  bounds (lo, hi, last block, row count), the height guard is checked on
  those bounds (a rejected stage is deleted), a MANIFEST naming every
  target file is written atomically, the files are moved into the band
  directories, and only then does the checkpoint advance — the
  checkpoint write IS the commit point, exactly like the reference's
  same-batch atomicity. A crash anywhere before the checkpoint leaves a
  manifest whose `hi` exceeds the checkpoint; `recover()` rolls the torn
  batch back (deletes the listed files) so the idempotent replay
  re-writes it whole. Without the manifest, a torn multi-file move would
  leave orphan rows above the checkpoint that replay cannot dedup;
- **per-shard checkpoints** (`shard-NNN`, reference read.go:454-464) for
  parallel backfill, reconciled into the global one (write.go:82-194).

Physical layout (scales: Hive-partitioned by collection AND height band, so
a `state_at(H)` scan PARTITION-PRUNES every band above H // band_size before
any file is opened — at 100 TB the changelog holds years of history but a
read at height H touches only the bands at or below it; within a band,
files are height-sorted so row-group min/max stats prune further):

    root/
      changelog/collection=<name>/height_band=<h // band>/part-*.parquet
      _checkpoint/<shard>.json
      _manifests/batch-<id>.json     (present only for in-flight batches)
      _manifests/compact-<id>.json   (swap journal of an in-flight band
                                      rewrite: compact or DML)
      _staging/batch-<id>/...        (Spark output before the move)
      _staging/compact-<id>[-old]/   (a compacted band before its swap,
      _staging/rewrite-<id>[-old]/    a DML-rewritten one; `-old` holds
                                      the replaced band until removal)
      _staging/rebase-<id>/          (expire_bands' live tail before the
                                      move into the horizon band)
      _writer-<stream>.lock          (single-writer lease per stream)
      _retention.json                (horizon written by expire_bands)
      _commits/v<version>.json       (optimistic commit log: history,
                                      time travel — see CommitLog)
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame


class WriteConsistencyError(RuntimeError):
    pass


class WriterLease:
    """A cross-process single-writer lease on one lock file.

    The checkpoint stream invariant (read-checkpoint / write-data /
    advance-checkpoint is one critical section) needs mutual exclusion
    across PROCESSES, not just threads, so the lease is an O_EXCL lock
    file whose payload carries a unique `token` identifying the holder.
    Three rules make it safe under contention:

    - **Takeover is claim-then-verify, never remove-then-recreate.** A
      contender that judges the lease stale atomically `os.rename`s the
      lock aside to a private claim path (only one racer's rename can
      succeed — the others get FileNotFoundError and go back to the
      acquire loop) and only removes it after re-reading the claimed
      bytes and confirming they are the SAME stale payload it judged.
      If the bytes changed — a fresh holder re-created the lock between
      the staleness read and the rename — the claim is linked back into
      place untouched. Remove-then-recreate has a TOCTOU hole: two
      contenders both judge stale, both remove, and the second remove
      deletes the winner's fresh lock, yielding two live holders.
    - **The holder heartbeats.** A background thread re-writes the
      payload's `ts` every `stale_s / 3` (atomic replace, only after
      re-reading its own token), so a long write/compact job — a Spark
      stage can easily outlive any fixed staleness window — never looks
      crashed to a contender. If the heartbeat ever finds a foreign
      token the lease was lost (a contender legitimately took over
      after a >stale_s stall) and `lost` latches True; the holder must
      treat its critical section as void.
    - **Release verifies the token.** The holder only removes the lock
      if it still carries its own token, so a holder that lost the
      lease can never delete its successor's lock.
    """

    def __init__(
        self,
        path: str,
        timeout_s: float = 30.0,
        stale_s: float = 300.0,
        heartbeat: bool = True,
    ):
        self.path = path
        self.timeout_s = timeout_s
        self.stale_s = stale_s
        self.token = uuid.uuid4().hex
        self.lost = False
        self._heartbeat = heartbeat
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _payload(self) -> bytes:
        return json.dumps(
            {"pid": os.getpid(), "ts": time.time(), "token": self.token}
        ).encode()

    def _read(self) -> bytes | None:
        try:
            with open(self.path, "rb") as f:
                return f.read()
        except OSError:
            return None

    @staticmethod
    def _is_stale(raw: bytes | None, stale_s: float, path: str) -> bool:
        if raw is None:
            return False
        try:
            return time.time() - json.loads(raw).get("ts", 0) > stale_s
        except (ValueError, AttributeError):
            # unparseable (holder died mid-write): fall back to mtime
            try:
                return time.time() - os.path.getmtime(path) > stale_s
            except OSError:
                return False

    def acquire(self, deadline: float | None = None) -> None:
        if deadline is None:
            deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fd = os.open(
                    self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                try:
                    os.write(fd, self._payload())
                finally:
                    os.close(fd)
                break
            except FileExistsError:
                observed = self._read()
                if self._is_stale(observed, self.stale_s, self.path):
                    self._take_over(observed)
                    continue
                if time.monotonic() > deadline:
                    raise WriteConsistencyError(
                        f"writer lease {os.path.basename(self.path)!r} is "
                        "held by another process"
                    )
                time.sleep(0.05)
        self.lost = False
        if self._heartbeat:
            self._stop.clear()
            self._thread = threading.Thread(
                target=self._heartbeat_loop, daemon=True
            )
            self._thread.start()

    def _take_over(self, observed: bytes | None) -> None:
        """Atomically claim a stale lock: rename it aside, verify it is
        still the payload we judged stale, and only then delete it. Exactly
        one of N racing contenders wins the rename; a fresh lock that
        appeared in the window is restored via os.link (which fails if the
        path was re-occupied — then the new occupant simply wins)."""
        claim = f"{self.path}.claim-{uuid.uuid4().hex}"
        try:
            os.rename(self.path, claim)
        except FileNotFoundError:
            return  # another contender claimed it first
        try:
            with open(claim, "rb") as f:
                claimed = f.read()
        except OSError:
            claimed = None
        if claimed == observed:
            os.remove(claim)  # confirmed stale: the path is now free
            return
        # the lock changed between our staleness read and the rename —
        # we yanked a LIVE lock; put the same inode back if the path is
        # still free, then stand down
        try:
            os.link(claim, self.path)
        except (FileExistsError, OSError):
            pass
        try:
            os.remove(claim)
        except FileNotFoundError:
            pass

    def _heartbeat_loop(self) -> None:
        interval = max(0.05, self.stale_s / 3.0)
        while not self._stop.wait(interval):
            if not self._refresh():
                self.lost = True
                return

    def _refresh(self) -> bool:
        raw = self._read()
        try:
            if raw is None or json.loads(raw).get("token") != self.token:
                return False
        except ValueError:
            return False
        tmp = f"{self.path}.hb-{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as f:
                f.write(self._payload())
            os.replace(tmp, self.path)
        except OSError:
            _discard_file(tmp)
            return False
        return True

    def release(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None
        raw = self._read()
        try:
            mine = raw is not None and json.loads(raw).get("token") == self.token
        except ValueError:
            mine = False
        if mine:
            _discard_file(self.path)


# Same env-var name the reference uses to gate its per-write size logging
# (write.go:274-329): when set, each batch logs its top tablets by bytes.
SIZE_STATS_ENV = "STATEDB_SIZE_STATS"
_log = logging.getLogger("fluxdb_spark.store")


class CommitLog:
    """Versioned commit history for the parquet backend — the
    transaction-log half of a transactional table format, re-created on a
    plain filesystem.

    Every durable mutation of the data directory — a committed append
    batch, a compaction or DML band swap, a retention truncation — is
    recorded as one numbered JSON entry under `_commits/`. A version is
    claimed with PUT-IF-ABSENT semantics: the entry is fully written to a
    private temp file and `os.link`ed to `v<version>.json`; the link is
    atomic and fails with FileExistsError if a rival landed that version
    first, in which case the claimer retries at the next number. No lock
    is held while an entry is prepared, so this is cross-process
    OPTIMISTIC concurrency — the same protocol a Delta-style table uses
    for its `_delta_log` (put-if-absent commit files), and it gives the
    store a total order of commits across all processes, streams, and
    shards on top of the per-stream writer leases.

    The log is commit METADATA, not the commit point: an append batch is
    committed by its checkpoint advance (`StoreBackend.commit`) and its log
    entry lands immediately after; `recover()` heals the entry for a
    writer that crashed in the gap (the surviving committed manifest
    names the batch). Entry shape:

        {"version": N, "ts": ..., "action": "append" | "rewrite",
         "kind": "write_batch" | "compact" | "expire" | "purge" | "redact",
         "add": [relpaths], "remove": [relpaths], ...}

    Two capabilities fall out:

    - **history()** — the DESCRIBE HISTORY analog: an audited, totally
      ordered record of every mutation.
    - **time travel** — `changelog(at_version=V)` reconstructs version
      V's exact file set (adds minus removes of entries <= V). Rewrites
      vacuum eagerly (replaced files are deleted, not tombstoned), so
      reads below the newest rewrite's version raise loudly instead of
      resolving to missing files.
    """

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_commits")
        os.makedirs(self.dir, exist_ok=True)

    @staticmethod
    def _name(version: int) -> str:
        return f"v{version:020d}.json"

    def latest_version(self) -> int:
        """Newest claimed version; 0 when the log is empty. A log
        checkpoint subsumes the entries pruned beneath it, so its version
        counts even when every entry file is gone."""
        vmax = 0
        for fname in os.listdir(self.dir):
            if fname.startswith("v") and fname.endswith(".json"):
                try:
                    vmax = max(vmax, int(fname[1:-5]))
                except ValueError:
                    pass
            elif fname.startswith("_ckpt-v") and fname.endswith(".json"):
                try:
                    vmax = max(vmax, int(fname[len("_ckpt-v"):-5]))
                except ValueError:
                    pass
        return vmax

    def entries(self, after: int = 0, up_to: int | None = None) -> list[dict]:
        """The entries with version in (after, up_to], in version order.
        Only those files are opened (or even sorted): the zero-padded
        names compare as their versions do, so a reader that knows where
        it stopped pays one directory listing plus the entries since
        then, not a parse of the whole log."""
        lo = self._name(after)
        out = []
        for fname in sorted(f for f in os.listdir(self.dir) if f > lo):
            if not (fname.startswith("v") and fname.endswith(".json")):
                continue
            try:
                version = int(fname[1:-5])
            except ValueError:
                continue
            if up_to is not None and version > up_to:
                break
            try:
                with open(os.path.join(self.dir, fname)) as f:
                    entry = json.load(f)
            except FileNotFoundError:
                # pruned between the listing and the read (prune_entries
                # from a concurrent maintenance run); the resulting gap is
                # caught by files_at_version's dense-count check, never
                # resolved silently
                continue
            entry["version"] = version
            out.append(entry)
        return out

    def appends_between(
        self, after: int, up_to: int | None = None
    ) -> tuple[int, list[str]] | None:
        """The delta rule every incremental reader shares. Returns
        `(top, relpaths)`: `top` is `up_to` (default: the latest version)
        and `relpaths` the data files the append commits in (after, top]
        added, in version order. Returns None when that range cannot be
        read as a delta and the caller must rebuild at `top` instead:

        - the range holds a non-compact rewrite (expire / DML), which
          erased or re-placed rows a reader at `after` already holds;
        - a compaction removed one of those append files (it merged
          them into a band file that also holds rows at or below
          `after`, and the originals are gone).

        A compaction that touches only files at or below `after` moves
        no rows into or out of the delta and passes through. A bad range,
        or entries missing from it (pruned beneath a log checkpoint),
        raise WriteConsistencyError: a gap is never read as partial
        rows."""
        latest = self.latest_version()
        top = latest if up_to is None else up_to
        if not 0 <= after <= top <= latest:
            raise WriteConsistencyError(
                f"invalid commit range ({after}, {top}]: "
                f"latest version is {latest}"
            )
        # entries above `top` still count for removals: a later
        # rewrite may have vacuumed files the range added
        newer = self.entries(after=after)
        in_range = [e for e in newer if e["version"] <= top]
        # dense-claim invariant: fewer entries than versions means the
        # per-commit entry files for part of the range were pruned
        if len(in_range) != top - after:
            raise WriteConsistencyError(
                f"incremental read ({after}, {top}] is not resolvable: "
                "commit entries in the range were pruned"
            )
        adds = [
            rel
            for e in in_range
            if e.get("action") == "append"
            for rel in e.get("add", ())
        ]
        removed = {
            rel
            for e in newer
            if e.get("action") == "rewrite"
            for rel in e.get("remove", ())
        }
        if removed.intersection(adds) or any(
            e.get("action") == "rewrite" and e.get("kind") != "compact"
            for e in in_range
        ):
            return None
        return top, adds

    def contains(self, key: str, value) -> bool:
        """Has any entry already recorded `key == value`? (idempotence
        guard for recovery-time healing)."""
        return value is not None and any(
            e.get(key) == value for e in self.entries()
        )

    def claim(self, entry: dict) -> int:
        """Claim the next version for `entry`, optimistically.

        The temp file carries the COMPLETE payload before the link, so
        every visible `v*.json` is whole — a crash can only leave an
        unlinked temp (swept by recover) or a fully committed entry."""
        version = self.latest_version() + 1
        tmp = os.path.join(self.dir, f".claim-{uuid.uuid4().hex}")
        try:
            while True:
                with open(tmp, "w") as f:
                    json.dump(dict(entry, version=version, ts=time.time()), f)
                try:
                    os.link(tmp, os.path.join(self.dir, self._name(version)))
                    return version
                except FileExistsError:
                    version += 1  # lost the race: retry at the next slot
        finally:
            _discard_file(tmp)

    def sweep_claims(self, min_age_s: float) -> None:
        """Drop orphaned `.claim-*` temps from crashed claimers. Age-gated
        so a live claimer's temp (written microseconds ago) is never
        yanked between its write and its link."""
        now = time.time()
        for fname in os.listdir(self.dir):
            if not fname.startswith(".claim-"):
                continue
            path = os.path.join(self.dir, fname)
            try:
                if now - os.path.getmtime(path) > min_age_s:
                    os.remove(path)
            except OSError:
                pass

    # --- log checkpoints (bounding resolution cost at scale) --------------

    def _ckpt_name(self, version: int) -> str:
        # underscore prefix: Hadoop's hidden-file convention, so the
        # outbound follower's JSON file source (streaming/follow.py)
        # never reads a log checkpoint as a commit entry
        return f"_ckpt-v{version:020d}.json"

    def newest_log_checkpoint(self) -> dict | None:
        """Newest cumulative snapshot `{"version", "files", "floor"}`, or
        None. Any checkpoint is valid (it is a pure function of the
        entries at or below its version), so last-writer-wins races are
        harmless."""
        best = None
        for fname in os.listdir(self.dir):
            if not (fname.startswith("_ckpt-v") and fname.endswith(".json")):
                continue
            try:
                v = int(fname[len("_ckpt-v"):-5])
            except ValueError:
                continue
            if best is None or v > best[0]:
                best = (v, fname)
        if best is None:
            return None
        with open(os.path.join(self.dir, best[1])) as f:
            return json.load(f)

    def checkpoint_log(self) -> int:
        """Snapshot the cumulative state at the newest version — the
        Delta-checkpoint analog that keeps time-travel resolution O(new
        entries) instead of O(all history): a year of micro-batch commits
        must not be replayed from version 1 on every read. Run from
        maintenance (compact does it automatically); concurrent claims
        landing above the snapshot are unaffected, resolution just applies
        them on top. Old checkpoints are pruned (the newest subsumes
        them). Each snapshot starts from the previous one, so it reads
        only the entries since then — and stays exact after
        prune_entries dropped the entries beneath it. Returns the
        checkpointed version (0 = empty log)."""
        prev = self.newest_log_checkpoint() or {
            "version": 0, "files": [], "floor": 0
        }
        entries = self.entries(after=prev["version"])
        if not entries:
            return prev["version"]
        version = entries[-1]["version"]
        files = set(prev["files"])
        floor = prev.get("floor", 0)
        for e in entries:
            files.update(e.get("add", ()))
            files.difference_update(e.get("remove", ()))
            if e.get("action") == "rewrite":
                floor = e["version"]
        _replace_json(
            os.path.join(self.dir, self._ckpt_name(version)),
            {"version": version, "files": sorted(files), "floor": floor},
            os.path.join(self.dir, f".ckpt-{uuid.uuid4().hex}"),
        )
        for fname in os.listdir(self.dir):
            if (
                fname.startswith("_ckpt-v")
                and fname.endswith(".json")
                and fname != self._ckpt_name(version)
            ):
                _discard_file(os.path.join(self.dir, fname))
        return version

    def prune_entries(self, keep_last: int = 1000) -> int:
        """Drop entry files at or below the newest checkpoint, keeping the
        newest `keep_last` regardless — bounds the log directory itself on
        a long-lived store (listing a million tiny files is its own scan
        problem). History below the cut then starts at the checkpoint
        (resolution stays EXACT — the checkpoint is the cumulative state —
        but per-commit detail is gone, as after Delta log cleanup). Do not
        prune while an outbound follower (streaming/follow.py) may still
        be behind the cut: the JSON file source cannot re-read removed
        files. Returns the number pruned."""
        ckpt = self.newest_log_checkpoint()
        if ckpt is None:
            return 0
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(self.dir)
            if f.startswith("v") and f.endswith(".json")
        )
        protected = set(versions[-keep_last:]) if keep_last else set()
        pruned = 0
        for v in versions:
            if v > ckpt["version"] or v in protected:
                continue
            try:
                os.remove(os.path.join(self.dir, self._name(v)))
                pruned += 1
            except FileNotFoundError:
                pass
        return pruned


# the changelog columns plus the Hive partition column that a read
# anchored at the data directory (basePath) carries
_READ_SCHEMA = T.StructType(
    CHANGELOG_SCHEMA.fields
    + [T.StructField("height_band", T.LongType(), True)]
)

# the same columns for driver-side Arrow reads (ChangelogStore.point_scan):
# a file that lacks a column reads it as null, as Spark's schema-on-read
# does, and the Hive path segments are typed by the store, never inferred
# — a collection named "7" stays a string
_READ_ARROW_SCHEMA = to_arrow_schema(_READ_SCHEMA)
_PARTITIONING = ds.partitioning(
    pa.schema(
        [
            _READ_ARROW_SCHEMA.field("collection"),
            _READ_ARROW_SCHEMA.field("height_band"),
        ]
    ),
    flavor="hive",
)

# one row per commit-log entry (ChangelogStore.history)
_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("shard", T.StringType()),
        T.StructField("hi", T.LongType()),
        T.StructField("files_added", T.IntegerType()),
        T.StructField("files_removed", T.IntegerType()),
        T.StructField("healed", T.BooleanType()),
        T.StructField("ts", T.DoubleType()),
    ]
)


def _stored_meta(root: str) -> dict | None:
    """The store's sticky physical layout (`height_band`,
    `data_format`), written with its first batch; None before that."""
    path = os.path.join(root, "_meta.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_changelog_files(
    spark: SparkSession, root: str, relpaths: list[str]
) -> DataFrame:
    """The changelog rows of the data files `relpaths` (relative to the
    store `root`, as commit entries record them), read in the format the
    store recorded in `_meta.json` — the one file reader that
    `appended_between`, the derived-table maintainers and the follower
    share, so none of them needs out-of-band knowledge of the backend."""
    data_format = (_stored_meta(root) or {}).get("data_format", "parquet")
    return (
        spark.read.option("basePath", os.path.join(root, "changelog"))
        .schema(_READ_SCHEMA)
        .format(data_format)
        .load([os.path.join(root, rel) for rel in relpaths])
        .drop("height_band")
    )


def _replace_json(path: str, obj, tmp: str | None = None) -> None:
    """The one atomic small-JSON write: dump `obj` to the temp file `tmp`
    (default `<path>.tmp`), then `os.replace` it over `path`, so a reader
    or a crash sees the old content or the new, never a torn file."""
    tmp = path + ".tmp" if tmp is None else tmp
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _discard_file(path: str) -> None:
    """Remove `path` if it is still there: two processes opening a store
    race recovery, so every cleanup tolerates the other side winning."""
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _read_journal(path: str) -> dict | None:
    """A swap journal's payload; None when it is absent or unreadable."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _journaled_swap(
    target: str,
    new: str,
    old: str,
    journal: str,
    write,
    is_data_file,
    describe=lambda names: {},
    after_swap=lambda entry: None,
) -> list[str]:
    """The one atomic directory replacement behind compaction, DML and
    index pruning. `write(new)` fully writes the replacement to a side
    directory (never inside a partitioned data dir, whose discovery
    would trip over the suffix) and non-data sidecars (_SUCCESS, .crc)
    are dropped; then the journal pins `new`, `old` and whatever
    `describe(data file names)` adds, and is written atomically BEFORE
    the two renames, so `_settle_swap` can complete or roll back a crash
    at any point. `target` is absent only between the renames. The
    `after_swap(journal entry)` step runs before the journal is removed,
    so recovery re-runs it after a crash. Returns the data file names
    `target` now holds."""
    write(new)
    for junk in os.listdir(new):
        if not is_data_file(junk):
            os.remove(os.path.join(new, junk))
    names = os.listdir(new)
    entry = {"new": new, "old": old, **describe(names)}
    _replace_json(journal, entry)
    os.rename(target, old)
    os.rename(new, target)
    after_swap(entry)
    _discard_file(journal)
    shutil.rmtree(old, ignore_errors=True)
    return names


def _settle_swap(
    target: str, new: str, old: str, after_swap=lambda: None
) -> bool:
    """Complete or roll back a `_journaled_swap` that crashed, from the
    (target, new, old) its journal pins. Each rename is atomic, so the
    state is unambiguous:

    - target present, old absent -> crash before the swap started:
      discard the staged `new`.
    - target absent -> crash between the renames: complete with `new`
      if it exists, else roll `old` back.
    - target present, old present -> crash after the second rename:
      the target IS the replacement; discard `old`.

    A completed swap then runs the caller's `after_swap` step (before
    the side directories go, so a crash inside recovery finds the swap
    completed again). Returns whether the swap completed."""
    if os.path.exists(target):
        completed = os.path.exists(old)
    else:
        completed = os.path.exists(new)
        back = new if completed else old
        if os.path.exists(back):
            os.rename(back, target)
    if completed:
        after_swap()
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(new, ignore_errors=True)
    return completed


@dataclass(frozen=True)
class StagedBatch:
    """A batch `StoreBackend.stage` wrote but no reader sees yet: where it
    lies and the (staged file, target file) moves its commit makes."""

    batch_id: str
    path: str
    moves: list


class StoreBackend:
    """The physical append/visibility/recovery seam — the analog of the
    reference's store DSN (store.go:31-39, `badger://` local vs Bigtable
    `bigkv://`; resolved in store/kv/store.go:46-56): ChangelogStore owns
    the checkpoint-stream semantics (monotonic guard, idempotent replay,
    leases, per-shard checkpoints) and delegates the bytes-on-storage
    protocol here.

    The contract every backend must keep:

    - `stage(clustered, batch_id)` durably writes the batch where no
      reader sees it and returns a handle, or None when it wrote no row
      (an empty batch or a full replay). ChangelogStore reads the batch
      bounds, which the write observed, and checks its height guard
      between the two steps below.
    - `commit(staged, bounds, shard, advance)` makes the staged rows
      visible and invokes `advance` (the checkpoint write) at the COMMIT
      POINT; a crash anywhere leaves either nothing visible or
      everything + checkpoint. `discard(staged)` drops a batch the
      guard rejected. On a transactional table format (Delta/Iceberg)
      `stage` writes the data files of a transaction and `commit` is its
      log entry with the checkpoint folded in (e.g. a txn app-id
      version); the parquet implementation below re-creates that with
      stage -> manifest -> move -> checkpoint -> cleanup.
    - `committed_relation` returns only rows whose batch reached its
      commit point (snapshot isolation against in-flight writers).
    - `recover` rolls back (or completes) whatever a crash left behind.

    Maintenance (compaction, retention) is deliberately NOT part of the
    protocol: it is storage-format-specific (a Delta backend would use
    OPTIMIZE/VACUUM) and lives with the concrete backend.
    """

    def stage(self, clustered, batch_id):
        raise NotImplementedError

    def commit(self, staged, bounds, shard, advance):
        raise NotImplementedError

    def discard(self, staged):
        raise NotImplementedError

    def committed_relation(self, read_schema, checkpoint_of):
        raise NotImplementedError

    def recover(self, checkpoint_of, lease_is_fresh) -> int:
        raise NotImplementedError

    def relation_at_version(self, read_schema, version):
        """OPTIONAL capability — commit-level time travel: the committed
        rows exactly as of commit `version`. A transactional format maps
        this to native time travel (Delta `versionAsOf`); the parquet
        backend resolves it from its CommitLog. Backends without a
        commit history may leave it unimplemented."""
        raise NotImplementedError


class FileChangelogBackend(StoreBackend):
    """File-format backend: Hive-partitioned band layout plus a
    manifest protocol that re-creates transactional-append atomicity
    (see module docstring). `data_format` selects the physical file
    format through Spark's DataSource API — parquet and ORC both ship in
    the image, and everything format-specific funnels through the
    `_write`/`_read`/`data_suffix` hooks below, so the protocol
    (staging, manifests, commit log, swaps, recovery) is written once.
    This is the reference's store-DSN choice (store.go:31-39,
    badger:// vs bigkv://) re-expressed as a format choice; a
    transactional format (Delta/Iceberg) would instead implement
    StoreBackend directly with native transactional appends."""

    data_format = "parquet"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data_suffix = "." + self.data_format  # .parquet / .orc
        self.data_dir = os.path.join(root, "changelog")
        self.manifest_dir = os.path.join(root, "_manifests")
        self.staging_dir = os.path.join(root, "_staging")
        self.height_band = DEFAULT_HEIGHT_BAND  # store syncs from _meta
        # minimum orphan age before the staging sweep may touch a dir —
        # closes the window where an owner acquired its lease after the
        # sweep's lock listing (see _sweep_orphaned_staging)
        self.sweep_min_age_s = 300.0
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.staging_dir, exist_ok=True)
        self.commit_log = CommitLog(root)

    def _rel(self, path: str) -> str:
        return os.path.relpath(path, self.root)

    # Point-read columns that get per-file membership filters.  The
    # reference serves R2/R3/R4 point reads as KV prefix gets
    # (tablet.go:251-278 key layout) — the storage engine itself skips
    # everything outside the prefix.  The columnar analog: appends and
    # compaction already cluster files by (collection, tablet_id,
    # height), so min/max row-group statistics prune most files, and the
    # format-level bloom filters added here cover the remaining case —
    # a file whose tablet_id/primary_key range STRADDLES the probed key
    # without containing it (inevitable once keys are high-cardinality
    # hashes, where every file's min/max spans the key space).  With
    # them, a single-key read on a 100 TB log decodes only the row
    # groups whose filter matches, not every straddling file.
    BLOOM_COLUMNS = ("tablet_id", "primary_key")

    def _bloom_options(self, writer):
        """Format-specific membership-filter writer options (overridden
        per format); base is a no-op so a format without bloom support
        still works."""
        return writer

    def _write(self, writer, path: str) -> None:
        self._bloom_options(writer).format(self.data_format).save(path)

    def _read(self, *paths: str, schema=None, base_path: str | None = None):
        r = self.spark.read
        if base_path is not None:
            r = r.option("basePath", base_path)
        if schema is not None:
            r = r.schema(schema)
        # load() takes (path, format, schema) positionally — a path LIST,
        # never varargs (unlike reader.parquet(*paths))
        return r.format(self.data_format).load(list(paths))

    def _is_data_file(self, fname: str) -> bool:
        return fname.endswith(self.data_suffix)

    def _data_files(self, top: str | None = None) -> list[str]:
        """Paths of the data files under `top` (default: the data dir)."""
        return [
            os.path.join(dirpath, fn)
            for dirpath, _d, fnames in os.walk(top or self.data_dir)
            for fn in fnames
            if self._is_data_file(fn)
        ]

    def _has_pending_batch(self) -> bool:
        """Does a batch manifest (an in-flight or torn write) exist?"""
        return any(
            f.startswith("batch-") and f.endswith(".json")
            for f in os.listdir(self.manifest_dir)
        )

    def _write_clustered(self, df, n_out: int, path: str) -> None:
        """The rewrite write of expire's rebase, linear compaction and
        DML: `n_out` files hash-clustered by tablet_id (one task when
        n_out is 1), each (tablet_id, height)-sorted, restoring the
        row-group pruning layout of a single large batch."""
        self._write(
            (
                df.repartition(n_out, "tablet_id")
                if n_out > 1
                else df.coalesce(1)
            )
            .sortWithinPartitions("tablet_id", "height")
            .write.mode("overwrite"),
            path,
        )

    def stage(self, clustered, batch_id):
        stage = os.path.join(self.staging_dir, f"batch-{batch_id}")
        writer = (
            clustered.sortWithinPartitions("collection", "tablet_id", "height")
            .withColumn(
                "height_band",
                F.floor(F.col("height") / F.lit(self.height_band)).cast(
                    "long"
                ),
            )
            .write.mode("overwrite")
            .option("maxRecordsPerFile", TARGET_FILE_ROWS)
            .partitionBy("collection", "height_band")
        )
        self._write(writer, stage)
        # every target path, for the manifest commit() writes before any
        # file reaches the band directories
        moves = [
            (
                src,
                os.path.join(
                    self.data_dir,
                    os.path.relpath(os.path.dirname(src), stage),
                    f"b{batch_id[:8]}-{os.path.basename(src)}",
                ),
            )
            for src in self._data_files(stage)
        ]
        staged = StagedBatch(batch_id, stage, moves)
        if not moves:
            self.discard(staged)
            return None
        return staged

    def discard(self, staged):
        shutil.rmtree(staged.path, ignore_errors=True)

    def commit(self, staged, bounds, shard, advance):
        batch_id, moves = staged.batch_id, staged.moves
        # manifest BEFORE any file reaches the band directories: lists every
        # target path, so recover() can roll a torn move back in full
        manifest = os.path.join(self.manifest_dir, f"batch-{batch_id}.json")
        _replace_json(
            manifest,
            {
                "hi": int(bounds.hi),
                "shard": shard,
                "batch_id": batch_id,
                "targets": [dst for _src, dst in moves],
                "staging": staged.path,
            },
        )
        for src, dst in moves:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
        # the checkpoint write is the COMMIT POINT (reference writes the
        # checkpoint in the same KV batch, store/kv/store.go:418-424)
        advance()
        # history/time-travel metadata, not part of the commit point: a
        # crash here leaves a committed manifest whose batch_id is absent
        # from the log, and recover() heals the entry from the manifest
        self.commit_log.claim(
            {
                "action": "append",
                "kind": "write_batch",
                "batch_id": batch_id,
                "shard": shard,
                "hi": int(bounds.hi),
                "add": [self._rel(dst) for _src, dst in moves],
                "remove": [],
            }
        )
        # a concurrent open's recover() may clean the now-committed
        # manifest before we do
        _discard_file(manifest)
        self.discard(staged)

    def _uncommitted_targets(self, checkpoint_of) -> set[str]:
        """Target files of batches whose commit point (the checkpoint
        advance) has not been reached — the manifest doubles as a
        poor-man's transaction log, so readers get SNAPSHOT ISOLATION
        against in-flight writers: a concurrent (or torn) batch's files
        are invisible until its checkpoint lands."""
        out: set[str] = set()
        for fname in os.listdir(self.manifest_dir):
            if not fname.startswith("batch-") or not fname.endswith(".json"):
                continue  # compact-*.json swap journals carry no targets
            try:
                with open(os.path.join(self.manifest_dir, fname)) as f:
                    m = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue  # half-written manifest: its files never moved
            ckpt = checkpoint_of(m.get("shard"))
            if ckpt is None or m["hi"] > ckpt.height:
                out.update(m["targets"])
        return out

    def committed_files(self, checkpoint_of) -> list[str]:
        """Paths of the committed data files: every data file minus the
        targets of batches whose commit point has not been reached."""
        pending = self._uncommitted_targets(checkpoint_of)
        return [p for p in self._data_files() if p not in pending]

    def committed_relation(self, read_schema, checkpoint_of):
        """The committed rows as a DataFrame (None = empty store). The
        common no-writer case costs one directory listing and keeps the
        plain directory scan Spark partition-prunes natively."""
        try:
            if self._has_pending_batch():
                files = self.committed_files(checkpoint_of)
                if not files:
                    return None
                return self._read(
                    *files, schema=read_schema, base_path=self.data_dir
                )
            return self._read(self.data_dir, schema=read_schema)
        except AnalysisException:
            # empty store (no files yet): everything else — a corrupt
            # file, a broken partition layout — must surface, not read
            # as silently empty
            return None

    def files_at_version(self, version: int) -> list[str]:
        """Resolve commit `version`'s exact file set from the log (adds
        minus removes of every entry <= version), starting from the newest
        log checkpoint at or below it so resolution costs O(entries since
        the checkpoint), not O(all history). Rewrites vacuum the files
        they replace eagerly, so any version below the newest rewrite is
        unreconstructable — refused loudly, never resolved to paths that
        no longer exist; likewise versions below a pruned log region."""
        log = self.commit_log
        latest = log.latest_version()
        if latest == 0:
            raise WriteConsistencyError(
                "store has no commit history: nothing to time-travel to"
            )
        if version > latest:
            raise WriteConsistencyError(
                f"version {version} does not exist yet (latest: {latest})"
            )
        ckpt = log.newest_log_checkpoint() or {
            "version": 0, "files": [], "floor": 0
        }
        # the checkpoint carries the newest rewrite at or below it; only
        # the entries above it are read for the rest of the floor
        newer = log.entries(after=ckpt["version"])
        floor = max(
            [ckpt.get("floor", 0)]
            + [e["version"] for e in newer if e.get("action") == "rewrite"]
        )
        if version < floor:
            kind = next(
                (e.get("kind") for e in log.entries(floor - 1, floor)),
                "rewrite",
            )
            raise WriteConsistencyError(
                f"version {version} predates rewrite commit {floor} "
                f"({kind}): rewritten history is vacuumed eagerly and "
                "cannot be read"
            )
        if ckpt["version"] <= version:
            files, base_version = set(ckpt["files"]), ckpt["version"]
            tail = [e for e in newer if e["version"] <= version]
        else:
            files, base_version = set(), 0
            tail = log.entries(up_to=version)
        # versions are claimed densely, so the (base_version, version]
        # range must hold exactly version - base_version entries — fewer
        # means entry files beneath the log checkpoint were pruned
        # (prune_entries) and resolving across the gap would silently
        # drop adds
        if len(tail) != version - base_version:
            raise WriteConsistencyError(
                f"version {version} is not resolvable: the commit entries "
                f"between versions {base_version} and {version} were "
                "pruned (time travel below the log checkpoint requires "
                "the per-commit entries)"
            )
        for e in tail:
            files.update(e.get("add", ()))
            files.difference_update(e.get("remove", ()))
        return sorted(os.path.join(self.root, p) for p in files)

    def relation_at_version(self, read_schema, version: int):
        paths = self.files_at_version(version)
        if not paths:
            return None
        return self._read(
            *paths, schema=read_schema, base_path=self.data_dir
        )

    def recover(self, checkpoint_of, lease_is_fresh) -> int:
        """Roll back torn batches and heal interrupted compaction swaps.

        For each leftover batch manifest: if the batch's `hi` is at or
        below its shard's checkpoint, the commit point was reached — the
        manifest is stale cleanup debris and only the staging dir is
        removed. Otherwise the batch is TORN (crash before the checkpoint
        advanced): every listed target file is deleted, so no orphan rows
        above the checkpoint survive and the idempotent replay re-writes
        the batch whole. Returns the number of torn batches rolled back.

        A manifest whose stream's writer lease is still FRESH is an
        IN-FLIGHT batch from a live writer, not a torn one — it is left
        alone (rolling it back from a second process opening the store
        would corrupt the live writer's commit)."""
        rolled = 0
        for fname in sorted(os.listdir(self.manifest_dir)):
            if not fname.endswith(".json") or fname.endswith(".tmp"):
                continue
            path = os.path.join(self.manifest_dir, fname)
            if fname.startswith("compact-"):
                self._recover_compact_swap(path, lease_is_fresh)
                continue
            try:
                with open(path) as f:
                    m = json.load(f)
            except (OSError, json.JSONDecodeError):
                # torn manifest write: nothing was moved
                _discard_file(path)
                continue
            ckpt = checkpoint_of(m.get("shard"))
            committed = ckpt is not None and m["hi"] <= ckpt.height
            if lease_is_fresh(
                "global" if m.get("shard") is None else f"shard-{m['shard']}"
            ):
                # live writer mid-commit (uncommitted) or mid-cleanup
                # (committed, between checkpoint and its own log claim +
                # manifest removal): either way the writer finishes its
                # own protocol — touching its manifest or claiming its
                # log entry from here would race it
                continue
            if not committed:
                for target in m["targets"]:
                    _discard_file(target)
                rolled += 1
            else:
                # crash between checkpoint advance and commit-log claim:
                # heal the append entry from the committed manifest
                batch_id = m.get("batch_id") or fname[len("batch-"):-5]
                if not self.commit_log.contains("batch_id", batch_id):
                    self.commit_log.claim(
                        {
                            "action": "append",
                            "kind": "write_batch",
                            "batch_id": batch_id,
                            "shard": m.get("shard"),
                            "hi": m["hi"],
                            "add": [self._rel(t) for t in m["targets"]],
                            "remove": [],
                            "healed": True,
                        }
                    )
            shutil.rmtree(m.get("staging", ""), ignore_errors=True)
            _discard_file(path)
        self._sweep_orphaned_staging(lease_is_fresh)
        self.commit_log.sweep_claims(self.sweep_min_age_s)
        self._heal_genesis()
        return rolled

    def _heal_genesis(self) -> None:
        """A store whose data predates the commit log (created by an older
        build, or the log directory was lost) must not time-travel to
        silently INCOMPLETE file sets — `files_at_version` resolves purely
        from the log, so pre-log files would just be missing from every
        version. Heal at open: if the log is empty but data exists, claim
        a genesis entry capturing the current committed files, making the
        log complete from version 1 onward. Two processes opening such a
        store concurrently may both claim a genesis (identical file sets
        at versions 1 and 2) — harmless, resolution unions add-sets."""
        if self.commit_log.latest_version() > 0:
            return
        if self._has_pending_batch():
            return  # in-flight batch: its files are NOT committed yet
        files = [self._rel(p) for p in self._data_files()]
        if files:
            self.commit_log.claim(
                {
                    "action": "append",
                    "kind": "genesis",
                    "batch_id": None,
                    "shard": None,
                    "hi": None,
                    "add": sorted(files),
                    "remove": [],
                }
            )

    def _sweep_orphaned_staging(self, lease_is_fresh) -> None:
        """Bound _staging/ disk: a writer that crashed BEFORE writing its
        manifest (or a compactor that crashed between journal removal and
        old-dir cleanup) leaves staging directories no manifest references
        — without this sweep they accumulate forever, which on a
        long-lived 100 TB deployment is an unbounded disk leak.

        Safety, twice over: a live writer's in-progress staging dir has
        no manifest yet either, so batch dirs are only swept when NO
        writer lease on the store is fresh (compact/rebase dirs: when the
        maintenance lease is not fresh) — and, because a writer could
        acquire its lease between our lock listing and the staging
        listing, only directories whose mtime is already older than the
        staleness window are touched. An in-progress staging write is by
        construction younger than that."""
        referenced: set[str] = set()
        for fname in os.listdir(self.manifest_dir):
            if not fname.endswith(".json"):
                continue
            try:
                with open(os.path.join(self.manifest_dir, fname)) as f:
                    m = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue
            for key in ("staging", "new", "old"):
                if m.get(key):
                    referenced.add(os.path.normpath(m[key]))
        writer_live = any(
            lease_is_fresh(f[len("_writer-"):-len(".lock")])
            for f in os.listdir(self.root)
            if f.startswith("_writer-") and f.endswith(".lock")
        )
        maintenance_live = lease_is_fresh("maintenance")
        now = time.time()
        for entry in os.listdir(self.staging_dir):
            path = os.path.normpath(os.path.join(self.staging_dir, entry))
            if path in referenced:
                continue
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue  # already gone (concurrent recover)
            if age <= self.sweep_min_age_s:
                continue
            if entry.startswith("batch-") and not writer_live:
                shutil.rmtree(path, ignore_errors=True)
            elif (
                entry.startswith(("compact-", "rebase-", "rewrite-"))
                and not maintenance_live
            ):
                shutil.rmtree(path, ignore_errors=True)

    def _claim_rewrite(self, m: dict, **extra) -> None:
        """Log a band swap, pinned by its journal entry `m`, as one
        `rewrite` commit."""
        self.commit_log.claim(
            {
                "action": "rewrite",
                "kind": m.get("kind", "compact"),
                "swap_id": m["swap_id"],
                "add": m.get("add", []),
                "remove": m.get("remove", []),
                **extra,
            }
        )

    def _swap_band(self, band: str, kind: str, write) -> int:
        """Replace the band directory `band` with the files `write(path)`
        writes, through `_journaled_swap`: staged as
        `_staging/compact-<id>` (`rewrite-<id>` for DML), journaled as
        `_manifests/compact-<id>.json` with the exact file delta, and
        logged as one `rewrite` commit of `kind` as its post-swap step,
        which `_recover_compact_swap` heals after a crash. Returns the
        number of data files the band now holds."""
        swap_id = uuid.uuid4().hex
        stage = "compact" if kind == "compact" else "rewrite"
        new = os.path.join(self.staging_dir, f"{stage}-{swap_id}")
        remove = [self._rel(p) for p in self._data_files(band)]
        names = _journaled_swap(
            band,
            new,
            new + "-old",
            os.path.join(self.manifest_dir, f"compact-{swap_id}.json"),
            write,
            self._is_data_file,
            describe=lambda names: {
                "band": band,
                "swap_id": swap_id,
                "kind": kind,
                "remove": remove,
                "add": [self._rel(os.path.join(band, fn)) for fn in names],
            },
            after_swap=self._claim_rewrite,
        )
        return len(names)

    def _recover_compact_swap(self, journal: str, lease_is_fresh) -> None:
        """Settle a compaction or DML band swap (`_swap_band`) that
        crashed, with `_settle_swap` over the journal's (band, new, old).
        A completed swap that crashed before its commit-log claim gets
        the rewrite entry healed from the journal, so time travel's file
        resolution stays exact.

        Skipped while a live maintenance lease is fresh (the compactor is
        mid-swap right now, not crashed)."""
        if lease_is_fresh("maintenance"):
            return
        m = _read_journal(journal)

        def heal() -> None:
            if "swap_id" in m and not self.commit_log.contains(
                "swap_id", m["swap_id"]
            ):
                self._claim_rewrite(m, healed=True)

        if m is not None:
            _settle_swap(m["band"], m["new"], m["old"], heal)
        _discard_file(journal)


class ParquetChangelogBackend(FileChangelogBackend):
    """The default backend (columnar parquet, full pushdown/statistics).

    Every data file carries bloom filters on the point-read columns
    (BLOOM_COLUMNS).  parquet-mr is adaptive about it: a column chunk
    that stays fully dictionary-encoded (few distinct tablets/keys per
    file — the clustered-append common case) gets NO bloom filter,
    because its dictionary page already serves as an exact membership
    filter for row-group skipping; the bloom filter materializes exactly
    when dictionary encoding falls back (high-cardinality keys), which
    is when stats-based pruning stops working and a membership filter
    pays for itself.  Spark's scan applies both row-group filters under
    the default `spark.sql.parquet.filterPushdown`."""

    data_format = "parquet"
    # sized for the ~500K-row files write_batch/compact target; parquet
    # right-sizes downward per row group from observed distinct counts
    BLOOM_NDV = 500_000

    def _bloom_options(self, writer):
        for col in self.BLOOM_COLUMNS:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{col}", "true"
            ).option(
                f"parquet.bloom.filter.expected.ndv#{col}",
                str(self.BLOOM_NDV),
            )
        return writer


class OrcChangelogBackend(FileChangelogBackend):
    """Alternate file format behind the same seam — the proof that the
    protocol is backend-agnostic: every test-visible behavior (guarded
    writes, exactly-once commit, compaction, retention, DML, time travel,
    the CDC follower) runs unchanged over ORC."""

    data_format = "orc"

    def _bloom_options(self, writer):
        # ORC per-stripe bloom filters on the same point-read columns
        return writer.option(
            "orc.bloom.filter.columns", ",".join(self.BLOOM_COLUMNS)
        )


BACKENDS = {
    "parquet": ParquetChangelogBackend,
    "orc": OrcChangelogBackend,
}


@dataclass(frozen=True)
class Checkpoint:
    height: int
    block_id: str | None
    block_num: int | None


ZORDER_BITS = 8  # 256 rank bins per dimension; 16-bit Morton keys


def _zorder_key(key_col: str, height_col: str) -> "F.Column":
    """Morton (Z-order) key over per-tablet rank bins of (key, height).

    Both dimensions are reduced to 256 rank bins with ntile windows
    PARTITIONED BY tablet_id (ranks, not raw values, so arbitrary skew in
    either column still fills the curve uniformly), then bit-interleaved:
    key bit j lands at position 2j+1, height bit j at 2j. Pure codegen
    integer expressions — the windows are the only shuffle, and they run
    inside the maintenance rewrite, never on the read path."""
    import functools
    import operator as op

    from pyspark.sql import Window

    n_bins = 1 << ZORDER_BITS
    wk = Window.partitionBy("tablet_id").orderBy(F.col(key_col))
    wh = Window.partitionBy("tablet_id").orderBy(F.col(height_col))
    # percent_rank, not ntile: ties (same key at many heights, same height
    # across many keys) must land in the SAME bin, or a key's rows smear
    # across bins and widen every file's zone map
    a = F.floor(F.percent_rank().over(wk) * (n_bins - 1)).cast("long")
    b = F.floor(F.percent_rank().over(wh) * (n_bins - 1)).cast("long")
    terms = []
    for j in range(ZORDER_BITS):
        terms.append(
            F.shiftleft(F.shiftright(a, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), 2 * j)
        )
    return functools.reduce(op.add, terms).cast("long")


DEFAULT_HEIGHT_BAND = 100_000

# rows per data file that appends, compaction, retention rebases and DML
# rewrites aim for
TARGET_FILE_ROWS = 500_000


def _n_files(n_rows: int) -> int:
    """Files for `n_rows` rows at TARGET_FILE_ROWS each, 1 to 64."""
    return max(1, min(64, -(-n_rows // TARGET_FILE_ROWS)))


class ChangelogStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        height_band: int = DEFAULT_HEIGHT_BAND,
        lease_timeout_s: float = 30.0,
        lease_stale_s: float = 300.0,
        data_format: str = "parquet",
    ):
        self.spark = spark
        self.root = root
        self.lease_timeout_s = lease_timeout_s
        self.lease_stale_s = lease_stale_s
        # band size AND file format are PHYSICAL layout: once the first
        # batch lands, the stored values win over the constructor
        # arguments, so maintenance tools (and followers) opening the
        # store with defaults still see the real bands and format
        meta = _stored_meta(root)
        stored_band = None
        if meta is not None:
            stored_band = int(meta["height_band"])
            data_format = meta.get("data_format", "parquet")
        if data_format not in BACKENDS:
            raise ValueError(
                f"unknown data_format {data_format!r}; "
                f"choose one of {sorted(BACKENDS)}"
            )
        # the storage-format seam: semantics live on this class, bytes
        # live on the backend (see StoreBackend); the format name is the
        # reference's store-DSN choice (store.go:31-39)
        self._backend = BACKENDS[data_format](spark, root)
        self._backend.height_band = (
            stored_band if stored_band is not None else height_band
        )
        self._data_dir = self._backend.data_dir
        self._manifest_dir = self._backend.manifest_dir
        self._staging_dir = self._backend.staging_dir
        self._ckpt_dir = os.path.join(root, "_checkpoint")
        os.makedirs(self._ckpt_dir, exist_ok=True)
        self.recover()

    @property
    def height_band(self) -> int:
        # single source of truth: the band size is PHYSICAL layout, so it
        # lives with the backend that writes the partitions
        return self._backend.height_band

    @height_band.setter
    def height_band(self, value: int) -> None:
        self._backend.height_band = int(value)

    # --- writer leases -----------------------------------------------------

    def _lock_path(self, key: str) -> str:
        return os.path.join(self.root, f"_writer-{key}.lock")

    def _other_locks(self, exclude: str) -> list[str]:
        return [
            f
            for f in os.listdir(self.root)
            if f.startswith("_writer-")
            and f.endswith(".lock")
            and f != f"_writer-{exclude}.lock"
        ]

    def _lease_is_fresh(self, key: str) -> bool:
        """A live (non-stale) lease exists for this stream."""
        path = self._lock_path(key)
        try:
            with open(path, "rb") as f:
                raw = f.read()
        except OSError:
            return False
        return not WriterLease._is_stale(raw, self.lease_stale_s, path)

    @contextmanager
    def _writer_lease(self, key: str, drain_others: bool = False):
        """Concurrent-writer safety (the half of a transactional table
        format the manifest protocol alone does not give): each checkpoint
        stream (global, or one shard) is single-writer via a WriterLease
        (token-identified lock file, heartbeated, claim-then-verify stale
        takeover), so two writers cannot interleave the read-checkpoint /
        write-data / advance-checkpoint sequence. Parallel SHARD injection
        stays parallel — each shard key is its own lease.

        Maintenance ops pass drain_others=True: they acquire their lease
        first, then wait for in-flight writer leases to drain (stale
        writer locks from crashed holders are ignored, not waited on).
        Writers NEVER wait while holding their own lock: a writer checks
        for a live maintenance lease before acquiring, and if maintenance
        began in the acquire window it releases its lock and goes back to
        waiting — so the writer/maintenance pair cannot circular-wait."""
        lease = WriterLease(
            self._lock_path(key), self.lease_timeout_s, self.lease_stale_s
        )
        deadline = time.monotonic() + self.lease_timeout_s
        try:
            if drain_others:
                lease.acquire(deadline)
                while True:
                    live = [
                        f
                        for f in self._other_locks(key)
                        if self._lease_is_fresh(
                            f[len("_writer-"):-len(".lock")]
                        )
                    ]
                    if not live:
                        break
                    if time.monotonic() > deadline:
                        raise WriteConsistencyError(
                            f"maintenance lease acquired but writers still "
                            f"active: {', '.join(live)}"
                        )
                    time.sleep(0.05)
            else:
                while True:
                    while self._lease_is_fresh("maintenance"):
                        if time.monotonic() > deadline:
                            raise WriteConsistencyError(
                                "maintenance in progress: writer lease "
                                f"{key!r} timed out waiting"
                            )
                        time.sleep(0.05)
                    lease.acquire(deadline)
                    if not self._lease_is_fresh("maintenance"):
                        break
                    # maintenance started while we acquired: back off so
                    # its drain loop can make progress, then re-wait
                    lease.release()
            yield
        finally:
            lease.release()

    # --- checkpoints -------------------------------------------------------

    def _ckpt_path(self, shard: str | None) -> str:
        name = f"shard-{int(shard):03d}" if shard is not None else "global"
        return os.path.join(self._ckpt_dir, f"{name}.json")

    def checkpoint(self, shard: str | None = None) -> Checkpoint | None:
        """R6 — last durably written (height, block)."""
        path = self._ckpt_path(shard)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            d = json.load(f)
        return Checkpoint(d["height"], d.get("block_id"), d.get("block_num"))

    def _write_checkpoint(
        self, height: int, block_id: str | None, block_num: int | None,
        shard: str | None = None,
    ) -> None:
        path = self._ckpt_path(shard)
        _replace_json(
            path,
            {"height": height, "block_id": block_id, "block_num": block_num},
            f"{path}.tmp-{uuid.uuid4().hex}",
        )

    def delete_shard_checkpoints(self) -> int:
        """W5 — reference DeleteAllShardCheckpoints (write.go:196-198)."""
        n = 0
        for f in os.listdir(self._ckpt_dir):
            if f.startswith("shard-"):
                os.remove(os.path.join(self._ckpt_dir, f))
                n += 1
        return n

    def check_clean_for_sharding(self) -> None:
        """P7 — refuse shard injection over a live DB (reference
        CheckCleanDBForSharding, read.go:439-452)."""
        if self.checkpoint() is not None:
            raise WriteConsistencyError(
                "store already has a global checkpoint; refusing shard "
                "injection into a non-clean database"
            )

    # --- write path --------------------------------------------------------

    def write_batch(
        self, rows: DataFrame, shard: str | None = None, force: bool = False
    ) -> Checkpoint:
        """W1 — append a batch of change-log rows, enforcing the monotonic
        height guard, then advance the checkpoint (reference WriteBatch,
        write.go:40-72).

        `rows` must conform to CHANGELOG_SCHEMA. Heights already at or below
        the checkpoint are dropped (idempotent replay, reference
        shardinject.go:153-155) — never rewritten: the durable log is
        append-only and holds only finalized rows, so reorg rewrites are
        resolved in the speculative overlay before reaching this path (see
        module docstring). The remaining batch must start at checkpoint+1
        (no holes).

        Like the reference, which checks the guard and writes the
        checkpoint from the batch it already holds, the batch is read
        once: its bounds (lo, hi, last block, row count) are an
        `Observation` on the staged write itself, checked after staging
        and before the manifest — a rejected batch leaves nothing behind.
        The write is one task with no shuffle, so the whole batch costs
        one Spark job; the writer cuts files at TARGET_FILE_ROWS rows.
        That one task evaluates every input partition in series: a batch
        from `createDataFrame(list)` pays about 0.3 s of Python per
        partition on a 4-core host, where a `schema.local_frame` batch
        (an Arrow-backed LocalRelation, what flushes build) pays none.

        Runs under the stream's writer lease: the checkpoint read, the
        data write, and the checkpoint advance are one critical section
        per (global | shard) stream.
        """
        with self._writer_lease("global" if shard is None else f"shard-{shard}"):
            return self._write_batch_locked(rows, shard, force)

    def _write_batch_locked(
        self, rows: DataFrame, shard: str | None, force: bool
    ) -> Checkpoint:
        ckpt = self.checkpoint(shard)
        if ckpt is not None:
            rows = rows.filter(F.col("height") > F.lit(ckpt.height))
        # File sizing: streaming micro-batches (reference flushes at 5,000
        # rows, pipeline.go:374-382) land as one height-sorted file per
        # band; large batches as TARGET_FILE_ROWS-row files, which the
        # stage's (collection, tablet_id, height) sort makes contiguous
        # tablet ranges, so per-tablet temporal reads touch few files.
        # One task and no shuffle, so the write is the batch's only job.
        clustered = rows.coalesce(1)
        self._maybe_size_stats(clustered)
        obs = Observation()
        observed = clustered.observe(
            obs,
            F.min("height").alias("lo"),
            F.max("height").alias("hi"),
            F.max_by("block_id", F.col("height")).alias("block_id"),
            F.max("block_num").alias("block_num"),
            F.count(F.lit(1)).alias("n"),
        )
        staged = self._backend.stage(observed, uuid.uuid4().hex)
        if staged is None:
            # no row above the checkpoint: an empty batch or a full replay
            # (decided from the files: a frame with no partitions may
            # report no observed row at all)
            return ckpt if ckpt is not None else Checkpoint(-1, None, None)
        try:
            bounds = Row(**obs.get)
            if not force and ckpt is not None and bounds.lo > ckpt.height + 1:
                # reference isNextBlock (write.go:331-347): lastHeight must
                # be >= writeHeight - 1 — otherwise there is a hole.
                raise WriteConsistencyError(
                    f"hole detected: batch starts at height {bounds.lo} but "
                    f"checkpoint is at {ckpt.height}"
                )
            self._write_meta()
        except BaseException:
            self._backend.discard(staged)
            raise
        self._backend.commit(
            staged,
            bounds,
            shard,
            advance=lambda: self._write_checkpoint(
                bounds.hi, bounds.block_id, bounds.block_num, shard
            ),
        )
        return Checkpoint(bounds.hi, bounds.block_id, bounds.block_num)

    def _write_meta(self) -> None:
        """Record the physical layout (band size, file format) once, when
        the first batch passes the height guard."""
        meta_path = os.path.join(self.root, "_meta.json")
        if os.path.exists(meta_path):
            return
        _replace_json(
            meta_path,
            {
                "height_band": self.height_band,
                "data_format": self._backend.data_format,
            },
        )

    def _maybe_size_stats(self, rows: DataFrame) -> None:
        """Per-tablet write-size observability (reference write.go:274-329,
        gated by the same STATEDB_SIZE_STATS env var): when enabled, each
        batch logs its top-5 tablets by logical bytes (key + value octet
        lengths, the same quantity the reference sums per WriteRequest).
        Opt-in because it costs one extra aggregation job over the batch
        plan; the result is also kept on `last_write_stats` for tooling."""
        if not os.environ.get(SIZE_STATS_ENV):
            self.last_write_stats = None
            return
        top = (
            rows.groupBy("collection", "tablet_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(
                    F.coalesce(F.octet_length("value"), F.lit(0))
                    + F.coalesce(F.octet_length("primary_key"), F.lit(0))
                ).alias("bytes"),
            )
            .orderBy(F.desc("bytes"), "tablet_id")
            .limit(5)
            .collect()
        )
        self.last_write_stats = [
            {
                "collection": r.collection,
                "tablet_id": r.tablet_id,
                "rows": int(r.rows),
                "bytes": int(r.bytes),
            }
            for r in top
        ]
        for s in self.last_write_stats:
            _log.info(
                "write size stats: collection=%s tablet=%s rows=%d bytes=%d",
                s["collection"], s["tablet_id"], s["rows"], s["bytes"],
            )

    def recover(self) -> int:
        """Roll back torn batches and heal interrupted maintenance swaps;
        called at open and safe to call anytime. The mechanics live with
        the backend (FileChangelogBackend.recover); this class supplies
        the two semantic inputs — which batches are committed (their `hi`
        reached the shard's checkpoint) and which writer leases are still
        fresh (live writers whose in-flight batches must not be rolled
        back)."""
        return self._backend.recover(self.checkpoint, self._lease_is_fresh)

    # --- maintenance -------------------------------------------------------

    def _refuse_pending_batch(self, doing: str) -> None:
        """Maintenance never runs over an in-flight batch (a pending
        manifest): rewriting or dropping a band would orphan that
        manifest's rollback targets."""
        if self._backend._has_pending_batch():
            raise WriteConsistencyError(
                f"pending write manifest: run recover() before {doing}"
            )

    def retention_horizon(self) -> int:
        """First height with full history (0 until expire_bands runs)."""
        path = os.path.join(self.root, "_retention.json")
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return int(json.load(f)["horizon"])

    def expire_bands(self, before_height: int) -> dict:
        """Retention via checkpoint-and-truncate — the job that BOUNDS
        total storage at 100 TB (compaction shrinks file counts, not
        history; without this the changelog grows without limit).

        Whole bands strictly below the horizon band are first FOLDED to
        their live tail — the latest non-deleted version of every key
        written in the doomed region, values included, original heights
        preserved — and the tail is rebased into the first retained band's
        directory before the doomed bands are dropped (the log-compaction
        construction). Every read at or above the horizon then
        reconstructs EXACTLY, plain `state_at` included: unlike the
        pointer-only tablet index (pk -> height, resolved by joining back
        into the changelog — which is precisely why index coverage cannot
        license history deletion), the rebased rows carry their values.
        Superseded-by-retained tails are harmless: last-write-wins folds
        ignore them. What is deliberately given up is time travel below
        the horizon — bounded reads below it raise, and `changelog()`
        records the horizon in `_retention.json`.

        Granularity is the band (a partially-doomed band is never
        touched). Crash shape: tail files land under deterministic
        `rebase-h<hmax>-` names and a re-run first clears them, so the
        job is idempotent; a crash between rebase and drop leaves
        duplicate rows that LWW reads absorb and the re-run removes."""
        with self._writer_lease("maintenance", drain_others=True):
            return self._expire_bands_locked(before_height)

    def _expire_bands_locked(self, before_height: int) -> dict:
        self._refuse_pending_batch("expiring")
        horizon_band = before_height // self.height_band
        horizon = horizon_band * self.height_band
        hmax = horizon - 1
        per_coll: dict[str, list[str]] = {}
        n_bands = 0
        for coll_entry in sorted(os.scandir(self._data_dir), key=lambda e: e.path):
            if not coll_entry.is_dir() or "=" not in coll_entry.name:
                continue
            coll = coll_entry.name.split("=", 1)[1]
            for band_entry in os.scandir(coll_entry.path):
                if not band_entry.is_dir() or "=" not in band_entry.name:
                    continue
                if int(band_entry.name.split("=", 1)[1]) < horizon_band:
                    per_coll.setdefault(coll, []).append(band_entry.path)
                    n_bands += 1
        if not per_coll:
            return {"bands_dropped": 0, "rows_dropped": 0, "rows_rebased": 0}

        rows_doomed = 0
        rows_rebased = 0
        cleared_rel: list[str] = []
        for coll, paths in sorted(per_coll.items()):
            doomed_df = self._backend._read(*paths)
            n_doomed = doomed_df.count()
            rows_doomed += n_doomed
            cols = doomed_df.columns
            tail = (
                doomed_df.groupBy("tablet_id", "primary_key")
                .agg(
                    F.max_by(F.struct(*cols), F.col("height")).alias("_v")
                )
                .select("_v.*")
                .filter(~F.col("is_deletion"))
            )
            # file sizing like write_batch: the live tail is bounded by the
            # doomed row count, so a huge expired region still writes
            # through many tasks, clustered by tablet for later pruning
            n_out = _n_files(n_doomed)
            target = os.path.join(
                self._data_dir,
                f"collection={coll}",
                f"height_band={horizon_band}",
            )
            os.makedirs(target, exist_ok=True)
            # idempotent re-run: clear a previous (possibly torn) rebase.
            # A previous COMPLETED expire logged those files as adds, so
            # they join the rewrite commit's remove list below
            for f in os.listdir(target):
                if f.startswith(f"rebase-h{hmax}-"):
                    cleared_rel.append(
                        self._backend._rel(os.path.join(target, f))
                    )
                    os.remove(os.path.join(target, f))
            tmp = os.path.join(
                self._staging_dir, f"rebase-{uuid.uuid4().hex}"
            )
            self._backend._write_clustered(tail, n_out, tmp)
            for src in self._backend._data_files(tmp):
                os.rename(
                    src,
                    os.path.join(
                        target, f"rebase-h{hmax}-{os.path.basename(src)}"
                    ),
                )
            shutil.rmtree(tmp, ignore_errors=True)
        # count the rebased tail (cheap: it is the live-key set)
        add_rel: list[str] = []
        remove_rel: list[str] = []
        for coll, _paths in sorted(per_coll.items()):
            target = os.path.join(
                self._data_dir,
                f"collection={coll}",
                f"height_band={horizon_band}",
            )
            rebase_files = [
                os.path.join(target, f)
                for f in os.listdir(target)
                if f.startswith(f"rebase-h{hmax}-")
            ]
            add_rel.extend(self._backend._rel(p) for p in rebase_files)
            if rebase_files:
                rows_rebased += self._backend._read(*rebase_files).count()
        for _coll, paths in per_coll.items():
            for p in paths:
                remove_rel.extend(
                    self._backend._rel(f) for f in self._backend._data_files(p)
                )
                shutil.rmtree(p, ignore_errors=True)
        _replace_json(
            os.path.join(self.root, "_retention.json"), {"horizon": horizon}
        )
        # the truncation is a rewrite commit: it raises the time-travel
        # floor (history below the horizon is gone by design). A crash
        # before this claim leaves the floor too low; reads of the gap
        # then fail loudly on the missing files rather than lying.
        self._backend.commit_log.claim(
            {
                "action": "rewrite",
                "kind": "expire",
                "horizon": horizon,
                "add": add_rel,
                "remove": remove_rel + cleared_rel,
            }
        )
        return {
            "bands_dropped": n_bands,
            "rows_dropped": rows_doomed - rows_rebased,
            "rows_rebased": rows_rebased,
        }

    def fsck(self, remove_orphans: bool = False) -> dict:
        """Consistency check between the commit log and the bytes on disk
        (the fsck + VACUUM pair a transactional format ships natively):

        - **missing** — files the latest commit version references but
          the disk lacks. Real corruption (or an out-of-band delete):
          reported, never repaired silently, because the rows are gone.
        - **orphans** — on-disk data files no commit references and no
          in-flight manifest claims. The write protocol never produces
          these itself (every crash path rolls back, crash-fuzzed in
          TestDMLCrashRecovery / TestExactlyOnceCommit); they are debris
          from out-of-band copies or interrupted external tooling. They
          are NOT harmless: the committed relation's no-writer fast path
          is a directory scan, so debris rows LEAK INTO READS — fsck is
          the detector, and `remove_orphans=True` the repair, run under
          the maintenance lease (writers drained) so a racing append
          can't be mistaken for debris.

        Bounded work: one directory walk + one commit-log resolution
        (O(entries since the log checkpoint)); no data is read.

        Concurrency: the walk runs first and the commit log is resolved
        AFTER it, so every commit whose files the walk could have seen is
        covered by `expected` — an append landing mid-walk is never a
        false orphan. Both candidate lists are re-stat'd before being
        reported (a file a concurrent rewrite vacuumed mid-walk is not
        debris; a file that reappears was committed mid-walk, not
        missing)."""
        self.recover()
        actual = set(self._backend._data_files())
        latest = self._backend.commit_log.latest_version()
        expected = (
            set(self._backend.files_at_version(latest))
            if latest > 0
            else set()
        )
        inflight = self._backend._uncommitted_targets(self.checkpoint)
        orphans = sorted(
            p for p in actual - expected - inflight if os.path.exists(p)
        )
        missing = sorted(
            p for p in expected - actual if not os.path.exists(p)
        )
        removed = 0
        if remove_orphans and orphans:
            removed_paths: set[str] = set()
            with self._writer_lease("maintenance", drain_others=True):
                # re-scan under the lease: an append that committed
                # between the scan and the drain is not debris
                latest = self._backend.commit_log.latest_version()
                expected = (
                    set(self._backend.files_at_version(latest))
                    if latest > 0
                    else set()
                )
                inflight = self._backend._uncommitted_targets(
                    self.checkpoint
                )
                for path in orphans:
                    if path in expected or path in inflight:
                        continue
                    try:
                        os.remove(path)
                        removed_paths.add(path)
                    except FileNotFoundError:
                        pass  # vanished on its own; exists() filter below
            removed = len(removed_paths)
            # report only debris that is still on disk: a removed path
            # is repaired, not remaining
            orphans = sorted(
                p
                for p in set(orphans) - removed_paths - expected - inflight
                if os.path.exists(p)
            )
        return {
            "orphans": orphans,
            "missing": missing,
            "removed": removed,
        }

    def compact(
        self,
        target_rows_per_file: int = TARGET_FILE_ROWS,
        min_files: int = 4,
        zorder: bool = False,
    ) -> dict:
        """Coalesce small files within each (collection, height_band)
        partition — the OPTIMIZE/auto-compaction analog this parquet store
        otherwise lacks (the reference amortizes via KV write batching;
        here many streaming `write_batch` flushes land many tiny files,
        and at 100 TB the scan-time file listing becomes the bottleneck).

        Per-band write-then-swap through the store's one journaled swap
        (`FileChangelogBackend._swap_band` over `_journaled_swap`): the
        replacement directory is fully written under _staging/, a swap
        journal is recorded in _manifests/, and two atomic renames
        exchange the band. A reader sees either the old band or the new
        one — the only exposure is the microsecond gap between the
        renames, and a crash anywhere is healed by recover() (complete
        if the new band was staged, else roll back; see _settle_swap).
        Rows are re-clustered by tablet_id and height-sorted, restoring
        the row-group pruning layout of a single large batch. The
        checkpoint protocol is untouched — compaction moves no height
        boundaries.

        Refuses to run over an in-flight batch (pending manifest) since
        rewriting a band would orphan that manifest's rollback targets.

        With `zorder=True`, rows within each band are laid out along a
        Morton (Z-order) curve over per-tablet (primary_key, height) rank
        bins instead of the linear (tablet_id, height) sort. The linear
        sort gives perfect zone-map pruning for height-band scans but
        leaves primary_key min/max wide in every file, so a singlet read
        (tablet + key + height <= H) still touches every file of the
        tablet; the Z-curve tightens BOTH columns' per-file ranges at
        once, so height scans stay prunable and key probes skip most
        files — the layout trade Delta's OPTIMIZE ZORDER BY makes, rebuilt
        here from rank-ntile + bit-interleave expressions. Rank bins (not
        raw values) make the curve immune to skew in either column.
        """
        with self._writer_lease("maintenance", drain_others=True):
            return self._compact_locked(target_rows_per_file, min_files, zorder)

    def _compact_locked(
        self, target_rows_per_file: int, min_files: int, zorder: bool = False
    ) -> dict:
        self._refuse_pending_batch("compacting")
        stats = {"bands": 0, "files_before": 0, "files_after": 0}
        for coll_entry in sorted(os.scandir(self._data_dir), key=lambda e: e.path):
            if not coll_entry.is_dir():
                continue
            for band_entry in sorted(
                os.scandir(coll_entry.path), key=lambda e: e.path
            ):
                if not band_entry.is_dir():
                    continue
                n_files = len(self._backend._data_files(band_entry.path))
                if n_files < min_files:
                    continue
                # reading the band dir directly (no basePath) yields the
                # file columns only — exactly what partitionBy wrote
                band_df = self._backend._read(band_entry.path)
                n_rows = band_df.count()
                n_out = max(1, -(-n_rows // target_rows_per_file))
                if zorder:
                    z = band_df.withColumn(
                        "_z", _zorder_key("primary_key", "height")
                    )
                    rewritten = (
                        z.repartitionByRange(n_out, "tablet_id", "_z")
                        if n_out > 1
                        else z.coalesce(1)
                    ).sortWithinPartitions("tablet_id", "_z").drop("_z")
                    write = partial(
                        self._backend._write, rewritten.write.mode("overwrite")
                    )
                else:
                    write = partial(
                        self._backend._write_clustered, band_df, n_out
                    )
                files_after = self._backend._swap_band(
                    band_entry.path, "compact", write
                )
                stats["bands"] += 1
                stats["files_before"] += n_files
                stats["files_after"] += files_after
        # maintenance also snapshots the commit log (Delta-checkpoint
        # analog) so time-travel resolution stays O(entries since the
        # snapshot) on a long-lived store
        self._backend.commit_log.checkpoint_log()
        return stats

    def file_layout_stats(self, collection: str) -> list[dict]:
        """Per-data-file zone maps (min/max per column, folded across row
        groups) read straight from the parquet footers — the statistics a
        scan's file- and row-group-skipping decisions are made from. The
        ops tool for judging a layout: after `compact(zorder=True)`, a
        (primary_key, height) point probe should admit a small fraction
        of files; the linear layout admits every file of the tablet."""
        out: list[dict] = []
        coll_dir = os.path.join(self._data_dir, f"collection={collection}")
        if not os.path.isdir(coll_dir):
            return out
        for band in sorted(os.listdir(coll_dir)):
            band_path = os.path.join(coll_dir, band)
            if not os.path.isdir(band_path):
                continue
            for fn in sorted(os.listdir(band_path)):
                if not self._backend._is_data_file(fn):
                    continue
                md = pq.ParquetFile(os.path.join(band_path, fn)).metadata
                cols: dict[str, tuple] = {}
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            continue
                        name = col.path_in_schema
                        lo, hi = st.min, st.max
                        if name in cols:
                            cols[name] = (
                                min(cols[name][0], lo),
                                max(cols[name][1], hi),
                            )
                        else:
                            cols[name] = (lo, hi)
                out.append(
                    {
                        "band": band,
                        "file": fn,
                        "rows": md.num_rows,
                        "stats": cols,
                    }
                )
        return out

    # --- physical DML (copy-on-write rewrites) -----------------------------

    def delete_where(self, condition) -> dict:
        """Physical DELETE across ALL history — the user-level form of the
        reference's `Batch.PurgeRow` (store/store.go:40-45, which it only
        exercises internally for index pruning, indexing.go:378),
        generalized to an arbitrary predicate. This is the GDPR / corrupt-
        range tool: unlike a tombstone (which hides a key from reads at
        or above its height but leaves every older version on disk), this
        REWRITES the bands holding matching rows so the bytes are gone.

        `condition` is a SQL boolean expression (or a Column) over the
        changelog columns (collection, tablet_id, height, primary_key,
        value, is_deletion, block_id, block_num). Copy-on-write at band
        granularity: only bands that actually contain matching rows are
        rewritten (everything else is untouched, file-identical), each
        through the same journaled swap as compact (`_swap_band` over
        `_journaled_swap`) — a crash anywhere is healed by recover(),
        and each swap lands as a `rewrite` commit in the history log.
        Checkpoints are untouched (no height boundaries move). Snapshot
        indexes that referenced purged keys stay consistent for reads
        (the join-back finds no row) but callers deleting heavily should
        reindex afterwards."""
        with self._writer_lease("maintenance", drain_others=True):
            return self._rewrite_where_locked(condition, "purge", None)

    def redact_where(self, condition, value_expr: str) -> dict:
        """Physical UPDATE of `value` for matching rows across ALL history
        — in-place PII redaction: every version of a matching row gets its
        value REWRITTEN to `value_expr` (a SQL expression, cast to the
        schema's value type; e.g. `'[REDACTED]'` or a
        `regexp_replace(value, ...)` over the old value). Same
        copy-on-write band machinery as
        delete_where; row count, heights, and checkpoints unchanged."""
        with self._writer_lease("maintenance", drain_others=True):
            return self._rewrite_where_locked(condition, "redact", value_expr)

    def purge_key(
        self, collection: str, tablet_id: str, primary_key: str
    ) -> dict:
        """Erase one primary key's entire version history (delete_where
        specialization — the exact PurgeRow shape)."""
        cond = (
            (F.col("collection") == F.lit(collection))
            & (F.col("tablet_id") == F.lit(tablet_id))
            & (F.col("primary_key") == F.lit(primary_key))
        )
        return self.delete_where(cond)

    def _rewrite_where_locked(self, condition, kind: str, value_expr) -> dict:
        self._refuse_pending_batch("rewriting")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        df = self._backend.committed_relation(_READ_SCHEMA, self.checkpoint)
        stats = {"kind": kind, "bands_rewritten": 0, "rows_matched": 0}
        if df is None:
            return stats
        # band-level pruning: one aggregation finds the (collection, band)
        # partitions that actually hold matching rows — bounded by the
        # partition count, never the row count
        affected = (
            df.filter(cond)
            .groupBy("collection", "height_band")
            .agg(F.count(F.lit(1)).alias("matched"))
            .collect()
        )
        for row in sorted(affected, key=lambda r: (r.collection, r.height_band)):
            band_path = os.path.join(
                self._data_dir,
                f"collection={row.collection}",
                f"height_band={int(row.height_band)}",
            )
            band_df = self._backend._read(band_path).withColumns(
                {
                    "collection": F.lit(row.collection),
                    "height_band": F.lit(int(row.height_band)).cast("long"),
                }
            )
            if kind == "purge":
                out = band_df.filter(~F.coalesce(cond, F.lit(False)))
            else:
                value_type = CHANGELOG_SCHEMA["value"].dataType.simpleString()
                out = band_df.withColumn(
                    "value",
                    F.when(
                        F.coalesce(cond, F.lit(False)),
                        F.expr(value_expr).cast(value_type),
                    ).otherwise(F.col("value")),
                )
            out = out.drop("collection", "height_band")
            n_out = _n_files(out.count())
            self._backend._swap_band(
                band_path,
                kind,
                partial(self._backend._write_clustered, out, n_out),
            )
            stats["bands_rewritten"] += 1
            stats["rows_matched"] += int(row.matched)
        return stats

    # --- read path ---------------------------------------------------------

    def changelog(
        self,
        max_height: int | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """The canonical change-log relation over everything durable AND
        committed (uncommitted manifest targets are excluded by the
        backend's committed_relation — snapshot isolation against
        in-flight writers; the common no-writer case costs one directory
        listing and keeps the plain directory scan).

        `max_height` bounds the read: the band predicate is a PARTITION
        filter (whole directories skipped before any file I/O — the scan
        shape that keeps a height-H read O(H) instead of O(history) on a
        100 TB log), and the row predicate handles the partial band at the
        boundary. Only the store can add the band predicate, because only
        it knows the band size — callers just pass the height.

        `at_version` is COMMIT-level time travel (orthogonal to the
        height axis, which is the data model's own time): the relation
        exactly as of commit version V from `history()` — e.g. the store
        as it stood before yesterday's backfill batch, regardless of the
        heights it covered. Resolved from the backend's commit log;
        versions below the newest rewrite commit (compact / expire / DML)
        are refused because rewrites vacuum replaced files eagerly."""
        if max_height is not None:
            self._check_horizon(max_height)
        if at_version is not None:
            df = self._backend.relation_at_version(_READ_SCHEMA, at_version)
        else:
            df = self._backend.committed_relation(_READ_SCHEMA, self.checkpoint)
        if df is None:
            return local_frame(self.spark, [], CHANGELOG_SCHEMA)
        if max_height is not None:
            df = df.filter(
                (F.col("height_band") <= max_height // self.height_band)
                & (F.col("height") <= max_height)
            )
        return df.drop("height_band")

    def _check_horizon(self, max_height: int) -> None:
        horizon = self.retention_horizon()
        if max_height < horizon:
            raise WriteConsistencyError(
                f"read at height {max_height} is below the retention "
                f"horizon {horizon}: that history was expired"
            )

    def point_scan(
        self,
        tablet_id: str,
        max_height: int | None = None,
        primary_key: str | None = None,
        collection: str | None = None,
    ) -> ds.Scanner:
        """The committed rows of one tablet (optionally one key, one
        collection, at or below `max_height`) as a driver-side Arrow
        scan: no Spark job. The paper's point reads are one range seek in
        a sorted KV store; the columnar analog reads the committed files
        (`committed_files`: pending batch targets stay invisible). The
        band bound and the collection are resolved from the Hive path, so
        files outside them are never opened; the tablet / key / height
        predicates prune row groups by their min/max statistics. pyarrow
        reads no parquet bloom filter: those serve Spark's scans.

        A bounded read below the retention horizon raises, exactly as
        `changelog(max_height=)` does."""
        where = ds.field("tablet_id") == tablet_id
        if max_height is not None:
            self._check_horizon(max_height)
            where &= (
                ds.field("height_band") <= max_height // self.height_band
            ) & (ds.field("height") <= max_height)
        if primary_key is not None:
            where &= ds.field("primary_key") == primary_key
        if collection is not None:
            where &= ds.field("collection") == collection
        return ds.dataset(
            self._backend.committed_files(self.checkpoint),
            schema=_READ_ARROW_SCHEMA,
            format=self._backend.data_format,
            partitioning=_PARTITIONING,
            partition_base_dir=self._data_dir,
        ).scanner(filter=where)

    def point_versions(
        self,
        tablet_id: str,
        max_height: int,
        primary_key: str | None = None,
        collection: str | None = None,
    ) -> pa.Table:
        """Every committed version of one tablet (or of one key in it)
        at or below `max_height`, read on the driver (see `point_scan`)."""
        return self.point_scan(
            tablet_id, max_height, primary_key, collection
        ).to_table()

    def appended_between(
        self, after_version: int, up_to: int | None = None
    ) -> DataFrame:
        """Incremental read (the Delta CDF / `table_changes(v1, v2)`
        analog): the rows appended by append commits in
        (after_version, up_to], read from EXACTLY those commits' added
        files — O(delta), never O(store). This is the batch twin of the
        streaming CDC follower (streaming/follow.py): a consumer that
        checkpoints a commit version refreshes with one bounded read
        instead of re-scanning a 100 TB log.

        Same loud-refusal contract as commit time travel: a range the
        commit log cannot read as a delta (`CommitLog.appends_between`:
        it holds an expire / DML rewrite, or a rewrite vacuumed one of
        its append files) or that reaches into the pruned entry region
        raises — it never silently returns partial rows. Compactions of
        files outside the range are fine: they append no logical rows
        and are skipped."""
        log = self._backend.commit_log
        delta = log.appends_between(after_version, up_to)
        if delta is None:
            floor = max(
                e["version"]
                for e in log.entries(after=after_version)
                if e.get("action") == "rewrite"
            )
            raise WriteConsistencyError(
                f"incremental read from version {after_version} crosses "
                f"rewrite commit {floor}: appended files below a rewrite "
                "are re-placed or vacuumed — re-sync from changelog() "
                "instead"
            )
        _top, files = delta
        if not files:
            return local_frame(self.spark, [], CHANGELOG_SCHEMA)
        return read_changelog_files(self.spark, self.root, files)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per commit, in version order —
        every append batch, compaction/DML band swap, and retention
        truncation across all processes and shards, as recorded by the
        backend's optimistically-claimed commit log."""
        rows = [
            (
                e["version"],
                e.get("action"),
                e.get("kind"),
                e.get("shard"),
                e.get("hi"),
                len(e.get("add", ())),
                len(e.get("remove", ())),
                bool(e.get("healed", False)),
                float(e.get("ts", 0.0)),
            )
            for e in self._backend.commit_log.entries()
        ]
        return local_frame(self.spark, rows, _HISTORY_SCHEMA)

    def latest_commit_version(self) -> int:
        return self._backend.commit_log.latest_version()

    def is_empty(self) -> bool:
        return self.checkpoint() is None and not any(
            True for _ in os.scandir(self._data_dir)
        )


class IndexStore:
    """Durable home of the tablet-index relation (TABLET_INDEX_SCHEMA) +
    the physical prune job (reference PruneTabletIndexes, indexing.go:
    329-398, which deletes superseded snapshots via batch.PurgeRow).

    Append-only parquet like the changelog; pruning is a copy-on-write
    rewrite — retained rows land in a fresh directory that atomically
    replaces the old one, the parquet analog of the reference's in-place
    KV deletes (and the same shape a Delta/Iceberg `DELETE` would take).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._dir = os.path.join(root, "tablet_index")
        self._journal = os.path.join(root, "_index_swap.json")
        self._recover_swap()
        os.makedirs(self._dir, exist_ok=True)

    def _recover_swap(self) -> None:
        """Heal a prune() that crashed mid-swap with `_settle_swap`
        (complete with the staged rewrite if it exists, else roll the old
        index back), then drop the journal and every side directory left:
        a swap that crashed before its journal landed leaves an
        unreferenced `tablet_index.rewrite-*` and journal temp. One
        maintainer owns an index root (its single journal assumes it), so
        no live swap can own them. Without this, a mid-swap crash
        silently dropped every index snapshot (reads fell back to the
        full fold — correct but unindexed — and the stranded directories
        leaked disk)."""
        m = _read_journal(self._journal)
        if m is not None:
            _settle_swap(self._dir, m.get("new", ""), m.get("old", ""))
        _discard_file(self._journal)
        _discard_file(self._journal + ".tmp")
        if not os.path.isdir(self._dir):
            return  # no index to fall back to: keep any side directory
        base = os.path.basename(self._dir)
        for name in os.listdir(self.root):
            if name.startswith((base + ".rewrite-", base + ".old-")):
                shutil.rmtree(
                    os.path.join(self.root, name), ignore_errors=True
                )

    # flag threshold for an index snapshot that has grown heavy enough to
    # hurt write amplification (reference indexing.go:477-480's 25 MB
    # "index singlet pretty heavy" warning)
    BIG_INDEX_BYTES = 25 * 1000 * 1000

    def write(self, index_df: DataFrame) -> int:
        """Append freshly built snapshot rows (build_tablet_index output)
        and return how many were written — summed from the footers of the
        files this write created, so the caller needs no read-back job.

        Warns when the write lands more than BIG_INDEX_BYTES on disk —
        the reference's "index singlet pretty heavy" guard (indexing.go:
        477-480): a huge snapshot means every future incremental build
        rewrites it wholesale, and the operator should consider pruning
        or splitting the tablet. The delta is measured by sizing ONLY the
        files this write created (name-diff of the flat parquet dir) —
        the reference checks the written value's size, and stat-ing the
        whole store would make every snapshot append O(total index
        files)."""
        before = (
            set(os.listdir(self._dir)) if os.path.isdir(self._dir) else set()
        )
        index_df.write.mode("append").parquet(self._dir)
        new = [fn for fn in os.listdir(self._dir) if fn not in before]
        added = 0
        for fn in new:
            try:
                added += os.path.getsize(os.path.join(self._dir, fn))
            except OSError:
                pass
        if added > self.BIG_INDEX_BYTES:
            _log.warning(
                "index snapshot pretty heavy: wrote %d bytes "
                "(threshold %d) to %s",
                added,
                self.BIG_INDEX_BYTES,
                self._dir,
            )
        return sum(
            pq.ParquetFile(os.path.join(self._dir, fn)).metadata.num_rows
            for fn in new
            if fn.endswith(".parquet")
        )

    def read(self) -> DataFrame:
        from fluxdb_spark.schema import TABLET_INDEX_SCHEMA

        try:
            # an empty directory reads as empty under the fixed schema
            return self.spark.read.schema(TABLET_INDEX_SCHEMA).parquet(
                self._dir
            )
        except AnalysisException:
            # no index directory: everything else — a corrupt file —
            # must surface, or prune/reindex would act on an empty index
            # and indexed reads would silently fall back
            return local_frame(self.spark, [], TABLET_INDEX_SCHEMA)

    def prune(self, prune_frequency: int) -> int:
        """I6 maintenance — physically remove superseded snapshots, keeping
        `prune_indexes`' retained set. Returns the number of snapshot
        (collection, tablet_id, snapshot_height) groups deleted.

        Write-then-swap through the store's one journaled swap
        (`_journaled_swap`, with no post-swap step): retained rows are
        fully written to a side directory before the old one is replaced,
        so a crash leaves either the old or the new index complete —
        reads never see a half-pruned relation. The swap is journaled
        (_index_swap.json) before the renames, and the next open
        completes or rolls it back (see _recover_swap).
        """
        from fluxdb_spark.operators.snapshot import prune_indexes

        current = self.read()
        keys = ["collection", "tablet_id", "snapshot_height"]
        before = current.select(*keys).distinct().count()
        retained = prune_indexes(current, prune_frequency)
        after = retained.select(*keys).distinct().count()
        if after == before:
            return 0
        self._rewrite_swap(retained)
        return before - after

    def _rewrite_swap(self, replacement: DataFrame) -> None:
        """Journaled copy-on-write replacement of the whole index
        relation: `_journaled_swap` through `tablet_index.rewrite-<id>`
        and `.old-<id>` siblings; a crash anywhere is healed by
        _recover_swap."""
        swap_id = uuid.uuid4().hex
        _journaled_swap(
            self._dir,
            self._dir + f".rewrite-{swap_id}",
            self._dir + f".old-{swap_id}",
            self._journal,
            replacement.write.mode("overwrite").parquet,
            lambda fname: fname.endswith(".parquet"),
        )

    def reindex(
        self,
        changelog: DataFrame,
        height: int,
        lower_bound: str | None = None,
        dry_run: bool = False,
    ) -> dict:
        """I4 — bulk re-index (reference ReindexTablets, indexing.go:
        100-168): rebuild every STORED snapshot at-or-below `height` from
        the changelog, replacing the stored rows wholesale — the repair
        tool for indexes corrupted by a bug or left stale by heavy DML
        (delete_where rewrites bands but not indexes).

        `lower_bound` restricts to tablet_ids >= it (the reference's
        resume cursor for chunked re-index runs). With `dry_run=True`,
        nothing is written: the report carries what WOULD be rebuilt —
        `tablet_count`, `index_count` (the reference's two return values)
        plus the per-tablet snapshot heights — so an operator can size a
        run before paying for it.

        Scale shape: the entry scan is O(distinct snapshots) driver rows;
        each rebuild is the standard build_tablet_index fold (height-
        bounded, partition-pruned); the rewrite lands through the same
        journaled swap as prune()."""
        current = self.read()
        scoped = current.filter(F.col("snapshot_height") <= F.lit(height))
        if lower_bound is not None:
            scoped = scoped.filter(F.col("tablet_id") >= F.lit(lower_bound))
        entries = sorted(
            (r.collection, r.tablet_id, r.snapshot_height)
            for r in scoped.select(
                "collection", "tablet_id", "snapshot_height"
            )
            .distinct()
            .collect()  # O(snapshots)
        )
        plan: dict[tuple[str, str], list[int]] = {}
        for coll, tablet, h in entries:
            plan.setdefault((coll, tablet), []).append(h)
        report = {
            "tablet_count": len(plan),
            "index_count": len(entries),
            "entries": {
                f"{coll}/{tablet}": heights
                for (coll, tablet), heights in plan.items()
            },
            "dry_run": dry_run,
        }
        if dry_run or not entries:
            return report
        from fluxdb_spark.operators.snapshot import build_tablet_index

        rebuilt = None
        for (coll, tablet), heights in plan.items():
            for h in heights:
                idx = build_tablet_index(
                    changelog, tablet, h, collection=coll
                )
                rebuilt = idx if rebuilt is None else rebuilt.unionByName(idx)
        untouched = current.join(
            local_frame(
                self.spark,
                entries,
                T.StructType(
                    [
                        T.StructField("collection", T.StringType()),
                        T.StructField("tablet_id", T.StringType()),
                        T.StructField("snapshot_height", T.LongType()),
                    ]
                ),
            ),
            on=["collection", "tablet_id", "snapshot_height"],
            how="left_anti",
        )
        self._rewrite_swap(untouched.unionByName(rebuilt))
        return report
