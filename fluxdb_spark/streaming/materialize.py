"""Incrementally-maintained derived tables over a ChangelogStore (IVM).

A serving dashboard over a 100 TB changelog cannot re-scan the log to
refresh "rows per collection" or "max height per tablet" — the refresh
must cost O(newly committed rows) + O(aggregate table), not O(history).
This module keeps a small aggregate table continuously up to date from
the store's commit log, the materialized-view half of what the CDC
follower (streaming/follow.py) provides as a raw row feed.

Every derived table (these aggregates and the row-wise retrieval tables
of streaming/retrieval.py) keeps three rules, each implemented once here:

- **State file.** `<dest>/_mat_state.json` holds the applied-version
  floor (plus `format` on the row-wise tables); `_read_state` is its one
  reader and `_write_state` its one writer. A missing file means "no
  state yet". An unparsable one, or one without `applied_version`,
  raises ValueError ("unreadable or corrupt"): read as empty, it would
  hide every row and make the next catch-up fold the whole log again.
- **Sidecars.** Trained models and cached stats live at the SIBLING
  `<dest>._<kind>.json` (`_sidecar_path`; kinds `centroids`, `pq_books`,
  `bpe_merges`, `stats`), never inside dest: a rebuild or compaction
  replaces dest wholesale, and a model inside would vanish, so the next
  run would train a second one and split the table between two models.
  `_recover` scans the `<dest>.` prefix but drops only `.old-` / `.tmp-`
  siblings. A missing sidecar reads as None and a corrupt one raises,
  as for the state file (`_load_json`).
- **Catch-up loop** (`_catch_up`): floor -> `CommitLog.latest_version`
  -> `CommitLog.appends_between` -> rebuild from the time-travel read at
  `top` when the log cannot serve the delta, else fold only the delta's
  files. A table kind supplies just its rebuild and its fold. The
  continuous maintainers (`_maintain`) use the commit stream only as a
  trigger for the same loop, so a one-shot refresh and a streaming
  maintainer leave identical tables.

State and sidecars are written through `store._replace_json`.

Exactly-once is anchored to COMMIT VERSIONS, not stream batch ids: the
applied-version floor travels INSIDE the aggregate table directory
(`_mat_state.json`, swapped atomically with the data), so losing or
resetting the stream checkpoint merely redelivers entries the floor
already excludes — redelivery changes nothing, which the tests prove by
deleting the checkpoint outright. The table swap (`_swap_table`, shared
with the retrieval tables' rebuild and compaction) is journal-free but
recoverable: write `<dest>.tmp-*` -> rename current away to
`<dest>.old-*` -> rename tmp in -> drop old, with `_recover` completing
or rolling back a crash at any point from the sibling names alone. The
store's band swaps and index prune are the journaled protocol instead
(`store._journaled_swap`): their replacement is staged away from the
target's siblings and a journal names it before the renames.

Only algebraic aggregates can merge partial results (sum of sums, min
of mins, max of maxes; counts merge as sums) — the same restriction any
incremental/streaming aggregation has. Non-algebraic aggregates
(median, exact distinct) need the raw feed instead.

One maintainer per aggregate table: the table swap assumes a single
maintenance stream owns `dest` (exactly like a single streaming query
owns its checkpoint). Run one `materialize_aggregate` query per dest;
concurrent maintainers would race the swap renames.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluxdb_spark.store import (
    ChangelogStore,
    CommitLog,
    _replace_json,
    read_changelog_files,
)
from fluxdb_spark.streaming.follow import stream_commits

_MERGE = {"sum": F.sum, "min": F.min, "max": F.max}

# sibling directories older than this can't belong to a healthy in-flight
# swap or write; they are crash leftovers and safe to drop on sight
_STALE_S = 300.0


def _state_path(dest: str) -> str:
    # underscore prefix: invisible to Spark's directory scans, so the
    # state rides inside the table dir and swaps atomically with it
    return os.path.join(dest, "_mat_state.json")


def _load_json(path: str, parse=lambda obj: obj):
    """`parse` of the JSON at `path`, or None when there is no file. An
    unreadable or unparsable file, or one `parse` rejects, raises
    ValueError: read as "absent", corrupt state would pass silently."""
    try:
        with open(path) as f:
            return parse(json.load(f))
    except FileNotFoundError:
        return None
    except (OSError, ValueError, KeyError, TypeError, AttributeError) as e:
        raise ValueError(
            f"derived table state {path} is unreadable or corrupt ({e})."
            " Rebuild the table (delete it and its `<dest>._*.json`"
            " sidecars, then re-run refresh / index-retrieval)"
        ) from e


def _read_state(dest: str) -> dict | None:
    return _load_json(
        _state_path(dest),
        lambda s: dict(s, applied_version=int(s["applied_version"])),
    )


def _write_state(dest: str, state: dict) -> None:
    _replace_json(_state_path(dest), state)


def _sidecar_path(dest: str, kind: str) -> str:
    return dest.rstrip("/") + f"._{kind}.json"


def _save_sidecar(dest: str, kind: str, obj) -> None:
    path = _sidecar_path(dest, kind)
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    _replace_json(path, obj)


def _recover(dest: str, grace_s: float = 0.5) -> None:
    """Complete or roll back a torn table swap: a crash between the two
    renames leaves only `<dest>.old-*` (roll the old table back); a crash
    after the second rename leaves a stale old/tmp sibling (drop it).

    A LIVE maintainer swap passes through the exact torn state (dest
    absent, fresh `.old-*` present) for the microseconds between its two
    renames, so a reader racing it must not roll the table back under
    the in-flight rename. Recovery therefore waits up to `grace_s` for
    dest to reappear before treating its absence as a crash, and only
    drops sibling directories when the crash is confirmed or the sibling
    is old enough (`_STALE_S`) that no healthy swap can still own it."""
    parent, base = os.path.dirname(dest) or ".", os.path.basename(dest)
    if not os.path.isdir(parent):
        return
    sibs = [p for p in os.listdir(parent) if p.startswith(base + ".")]
    if not sibs:
        return
    olds = [p for p in sibs if p.startswith(base + ".old-")]
    tmps = [p for p in sibs if p.startswith(base + ".tmp-")]
    crash_confirmed = False
    if not os.path.isdir(dest) and olds:
        deadline = time.monotonic() + grace_s
        while not os.path.isdir(dest) and time.monotonic() < deadline:
            time.sleep(0.01)
        if not os.path.isdir(dest):
            crash_confirmed = True
            try:
                os.rename(os.path.join(parent, olds.pop()), dest)
            except OSError:
                # a concurrent _recover won the rollback rename — dest
                # is (or is about to be) restored; nothing left to do
                pass

    def _stale(p: str) -> bool:
        # staleness keys off the NEWEST mtime anywhere in the sibling
        # tree, not the root: a long rebuild/compaction lands parquet in
        # a commit_hi= subdirectory while the tmp root's mtime stays at
        # creation, and a root-mtime check would rmtree the live staging
        # directory of any write exceeding _STALE_S
        newest = 0.0
        try:
            top = os.path.join(parent, p)
            newest = os.path.getmtime(top)
            for root, dirs, files in os.walk(top):
                for n in dirs + files:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(root, n))
                        )
                    except OSError:
                        pass
        except OSError:
            return False
        return time.time() - newest > _STALE_S

    for p in olds + tmps:
        if crash_confirmed or _stale(p):
            shutil.rmtree(os.path.join(parent, p), ignore_errors=True)


def _swap_table(
    dest: str, df: DataFrame, state: dict, part: str | None = None
) -> None:
    """Replace the table at `dest` with `df` (written under the
    subdirectory `part` when given) plus its state file `state`: write
    `<dest>.tmp-*` -> state file -> rename dest away to `<dest>.old-*` ->
    rename tmp in -> drop old. Readers see the old table or the new one,
    never a mixture; `_recover` heals a crash at any point."""
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(
        tmp if part is None else os.path.join(tmp, part)
    )
    _write_state(tmp, state)
    old = f"{dest}.old-{uuid.uuid4().hex}"
    if os.path.isdir(dest):
        os.rename(dest, old)
    os.rename(tmp, dest)
    shutil.rmtree(old, ignore_errors=True)


def applied_version(dest: str) -> int:
    """The commit version dest has folded (0 = no state yet)."""
    _recover(dest)
    state = _read_state(dest)
    return 0 if state is None else state["applied_version"]


def _catch_up(spark: SparkSession, src_root: str, dest: str, rebuild, fold):
    """The one catch-up loop (module docstring) for the table at `dest`:
    `rebuild(rows, top)` replaces the table with one derived from the
    store's rows at commit version `top`; `fold(rows, floor, top)` adds
    the rows of the append commits in (floor, top]. Returns the
    argument-free catch-up pass."""
    log = CommitLog(src_root)

    def catch_up() -> None:
        # the floor inside the table is the resume point, and the log
        # serves the delta above it
        floor = applied_version(dest)
        top = log.latest_version()
        if top <= floor:
            return
        delta = log.appends_between(floor, top)
        if delta is None:
            # The delta cannot be folded: a non-compacting rewrite
            # (expire / delete_where / redact_where) re-placed or erased
            # rows the table already folded, or a compaction merged
            # away append files not yet folded. Rebuild instead: one
            # commit-level time-travel read at `top` — O(store) once per
            # such rewrite, never a wrong answer. The floor advances to
            # `top`, so later triggers for commits the rebuild covered
            # are no-ops.
            store = ChangelogStore(spark, src_root)
            rebuild(store.changelog(at_version=top), top)
            return
        _top, files = delta
        if not files:
            return  # compactions of already-folded files change nothing
        fold(read_changelog_files(spark, src_root, files), floor, top)

    return catch_up


def _maintain(
    spark: SparkSession,
    src_root: str,
    catch_up,
    checkpoint_dir: str,
    trigger_seconds: float,
):
    """Start a continuous maintainer: every micro-batch of `src_root`'s
    commit stream runs `catch_up()`. The stream is only the trigger; the
    batch's entries are never read. Returns the StreamingQuery."""
    return (
        stream_commits(spark, src_root)
        .writeStream.foreachBatch(lambda _df, _batch_id: catch_up())
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def read_aggregate(spark: SparkSession, dest: str) -> DataFrame | None:
    """The current materialized aggregate (None before the first merge)."""
    _recover(dest)
    if not os.path.isdir(dest):
        return None
    return spark.read.parquet(dest)


def materialize_aggregate(
    spark: SparkSession,
    src_root: str,
    dest: str,
    group_cols: list[str],
    aggs: list[tuple[str, str, str]],
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    pre=None,
):
    """Start the maintenance stream: follow `src_root`'s commit log and
    fold each newly committed append into the aggregate table at `dest`.

    `aggs`: (output_name, sql_expr_over_changelog_rows, merge) triples
    with merge in {sum, min, max} — e.g. ("n_rows", "count(1)", "sum"),
    ("max_height", "max(height)", "max"). Returns the StreamingQuery.

    `pre` (optional): a ROW-WISE DataFrame transform applied to the
    changelog rows before grouping — transform-aggregate IVM (e.g.
    explode a document into bigrams, then count). Applied identically to
    the delta fold and the rebuild path, so the fold stays exact; it
    must be stateless per-row (no aggregation inside), which keeps the
    refresh O(delta rows x fan-out).

    Scale shape per refresh: the delta read touches only the new
    commits' files (O(delta)); the partial aggregate is combine-friendly
    (shuffle carries one row per touched group); the merge joins it
    against the aggregate table, whose size is the number of groups —
    the log itself is never re-read."""
    for _name, _expr, merge in aggs:
        if merge not in _MERGE:
            raise ValueError(
                f"unsupported merge '{merge}': algebraic merges are "
                f"{sorted(_MERGE)}"
            )

    def _aggregate(rows: DataFrame) -> DataFrame:
        if pre is not None:
            rows = pre(rows)
        return rows.groupBy(*group_cols).agg(
            *[F.expr(expr).alias(name) for name, expr, _m in aggs]
        )

    def rebuild(rows: DataFrame, top: int) -> None:
        _swap_table(dest, _aggregate(rows), {"applied_version": top})

    def fold(rows: DataFrame, _floor: int, top: int) -> None:
        part = _aggregate(rows)
        cur = read_aggregate(spark, dest)
        if cur is not None:
            part = (
                cur.select(*group_cols, *[n for n, _e, _m in aggs])
                .unionByName(part)
                .groupBy(*group_cols)
                .agg(
                    *[
                        _MERGE[m](F.col(name)).alias(name)
                        for name, _e, m in aggs
                    ]
                )
            )
        _swap_table(dest, part, {"applied_version": top})

    return _maintain(
        spark,
        src_root,
        _catch_up(spark, src_root, dest, rebuild, fold),
        checkpoint_dir,
        trigger_seconds,
    )
