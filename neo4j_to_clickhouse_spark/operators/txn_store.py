"""Transaction-logged Parquet tables: the engine's one table-commit
protocol. Every writer commits through it — batch loads
(``sources.snapshot.write_events``), the streaming sinks (events,
quarantine, the latest-state changelog) and the maintenance jobs
(``operators.maintenance``) — and readers resolve a snapshot with
:func:`read_table`.

The reference gets atomic part replacement from MergeTree under a
snapshot (`OPTIMIZE TABLE ... FINAL` swaps parts inside the engine —
`initial-load/scripts/04-optimize-tables.sql:26-48`). The usual cluster
answer is a transactional table format (Delta, Iceberg), but those need
jars this environment cannot fetch — so this module implements the part
of their design the engine needs, following the PUBLIC Delta Lake
transaction-log protocol idea (an ordered log of add/remove file
actions; readers resolve a snapshot, writers commit optimistically):

- ``_txn_log/<version>.json`` files record ``add``/``remove`` actions
  over data files (paths relative to the table root). A version is
  claimed by hard-linking a fully-written temp file onto the version
  name — atomic create-if-absent, so exactly one writer wins each
  version number and a commit file only ever appears complete.
- Readers resolve the file list for a version and read exactly those
  files (``basePath`` keeps ``event_month`` a partition column). Old
  generations stay on disk until :func:`vacuum`, so a reader holding
  version N is never affected by a concurrent swap: NO reader-visible
  gap, NO torn months.
- A table is month-partitioned (``event_month=<m>/`` directories) or
  flat: part-files at the table root belong to month ``""``
  (quarantine, changelog).
- Writers that lose the version race reload the commits they missed: if
  the interfering commits touch disjoint months the swap rebases onto
  the new head and retries; overlapping months raise
  :class:`ConcurrentSwapError` (the caller re-runs its compaction
  against the new snapshot — same contract as Delta's
  ``ConcurrentAppendException``).
- Every ``CHECKPOINT_EVERY``-th commit embeds the full live-file list,
  so snapshot resolution replays O(CHECKPOINT_EVERY) log files, not
  O(history) — the same reason Delta writes ``_last_checkpoint``.

Scale shape: commits are O(files-touched) metadata; retention is a
metadata-only logical delete; the log lives beside the data so it works
on any filesystem with atomic create-if-absent (local disk, HDFS;
object stores need a coordination layer for the create — exactly the
caveat Delta-on-S3 documents). Data files never move after ingest: the
swap is pure log manipulation, so a 100 TB table's maintenance commit
writes kilobytes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_txn_log"
CHECKPOINT_EVERY = 10


class ConcurrentSwapError(RuntimeError):
    """Another writer replaced one of this swap's months first; re-run the
    maintenance job against the new snapshot."""


def _log_dir(table_path: str) -> Path:
    return Path(table_path) / LOG_DIR


def _commit_path(table_path: str, version: int) -> Path:
    return _log_dir(table_path) / f"{version:020d}.json"


def _month_of(rel_path: str) -> str:
    head = rel_path.split("/", 1)[0]
    return head.split("=", 1)[1] if head.startswith("event_month=") else ""


def _list_versions(table_path: str) -> list[int]:
    log = _log_dir(table_path)
    if not log.is_dir():
        return []
    return sorted(
        int(p.stem) for p in log.glob("*.json") if p.stem.isdigit()
    )


def _read_commit(table_path: str, version: int) -> dict:
    return json.loads(_commit_path(table_path, version).read_text())


def _write_commit(table_path: str, version: int, record: dict) -> None:
    """Atomically claim ``version`` WITH its content: the record is
    fsynced to a hidden temp file first, then linked to the version
    name — ``link(2)`` fails with FileExistsError when another writer
    claimed the version, and the commit file only ever appears fully
    written (an O_EXCL-create-then-write would expose a torn JSON to a
    concurrent reader listing the log between the two steps). This
    create-if-absent is the one filesystem primitive the protocol
    rests on; HDFS's atomic create-no-overwrite serves the same role."""
    path = _commit_path(table_path, version)
    tmp = path.with_name(f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(record, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)


def _rename_into_live(src: Path, live_dir: Path, name: str) -> None:
    """Move a staged file into its live month dir, surviving the race
    where a concurrent :func:`vacuum` reaps the month dir it observed
    empty between this writer's ``mkdir`` and the rename: re-create the
    dir and retry (vacuum's removal is an atomic ``rmdir``, so it can
    never take a file this rename already landed).

    The landed file's mtime is refreshed to NOW: rename preserves the
    staging write's mtime, so a long-running job whose staged files
    predate ``vacuum``'s ``min_age_s`` window would otherwise look
    old-and-unreferenced (commit not landed yet) and be reclaimed as
    orphans mid-job. The age guard must measure time since INGEST, not
    since the executor wrote the bytes."""
    dest = live_dir / name
    for _ in range(10):
        try:
            src.rename(dest)
            break
        except FileNotFoundError:
            live_dir.mkdir(parents=True, exist_ok=True)
    else:
        src.rename(dest)
    os.utime(dest)


def _data_dirs(root: Path) -> list[tuple[Path, str]]:
    """(directory, relative prefix) of every place a part-file may live:
    the root itself (month ``""``) and each ``event_month=<m>/`` dir."""
    return [(root, "")] + [
        (d, f"{d.name}/") for d in sorted(root.glob("event_month=*"))
    ]


def _is_data(f: Path) -> bool:
    return f.is_file() and not f.name.startswith(("_", "."))


def _scan_existing_files(table_path: str) -> list[str]:
    return [
        rel + f.name
        for d, rel in _data_dirs(Path(table_path))
        for f in sorted(d.iterdir())
        if _is_data(f)
    ]


def _land(table_path: str, staging_path: str, prefix: str) -> list[str]:
    """Move a staged Spark write's part-files into the table under
    ``<prefix><i>.parquet`` names, each into the month directory it was
    staged under (root-level part-files to the table root), then drop the
    staging dir. Returns the table-relative paths. The landed files stay
    invisible to snapshot readers until a commit adds them; a crash
    before that leaves vacuum-reclaimable orphans."""
    root = Path(table_path)
    adds: list[str] = []
    for src_dir, rel in _data_dirs(Path(staging_path)):
        for f in sorted(src_dir.iterdir()):
            if _is_data(f):
                name = f"{prefix}{len(adds):05d}.parquet"
                _rename_into_live(f, root / rel, name)
                adds.append(rel + name)
    shutil.rmtree(staging_path, ignore_errors=True)
    return adds


def ensure_log(table_path: str) -> int:
    """Bootstrap the log for a plain partitioned Parquet table (version 0
    adds every existing data file); no-op when a log already exists.
    Returns the latest version."""
    versions = _list_versions(table_path)
    if versions:
        return versions[-1]
    _log_dir(table_path).mkdir(parents=True, exist_ok=True)
    files = _scan_existing_files(table_path)
    record = {
        "version": 0,
        "op": "init",
        "months": sorted({_month_of(f) for f in files}),
        "add": files,
        "remove": [],
        "checkpoint": files,
    }
    try:
        _write_commit(table_path, 0, record)
    except FileExistsError:
        pass  # a concurrent bootstrap won; its v0 is just as valid
    return _list_versions(table_path)[-1]


def snapshot(table_path: str, version: int | None = None) -> tuple[int, list[str]]:
    """Resolve (version, live relative file paths). Replays the log from
    the nearest embedded checkpoint at or below the target version.

    Tolerates a concurrent :func:`vacuum` pruning log files between this
    reader's listing and its replay: a vanished commit file re-lists and
    retries — the new oldest retained version always carries a
    checkpoint, so the retry resolves against the pruned log instead of
    crashing mid-replay."""
    last_err: FileNotFoundError | None = None
    for _ in range(20):
        versions = _list_versions(table_path)
        if not versions:
            raise FileNotFoundError(
                f"no transaction log under {table_path}/{LOG_DIR} — call "
                "ensure_log() (or any store operation) first"
            )
        target = versions[-1] if version is None else version
        if target not in versions:
            raise ValueError(
                f"version {target} not in log (have "
                f"{versions[0]}..{versions[-1]}"
                f"; vacuum may have pruned history)"
            )
        try:
            return target, _replay_live(
                table_path, [v for v in versions if v <= target]
            )
        except FileNotFoundError as err:
            last_err = err  # a concurrent vacuum pruned a listed commit
            continue
    raise RuntimeError(
        f"snapshot resolution on {table_path} kept losing the race "
        "against concurrent vacuums"
    ) from last_err


def _replay_live(table_path: str, replay: list[int]) -> list[str]:
    """Walk BACKWARD until a checkpointed commit, loading only the
    commits after it — resolution is O(CHECKPOINT_EVERY) log reads, not
    O(history)."""
    loaded: dict[int, dict] = {}
    start_idx = 0
    base: list[str] = []
    found_checkpoint = False
    for i in range(len(replay) - 1, -1, -1):
        rec = _read_commit(table_path, replay[i])
        loaded[replay[i]] = rec
        if "checkpoint" in rec:
            base = list(rec["checkpoint"])
            start_idx = i + 1
            found_checkpoint = True
            break
    if not found_checkpoint and replay[0] != 0:
        # the replay's base checkpoint was vacuumed away AFTER the
        # version listing but its target commit survives — resolving
        # from an empty base would silently drop files
        raise ValueError(
            f"version {replay[-1]} is no longer resolvable: vacuum "
            "pruned the checkpoint its replay depends on"
        )
    live = dict.fromkeys(base)
    for v in replay[start_idx:]:
        rec = loaded[v]
        for f in rec.get("remove", []):
            live.pop(f, None)
        for f in rec.get("add", []):
            live[f] = None
    return list(live)


def history(table_path: str) -> list[dict]:
    """The commit history, oldest first: (version, op, months) — the
    analogue of ``DESCRIBE HISTORY``. Versions pruned by a concurrent
    vacuum between listing and reading are skipped, not crashed on."""
    out = []
    for v in _list_versions(table_path):
        try:
            rec = _read_commit(table_path, v)
        except FileNotFoundError:
            continue  # pruned by a concurrent vacuum after the listing
        out.append({"version": v, "op": rec["op"], "months": rec["months"]})
    return out


def read_table(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: exactly the files live at ``version`` (default:
    latest). ``basePath`` keeps ``event_month`` as a partition column. A
    plain directory read of a transaction-logged table is WRONG — it
    would double-count superseded generations awaiting vacuum."""
    v, files = snapshot(table_path, version)
    if not files:
        raise ValueError(
            f"{table_path} has no live files at version {v}; there is no "
            "schema to produce an empty DataFrame from"
        )
    root = Path(table_path)
    return spark.read.option("basePath", table_path).parquet(
        *(str(root / f) for f in files)
    )


class TxnLogPartitionStore:
    """The writer side of the commit log above: month swaps for
    ``compact``, retention drops, streaming micro-batches and batch
    loads, each one atomic single-file commit. Readers pinned to a
    snapshot never see a gap, and a crash at ANY point leaves the table
    at the last committed version (orphaned staged files are invisible
    until vacuum reclaims them), so there is nothing to recover.
    Stateless: the maintenance jobs and ``StreamConfig`` take an
    instance only so tests can inject a subclass that races a commit."""

    def read(self, spark: SparkSession, table_path: str) -> DataFrame:
        """The latest snapshot, adopting a plain table first."""
        ensure_log(table_path)
        return read_table(spark, table_path)

    def begin_rewrite(
        self, spark: SparkSession, table_path: str
    ) -> tuple[DataFrame, tuple[int, list[str]]]:
        """Pinned read for a rewrite: the returned base token carries the
        resolved (version, files) so :meth:`replace_months` computes its
        remove-set against exactly what the rewrite read. Without the
        pin, a commit landing between this read and the swap — the
        window holding the WHOLE compaction write — would be silently
        rebased over: its files removed, its rows absent from the staged
        output. With it, the optimistic loop sees that commit as
        interfering and raises :class:`ConcurrentSwapError`."""
        ensure_log(table_path)
        version, files = snapshot(table_path)
        return read_table(spark, table_path, version), (version, files)

    def live_files(self, table_path: str) -> list[str]:
        """Table-relative paths of the latest snapshot's data files."""
        ensure_log(table_path)
        return snapshot(table_path)[1]

    def replace_months(
        self,
        table_path: str,
        staging_path: str,
        months: list[str],
        base: tuple[int, list[str]] | None = None,
    ) -> None:
        """Swap the ``event_month=<m>`` partitions under ``staging_path``
        in for every month in ``months`` as one commit; a month with no
        staged output (fully deduped/compacted away) is removed. ``base``
        is the :meth:`begin_rewrite` pin of the snapshot the staged
        output was computed from."""
        if not months:
            return  # nothing was read by the compaction: no commit to make
        # months must be the str form file paths use: an int 202602 (from
        # a session with partition-type inference left on) would format
        # into the right directory name below but NEVER match
        # _month_of()'s strings in the remove-set — the swap would
        # double-count instead of replacing
        months = [str(m) for m in months]
        ensure_log(table_path)
        if base is not None:
            base_version, base_files = base
        else:
            # no pin: the staged output is trusted to supersede whatever
            # is live RIGHT NOW (a caller that staged data independently
            # of any read, e.g. a backfill). Rewrites derived from a
            # read must come through begin_rewrite.
            base_version, base_files = snapshot(table_path)
        adds = self._ingest_staged(table_path, staging_path, months)
        self._commit_swap(table_path, base_version, base_files, months, adds)

    def drop_months(self, table_path: str, cutoff_month: str) -> list[str]:
        """Logically drop every month strictly older than
        ``cutoff_month`` in one commit (bytes go at :func:`vacuum`);
        return the dropped month names."""
        cutoff_month = str(cutoff_month)  # match _month_of's str form
        ensure_log(table_path)
        while True:
            version, files = snapshot(table_path)
            removes = [f for f in files if _month_of(f) < cutoff_month]
            dropped = sorted({_month_of(f) for f in removes})
            if not removes:
                return []
            try:
                self._commit(
                    table_path,
                    version + 1,
                    op="retention_drop",
                    months=dropped,
                    add=[],
                    remove=removes,
                    live_after=[f for f in files if f not in set(removes)],
                )
                return dropped
            except FileExistsError:
                continue  # recompute against the new head and retry

    def commit_batch(
        self, table_path: str, adds: list[str], batch_tag: str
    ) -> None:
        """Atomically publish one streaming micro-batch: a single commit
        that removes any files of a previous (crashed) attempt of the
        same batch and adds the new generation — readers never see a
        partially-promoted or double-counted batch.

        Unlike a swap, an append can NEVER be invalidated by a racing
        commit: its removes are the batch's own earlier files, and
        removing an already-removed file is a no-op in log replay. So
        the retry loop always rebases, never raises
        :class:`ConcurrentSwapError` — a concurrent compact of the same
        month conservatively loses instead (ITS removes went stale).

        One documented corner survives: if a compact runs BETWEEN a
        batch's crash and its replay, the compacted generation absorbed
        the first attempt's rows under store-chosen file names the
        replay's tag cannot match, so the replayed events exist twice
        until the next ``compact(keep='events')`` — the standard
        exact-duplicate backstop (`streaming/pipeline.py` module
        docstring)."""
        ensure_log(table_path)
        while True:
            version, files = snapshot(table_path)
            removes = [
                f
                for f in files
                if f.rsplit("/", 1)[-1].startswith(batch_tag)
            ]
            if not adds and not removes:
                return
            months = sorted({_month_of(f) for f in [*adds, *removes]})
            live_after = [f for f in files if f not in set(removes)] + adds
            try:
                self._commit(
                    table_path,
                    version + 1,
                    op="stream_batch",
                    months=months,
                    add=adds,
                    remove=removes,
                    live_after=live_after,
                )
                return
            except FileExistsError:
                continue

    def commit_load(self, table_path: str, staging_path: str) -> None:
        """Publish a batch load's staged part-files as one commit. On a
        table with no log yet, :func:`ensure_log` adopts the landed files
        (with any plain part-files already there) as version 0 instead."""
        tag = f"load-{uuid.uuid4().hex[:12]}-"
        adds = _land(table_path, staging_path, tag)
        ensure_log(table_path)
        if not set(adds) <= set(snapshot(table_path)[1]):
            # the tag is unique to this load: the commit's removes can
            # only be landed files a concurrent bootstrap adopted first,
            # and the same commit adds them back
            self.commit_batch(table_path, adds, tag)

    # -- internals ----------------------------------------------------

    def _ingest_staged(
        self, table_path: str, staging_path: str, months: list[str]
    ) -> dict[str, list[str]]:
        """Land staged data files under generation-unique names; return
        {month: [relative paths]} for every month in ``months`` (empty
        when fully compacted/deduped away). The moves happen BEFORE the
        commit, so a crash here orphans files without ever making them
        visible."""
        adds: dict[str, list[str]] = {m: [] for m in months}
        gen = uuid.uuid4().hex[:12]
        for f in _land(table_path, staging_path, f"gen-{gen}-"):
            adds.setdefault(_month_of(f), []).append(f)
        return adds

    def _commit_swap(
        self,
        table_path: str,
        base_version: int,
        base_files: list[str],
        months: list[str],
        adds: dict[str, list[str]],
    ) -> None:
        """Optimistic-commit loop: claim base_version+1; on losing the
        race, rebase over interfering commits iff they touched disjoint
        months, else raise :class:`ConcurrentSwapError`."""
        month_set = set(months)
        version, files = base_version, base_files
        add_list = [f for month in months for f in adds.get(month, [])]
        while True:
            remove = [f for f in files if _month_of(f) in month_set]
            live_after = [f for f in files if _month_of(f) not in month_set]
            live_after += add_list
            try:
                self._commit(
                    table_path,
                    version + 1,
                    op="replace_months",
                    months=sorted(month_set),
                    add=add_list,
                    remove=remove,
                    live_after=live_after,
                )
                return
            except FileExistsError:
                head, head_files = snapshot(table_path)
                for v in range(version + 1, head + 1):
                    try:
                        touched = set(_read_commit(table_path, v)["months"])
                    except FileNotFoundError:
                        # a concurrent vacuum pruned the interfering
                        # commit before we could inspect it — we cannot
                        # prove it was month-disjoint, so fail safe the
                        # same way an overlapping commit does
                        raise ConcurrentSwapError(
                            f"commit {v} landed and was vacuumed while "
                            "this swap was in flight; re-run against "
                            "the new snapshot"
                        ) from None
                    if touched & month_set:
                        # our removes were computed against a superseded
                        # generation of these months -> caller must redo
                        # the compaction on the new snapshot
                        raise ConcurrentSwapError(
                            f"months {sorted(touched & month_set)} were "
                            f"replaced by commit {v} while this swap was "
                            "in flight; re-run against the new snapshot"
                        ) from None
                version, files = head, head_files

    def _commit(
        self,
        table_path: str,
        version: int,
        op: str,
        months: list[str],
        add: list[str],
        remove: list[str],
        live_after: list[str],
    ) -> None:
        record = {
            "version": version,
            "op": op,
            "months": months,
            "add": add,
            "remove": remove,
        }
        if version % CHECKPOINT_EVERY == 0:
            record["checkpoint"] = live_after
        _write_commit(table_path, version, record)


def stage_batch_files(
    table_path: str, staging_path: str, batch_id: int, query_name: str = ""
) -> tuple[list[str], str]:
    """Move a micro-batch's staged month-partitioned part-files into
    their live month directories under batch-tagged, attempt-unique
    names; returns (relative paths, batch_tag) for
    :meth:`TxnLogPartitionStore.commit_batch`. The moved files are
    invisible to snapshot readers until that commit; a crash in between
    leaves only vacuum-reclaimable orphans.

    ``query_name`` namespaces the tag (``batch-<query>~<id>-``): two
    streaming queries share batch-id sequences, so an un-namespaced
    replay of one query's batch N would remove the OTHER query's
    committed files for batch N — silent data loss. The ``~`` separator
    is outside the sanitized-name alphabet, so no tag can be a prefix
    of a different query's tag (a plain ``-`` separator would make the
    un-namespaced tag ``batch-000000007-`` a prefix of a query
    literally named ``000000007``'s files). Leave it empty only when
    exactly one query ever writes the table. Migration corner: a batch
    that CRASHED under the pre-namespacing tag format and is replayed
    after an upgrade will not match its old files and replays as
    duplicates — the standard ``compact(keep='events')`` backstop
    applies, the same as for the compact-between-crash-and-replay
    corner in :meth:`TxnLogPartitionStore.commit_batch`.

    ``ensure_log`` runs BEFORE any rename: on a not-yet-bootstrapped
    table a concurrent bootstrap (e.g. a compaction's ``store.read``)
    would otherwise adopt the half-staged, uncommitted batch into v0.
    Part-files at the staging root (an unpartitioned sink: quarantine,
    changelog) land at the table root."""
    ensure_log(table_path)
    query = "".join(c for c in query_name if c.isalnum() or c in "_-")
    tag = f"batch-{query + '~' if query else ''}{batch_id:09d}-"
    gen = uuid.uuid4().hex[:12]
    return _land(table_path, staging_path, f"{tag}gen-{gen}-"), tag


def vacuum(
    table_path: str,
    retain_versions: int = 1,
    min_age_s: float = 3600.0,
    log_min_age_s: float | None = None,
) -> list[str]:
    """Physically delete data files referenced by NONE of the newest
    ``retain_versions`` snapshots — superseded generations, logically
    dropped months, and crash-orphaned staged files — then prune log
    entries older than the oldest retained version (after ensuring it
    carries a checkpoint, so retained snapshots stay resolvable).
    Returns the deleted relative paths. Time travel beyond the retained
    window is gone after vacuum, exactly like ``VACUUM`` on Delta.

    ``min_age_s`` guards the one race a reference-counting vacuum
    cannot see: a concurrent writer's just-ingested files are
    unreferenced until its commit lands, so an unguarded vacuum would
    eat an in-flight swap. Files younger than the threshold are never
    deleted — the same reason Delta's VACUUM refuses to delete below a
    retention age. Pass 0 only when no writer can be active.

    ``log_min_age_s`` (default: same as ``min_age_s``) applies the same
    age guard to LOG-file pruning: a concurrent reader that listed the
    log before this vacuum may still be replaying those commits, and a
    losing writer's rebase may still be inspecting them — young log
    files stay. Readers additionally re-list and retry on a vanished
    commit (see :func:`snapshot`), so the guard and the retry cover
    each other."""
    import time

    if log_min_age_s is None:
        log_min_age_s = min_age_s
    # a CONCURRENT vacuum (scheduled cycle + manual run) may prune one
    # of this vacuum's retained versions between the listing and its
    # snapshot resolution — recompute against the new head; if the log
    # churns continuously, give up quietly (vacuum is idempotent
    # best-effort; the concurrent one is doing the work)
    for _ in range(20):
        versions = _list_versions(table_path)
        if not versions:
            return []
        retained = versions[-max(1, retain_versions):]
        keep: set[str] = set()
        try:
            for v in retained:
                keep.update(snapshot(table_path, v)[1])
        except ValueError:
            continue
        break
    else:
        return []
    root = Path(table_path)
    now = time.time()
    age_cutoff = now - min_age_s
    deleted = []
    # every per-file step below tolerates FileNotFoundError: two vacuums
    # may run concurrently (e.g. a scheduled maintenance_cycle and a
    # manual one) and either may reclaim a file between the other's
    # listing and its stat/unlink — losing that race is success
    for data_dir, rel in _data_dirs(root):
        try:
            entries = sorted(data_dir.iterdir())
        except FileNotFoundError:
            continue  # the other vacuum reaped the whole dir
        for f in entries:
            path = rel + f.name
            try:
                if (
                    _is_data(f)
                    and path not in keep
                    and f.stat().st_mtime <= age_cutoff
                ):
                    f.unlink()
                    # Hadoop's local ChecksumFileSystem writes a .crc
                    # sidecar per data file; reclaim it with its file
                    (data_dir / f".{f.name}.crc").unlink(missing_ok=True)
                    deleted.append(path)
            except FileNotFoundError:
                continue
        if data_dir == root:
            continue  # the table root itself is never reaped
        # reap a month dir holding no DATA files (sidecars/markers were
        # reclaimed above), past the age guard, via os.rmdir — NOT
        # rmtree: rmdir is atomic against non-emptiness, so a writer's
        # rename landing between this check and the removal makes the
        # rmdir fail (ENOTEMPTY) instead of deleting the fresh file a
        # check-then-rmtree would (TOCTOU). Writers additionally
        # re-mkdir and retry (see _rename_into_live).
        try:
            if (
                not any(data_dir.iterdir())
                and data_dir.stat().st_mtime <= age_cutoff
            ):
                data_dir.rmdir()
        except OSError:
            continue  # not empty after all, or the other vacuum got it
    oldest = retained[0]
    try:
        rec = _read_commit(table_path, oldest)
        if "checkpoint" not in rec:
            rec["checkpoint"] = snapshot(table_path, oldest)[1]
            # the rewrite is derived purely from commits about to be
            # pruned; os.replace keeps it atomic for concurrent readers
            target = _commit_path(table_path, oldest)
            tmp = target.with_name(f".tmp-{uuid.uuid4().hex}.json")
            tmp.write_text(json.dumps(rec))
            os.replace(tmp, target)
    except (FileNotFoundError, ValueError):
        # a concurrent vacuum retained a NEWER oldest version and pruned
        # this one; its own checkpoint rewrite covers resolvability
        pass
    log_cutoff = now - log_min_age_s
    for v in versions:
        if v < oldest:
            path = _commit_path(table_path, v)
            try:
                if path.stat().st_mtime <= log_cutoff:
                    path.unlink()
            except FileNotFoundError:
                pass  # a concurrent vacuum already pruned it
    return deleted
