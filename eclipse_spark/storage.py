"""Storage layer — the Spark-side equivalent of Eclipse's DHT file
commands and output-file protocol.

Reference surface being re-expressed (SURVEY §2.1):

- ``mrput``   (hash-place local files; ``src/bin/mrput``,
  ``src/file_distributor/fd_core.cc:11-54``)          -> :meth:`Catalog.put`
- ``mrcat``   (``src/file_distributor/mrcat_core.cc``) -> :meth:`Catalog.get`
- ``mrls``    (``src/bin/mrls``)                       -> :meth:`Catalog.ls`
- ``mrrm``    (``src/file_distributor/mrrm_core.cc``)  -> :meth:`Catalog.rm`
- ``Owrite`` append-to-placed-file
  (``src/file_distributor/fileserver.hh:1025-1071,3057-3086``)
                                                       -> :meth:`Catalog.write`

Placement (Hsieh hash mod N, ``src/common/hash.cc:5-56``) is NOT
reimplemented: on Spark the filesystem + partitioning owns data
placement. A "file" here is a named parquet table under a root
directory; the unit of parallelism is the parquet row-group/partition,
not the whole file — that alone is the main 100 TB upgrade over the
reference's one-map-task-per-file granularity
(``src/master/dht/master.cc:750-771``).

Commit protocol. Eclipse keys cached results on immutable DHT files
(``fileserver.hh:354-359``), so a cache key can never name changed
data. Here every mutation — put, append, merge, compaction, the
sorted/z-order/bucketed layouts, branch/promote and ``put_many`` —
stages the table's next copy in ``<name>.parquet.tmp`` (appends and
branches start from a hard-link clone of the current copy), writes a
``_commit.json`` record into it (the next version, a fresh random
commit id and the caller's marker), and renames it over the current
copy (:meth:`Catalog._replace_current`). Data and version become
visible in one filesystem operation; a crash before that rename
leaves the old copy with its old record. :meth:`Catalog.info` reads
the record from disk, so every ``Catalog`` object on a root sees
every other's commits. Versions count consecutively per table and
restart after :meth:`Catalog.rm`; the commit id never repeats, so it
is what semantic-cache keys embed (``Pipeline.from_table``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql.functions import array as F_array
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import explode as F_explode
from pyspark.sql.functions import lit as F_lit
from pyspark.sql.functions import struct as F_struct
from pyspark.sql.functions import when as F_when


@dataclass(frozen=True)
class TableInfo:
    name: str
    path: str
    version: int  # from the commit record; without one, newest snapshot + 1, or 0
    mtime: float
    commit: str  # the commit record's unique id; feeds semantic-cache keys


class Catalog:
    """Named-table registry over a filesystem root.

    Table versioning exists so the semantic cache (semcache.py) can key
    cached results on *input snapshot identity*, mirroring how Eclipse
    keys its Icache on immutable DHT files (``fileserver.hh:354-359``).
    The version lives in each table copy's commit record (see the
    module docstring), never in this object.
    """

    _RECORD = "_commit.json"

    def __init__(self, spark: SparkSession, root: str, retain_versions: int = 0):
        """``retain_versions > 0`` turns on time travel: every commit
        RETIRES the current table copy (a directory rename — no data
        copy) instead of deleting it, keeping the newest
        ``retain_versions`` snapshots readable via ``get(name,
        version=...)``. Retired copies live at ``<name>.parquet.v<N>``,
        invisible to :meth:`ls`/:meth:`path_of` (which key on the bare
        ``.parquet`` suffix). This is the poor-parquet's Delta/Iceberg
        snapshot log: rename-cheap, scan-compatible, and enough for
        audit reads and rollback; an append (:meth:`write`) retires the
        pre-append copy like any other commit, sharing its files with
        the new copy through hard links."""
        self.spark = spark
        self.root = root
        self.retain_versions = retain_versions
        # name -> (stamp, DataFrame): the current copy's resolved read,
        # reused until a commit or a directory replace moves the stamp
        self._reads: dict[str, tuple[tuple, DataFrame]] = {}
        os.makedirs(root, exist_ok=True)
        self.recover_pending()  # roll forward any interrupted put_many

    # -- paths ----------------------------------------------------------
    def path_of(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path_of(name))

    def _record(self, name: str) -> dict:
        """The current copy's commit record, or {} when it has none."""
        try:
            with open(os.path.join(self.path_of(name), self._RECORD)) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            return {}
        # a record without a commit id predates commit records: it is
        # the bare marker, and the version lived outside the copy
        return rec if "commit" in rec else {"marker": rec}

    def _stamp(self, name: str) -> tuple | None:
        """(commit id, inode, mtime_ns) of the current copy, or None
        when the table is missing. Every commit renames a new directory
        in with a new commit id; a table without a record (copied in
        from outside) still moves its directory's stat when replaced."""
        try:
            st = os.stat(self.path_of(name))
        except FileNotFoundError:
            return None
        return self._record(name).get("commit", ""), st.st_ino, st.st_mtime_ns

    def _resolve(self, name: str) -> tuple[str, DataFrame]:
        """(commit id, DataFrame) of the current copy, both from one
        stamp; a copy without a commit id is identified by its
        directory's stat instead, so replacing it changes the id too.
        The read is memoised per stamp: a repeat resolve of an
        unchanged table re-runs no file listing or schema-inference job.
        A stamp that moved during the read means a commit landed
        mid-way, so the read is retried rather than paired with the
        wrong commit id."""
        while True:
            stamp = self._stamp(name)
            memo = self._reads.get(name)
            if stamp is None or memo is None or memo[0] != stamp:
                df = self.spark.read.parquet(self.path_of(name))  # raises if missing
                if stamp is None or self._stamp(name) != stamp:
                    continue
                memo = self._reads[name] = (stamp, df)
            commit, ino, mtime_ns = stamp
            return commit or f"dir-{ino}-{mtime_ns}", memo[1]

    def info(self, name: str) -> TableInfo:
        p = self.path_of(name)
        rec = self._record(name)
        if "version" in rec:
            version = int(rec["version"])
        else:  # no version recorded: one past the newest retained snapshot
            version = max(self.history(name), default=-1) + 1
        return TableInfo(
            name=name,
            path=p,
            version=version,
            mtime=os.path.getmtime(p) if os.path.exists(p) else 0.0,
            commit=str(rec.get("commit", "")),
        )

    # -- time travel ----------------------------------------------------
    def _version_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, f"{name}.parquet.v{version}")

    def _retire_current(self, name: str, cur: int) -> None:
        """Rename the current copy (version ``cur``) aside as that
        version's snapshot, then prune snapshots beyond the retention
        budget. No-op when retention is off or the table doesn't exist
        yet."""
        if self.retain_versions <= 0 or not self.exists(name):
            return
        dst = self._version_path(name, cur)
        # dst may already exist as a get_many pin (hard-link clone of
        # this very copy) — the rename REPLACES it with the
        # authoritative retirement; identical file names/contents, so
        # pinned lazy readers keep resolving. Retry once if a pin
        # re-appears inside the rmtree->rename window.
        shutil.rmtree(dst, ignore_errors=True)
        try:
            os.rename(self.path_of(name), dst)
        except OSError:
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(self.path_of(name), dst)
        for v in self.history(name)[: -self.retain_versions]:
            shutil.rmtree(self._version_path(name, v), ignore_errors=True)

    def _clone_dir(self, src: str, dst: str) -> None:
        """Hard-link clone of a table directory (no data copy; falls
        back to copy2 per file when linking fails, e.g. cross-device)."""
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            target = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(target, exist_ok=True)
            for f in files:
                s, d = os.path.join(root, f), os.path.join(target, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def _pin_current(self, name: str) -> int:
        """Materialize the CURRENT copy as its own retained snapshot
        (hard-link clone into ``.v<cur>``, staged + renamed) so a
        reader can hold a version-pinned DataFrame that survives later
        commits — the missing half of snapshot reads (ADVICE r8: a
        live-path read only pins at plan time). No-op when the
        snapshot already exists; the next commit's retirement replaces
        the clone with the authoritative copy (same file names and
        contents — commits replace the current copy wholesale and never
        edit its files, so pinned readers keep resolving). Returns the
        pinned version."""
        cur = self.info(name).version
        dst = self._version_path(name, cur)
        if os.path.exists(dst):
            return cur
        tmp = f"{dst}.pin.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            self._clone_dir(self.path_of(name), tmp)
        except OSError:
            # unwritable root (read-only mount) or cross-device link
            # failure mid-clone: leave no partial tmp behind and let
            # the caller fall back to a live-path read (ADVICE r9)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, dst)
        except OSError:
            # lost a pin/retire race — dst exists now, which is all we need
            shutil.rmtree(tmp, ignore_errors=True)
        return cur

    def history(self, name: str) -> list[int]:
        """Retained snapshot versions for a table, oldest first. The
        CURRENT copy is version ``info(name).version`` and is normally
        not listed — unless a reader pinned it (:meth:`_pin_current`),
        in which case its hard-link snapshot appears here too."""
        prefix = f"{name}.parquet.v"
        out = []
        for f in os.listdir(self.root):
            if f.startswith(prefix):
                try:
                    out.append(int(f[len(prefix):]))
                except ValueError:
                    continue
        return sorted(out)

    def vacuum(self, name: str | None = None, keep: int | None = None) -> int:
        """Prune retained snapshots beyond the newest ``keep`` (default:
        the catalog's ``retain_versions``) for one table or all tables —
        Delta VACUUM's role over the rename-snapshot log. Retention
        already prunes on every write; vacuum is the manual lever for
        reclaiming space after lowering the budget or for tables that
        stopped receiving writes. Returns the number of snapshot
        directories removed."""
        budget = self.retain_versions if keep is None else keep
        names = [name] if name is not None else self.ls()
        removed = 0
        for n in names:
            hist = self.history(n)
            drop = hist[:-budget] if budget > 0 else hist
            for v in drop:
                shutil.rmtree(self._version_path(n, v), ignore_errors=True)
                removed += 1
        return removed

    # -- the one publish path -------------------------------------------
    def _stage(self, name: str, clone: str | None = None) -> str:
        """Empty staging directory for ``name``'s next copy; with
        ``clone``, seeded with a hard-link clone of that table's
        current copy (appends, branch, promote). A copy that an earlier
        crash left retired or parked is restored first (:meth:`recover`),
        so an append clones the last published rows."""
        self.recover(name)
        tmp = self.path_of(name) + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if clone is not None and self.exists(clone):
            self._clone_dir(self.path_of(clone), tmp)
        return tmp

    def _replace_current(
        self, name: str, tmp: str, marker: dict | None = None
    ) -> str:
        """Publish the staged copy ``tmp`` as ``name``'s current copy —
        the one path every mutation takes to disk. Writes the commit
        record (next version, fresh commit id, ``marker``) into ``tmp``,
        then swaps it in. With retention on, the current copy retires
        as a snapshot (``_retire_current``); with retention OFF it is
        parked aside and deleted only after the rename — ``os.rename``
        onto an existing non-empty parquet directory raises ENOTEMPTY,
        and for ``put_many`` that failure would land AFTER the journal
        commit point, making ``recover_pending`` re-raise on every
        ``Catalog.__init__`` until manual cleanup. The park-aside keeps
        every crash window roll-forward-safe: tmp still present ->
        re-apply re-runs this swap; tmp gone but ``.old`` leaked ->
        garbage swept by :meth:`recover_pending`. Restores a crashed
        commit's retired or parked copy first, as :meth:`_stage` does
        (``put_many``'s roll-forward stages nothing), so the next
        version counts from the last one published."""
        self.recover(name)
        cur = self.info(name).version
        rec = os.path.join(tmp, self._RECORD)
        with open(rec + ".w", "w") as fh:
            json.dump(
                {"version": cur + 1, "commit": uuid.uuid4().hex, "marker": marker},
                fh,
            )
        # replace, never rewrite in place: in a hard-link clone the
        # staged record is still the current copy's file
        os.replace(rec + ".w", rec)
        path = self.path_of(name)
        old = path + ".old"
        self._retire_current(name, cur)
        if os.path.exists(path):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return path

    def _append(self, name: str, writer: DataFrameWriter) -> str:
        """Append ``writer``'s rows as new files in a hard-link clone of
        the current copy and publish it; the committed marker carries
        over (an append is not a new batch of an idempotent sink)."""
        tmp = self._stage(name, clone=name)
        writer.parquet(tmp)
        return self._replace_current(name, tmp, self.read_marker(name))

    def compact(
        self,
        name: str,
        target_partitions: int | None = None,
        target_file_mb: int = 128,
    ) -> tuple[int, int]:
        """Small-file compaction (Delta OPTIMIZE's role over the
        rename-snapshot log): rewrite the current copy into
        size-targeted files and publish the rewrite as a :meth:`put`,
        so a crash at any point leaves either the old layout or the new
        one, never a half-compacted table.

        Streaming ingest and high-parallelism writes leave a table as
        hundreds of KB-sized part files; at warehouse scale that means
        task-per-tiny-file scheduling overhead, open/close churn, and
        row groups too small for effective column statistics. Target
        file count = ``target_partitions`` when given explicitly, else
        ceil(current_bytes / target_file_mb); shrinking uses
        ``coalesce`` (narrow — no shuffle, tasks just concatenate
        input splits), so compaction costs one read + one write of the
        table; an explicit grow falls back to ``repartition``. Row
        content and schema are untouched; hive-partitioned tables are
        detected from the directory layout and rewritten with the same
        ``partitionBy`` (each of the ``n_target`` coalesced tasks
        writes one file per partition value it holds, so per-partition
        file counts are capped at ``n_target``).

        Returns (files_before, files_after) part-file counts. The
        version bumps: a compaction is a visible write, so semantic-
        cache keys and ``get(version=)`` snapshots stay coherent.
        """
        path = self.path_of(name)
        if not os.path.exists(path):
            raise FileNotFoundError(f"compact: no such table {name!r}")

        def _parts(p: str) -> list[str]:
            out = []
            for root, _dirs, files in os.walk(p):
                out += [
                    os.path.join(root, f)
                    for f in files
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                ]
            return out

        before = _parts(path)
        total = sum(os.path.getsize(f) for f in before)
        if target_partitions is not None:
            n_target = target_partitions
        else:
            n_target = max(1, -(-total // (target_file_mb << 20)))
        df = self.spark.read.parquet(path)
        # hive partition columns, derived from the READER (ADVICE r8):
        # Spark's partition discovery surfaces key=value directory
        # columns in the table schema but not in any leaf file's
        # footer, so the difference IS the partition spec — a stray
        # key=value-named directory either fails discovery loudly
        # (conflicting layouts) or is a real partition level, never a
        # silently-wrong rewrite the old dirname walk could produce.
        # Column order follows df.columns (Spark appends partition
        # columns in directory-nesting order).
        if before:
            leaf_cols = set(self.spark.read.parquet(before[0]).columns)
            part_cols = [c for c in df.columns if c not in leaf_cols]
        else:
            part_cols = []
        sized = (
            df.repartition(int(n_target))
            if n_target > len(before)
            else df.coalesce(int(n_target))
        )
        # a compaction is a layout rewrite, not a logical write: carry
        # the committed marker so idempotent sinks keyed on it
        # (streaming IVM) don't mistake the rewrite for a replay
        self.put(name, sized, part_cols, marker=self.read_marker(name))
        return len(before), len(_parts(path))

    def branch(self, src: str, dst: str) -> str:
        """Zero-copy table branch (Delta SHALLOW CLONE / Iceberg branch
        in spirit): publish ``src``'s CURRENT copy as a new independent
        table ``dst`` via a hard-link clone — no data bytes move, just
        directory entries. Safe because every mutation path in this
        catalog is copy-on-write at file granularity (every commit
        stages whole new part files, or a hard-link clone plus new
        files, and renames; nothing ever edits a shared file in place),
        so the two tables share immutable files until either side
        writes, then diverge naturally. The experimentation workflow
        this exists for: branch the production table, run a
        cleanup/backfill against the branch, diff, then merge or drop —
        without 2x storage or a long copy. The branch starts its own
        version history (v1 of ``dst``) and carries ``src``'s marker; it
        does NOT inherit src's retained snapshots."""
        if not self.exists(src):
            raise FileNotFoundError(f"branch: no such table {src!r}")
        if self.exists(dst):
            raise ValueError(f"branch: target table {dst!r} already exists")
        tmp = self._stage(dst, clone=src)
        return self._replace_current(dst, tmp, self.read_marker(src))

    def promote(self, branch: str, into: str) -> str:
        """Publish ``branch``'s current copy as the new current version
        of ``into`` — the fast-forward merge-back completing the
        :meth:`branch` workflow (branch → backfill → diff → PROMOTE).
        Hard-link clone staged and published like any commit, so the
        publish is crash-safe and, with retention on, ``into``'s
        previous copy retires as a snapshot (rollback stays one
        :meth:`restore` away). The branch itself is untouched; drop it
        with :meth:`rm` when done."""
        if not self.exists(branch):
            raise FileNotFoundError(f"promote: no such table {branch!r}")
        if not self.exists(into):
            raise FileNotFoundError(f"promote: no such table {into!r}")
        tmp = self._stage(into, clone=branch)
        return self._replace_current(into, tmp, self.read_marker(branch))

    def restore(self, name: str, version: int) -> str:
        """Roll a table back to a retained snapshot: the snapshot data
        becomes the new CURRENT copy under a NEW version number (like
        Delta's RESTORE, the rollback is itself a versioned write, so
        semantic-cache keys can never alias across the rollback)."""
        return self.put(name, self.get(name, version=version))

    # -- the mr* surface ------------------------------------------------
    def put(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        marker: dict | None = None,
    ) -> str:
        """``mrput`` analogue: materialize a DataFrame as a named table
        (overwrite). ``partition_by`` gives hive-style partition pruning
        at scan time — the declarative replacement for DHT placement.

        ``marker``: small JSON committed ATOMICALLY with the data — it
        rides in the staged copy's commit record, so the data, the new
        version and the marker become visible in the same rename
        (underscore-prefixed files are invisible to Spark's input
        discovery). Readers use :meth:`read_marker`; idempotent writers
        (the streaming IVM sink) key replay detection on it."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        # write first, retire + rename after: the source `df` may read
        # from the current copy, and a crash mid-way must not lose the
        # only copy.
        tmp = self._stage(name)
        writer.parquet(tmp)
        return self._replace_current(name, tmp, marker)

    # -- multi-table atomic publish (roll-forward journal) --------------
    def _journal_path(self) -> str:
        return os.path.join(self.root, "_commit_journal.json")

    def put_many(self, tables: dict[str, DataFrame]) -> None:
        """ALL-OR-NOTHING multi-table publish — the warehouse
        "transaction" every ingest batch wants (fact + dims + rollup
        land together or not at all). Protocol (roll-forward):

        1. every DataFrame stages into ``<name>.parquet.tmp`` (no
           visibility change; a crash here leaks only tmps, cleaned by
           the next staging);
        2. a journal listing the staged tables is written atomically —
           the COMMIT POINT: before it, nothing happened; after it, the
           commit is guaranteed to complete;
        3. each staged table is published (:meth:`_replace_current`:
           commit record + rename), and the journal is removed.

        A crash after (2) is completed by :meth:`recover_pending`
        (called from ``__init__``, so the next session rolls the
        commit forward — same direction Delta/Iceberg take: the log
        entry IS the commit, data files follow). This gives crash
        ATOMICITY, not reader isolation: a concurrent reader mid-(3)
        can see table A new and table B old for a moment — the
        single-filesystem-rename limit; :meth:`get_many` and
        version-pinned reads (``get(name, version=...)``) sidestep it."""
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(self._stage(name))
        jtmp = self._journal_path() + f".tmp.{os.getpid()}"
        with open(jtmp, "w") as fh:
            json.dump(sorted(tables), fh)
        os.replace(jtmp, self._journal_path())  # <- commit point
        self._apply_journal(sorted(tables))

    def _apply_journal(self, names: list[str]) -> None:
        for name in names:
            tmp = self.path_of(name) + ".tmp"
            if os.path.exists(tmp):
                self._replace_current(name, tmp)
        try:
            os.remove(self._journal_path())
        except OSError:
            pass

    def recover_pending(self) -> list[str]:
        """Roll forward a journaled multi-table commit interrupted by a
        crash: publish every staged table still outstanding.
        Idempotent (already-published tables are skipped via the tmp
        existence check). Also sweeps ``.parquet.old`` park-aside
        directories leaked by a crash inside :meth:`_replace_current`'s
        last window (current copy already renamed in, old not yet
        deleted — the leftover is garbage by construction once the
        current path exists). Returns the affected table names."""
        for f in os.listdir(self.root):
            if f.endswith(".parquet.old") and os.path.exists(
                os.path.join(self.root, f[: -len(".old")])
            ):
                shutil.rmtree(os.path.join(self.root, f), ignore_errors=True)
        try:
            with open(self._journal_path()) as fh:
                # a list of table names; a journal that maps names to
                # versions iterates to its names too
                staged = sorted(json.load(fh))
        except (OSError, ValueError):
            return []
        self._apply_journal(staged)
        return staged

    def get_many(self, names: list[str]) -> dict[str, DataFrame]:
        """Snapshot-consistent companion to :meth:`put_many`, closing
        its documented mixed-version reader window: a reader that lands
        mid-commit must see the tables all-old or all-new, never a mix.

        Protocol: the journal file IS the commit point, so if it
        exists the commit is already decided — roll it forward
        (:meth:`recover_pending`, idempotent) and read the all-new
        state. Otherwise read every table's commit id from its commit
        record, plan the reads, and re-read the ids + check the
        journal; any movement mid-plan retries (commits are
        rename-cheap, so the race window is microseconds and the retry
        loop converges immediately).

        With retention ON (``retain_versions >= 1``) the returned
        DataFrames are VERSION-PINNED (ADVICE r8): each table's current
        copy is hard-link-cloned into its ``.v<version>`` snapshot path
        (:meth:`_pin_current` — no data copy) and the read targets that
        snapshot, so a commit landing between return and the action
        cannot re-tear the vector — later actions still read the pinned
        versions until :meth:`vacuum`/retention prunes them. With
        retention OFF the reads are live-path and the guarantee is
        plan-time only: the version VECTOR is coherent at return, but a
        reader that executes much later races subsequent commits —
        that's what retention is for.

        SIDE EFFECT (ADVICE r9): pinning WRITES — a retention-on read
        hard-links the current copy into a ``.v<version>`` snapshot
        directory, so :meth:`history` and the catalog's disk layout
        change as a consequence of a pure lookup (the snapshot is the
        pin). On a catalog root the process cannot write (read-only
        mount, cross-device link failure) the pin attempt degrades
        gracefully to the live-path read instead of propagating —
        same rows, plan-time-only guarantee for that table."""
        pin = self.retain_versions >= 1

        def _read(n: str) -> DataFrame:
            if pin and self.exists(n):
                try:
                    return self.get(n, version=self._pin_current(n))
                except OSError:
                    pass  # unwritable root: fall back to live-path read
            return self.get(n)

        def _commits() -> dict[str, str]:
            return {n: self.info(n).commit for n in names}

        for _ in range(10):
            self.recover_pending()  # roll forward any mid-flight commit
            vec = _commits()
            dfs = {n: _read(n) for n in names}
            if not os.path.exists(self._journal_path()) and _commits() == vec:
                return dfs
        raise RuntimeError(
            "get_many: no consistent snapshot after 10 attempts "
            "(a writer is committing continuously)"
        )

    def read_marker(self, name: str) -> dict | None:
        """The marker committed with the current table data by
        ``put(..., marker=...)`` (appends, compaction, branch and
        promote carry it over), or None if absent."""
        return self._record(name).get("marker")

    def recover(self, name: str) -> bool:
        """Crash recovery for the publish window: if a commit died
        after :meth:`_retire_current` parked the current copy as the
        newest ``.v<N>`` snapshot but before the staged data's rename,
        the table path is missing while its data survives in the
        snapshot. Restore the newest snapshot as the current copy
        (rename back — it still holds its own commit record, so the
        version is the pre-crash one). Returns True when a restore
        happened; no-op (False) when the table exists or has no
        snapshots."""
        if self.exists(name):
            return False
        old = self.path_of(name) + ".old"
        if os.path.exists(old):
            # retention-off commit crashed between park-aside and
            # rename-in: the parked copy IS the pre-commit current.
            os.rename(old, self.path_of(name))
            return True
        hist = self.history(name)
        if not hist:
            return False
        os.rename(self._version_path(name, hist[-1]), self.path_of(name))
        return True

    def merge(
        self,
        name: str,
        updates: DataFrame,
        on: list[str],
        delete_matched: bool = False,
    ) -> str:
        """MERGE INTO analogue (copy-on-write upsert): target rows whose
        ``on`` key appears in ``updates`` are replaced by the update row
        (or deleted when ``delete_matched``); unmatched update rows are
        inserted; unmatched target rows survive. The survivor set is a
        key-shuffled LEFT ANTI join — the scale shape — and the rewrite
        is published as a :meth:`put`, which stages before it swaps.

        At 100 TB a transaction-log format (Delta/Iceberg) additionally
        prunes the rewrite to the files whose key ranges overlap the
        update keys; plain parquet has no file-level transaction log, so
        this rewrites the whole table but keeps the same logical plan.
        The reference has no in-place update at all — DHT files are
        immutable, Owrite is append-only (fileserver.hh Owrite path) —
        so this is north-star surface, not parity."""
        target = self.get(name)
        keys = updates.select(*on).distinct()
        survivors = target.join(keys, on=on, how="left_anti")
        out = survivors if delete_matched else survivors.unionByName(updates)
        return self.put(name, out)

    def put_sorted(
        self, name: str, df: DataFrame, sort_by: list[str], partitions: int | None = None
    ) -> str:
        """Sorted layout: repartition-by-range + sortWithinPartitions
        before writing, so parquet row-group min/max statistics become
        selective on ``sort_by`` — range predicates then skip row
        groups at scan time (the declarative cousin of Z-ordering for
        single-key access patterns)."""
        out = df.repartitionByRange(
            *( [partitions] if partitions else [] ), *[F_col(c) for c in sort_by]
        ).sortWithinPartitions(*sort_by)
        return self.put(name, out)
    def put_zorder(
        self,
        name: str,
        df: DataFrame,
        cols: list[str],
        partitions: int = 8,
    ) -> str:
        """Z-order (Morton-curve) layout over two numeric columns:
        scale each to 16 bits against its min/max, interleave the bits
        into a single z-value, then range-partition + sort by it. Every
        file then covers a tight range of BOTH columns, so parquet
        row-group min/max stats prune scans for predicates on either
        column — :meth:`put_sorted` can only do that for its leading
        key. The min/max bounds are a one-row driver aggregate (the
        same stats collection Delta's OPTIMIZE ZORDER does); everything
        else is a codegen projection."""
        if len(cols) != 2:
            raise ValueError("z-order layout takes exactly two columns")
        a_col, b_col = cols
        from pyspark.sql import functions as F

        row = df.agg(
            F.min(a_col).alias("amn"), F.max(a_col).alias("amx"),
            F.min(b_col).alias("bmn"), F.max(b_col).alias("bmx"),
        ).first()

        def scale(c: str, mn, mx):
            span = float(mx - mn) or 1.0
            scaled = ((F.col(c) - F.lit(mn)) * F.lit(65535.0 / span)).cast("long")
            return F.least(F.greatest(scaled, F.lit(0)), F.lit(65535))

        a, b = scale(a_col, row["amn"], row["amx"]), scale(b_col, row["bmn"], row["bmx"])
        z = F.lit(0).cast("long")
        for i in range(16):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        out = (
            df.withColumn("_z", z)
            .repartitionByRange(partitions, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        return self.put(name, out)

    def put_bucketed(
        self,
        name: str,
        df: DataFrame,
        keys: list[str],
        buckets: int = 8,
        sorted_by_key: bool = True,
    ) -> str:
        """Bucketed layout for repeatedly-joined keys (SURVEY §4): two
        tables bucketed on the same keys with the same bucket count
        join/aggregate with NO shuffle on either side — the standing
        replacement for Eclipse's shuffle-free DHT placement of
        intermediate data (``idistributor.hh:85-125``), paid once at
        write time instead of per-query. The bucket spec lives in the
        session catalog, so the table is registered at the staging
        directory and moved to :meth:`path_of` once published."""
        path = self.path_of(name)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        tmp = self._stage(name)
        writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
        if sorted_by_key:
            writer = writer.sortBy(*keys)
        writer.option("path", tmp).saveAsTable(name)
        self._replace_current(name, tmp)
        self.spark.sql(f"ALTER TABLE {name} SET LOCATION '{path}'")
        return path

    def diff(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        on: list[str] | None = None,
    ) -> DataFrame:
        """Change-data-feed between two snapshots of a table (Delta
        CDF's ``table_changes`` analogue over the rename-snapshot log):
        rows inserted, deleted, or updated between ``from_version`` and
        ``to_version`` (default: the CURRENT copy). Requires
        ``retain_versions`` and a key column list ``on``. See
        :func:`table_diff` for semantics and the scale shape."""
        if not on:
            raise ValueError("diff requires the key columns (on=[...])")
        old = self.get(name, version=from_version)
        new = (
            self.get(name)
            if to_version is None or to_version == self.info(name).version
            else self.get(name, version=to_version)
        )
        return table_diff(old, new, on)

    def get_table(self, name: str) -> DataFrame:
        """Read a bucketed (catalog-registered) table; the bucket spec
        rides along so downstream joins can skip the shuffle."""
        return self.spark.table(name)

    def put_text(self, name: str, local_path: str) -> str:
        """``mrput`` for raw text files: one row per line, like
        Eclipse's newline-record model (``src/common/fileclient.hh:362-431``)."""
        df = self.spark.read.text(local_path)
        return self.put(name, df)

    def get(self, name: str, version: int | None = None) -> DataFrame:
        """``mrcat``/``Rread`` analogue: read a named table. With
        ``version`` (and ``retain_versions`` on), read that retained
        snapshot instead — time-travel audit reads.

        Raw-input caching (Eclipse C1/C2): the current copy's read is
        memoised per commit (:meth:`_resolve`), so a repeat ``get`` of
        an unchanged table returns the same DataFrame without listing
        files or inferring the schema again; any commit, from any
        ``Catalog`` on the root, yields a fresh read. Row data is left
        to the page cache, or to ``.persist()`` at the call site."""
        if version is None:
            return self._resolve(name)[1]
        p = self._version_path(name, version)
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"table {name!r} has no retained snapshot v{version}; "
                f"available: {self.history(name)}"
            )
        return self.spark.read.parquet(p)

    def get_evolved(self, name: str) -> DataFrame:
        """Read a table whose appended batches carry DIFFERENT (widened)
        schemas — parquet schema evolution: ``mergeSchema`` unions all
        footers' fields, and rows from files missing a column surface
        NULL there. The plain :meth:`get` deliberately stays on the
        fast path (one footer read determines the schema; at 100 TB a
        full-footer merge over 10^6 files is an expensive planning
        step you opt INTO when the table actually evolved)."""
        return self.spark.read.option("mergeSchema", "true").parquet(
            self.path_of(name)
        )

    def ls(self) -> list[str]:
        """``mrls`` analogue."""
        return sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        )

    def rm(self, name: str) -> bool:
        """``mrrm`` analogue. Removes retained snapshots too. A later
        put restarts the table at version 1 under a new commit id."""
        p = self.path_of(name)
        self._reads.pop(name, None)
        for v in self.history(name):
            shutil.rmtree(self._version_path(name, v), ignore_errors=True)
        if os.path.exists(p):
            shutil.rmtree(p)
            return True
        return False

    def write(self, name: str, df: DataFrame) -> str:
        """``Owrite`` analogue: append records to a named output table
        (Eclipse appends lines to the DHT-placed output file)."""
        return self._append(name, df.write.mode("append"))

    def write_partitioned(
        self, name: str, df: DataFrame, partition_by: list[str]
    ) -> str:
        """``Owrite`` for a hive-PARTITIONED table: append records as
        new files under the existing partition directories (and create
        directories for new partition values) without reading or
        rewriting any row already there — the refresh write the
        incremental index family needs (`similarity.ivf_refresh` appends
        its newly assigned postings). It writes O(batch) data; existing
        files are only hard-linked into the next copy, one link each.
        ``partition_by`` must match the layout the table was :meth:`put` with — a mismatched spec would interleave
        incompatible directory layouts, so it is checked against the
        current on-disk layout and fails loudly."""
        path = self.path_of(name)
        if os.path.exists(path):
            on_disk = sorted(
                e.split("=", 1)[0]
                for e in os.listdir(path)
                if "=" in e and not e.startswith((".", "_"))
            )
            if on_disk and sorted(set(on_disk)) != sorted(partition_by):
                raise ValueError(
                    f"write_partitioned({name!r}): table is partitioned "
                    f"by {sorted(set(on_disk))} on disk but the append "
                    f"specifies {sorted(partition_by)} — mixed layouts "
                    f"would corrupt partition discovery"
                )
        return self._append(
            name, df.write.mode("append").partitionBy(*partition_by)
        )


def table_diff(old: DataFrame, new: DataFrame, on: list[str]) -> DataFrame:
    """Row-level diff of two versions of a keyed table — the engine's
    change-data-feed primitive. Output: the table's columns plus
    ``change_type`` in ``{'insert','delete','update_preimage',
    'update_postimage'}``; unchanged rows emit nothing.

    Scale shape: ONE key-shuffled full-outer join between the two
    snapshots; the change classification and the pre/post fan-out are
    row-local codegen on the joined row (conditional array + explode —
    at most 2 output rows per key, no second pass, no window). Value
    comparison is a null-safe struct equality over the non-key columns,
    so NULL→value and value→NULL edits are real updates and
    NULL==NULL rows are unchanged. At 100 TB, snapshots bucketed on
    the key (``put_bucketed``) make the join shuffle-free."""
    non_key = [c for c in old.columns if c not in on]
    if [c for c in new.columns if c not in on] != non_key:
        raise ValueError("table_diff: snapshots have different schemas")
    o = old.select(
        *[F_col(c).alias(f"_o_{c}") for c in on],
        F_struct(*[F_col(c).alias(c) for c in non_key]).alias("_o_v"),
    )
    n = new.select(
        *[F_col(c).alias(f"_n_{c}") for c in on],
        F_struct(*[F_col(c).alias(c) for c in non_key]).alias("_n_v"),
    )
    cond = None
    for c in on:
        eq = F_col(f"_o_{c}").eqNullSafe(F_col(f"_n_{c}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, on=cond, how="full_outer")
    in_old = F_col(f"_o_{on[0]}").isNotNull()
    in_new = F_col(f"_n_{on[0]}").isNotNull()
    same = F_col("_o_v").eqNullSafe(F_col("_n_v"))

    def _chg(tag: str, side: str):
        return F_struct(
            F_lit(tag).alias("change_type"),
            *[F_col(f"_{side}_{c}").alias(c) for c in on],
            F_col(f"_{side}_v").alias("_v"),
        )

    changes = (
        F_when(in_old & ~in_new, F_array(_chg("delete", "o")))
        .when(~in_old & in_new, F_array(_chg("insert", "n")))
        .when(
            in_old & in_new & ~same,
            F_array(_chg("update_preimage", "o"), _chg("update_postimage", "n")),
        )
        # unchanged rows: the when-chain yields NULL and explode(NULL)
        # emits no row — no filter pass needed
    )
    out = j.select(F_explode(changes).alias("_c")).select(
        "_c.change_type", *[F_col(f"_c.{c}").alias(c) for c in on], "_c._v.*"
    )
    return out


def open_sf_dir(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver-generated parquet table under a testdata dir."""
    out: dict[str, DataFrame] = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            out[f[: -len(".parquet")]] = spark.read.parquet(os.path.join(sf_dir, f))
    return out


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the standard tables (or ``names``) from an sf dir."""
    if names is None:
        return open_sf_dir(spark, sf_dir)
    return {
        n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names
    }
