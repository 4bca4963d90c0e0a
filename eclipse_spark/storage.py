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

Layout. Eclipse never edits a DHT file in place (``Owrite`` only
appends) and keys cached results on those immutable files
(``fileserver.hh:354-359``). Here every table ``<name>.parquet`` is a
symlink to its current version directory ``<name>.parquet.v<N>``, and
each version directory holds one immutable copy of the table plus its
``_commit.json`` record: the version, a fresh random commit id and the
caller's marker, and the schema a parquet read of the copy would
infer. A real directory found at ``<name>.parquet`` (copied in from
outside) is adopted under the root lock (see below) as the table's next
version (``v0`` for a new table), with a fresh commit id, no marker and
the schema its read infers: every table a ``Catalog`` finds when it
opens, and later one name at a time, by the first read that meets it or
a commit to it. A version directory that no link names is a claim whose
commit never published; it is never linked, and the next claim of its
version replaces it.

Reads. Every read goes to the version directory the link names (or, for
``get(version=)``, a retained one) and is identified by that
directory's record, so a read and its commit id always belong together.
:func:`read_committed` hands Spark the recorded schema, so it lists
files but runs no schema-inference job, the way Delta and Iceberg read
the schema from their commit metadata. A copy has a recorded schema
unless it is hive-partitioned (``put(partition_by=)``,
``write_partitioned``, an adopted partitioned directory), bucketed
(``put_bucketed``) or an append whose batch's schema differs from its
base's (widened); those reads infer the schema from a footer. A branch
or promote carries its base's schema. A DataFrame a read returned stays
valid until retention prunes its version: with ``retain_versions=0``,
until the next commit to that table, so a caller that reads a table
and then commits to it must finish reading inside the commit's write
(``merge``, ``compact`` and ``restore`` do).

Commit protocol. Every mutation — put, append, merge, compaction, the
sorted/z-order/bucketed layouts, branch/promote, restore and
``put_many`` — takes one path (:meth:`Catalog._commit`). Spark writes
the next copy into a private ``<name>.parquet.tmp.<pid>.<uuid>`` with
no lock held. Then, under ``flock(LOCK_EX)`` on the root directory, the
writer hard-links in the base table's current files (append, branch,
promote), writes the record for version N+1, renames the staging
directory to ``v<N+1>`` (the claim), swaps the link (a symlink under a
temporary name, then ``os.replace``) and prunes versions beyond
``retain_versions``. The swap is the one visibility point: a crash
before it leaves version N current, and the next commit replaces the
unpublished claim. The lock is not re-entrant, so locked sections never
nest. A writer that dies leaves its staging directory behind; the next
commit on the root removes it once the writer's pid is gone
(:func:`sweep_dead_writers`).

Concurrent writers, from any number of ``Catalog`` objects, threads or
processes on one root: the lock orders commits, so versions are
distinct and consecutive. An append never loses rows, because it links
in whatever is current when it publishes, not what was current when it
started. A put and the other rewrites (merge, compaction, the layouts,
restore, promote) are last-writer-wins at the next version.

:meth:`Catalog.info` reads the link and the record from disk, so every
``Catalog`` object on a root sees every other's commits. Versions
restart after :meth:`Catalog.rm`; the commit id never repeats, so it is
what semantic-cache keys embed (``Pipeline.from_table``).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import array as F_array
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import explode as F_explode
from pyspark.sql.functions import lit as F_lit
from pyspark.sql.functions import struct as F_struct
from pyspark.sql.functions import when as F_when
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# a writer's staging name, ``<base>.tmp.<pid>.<uuid>``, or an evicted
# cache entry renamed aside, ``<fp>.del.<uuid>``
_LEFTOVER = re.compile(r"\.tmp\.(\d+)\.[0-9a-f]{32}$|\.del\.[0-9a-f]{32}$")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's live process
        pass
    return True


def staging_path(path: str) -> str:
    """A private name next to ``path`` for this writer; it carries the
    pid so :func:`sweep_dead_writers` can tell a dead writer's."""
    return f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex}"


def sweep_dead_writers(root: str) -> None:
    """Remove what dead writers left in a ``Catalog`` or
    ``SemanticCache`` root: every ``*.tmp.<pid>.<uuid>`` staging
    directory or link whose pid has exited, and every ``*.del.<uuid>``
    directory an eviction renamed aside."""
    for f in os.listdir(root):
        m = _LEFTOVER.search(f)
        if m is None or (m[1] is not None and _pid_alive(int(m[1]))):
            continue
        p = os.path.join(root, f)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            with contextlib.suppress(OSError):
                os.unlink(p)


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def read_schema(df: DataFrame) -> dict:
    """The schema a parquet read infers for what writing ``df`` leaves:
    ``df``'s own, with every field, element and map value nullable, as
    Spark reads every parquet column. JSON form, for a record."""
    return _nullable(df.schema).jsonValue()


def read_committed(spark: SparkSession, path: str, schema: dict | None) -> DataFrame:
    """Read the parquet directory ``path`` given the ``schema`` its
    record holds (:func:`read_schema`): Spark then lists the files but
    runs no schema-inference job. Without one it infers the schema
    from a footer, as a plain read does."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


def _partition_keys(path: str) -> set[str]:
    """The hive partition keys (``key=value`` directories) at the top
    of table directory ``path``."""
    return {
        e.split("=", 1)[0]
        for e in os.listdir(path)
        if "=" in e and not e.startswith((".", "_"))
    }


def _link_tree(src: str, dst: str) -> None:
    """Hard-link every file of table directory ``src`` into ``dst`` (no
    data copy; copy2 where linking fails, e.g. across devices). Files
    ``dst`` already has (its own ``_SUCCESS``) and the commit record
    are left out."""
    for root, _dirs, files in os.walk(src):
        target = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(target, exist_ok=True)
        for f in files:
            d = os.path.join(target, f)
            if f == Catalog._RECORD or os.path.exists(d):
                continue
            try:
                os.link(os.path.join(root, f), d)
            except OSError:
                shutil.copy2(os.path.join(root, f), d)


@dataclass(frozen=True)
class TableInfo:
    name: str
    path: str
    version: int  # the link's, or 0 for a missing table
    mtime: float
    commit: str  # the commit record's unique id; feeds semantic-cache keys


class Catalog:
    """Named-table registry over a filesystem root.

    Table versioning exists so the semantic cache (semcache.py) can key
    cached results on *input snapshot identity*, mirroring how Eclipse
    keys its Icache on immutable DHT files (``fileserver.hh:354-359``).
    The version lives on disk (see the module docstring), never in this
    object.
    """

    _RECORD = "_commit.json"

    def __init__(self, spark: SparkSession, root: str, retain_versions: int = 0):
        """``retain_versions`` turns on time travel: each commit keeps
        that many versions before the current one readable via
        ``get(name, version=...)`` and :meth:`history`, and prunes older
        ones. It sets nothing else — every version is its own
        ``<name>.parquet.v<N>`` directory either way, invisible to
        :meth:`ls`/:meth:`path_of`, and an append shares its unchanged
        files with the previous version through hard links."""
        self.spark = spark
        self.root = root
        self.retain_versions = retain_versions
        self._journal = os.path.join(root, "_commit_journal.json")
        # name -> (commit id, DataFrame): the current version's read,
        # reused until a commit links another version
        self._reads: dict[str, tuple[str, DataFrame]] = {}
        os.makedirs(root, exist_ok=True)
        with self._locked():  # rolls forward, then adopts what it finds
            self._adopt(self.ls())

    # -- paths ----------------------------------------------------------
    def path_of(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path_of(name))

    def _version_path(self, name: str, version: int) -> str:
        return f"{self.path_of(name)}.v{version}"

    def _versions(self, name: str) -> list[int]:
        """Every version directory of ``name``, oldest first."""
        prefix = f"{name}.parquet.v"
        out = []
        for f in os.listdir(self.root):
            if f.startswith(prefix) and f[len(prefix):].isdigit():
                out.append(int(f[len(prefix):]))
        return sorted(out)

    def _target(self, name: str) -> tuple[int | None, str | None]:
        """(version, directory) the link names, or (None, None) when
        there is no link."""
        try:
            target = os.readlink(self.path_of(name))
        except OSError:
            return None, None
        return int(target.rsplit(".v", 1)[1]), os.path.join(self.root, target)

    def _current(self, name: str) -> tuple[int | None, str | None]:
        """:meth:`_target`, after adopting a directory found in place of
        the link (copied in after this ``Catalog`` opened). Never under
        the root lock."""
        if self._target(name)[1] is None and os.path.isdir(self.path_of(name)):
            with self._locked():
                self._adopt([name])
        return self._target(name)

    def _record(self, d: str) -> dict:
        """The commit record in version directory ``d``, or {} when it
        has none (it was pruned)."""
        try:
            with open(os.path.join(d, self._RECORD)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _read(self, d: str) -> DataFrame:
        """Read version directory ``d`` with the schema its commit record
        holds — the one read rule of every table read."""
        return read_committed(self.spark, d, self._record(d).get("schema"))

    def _resolve(self, name: str) -> tuple[str, DataFrame]:
        """(commit id, DataFrame) of the current version, both from the
        version directory the link names, so they belong together. The
        read is memoised per commit id: a repeat resolve of an unchanged
        table re-runs no file listing. A version pruned mid-resolve (the
        link names another by then) is resolved again. A missing table,
        or a link whose directory is gone, raises ``AnalysisException``."""
        d = self._current(name)[1]
        if d is None:  # no such table: Spark's read raises AnalysisException
            self._read(self.path_of(name))
            raise FileNotFoundError(f"{self.path_of(name)} is not a Catalog table")
        rec = self._record(d)
        memo = self._reads.get(name)
        if memo is None or memo[0] != rec.get("commit"):
            try:
                df = read_committed(self.spark, d, rec.get("schema"))
            except AnalysisException:
                if self._target(name)[1] == d:
                    raise  # the link names no directory
                return self._resolve(name)  # pruned mid-resolve
            memo = self._reads[name] = (rec.get("commit"), df)
        return memo

    def info(self, name: str) -> TableInfo:
        version, d = self._current(name)
        return TableInfo(
            name=name,
            path=self.path_of(name),
            version=version or 0,
            mtime=os.path.getmtime(d) if d else 0.0,
            commit=str(self._record(d).get("commit", "")) if d else "",
        )

    # -- time travel ----------------------------------------------------
    def history(self, name: str) -> list[int]:
        """Retained versions before the current one, oldest first."""
        cur = self._target(name)[0]
        return [v for v in self._versions(name) if cur is None or v < cur]

    def _prune(self, name: str, keep: int) -> int:
        """Under the root lock: remove ``name``'s version directories
        except the current one and the ``keep`` before it; unpublished
        claims above the current version go too. Returns the number
        removed."""
        hist = self.history(name)
        kept = {self._target(name)[0], *hist[max(0, len(hist) - keep):]}
        gone = [v for v in self._versions(name) if v not in kept]
        for v in gone:
            shutil.rmtree(self._version_path(name, v), ignore_errors=True)
        return len(gone)

    def vacuum(self, name: str | None = None, keep: int | None = None) -> int:
        """Prune retained snapshots beyond the newest ``keep`` (default:
        the catalog's ``retain_versions``) for one table or all tables —
        Delta VACUUM's role over the version directories. Every commit
        already prunes; vacuum is the manual lever for reclaiming space
        after lowering the budget or for tables that stopped receiving
        writes. Returns the number of version directories removed."""
        budget = self.retain_versions if keep is None else keep
        names = [name] if name is not None else self.ls()
        with self._locked():
            return sum(self._prune(n, budget) for n in names)

    # -- the one commit path ----------------------------------------------
    @contextlib.contextmanager
    def _locked(self, exclusive: bool = True):
        """Hold ``flock`` on the root directory: shared for
        :meth:`get_many`; exclusive for every commit, which first rolls
        forward a ``put_many`` whose writer died after its journal. Not
        re-entrant: a locked section must never take it again."""
        fd = os.open(self.root, os.O_RDONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
            if exclusive:
                self._roll_forward()
            yield
        finally:
            os.close(fd)  # releases the lock

    def _roll_forward(self) -> None:
        """Under the root lock: swap every link a written journal names
        to its journaled version, then remove the journal."""
        for name, version in self._pending().items():
            self._publish(name, version)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._journal)

    def _adopt(self, names: list[str]) -> None:
        """Under the root lock: make each of ``names`` found as a real
        directory at ``<name>.parquet`` (copied in from outside) the
        table's next version, with a fresh commit id and the schema its
        read infers — none when it is hive-partitioned or the read
        fails, so one unreadable directory blocks no other table."""
        for name in names:
            path = self.path_of(name)
            if os.path.islink(path) or not os.path.isdir(path):
                continue
            schema = None
            if not _partition_keys(path):
                # whatever fails here, the table's own reads raise again
                with contextlib.suppress(Exception):
                    schema = read_schema(self.spark.read.parquet(path))
            version = max(self._versions(name), default=-1) + 1
            self._publish(name, self._make_version(name, path, version, None, schema))

    def _pending(self) -> dict[str, int]:
        """``{name: version}`` of a ``put_many`` whose journal is written
        but whose links may not all be swapped yet. A journal cut short
        by its writer's death committed nothing."""
        try:
            with open(self._journal) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return {}

    def _commit(
        self,
        name: str,
        write,
        marker: dict | None = None,
        base: str | None = None,
        schema: dict | None = None,
    ) -> str:
        """The one path every mutation takes to disk. ``write(tmp)``
        fills a private staging directory with no lock held; then, under
        the root lock, :meth:`_claim` makes it the next version and
        :meth:`_publish` swaps the link to it. ``schema`` is the
        :func:`read_schema` of what ``write`` stages, or None when a
        read must infer it."""
        sweep_dead_writers(self.root)
        tmp = staging_path(self.path_of(name))
        try:
            write(tmp)
            with self._locked():
                self._publish(name, self._claim(name, tmp, marker, base, schema))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # gone once claimed
        return self.path_of(name)

    def _claim(
        self,
        name: str,
        tmp: str,
        marker: dict | None = None,
        base: str | None = None,
        schema: dict | None = None,
    ) -> int:
        """Under the root lock: turn the staged ``tmp`` into the
        directory of ``name``'s next version, unpublished until
        :meth:`_publish`, and return that version. With ``base``, ``tmp``
        first gets that table's current files and takes its marker (an
        append is not a new batch of an idempotent sink). The record
        holds ``schema``; with ``base``, only if the base records the
        same one, so a widened append reads as before. A branch or
        promote stages nothing and takes the base's. Either table found
        as a directory copied in is adopted first."""
        self._adopt([name] if base is None else [name, base])
        base_dir = self._target(base)[1] if base is not None else None
        if base_dir is not None:
            base_rec = self._record(base_dir)
            if schema != base_rec.get("schema") and os.listdir(tmp):
                schema = None  # the staged files differ from the base's
            else:
                schema = base_rec.get("schema")
            _link_tree(base_dir, tmp)
            marker = base_rec.get("marker")
        version = (self._target(name)[0] or 0) + 1
        return self._make_version(name, tmp, version, marker, schema)

    def _make_version(
        self, name: str, d: str, version: int, marker: dict | None, schema: dict | None
    ) -> int:
        """Under the root lock: record ``version`` in directory ``d``,
        with a fresh commit id, ``marker`` and ``schema`` (when known),
        and rename ``d`` to that version's directory."""
        rec = {"version": version, "commit": uuid.uuid4().hex, "marker": marker}
        if schema is not None:
            rec["schema"] = schema
        with open(os.path.join(d, self._RECORD), "w") as fh:
            json.dump(rec, fh)
        dst = self._version_path(name, version)
        shutil.rmtree(dst, ignore_errors=True)  # a claim a crash left unpublished
        os.rename(d, dst)
        return version

    def _publish(self, name: str, version: int) -> None:
        """Under the root lock: point ``name``'s link at ``version`` —
        the one visibility point — then prune beyond retention."""
        link = staging_path(self.path_of(name))
        os.symlink(os.path.basename(self._version_path(name, version)), link)
        os.replace(link, self.path_of(name))
        self._prune(name, self.retain_versions)

    def compact(
        self,
        name: str,
        target_partitions: int | None = None,
        target_file_mb: int = 128,
    ) -> tuple[int, int]:
        """Small-file compaction (Delta OPTIMIZE's role over the
        version directories): rewrite the current copy into
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
        d = self._current(name)[1]
        if d is None:
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

        before = _parts(d)
        total = sum(os.path.getsize(f) for f in before)
        if target_partitions is not None:
            n_target = target_partitions
        else:
            n_target = max(1, -(-total // (target_file_mb << 20)))
        df = self._read(d)
        # hive partition columns, derived from the READER (ADVICE r8):
        # Spark's partition discovery surfaces key=value directory
        # columns in the table schema but not in any leaf file's
        # footer, so the difference IS the partition spec — a stray
        # key=value-named directory either fails discovery loudly
        # (conflicting layouts) or is a real partition level, never a
        # silently-wrong rewrite the old dirname walk could produce.
        # Column order follows df.columns (Spark appends partition
        # columns in directory-nesting order). A recorded schema means
        # an unpartitioned copy.
        if before and self._record(d).get("schema") is None:
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
        self.put(name, sized, part_cols, marker=self._record(d).get("marker"))
        return len(before), len(_parts(self.path_of(name)))

    def branch(self, src: str, dst: str) -> str:
        """Zero-copy table branch (Delta SHALLOW CLONE / Iceberg branch
        in spirit): publish ``src``'s CURRENT copy as a new independent
        table ``dst`` by hard-linking its files — no data bytes move,
        just directory entries. Safe because every version directory is
        immutable (every commit stages whole new part files, or hard
        links plus new files, into a directory of its own; nothing ever
        edits a shared file in place), so the two tables share immutable
        files until either side writes, then diverge naturally. The
        experimentation workflow this exists for: branch the production
        table, run a cleanup/backfill against the branch, diff, then
        merge or drop — without 2x storage or a long copy. The branch
        starts its own version history (v1 of ``dst``) and carries
        ``src``'s marker; it does NOT inherit src's retained snapshots."""
        if not self.exists(src):
            raise FileNotFoundError(f"branch: no such table {src!r}")
        if self.exists(dst):
            raise ValueError(f"branch: target table {dst!r} already exists")
        return self._commit(dst, os.makedirs, base=src)

    def promote(self, branch: str, into: str) -> str:
        """Publish ``branch``'s current copy as the new current version
        of ``into`` — the fast-forward merge-back completing the
        :meth:`branch` workflow (branch → backfill → diff → PROMOTE).
        Hard-linked and published like any commit, so with retention
        on, ``into``'s previous version stays readable (rollback stays
        one :meth:`restore` away). The branch itself is untouched; drop
        it with :meth:`rm` when done."""
        if not self.exists(branch):
            raise FileNotFoundError(f"promote: no such table {branch!r}")
        if not self.exists(into):
            raise FileNotFoundError(f"promote: no such table {into!r}")
        return self._commit(into, os.makedirs, base=branch)

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
        rides in the new version's commit record, so the data, the new
        version and the marker become visible in the same link swap
        (underscore-prefixed files are invisible to Spark's input
        discovery). Readers use :meth:`read_marker`; idempotent writers
        (the streaming IVM sink) key replay detection on it. The source
        ``df`` may read the table itself: its version directory stays
        until the new one is published."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        schema = None if partition_by else read_schema(df)
        return self._commit(name, writer.parquet, marker, schema=schema)

    # -- multi-table atomic publish (roll-forward journal) --------------
    def put_many(self, tables: dict[str, DataFrame]) -> None:
        """ALL-OR-NOTHING multi-table publish — the warehouse
        "transaction" every ingest batch wants (fact + dims + rollup
        land together or not at all). Protocol (roll-forward):

        1. every DataFrame is written into its own staging directory,
           with no lock held;
        2. under the root lock, every table claims its next version
           (:meth:`_claim`; nothing visible changes);
        3. the journal ``{name: version}`` is written — the COMMIT
           POINT, once it is complete: before it, nothing happened;
           after it, the commit is guaranteed to complete;
        4. every link is swapped (:meth:`_publish`) and the journal is
           removed.

        A crash after (3) is rolled forward by the next locked section
        of any ``Catalog`` on the root, a new one's constructor included
        (the direction Delta/Iceberg take: the log entry IS the commit,
        data files follow). A crash before (3) leaves unpublished claims
        that the next commit to each table removes. Plain :meth:`get`
        sees each table switch at its own link swap; :meth:`get_many`
        sees all of them switch at once."""
        sweep_dead_writers(self.root)
        staged = {n: staging_path(self.path_of(n)) for n in sorted(tables)}
        try:
            for name, tmp in staged.items():
                tables[name].write.mode("overwrite").parquet(tmp)
            with self._locked():
                claimed = {
                    n: self._claim(n, tmp, schema=read_schema(tables[n]))
                    for n, tmp in staged.items()
                }
                with open(self._journal, "w") as fh:
                    json.dump(claimed, fh)  # <- commit point, once complete
                self._roll_forward()
        finally:
            for tmp in staged.values():
                shutil.rmtree(tmp, ignore_errors=True)

    def get_many(self, names: list[str]) -> dict[str, DataFrame]:
        """Snapshot-consistent companion to :meth:`put_many`: the
        returned DataFrames show every table at one point of the commit
        order, never a mix. It holds the root lock shared, so no commit
        is between its claims and its link swaps; each table's version
        is its link's target, or the journaled one when a ``put_many``
        died after its commit point. Each DataFrame reads that version
        directory, which no later commit writes into, so it keeps
        reading the same version after later commits until retention
        prunes it (with ``retain_versions=0``, at the next commit to
        that table). It needs no retry, and it writes nothing unless a
        directory copied in must be adopted first (:meth:`_current`);
        that happens before it takes the shared lock, because ``flock``
        is per open file, so the exclusive lock taken while holding the
        shared one would wait forever."""
        for n in names:
            self._current(n)
        with self._locked(exclusive=False):
            pending = self._pending()
            return {
                n: self._read(
                    self._version_path(n, pending[n])
                    if n in pending
                    else self._target(n)[1] or self.path_of(n)  # raises if missing
                )
                for n in names
            }

    def read_marker(self, name: str) -> dict | None:
        """The marker committed with the current table data by
        ``put(..., marker=...)`` (appends, compaction, branch and
        promote carry it over), or None if absent."""
        return self._record(self.path_of(name)).get("marker")

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
        writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
        self._commit(
            name, lambda tmp: writer.sortBy(*keys).option("path", tmp).saveAsTable(name)
        )
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
        CDF's ``table_changes`` analogue over the version directories):
        rows inserted, deleted, or updated between ``from_version`` and
        ``to_version`` (default: the CURRENT copy). Requires
        ``retain_versions`` and a key column list ``on``. See
        :func:`table_diff` for semantics and the scale shape."""
        if not on:
            raise ValueError("diff requires the key columns (on=[...])")
        old = self.get(name, version=from_version)
        new = self.get(name, version=to_version)
        return table_diff(old, new, on)

    def get_table(self, name: str) -> DataFrame:
        """Read a bucketed (catalog-registered) table; the bucket spec
        rides along so downstream joins can skip the shuffle."""
        return self.spark.table(name)

    def get(self, name: str, version: int | None = None) -> DataFrame:
        """``mrcat``/``Rread`` analogue: read a named table. With
        ``version``, read that version's directory instead — the
        current one, or a snapshot ``retain_versions`` kept —
        time-travel audit reads.

        Both read a version directory, so the DataFrame keeps reading
        that version after later commits until retention prunes it.
        Raw-input caching (Eclipse C1/C2): the current version's read is
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
        return self._read(p)

    def get_evolved(self, name: str) -> DataFrame:
        """Read a table whose appended batches carry DIFFERENT (widened)
        schemas — parquet schema evolution: ``mergeSchema`` unions all
        footers' fields, and rows from files missing a column surface
        NULL there. The plain :meth:`get` deliberately stays on the
        fast path (one footer read determines the schema; at 100 TB a
        full-footer merge over 10^6 files is an expensive planning
        step you opt INTO when the table actually evolved)."""
        d = self._current(name)[1] or self.path_of(name)  # raises if missing
        return self.spark.read.option("mergeSchema", "true").parquet(d)

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
        with self._locked():
            self._adopt([name])  # a directory copied in since open
            found = os.path.lexists(p)
            # the link goes first: a crash then leaves unlinked versions,
            # which are never published, not a link to a missing one
            if found:
                os.unlink(p)
            for v in self._versions(name):
                shutil.rmtree(self._version_path(name, v), ignore_errors=True)
        return found

    def write(self, name: str, df: DataFrame) -> str:
        """``Owrite`` analogue: append records to a named output table
        (Eclipse appends lines to the DHT-placed output file)."""
        return self._commit(
            name, df.write.mode("append").parquet, base=name, schema=read_schema(df)
        )

    def write_partitioned(
        self, name: str, df: DataFrame, partition_by: list[str]
    ) -> str:
        """``Owrite`` for a hive-PARTITIONED table: append records as
        new files under the existing partition directories (and create
        directories for new partition values) without reading or
        rewriting any row already there — the refresh write the
        incremental index family needs (`similarity.ivf_refresh` appends
        its newly assigned postings). It writes O(batch) data; existing
        files are only hard-linked into the next version, one link each.
        ``partition_by`` must match the layout the table was :meth:`put` with — a mismatched spec would interleave
        incompatible directory layouts, so it is checked against the
        current on-disk layout and fails loudly."""
        path = self.path_of(name)
        if os.path.exists(path):
            on_disk = sorted(_partition_keys(path))
            if on_disk and on_disk != sorted(partition_by):
                raise ValueError(
                    f"write_partitioned({name!r}): table is partitioned "
                    f"by {on_disk} on disk but the append "
                    f"specifies {sorted(partition_by)} — mixed layouts "
                    f"would corrupt partition discovery"
                )
        writer = df.write.mode("append").partitionBy(*partition_by)
        return self._commit(name, writer.parquet, base=name)


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
