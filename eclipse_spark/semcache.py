"""Semantic cache — the Orthrus equivalent (SURVEY §2.3, §4).

Eclipse's one genuinely novel runtime feature is a per-node cache of
*intermediate results* keyed ``"<appname>_<inputfile>"``: on a repeat
run, cached map output is replayed into the new job's shuffle and the
client skips the map function entirely (hit path
``src/file_distributor/fileserver.hh:556-585``, client skip
``src/mapreduce/dht/mapreduce.hh:849-884``, LRU eviction
``src/orthrus/cache.hh:45-128``, 1 GB budget
``src/mapreduce/definitions.hh:30``).

Spark reuses shuffle files only within a job; cross-job reuse needs
engine code. This module is that code:

- cache key = op-DAG fingerprint (plans/dag.py) + input commit ids
  — strictly finer than Eclipse's (app, file) key, so an edited
  operator or mutated input can never serve a stale hit (the
  risk-register item in SURVEY §7).
- hit  -> serve the materialized parquet, skip the whole compute
  subtree (the map-skip analogue, but for arbitrary plans). The read
  is memoised per entry directory (fingerprint + the directory's inode
  and mtime), so a repeat hit plans no new read and runs no
  schema-inference job; only its caller's action touches Spark. A
  peer that evicts and rematerialises the entry replaces the
  directory, so the next hit reads the new files.
- miss -> compute, materialize, publish; LRU-evict over budget like
  ``cache.hh:72-94`` (evict unlocked tail until the new entry fits).

Concurrency (N sessions sharing one cache root, like Orthrus' N
per-node caches over one DHT): the root's directory listing is the
cache's only state. An entry is one self-describing directory
``<fp>.parquet`` holding the parquet files and ``_entry.json``
(``{"bytes": N}``), and only a directory with that record is served.
``materialize`` writes into a private ``<fp>.tmp.<uuid>``, adds the
record and publishes with one rename, as ``Catalog._replace_current``
publishes tables, so a peer never reads a half-written entry; if a
peer published the fingerprint first, its entry stays. Recency is the
record's mtime: a hit is one utime on it, which leaves the directory's
stat, and so the memoised read, unchanged. Eviction and invalidation
rename an entry aside before deleting it, so a peer sees the whole
entry or none of it. A directory without a record (a crashed or older
writer's) is never served, but it counts at its walked size and is
evicted like any entry.

At 100 TB the cache directory lives on shared storage (S3/HDFS) so a
hit is a parquet scan — still a win when the cached subtree contains
shuffles or Python UDF stages.

TWO KEY REGIMES — pick deliberately. The never-stale guarantee above
belongs to the *fingerprint* regime: `Pipeline.run()` keys entries by
the op-DAG fingerprint whose scan leaves embed the input's COMMIT ID
(``Pipeline.from_table``, ``PlanNode.fingerprint``; a table copied in
without a commit record is identified by its directory's stat
instead). The catalog publishes a
table's data and its commit record in one rename and never reuses a
commit id — not after ``rm`` + re-put, not across ``Catalog`` objects
or processes on one root, not across a crash — so any commit changes
the key and the next run MISSES: stale results are unreachable by
construction. `get_or_compute` itself, though, caches
under whatever string the caller passes; a caller that passes a stable
NAME (e.g. an app id) opts into the *identity-stable* regime: the key
survives input mutation, hits keep serving the result built against
the old version, and freshness becomes an auditable property instead
of a guarantee — exactly what `lineage_audit` measures by comparing
each entry's built-against version with the table's current one. Name
keys trade the staleness guarantee for cross-version identity (useful
for lineage, A/B pinning, and explicit refresh policies); fingerprint
keys trade identity for safety. Nothing in between is offered.

Cross-query SUBPLAN reuse (beyond Orthrus, which can only reuse whole
(app, input) map outputs): interior op-DAG prefixes get their own
app-agnostic fingerprints; the pipeline layer probes them deepest-first
on a cold run, materializes prefixes marked ``Pipeline.stage()``, and
auto-promotes any prefix sighted by two distinct cold runs
(:meth:`note_subplan`). Two different pipelines sharing a tokenize/
quality prefix compute it once.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class CacheStats:
    hits: int = 0
    misses: int = 0
    evictions: int = 0


class SemanticCache:
    _RECORD = "_entry.json"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        budget_bytes: int = 1 << 30,  # Eclipse's CACHESIZE default: 1 GB
    ):
        self.spark = spark
        self.root = root
        self.budget_bytes = budget_bytes
        self.stats = CacheStats()
        os.makedirs(root, exist_ok=True)
        # Entries handed out by lookup() this session: their DataFrames
        # are lazy reads over the cache path, so eviction must not rmtree
        # them out from under an unexecuted plan (use-after-evict).
        self._pinned: set[str] = set()
        # fingerprint -> ((st_ino, st_mtime_ns), DataFrame): the entry's
        # read, reused while its directory is the one it was read from
        self._reads: dict[str, tuple[tuple[int, int], DataFrame]] = {}

    # -- entry directories ----------------------------------------------
    def _entry_path(self, fp: str) -> str:
        return os.path.join(self.root, f"{fp}.parquet")

    def _record_path(self, fp: str) -> str:
        return os.path.join(self._entry_path(fp), self._RECORD)

    def _read(self, fp: str) -> DataFrame:
        """The entry's DataFrame, memoised per directory stat. The stat
        is taken before the read, so a memoised read is never older than
        its stat: a directory replaced mid-read only costs a re-read."""
        path = self._entry_path(fp)
        st = os.stat(path)
        stamp = (st.st_ino, st.st_mtime_ns)
        memo = self._reads.get(fp)
        if memo is None or memo[0] != stamp:
            memo = self._reads[fp] = (stamp, self.spark.read.parquet(path))
        return memo[1]

    @staticmethod
    def _dir_bytes(path: str) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in filenames:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total

    def _listing(self) -> tuple[list[tuple[float, int, str]], list[tuple[float, str]]]:
        """``(recency, bytes, fingerprint)`` of every ``*.parquet``
        directory in the root, and ``(mtime, path)`` of every ``.seen``
        marker. A published entry reads both from its record; a
        directory without one counts at its walked size and its own
        mtime, so it is still evicted."""
        out, markers = [], []
        for d in os.scandir(self.root):
            if d.name.endswith(".seen"):
                try:
                    markers.append((d.stat().st_mtime, d.path))
                except OSError:  # removed by a peer mid-scan
                    pass
                continue
            if not (d.name.endswith(".parquet") and d.is_dir()):
                continue
            try:
                with open(os.path.join(d.path, self._RECORD)) as fh:
                    size = int(json.load(fh)["bytes"])
                    recency = os.fstat(fh.fileno()).st_mtime
            except (OSError, ValueError, KeyError, TypeError):
                try:
                    size, recency = self._dir_bytes(d.path), d.stat().st_mtime
                except OSError:  # removed by a peer mid-scan
                    continue
            out.append((recency, size, d.name[: -len(".parquet")]))
        return out, markers

    def _remove(self, fp: str) -> bool:
        """Delete an entry directory: rename it aside first, so a peer
        sees the whole entry or none of it. False if it was not there."""
        self._reads.pop(fp, None)
        aside = os.path.join(self.root, f"{fp}.del.{uuid.uuid4().hex}")
        try:
            os.rename(self._entry_path(fp), aside)
        except OSError:
            return False
        shutil.rmtree(aside, ignore_errors=True)
        return True

    # -- subplan sightings (cross-query interior reuse) -----------------
    def note_subplan(self, fingerprint: str) -> int:
        """Record a sighting of an interior subplan fingerprint: 1 on
        its first sighting under this root, 2 on any later one. The
        pipeline layer promotes a prefix to a materialized cache entry
        once a SECOND distinct cold run contains it — recurring shared
        stages become cached automatically. The record is a
        ``<fp>.seen`` marker created with ``O_CREAT|O_EXCL``, so of
        concurrent first sightings exactly one returns 1. Markers age
        out with the entries: see :meth:`_evict`."""
        marker = os.path.join(self.root, f"{fingerprint}.seen")
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            return 2
        return 1

    def peek(self, fingerprint: str) -> bool:
        """Entry existence WITHOUT stats/touch/pin side effects — the
        pipeline layer's prefix probe (it may test many prefixes per
        cold run; only the one actually served counts as a hit)."""
        return os.path.exists(self._record_path(fingerprint))

    # -- core protocol --------------------------------------------------
    def lookup(self, fingerprint: str) -> DataFrame | None:
        """Icache-hit path: return the materialized result, or None."""
        try:
            # move-to-front (cache.hh:52-60): one utime on the record,
            # which fails if no published entry is there
            os.utime(self._record_path(fingerprint))
            df = self._read(fingerprint)
        except OSError:
            self._reads.pop(fingerprint, None)
            self.stats.misses += 1
            return None
        self.stats.hits += 1
        self._pinned.add(fingerprint)  # see _pinned: lazy reads must survive
        return df

    def materialize(self, fingerprint: str, df: DataFrame) -> DataFrame:
        """Icache-write path: write the result into a private staging
        directory with its ``_entry.json`` record, publish it with one
        rename, evict LRU entries until under budget, and return the
        cached read (so the caller's downstream plan reads parquet, not
        the live subtree). If a peer published the fingerprint first,
        its entry is kept and the staged copy dropped; a directory
        without a record at the entry path is an unpublished leftover
        and is removed before the rename."""
        tmp = os.path.join(self.root, f"{fingerprint}.tmp.{uuid.uuid4().hex}")
        df.write.parquet(tmp)
        with open(os.path.join(tmp, self._RECORD), "w") as fh:
            json.dump({"bytes": self._dir_bytes(tmp)}, fh)
        if not self.peek(fingerprint):
            self._remove(fingerprint)
            try:
                os.rename(tmp, self._entry_path(fingerprint))
            except OSError:  # a peer published in between: keep theirs
                pass
        shutil.rmtree(tmp, ignore_errors=True)
        self._evict(keep=fingerprint)
        return self._read(fingerprint)

    def get_or_compute(
        self, fingerprint: str, compute: Callable[[], DataFrame]
    ) -> tuple[DataFrame, bool]:
        """Caches under the caller's literal key string. Pass an op-DAG
        fingerprint (never-stale regime) or a stable name
        (identity-stable, auditable-staleness regime) — see the module
        doc's TWO KEY REGIMES paragraph."""
        hit = self.lookup(fingerprint)
        if hit is not None:
            return hit, True
        return self.materialize(fingerprint, compute()), False

    # -- eviction -------------------------------------------------------
    def _evict(self, keep: str | None = None) -> None:
        entries, markers = self._listing()
        total = sum(size for _, size, _ in entries)
        # Oldest-access first (record mtime = cross-session recency);
        # the just-written entry and every entry handed out this
        # session are locked, like Eclipse skipping locked entries at
        # the LRU tail (cache.hh:78-86).
        kept, evicted = [], False
        for recency, size, fp in sorted(entries):
            if total <= self.budget_bytes or fp == keep or fp in self._pinned:
                kept.append(recency)
                continue
            total -= size
            evicted = True
            if self._remove(fp):
                self.stats.evictions += 1
        # A pass that evicts also drops every sighting older than all
        # the entries it keeps: such a marker has aged past the LRU
        # tail. A pass under budget drops none, so a cold run's
        # sighting survives its own result's publish.
        if evicted and kept:
            oldest = min(kept)
            for mtime, path in markers:
                if mtime < oldest:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(path)

    def invalidate(self, fingerprint: str | None = None) -> None:
        """Drop one entry, or every entry and every sighting marker."""
        if fingerprint:
            targets, markers = [fingerprint], []
        else:
            entries, markers = self._listing()
            targets = [fp for *_, fp in entries]
        for fp in targets:
            self._remove(fp)
            self._pinned.discard(fp)
        for _, path in markers:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)

    def unpin(self, fingerprint: str | None = None) -> None:
        """Release session pins (all, or one) once the caller has
        executed its plans — makes the entries evictable again."""
        if fingerprint is None:
            self._pinned.clear()
        else:
            self._pinned.discard(fingerprint)
