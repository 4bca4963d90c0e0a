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
- miss -> compute, materialize, register; LRU-evict over budget like
  ``cache.hh:72-94`` (evict unlocked tail until the new entry fits).

Concurrency (N sessions sharing one cache root, like Orthrus' N
per-node caches over one DHT): hits never rewrite the manifest —
recency lives in per-entry TOUCH FILES (``<fp>.touch`` mtime), so the
hot path is one utime, not a whole-manifest rewrite whose
write-and-rename would drop a concurrent session's fresh registration
(round-5 defect). Structural writes (register/evict/invalidate) MERGE
with the on-disk manifest before the atomic rename: another session's
entries survive, resurrection of entries a peer evicted is prevented
by an existence check on the entry's parquet path. Entry byte-sizes
are deterministic per fingerprint, so merge conflicts are benign.

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

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class CacheStats:
    hits: int = 0
    misses: int = 0
    evictions: int = 0


class SemanticCache:
    _MANIFEST = "_semcache_manifest.json"

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
        # entries: fingerprint -> {"bytes": int, "last_access": float}
        self._entries: dict[str, dict] = {}
        # Entries handed out by lookup() this session: their DataFrames
        # are lazy reads over the cache path, so eviction must not rmtree
        # them out from under an unexecuted plan (use-after-evict).
        self._pinned: set[str] = set()
        # fingerprint -> ((st_ino, st_mtime_ns), DataFrame): the entry's
        # read, reused while its directory is the one it was read from
        self._reads: dict[str, tuple[tuple[int, int], DataFrame]] = {}
        self._load_manifest()

    # -- manifest -------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, self._MANIFEST)

    def _read_disk_manifest(self) -> dict[str, dict]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _load_manifest(self) -> None:
        self._entries = self._read_disk_manifest()

    def _save_manifest(self) -> None:
        """Structural write (register / evict / invalidate): MERGE with
        the current on-disk manifest so a concurrent session's
        registrations are never dropped, then write-and-rename so a
        reader never observes a torn file. Our removals win via the
        existence check (an entry whose parquet dir is gone — evicted
        by us or a peer — is not resurrected); our upserts win on
        conflict, which is benign because the only mutable field,
        recency, lives in touch files, not here."""
        self._merge_disk_manifest()
        tmp = self._manifest_path() + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self._entries, f)
        os.replace(tmp, self._manifest_path())

    def _merge_disk_manifest(self) -> None:
        """Fold peers' on-disk entries into ours (the merge half of
        :meth:`_save_manifest`)."""
        disk = self._read_disk_manifest()
        merged = {
            fp: e
            for fp, e in disk.items()
            if fp in self._entries or os.path.exists(self._entry_path(fp))
        }
        merged.update(self._entries)
        self._entries = merged

    def _entry_path(self, fp: str) -> str:
        return os.path.join(self.root, f"{fp}.parquet")

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

    # -- recency: per-entry touch files (no manifest write per hit) -----
    def _touch_path(self, fp: str) -> str:
        return os.path.join(self.root, f"{fp}.touch")

    def _touch(self, fp: str) -> None:
        p = self._touch_path(fp)
        try:
            os.utime(p)
        except OSError:
            with open(p, "a"):
                pass

    def _last_access(self, fp: str) -> float:
        try:
            return os.path.getmtime(self._touch_path(fp))
        except OSError:
            return float(self._entries.get(fp, {}).get("last_access", 0.0))

    @staticmethod
    def _dir_bytes(path: str) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in filenames:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total

    # -- subplan registry (cross-query interior reuse) ------------------
    def _subplans_path(self) -> str:
        return os.path.join(self.root, "_semcache_subplans.json")

    def note_subplan(self, fingerprint: str) -> int:
        """Record one sighting of an interior subplan fingerprint and
        return the total sighting count. The pipeline layer promotes a
        prefix to a materialized cache entry once a SECOND distinct
        cold run contains it — recurring shared stages become cached
        automatically. Persisted with write-and-rename; a lost
        increment under a concurrent-writer race only delays promotion
        by one run (benign)."""
        try:
            with open(self._subplans_path()) as f:
                counts = json.load(f)
        except (OSError, ValueError):
            counts = {}
        counts[fingerprint] = int(counts.get(fingerprint, 0)) + 1
        tmp = self._subplans_path() + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(counts, f)
        os.replace(tmp, self._subplans_path())
        return counts[fingerprint]

    def peek(self, fingerprint: str) -> bool:
        """Entry existence WITHOUT stats/touch/pin side effects — the
        pipeline layer's prefix probe (it may test many prefixes per
        cold run; only the one actually served counts as a hit)."""
        if not os.path.exists(self._entry_path(fingerprint)):
            return False
        if fingerprint not in self._entries:
            self._load_manifest()  # registered by a concurrent session
        return fingerprint in self._entries

    # -- core protocol --------------------------------------------------
    def lookup(self, fingerprint: str) -> DataFrame | None:
        """Icache-hit path: return the materialized result, or None."""
        entry = self._entries.get(fingerprint)
        path = self._entry_path(fingerprint)
        if entry is None and os.path.exists(path):
            # registered by a concurrent session after our last load
            self._load_manifest()
            entry = self._entries.get(fingerprint)
        if entry is None or not os.path.exists(path):
            self._reads.pop(fingerprint, None)
            self.stats.misses += 1
            return None
        self._touch(fingerprint)  # move-to-front (cache.hh:52-60) — one
        self.stats.hits += 1      # utime, NO whole-manifest rewrite
        self._pinned.add(fingerprint)  # see _pinned: lazy reads must survive
        return self._read(fingerprint)

    def materialize(self, fingerprint: str, df: DataFrame) -> DataFrame:
        """Icache-write path: persist the result, register, evict LRU
        entries until under budget, and return the cached read (so the
        caller's downstream plan reads parquet, not the live subtree)."""
        path = self._entry_path(fingerprint)
        df.write.mode("overwrite").parquet(path)
        self._entries[fingerprint] = {
            "bytes": self._dir_bytes(path),
            "last_access": time.time(),
        }
        self._touch(fingerprint)
        self._merge_disk_manifest()  # the LRU scan must see peers' entries
        self._evict(keep=fingerprint)
        self._save_manifest()
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
        total = sum(e["bytes"] for e in self._entries.values())
        if total <= self.budget_bytes:
            return
        # Oldest-access first (touch-file mtime = cross-session
        # recency); the just-written entry and every entry handed out
        # this session are locked, like Eclipse skipping locked entries
        # at the LRU tail (cache.hh:78-86).
        for fp in sorted(self._entries, key=self._last_access):
            if total <= self.budget_bytes:
                break
            if fp == keep or fp in self._pinned:
                continue
            total -= self._entries[fp]["bytes"]
            shutil.rmtree(self._entry_path(fp), ignore_errors=True)
            try:
                os.remove(self._touch_path(fp))
            except OSError:
                pass
            del self._entries[fp]
            self._reads.pop(fp, None)
            self.stats.evictions += 1

    def invalidate(self, fingerprint: str | None = None) -> None:
        targets = [fingerprint] if fingerprint else list(self._entries)
        for fp in targets:
            shutil.rmtree(self._entry_path(fp), ignore_errors=True)
            try:
                os.remove(self._touch_path(fp))
            except OSError:
                pass
            self._entries.pop(fp, None)
            self._reads.pop(fp, None)
            self._pinned.discard(fp)
        self._save_manifest()

    def unpin(self, fingerprint: str | None = None) -> None:
        """Release session pins (all, or one) once the caller has
        executed its plans — makes the entries evictable again."""
        if fingerprint is None:
            self._pinned.clear()
        else:
            self._pinned.discard(fingerprint)
