"""The workloads. Each one sets up against a fresh run root, then runs
measured *units* (a block of semcache_rerun requests, a many_jobs burst)
and returns one ``Req`` per request. Output checks run outside the
request timer."""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from perfbench import common
from perfbench.mix import BURST, BURST_IN_FLIGHT, FAMILY
from perfbench.trace import TRACER


@dataclass
class Req:
    kind: str  # query name, pipeline name, or "write:<table>"
    latency: float
    ok: bool = True
    traced: bool = False
    hit: bool | None = None  # semcache_rerun reads only
    error: str = ""
    spark: tuple[int, int, int] | None = None  # jobs, stages, tasks
    extra: dict = field(default_factory=dict)


class Env:
    """The session under test plus the run's directories and seed."""

    def __init__(self, dirs: common.RunDirs, seed: int) -> None:
        self.dirs, self.sf, self.seed = dirs, common.SF, seed
        self.spark = None
        self.jvm_pid: int | None = None
        with open(common.DIGESTS_PATH) as f:
            self.digests = json.load(f)[self.sf]
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self._req = 0

    def start_session(self) -> None:
        """(Re)start the shipped session: ``get_spark(EngineConfig(...))``
        with only the host overrides of ``common.session_overrides``."""
        from eclipse_spark.session import EngineConfig, get_spark, stop_spark

        stop_spark()
        self.spark = get_spark(
            EngineConfig(
                master=f"local[{common.nproc()}]",
                app_name="perfbench",
                confs=common.session_overrides(self.dirs.root),
            )
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.jvm_pid or common.jvm_pid(self.spark)

    def next_req(self) -> int:
        self._req += 1
        return self._req

    # -- spark job accounting (traced requests only) -----------------------
    def begin_group(self, req: int) -> None:
        self.spark.sparkContext.setJobGroup(f"perfbench-{req}", "perfbench request")

    def end_group(self, req: int) -> tuple[int, int, int]:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{req}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return len(jobs), stages, tasks

    def check_query(self, name: str, pdf) -> str:
        """Empty string when the result matches the oracle digest."""
        got = common.digest(pdf)
        want = self.digests[name]
        return "" if got == want else f"{name}: digest {got} != oracle {want}"


class Workload:
    name = ""
    tables: list[str] = common.TABLES
    setup_reps: int  # timed set-ups per run
    # A run measures a fixed number of units, sized so that it takes about
    # --seconds on a 4-core host; every seed then runs the same mix.
    unit_seconds: float

    def __init__(self, env: Env) -> None:
        self.env = env

    def setup(self) -> None:
        """Per set-up, after the session started and the catalog loaded:
        build the workload's serving state (timed as set-up)."""

    def warm(self) -> None:
        """Once, after the last set-up: untimed warm-up of code paths the
        set-up did not touch."""

    def unit(self, traced: bool) -> list[Req]:
        raise NotImplementedError

    def end_metrics(self) -> dict:
        return {}

    def layer_errors(self, layer: dict) -> list[str]:
        """What a traced run must show, given its per-layer metrics; any
        error makes the run incorrect."""
        return []

    def wall(self, unit: list[Req]) -> float:
        """Service time of a unit: one client's requests run back to
        back; output checks are not part of it."""
        return sum(r.latency for r in unit)


def interleave(items: list[str]) -> list[str]:
    """Spread repeated items evenly (smooth weighted round robin), so every
    stretch of a unit sees about the same mix."""
    counts: dict[str, int] = {}
    for x in items:
        counts[x] = counts.get(x, 0) + 1
    total, cur, out = len(items), dict.fromkeys(counts, 0), []
    for _ in range(total):
        for k in counts:
            cur[k] += counts[k]
        k = max(counts, key=cur.__getitem__)
        cur[k] -= total
        out.append(k)
    return out


def rotated(seq: list[str], rng: random.Random) -> list[str]:
    """The sequence started at a seeded offset."""
    k = rng.randrange(len(seq))
    return seq[k:] + seq[:k]


# -- many_jobs ------------------------------------------------------------
def run_query(env: Env, name: str, family: str, sf_dir: str, req: int):
    """Plan (registry function returns its DataFrame) then exec (collect to
    pandas), each under its own span."""
    TRACER.set_request(req)
    with TRACER.span(f"query.{family}.plan") as p:
        df = env.queries[name](env.spark, sf_dir)
    with TRACER.span(f"query.{family}.exec") as e:
        pdf = df.toPandas()
    return pdf, p.seconds, e.seconds


class ManyJobs(Workload):
    """Closed-loop bursts of 16 jobs through ``run_concurrent``, 4 in
    flight: the paper's apps, one query per operator family and small
    relational jobs. A request is one job, timed from the burst's submit."""

    name = "many_jobs"
    # The first timed set-up still compiles word_count at full scale: a
    # median of 5 keeps it out of setup_s.
    setup_reps = 5
    unit_seconds = 10.0  # a burst and its checks take 8-10 s

    def wall(self, unit: list[Req]) -> float:
        return max(r.latency for r in unit)  # a burst ends with its last job

    def layer_errors(self, layer: dict) -> list[str]:
        calls = layer["semcache.calls"][0]
        return [f"many_jobs made {calls:g} semcache calls"] if calls else []

    def setup(self) -> None:
        # the first job, submitted the way a burst is
        from eclipse_spark import session

        env = self.env
        session.run_concurrent(
            env.spark, [lambda: env.queries["word_count"](env.spark, env.dirs.catalog).toPandas()],
            pool_prefix="perfbench",
        )

    def warm(self) -> None:
        self._burst(False)  # compiles every job's plan

    def _burst(self, traced: bool) -> tuple[list[str], list[dict], float]:
        """Run one burst; returns the jobs, what each recorded and the
        submit time."""
        import time

        from eclipse_spark import session

        env = self.env
        # The same order for every seed: with a seeded start the tail moved
        # 40% between seeds with the order alone.
        jobs = BURST
        reqs = [env.next_req() for _ in jobs]
        res: list[dict] = [{} for _ in jobs]

        def thunk(i: int):
            def go():
                q, req = jobs[i], reqs[i]
                r = res[i]
                r["start"] = time.perf_counter()
                if traced:
                    env.begin_group(req)
                try:
                    r["pdf"], r["plan_s"], r["exec_s"] = run_query(env, q, FAMILY[q], env.dirs.catalog, req)
                except Exception as exc:
                    r["error"] = f"{q}: {exc!r}"[:300]
                r["end"] = time.perf_counter()
                if traced:
                    r["spark"] = env.end_group(req)

            return go

        TRACER.enabled = traced
        TRACER.set_request(-1)
        submit = time.perf_counter()
        try:
            session.run_concurrent(
                env.spark, [thunk(i) for i in range(len(jobs))], pool_prefix="perfbench", max_workers=BURST_IN_FLIGHT
            )
        finally:
            TRACER.enabled = False
        env.spark.catalog.clearCache()
        return jobs, res, submit

    def unit(self, traced: bool) -> list[Req]:
        jobs, res, submit = self._burst(traced)
        out = []
        for q, r in zip(jobs, res):
            req = Req(q, r.get("end", submit) - submit, traced=traced, spark=r.get("spark"))
            req.extra = {
                "queue_wait_s": r.get("start", submit) - submit,
                "job_s": r.get("end", submit) - r.get("start", submit),
                "plan_s": r.get("plan_s", 0.0),
                "exec_s": r.get("exec_s", 0.0),
            }
            req.error = r.get("error") or self.env.check_query(q, r["pdf"])
            req.ok = not req.error
            out.append(req)
        return out


# -- semcache_rerun ---------------------------------------------------------
SEMCACHE_TABLES = ["orders", "events", "documents", "nation"]
WRITE_TABLES = ["orders", "events", "nation"]  # one write to each per block
# 1 write in 10 requests; reads are Zipf(1.0) over the pipelines in
# PIPELINE_ORDER. A unit is one block of 30 requests with the same
# interleaved mix for every seed; the seed picks where each block starts.
BLOCK_READS, BLOCK_WRITES = 27, 3
ZIPF_S = 1.0
# The tables each pipeline reads: the stored uncached reference of a result
# is keyed on their current Catalog versions.
PIPE_TABLES = {
    "ev_by_type": ["events"], "orders_by_status": ["orders"], "doc_words": ["documents"],
    "orders_by_day": ["orders"], "nation_by_region": ["nation"], "ev_by_user": ["events"],
    "doc_long_words": ["documents"], "order_prices": ["orders"],
}
# 4 MB: one version of every pipeline and staged prefix takes ~2.6 MB (a
# third of it the 150k-row order_prices), and each block's writes add
# ~2.5 MB of new versions, so the cache runs over budget every block and LRU
# evicts stale and cold entries while the hot head keeps hitting.
CACHE_BUDGET = 16 << 18


def _pipelines():
    """name -> builder(catalog, cache_or_None) -> Pipeline. Three staged
    prefixes are shared across pipelines; results range from 1 row to
    150k rows."""
    from pyspark.sql import functions as F

    from eclipse_spark.pipeline import Pipeline

    def cached(p, cache):
        return p.cached(cache) if cache is not None else p

    def orders_prefix(cat):
        return (
            Pipeline.from_table(cat, "orders", app="o")
            .filter("o_orderpriority = '1-URGENT'")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
            .stage()
        )

    def ev_prefix(cat):
        return (
            Pipeline.from_table(cat, "events", app="ev")
            .filter("value > 0")
            .select("user_id", "event_type", "value")
            .stage()
        )

    def doc_prefix(cat):
        return (
            Pipeline.from_table(cat, "documents", app="doc")
            .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"))
            .stage()
        )

    def money():
        # exact decimal sums: cached and uncached plans add in different
        # orders, and float sums would differ in the last bits
        return F.sum(F.col("value").cast("decimal(18,2)"))

    def total_by(prefix, key, value):
        return lambda cat, c: cached(
            prefix(cat).emit_kv(key=key, value=F.col(value)).reduce_by_key(money()), c
        )

    def count_by(prefix, key):
        return lambda cat, c: cached(prefix(cat).emit_kv(key=key).count_by_key(), c)

    def table(name):
        return lambda cat: Pipeline.from_table(cat, name, app=name)

    return {
        "ev_by_type": total_by(ev_prefix, F.col("event_type"), "value"),
        "orders_by_status": total_by(orders_prefix, F.col("o_orderstatus"), "o_totalprice"),
        "doc_words": lambda cat, c: cached(
            doc_prefix(cat).filter(F.col("word") != "").emit_kv(key=F.col("word")).count_by_key(), c
        ),
        "orders_by_day": total_by(orders_prefix, F.to_date("o_orderdate"), "o_totalprice"),
        "nation_by_region": count_by(table("nation"), F.col("n_regionkey")),
        "ev_by_user": count_by(ev_prefix, F.col("user_id")),
        "doc_long_words": lambda cat, c: cached(
            doc_prefix(cat).filter(F.length("word") > 6).emit_kv(key=F.col("word")).count_by_key(), c
        ),
        "order_prices": lambda cat, c: cached(table("orders")(cat).select("o_orderkey", "o_totalprice"), c),
    }


PIPELINE_ORDER = [
    "ev_by_type", "orders_by_status", "doc_words", "orders_by_day",
    "nation_by_region", "ev_by_user", "doc_long_words", "order_prices",
]


def block_counts(n_pipes: int = len(PIPELINE_ORDER), reads: int = BLOCK_READS, s: float = ZIPF_S) -> list[int]:
    """Zipf(s) read counts per pipeline for one block (largest remainder)."""
    w = [1.0 / (i + 1) ** s for i in range(n_pipes)]
    tot = sum(w)
    exact = [reads * x / tot for x in w]
    counts = [int(x) for x in exact]
    for i in sorted(range(n_pipes), key=lambda i: exact[i] - counts[i], reverse=True)[: reads - sum(counts)]:
        counts[i] += 1
    return counts


def request_sequence(seed: int, n_blocks: int) -> list[str]:
    """The seeded request sequence: pipeline names and ``write:<table>``.
    Each block interleaves the Zipf read counts with the writes and starts
    at a seeded offset; writes rotate over the tables from a seeded one."""
    rng = random.Random(seed)
    base = interleave(
        [p for p, c in zip(PIPELINE_ORDER, block_counts()) for _ in range(c)] + ["write"] * BLOCK_WRITES
    )
    seq: list[str] = []
    w = seed
    for _ in range(n_blocks):
        for kind in rotated(base, rng):
            if kind == "write":
                kind = f"write:{WRITE_TABLES[w % len(WRITE_TABLES)]}"
                w += 1
            seq.append(kind)
    return seq


class SemcacheRerun(Workload):
    """One closed-loop client running ``Pipeline.run()`` through a
    ``SemanticCache`` over a versioned ``Catalog``."""

    name = "semcache_rerun"
    tables = SEMCACHE_TABLES
    # 3 blocks at --seconds 24: the 10 slowest of 90 requests are then
    # well inside the ~18 misses, so req_tail_s is a miss latency on every
    # seed instead of flipping between the slowest hit and the fastest miss.
    unit_seconds = 8.0
    setup_reps = 2  # each set-up fills the cache with 8 cold pipelines

    def __init__(self, env: Env) -> None:
        super().__init__(env)
        self.pipes = _pipelines()
        self.seq = request_sequence(env.seed, 1)
        self.pos = 0
        self.writes = 0
        self.reference: dict[tuple, dict] = {}
        self.base_stats = (0, 0, 0)
        self.full_hits = 0
        self.misses = 0

    def setup(self) -> None:
        from eclipse_spark import Catalog, SemanticCache

        env = self.env
        self.catalog = Catalog(env.spark, env.dirs.catalog)
        self.cache = SemanticCache(env.spark, env.dirs.semcache, budget_bytes=CACHE_BUDGET)
        self.reference = {}
        # Fill the cache with every pipeline; the writes then push it over
        # its budget.
        for name in PIPELINE_ORDER:
            df, _ = self.pipes[name](self.catalog, self.cache).run()
            df.toPandas()
            self.cache.unpin()
        s = self.cache.stats
        self.base_stats = (s.hits, s.misses, s.evictions)

    def _delta(self, table: str):
        """A seeded delta: existing rows picked by key residue (appended
        again), or for ``nation`` a copy that replaces the table with the
        last ``1 + r % 24`` nations (by key) moved to region 0, which
        nation 24 is not in. That changes the per-region counts, and
        consecutive nation writes (``r`` 3 apart) never give the same
        counts."""
        from pyspark.sql import functions as F

        spark = self.env.spark
        src = spark.read.parquet(os.path.join(common.DATA_DIR, self.env.sf, f"{table}.parquet"))
        r = (self.env.seed * 31 + self.writes) % 997
        if table == "nation":
            moved = F.when(F.col("n_nationkey") >= 24 - r % 24, F.lit(0)).otherwise(F.col("n_regionkey"))
            return src.withColumn("n_regionkey", moved.cast(src.schema["n_regionkey"].dataType))
        key = {"orders": "o_orderkey", "events": "event_id", "documents": "doc_id"}[table]
        return src.filter(F.col(key) % 97 == r % 97)

    def unit(self, traced: bool) -> list[Req]:
        block = BLOCK_READS + BLOCK_WRITES
        kinds = [self.seq[(self.pos + i) % len(self.seq)] for i in range(block)]
        self.pos += block
        return [self._request(kind, traced) for kind in kinds]

    def _request(self, kind: str, traced: bool) -> Req:
        import time

        env = self.env
        req = env.next_req()
        TRACER.set_request(req)
        if kind.startswith("write:"):
            table = kind.split(":", 1)[1]
            delta = self._delta(table)
            before = self.catalog.info(table).version
            TRACER.enabled = traced
            if traced:
                env.begin_group(req)
            t0 = time.perf_counter()
            try:
                if table == "nation":
                    self.catalog.put(table, delta)
                else:
                    self.catalog.write(table, delta)
                r = Req(kind, time.perf_counter() - t0, traced=traced)
            except Exception as exc:
                r = Req(kind, 0.0, ok=False, traced=traced, error=f"{kind}: {exc!r}"[:300])
            finally:
                TRACER.enabled = False
            if traced:
                r.spark = env.end_group(req)
            self.writes += 1
            if r.ok and self.catalog.info(table).version != before + 1:
                r.ok, r.error = False, f"{kind}: version did not advance"
            return r

        TRACER.enabled = traced
        if traced:
            env.begin_group(req)
        t0 = time.perf_counter()
        try:
            with TRACER.span("bench.request"):
                p = self.pipes[kind](self.catalog, self.cache)
                t_built = time.perf_counter()
                df, hit = p.run()
                t_ran = time.perf_counter()
                with TRACER.span("pipeline.exec"):
                    pdf = df.toPandas()
            t1 = time.perf_counter()
            r = Req(kind, t1 - t0, traced=traced, hit=hit)
            r.extra = {"build_s": t_built - t0, "run_s": t_ran - t_built, "exec_s": t1 - t_ran}
        except Exception as exc:
            pdf = None
            r = Req(kind, 0.0, ok=False, traced=traced, error=f"{kind}: {exc!r}"[:300])
        finally:
            TRACER.enabled = False
        if traced:
            r.spark = env.end_group(req)
        self.cache.unpin()
        if pdf is not None:
            if r.hit:
                self.full_hits += 1
            else:
                self.misses += 1
            r.error = self._check(kind, pdf)
            r.ok = not r.error
        return r

    def _check(self, kind: str, pdf) -> str:
        """Compare with the same pipeline computed without the cache at the
        current table versions. The reference is memoised per pipeline and
        the versions the Catalog reports for its tables, not per the
        fingerprint the cache looks up, so a fingerprint that misses a
        version bump serves a stale result that fails here."""
        key = (kind, tuple(self.catalog.info(t).version for t in PIPE_TABLES[kind]))
        want = self.reference.get(key)
        if want is None:
            want = common.digest(self.pipes[kind](self.catalog, None).run()[0].toPandas())
            self.reference[key] = want
        got = common.digest(pdf)
        return "" if got == want else f"{kind}: served {got} != uncached {want}"

    def end_metrics(self) -> dict:
        s = self.cache.stats
        hits, misses, evictions = (a - b for a, b in zip((s.hits, s.misses, s.evictions), self.base_stats))
        return {
            "lookup_hits": hits,
            "lookup_misses": misses,
            "evictions": evictions,
            "full_hits": self.full_hits,
            "full_misses": self.misses,
            "interior_hits": hits - self.full_hits,
        }

    def layer_errors(self, layer: dict) -> list[str]:
        errors = []
        ratio = layer["semcache.hit_ratio"][0]
        if not 0 < ratio < 1:
            errors.append(f"semcache.hit_ratio {ratio:g} is not strictly between 0 and 1")
        if not layer["semcache.evictions_per_req"][0] > 0:
            errors.append("the cache evicted nothing")
        return errors


WORKLOADS = {w.name: w for w in (SemcacheRerun, ManyJobs)}
